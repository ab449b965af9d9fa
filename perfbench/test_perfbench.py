"""Self-tests of the benchmark: every metric is printed with its unit, a
raising operation is reported as failed, and the output checks catch a
corrupted database and a short lookup result.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_smoke_prints_every_metric(workload, trace):
    done = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    named = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in named} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, metric in result["metrics"].items():
        assert isinstance(metric["value"], (int, float)), name


def test_bare_directory_fails_without_result(tmp_path):
    bare = tmp_path / "bare"
    (bare / "perfbench").mkdir(parents=True)
    for f in glob.glob(os.path.join(HERE, "*.py")):
        (bare / "perfbench" / os.path.basename(f)).write_bytes(open(f, "rb").read())
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gf_lookup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode != 0
    assert done.stdout == ""


def test_raising_op_is_reported():
    """Every operation raises: the run still prints its result, with each
    attempt counted as failed."""
    script = (
        "import sys; sys.path[:0] = ['perfbench', '.']\n"
        "import workloads, run\n"
        "def op(self, i, clock): raise RuntimeError('injected')\n"
        "workloads.SeisBuild.op = op\n"
        "sys.exit(run.main(['--workload', 'seis_build', '--seed', '5', '--seconds', '1',"
        " '--trace', '0']))\n"
    )
    done = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                          text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert not result["correct"]
    assert result["attempted"] >= 1 and result["failed"] == result["attempted"]
    assert result["metrics"]["storage_ratio"]["value"] is None
    assert "injected" in done.stderr


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.prepare_environment(str(tmp_path_factory.mktemp("work")))
    from seisdb_spark.session import get_spark

    session = get_spark(app_name="perfbench-selftest")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    run.stop_spark(session)


def _sgt_db(spark, root, seed):
    import workloads as wl

    meta = wl.make_fixture(str(root / "fixture"), seed)
    db = str(root / "sgt")
    wl.build(spark, meta, "SGT", db)
    return meta, db, wl.golden_db(meta, "SGT")


def test_flipped_blob_byte_is_caught(spark, tmp_path):
    import workloads as wl

    _, db, gold = _sgt_db(spark, tmp_path, seed=3)
    assert wl.check_db(db, wl.STATIONS[0], gold) == []
    parts = sorted(glob.glob(os.path.join(db, "records", "*", "*", "*.parquet")))
    part = next(p for p in parts if pq.read_metadata(p).num_rows)
    table = pq.read_table(part)
    blobs = table.column("blob").to_pylist()
    blobs[0] = bytes([blobs[0][0] ^ 0x01]) + blobs[0][1:]
    i = table.schema.get_field_index("blob")
    pq.write_table(table.set_column(i, table.schema.field(i), [blobs]), part)
    errors = wl.check_db(db, wl.STATIONS[0], gold)
    assert any("blob" in e for e in errors), errors


def test_dropped_decoded_row_is_caught(spark, tmp_path):
    import workloads as wl
    from seisdb_spark.sources import specfem

    meta, db, gold = _sgt_db(spark, tmp_path, seed=4)
    ibool = specfem.read_ibool(spark, wl.model_glob(meta), meta["nspec"])
    key = (wl.STATIONS[0], 1, 2)
    ids, got = wl.lookup(spark, ibool, db, key)
    want = wl.golden_element_ids(meta, 1, 2)
    assert wl.check_lookup(key, ids, got, want, gold) == []
    errors = wl.check_lookup(key, ids, got.drop(index=got.index[17]), want, gold)
    assert errors, "a dropped decoded row went unnoticed"
