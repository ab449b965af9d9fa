"""The two benchmark workloads and the checks that judge their outputs.

``seis_build`` is the paper's write path: one operation builds the SGT
database and then the DGF database from a SPECFEM snapshot fixture into a
fresh directory (``sgt_build``/``dgf_build`` + ``write_db``).

``gf_lookup`` is the paper's read path: one operation resolves a seeded
(station, proc, element) to its 27 global point ids (``element_gll_ids`` over
``read_ibool``), fetches those records from a three-station database
(``read_db`` + partition/predicate filter), decodes them (``decode_records``)
and collects the series.

Set-up is done ``setup_reps`` times per run: ``prepare(spark, rep)``
generates the inputs and, for ``gf_lookup``, builds one station of the
database.

Every output is checked outside the timed region against the numpy
re-expression of the reference algorithm in ``tests/golden_numpy.py``: the
database records must be bit-identical, and a lookup must return the golden
element id order and exactly the values a numpy decode of the golden codes
gives.  The checks return a list of mismatch descriptions; an empty list
means the output is correct.
"""

from __future__ import annotations

import glob
import os
import statistics

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seisdb_spark.pipeline import (
    append_to_db,
    decode_records,
    dgf_build,
    element_gll_ids,
    generate_fixture,
    read_db,
    sgt_build,
    write_db,
)
from seisdb_spark.schemas import INDEX27
from seisdb_spark.sources import specfem
from tests import golden_numpy as golden

NETWORK = "XX"
#: the gf_lookup database: one station per set-up, each from its own fixture
#: (the same mesh, other snapshot values)
STATIONS = ("STA", "STB", "STC")
#: 2 procs x 3 elements x 8 strided steps (step 30 only in the N dir, so 7
#: valid): 3 KB of ibool + 401 KB of strain + 172 KB of displacement
#: snapshots in 90 files, 126 points per build.  Build time at this size is
#: almost all per-file, per-job and per-task overhead, the cost the paper's
#: pipeline pays per snapshot file; a larger fixture does not fit the time a
#: run may take on a 4-core machine.
FIXTURE_SHAPE = dict(nprocs=2, nspec=3, step0=0, step1=80, dstep=10)
N_FORCE = 3
N_PARA = {"SGT": 6, "DGF": 3}
SNAPSHOT_NAME = {"SGT": "strain_field", "DGF": "disp"}
MAX_CODE = 255  # 8-bit encoding, the pipeline's default level


def make_fixture(root: str, seed: int) -> dict:
    return generate_fixture(root, seed=seed, **FIXTURE_SHAPE)


def station_seed(seed: int, station: int) -> int:
    """The fixture seed of one gf_lookup station."""
    return int(np.random.SeedSequence([seed, station]).generate_state(1)[0])


def model_glob(meta: dict) -> str:
    return os.path.join(meta["model_dir"], "proc*_ibool.bin")


def input_bytes(meta: dict, kinds: tuple[str, ...]) -> int:
    """Bytes of the ibool files plus every snapshot file of ``kinds``."""
    paths = glob.glob(model_glob(meta))
    for kind in kinds:
        for d in meta["force_dirs"]:
            paths += glob.glob(os.path.join(d, f"proc*_{SNAPSHOT_NAME[kind]}_Step_*.bin"))
    return sum(os.path.getsize(p) for p in paths)


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path`` (records + db_meta)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def compose(spark: SparkSession, meta: dict, kind: str,
            station: str = STATIONS[0]) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The program's create_db plan of ``kind``: (records, db_meta, steps)."""
    fn = sgt_build if kind == "SGT" else dgf_build
    return fn(
        spark, model_glob(meta), meta["force_dirs"], meta["nspec"],
        meta["step0"], meta["step1"], meta["dstep"],
        network=NETWORK, station=station,
    )


def build(spark: SparkSession, meta: dict, kind: str, path: str,
          station: str = STATIONS[0], append: bool = False) -> None:
    """One create_db of ``kind`` into ``path`` under ``station``; with
    ``append`` the station is added to an existing database."""
    records, db_meta, _ = compose(spark, meta, kind, station)
    (append_to_db if append else write_db)(records, db_meta, path, NETWORK, station)


def golden_db(meta: dict, kind: str) -> dict[int, dict]:
    """Per proc, the golden records of one build (tests/golden_numpy.py)."""
    fn = golden.golden_sgt if kind == "SGT" else golden.golden_dgf
    return {
        proc: fn(meta["model_dir"], meta["force_dirs"], proc, meta["nspec"],
                 meta["step0"], meta["step1"], meta["dstep"])
        for proc in range(meta["nprocs"])
    }


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def check_db(path: str, station: str, gold: dict[int, dict]) -> list[str]:
    """Records read back from disk must be bit-identical to the golden build
    for every proc: point order, offset, scale, length, start and blob."""
    try:
        table = pq.read_table(os.path.join(path, "records"))
    except (OSError, ValueError) as e:  # unreadable or missing output
        return [f"{path}: records unreadable: {e}"]
    df = table.to_pandas()
    df = df[df["station"].astype(str) == station]
    errors = []
    for proc, g in gold.items():
        got = df[df["proc"] == proc].sort_values("gll_id")
        where = f"{path} proc {proc}"
        if got["gll_id"].tolist() != [int(x) for x in g["names"]]:
            errors.append(f"{where}: point ids differ from the golden dedup order")
            continue
        for col in ("offset", "scale", "length", "start"):
            if got[col].tolist() != list(g[col]):
                errors.append(f"{where}: column {col} differs")
        if got["n_values"].tolist() != [c.size for c in g["codes"]]:
            errors.append(f"{where}: column n_values differs")
        bad = [i for i, (a, b) in enumerate(zip(got["blob"], g["blob"])) if bytes(a) != b]
        if bad:
            errors.append(f"{where}: {len(bad)} blob(s) differ, first at row {bad[0]}")
    extra = set(df["proc"].unique()) - set(gold)
    if extra:
        errors.append(f"{path}: records for unexpected procs {sorted(extra)}")
    return errors


def golden_element_ids(meta: dict, proc: int, i_spec: int) -> list[int]:
    """The reference's 27-point emission order for one element: the INDEX27
    cells reshaped (z, y, x) and emitted x-outer / z-inner."""
    ib = golden.load_ibool(
        os.path.join(meta["model_dir"], f"proc{proc:06d}_ibool.bin"), meta["nspec"]
    )
    arr = ib[i_spec][list(INDEX27)].reshape(3, 3, 3)
    return [int(arr[k, j, i]) for i in range(3) for j in range(3) for k in range(3)]


def check_lookup(key: tuple[str, int, int], ids: list[int], got: pd.DataFrame,
                 want_ids: list[int], gold: dict[int, dict]) -> list[str]:
    """A lookup must return the golden element id order, and for each of those
    points exactly ``codes / 255 * scale + offset`` of the golden codes, in
    [force][para][step] order, with nothing missing or extra."""
    where = f"lookup {key}"
    if list(ids) != want_ids:
        return [f"{where}: element ids {list(ids)} != golden {want_ids}"]
    station, proc, _ = key
    g = gold[proc]
    position = {int(n): i for i, n in enumerate(g["names"])}
    errors = []
    if set(got["proc"].unique()) - {proc}:
        errors.append(f"{where}: rows from another proc")
    got = got.sort_values(["gll_id", "force", "para", "step_idx"], kind="mergesort")
    n_expected = 0
    for gid in sorted(set(want_ids)):
        i = position[gid]
        want = g["codes"][i].astype(np.float64) / MAX_CODE * g["scale"][i] + g["offset"][i]
        n_expected += want.size
        vals = got.loc[got["gll_id"] == gid, "value"].to_numpy()
        if vals.shape != want.shape or not np.array_equal(vals, want):
            errors.append(f"{where}: point {gid} values differ ({vals.size} vs {want.size})")
    if len(got) != n_expected:
        errors.append(f"{where}: {len(got)} decoded rows, expected {n_expected}")
    return errors


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------
def element_ids(ibool: DataFrame, proc: int, i_spec: int) -> list[int]:
    rows = (
        element_gll_ids(ibool, 27)
        .filter((F.col("proc") == proc) & (F.col("i_spec") == i_spec))
        .collect()
    )
    return list(rows[0]["gll_ids"]) if rows else []


def fetch(spark: SparkSession, db: str, station: str, proc: int, ids: list[int]) -> DataFrame:
    records, _ = read_db(spark, db)
    return records.filter(
        (F.col("network") == NETWORK)
        & (F.col("station") == station)
        & (F.col("proc") == proc)
        & F.col("gll_id").isin(ids)
    )


def lookup(spark: SparkSession, ibool: DataFrame, db: str,
           key: tuple[str, int, int]) -> tuple[list[int], pd.DataFrame]:
    """One point lookup: resolve, fetch, decode, collect."""
    station, proc, i_spec = key
    ids = element_ids(ibool, proc, i_spec)
    got = decode_records(fetch(spark, db, station, proc, ids), N_FORCE, N_PARA["SGT"]).toPandas()
    return ids, got


def lookup_keys(seed: int, meta: dict, stations: tuple[str, ...] = STATIONS):
    """Endless seeded stream of (station, proc, element) keys."""
    rng = np.random.default_rng([seed, 2])
    while True:
        yield (
            stations[int(rng.integers(len(stations)))],
            int(rng.integers(meta["nprocs"])),
            int(rng.integers(meta["nspec"])),
        )


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class SeisBuild:
    """Closed loop, one client: each operation builds SGT then DGF into a
    fresh directory, starting with the session's first build.  Outputs are
    kept and checked after the timed region."""

    name = "seis_build"
    #: one set-up, the session and the fixture: another JVM launch would
    #: cost ~12 s, and a session restart inside one JVM (~0.5 s) follows the
    #: load of a shared machine more than a launch does
    setup_reps = 1
    #: none: a create_db is a batch job that pays JIT and code generation in
    #: its fresh session every time, so the first build is the one timed
    warmup_ops = 0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.kind_seconds: dict[str, list[float]] = {"SGT": [], "DGF": []}
        self._gold: dict[str, dict] | None = None

    def prepare(self, spark: SparkSession, rep: int) -> None:
        self.spark = spark
        self.meta = make_fixture(os.path.join(self.work, "fixture"), self.seed)

    def op(self, i: int, clock) -> str:
        out = os.path.join(self.work, f"op{i}")
        for kind in ("SGT", "DGF"):
            t0 = clock()
            build(self.spark, self.meta, kind, os.path.join(out, kind))
            self.kind_seconds[kind].append(clock() - t0)
        return out

    def detail(self) -> dict[str, float]:
        """Median seconds per create_db of each kind in the timed loop."""
        return {
            f"{kind.lower()}_build_s": statistics.median(times[self.warmup_ops:])
            for kind, times in self.kind_seconds.items()
            if times[self.warmup_ops:]
        }

    def gold(self, kind: str) -> dict[int, dict]:
        if self._gold is None:
            self._gold = {k: golden_db(self.meta, k) for k in ("SGT", "DGF")}
        return self._gold[kind]

    def check(self, out: str) -> list[str]:
        return [
            e for kind in ("SGT", "DGF")
            for e in check_db(os.path.join(out, kind), STATIONS[0], self.gold(kind))
        ]

    def storage_ratio(self, out: str) -> float:
        db = sum(parquet_bytes(os.path.join(out, kind)) for kind in ("SGT", "DGF"))
        return db / input_bytes(self.meta, ("SGT", "DGF"))

    def sgt_db(self, out: str) -> tuple[str, tuple[str, ...]]:
        """An SGT database and its stations, for the traced read-path probe."""
        return os.path.join(out, "SGT"), STATIONS[:1]


class GfLookup:
    """Closed loop, one client: each operation is one point lookup against an
    SGT database of three stations.  Each set-up adds one station, built from
    its own fixture: the first with ``write_db``, the others with
    ``append_to_db``."""

    name = "gf_lookup"
    #: set-ups per run, each one station's fixture and create_db
    setup_reps = len(STATIONS)
    #: the first lookup pays code generation and Python worker start-up
    warmup_ops = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.db = os.path.join(work, "db")
        self.metas: dict[str, dict] = {}
        self.keys = None
        self._gold: dict[str, dict] = {}

    def prepare(self, spark: SparkSession, rep: int) -> None:
        station = STATIONS[rep]
        meta = make_fixture(
            os.path.join(self.work, f"fixture-{station}"), station_seed(self.seed, rep)
        )
        build(spark, meta, "SGT", self.db, station, append=rep > 0)
        self.spark, self.metas[station] = spark, meta
        # every station shares the mesh
        self.meta = self.metas[STATIONS[0]]
        self.ibool = specfem.read_ibool(spark, model_glob(self.meta), self.meta["nspec"])
        self.keys = lookup_keys(self.seed, self.meta, tuple(self.metas))

    def op(self, i: int, clock) -> tuple:
        key = next(self.keys)
        ids, got = lookup(self.spark, self.ibool, self.db, key)
        return key, ids, got

    def detail(self) -> dict[str, float]:
        return {}

    def check(self, result: tuple) -> list[str]:
        key, ids, got = result
        station, proc, i_spec = key
        if station not in self._gold:
            self._gold[station] = golden_db(self.metas[station], "SGT")
        want = golden_element_ids(self.meta, proc, i_spec)
        return check_lookup(key, ids, got, want, self._gold[station])

    def storage_ratio(self, result: tuple) -> float:
        return parquet_bytes(self.db) / sum(
            input_bytes(meta, ("SGT",)) for meta in self.metas.values()
        )

    def sgt_db(self, result: tuple) -> tuple[str, tuple[str, ...]]:
        """An SGT database and its stations, for the traced read-path probe."""
        return self.db, tuple(self.metas)


WORKLOADS = {w.name: w for w in (SeisBuild, GfLookup)}
