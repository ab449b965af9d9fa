"""Traced-run instrumentation: spans around calls into each layer, Spark's
own stage counters, and the per-layer metrics derived from them.

Spans are recorded from outside the program, around calls into the public
functions of ``sources.specfem`` and ``pipeline.build``.  The write path is
the program's own ``sgt_build``/``dgf_build``: while it composes its plan,
the DataFrames returned by the calls it makes are captured (``CAPTURED``),
so each prefix below is the program's, not a copy of it.  Each span carries
the counters of the Spark jobs that ran inside it, read from the driver's
status store (available with ``spark.ui.enabled=false``).  Spans are kept in
memory and written with the run's results.

A layer's self time is the time of a plan prefix minus the time of the
prefixes it contains, each run on its own with ``count()``:

    sgt_build/dgf_build: plan + head(1) probe    build.compose_s
    listing -> +valid_steps                       build.steps_s
    ibool   -> +select_gll_points                 build.select_s
    decode, +select, +steps -> +gather/assemble   build.assemble_s
    assemble -> +encode/start offsets             build.encode_s
    encode -> +write_db (records + db_meta)       build.sink_s

Prefixes run as separate Spark jobs, so a self time can come out slightly
negative when a layer costs less than the run-to-run noise of its prefix.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from unittest import mock

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from seisdb_spark.pipeline import build as build_module
from seisdb_spark.pipeline import decode_records, write_db
from seisdb_spark.sources import specfem

import workloads as wl

#: Spark counters summed over the jobs of a span: name -> StageData getter
#: and the factor that turns it into the reported unit.
STAGE_COUNTERS = {
    "tasks": ("numTasks", 1),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """In-memory spans with the Spark jobs, stages and stage counters of each.

    Jobs are numbered in submission order; a span owns every job submitted
    since the previous span closed.  Reading the status store waits for the
    listener bus to drain first; that wait and the reads are the span's
    ``trace_s``, the tracer's own cost.
    """

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self.spans: list[dict] = []
        self._next_job = 0
        self._next_job = self._jobs_since()[1]

    def _jobs_since(self) -> tuple[list, int]:
        self._sc.listenerBus().waitUntilEmpty()
        jobs, top = [], self._next_job
        listed = self._store.jobsList(None)
        for i in range(listed.size()):  # newest first
            job = listed.apply(i)
            if job.jobId() < self._next_job:
                break
            jobs.append(job)
            top = max(top, job.jobId() + 1)
        return jobs, top

    def _counters(self, jobs: list) -> dict:
        out = {"jobs": len(jobs), "stages": 0, **{k: 0 for k in STAGE_COUNTERS}}
        seen = set()
        for job in jobs:
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    stage = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted past spark.ui.retainedStages
                    continue
                if str(stage.status()) != "COMPLETE":  # skipped: reused shuffle
                    continue
                out["stages"] += 1
                for name, (getter, factor) in STAGE_COUNTERS.items():
                    out[name] += getattr(stage, getter)() * factor
        return out

    def record(self, name: str, t0: float, t1: float, parent: str | None = None,
               **attrs) -> dict:
        """Close span ``name`` that ran from ``t0`` to ``t1``: it owns every
        job submitted since the previous span closed."""
        jobs, self._next_job = self._jobs_since()
        span = {"name": name, "parent": parent, "start": t0, "end": t1,
                "seconds": t1 - t0, **attrs, **self._counters(jobs)}
        span["trace_s"] = time.perf_counter() - t1
        self.spans.append(span)
        return span

    def span(self, name: str, fn, parent: str | None = None, **attrs):
        """Run ``fn()`` as span ``name``; returns its result."""
        t0 = time.perf_counter()
        result = fn()
        self.record(name, t0, time.perf_counter(), parent, **attrs)
        return result

    def seconds(self, name: str) -> float:
        return sum(s["seconds"] for s in self.spans if s["name"] == name)

    def total(self, name: str, counter: str) -> float:
        return sum(s[counter] for s in self.spans if s["name"] == name)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# ---------------------------------------------------------------------------
# write path: the program's own create_db, taken apart into plan prefixes
# ---------------------------------------------------------------------------
#: the calls ``sgt_build``/``dgf_build`` compose whose results are captured as
#: plan prefixes: span name -> (module, attribute the program looks up)
CAPTURED = {
    "specfem.listing": (specfem, "snapshot_listing"),
    "specfem.ibool": (specfem, "read_ibool"),
    "build.select": (build_module, "select_gll_points"),
    "specfem.strain_decode": (specfem, "read_strain_snapshots"),
    "specfem.disp_decode": (specfem, "read_disp_snapshots"),
    "build.assemble": (build_module, "assemble_series"),
}
DECODE = {"SGT": "specfem.strain_decode", "DGF": "specfem.disp_decode"}


@contextlib.contextmanager
def capturing(calls: dict):
    """While the block runs, record the first result of each of ``calls``
    under its span name; the calls themselves are unchanged."""
    got: dict = {}

    def wrap(name, fn):
        def captured(*args, **kwargs):
            out = fn(*args, **kwargs)
            got.setdefault(name, out)
            return out
        return captured

    with contextlib.ExitStack() as stack:
        for name, (module, attr) in calls.items():
            stack.enter_context(
                mock.patch.object(module, attr, wrap(name, getattr(module, attr)))
            )
        yield got


def probe_build(spark: SparkSession, tr: Tracer, meta: dict, kind: str, out: str) -> dict:
    """Run the program's create_db of ``kind`` with the plans of the calls it
    composes captured, count each captured prefix on its own, then write the
    database to ``out``.  A call the program no longer makes is listed in
    ``missing``; its layer then reads 0 and its time falls to the next one."""
    p = f"build.{kind}"
    with capturing(CAPTURED) as got:
        # plan construction, with the eager no-valid-steps probe
        records, meta_df, steps = tr.span("build.compose", lambda: wl.compose(spark, meta, kind), p)
    other = DECODE["DGF" if kind == "SGT" else "SGT"]
    counted = {
        name: tr.span(name, got[name].count, p)
        for name in CAPTURED if name in got and name != "build.assemble"
    }
    tr.span("build.steps", steps.count, p)
    s_row = {"n": 0, "v": 0}
    if "build.assemble" in got:
        s_row = tr.span(
            "build.assemble",
            lambda: got["build.assemble"].agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_values").alias("v")).collect()[0],
            p,
        )
    r_row = tr.span(
        "build.encode",
        lambda: records.agg(F.count(F.lit(1)).alias("n"), F.sum("length").alias("b")).collect()[0],
        p,
    )
    tr.span("build.sink", lambda: write_db(records, meta_df, out, wl.NETWORK, wl.STATIONS[0]), p)
    n_para = pq.read_table(os.path.join(out, "db_meta"), columns=["nparas"])["nparas"][0].as_py()
    decoded = counted.get(DECODE[kind], 0)
    return {
        "files": counted.get("specfem.listing", 0) + meta["nprocs"],
        "rows": counted.get("specfem.ibool", 0) + decoded,
        "decoded_values": decoded * n_para,
        "gathered_values": int(s_row["v"]),
        "series_rows": int(s_row["n"]),
        "blob_bytes": int(r_row["b"]),
        "db_bytes": wl.parquet_bytes(out),
        "missing": [f"{kind}: {name}" for name in CAPTURED if name not in got and name != other],
    }


# ---------------------------------------------------------------------------
# read path: resolve, fetch, fetch+decode, each on its own
# ---------------------------------------------------------------------------
def probe_read(spark: SparkSession, tr: Tracer, db: str, mesh: dict, keys, n: int) -> list[int]:
    """``n`` lookups taken apart: resolve; read_db + filter + collect (fetch);
    the whole fetch again with decode (lookup minus resolve).  Returns the
    number of records each fetch returned."""
    ibool = specfem.read_ibool(spark, wl.model_glob(mesh), mesh["nspec"])
    out = []
    for _ in range(n):
        station, proc, i_spec = key = next(keys)
        ids = tr.span("read.resolve", lambda: wl.element_ids(ibool, proc, i_spec), "read", key=key)
        fetched = tr.span(
            "read.fetch", lambda: wl.fetch(spark, db, station, proc, ids).collect(), "read", key=key
        )
        tr.span(
            "read.decode",
            lambda: decode_records(
                wl.fetch(spark, db, station, proc, ids), wl.N_FORCE, wl.N_PARA["SGT"]
            ).toPandas(),
            "read", key=key,
        )
        out.append(len(fetched))
    return out


def layer_metrics(tr: Tracer, builds: dict[str, dict], fetched: list[int],
                  op_spans: list[dict], session_start_s: float) -> dict[str, float]:
    """Every per-layer metric of the traced run, from its spans."""
    s = tr.seconds
    decode = s("specfem.strain_decode") + s("specfem.disp_decode")
    m = {
        "session.start_s": session_start_s,
        "specfem.listing_s": s("specfem.listing"),
        "specfem.ibool_s": s("specfem.ibool"),
        "specfem.strain_decode_s": s("specfem.strain_decode"),
        "specfem.disp_decode_s": s("specfem.disp_decode"),
        "specfem.files": sum(b["files"] for b in builds.values()),
        "specfem.input_bytes": sum(
            tr.total(n, "input_bytes")
            for n in ("specfem.ibool", "specfem.strain_decode", "specfem.disp_decode")
        ),
        "specfem.rows": sum(b["rows"] for b in builds.values()),
        "specfem.tasks": sum(
            tr.total(n, "tasks")
            for n in ("specfem.listing", "specfem.ibool", "specfem.strain_decode",
                      "specfem.disp_decode")
        ),
        "build.compose_s": s("build.compose"),
        "build.select_s": s("build.select") - s("specfem.ibool"),
        "build.steps_s": s("build.steps") - s("specfem.listing"),
        "build.assemble_s": s("build.assemble") - decode - s("build.select") - s("build.steps"),
        "build.encode_s": s("build.encode") - s("build.assemble"),
        "build.sink_s": s("build.sink") - s("build.encode"),
        "build.gather_keep_ratio": sum(b["gathered_values"] for b in builds.values())
        / sum(b["decoded_values"] for b in builds.values()),
        "build.series_rows": sum(b["series_rows"] for b in builds.values()),
        "build.blob_bytes": sum(b["blob_bytes"] for b in builds.values()),
        "build.db_bytes": sum(b["db_bytes"] for b in builds.values()),
    }
    resolve, fetch, dec = tr.of("read.resolve"), tr.of("read.fetch"), tr.of("read.decode")
    m.update({
        "read.resolve_s": statistics.median(x["seconds"] for x in resolve),
        "read.fetch_s": statistics.median(x["seconds"] for x in fetch),
        "read.decode_s": statistics.median(d["seconds"] - f["seconds"] for f, d in zip(fetch, dec)),
        "read.jobs_per_lookup": statistics.median(r["jobs"] + d["jobs"] for r, d in zip(resolve, dec)),
        "read.input_bytes_per_lookup": statistics.median(
            r["input_bytes"] + d["input_bytes"] for r, d in zip(resolve, dec)
        ),
        "read.record_keep_ratio": sum(fetched) / max(1, sum(f["input_records"] for f in fetch)),
    })
    for counter in ("stages", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"spark.{counter}"] = statistics.median(o[counter] for o in op_spans)
    op_seconds = [o["seconds"] for o in op_spans]
    m["op.p50_ms"] = statistics.median(op_seconds) * 1e3
    m["op.ops_per_s"] = len(op_seconds) / sum(op_seconds)
    m["trace.overhead_frac"] = sum(o["trace_s"] for o in op_spans) / sum(op_seconds)
    return m


def unmeasured(builds: dict[str, dict]) -> dict[str, str]:
    """Metrics named for this benchmark that it does not report, and why."""
    out = {
        "queries.*": "open: waits for the registry_sf0.1 workload, whose input tables "
        "are test data outside the repository and which the repository cannot "
        "generate; once they or a generator are in it, one operation can be one "
        "seeded registry query (see perfbench/README.md)",
        "lookup_p90_ms": "a run holds fewer than 100 lookups, so no percentile above "
        "the median has ten samples beyond it",
        "sgt_build_s, dgf_build_s, lookup_p50_ms, lookups_per_s, op latency as a bounded "
        "end-to-end metric": "on a shared 4-core machine every wall time drifts by "
        "20-40% of its median over ten consecutive runs, more than the largest bound; "
        "latency is the unbounded op.p50_ms and op.ops_per_s here and in every result "
        "file",
        "failed_frac": "reported as the result's failed/attempted counts; as a metric "
        "it would read 0 on a correct program",
        "peak_rss_mb": "reported as the per-layer process.peak_rss_mb and in the "
        "untraced result file: the JVM's heap growth makes it vary by half its "
        "median between runs, too much for a bounded end-to-end metric",
    }
    missing = [m for b in builds.values() for m in b["missing"]]
    if missing:
        out["layers the create_db no longer calls"] = (
            f"{', '.join(missing)}: not called while sgt_build/dgf_build composed "
            "their plan, so these layers read 0"
        )
    return out
