#!/usr/bin/env python3
"""SeisDB benchmark: the Green's-function database build and point lookup.

Run from the repository root:

    python3 perfbench/run.py --workload seis_build --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, Spark ``local[$SPARK_GRAFT_CPUS]``,
default every CPU of the process):

* ``seis_build``: build the SGT and the DGF database from a seeded SPECFEM
  fixture into a fresh directory;
* ``gf_lookup``: look up one seeded (station, proc, element) in a
  three-station SGT database and decode its 27 points.

Set-up generates the inputs from ``--seed``; the first set-up also launches
the JVM and starts the Spark session, and ``setup_s`` is the median over the
run's set-ups.  ``seis_build`` sets up once: the session and the fixture.
``gf_lookup`` sets up three times, each one station of its database: the
station's fixture and its create_db.  ``gf_lookup`` then runs an untimed
warm-up lookup, as a long-lived service would have; ``seis_build`` times its
first build, as a batch create_db pays JIT and code generation on every run.
The timed loop then runs operations until ``--seconds`` have passed (at
least one).  Every output, the warm-up's included, is checked against the
numpy golden model outside the timed region; an operation that raises or
fails its check counts in ``failed``.

Each operation's Spark job, task and scan counters are read from the
driver's status store after its time is taken.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is a separate run that also times the calls
into each layer and prints the per-layer metrics.  The last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the full result (environment, seed, samples, failures, spans) is written to
``.perfbench_out/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "jobs_per_op": "count",
    "tasks_per_op": "count",
    "read_bytes_per_op": "bytes",
    "storage_ratio": "ratio",
    "setup_s": "s",
}

#: Per-layer metrics: name -> (unit, the end-to-end metric and workload it
#: should move).  ``op.*`` is the whole operation's wall time, unbounded
#: because wall times drift with the load on a shared machine.
PER_LAYER = {
    "session.start_s": ("s", "setup_s on seis_build"),
    "specfem.listing_s": ("s", "op.p50_ms on seis_build"),
    "specfem.ibool_s": ("s", "op.p50_ms on seis_build and on gf_lookup"),
    "specfem.strain_decode_s": ("s", "op.p50_ms on seis_build"),
    "specfem.disp_decode_s": ("s", "op.p50_ms on seis_build"),
    "specfem.files": ("count", "tasks_per_op and read_bytes_per_op on seis_build"),
    "specfem.input_bytes": ("bytes", "read_bytes_per_op on seis_build"),
    "specfem.rows": ("count", "op.p50_ms on seis_build"),
    "specfem.tasks": ("count", "tasks_per_op on seis_build"),
    "build.compose_s": ("s", "op.p50_ms and jobs_per_op on seis_build"),
    "build.select_s": ("s", "op.p50_ms on seis_build"),
    "build.steps_s": ("s", "op.p50_ms and jobs_per_op on seis_build"),
    "build.assemble_s": ("s", "op.p50_ms on seis_build"),
    "build.encode_s": ("s", "op.p50_ms on seis_build"),
    "build.sink_s": ("s", "op.p50_ms and jobs_per_op on seis_build"),
    "build.gather_keep_ratio": ("ratio", "op.p50_ms on seis_build"),
    "build.series_rows": ("count", "storage_ratio on both workloads"),
    "build.blob_bytes": ("bytes", "storage_ratio on both workloads"),
    "build.db_bytes": ("bytes", "storage_ratio on both workloads"),
    "read.resolve_s": ("s", "op.p50_ms on gf_lookup"),
    "read.fetch_s": ("s", "op.p50_ms on gf_lookup"),
    "read.decode_s": ("s", "op.p50_ms on gf_lookup"),
    "read.jobs_per_lookup": ("count", "jobs_per_op and op.p50_ms on gf_lookup"),
    "read.input_bytes_per_lookup": ("bytes", "read_bytes_per_op on gf_lookup"),
    "read.record_keep_ratio": ("ratio", "read_bytes_per_op and op.p50_ms on gf_lookup"),
    "op.p50_ms": ("ms", "nothing: it is the traced workload's median operation latency"),
    "op.ops_per_s": ("1/s", "nothing: it is the traced workload's throughput"),
    "spark.stages": ("count", "jobs_per_op and op.p50_ms on the traced workload"),
    "spark.shuffle_read_bytes": ("bytes", "op.p50_ms on the traced workload"),
    "spark.shuffle_write_bytes": ("bytes", "op.p50_ms on the traced workload"),
    "spark.spill_bytes": ("bytes", "op.p50_ms and process.peak_rss_mb on the traced workload"),
    "spark.executor_run_s": ("s", "op.p50_ms on the traced workload"),
    "spark.executor_cpu_s": ("s", "op.p50_ms on the traced workload"),
    "spark.gc_s": ("s", "op.p50_ms and process.peak_rss_mb on the traced workload"),
    "process.peak_rss_mb": ("MB", "memory, on the traced workload"),
    "trace.overhead_frac": ("ratio", "nothing: the tracer's own cost per traced op"),
}

#: lookups run by the traced read-path probe
READ_PROBES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("seis_build", "gf_lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_present() -> bool:
    sys.path.insert(0, ROOT)
    return all(
        importlib.util.find_spec(m) is not None
        for m in ("seisdb_spark", "tests.golden_numpy")
    )


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``work``, and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, env.get("PYTHONPATH"))))
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included; -XX:-UsePerfData keeps the
    # JVM's counters out of /tmp
    env["JAVA_TOOL_OPTIONS"] = (
        f"{env.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    env["SPARK_GRAFT_EXTRA_CONF"] = ",".join(
        filter(None, (env.get("SPARK_GRAFT_EXTRA_CONF"), "spark.ui.showConsoleProgress=false"))
    )
    tempfile.tempdir = None


def start_session(app_name: str):
    """The program's Spark session, with one job run so that it is ready."""
    from seisdb_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM has
    ended; its Python workers exit when it does."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at end of input
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """High-water resident set of the JVM plus this driver process (VmHWM)."""
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in (jvm, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total / 1024.0


def environment(spark) -> dict:
    rev = "unknown: not a git checkout"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        done = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        rev = done.stdout.strip() or rev
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_revision": rev,
    }


def timed_loop(workload, seconds: float, first: int, tracer) -> tuple[list, dict, list]:
    """Closed loop: run operations until ``seconds`` have passed.  Each is
    closed as an ``op`` span, after its time is taken, so reading its Spark
    counters is not timed.  Returns (op spans, {op index: output},
    [(op index, traceback)])."""
    spans, outputs, raised = [], {}, []
    clock = time.perf_counter
    start, i = clock(), first
    while True:
        t0 = clock()
        try:
            outputs[i] = workload.op(i, clock)
        except Exception:  # a failed op is counted, and the loop goes on
            raised.append((i, traceback.format_exc()))
        spans.append(tracer.record("op", t0, clock(), op=i))
        i += 1
        if clock() - start >= seconds:
            return spans, outputs, raised


def run(args: argparse.Namespace, work: str) -> dict:
    import layers
    import workloads

    workload = workloads.WORKLOADS[args.workload](work, args.seed)
    spark, setup_times = None, []
    try:
        # the first set-up also launches the JVM and starts the session
        for rep in range(workload.setup_reps):
            t0 = time.perf_counter()
            if spark is None:
                spark = start_session(f"perfbench-{args.workload}")
                session_start_s = time.perf_counter() - t0
            workload.prepare(spark, rep)
            setup_times.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        tracer = layers.Tracer(spark)
        outputs, raised = {}, []
        for i in range(workload.warmup_ops):  # untimed
            _, out, failed = timed_loop(workload, 0, i, tracer)
            outputs.update(out)
            raised += failed
        warmup_s = time.perf_counter() - t0

        op_spans, timed, failed = timed_loop(workload, args.seconds, workload.warmup_ops, tracer)
        outputs.update(timed)
        raised += failed
        latencies = [o["seconds"] for o in op_spans]
        first_output = outputs[min(outputs)] if outputs else None

        result = {
            "environment": environment(spark),
            "detail": {
                "ops_timed": len(latencies),
                "latencies_s": latencies,
                "op_p50_ms": statistics.median(latencies) * 1e3,
                "ops_per_s": len(latencies) / sum(latencies),
                "session_start_s": session_start_s,
                "setups_s": setup_times,
                "warmup_s": warmup_s,
                "peak_rss_mb": peak_rss_mb(spark),
                **workload.detail(),
            },
            "metrics": {},
        }
        probes, probe_failures = 0, []
        if args.trace and first_output is not None:
            builds, fetched = trace_layers(spark, tracer, workload, first_output, args.seed, work)
            result["metrics"] = layers.layer_metrics(
                tracer, builds, fetched, op_spans, session_start_s
            )
            result["metrics"]["process.peak_rss_mb"] = peak_rss_mb(spark)
            result["spans"] = tracer.spans
            result["unmeasured"] = layers.unmeasured(builds)
            probes = len(builds)
            probe_failures = [(f"probe {kind}", e) for kind, b in builds.items()
                              for e in b["errors"]]
        elif not args.trace:
            result["metrics"] = {
                "jobs_per_op": statistics.median(o["jobs"] for o in op_spans),
                "tasks_per_op": statistics.median(o["tasks"] for o in op_spans),
                "read_bytes_per_op": statistics.median(o["input_bytes"] for o in op_spans),
                "setup_s": statistics.median(setup_times),
            }
            if first_output is not None:
                result["metrics"]["storage_ratio"] = workload.storage_ratio(first_output)
    finally:
        if spark is not None:
            stop_spark(spark)

    failures = [(f"op {i}", f"raised:\n{tb}") for i, tb in raised]
    for i, out in sorted(outputs.items()):
        failures += [(f"op {i}", e) for e in workload.check(out)]
    failures += probe_failures
    result.update(
        attempted=len(outputs) + len(raised) + probes,
        failed=len({i for i, _ in failures}),
        failures=[f"{i}: {e}" for i, e in failures[:50]],
    )
    return result


def trace_layers(spark, tracer, workload, output, seed: int, work: str):
    """The traced probes: the program's SGT and DGF create_db taken apart,
    each written database checked against the golden build, and lookups
    taken apart.  Returns (per-kind build facts with ``errors``, records
    per fetch)."""
    import layers
    import workloads

    builds = {}
    for kind in ("SGT", "DGF"):
        out = os.path.join(work, "probe", kind)
        builds[kind] = layers.probe_build(spark, tracer, workload.meta, kind, out)
        builds[kind]["errors"] = workloads.check_db(
            out, workloads.STATIONS[0], workloads.golden_db(workload.meta, kind)
        )
    db, stations = workload.sgt_db(output)
    keys = workloads.lookup_keys(seed + 1, workload.meta, stations)
    return builds, layers.probe_read(spark, tracer, db, workload.meta, keys, READ_PROBES)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: the seisdb_spark package and tests/golden_numpy.py are not "
              "in this directory; run from the repository root", file=sys.stderr)
        return 2
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    prepare_environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {k: v[0] for k, v in PER_LAYER.items()} if args.trace else END_TO_END
    metrics = {k: {"value": result["metrics"].get(k), "unit": units[k]} for k in units}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **result, "metrics": metrics,
    }
    if args.trace:
        record["should_move"] = {k: v[1] for k, v in PER_LAYER.items()}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{name}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for failure in result["failures"]:
        print(failure, file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "environment": result["environment"], "detail": {
                          k: v for k, v in result["detail"].items() if k != "latencies_s"}}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
