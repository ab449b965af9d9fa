#!/usr/bin/env python
"""Dump ``explain("formatted")`` for registry queries into plans/<tag>/.

Optimization-round deliverable (r18): the judge cannot run Spark, so every
plan claim in OPTIMIZATION_r{N}.md is checked against committed
``plans/r{N}/<query>_{before,after}.txt`` files.  For driver-loop fixpoint
queries the returned DataFrame's plan shows only the final aggregate over
the last checkpointed iterate — the supersteps execute behind
localCheckpoint boundaries at plan build — so for those queries this tool
builds the plan through the query's ``(df, trace)`` composition
(``graph_queries.FIXPOINT_RUNS``) and appends each traced round's executed
plan.

Usage:
    python tools/dump_plans.py before [query ...]      # default: bench set
    python tools/dump_plans.py after graph_kcore_membership ...
Writes plans/r18/<query>_<tag>.txt (override dir with --out-dir).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag", choices=["before", "after"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out-dir", default="plans/r18")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from seisdb_spark.queries import REGISTRY
    from seisdb_spark.queries.graph_queries import FIXPOINT_RUNS
    from seisdb_spark.session import get_spark

    names = args.names or [n for n, s in REGISTRY.items() if s.bench]
    os.makedirs(args.out_dir, exist_ok=True)

    spark = get_spark(app_name="seisdb-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    for name in sorted(names):
        trace = None
        if name in FIXPOINT_RUNS:
            df, trace = FIXPOINT_RUNS[name](spark, args.sf_dir)
        else:
            # bypass the plan cache so a prior invocation in this process
            # can't hand back a stale plan
            spark.__dict__.get("_seisdb_plan_cache", {}).pop((name, args.sf_dir), None)
            df = REGISTRY[name].spark(spark, args.sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out = [f"== {name} [{args.tag}] sf_dir={args.sf_dir} ==\n", buf.getvalue()]
        if trace is not None:
            out.append(f"\n== per-round executed plans ({len(trace)} rounds) ==\n")
            for r in trace:
                out.append(
                    f"\n-- round {r.round} [{r.regime}, {r.rows} rows, "
                    f"{r.seconds:.3f} s] --\n{r.plan}\n"
                )
        path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write("".join(out))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
