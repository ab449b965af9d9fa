"""Every scale-harness plan predicate, asserted at the driver gate SF on
every pytest run.

tools/scale_stress.py carries one executed-plan predicate per stressed
query (no cartesian products, single keyed exchanges, broadcast sides
staying broadcast...).  Until round 12 those only ran when a tier run
was taken, so a plan regression could sit unnoticed between tier
refreshes.  This test executes each stressed query at sf0.01 and asserts
its own predicate on the AQE-final plan — the same check the tier rows
certify, now on every suite run.

Queries whose predicate is only meaningful on a derived corpus are
skipped here; their tier runs remain the evidence.  That is the
richvocab override only (vocab_coverage_32k's top-V/broadcast-back
claims are vacuous below V distinct words) — graphscale queries assert
here too, because that override exists to SCALE the graph, not to
change its shape: the predicate holds or fails identically on the
plain corpus.
"""

from __future__ import annotations

import pytest

from seisdb_spark.plancheck import final_plan
from seisdb_spark.queries import REGISTRY
from seisdb_spark.queries.graph_queries import FIXPOINT_RUNS, round_plans_ok
from tests.conftest import SF_DIR
from tools.scale_stress import DIR_OVERRIDE, OUTPUT_UNBOUNDED, STRESS_QUERIES

CHECKED = sorted(
    n for n in STRESS_QUERIES if DIR_OVERRIDE.get(n) != "richvocab"
)


@pytest.mark.parametrize("name", CHECKED)
def test_stress_plan_predicate_holds_at_gate_sf(spark, name):
    trace = None
    if name in FIXPOINT_RUNS:
        # a driver-loop query's supersteps run at plan build behind
        # checkpoint boundaries, so its final plan cannot show them: its
        # (df, trace) composition returns the per-round plans as well
        df, trace = FIXPOINT_RUNS[name](spark, SF_DIR)
    else:
        df = REGISTRY[name].spark(spark, SF_DIR)
    if name in OUTPUT_UNBOUNDED:
        # corpus-scaled outputs stay executor-side (SF_DIR is
        # env-overridable — a collect() here re-creates the harness-OOM
        # failure mode time_query's own-plan RDD count exists to avoid)
        df._jdf.queryExecution().executedPlan().execute().count()
    else:
        df.collect()
    plan = final_plan(df)
    assert STRESS_QUERIES[name](plan), (
        f"{name}: scale-harness plan predicate failed at {SF_DIR} — "
        "the executed plan no longer has the certified 100TB shape"
    )
    if trace is not None:
        assert round_plans_ok(trace), (
            f"{name}: a superstep's executed plan lost the certified shape"
        )
