"""Connected-components (dedup clustering) tests: the lazy exact form and
the distributed iterate-to-convergence form against a python union-find
ground truth, a long-chain diameter stress for pointer jumping, and the
driver query's closure over real LSH-verified pairs."""

from __future__ import annotations

import contextlib
import random
import re

import numpy as np
import pytest

from seisdb_spark.functions.graph import cc_auto, cc_exact_lazy, connected_components
from seisdb_spark.queries.registry import REGISTRY
from tests.conftest import SF_DIR


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _truth_min_labels(pairs):
    uf = _union_find(pairs)
    comp_min = {}
    for v, r in uf.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[r] for v, r in uf.items()}


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "doc_a long, doc_b long"
    )


def test_cc_random_components_match_union_find(spark):
    rng = np.random.default_rng(3)
    # 12 clusters of random sizes, linked by random spanning edges
    pairs = []
    base = 0
    for _ in range(12):
        size = int(rng.integers(2, 9))
        ids = list(range(base, base + size))
        base += size + 3  # gap: absent ids must not appear in output
        for i in range(1, size):
            pairs.append((ids[rng.integers(0, i)], ids[i]))
    truth = _truth_min_labels(pairs)

    got_lazy = {
        r.v: r.component for r in cc_exact_lazy(_pairs_df(spark, pairs)).collect()
    }
    assert got_lazy == truth

    labels, trace = connected_components(_pairs_df(spark, pairs), "doc_a", "doc_b")
    got_iter = {r.v: r.component for r in labels.collect()}
    assert got_iter == truth
    assert len(trace) <= 6


def test_cc_long_chain_pointer_jump_radius(spark):
    """A 40-node chain (diameter 39): the lazy union-find is exact at any
    diameter; the distributed form's pointer jumping must resolve it in
    O(log d) rounds, not 39."""
    pairs = [(i, i + 1) for i in range(39)]
    truth = _truth_min_labels(pairs)

    got_lazy = {
        r.v: r.component for r in cc_exact_lazy(_pairs_df(spark, pairs)).collect()
    }
    assert got_lazy == truth

    labels, trace = connected_components(_pairs_df(spark, pairs), "doc_a", "doc_b")
    assert {r.v: r.component for r in labels.collect()} == truth
    assert len(trace) <= 9, f"pointer jumping took {len(trace)} rounds for diameter 39"


def test_cc_lazy_builds_without_jobs(spark):
    """cc_exact_lazy must be a pure plan builder (driver-query contract)."""
    edges = _pairs_df(spark, [(1, 2), (2, 3)])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = cc_exact_lazy(edges)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert {r.v: r.component for r in df.collect()} == {1: 1, 2: 1, 3: 1}


def test_distributed_cc_agrees_with_lazy_on_real_pairs(spark):
    """The distributed pointer-jumping form and the lazy union-find must
    produce identical components on the real sf0.01 near-dup pairs (the
    synthetic tests cover shapes; this covers the production input)."""
    pairs = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR)
    lazy = {r.v: r.component for r in cc_exact_lazy(pairs).collect()}
    labels, trace = connected_components(pairs, "doc_a", "doc_b")
    dist = {r.v: r.component for r in labels.collect()}
    assert dist == lazy
    assert len(trace) <= 6  # real dup clusters are shallow


def test_distributed_cc_handles_asymmetric_input(spark):
    """connected_components symmetrizes internally: a dst-only vertex (1
    below never appears as src) must still be labeled, and min labels must
    flow against the edge direction.  Before the fix this returned a
    partial labeling silently."""
    pairs = [(2, 1), (3, 2), (5, 4)]  # directed high->low; 1 and 4 dst-only
    truth = _truth_min_labels(pairs)
    labels, _ = connected_components(_pairs_df(spark, pairs), "doc_a", "doc_b")
    assert {r.v: r.component for r in labels.collect()} == truth


def test_cc_auto_dispatches_by_edge_count(spark):
    """cc_auto: single-task form under the threshold, distributed above it,
    identical components either way on the real sf0.01 near-dup pairs."""
    pairs = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR)
    lazy = {r.v: r.component for r in cc_exact_lazy(pairs).collect()}

    small_path = cc_auto(pairs)  # real threshold: tiny edge list stays lazy
    assert {r.v: r.component for r in small_path.collect()} == lazy

    # force the distributed branch: every edge list is "too big" for 1 task
    dist_path = cc_auto(pairs, max_single_task_edges=0)
    assert {r.v: r.component for r in dist_path.collect()} == lazy
    assert len(lazy) > 0


def test_dedup_cluster_query_is_closure_of_pairs(spark):
    """The driver query's components must equal the union-find closure of
    the verified near-dup pairs on the real sf0.01 corpus."""
    pairs_df = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR).toPandas()
    pairs = list(zip(pairs_df.doc_a, pairs_df.doc_b, strict=True))
    truth = _truth_min_labels(pairs)

    got = {
        r.doc_id: r.canonical_id
        for r in REGISTRY["dedup_cluster_components"].spark(spark, SF_DIR).collect()
    }
    assert got == truth
    assert len(got) > 0

def test_wcc_query_matches_union_find_and_is_multi_component(spark):
    """graph_wcc_membership (the distributed pointer-jumping driver row)
    must equal the pure-python union-find closure of the ship-date-
    windowed co-purchase edges on the real sf0.01 corpus, and the window
    must put the graph in the percolation-interesting regime (multiple
    components — the full graph's single-component answer would make the
    row structureless; see WCC_CUTOFF)."""
    from seisdb_spark.queries.graph_queries import wcc_edges
    from seisdb_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    pairs = [(int(r.u), int(r.v)) for r in wcc_edges(li).collect()]
    truth = _truth_min_labels(pairs)

    got = {
        int(r.part_id): int(r.component_id)
        for r in REGISTRY["graph_wcc_membership"].spark(spark, SF_DIR).collect()
    }
    assert got == truth
    n_components = len(set(truth.values()))
    assert n_components > 1, "window regressed to a single component"
    assert len(truth) > 100


def test_wcc_replica_invariant(spark):
    """Value certification of the graphscale tier construction for WCC:
    the membership table over N disjoint id-offset copies of the
    sf0.001 graph must equal the factor-1 table with every replica's
    rows mapped through the offset (ship dates are untouched by the
    offsets, so each copy carries the exact windowed subgraph; min
    labels shift by the offset because every replica's ids do)."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import wcc_edges
    from seisdb_spark.sources.tables import load_table
    from tests.conftest import SMOKE_SF_DIR

    off = 10**7  # ID_OFFSET in tools/scale_stress.py
    li = load_table(spark, SMOKE_SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_shipdate"
    )
    reps = [
        li.select(
            (F.col("l_orderkey") + r * off).alias("l_orderkey"),
            (F.col("l_partkey") + r * off).alias("l_partkey"),
            "l_shipdate",
        )
        for r in range(3)
    ]
    li3 = reps[0].unionByName(reps[1]).unionByName(reps[2])

    def membership(frame):
        labels, _ = connected_components(wcc_edges(frame), "u", "v")
        return {int(r.v): int(r.component) for r in labels.collect()}

    base = membership(li)
    assert len(base) > 0  # the sf0.001 window must not be empty
    want = {v + r * off: c + r * off for r in range(3) for v, c in base.items()}
    assert membership(li3) == want


def test_release_checkpoint_drops_superseded_round_blocks(spark):
    """The r14 memory fix must actually work: a multi-round pointer-jump
    cascade localCheckpoints ~2 tables per round, and release_checkpoint
    must unpersist every superseded one — a py4j surface drift would
    silently turn it into a no-op (r15 advice), so this pins that the
    persistent-RDD map does NOT grow with the round count."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    # a 60-node chain: diameter 59 forces >= 5 pointer-jump rounds
    pairs = _pairs_df(spark, [(i, i + 1) for i in range(59)])
    labels, trace = connected_components(pairs, "doc_a", "doc_b")
    labels.collect()
    rounds = len(trace)

    after = jsc.getPersistentRDDs().size()
    assert rounds >= 5
    # held blocks must be O(1) — the final labeling only — never
    # O(rounds) (each round creates a labeling checkpoint; edges and all
    # superseded labelings are released inside the loop)
    assert after - before <= 1, (
        f"{after - before} checkpoints retained after a {rounds}-round "
        "cascade — release_checkpoint is leaking (py4j drift?)"
    )


def test_wcc_window_predicate_reaches_the_parquet_scan(spark):
    """The WCC ship-date window must land in the FileScan (DataFilters +
    pruned ReadSchema), not evaluate post-scan: at 100 TB the window
    prunes row groups before any shuffle, and a regression here would
    silently read the full lineitem into the pair expansion.  Asserted on
    the pre-checkpoint subtree (wcc_edges returns a localCheckpoint whose
    own plan is just a Scan ExistingRDD)."""
    from pyspark.sql import functions as F

    from seisdb_spark.queries.graph_queries import WCC_CUTOFF
    from seisdb_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    flt = li.where(
        F.col("l_shipdate") < F.lit(WCC_CUTOFF).cast("timestamp")
    ).select("l_orderkey", "l_partkey")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln]
    assert scan, "no FileScan in the windowed-edge subtree"
    assert "l_shipdate" in scan[0] and "DataFilters: [" in scan[0] and (
        "1996-01-01" in scan[0]
    ), f"date predicate did not reach the scan: {scan[0][:200]}"
    # column pruning: the scan must read only the 3 needed columns
    assert "l_extendedprice" not in scan[0] and "l_comment" not in scan[0]


def test_nonconvergence_releases_edges_and_labeling(spark):
    """The non-convergence RuntimeError path must release the symmetrized
    edge checkpoint AND the last labeling before raising — before the r16
    fix the error path leaked both for the session lifetime (only the
    convergence path released edges)."""
    import pytest

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    # a 60-node chain needs >= 5 pointer-jump rounds; cap at 2 to force
    # the non-convergence path
    pairs = _pairs_df(spark, [(i, i + 1) for i in range(59)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, "doc_a", "doc_b", max_rounds=2)

    after = jsc.getPersistentRDDs().size()
    # <= 0, not == 0: the async ContextCleaner may reclaim a PRIOR test's
    # RDD between the two samples, making the delta negative — the pin is
    # that this cascade adds nothing
    assert after - before <= 0, (
        f"{after - before} checkpoints retained after a failed cascade — "
        "the error path is leaking"
    )


def test_cc_certificate_overflow_precondition_guard(spark):
    """The (count, label-sum) convergence certificate is wrap-sound only
    while |V| * max vertex id < 2^63; past that a wrapped BIGINT sum could
    silently fake convergence (r17 advice).  The guard must refuse loudly
    BEFORE running any propagation round, and must not leak the edge/seed
    checkpoints it built (the non-convergence release discipline)."""
    import pytest

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    big = 2**62  # 4 vertices * ~4.6e18 max id >= 2^63: precondition fails
    pairs = _pairs_df(spark, [(big, big + 1), (big + 2, big + 3)])
    with pytest.raises(ValueError, match="re-map vertex ids"):
        connected_components(pairs, "doc_a", "doc_b")

    after = jsc.getPersistentRDDs().size()
    assert after - before <= 0, (
        f"{after - before} checkpoints retained after the precondition "
        "refusal — the guard path is leaking"
    )

    # just UNDER the bound still runs: 2 vertices, max id < 2^62 each —
    # 2 * (2^61 + 1) < 2^63, so the certificate is certified sound
    ok = _pairs_df(spark, [(2**61, 2**61 + 1)])
    labels, _ = connected_components(ok, "doc_a", "doc_b")
    got = {r.v: r.component for r in labels.collect()}
    assert got == {2**61: 2**61, 2**61 + 1: 2**61}


def test_auto_broadcast_bytes_parses_spark_size_spellings(spark):
    """The gated-broadcast helper sizes against the session's own
    autoBroadcastJoinThreshold, which Spark accepts as plain bytes or with
    k/m/g(b) suffixes — and as -1 to disable broadcasting entirely."""
    from seisdb_spark.functions.graph import _auto_broadcast_bytes

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for raw, expect in (
            ("10485760", 10 * 2**20),
            ("64MB", 64 * 2**20),
            ("1g", 2**30),
            ("512k", 512 * 2**10),
            ("-1", 0),  # disabled: the gate must never hint
        ):
            spark.conf.set(key, raw)
            assert _auto_broadcast_bytes(spark) == expect, raw
    finally:
        spark.conf.set(key, old)


def test_superstep_gate_sizes_against_broadcast_threshold(spark):
    """The loop regime gate: loop state is a checkpoint with UNKNOWN
    stats, so the planner cannot choose a broadcast join for it, but the
    loop knows the state's exact row count.  A round is broadcast-regime
    exactly when rows * LOOP_STATE_ROW_BYTES fits the session's
    autoBroadcastJoinThreshold — at the boundary it broadcasts, one byte
    under it takes the scale regime (the 100 TB path, whose shuffle joins
    AQE skew-handles) — and both regimes give the same labeling."""
    from seisdb_spark.functions.graph import LOOP_STATE_ROW_BYTES

    pairs = [(i, i + 1) for i in range(10)]  # 11 vertices: the state rows
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for limit, regime in (
            (11 * LOOP_STATE_ROW_BYTES, "broadcast"),
            (11 * LOOP_STATE_ROW_BYTES - 1, "scale"),
        ):
            spark.conf.set(key, str(limit))
            labels, trace = connected_components(
                _pairs_df(spark, pairs), "doc_a", "doc_b"
            )
            got = {r.v: r.component for r in labels.collect()}
            assert got == _truth_min_labels(pairs), regime
            assert {r.regime for r in trace} == {regime}, limit
    finally:
        spark.conf.set(key, old)


#: an Exchange, or a Sort on src, directly (or one operator) above the
#: edge-side checkpoint scan: the edge side re-clustered inside a round
_EDGE_SIDE_SHUFFLE = re.compile(
    r"(Exchange hashpartitioning|Sort \[src)[^\n]*\n"
    r"(?:[^\n]*\n)?[^\n]*Scan ExistingRDD\[src#"
)


@contextlib.contextmanager
def _multi_partition_loops(spark, broadcast_threshold=None):
    """Loop settings for the per-round plan pins: the edge checkpoint gets
    several partitions (a real corpus is never one partition — with
    exactly one, EnsureRequirements declines co-partitioning and
    re-shuffles both sides, a degenerate tiny-graph case), and optionally
    a broadcast threshold override (``"0"`` forces the scale regime)."""
    import seisdb_spark.functions.graph as G

    key = "spark.sql.autoBroadcastJoinThreshold"
    old, old_rows_per_task = spark.conf.get(key), G.EDGE_ROWS_PER_TASK
    G.EDGE_ROWS_PER_TASK = 16
    if broadcast_threshold is not None:
        spark.conf.set(key, broadcast_threshold)
    try:
        yield
    finally:
        spark.conf.set(key, old)
        G.EDGE_ROWS_PER_TASK = old_rows_per_task


def _pin_graph(spark):
    """Canonical (u < v) edges: a 200-node random graph of degree ~8 plus
    a 30-node tail — a multi-round k-core peel (k=5), BFS and SSSP
    cascade from the seeds divisible by 50."""
    rng = random.Random(1)
    edges = set()
    for i in range(200):
        for j in rng.sample(range(200), 4):
            if i != j:
                edges.add((min(i, j), max(i, j)))
    edges.update((i, i + 1) for i in range(200, 230))
    return spark.createDataFrame(sorted(edges), "u bigint, v bigint")


def _run_loop(spark, loop):
    from seisdb_spark.queries import graph_queries as gq

    edges = _pin_graph(spark)
    df, trace = {
        "cc": lambda: connected_components(edges, "u", "v"),
        "kcore": lambda: gq.kcore_core(edges, k=5, max_peels=20),
        "bfs": lambda: gq.bfs_hops(edges, seed_mod=50, max_hops=6),
        "sssp": lambda: gq.sssp_cost(edges, seed_mod=50, max_edges=8),
    }[loop]()
    return sorted(tuple(r) for r in df.collect()), trace


def test_cc_round_is_exchange_free_under_broadcast_gate(spark):
    """In the broadcast regime (labeling's exact count under the session
    threshold) every propagation round executes with ZERO shuffle
    exchanges — the neighbour-min joins broadcast the labeling, and its
    aggregate groups by ``src``, the symmetric edge checkpoint's
    PRESERVED partitioning key (partitioned_edge_checkpoint builds it
    AQE-off so the LogicalRDD keeps hashpartitioning(src)), so even the
    aggregate needs no exchange.  nb's broadcast is still reused across
    both m1 references.  Without the gate, checkpoint scans' unknown
    stats force SMJ plans whose edge-side exchanges AQE materializes
    before converting."""
    from seisdb_spark.plancheck import count_exchanges, has_node

    # a 60-node chain: multi-round cascade, tiny labeling -> gate hints
    pairs = [(i, i + 1) for i in range(60)]
    with _multi_partition_loops(spark):
        labels, trace = connected_components(
            _pairs_df(spark, pairs), "doc_a", "doc_b"
        )
        got = {r.v: r.component for r in labels.collect()}
    assert got == _truth_min_labels(pairs)
    assert len(trace) >= 2  # three-hop rounds: ceil of the one-hop cascade / 3
    assert [r.round for r in trace] == list(range(1, len(trace) + 1))
    for r in trace:
        p = r.plan
        assert r.regime == "broadcast"
        assert count_exchanges(p) == 0, (
            f"round plan has {count_exchanges(p)} shuffle exchanges — the "
            f"broadcast-regime round regressed:\n{p[:800]}"
        )
        assert has_node(p, "BroadcastHashJoin")
        assert not has_node(p, "SortMergeJoin")
        assert has_node(p, "ReusedExchange"), "nb broadcast not reused"


def test_cc_scale_regime_round_keys_the_join_on_the_partition_key(spark):
    """The scale-regime round (labeling above the broadcast threshold)
    must key its neighbour-min join on ``src`` — the edge checkpoint's
    preserved clustering+ordering — so the per-round sort-merge join
    never re-shuffles or re-sorts the EDGE side; only the labeling moves.
    Pinned by plan shape: no captured round has an exchange or src sort
    directly over the edge table's scan, while labeling-side exchanges
    are allowed.  Both regimes must produce the identical labeling."""
    pairs = [(i, i + 1) for i in range(60)]
    labels_b, trace_b = connected_components(
        _pairs_df(spark, pairs), "doc_a", "doc_b"
    )
    got_b = {r.v: r.component for r in labels_b.collect()}

    with _multi_partition_loops(spark, broadcast_threshold="0"):
        labels_s, trace_s = connected_components(
            _pairs_df(spark, pairs), "doc_a", "doc_b"
        )
        got_s = {r.v: r.component for r in labels_s.collect()}
        scale_plans = [r.plan for r in trace_s]

    assert got_s == got_b == _truth_min_labels(pairs)
    # one-hop scale rounds need more rounds than three-hop broadcast rounds
    assert len(trace_s) >= len(trace_b)
    assert {r.regime for r in trace_s} == {"scale"}
    for p in scale_plans:
        # the edge scan must feed its join directly: its preserved
        # hashpartitioning(src) + sort order satisfy the SMJ requirement.
        # The labeling side (Scan ExistingRDD[v,l]) may shuffle freely.
        mm = _EDGE_SIDE_SHUFFLE.search(p)
        assert mm is None, f"edge-side exchange/sort re-appeared:\n...{mm.group(0)}..."


#: (min, max) shuffle exchanges per broadcast-regime round, per loop
_BROADCAST_ROUND_EXCHANGES = {
    "cc": (0, 0),
    # the peel's degree aggregate reads the survivor rows' preserved src
    # partitioning in EVERY round, not only the first (a re-bound
    # survivor checkpoint used to lose it)
    "kcore": (0, 0),
    # the dst distinct; a round over an empty frontier collapses to an
    # empty relation with none
    "bfs": (0, 1),
    # the min-combiner aggregate
    "sssp": (1, 1),
}


@pytest.mark.parametrize("loop", sorted(_BROADCAST_ROUND_EXCHANGES))
def test_loop_round_exchanges_under_broadcast_gate(spark, loop):
    """Per-round shuffle-exchange pins for the four fixpoint loops in the
    broadcast regime, over a multi-partition edge checkpoint and a
    cascade of several rounds (so re-bound round state is covered)."""
    from seisdb_spark.plancheck import count_exchanges

    with _multi_partition_loops(spark):
        _, trace = _run_loop(spark, loop)
    counts = [count_exchanges(r.plan) for r in trace]
    lo, hi = _BROADCAST_ROUND_EXCHANGES[loop]
    assert len(trace) >= 3, f"{loop}: cascade too short to pin: {counts}"
    assert {r.regime for r in trace} == {"broadcast"}
    assert all(lo <= n <= hi for n in counts), f"{loop} exchanges per round: {counts}"


@pytest.mark.parametrize("loop", ["kcore", "bfs", "sssp"])
def test_loop_scale_regime_keeps_the_edge_side_unshuffled(spark, loop):
    """Scale regime (autoBroadcastJoinThreshold=0): the result equals the
    broadcast regime's, and the edge side moves only where the algorithm
    needs it to.  BFS and SSSP join the src-partitioned edge checkpoint
    with no exchange or sort on the edge-side scan — only the round state
    moves.  k-core's state IS its edge set, and a non-broadcast keep set
    needs the rows re-keyed by dst: exactly one dst exchange of the rows
    per peel, and none on src."""
    from seisdb_spark.plancheck import count_exchanges

    want, _ = _run_loop(spark, loop)
    with _multi_partition_loops(spark, broadcast_threshold="0"):
        got, trace = _run_loop(spark, loop)
    assert got == want
    assert {r.regime for r in trace} == {"scale"}
    for r in trace:
        p = r.plan
        if loop == "kcore":
            assert count_exchanges(p, key="dst") == 1, p[:1500]
            assert count_exchanges(p, key="src") <= 1, p[:1500]  # keep partials
            continue
        mm = _EDGE_SIDE_SHUFFLE.search(p)
        assert mm is None, (
            f"{loop} round {r.round}: edge-side exchange/sort:\n...{mm.group(0)}..."
        )
