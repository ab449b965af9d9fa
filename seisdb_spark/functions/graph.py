"""Connected components over near-duplicate pairs — dedup clustering.

Near-duplicate detection yields PAIRS; corpus curation needs COMPONENTS
(the transitive closure: if A~B and B~C, one canonical doc should represent
{A,B,C} even when A~C was never scored).

Two forms:

* :func:`cc_exact_lazy` — a fully LAZY plan: the edge list (near-dup
  pairs — a tiny fraction of the corpus, LSH-candidate-sized) shuffles to
  one task which runs an exact union-find in a single Arrow-batched pass.
  Correct for ANY component diameter; scalability is bounded by the EDGE
  count, never the corpus.  Driver queries use this form (a ``queries()``
  entry must never run jobs at plan build time, and Spark has no lazy
  fixpoint operator — an unrolled join-per-round plan re-references its
  input 4x per round, exploding the logical tree exponentially, which is
  why that formulation is deliberately absent here).
* :func:`connected_components` — the unbounded-scale iterative form:
  min-label propagation with POINTER JUMPING (``label <- label(label)``
  composes the mapping with itself, doubling the propagation radius per
  round, so O(log diameter) rounds).  The symmetric edge set is
  checkpointed ONCE, hash-partitioned + sorted by ``src`` with the
  partitioning preserved into the checkpoint scan
  (:func:`partitioned_edge_checkpoint`), so per round only the |V|-row
  labeling ever shuffles — broadcast when its exact count fits the
  session threshold (then the round plan carries ZERO shuffle
  exchanges and runs THREE propagation hops), sort-merge against the
  pre-clustered edge side otherwise.  The rounds run on
  :func:`superstep_loop`, the one driver of every fixpoint loop here and
  in ``queries/graph_queries.py``.  This is the same
  alternating-contraction idea as the large-star/small-star CC
  algorithm; use it when the dup-pair edge list itself outgrows one
  task (billions of edges).
* :func:`cc_auto` — the ACTION-path dispatcher: materializes the pair
  list once, counts it, and picks the single-task form below
  :data:`CC_SINGLE_TASK_MAX_EDGES` edges and the distributed form above.
  ``build_training_set`` (the production composition) routes through
  this, so a web-scale dup-pair list never funnels into one task.
"""

from __future__ import annotations

import logging
import math
import os
import time
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seisdb_spark.plancheck import count_exchanges, final_plan

_LOG = logging.getLogger(__name__)
_RELEASE_FAILED_ONCE = False

def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the checkpointed RDD behind a localCheckpoint DataFrame.

    A long propagation/peel cascade otherwise holds every superseded
    round's blocks for the query lifetime (r14 advice).  Safe ONLY for
    checkpoints the caller created and will never read again: a
    localCheckpointed RDD has no lineage to recompute from once its
    blocks are dropped.

    A py4j surface drift (``queryExecution().analyzed().rdd()`` moving)
    would silently turn every release into a no-op and let long cascades
    re-accumulate blocks — so the first failure logs loudly (once per
    process; r15 advice), and ``tests/test_graph_scale_shapes.py`` pins
    that persistent-RDD count actually shrinks across a peel.

    Releasing also DEREGISTERS the df from the session-lifetime
    checkpoint list (``register_session_checkpoint``) when present:
    loop callers (sssp/bfs/wcc and the streaming twins) release their
    copurchase_edges copy at build time, and without the removal each
    fixpoint bench pass appended one dead DataFrame ref that only
    ``clear_plan_cache`` would prune — unbounded list growth in a
    long-lived service running loop queries between hook calls (r17
    advice)."""
    global _RELEASE_FAILED_ONCE
    try:
        lst = df.sparkSession.__dict__.get("_seisdb_session_checkpoints")
        if lst is not None:
            for i, tracked in enumerate(lst):
                if tracked is df:
                    del lst[i]
                    break
    except Exception:
        pass  # deregistration is best-effort; the unpersist below is the point
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        # non-checkpoint input / py4j drift: leak, don't crash — the
        # blocks die with the session either way.  But say so ONCE.
        if not _RELEASE_FAILED_ONCE:
            _RELEASE_FAILED_ONCE = True
            _LOG.warning(
                "release_checkpoint failed (py4j surface drift?) — "
                "superseded checkpoint blocks will accumulate for the "
                "session lifetime",
                exc_info=True,
            )


#: Conservative per-row footprint (bytes) assumed when gating a loop-state
#: broadcast: an UnsafeRow of two bigint fields is 8 (null bitset) + 16
#: (fields) = 24 bytes; 32 leaves headroom for the broadcast hash
#: relation's bucket array.  Deliberately pessimistic — over-estimating
#: only declines a profitable broadcast, never OOMs one.
LOOP_STATE_ROW_BYTES = 32


def _auto_broadcast_bytes(spark) -> int:
    """The session's own ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (0 when disabled/unparseable) — :func:`superstep_loop`'s regime gate
    sizes against the SAME knob the planner uses, so one production
    setting governs both the optimizer's estimates and the loops'
    exact-count hints."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 2**10), ("mb", 2**20), ("gb", 2**30), ("tb", 2**40),
        ("k", 2**10), ("m", 2**20), ("g", 2**30), ("t", 2**40), ("b", 1),
    ):
        if raw.endswith(suf):
            mult, raw = m, raw[: -len(suf)]
            break
    try:
        n = int(float(raw))
    except ValueError:
        return 0
    return max(n * mult, 0)


#: Target bytes per partition of a loop's persisted edge checkpoint —
#: guide §2.2/§6: partitions in the 100 MB - 1 GB band, derived from the
#: ACTUAL row count rather than a constant tuned for one scale.  Env-
#: overridable for deployments with different executor memory budgets.
EDGE_PARTITION_TARGET_BYTES = int(
    os.environ.get("SEISDB_EDGE_PARTITION_BYTES", str(128 * 1024 * 1024))
)
#: Conservative serialized footprint of one symmetric edge row (2-3 bigint
#: fields as an UnsafeRow) used only for partition-count sizing.
EDGE_ROW_BYTES = 24
#: Parallelism floor granularity: one partition per this many edge rows,
#: capped at the session's core count — a 51k-row graph gets ONE task per
#: round (32 would pay 32x the scheduling for microsecond task bodies,
#: measured r18), a 2.4M-row graph ~10, and byte sizing takes over long
#: before the x1000 tier.
EDGE_ROWS_PER_TASK = 250_000


@contextmanager
def _aqe_off(spark):
    """Temporarily disable AQE while BUILDING a localCheckpoint.

    Why (guide §2.4, measured r18): ``Dataset.localCheckpoint`` preserves
    the physical plan's outputPartitioning into the checkpoint's
    LogicalRDD — but only when the plan is NOT wrapped in an
    AdaptiveSparkPlan (whose outputPartitioning is unknown before
    execution, so under AQE every checkpoint scans as
    UnknownPartitioning and every downstream keyed operator re-shuffles
    it).  Probed on this Spark: an AQE-off ``repartition(N, key)`` +
    localCheckpoint scans back as hashpartitioning(key, N) and a
    downstream (AQE-ON) groupBy/distinct/join on the key plans with ZERO
    Exchange.  The toggle covers only the checkpoint-build statement —
    the plans built inside are exchange-light by construction
    (repartition/explode/broadcast-hinted joins), so no AQE feature
    (skew split, SMJ->BHJ rewrite, coalescing) is lost where this is
    used."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def edge_partitions(spark, n_rows: int, row_bytes: int = EDGE_ROW_BYTES) -> int:
    """Scale-adaptive partition count for a persisted edge checkpoint
    (guide §2.2) — the AQE-off build below cannot rely on AQE coalescing,
    so the count is derived from the MEASURED row count:

    * bytes ceiling: at least ``n_rows * row_bytes /
      EDGE_PARTITION_TARGET_BYTES`` partitions, so x1000-tier corpora get
      memory-sized sort runs (~450 at 2.4B rows);
    * parallelism floor: ~one partition per :data:`EDGE_ROWS_PER_TASK`
      rows, capped at the session's core count — enough tasks to use the
      machine on CPU-bound rounds without paying per-task scheduling for
      microsecond task bodies on small graphs (a flat shuffle.partitions
      floor made sf0.1 WCC rounds ~3x slower: 32 tasks x 5 stages x 7
      rounds of almost-empty work)."""
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        cores = 8
    by_bytes = math.ceil(n_rows * row_bytes / EDGE_PARTITION_TARGET_BYTES)
    by_rows = min(cores, math.ceil(n_rows / EDGE_ROWS_PER_TASK))
    return max(by_bytes, by_rows, 1)


def symmetrize(edges: DataFrame, src: str, dst: str, *extra: str) -> DataFrame:
    """(u, v) -> both-direction (src, dst, *extra) rows via ONE explode —
    the union form scans its input twice per consumer; the explode form
    reads each checkpoint block once and generates both directions
    in-stage (guide §2.3: fewer bytes read per pass)."""
    both = F.array(
        F.struct(F.col(src).alias("src"), F.col(dst).alias("dst"), *extra),
        F.struct(F.col(dst).alias("src"), F.col(src).alias("dst"), *extra),
    )
    cols = ["e.src", "e.dst", *[f"e.{c}" for c in extra]]
    return edges.select(F.explode(both).alias("e")).select(*cols)


def partitioned_edge_checkpoint(
    df: DataFrame, key: str, n_rows: int, eager: bool = True
) -> DataFrame:
    """Materialize a loop's edge table hash-partitioned (and sorted) by its
    per-round JOIN key, with the partitioning PRESERVED into the
    checkpoint's LogicalRDD (see :func:`_aqe_off`).

    This is the 'persist the edges, shuffle only the state' superstep
    shape made literal: every round's edge-side join input is already
    clustered+sorted by the join key, so the per-round plan re-shuffles
    (and re-sorts, for sort-merge rounds at scale) only the loop STATE —
    at the x1000 tier that is 25.7M labels instead of 2.4B edge rows per
    round.  ``n_rows`` (the measured edge count) sizes the layout
    scale-adaptively via :func:`edge_partitions`."""
    spark = df.sparkSession
    n_part = edge_partitions(spark, n_rows)
    with _aqe_off(spark):
        return (
            df.repartition(n_part, key)
            .sortWithinPartitions(key)
            .localCheckpoint(eager=eager)
        )


@dataclass(frozen=True)
class Views:
    """What one superstep's SQL reads: the temp-view names of the current
    ``state``, the regime's ``edges`` and, for accumulating loops, the
    ``history`` (the union of every state so far), and the ``round``
    number (1-based)."""

    state: str
    edges: str
    history: str
    round: int


@dataclass(frozen=True)
class Round:
    """One superstep of a :func:`superstep_loop` run: its number, the
    regime it ran in (``"broadcast"`` or ``"scale"``), the state's row
    count after it, its wall seconds and the DataFrame it executed.  The
    executed plan is read only when a caller asks for it (:attr:`plan`)."""

    round: int
    regime: str
    rows: int
    seconds: float
    df: DataFrame

    @property
    def plan(self) -> str:
        return final_plan(self.df)


def _checkpoint_round(df: DataFrame, i: int) -> tuple[DataFrame, DataFrame]:
    """Checkpoint one round's result; returns ``(executed df, checkpoint)``.

    A round that shuffles is checkpointed as planned, under AQE, which
    keeps skew handling and coalescing where they matter.  An
    exchange-free round is re-planned with AQE off so the checkpoint
    keeps its partitioning (see :func:`_aqe_off`), after re-aliasing
    every column under a per-round metadata tag.  A round's SQL output
    is qualified by its view alias (``e.src``) while the physical
    partitioning it carries names the unqualified scan attribute, so when
    the next round references the checkpoint twice
    (``LogicalRDD.newInstance`` for the second reference) the
    partitioning is not rewritten and every re-bound round re-shuffles
    its state.  The alias gives the checkpoint fresh, unqualified output
    attributes and the projection maps the partitioning onto them; the
    tag differs from the input's, so RemoveRedundantAliases keeps it."""
    if count_exchanges(df._jdf.queryExecution().executedPlan().toString()):
        return df, df.localCheckpoint(eager=False)
    df = df.select(
        *[F.col(c).alias(c, metadata={"superstep": i}) for c in df.columns]
    )
    with _aqe_off(df.sparkSession):
        return df, df.localCheckpoint(eager=False)


def superstep_loop(
    seed: DataFrame,
    round_sql: Callable[[Views, bool], str],
    *,
    max_rounds: int,
    certificate: Sequence[Column] = (),
    seed_cert: tuple | None = None,
    broadcast_rows: int | None = None,
    edges: DataFrame | None = None,
    partition_edges: bool = False,
    accumulate: bool = False,
    name: str = "superstep loop",
    raise_at_cap: bool = False,
) -> tuple[DataFrame, list[Round]]:
    """Run ``round_sql`` to a fixpoint; returns ``(result, trace)``.

    The one driver of the fixpoint loops (connected components, k-core,
    BFS, SSSP).  Each algorithm supplies its seed state (a checkpoint the
    loop owns), its round as ONE SQL statement over the :class:`Views`
    for a regime, and its certificate; the driver owns the rest:

    * **regime gate**: a round is broadcast-regime when its broadcast
      side's exact row count times :data:`LOOP_STATE_ROW_BYTES` fits the
      session's ``autoBroadcastJoinThreshold``.  That side is the state
      (``broadcast_rows`` overrides it with a fixed bound, and an
      accumulating loop gates on its history).  Loop state is a
      checkpoint with unknown statistics, so the planner cannot make
      this choice itself, and AQE rewrites a sort-merge join to a
      broadcast only after both sides' exchanges have materialized — the
      edge side would pay a full shuffle write per round for a join that
      ends up broadcast anyway.  The loop knows the exact count.
    * **edges**: the round reads ``edges`` as its edge view.  With
      ``partition_edges``, scale-regime rounds read a src-partitioned
      checkpoint of it instead (:func:`partitioned_edge_checkpoint`),
      built on the first scale round and released when the loop exits.
    * **one statement per round**: PySpark DataFrame transformations
      re-analyze the whole accumulated tree eagerly, so a round built op
      by op pays one analyzer pass per op; one ``spark.sql`` statement
      over re-bound temp views analyzes it once.  View names are unique
      per call, so concurrent loops in one session never read each
      other's bindings; the views are dropped on exit.
    * **one action per round**: the round is localCheckpointed (cutting
      the lineage) and ONE aggregate, ``count(*)`` plus ``certificate``,
      both materializes the checkpoint and yields the round's
      certificate.
    * **convergence**: a replacing loop stops when the certificate equals
      the previous one (``seed_cert``, or the same aggregate over the
      seed); each algorithm argues why an equal certificate means an
      unchanged state.  An ``accumulate`` loop's state is a delta (BFS's
      frontier): it stops when the delta is empty, and the result is the
      history, the union of the seed and every delta.
    * **release**: a replacing loop releases each superseded state once
      its successor has materialized, and its current state when it
      raises.  Accumulated states are never released: they are the
      result.  The scale edge copy is released on every exit path.
    * **round cap**: after ``max_rounds`` rounds the loop raises
      RuntimeError when ``raise_at_cap`` (an unconverged result would be
      wrong) and returns quietly otherwise (a bounded ladder).

    The trace has one :class:`Round` per superstep: the final plan of a
    loop result shows only a scan of its last checkpoint, so the trace is
    where the supersteps that dominate the cost can be inspected."""
    spark = seed.sparkSession
    run = uuid.uuid4().hex[:12]
    names = [f"seisdb_loop_{run}_{r}" for r in ("s", "e", "h")]
    limit = _auto_broadcast_bytes(spark)
    state, history, scale_copy, trace = seed, seed, None, []
    try:
        if seed_cert is None:
            seed_cert = tuple(seed.agg(F.count(F.lit(1)), *certificate).first())
        cert, total = seed_cert, int(seed_cert[0] or 0)
        for i in range(1, max_rounds + 1):
            t0 = time.perf_counter()
            views = Views(*names, round=i)
            if broadcast_rows is not None:
                gate = broadcast_rows
            else:
                gate = total if accumulate else int(cert[0] or 0)
            broadcast = gate * LOOP_STATE_ROW_BYTES <= limit
            e = edges
            if not broadcast and partition_edges:
                if scale_copy is None:
                    scale_copy = partitioned_edge_checkpoint(
                        edges, "src", edges.count(), eager=False
                    )
                e = scale_copy
            if e is not None:
                e.createOrReplaceTempView(views.edges)
            state.createOrReplaceTempView(views.state)
            if accumulate:
                history.createOrReplaceTempView(views.history)
            df, nxt = _checkpoint_round(spark.sql(round_sql(views, broadcast)), i)
            new_cert = tuple(nxt.agg(F.count(F.lit(1)), *certificate).first())
            rows = int(new_cert[0] or 0)
            trace.append(
                Round(
                    i,
                    "broadcast" if broadcast else "scale",
                    rows,
                    time.perf_counter() - t0,
                    df,
                )
            )
            if accumulate:
                if rows == 0:
                    release_checkpoint(nxt)
                    return history, trace
                history, total = history.unionByName(nxt), total + rows
            else:
                release_checkpoint(state)
                if new_cert == cert:
                    return nxt, trace
            state, cert = nxt, new_cert
        if raise_at_cap:
            raise RuntimeError(f"{name} did not converge within {max_rounds} rounds")
        return (history if accumulate else state), trace
    except BaseException:
        if not accumulate:
            release_checkpoint(state)
        raise
    finally:
        if scale_copy is not None:
            release_checkpoint(scale_copy)
        for v in names:
            spark.catalog.dropTempView(v)


_CC_SCHEMA = T.StructType(
    [
        T.StructField("v", T.LongType(), False),
        T.StructField("component", T.LongType(), False),
    ]
)


def undirect(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """(a, b) pairs -> symmetric (src, dst) edge list."""
    a = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    b = pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return a.unionByName(b)


def cc_exact_lazy(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Exact connected components as one lazy plan: single-partition
    union-find with path compression over the edge list.  Returns
    (v, component) where component = min vertex id of v's component."""
    # repartition(1), not coalesce(1): coalesce is a narrow dependency that
    # would collapse the upstream verify-join stage into the same single
    # task; the explicit shuffle keeps candidate generation parallel and
    # single-threads only the union-find itself.
    edges = pairs.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).repartition(1)

    def union_find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["src"], pdf["dst"], strict=True):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        comp = {v: find(v) for v in parent}
        yield pd.DataFrame(
            {"v": list(comp.keys()), "component": list(comp.values())}
        ).astype("int64")

    return edges.mapInPandas(union_find, _CC_SCHEMA)


def _cc_round_sql(v: Views, broadcast: bool) -> str:
    """The FULL propagation round (neighbour-min hops + one pointer jump)
    as ONE SQL statement over the labeling view ``v.state`` (v, l) and the
    symmetric edge view ``v.edges``.

    Labels are always existing vertex ids (they start as vertex ids and
    only ever copy), so the pointer-jump join is inner.  The jump
    references the post-min labeling on BOTH sides (probe + lookup);
    Catalyst's ReuseExchange deduplicates the identical exchange
    subtrees, so the neighbour-min executes once per round and the
    second reference reads the ``ReusedExchange``.  A second jump per
    round does not cut the round count: the cascade is bounded by the
    neighbour-min's propagation radius, not label-tree height.

    Neighbour-min keying and hop count follow the regime:

    * ``broadcast``: the labeling is broadcast, so the join costs nothing
      either way — key on ``dst`` and aggregate by ``src``, the edge
      checkpoint's preserved partitioning key, making the aggregate
      EXCHANGE-FREE (the round plan carries zero shuffle exchanges).
      Each extra hop is then one more map pass over the in-memory edge
      checkpoint plus an exchange-free aggregate, and fewer rounds beat
      cheaper rounds while driver planning + stage scheduling set the
      round cost floor.  THREE hops per round is the measured optimum:
      at sf0.1, 2 hops took 7 rounds / 5.65 s, 3 hops 5 rounds / 5.02 s,
      4 hops 4 rounds / 6.14 s (per-round plan growth overtakes the
      saved actions at 4).
    * scale: key on ``src`` — the edge side of the sort-merge join is
      already clustered AND sorted by src (see
      :func:`partitioned_edge_checkpoint`), so only the |V|-row labeling
      shuffles per round; the aggregate (by dst) moves map-side partial
      minima, bounded by |V| per partition, never edge rows.  ONE hop:
      every extra hop would multiply the per-round shuffle bytes to save
      a fraction of the rounds.  No broadcast hints — the joins stay
      shuffle joins that AQE skew-handles.

    Both regimes converge to the identical labeling: each hop is a value
    no-op at the fixpoint, and the certificate only reports convergence
    when a whole round changed nothing."""
    e_view = v.edges
    cte: list[str] = []
    prev = v.state
    for h in range(1, (3 if broadcast else 1) + 1):
        if broadcast:
            nb = (
                f"nb{h} AS (SELECT /*+ BROADCAST({prev}) */ e.src AS v, "
                f"min({prev}.l) AS nb_l FROM {e_view} e "
                f"JOIN {prev} ON e.dst = {prev}.v GROUP BY e.src)"
            )
            m_hint = f"/*+ BROADCAST(nb{h}) */ "
        else:
            nb = (
                f"nb{h} AS (SELECT e.dst AS v, "
                f"min({prev}.l) AS nb_l FROM {e_view} e "
                f"JOIN {prev} ON e.src = {prev}.v GROUP BY e.dst)"
            )
            m_hint = ""
        cte.append(nb)
        cte.append(
            f"m{h} AS (SELECT {m_hint}{prev}.v, "
            f"least({prev}.l, coalesce(nb{h}.nb_l, {prev}.l)) AS l "
            f"FROM {prev} LEFT JOIN nb{h} ON {prev}.v = nb{h}.v)"
        )
        prev = f"m{h}"
    lk_hint = "/*+ BROADCAST(lk) */ " if broadcast else ""
    return (
        "WITH "
        + ",\n".join(cte)
        + f",\nlk AS (SELECT v AS lv, l AS ll FROM {prev})\n"
        + f"SELECT {lk_hint}{prev}.v, lk.ll AS l "
        + f"FROM {prev} JOIN lk ON {prev}.l = lk.lv"
    )


def connected_components(
    pairs: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 50
) -> tuple[DataFrame, list[Round]]:
    """Run :func:`_cc_round_sql` on :func:`superstep_loop` over a pair list
    to the fixpoint (no label changed).  Returns ``(labels, trace)``;
    labels are (v, component), the trace has one :class:`Round` per
    propagation round.  Raises RuntimeError after ``max_rounds``.

    The input may be directed and asymmetric: edges are symmetrized
    internally (labels propagate along ``dst -> src`` and the initial
    labeling is built from ``src`` — without symmetrization a dst-only
    vertex would silently never be labeled).  The pair list is counted
    first so the symmetric edge checkpoint's partition count is sized
    from the real row count, and it is laid out hash-partitioned +
    sorted by src (:func:`partitioned_edge_checkpoint`); it is released
    on every exit path.

    Convergence certificate: per-vertex labels are monotone
    NON-INCREASING across rounds (neighbour-min takes ``least``; the
    pointer jump maps l to the label of vertex l, itself <= l) over a
    CONSTANT vertex set (every label is an existing vertex id, so the
    jump's inner join drops nothing), so the (row count, BIGINT label
    sum) pair is unchanged iff NO label changed — with no compare join.

    Why the certificate is wrap-safe: under ANSI mode (the Spark 4
    default) an overflowing BIGINT sum raises mid-loop; under non-ANSI it
    wraps mod 2^64, and a wrap could fake convergence only if one round's
    TOTAL label decrease were an exact positive multiple of 2^64 —
    impossible while |V| * max(vertex id) < 2^63.  The seed aggregate
    takes try_sum (NULL, never a raise, on overflow) plus max(l), the max
    vertex id, and the loop refuses to run when |V| * max_id >= 2^63,
    turning both failure modes into one early ValueError; densely re-map
    vertex ids first (zipWithIndex / hash-rank) at that scale.  Past the
    guard every round's sum is bounded by the seed sum (labels only
    decrease), so the plain sum in the loop can neither raise nor wrap."""
    n_pairs = pairs.count()
    edges = partitioned_edge_checkpoint(
        symmetrize(pairs, src, dst), "src", 2 * n_pairs
    )
    try:
        m = (
            edges.select("src")
            .distinct()
            .select(F.col("src").alias("v"), F.col("src").alias("l"))
            # lazy: the seed aggregate below is the materializing action
            .localCheckpoint(eager=False)
        )
        seed = m.agg(
            F.count(F.lit(1)),
            F.try_sum("l").cast("bigint"),  # NULL (not an ANSI raise) on overflow
            F.max("l").cast("bigint"),
        ).first()
        n_vertices, max_id = int(seed[0] or 0), int(seed[2] or 0)
        if n_vertices * max_id >= 2**63:
            release_checkpoint(m)
            raise ValueError(
                "connected_components certificate precondition violated: "
                f"|V| ({n_vertices}) * max vertex id ({max_id}) >= 2^63 — "
                "densely re-map vertex ids before clustering at this scale"
            )
        labels, trace = superstep_loop(
            m,
            _cc_round_sql,
            max_rounds=max_rounds,
            certificate=[F.sum("l").cast("bigint")],
            seed_cert=(seed[0], seed[1]),
            edges=edges,
            name="connected_components",
            raise_at_cap=True,
        )
    finally:
        release_checkpoint(edges)  # the labeling no longer reads it
    return labels.select("v", F.col("l").alias("component")), trace


#: Above this many verified dup pairs, :func:`cc_auto` switches from the
#: single-task union-find to distributed pointer jumping.  At ~16 bytes of
#: Arrow payload per edge plus a Python dict entry (~100 bytes) per touched
#: vertex, 5M edges bounds the single task around a GB — comfortably inside
#: one executor core; a web-scale corpus's billions of pairs are not.
CC_SINGLE_TASK_MAX_EDGES = 5_000_000


def cc_auto(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_single_task_edges: int = CC_SINGLE_TASK_MAX_EDGES,
) -> DataFrame:
    """Connected components for ACTION paths: materialize the pair list
    once (localCheckpoint — it feeds both the count and the chosen CC
    form without recomputing the LSH verify), count it, and dispatch:
    single-task union-find when the edge list fits one task, distributed
    pointer jumping when it doesn't.  Runs jobs — never use in a lazy
    ``queries()`` plan builder (those hard-code :func:`cc_exact_lazy`)."""
    edges = pairs.select(
        F.col(src).cast("long").alias(src), F.col(dst).cast("long").alias(dst)
    ).localCheckpoint(eager=True)
    if edges.count() <= max_single_task_edges:
        return cc_exact_lazy(edges, src, dst)
    labels, _trace = connected_components(edges, src, dst)
    return labels
