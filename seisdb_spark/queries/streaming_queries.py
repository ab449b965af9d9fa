"""Driver-facing entries for the Structured Streaming variants: each runs
the stream to completion (availableNow trigger, memory sink) and returns the
final result table, so the driver's DuckDB oracle can hash-compare it like
any batch query — streamed-vs-batch equivalence IS the correctness claim.

The long-running form (real triggers, watermark-driven append emission,
foreachBatch snapshot ingest into the encode tail) lives in
``seisdb_spark.streaming`` and is batch-equivalence tested in
tests/test_streaming.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from seisdb_spark.queries.registry import REGISTRY, query

# Every module whose REGISTRY entry a module-level _share_oracle() call
# below reads is imported HERE as defense-in-depth.  (Importing
# streaming_queries directly still executes the package __init__ first,
# which registers every module before this one — so these imports guard
# against a future __init__ reordering, not against direct imports.)
# Side-effect imports (they fill REGISTRY); no cycles — none of them
# imports streaming_queries.
from seisdb_spark.queries import extensions  # noqa: F401  (ext_* facade)
from seisdb_spark.queries import graph_queries  # noqa: F401
from seisdb_spark.queries import relational  # noqa: F401
from seisdb_spark.queries import temporal  # noqa: F401
from seisdb_spark.streaming import (
    read_events_stream,
    run_to_memory,
    sessionize_stream,
    tumbling_counts_stream,
)

_run_counter = itertools.count()


def _unique(name: str) -> str:
    # memory-sink query names are session-global; keep re-runs collision-free
    return f"{name}_{next(_run_counter)}"


_probe_roots: set[str] = set()


def _register_probe_cleanup(root: str) -> None:
    # one atexit registration per distinct root, however many times the
    # probe query re-runs
    if root not in _probe_roots:
        import atexit
        import shutil

        _probe_roots.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)


def _probe_root(prefix: str, sf_dir: str, out_dir: str | None) -> str:
    """Staging root shared by every streaming twin: DETERMINISTIC per
    (process, sf_dir) — never a fresh mkdtemp per call — with the
    previous run's tree wiped up front so repeat invocations cannot
    accumulate temp trees, and session-end cleanup registered for
    auto-derived roots.  Callers wanting the artifacts visible pass
    out_dir.  One helper instead of a per-query copy: a fix to the
    keying or cleanup scheme lands once."""
    import hashlib
    import os
    import shutil
    import tempfile

    if out_dir is None:
        key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        out_dir = os.path.join(
            tempfile.gettempdir(),
            f"seisdb_stream_{prefix}_{os.getpid()}_{key}",
        )
        _register_probe_cleanup(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    return out_dir


def _ingest_log(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None,
    prefix: str,
    subdir: str,
    reader,
    per_batch,
) -> DataFrame:
    """The single-log scan-once-at-ingest skeleton shared by the
    observation/partial twins (SCD2, gap-fill, funnel, CDC, OHLC):
    compact each arriving microbatch with ``per_batch`` (a stage shared
    with the batch twin), persist it under a batch_id-derived OVERWRITE
    path — idempotent under checkpoint replays, the replay-safety
    invariant lands here ONCE — then return the merged log for the
    caller's read-side compaction.  Twins with more than one log table
    (cohort) or a pre-published static side (zone maps) keep their own
    bodies."""
    import os

    out_dir = _probe_root(prefix, sf_dir, out_dir)
    log_dir = os.path.join(out_dir, subdir)
    ckpt = os.path.join(out_dir, "ckpt")

    def compact(bdf: DataFrame, batch_id: int) -> None:
        per_batch(bdf).write.mode("overwrite").parquet(
            os.path.join(log_dir, f"batch-{batch_id}")
        )

    q = (
        reader(spark, sf_dir)
        .writeStream.foreachBatch(compact)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.option("recursiveFileLookup", "true").parquet(log_dir)


def _share_oracle(twin: str, source: str) -> None:
    """stream==batch equivalence: the twin's persisted partials merge to
    the batch stage's output exactly (associative merges, pinned by the
    split pytest), so the twin carries the batch query's oracle SQL
    verbatim.  QuerySpec is frozen; replace the registry entry."""
    from dataclasses import replace

    REGISTRY[twin] = replace(REGISTRY[twin], oracle=REGISTRY[source].oracle)


@query(
    "streaming_tumbling_counts",
    oracle=REGISTRY["tumbling_window_counts"].oracle,
    doc="Structured Streaming twin of tumbling_window_counts: file-source "
    "stream over the events table, 2h watermark, 1h tumbling event-time "
    "windows, availableNow to a memory sink. Same oracle as the batch twin "
    "— the hash match proves stream==batch on complete data. State is keyed "
    "by (window, event_type): distributed, watermark-bounded.",
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = tumbling_counts_stream(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, _unique("drv_tumbling"))


@query(
    "streaming_sessionize",
    oracle=f"""
        SELECT user_id, n_events, session_start, session_end
        FROM ({REGISTRY["sessionize_events"].oracle})
    """,
    doc="Structured Streaming sessionization via the built-in "
    "session_window (30 min gap, 2h watermark), availableNow to a memory "
    "sink. Oracle = the batch lag+running-sum sessionizer minus its ordinal "
    "session_id — identical session boundaries is the equivalence claim.",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sessionize_stream(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, _unique("drv_sessions"))


@query(
    "streaming_sliding_counts",
    oracle=REGISTRY["sliding_window_counts"].oracle,
    doc="Structured Streaming sliding windows (1h / 30min slide, 2h "
    "watermark) over the events file stream, availableNow to a memory "
    "sink. Each event updates 2 window states; watermark bounds state. "
    "Same oracle as the batch twin — round 4 proved why rows-only is not "
    "enough here: a decode bug compressed every event time 1000x and the "
    "row count alone never flagged it.",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.streaming import sliding_counts_stream

    stream = sliding_counts_stream(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, _unique("drv_sliding"))


@query(
    "streaming_dedup_events",
    oracle="""
        SELECT event_type, count(*) AS n_unique
        FROM events
        GROUP BY event_type
    """,
    doc="Streaming exact dedup (watermarked dropDuplicates on event_id; "
    "first arrival wins, seen-key state evicted past the 2h watermark) -> "
    "append to memory -> batch count per type. Driver data has unique ids, "
    "so the oracle is a plain GROUP BY; the duplicate-heavy path (same file "
    "staged twice -> half the rows dropped) is tests/test_streaming.py.",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from seisdb_spark.streaming import dedup_events_stream

    deduped = run_to_memory(
        dedup_events_stream(read_events_stream(spark, sf_dir)),
        _unique("drv_dedup"),
        output_mode="append",
    )
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


@query(
    "streaming_incremental_dedup",
    oracle=None,  # set right after definition: shares the batch twin's SQL
    doc="STREAMING CURATION: arriving documents (doc_id%10==0 stand in for "
    "the new batch) probe a STATIC corpus LSH band index per microbatch — "
    "foreachBatch runs the same candidates-only band-join + exact-Jaccard "
    "verify as the batch twin (dedup_incremental_probe) and appends "
    "verified near-dup pairs to a staging parquet table. The corpus index "
    "is computed once and reused across microbatches; per-batch cost "
    "scales with the batch. The oracle is the batch twin's SQL — "
    "stream==batch on complete data is the correctness claim.",
)
def streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.functions.text import (
        band_key_exprs,
        minhash_agg_exprs,
        shingle_tokens,
        with_token_hash,
    )
    from seisdb_spark.queries.extensions import (
        JACCARD_THRESHOLD,
        _verify_jaccard,
    )
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    def bands_of(sh):
        sig = with_token_hash(sh).groupBy("doc_id").agg(*minhash_agg_exprs())
        return sig.select(
            "doc_id", F.posexplode(F.array(*band_key_exprs())).alias("band", "bk")
        )

    corpus = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    # The corpus index must be computed ONCE and reused across microbatches
    # (Spark never reuses exchanges across separate foreachBatch actions) —
    # persist both the shingle table and the band index; production would
    # write the band index as a bucketed parquet table instead.
    corpus_sh = shingle_tokens(corpus).persist()
    corpus_bands = bands_of(corpus_sh).persist()


    # Staging root is DETERMINISTIC per (process, sf_dir) — not a fresh
    # mkdtemp per call — and the previous run's tree is removed up front, so
    # repeat invocations never accumulate temp trees for the process
    # lifetime.  Callers wanting the artifacts visible pass out_dir.
    root = _probe_root("probe", sf_dir, out_dir)
    pairs_dir = os.path.join(root, "pairs")
    ckpt = os.path.join(root, "ckpt")

    def probe(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.filter(F.col("doc_id") % 10 == 0)
        bsh = shingle_tokens(batch)
        cand = (
            bands_of(bsh)
            .alias("a")
            .join(
                corpus_bands.alias("b"),
                (F.col("a.band") == F.col("b.band")) & (F.col("a.bk") == F.col("b.bk")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        (
            _verify_jaccard(corpus_sh.unionByName(bsh), cand)
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select(
                F.col("doc_a").alias("batch_doc"),
                F.col("doc_b").alias("corpus_doc"),
                F.round("jaccard", 4).alias("jaccard"),
            )
            # batch_id-derived OVERWRITE path: a checkpoint-recovery replay
            # of an already-committed epoch rewrites its own directory
            # instead of appending duplicates — foreachBatch's contract is
            # at-least-once per batch_id, so the sink must be idempotent
            # per batch_id to get the exactly-once the doc string claims
            .write.mode("overwrite")
            .parquet(os.path.join(pairs_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(probe)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        corpus_bands.unpersist()
        corpus_sh.unpersist()
    return (
        spark.read.schema("batch_doc long, corpus_doc long, jaccard double")
        .option("recursiveFileLookup", "true")
        .parquet(pairs_dir)
    )


# stream==batch equivalence: the streaming probe's oracle IS the batch
# twin's SQL (registered after both exist; QuerySpec is frozen, so replace
# the registry entry rather than mutating it).
_share_oracle("streaming_incremental_dedup", "dedup_incremental_probe")


@query(
    "streaming_static_enrich",
    oracle="""
        SELECT c_mktsegment, count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c_mktsegment
    """,
    doc="Stream-static join: the events stream joins the broadcast customer "
    "dimension per microbatch (no stream-side shuffle for the join), then "
    "aggregates per market segment — the standard streaming-enrichment "
    "shape; at 100 TB/day the dimension refreshes by re-broadcast, never by "
    "re-shuffling the stream.",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import enrich_stream_static

    events = read_events_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer")
    return run_to_memory(enrich_stream_static(events, customers), _unique("drv_enrich"))


@query(
    "streaming_quality_gate",
    oracle=None,  # set right after definition: shares the derived batch SQL
    doc="STREAMING model-based quality filtering: the hashed bag-of-words "
    "linear classifier (quality_classifier_score) applied to an arriving "
    "documents stream. The per-document margin is computed as a PER-ROW "
    "higher-order fold (transform + aggregate over the token array, "
    "weights derived from md5(token)) — a stateless projection, so the "
    "stream needs NO state store and NO watermark; the only stateful step "
    "is the final (lang, keep) count aggregation in complete mode. This "
    "per-row form is the inference shape a stream REQUIRES (a per-doc "
    "groupBy would force stateful aggregation); integer weight sums keep "
    "it bit-identical to the batch twin. Oracle: the same per-row fold in "
    "DuckDB lambdas, aggregated per (lang, keep) — stream==batch on "
    "complete data.",
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from seisdb_spark.queries.extensions import QC_WEIGHT_MOD, QC_WEIGHT_SHIFT
    from seisdb_spark.streaming import read_documents_stream

    sum_w = F.expr(
        "aggregate(transform(split(text, ' '), "
        "w -> cast(conv(substring(md5(cast(w as binary)), 1, 8), 16, 10) "
        f"as bigint) % {QC_WEIGHT_MOD} - {QC_WEIGHT_SHIFT}), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = read_documents_stream(spark, sf_dir).select(
        "lang",
        sum_w.alias("sum_w"),
    )
    agg = scored.groupBy(
        "lang", F.when(F.col("sum_w") >= 0, 1).otherwise(0).alias("keep")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("sum_w").alias("total_weight"),
    )
    return run_to_memory(agg, _unique("drv_quality"))


def _share_quality_oracle() -> None:
    from dataclasses import replace

    from seisdb_spark.queries.extensions import (
        QC_WEIGHT_MOD,
        QC_WEIGHT_SHIFT,
        _duck_hexparse8,
    )

    sql = f"""
        WITH per AS (
            SELECT lang,
                   list_aggregate(list_transform(string_split(text, ' '),
                       w -> ({_duck_hexparse8("w")}) % {QC_WEIGHT_MOD}
                            - {QC_WEIGHT_SHIFT}), 'sum') AS sum_w
            FROM documents
        )
        SELECT lang,
               CASE WHEN sum_w >= 0 THEN 1 ELSE 0 END AS keep,
               count(*) AS n_docs,
               CAST(sum(sum_w) AS BIGINT) AS total_weight
        FROM per GROUP BY lang, CASE WHEN sum_w >= 0 THEN 1 ELSE 0 END
    """
    REGISTRY["streaming_quality_gate"] = replace(
        REGISTRY["streaming_quality_gate"], oracle=sql
    )


_share_quality_oracle()


@query(
    "streaming_decontamination",
    oracle=None,  # set right after definition: shares the batch twin's SQL
    doc="STREAMING DECONTAMINATION — the ingest-path form of "
    "decontamination_overlap: the benchmark 8-word shingle set is computed "
    "ONCE from the static eval holdout and BROADCAST; each microbatch of "
    "arriving training documents shingles itself and probes it via "
    "foreachBatch, appending per-doc collision counts to a staging table. "
    "Per-doc results are complete within the doc's own microbatch (a "
    "document row is atomic in the file stream), so the union over batches "
    "equals the batch twin — whose oracle this query shares. This is how "
    "a production pipeline keeps eval contamination out at the door "
    "instead of sweeping the full corpus after the fact; per-ingest cost "
    "scales with the batch, never the corpus.",
)
def streaming_decontamination(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.functions.text import shingle_tokens
    from seisdb_spark.queries.extensions import DECON_BENCH_MOD, DECON_SHINGLE_K
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench_sh = (
        shingle_tokens(
            load_table(spark, sf_dir, "documents").filter(is_bench),
            k=DECON_SHINGLE_K,
        )
        .select(F.col("doc_id").alias("bench_id"), "sh")
        .persist()
    )

    root = _probe_root("decon", sf_dir, out_dir)
    hits_dir = os.path.join(root, "hits")
    ckpt = os.path.join(root, "ckpt")

    def probe(bdf: DataFrame, batch_id: int) -> None:
        # distinct=False: the countDistinct aggregate dedups after the tiny
        # hit set exists — same redundant-shuffle removal as decon_join
        batch_sh = shingle_tokens(
            bdf.filter(~is_bench), k=DECON_SHINGLE_K, distinct=False
        )
        (
            batch_sh.join(F.broadcast(bench_sh), "sh")
            .groupBy("doc_id")
            .agg(
                F.countDistinct("sh").alias("n_shared_shingles"),
                F.countDistinct("bench_id").alias("n_bench_docs"),
            )
            # idempotent per batch_id (overwrite of a batch-derived path),
            # so checkpoint-recovery replays cannot duplicate per-doc rows
            # — same fix as the incremental-dedup probe above
            .write.mode("overwrite")
            .parquet(os.path.join(hits_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(probe)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        bench_sh.unpersist()
    return (
        spark.read.schema("doc_id long, n_shared_shingles long, n_bench_docs long")
        .option("recursiveFileLookup", "true")
        .parquet(hits_dir)
    )


_share_oracle("streaming_decontamination", "decontamination_overlap")


@query(
    "streaming_novelty_probe",
    oracle=None,  # set below (needs extensions' shingle CTE at import end)
    doc="STREAMING NOVELTY PROBE (streaming/ingest.py::novelty_probe): each "
    "arriving document (doc_id % 10 == 0) is scored for the fraction of "
    "its distinct word shingles ABSENT from the static corpus's gram "
    "inventory (doc_id % 10 != 0) — the ingest-path reading of "
    "ngram_novelty_score, measured against the EXISTING corpus rather "
    "than ingestion order. The corpus inventory is computed once and "
    "persisted across microbatches; each batch's gram set is the small "
    "build side of the membership join; per-batch outputs land in "
    "batch_id-derived overwrite paths (idempotent under checkpoint "
    "replays). Per-ingest cost scales with the batch, never the corpus. "
    "Oracle recomputes both sides relationally over the full table.",
)
def streaming_novelty_probe(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from seisdb_spark.streaming.ingest import novelty_probe

    # deliberately NOT _probe_root: novelty_probe manages (and wipes) its
    # own staging tree, so only the keying + cleanup registration happen here
    if out_dir is None:
        key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        out_dir = os.path.join(
            tempfile.gettempdir(), f"seisdb_stream_novelty_{os.getpid()}_{key}"
        )
        _register_probe_cleanup(out_dir)
    return novelty_probe(spark, sf_dir, out_dir)


def _set_novelty_probe_oracle() -> None:
    from dataclasses import replace

    from seisdb_spark.queries.extensions import _SHINGLE_CTE

    sql = f"""
        WITH {_SHINGLE_CTE},
        corpus AS (SELECT DISTINCT sh FROM shingle WHERE doc_id % 10 <> 0),
        b AS (
            SELECT doc_id,
                   CASE WHEN sh IN (SELECT sh FROM corpus) THEN 0 ELSE 1 END
                       AS novel
            FROM shingle WHERE doc_id % 10 = 0
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(novel) AS BIGINT) AS n_novel,
               round(CAST(sum(novel) AS DOUBLE) / count(*), 6) AS novelty
        FROM b GROUP BY doc_id
    """
    REGISTRY["streaming_novelty_probe"] = replace(
        REGISTRY["streaming_novelty_probe"], oracle=sql
    )


_set_novelty_probe_oracle()


@query(
    "streaming_int4_quantize",
    oracle=None,  # set below: shares the batch twin's SQL
    doc="STREAMING INT4 QUANTIZE-ON-INGEST: arriving embedding vectors are "
    "block-quantized to int4 INSIDE each microbatch by the SAME row-local "
    "transform as the batch twin (extensions.py::int4_block_quantize_df) "
    "— per-vector per-block grids need no stats pass and no shuffle of "
    "any kind, so the quantizer runs at ingest cost with zero corpus "
    "jobs: this query makes the batch twin's 'quantizes streaming ingest "
    "without a stats job' claim executable. foreachBatch appends int4 "
    "codes to batch_id-derived OVERWRITE paths (idempotent under "
    "checkpoint-recovery replays; foreachBatch is at-least-once per "
    "batch_id). The oracle is the batch twin's SQL — stream==batch on "
    "complete data is the correctness claim, exact because every code "
    "and error term is row-local integer/double arithmetic independent "
    "of batching.",
)
def streaming_int4_quantize(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from seisdb_spark.queries.extensions import int4_block_quantize_df
    from seisdb_spark.streaming import read_embeddings_stream

    out_dir = _probe_root("int4", sf_dir, out_dir)
    codes_dir = os.path.join(out_dir, "codes")
    ckpt = os.path.join(out_dir, "ckpt")

    def quantize(bdf: DataFrame, batch_id: int) -> None:
        (
            int4_block_quantize_df(bdf)
            .write.mode("overwrite")
            .parquet(os.path.join(codes_dir, f"batch-{batch_id}"))
        )

    q = (
        read_embeddings_stream(spark, sf_dir)
        .writeStream.foreachBatch(quantize)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema("vec_id long, codes string, qerr double")
        .option("recursiveFileLookup", "true")
        .parquet(codes_dir)
    )


# stream==batch equivalence: the streaming quantizer's oracle IS the batch
# twin's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_int4_quantize", "embedding_int4_block_quantize")


@query(
    "streaming_hll_rollup",
    oracle=None,  # set below: shares the batch rollup's SQL
    doc="STREAMING SKETCH MAINTENANCE: each arriving document microbatch "
    "contributes per-(lang, source) DataSketches HLL partials "
    "(hll_sketch_agg over the batch's words) appended to a sketch TABLE "
    "in batch_id-derived overwrite paths — the incremental form of "
    "hll_sketch_rollup's stored-partials stage: raw text is scanned "
    "exactly once, AT INGEST, and every later distinct-count rollup "
    "merges kilobyte sketches. The final rollup union-merges partials "
    "across batches AND sources per lang (HLL union takes per-register "
    "maxima — associative and split-invariant, so batch boundaries "
    "cannot change the merged register state) and gates the estimate "
    "within +-5% of the exact distinct count from the full table. "
    "Oracle is the batch twin's SQL — stream==batch on complete data.",
)
def streaming_hll_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.queries.extensions import HLL_LGK
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("hll", sf_dir, out_dir)
    sk_dir = os.path.join(out_dir, "sketches")
    ckpt = os.path.join(out_dir, "ckpt")

    def sketch(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.select(
                "lang", "source", F.explode(F.split("text", " ")).alias("w")
            )
            .filter(F.col("w") != "")
            .groupBy("lang", "source")
            .agg(F.expr(f"hll_sketch_agg(w, {HLL_LGK})").alias("sk"))
            .write.mode("overwrite")
            .parquet(os.path.join(sk_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(sketch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = (
        spark.read.schema("lang string, source string, sk binary")
        .option("recursiveFileLookup", "true")
        .parquet(sk_dir)
    )
    merged = partials.groupBy("lang").agg(
        F.countDistinct("source").cast("int").alias("n_sources"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
    )
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang")
        .agg(F.countDistinct("w").alias("exact_distinct"))
    )
    within = (
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * 0.05
        )
        .cast("int")
        .alias("merged_within")
    )
    return exact.join(merged, "lang").select(
        "lang", "n_sources", "exact_distinct", within
    )


# stream==batch equivalence: the streaming sketch table's oracle IS the
# batch rollup's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_hll_rollup", "hll_sketch_rollup")


@query(
    "streaming_topk_rollup",
    oracle=None,  # set below: shares the batch gate's SQL
    doc="STREAMING HEAVY-HITTERS MAINTENANCE: each arriving document "
    "microbatch contributes ONE approx_top_k_accumulate sketch row "
    "(Spark 4's mergeable frequent-items partial: a binary sketch + its "
    "capacity) appended to a persisted sketch table in batch_id-derived "
    "overwrite paths — the incremental form of heavy_hitters_gate, so "
    "the frequent-items class gets the scan-once-at-ingest shape the "
    "HLL table already has. The rollup approx_top_k_combine-merges the "
    "partials and gates exactly like the batch twin (exact top-K "
    "referee, membership + +-5% flags, capacity-sized broadcast cut to "
    "k rows). UNLIKE HLL union, top-k combine is NOT boundary-invariant "
    "in general (past capacity, eviction order depends on the split), "
    "so capacity is sized at 1.3x the full vocab (hh_tracked_capacity "
    "over the same KB-sized HLL-on-vocab stat the batch gate reads) — "
    "in that capacity >= cardinality regime every partial tracks its "
    "batch's full count map, combine is exact element-wise addition, "
    "and stream == batch EXACTLY (the 3-microbatch pytest pins it). "
    "Oracle is the batch gate's SQL — stream==batch on complete data.",
)
def streaming_topk_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seisdb_spark.queries.extensions import (
        HLL_LGK,
        hh_exact_topk,
        hh_gate_report,
        hh_tracked_capacity,
    )
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("topk", sf_dir, out_dir)
    sk_dir = os.path.join(out_dir, "sketches")
    ckpt = os.path.join(out_dir, "ckpt")

    # the exact referee needs the full table regardless; its vocab is
    # materialized once (Zipf-small) and sizes the capacity via the same
    # KB-sized HLL stat the batch gate uses.  capacity >= 1.3x vocab is
    # what makes the per-batch sketches exact and the combine
    # boundary-invariant (see doc)
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    est_nd = wc.agg(
        F.expr(f"hll_sketch_estimate(hll_sketch_agg(w, {HLL_LGK}))").alias(
            "nd"
        )
    ).collect()[0]["nd"]
    tracked = hh_tracked_capacity(int(est_nd))

    def sketch(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .agg(
                F.expr(f"approx_top_k_accumulate(w, {tracked})").alias("st")
            )
            .write.mode("overwrite")
            .parquet(os.path.join(sk_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(sketch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = (
        spark.read.schema(
            "st struct<sketch:binary,maxItemsTracked:int,"
            "itemDataType:string,itemDataTypeDDL:string>"
        )
        .option("recursiveFileLookup", "true")
        .parquet(sk_dir)
    )
    # combine the persisted partials and read back the FULL tracked list
    # (the batch gate's tie-safe probe shape)
    sketch_full = (
        partials.agg(
            F.expr(
                f"approx_top_k_estimate("
                f"approx_top_k_combine(st, {tracked}), {tracked})"
            ).alias("tk")
        )
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("word"), F.col("e.count").alias("est"))
    )
    # the SAME referee + gate tail as the batch gate (shared oracle)
    exact = hh_exact_topk(wc)
    return hh_gate_report(exact, sketch_full)


# stream==batch equivalence: the streaming top-k sketch table's oracle IS
# the batch gate's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_topk_rollup", "heavy_hitters_gate")


@query(
    "streaming_cm_rollup",
    oracle=None,  # set below: shares the batch gate's SQL
    doc="STREAMING COUNT-MIN MAINTENANCE: each arriving document "
    "microbatch contributes per-source count-min counter partials "
    "(functions/cms.py cm_partials — at most sources x depth x width "
    "rows per batch however many tokens flowed in) appended to a "
    "persisted sketch table in batch_id-derived overwrite paths — the "
    "incremental form of cm_sketch_gate, completing the per-class "
    "symmetry: distinct (HLL), top-k, and point frequencies each have "
    "a batch rollup AND its scan-once-at-ingest twin. Count-min merge "
    "IS element-wise addition of exact integer counters (one "
    "groupBy(d,col).sum over the KB-sized partials), so it is "
    "associative and batch boundaries PROVABLY cannot change the "
    "merged table — no capacity regime needed, unlike approx_top_k. "
    "The rollup then probes the fixed word list and hard-gates both "
    "directions exactly like the batch twin. Oracle is the batch "
    "gate's SQL — stream==batch on complete data.",
)
def streaming_cm_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import math
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.functions import cms
    from seisdb_spark.queries.extensions import (
        CMS_PROBE_WORDS,
        cm_gate_report,
    )
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("cm", sf_dir, out_dir)
    sk_dir = os.path.join(out_dir, "sketches")
    ckpt = os.path.join(out_dir, "ckpt")

    def sketch(bdf: DataFrame, batch_id: int) -> None:
        tok_b = bdf.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        ).filter(F.col("w") != "")
        (
            cms.cm_partials(tok_b, "w", ["source"])
            .write.mode("overwrite")
            .parquet(os.path.join(sk_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(sketch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = (
        spark.read.schema("source string, d int, col int, n long")
        .option("recursiveFileLookup", "true")
        .parquet(sk_dir)
    )
    merged = cms.cm_merge(partials).localCheckpoint(eager=True)
    probes = spark.createDataFrame(
        [(w,) for w in CMS_PROBE_WORDS], "word string"
    )
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    # the SAME probe/referee/gate tail as the batch gate (shared oracle
    # — a bound edit applied to one twin but not the other would break
    # stream==batch parity)
    return cm_gate_report(tok, merged, probes)


# stream==batch equivalence: the streaming counter table's oracle IS the
# batch gate's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_cm_rollup", "cm_sketch_gate")


@query(
    "streaming_kmv_rollup",
    oracle=None,  # set below: shares the batch gate's SQL
    doc="STREAMING KMV MAINTENANCE: each arriving document microbatch "
    "contributes per-source bottom-k hash signatures (functions/kmv.py "
    "kmv_sketch over the batch's distinct words — k-bounded rows per "
    "source per batch) appended to a persisted signature table in "
    "batch_id-derived overwrite paths — the incremental form of "
    "kmv_jaccard_gate, completing the per-class symmetry for ALL FOUR "
    "mergeable sketch classes (distinct/HLL, top-k, point frequency, "
    "set operations): raw text scanned once AT INGEST, every later "
    "cross-source overlap question merges KB-sized bottom-k arrays. "
    "Bottom-k merge (flatten -> distinct -> sort -> slice k) is exact "
    "and associative — the bottom-k of a union IS the bottom-k of the "
    "merged bottom-ks — so batch boundaries provably cannot change the "
    "merged signature (the pytest pins stream==batch frame-equal on a "
    "3-microbatch split). The rollup gates pairwise Jaccard/union "
    "exactly like the batch twin. Oracle is the batch gate's SQL.",
)
def streaming_kmv_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.functions import kmv
    from seisdb_spark.queries.extensions import (
        KMV_GATE_SOURCES,
        kmv_pair_gate,
        kmv_source_vocab,
    )
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("kmv", sf_dir, out_dir)
    sk_dir = os.path.join(out_dir, "signatures")
    ckpt = os.path.join(out_dir, "ckpt")

    def sign(bdf: DataFrame, batch_id: int) -> None:
        sw_b = (
            bdf.filter(F.col("source").isin(*KMV_GATE_SOURCES))
            .select("source", F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .distinct()
        )
        (
            kmv.kmv_sketch(sw_b, "w", ["source"])
            .write.mode("overwrite")
            .parquet(os.path.join(sk_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(sign)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = (
        spark.read.schema("source string, ks array<bigint>")
        .option("recursiveFileLookup", "true")
        .parquet(sk_dir)
    )
    # bottom-k union across batches per source: flatten the collected
    # per-batch arrays, dedup, sort, keep k — exact and associative
    sk = partials.groupBy("source").agg(
        F.expr(
            "slice(array_sort(array_distinct(flatten(collect_list(ks)))), "
            f"1, {kmv.KMV_K})"
        ).alias("ks")
    )
    docs = load_table(spark, sf_dir, "documents")
    return kmv_pair_gate(kmv_source_vocab(docs), sk)


# stream==batch equivalence: the streaming signature table's oracle IS
# the batch gate's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_kmv_rollup", "kmv_jaccard_gate")


@query(
    "streaming_lm_score",
    oracle=None,  # set below: shares the batch gate's SQL
    doc="STREAMING LM SCORE-ON-INGEST: the trained bigram LM's other "
    "half of the train-once/score-forever story made executable — the "
    "model is trained ONCE from the static reference slice (the "
    "localCheckpointed count tables ARE the persisted model), then "
    "every arriving document microbatch is scored by the SAME extracted "
    "transform as the batch gate (extensions.py::lm_score_df joined "
    "against the SAME in-memory tables — a stream-static join, the "
    "production CCNet shape where quality filtering runs at ingest "
    "cost, not as a corpus job). foreachBatch writes per-doc scores to "
    "batch_id-derived OVERWRITE paths (idempotent under checkpoint-"
    "recovery replays). Every score depends only on that document's own "
    "text plus the static LM tables — bigrams never span documents and "
    "documents never span microbatches — so stream==batch is exact, and "
    "the oracle is the batch twin's SQL. 15th oracle-bearing streaming "
    "entry.",
)
def streaming_lm_score(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from seisdb_spark.queries.extensions import (
        lm_score_df,
        train_lm_from_corpus,
    )
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("lm", sf_dir, out_dir)
    scores_dir = os.path.join(out_dir, "scores")
    ckpt = os.path.join(out_dir, "ckpt")

    # Train once, BEFORE the stream starts: the count tables come back
    # localCheckpointed (materialized), so each microbatch joins against
    # computed state — no per-batch re-train, no reference re-scan.
    bc, cc, vocab = train_lm_from_corpus(spark, sf_dir)

    def score(bdf: DataFrame, batch_id: int) -> None:
        (
            lm_score_df(bdf, bc, cc, vocab)
            .write.mode("overwrite")
            .parquet(os.path.join(scores_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(score)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(
            "doc_id long, n_bigrams long, mean_nll_nano long, ppl_keep int"
        )
        .option("recursiveFileLookup", "true")
        .parquet(scores_dir)
    )


# stream==batch equivalence: the streaming scorer's oracle IS the batch
# gate's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_lm_score", "ngram_lm_perplexity")


@query(
    "streaming_quantile_rollup",
    oracle=None,  # set below: shares the batch rollup's SQL
    doc="STREAMING QUANTILE SKETCH MAINTENANCE (16th oracle-bearing "
    "streaming entry — with it, EVERY mergeable sketch class in the "
    "engine has a scan-once-at-ingest twin): each arriving document "
    "microbatch contributes per-source fixed-grid histogram partials "
    "(functions/histq.py, <= 64 rows per source per batch) appended to "
    "a persisted sketch table in batch_id-derived OVERWRITE paths. The "
    "final rollup addition-merges partials across batches AND sources — "
    "integer addition is associative and commutative, so microbatch "
    "boundaries provably cannot change a single merged count — then "
    "estimates the probed quantiles and gates them against the exact "
    "referee, exactly as the batch twin does (whose oracle it shares: "
    "stream==batch on complete data).",
)
def streaming_quantile_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seisdb_spark.functions import histq
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("hq", sf_dir, out_dir)
    sk_dir = os.path.join(out_dir, "hist")
    ckpt = os.path.join(out_dir, "ckpt")

    def sketch(bdf: DataFrame, batch_id: int) -> None:
        (
            histq.hist_partials(bdf, "n_chars", ["source"])
            .write.mode("overwrite")
            .parquet(os.path.join(sk_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(sketch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = (
        spark.read.schema("source string, bin long, n long")
        .option("recursiveFileLookup", "true")
        .parquet(sk_dir)
    )
    merged = histq.hist_merge(partials)
    qb = histq.hist_quantile_bins(merged)
    docs = load_table(spark, sf_dir, "documents")
    # the SAME referee + gate tail as the batch rollup (shared oracle)
    from seisdb_spark.queries.extensions import hq_gate_report

    return hq_gate_report(qb, docs)


# stream==batch equivalence: the streamed histogram table's oracle IS the
# batch rollup's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_quantile_rollup", "hist_quantile_rollup")


@query(
    "streaming_lm_train",
    oracle=None,  # set below: shares the batch gate's SQL
    doc="STREAMING LM TRAIN-ON-INGEST (17th oracle-bearing streaming "
    "entry — completes the LM symmetry: with streaming_lm_score the "
    "whole train+score pipeline now runs at ingest, never re-scanning "
    "raw text): each arriving microbatch's REFERENCE-slice documents "
    "contribute bigram-count partials (functions/ngram_lm.py "
    "bigram_pairs -> groupBy(w1, w2).count, vocab-bounded) appended to "
    "a persisted model table in batch_id-derived OVERWRITE paths. The "
    "final model addition-merges partials across batches — integer "
    "addition is associative and commutative, so microbatch boundaries "
    "provably cannot change a single count — and the context counts / "
    "vocab size derive from the merged table exactly as in batch "
    "training. The merged model then scores the full corpus via the "
    "shared lm_score_df transform; stream==batch on complete data, so "
    "the oracle is the batch gate's SQL.",
)
def streaming_lm_train(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.functions import ngram_lm as lm
    from seisdb_spark.queries.extensions import LM_REF_SOURCES, lm_score_df
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("lmt", sf_dir, out_dir)
    model_dir = os.path.join(out_dir, "model")
    ckpt = os.path.join(out_dir, "ckpt")

    def train(bdf: DataFrame, batch_id: int) -> None:
        ref = bdf.filter(F.col("source").isin(*LM_REF_SOURCES))
        (
            lm.bigram_pairs(ref)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("c12"))
            .write.mode("overwrite")
            .parquet(os.path.join(model_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(train)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = (
        spark.read.schema("w1 string, w2 string, c12 long")
        .option("recursiveFileLookup", "true")
        .parquet(model_dir)
    )
    # addition-merge across batches, then derive the model exactly as
    # batch training does (train_bigram_lm's one-scan shape): context
    # counts and vocab size come from the merged table itself.
    bc = (
        partials.groupBy("w1", "w2")
        .agg(F.sum("c12").cast("long").alias("c12"))
        .localCheckpoint()
    )
    cc = bc.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab = (
        bc.select(F.col("w1").alias("w"))
        .unionAll(bc.select(F.col("w2").alias("w")))
        .agg((F.countDistinct("w") + F.lit(1)).cast("long").alias("v"))
    )
    docs = load_table(spark, sf_dir, "documents")
    return lm_score_df(docs, bc, cc, vocab)


# stream==batch equivalence: the incrementally-trained model's oracle IS
# the batch gate's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_lm_train", "ngram_lm_perplexity")


@query(
    "streaming_weighted_sample",
    oracle=None,  # set below: shares the batch sampler's SQL
    doc="STREAMING WEIGHTED RESERVOIR SAMPLE (18th oracle-bearing "
    "streaming entry — the A-ES reservoir form of weighted_sample_wor): "
    "each arriving microbatch computes its documents' row-local E-S "
    "priority keys (extensions.py::es_priorities — deterministic "
    "md5-uniform + integer log, computable inside any batch) and "
    "persists only its per-language bottom-K candidates in batch_id-"
    "derived OVERWRITE paths. The final sample is the bottom-K of the "
    "union of per-batch bottom-Ks — which IS the global bottom-K (every "
    "global winner survives its own batch's cut), so microbatch "
    "boundaries provably cannot change the sampled set, and the oracle "
    "is the batch twin's SQL. This is reservoir sampling with kilobyte "
    "state: at 100 TB the persisted candidate table is langs x K rows "
    "per batch, and the shipped corpus sample can be re-derived or "
    "extended incrementally without ever re-scanning raw text.",
)
def streaming_weighted_sample(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from seisdb_spark.queries.extensions import es_priorities, es_take_topk
    from seisdb_spark.streaming import read_documents_stream

    out_dir = _probe_root("es", sf_dir, out_dir)
    cand_dir = os.path.join(out_dir, "candidates")
    ckpt = os.path.join(out_dir, "ckpt")

    def sample(bdf: DataFrame, batch_id: int) -> None:
        (
            es_take_topk(es_priorities(bdf))
            .drop("rank")  # ranks are batch-local; the merge re-ranks
            .write.mode("overwrite")
            .parquet(os.path.join(cand_dir, f"batch-{batch_id}"))
        )

    q = (
        read_documents_stream(spark, sf_dir)
        .writeStream.foreachBatch(sample)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    candidates = (
        spark.read.schema(
            "lang string, doc_id long, weight long, es_key long"
        )
        .option("recursiveFileLookup", "true")
        .parquet(cand_dir)
    )
    return es_take_topk(candidates)


# stream==batch equivalence: the reservoir's oracle IS the batch
# sampler's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_weighted_sample", "weighted_sample_wor")


@query(
    "streaming_zone_maps",
    oracle=None,  # set below: shares the batch gate's SQL
    doc="STREAMING ZONE-MAP MAINTENANCE (19th oracle-bearing streaming "
    "entry — the layout class's scan-once-at-ingest form): the grid is "
    "published once from the static table (grid_bounds — a streaming "
    "layout must fix the grid BEFORE batches arrive, the "
    "streaming_lm_score static-train pattern), then every arriving "
    "events microbatch bins its rows with the SAME _bin_sql formula, "
    "writes its <= 128-row per-(layout,bucket) zone-map partials and "
    "3-row probe-match partials to batch_id-derived overwrite paths, "
    "and the final gate report is computed from the MERGED partials: "
    "min-of-mins / max-of-maxes / sum-of-counts (and plain addition "
    "for match counts) are associative and exact, so microbatch "
    "boundaries provably cannot change a single output value and the "
    "oracle is the batch gate's SQL verbatim. At 100 TB this is how a "
    "layout's file statistics are actually maintained: footers/zone "
    "maps accrue per arriving shard, and every pruning decision later "
    "reads KB of merged stats, never the data.",
)
def streaming_zone_maps(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.functions.zorder import (
        grid_bins_fixed,
        grid_bounds,
        layout_explode,
        matched_counts,
        probes_df,
        scan_counts,
        zone_maps,
        zone_merge,
    )
    from seisdb_spark.queries.extensions import zorder_events_xy
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import read_events_stream

    out_dir = _probe_root("zm", sf_dir, out_dir)
    zm_dir = os.path.join(out_dir, "zonemaps")
    m_dir = os.path.join(out_dir, "matched")
    ckpt = os.path.join(out_dir, "ckpt")

    bounds = grid_bounds(
        zorder_events_xy(load_table(spark, sf_dir, "events")), "x", "y"
    )

    def maps(bdf: DataFrame, batch_id: int) -> None:
        g_b = grid_bins_fixed(zorder_events_xy(bdf), "x", "y", bounds)
        probes = probes_df(bdf.sparkSession)
        (
            zone_maps(layout_explode(g_b))
            .write.mode("overwrite")
            .parquet(os.path.join(zm_dir, f"batch-{batch_id}"))
        )
        (
            matched_counts(g_b, probes)
            .write.mode("overwrite")
            .parquet(os.path.join(m_dir, f"batch-{batch_id}"))
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(maps)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    zm = zone_merge(
        spark.read.schema(
            "layout string, bucket long, min_bx long, max_bx long, "
            "min_by long, max_by long, n_rows long"
        )
        .option("recursiveFileLookup", "true")
        .parquet(zm_dir)
    )
    matched = (
        spark.read.schema("probe string, rows_matched long")
        .option("recursiveFileLookup", "true")
        .parquet(m_dir)
        .groupBy("probe")
        .agg(F.sum("rows_matched").cast("long").alias("rows_matched"))
    )
    return scan_counts(zm, probes_df(spark)).join(
        F.broadcast(matched), "probe"
    ).select(
        "layout", "probe", "buckets_scanned", "rows_scanned", "rows_matched"
    )


# stream==batch equivalence: merged zone maps equal the batch zone maps
# exactly (min/max/sum are split-invariant), so the twin carries the
# batch gate's SQL (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_zone_maps", "zorder_layout_gate")


@query(
    "streaming_scd2_build",
    oracle=None,  # set below: shares the batch build's SQL
    doc="STREAMING SCD2 BUILD (20th oracle-bearing streaming entry — the "
    "MERGE/upsert class's scan-once-at-ingest form): each arriving "
    "orders microbatch is compacted to its (customer, change date) "
    "BIGINT-cents delta partials by the SAME scd2_deltas stage the batch "
    "build uses and appended to a persisted change-log table "
    "(batch_id-derived overwrite paths — idempotent under checkpoint "
    "replays); the SCD2 intervals are then compacted from the MERGED "
    "partials.  Integer addition is associative and exact, so microbatch "
    "boundaries provably cannot change a single interval or balance and "
    "the oracle is the batch build's SQL verbatim.  This is the honest "
    "production shape for CDC-to-warehouse: the LOG is the streaming "
    "state (kilobyte delta partials per batch, never the raw fact "
    "stream), and the interval build is a deterministic compaction any "
    "consumer can re-run from the merged log.",
)
def streaming_scd2_build(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from pyspark.sql import functions as F

    from seisdb_spark.queries.relational import scd2_deltas, scd2_intervals
    from seisdb_spark.streaming import read_orders_stream

    merged = _ingest_log(
        spark, sf_dir, out_dir, "scd2", "changelog",
        read_orders_stream, scd2_deltas,
    )
    partials = merged.groupBy("o_custkey", "o_orderdate").agg(
        F.sum("delta_cents").alias("delta_cents")
    )
    return scd2_intervals(partials)


# stream==batch equivalence: integer delta partials addition-merge to the
# batch change log exactly (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_scd2_build", "scd2_history_build")


@query(
    "streaming_gapfill",
    oracle=None,  # set below: shares the batch query's SQL
    doc="STREAMING GAP-FILL MAINTENANCE (21st oracle-bearing streaming "
    "entry — the time-series class's scan-once-at-ingest form): each "
    "arriving events microbatch is compacted to its per-(user, hour) "
    "count/max partials by the SAME gapfill_obs stage the batch query "
    "uses and appended to a persisted observation table (batch_id-"
    "derived overwrite paths — idempotent under checkpoint replays); "
    "the dense grid and LOCF fill are then compacted from the MERGED "
    "partials.  Counts merge by addition and maxima by max — both "
    "associative and exact — and the grid bounds derive from the merged "
    "obs table itself, so microbatch boundaries provably cannot change "
    "a single filled row and the oracle is the batch query's SQL "
    "verbatim.  LOCF itself is NOT split-computable (it needs ordered "
    "history), which is exactly why the streamed state is the "
    "OBSERVATION log (kilobyte partials per batch), never the filled "
    "series: the fill is a deterministic compaction any consumer "
    "re-runs from the log — the scd2/zone-map pattern.",
)
def streaming_gapfill(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from pyspark.sql import functions as F

    from seisdb_spark.queries.relational import gapfill_from_obs, gapfill_obs
    from seisdb_spark.streaming import read_events_stream

    merged = _ingest_log(
        spark, sf_dir, out_dir, "gf", "obs", read_events_stream, gapfill_obs
    ).groupBy("user_id", "hour").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("obs_max").alias("obs_max"),
    )
    return gapfill_from_obs(merged)


# stream==batch equivalence: count/max partials merge exactly, the fill is
# a deterministic compaction of the merged obs table (QuerySpec frozen;
# replace the registry entry).
_share_oracle("streaming_gapfill", "timeseries_gapfill")


@query(
    "streaming_cohort_retention",
    oracle=None,  # set below: shares the batch query's SQL
    doc="STREAMING COHORT MAINTENANCE (22nd oracle-bearing streaming "
    "entry — the retention class's scan-once-at-ingest form): each "
    "arriving events microbatch is compacted by the SAME stages the "
    "batch query uses — per-user earliest-signup-month partials "
    "(min-merges) and distinct (user, active month) pairs (set union — "
    "both associative and exact) — and appended to persisted partial "
    "tables (batch_id-derived overwrite paths, idempotent under "
    "checkpoint replays); the retention table is then compacted from "
    "the merged partials, so microbatch boundaries provably cannot "
    "change a single count and the oracle is the batch query's SQL "
    "verbatim.  The streamed state is user x months-active rows — "
    "orders of magnitude below the raw event stream (a user's thousandth "
    "event in a month adds nothing), which is the point of maintaining "
    "cohorts at ingest instead of rescanning history.",
)
def streaming_cohort_retention(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    from seisdb_spark.queries.relational import (
        cohort_activity,
        cohort_from_parts,
        cohort_signups,
    )
    from seisdb_spark.streaming import read_events_stream

    out_dir = _probe_root("cohort", sf_dir, out_dir)
    sign_dir = os.path.join(out_dir, "signups")
    act_dir = os.path.join(out_dir, "activity")
    ckpt = os.path.join(out_dir, "ckpt")

    def compact(bdf: DataFrame, batch_id: int) -> None:
        cohort_signups(bdf).write.mode("overwrite").parquet(
            os.path.join(sign_dir, f"batch-{batch_id}")
        )
        cohort_activity(bdf).write.mode("overwrite").parquet(
            os.path.join(act_dir, f"batch-{batch_id}")
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(compact)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    signups = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(sign_dir)
        .groupBy("user_id")
        .agg(F.min("cohort_month").alias("cohort_month"))
    )
    activity = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(act_dir)
        .distinct()
    )
    return cohort_from_parts(signups, activity)


# stream==batch equivalence: min/set-union partials merge exactly, the
# retention table is a deterministic compaction of the merged partials
# (QuerySpec is frozen; replace the registry entry).
_share_oracle("streaming_cohort_retention", "cohort_retention")


@query(
    "streaming_funnel_steps",
    oracle=None,  # set below: shares the batch query's SQL
    doc="STREAMING FUNNEL MAINTENANCE (23rd oracle-bearing streaming "
    "entry — the ordered-sequence class's scan-once-at-ingest form): "
    "the funnel fold is NOT split-computable (a user's depth depends on "
    "their ordered event history, and a view in batch 1 must unlock a "
    "click in batch 3), which is exactly the gap-fill/SCD2 situation — "
    "so the streamed state is the OBSERVATION LOG, never the fold "
    "state: each arriving microbatch is scan-filtered to the 3 funnel "
    "types by the SAME funnel_typed stage the batch query uses and "
    "appended as plain (user, ts, event_id, type) rows (batch_id-"
    "derived overwrite paths — idempotent under checkpoint replays); "
    "the step table is then compacted from the merged log by the SAME "
    "funnel_steps_from_log stage.  The log is a row SET, so union of "
    "per-microbatch logs is split-invariant by construction — "
    "microbatch boundaries provably cannot change a count, and the "
    "oracle is the batch query's SQL verbatim.  The log is the state: "
    "funnel-typed rows are a small fraction of the raw stream (the "
    "filter runs at ingest), and any consumer re-derives the fold from "
    "the log with different step definitions without re-ingesting.",
)
def streaming_funnel_steps(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from seisdb_spark.queries.relational import (
        funnel_steps_from_log,
        funnel_typed,
    )
    from seisdb_spark.streaming import read_events_stream

    merged = _ingest_log(
        spark, sf_dir, out_dir, "funnel", "log",
        read_events_stream, funnel_typed,
    )
    return funnel_steps_from_log(merged)


# the persisted log is the union of per-batch funnel-typed row sets
# (order-free), so the fold compacts it deterministically
_share_oracle("streaming_funnel_steps", "funnel_conversion_steps")


@query(
    "streaming_cdc_apply",
    oracle=None,  # set below: shares the batch snapshot's SQL
    doc="STREAMING CDC LAST-WRITER-WINS APPLY (24th oracle-bearing "
    "streaming entry — the MERGE-with-tombstones class's scan-once-at-"
    "ingest form, the literal Debezium-to-lakehouse consumer): each "
    "arriving orders microbatch is compacted to per-customer "
    "(latest-record struct max, version count) partials by the SAME "
    "cdc_log + cdc_compact stages the batch snapshot uses and appended "
    "to a persisted partials table (batch_id-derived overwrite paths — "
    "idempotent under checkpoint replays); the snapshot is then "
    "compacted from the MERGED partials by the SAME cdc_snapshot "
    "stage.  Struct max is associative and the version count merges by "
    "addition — both exact — so microbatch boundaries provably cannot "
    "change which record wins or a single count, and the oracle is the "
    "batch snapshot's SQL verbatim.  Unlike the funnel/gap-fill twins, "
    "last-writer-wins IS split-computable, so the streamed state here "
    "is the COMPACTED partial (one row per customer seen in the batch, "
    "never the raw change stream) — the smallest state any CDC "
    "consumer can carry.",
)
def streaming_cdc_apply(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from seisdb_spark.queries.temporal import cdc_compact, cdc_log, cdc_snapshot
    from seisdb_spark.streaming import read_orders_stream

    partials = _ingest_log(
        spark, sf_dir, out_dir, "cdc", "partials",
        read_orders_stream, lambda bdf: cdc_compact(cdc_log(bdf)),
    )
    return cdc_snapshot(partials)


# struct max + count partials merge to the batch compaction exactly
_share_oracle("streaming_cdc_apply", "cdc_snapshot_apply")


@query(
    "streaming_ohlc_bars",
    oracle=None,  # set below: shares the batch query's SQL
    doc="STREAMING OHLC BAR MAINTENANCE (25th oracle-bearing streaming "
    "entry — the tick-ingest candlestick rollup, the canonical "
    "Structured Streaming example made contract-checkable): each "
    "arriving events microbatch is compacted to per-(type, hour) "
    "first/last-tick-struct + extrema + count/volume partials by the "
    "SAME ohlc_partials stage the batch query uses and appended to a "
    "persisted partials table (batch_id-derived overwrite paths — "
    "idempotent under checkpoint replays); the bar table is then "
    "compacted from the MERGED partials by the SAME ohlc_bars stage.  "
    "Every partial field merges associatively — struct min/max pick "
    "the (ts, event_id)-first/last tick across any batch split, "
    "extrema by min/max, count/volume by addition, all exact — so "
    "microbatch boundaries provably cannot move a single bar field and "
    "the oracle is the batch query's SQL verbatim.  State is bars-seen-"
    "this-batch rows, never the raw tick stream.",
)
def streaming_ohlc_bars(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from seisdb_spark.queries.temporal import ohlc_bars, ohlc_partials
    from seisdb_spark.streaming import read_events_stream

    partials = _ingest_log(
        spark, sf_dir, out_dir, "ohlc", "partials",
        read_events_stream, ohlc_partials,
    )
    return ohlc_bars(partials)


# struct-extrema/extrema/sum partials merge to the batch bar table exactly
_share_oracle("streaming_ohlc_bars", "ohlc_time_bars")


@query(
    "streaming_pagerank_topk",
    oracle=None,  # set below: shares the batch query's SQL
    doc="STREAMING PAGERANK EDGE MAINTENANCE (26th oracle-bearing "
    "streaming entry — the graph family's scan-once-at-ingest form): "
    "each arriving lineitem microbatch is compacted to its DISTINCT "
    "(part, supplier) pairs by the SAME pagerank_pairs stage the batch "
    "query uses and appended to a persisted edge log (batch_id-derived "
    "overwrite paths — idempotent under checkpoint replays); the "
    "symmetrized edge+degree table and the 3 damped BIGINT supersteps "
    "are then compacted from the MERGED log by the SAME pagerank_edges "
    "/ pagerank_topk stages.  Split-invariance is structural: distinct-"
    "of-a-union equals distinct-of-union-of-distincts (pagerank_edges "
    "re-distincts the merged log), so microbatch boundaries provably "
    "cannot change a single edge, degree, or rank, and the oracle is "
    "the batch query's SQL verbatim.  The fixed-point iteration itself "
    "is NOT split-computable (rank mass flows along paths that cross "
    "batches) — which is exactly why the streamed state is the EDGE "
    "log (the graph, kilobyte distinct-pair partials per batch), never "
    "the ranks: the propagation is a deterministic compaction any "
    "consumer re-runs from the merged log — the funnel/gap-fill "
    "observation-log pattern applied to graphs.",
)
def streaming_pagerank_topk(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from seisdb_spark.queries.graph_queries import (
        pagerank_edges,
        pagerank_pairs,
        pagerank_topk,
    )
    from seisdb_spark.streaming import read_lineitem_stream

    merged = _ingest_log(
        spark, sf_dir, out_dir, "pr", "edgelog",
        read_lineitem_stream, pagerank_pairs,
    )
    return pagerank_topk(pagerank_edges(merged))


# distinct-pair edge partials re-distinct to the batch edge set exactly,
# and the BIGINT supersteps are a deterministic compaction of that set
_share_oracle("streaming_pagerank_topk", "graph_pagerank_topk")


@query(
    "streaming_wcc_membership",
    oracle=None,  # set below: shares the batch query's SQL
    doc="STREAMING WCC EDGE-OBSERVATION MAINTENANCE (27th oracle-bearing "
    "streaming entry — dedup clustering on ingest, the graph family's "
    "second scan-once-at-ingest form): each arriving lineitem microbatch "
    "is compacted to its windowed DISTINCT (order, part) observations "
    "(graph_queries.wcc_obs; the ship-date filter is row-local) and "
    "appended to a persisted observation log (batch_id-derived overwrite "
    "paths — idempotent under checkpoint replays); the canonical edge "
    "set and the pointer-jumping component labeling are then compacted "
    "from the MERGED log by the SAME copurchase_edges / "
    "connected_components stages the batch query uses.  Split-invariance "
    "is structural: an order's lineitems may arrive across microbatches, "
    "but distinct-of-a-union equals distinct-of-union-of-distincts and "
    "collect_set re-dedups the merged log per order, so batch boundaries "
    "provably cannot change a single edge or component — the oracle is "
    "the batch query's recursive-CTE SQL verbatim.  The pointer-jump "
    "fixpoint itself is NOT split-computable (labels propagate along "
    "paths that cross batches) — which is exactly why the streamed state "
    "is the OBSERVATION log (kilobyte distinct-pair partials per batch), "
    "never the labels: the propagation is a deterministic compaction any "
    "consumer re-runs from the merged log — the funnel/gap-fill/PageRank "
    "observation-log pattern applied to connectivity.",
)
def streaming_wcc_membership(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from pyspark.sql import functions as F

    from seisdb_spark.functions.graph import (
        connected_components,
        release_checkpoint,
    )
    from seisdb_spark.queries.graph_queries import (
        WCC_MAX_ROUNDS,
        copurchase_edges,
        wcc_obs,
    )
    from seisdb_spark.streaming import read_lineitem_stream

    merged = _ingest_log(
        spark, sf_dir, out_dir, "wcc", "obslog",
        read_lineitem_stream, wcc_obs,
    )
    e = copurchase_edges(merged)
    # dead once the loop exits (the labeling reads only its own final
    # checkpoint) — the batch twin's r16-advice release, mirrored;
    # finally so non-convergence cannot skip it
    try:
        labels, _trace = connected_components(
            e, "u", "v", max_rounds=WCC_MAX_ROUNDS
        )
    finally:
        release_checkpoint(e)
    return labels.select(
        F.col("v").cast("bigint").alias("part_id"),
        F.col("component").cast("bigint").alias("component_id"),
    )


# windowed distinct-pair observation partials re-dedup to the batch edge
# set exactly, and the pointer-jump labeling is a deterministic compaction
# of that set (min labels are visit-order-independent)
_share_oracle("streaming_wcc_membership", "graph_wcc_membership")


@query(
    "streaming_triangle_counts",
    oracle=None,  # set below: shares the batch query's SQL
    doc="STREAMING TRIANGLE-CENSUS EDGE MAINTENANCE (28th oracle-bearing "
    "streaming entry — the graph family's third scan-once-at-ingest "
    "form, closing the last graph class with no streaming twin): each "
    "arriving lineitem microbatch is compacted to its DISTINCT "
    "(order, part) observations (graph_queries.copurchase_obs — the "
    "unwindowed sibling of the WCC twin's stage) and appended to a "
    "persisted observation log (batch_id-derived overwrite paths — "
    "idempotent under checkpoint replays); the canonical edge set, the "
    "degree orientation, and the adjacency-intersection census are then "
    "compacted from the MERGED log by the SAME copurchase_edges / "
    "triangle_census stages the batch query uses.  Split-invariance is "
    "structural: an order's lineitems may arrive across microbatches, "
    "but distinct-of-a-union equals distinct-of-union-of-distincts and "
    "collect_set re-dedups the merged log per order, so batch "
    "boundaries provably cannot change a single edge, degree, or "
    "triangle — the oracle is the batch query's textbook 3-way-self-"
    "join SQL verbatim.  The census itself is NOT split-computable (a "
    "triangle's three edges can arrive in three different batches) — "
    "which is exactly why the streamed state is the OBSERVATION log "
    "(kilobyte distinct-pair partials per batch), never triangle "
    "counts: the census is a deterministic compaction any consumer "
    "re-runs from the merged log — the PageRank/WCC observation-log "
    "pattern applied to local structure.",
)
def streaming_triangle_counts(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    from seisdb_spark.queries.graph_queries import (
        copurchase_edges,
        copurchase_obs,
        triangle_census,
    )
    from seisdb_spark.streaming import read_lineitem_stream

    merged = _ingest_log(
        spark, sf_dir, out_dir, "tri", "obslog",
        read_lineitem_stream, copurchase_obs,
    )
    return triangle_census(copurchase_edges(merged))


# distinct-pair observation partials re-dedup to the batch edge set
# exactly, and the oriented adjacency-intersection census is a
# deterministic compaction of that set (exact integer counts)
_share_oracle("streaming_triangle_counts", "graph_triangle_counts")
