"""Driver-facing query registry.

Importing this package registers every query module; ``REGISTRY`` then holds
one entry per implemented operator from SURVEY.md §2 (+ the §2.11 extension
surface), each with a Spark callable and (where SQL-expressible) a DuckDB
oracle SQL twin.

Driver-window ordering
----------------------
The driver's correctness harness checks the FIRST 50 registry entries (dict
iteration order) at sf=0.01; the rest are covered only by the local pytest
oracle-parity suite (``tests/test_oracle_parity.py`` runs ALL entries).  We
therefore order the registry explicitly: ``DRIVER_WINDOW`` lists the 50
queries that must receive a hard driver correctness row — the LLM-data-
pipeline surface (dedup/LSH/clustering/ANN/curation/multimodal/text), the
oracle-bearing streaming queries, one query per core §2 operator (the
stronger array-form variant where twins exist), the two pipeline record
sinks, and a representative slice of the SQL surface.  Out-of-window
queries stay registered (bench + pytest still exercise them).

Round-4 rotation: the 8 queries that had never received a hard driver row
across r2∪r3 (``tfidf_top_terms``, ``approx_quantile_gate``,
``doc_repetition_stats``, ``pii_scan_counts``, ``multimodal_header_fields``,
``doc_fingerprint``, ``embedding_norms_by_label``, ``stratified_sample``)
rotate IN; 8 core §2 entries green in BOTH r2 and r3 rotate OUT
(``p3_stride_filter``, ``j2_semi_gather``, ``j3_step_alignment``,
``a3_counts``, ``a4_prefix_sum``, ``e1_quantize_codes``,
``r2_canonical_flatten_arrays``, ``sessionize_events``), keeping the
flagship and at least one member of every §2 operator family in-window
(P: p1, J: j1, D: d1, A: a1a2, R: r1, L: l1+l2, E: sgt_flagship_encode;
sessionize stays covered by ``streaming_sessionize``).
``tests/test_driver_window.py`` asserts the r2∪r3∪r4 windows jointly cover
every oracle-bearing registry query.

Round-5 rotation: the three NEW operators (``decontamination_overlap``,
``sequence_packing``, ``budgeted_sample_per_lang``) and
``streaming_sliding_counts`` (rows-only until round 5; round 4 proved
why — it went silently wrong with nothing watching — so it now carries
the batch twin's oracle) rotate IN; ``text_stats``,
``bpe_token_estimate``, ``lang_id_ngram``, ``minhash_signatures`` (each
green in r2+r3+r4) rotate OUT.  (A transformWithStateInPandas v2 stateful operator
was built as well — ``streaming.stateful.running_type_totals_tws`` — but
its state-server protocol needs google.protobuf, absent here, so it is
env-gated like h5py/PIL and NOT registered as a driver query.)

Round-6 rotation: the two NEW operators (``repeated_passage_spans`` —
passage-level dedup — and ``semantic_dedup`` — SemDeDup-style embedding
clustering) rotate IN, plus ``sessionize_events`` (the batch sessionize
twin: no driver row since r3, and it sits in the events family that went
silently wrong in r4 — cheap insurance).  Rotating OUT per the r5 verdict's
eligibility call: ``tfidf_top_terms``, ``approx_quantile_gate``,
``doc_repetition_stats`` (each green in r4+r5, family-covered by the
in-window text surface).  Later round-6 additions rotate IN the six new
operators (``bm25_topk``, ``quality_classifier_score``,
``vocab_coverage``, ``corpus_datacard``, ``packing_efficiency``,
``streaming_quality_gate``) in place of ``pii_scan_counts``,
``multimodal_header_fields``, ``doc_fingerprint``,
``embedding_norms_by_label`` (green r4+r5), ``stratified_sample`` (green
r4+r5; sampling covered by budgeted_sample_per_lang + the keep-set's
stratified stage), and ``doc_chunking`` (green r3+r4+r5).
``kmeans_refine_assign`` is rows-only (iterative Lloyd; numpy-golden
pytest) and stayed outside the window in round 6 (rotated IN in round 7 —
see below).
Finally ``token_rarity_score`` (corpus-frequency LM proxy) and
``source_mix_weights`` (mixture reweighting) take the slots of
``text_quality_score`` and ``multimodal_payload_stats`` (each green
r3+r4+r5; quality_filter_pipeline / multimodal_decode_features keep those
families in-window), and ``streaming_decontamination`` (ingest-path
decontamination, batch twin's oracle — 8th streaming entry) takes
``simhash_fingerprint``'s slot (green r3+r4+r5; fingerprint family keeps
``doc_winnowing_fingerprints`` in-window).

Round-7 rotation: the two NEW retrieval operators (``bm25_multiquery`` —
the queries-table BM25 batch-serving form — and ``hybrid_rrf_topk`` —
BM25 x ANN reciprocal-rank fusion) rotate IN, plus ``kmeans_refine_assign``
(rows-only smoke: the r6 verdict flagged it as the ONLY registry entry
never driver-windowed — even rows-only entries get a no_oracle row-count/
schema execution under the driver, which it has never had).  Rotating OUT
per thrice-green (r4+r5+r6) eligibility with family coverage preserved:
``knn_cosine_labeled`` (similarity family keeps ``similarity_topk_dot``
and both ANN entries), ``dedup_jaccard_pairs`` (the Jaccard verify stage
stays exercised inside ``curation_keep_set``'s oracle and the candidates
stay via ``minhash_lsh_candidates``), ``training_shard_manifest`` (shard
audit family keeps ``sequence_packing`` + ``packing_efficiency``).
A fourth swap late in the round: ``vocab_coverage_32k`` (the production-V
vocabulary audit, new) rotates in for ``dedup_exact`` (green r2–r6; the
dedup family keeps five in-window members), and a fifth:
``split_leakage_audit`` (near-dup eval-leakage across hash-bucket
train/val/test splits, new) rotates in for ``quality_filter_pipeline``
(green r4+r5+r6; the quality family keeps ``quality_classifier_score``
and ``streaming_quality_gate`` in-window).

Round-8 rotation: the vector-store codec surface built (library+tests) in
round 7 gets its driver rows — ``pca_project``, ``pq_encode_codes``,
``pq_adc_topk``, ``ivfpq_adc_topk`` (queries/vector_store.py) — plus
``streaming_novelty_probe`` (ingest-path novelty, 9th oracle-bearing
streaming entry) and ``approx_quantile_gate`` rotated back in as the
sketch-family representative (the family had no in-window member since
round 7).  Rotating OUT per thrice-green eligibility with family coverage
preserved: ``decontamination_overlap``, ``sequence_packing``,
``budgeted_sample_per_lang``, ``streaming_sliding_counts`` (each green
r5+r6+r7), ``embedding_neardup_pairs`` (green r4-r7; the banded sign-LSH
machinery stays hash-checked via ``semantic_dedup``), and
``kmeans_refine_assign`` (rows-only smoke whose one required clean driver
execution landed in r7; Lloyd stays numpy-golden-tested and the
seed/assign machinery is hash-checked through ``semantic_dedup`` /
``ann_ivf_topk`` / the new PQ rows).  The eight late-r7 operators keep
their slots until thrice-green per the rotation rule.

Round-11 rotation: the two NEW sketch operators (``cm_sketch_gate`` —
declarative count-min point-frequency gate, the fourth sketch class —
and ``streaming_topk_rollup`` — persisted approx_top_k partials, the
12th oracle-bearing streaming entry) rotate IN, plus
``bpe_apply_tokenize`` (rows-only: the only registry entry never
driver-executed, now routed through the merge-count dispatcher).
A fourth swap: ``streaming_cm_rollup`` (the count-min ingest twin — the
13th oracle-bearing streaming entry, completing the batch+streaming
symmetry for all three mergeable sketch classes) rotates in late in the
round, a fifth: ``kmv_jaccard_gate`` (bottom-k set-operation
sketch — pairwise source Jaccard/intersection, the estimate HLL's
union-only merge cannot express) in for ``pq_adc_topk`` (green
r8+r9+r10; the PQ family keeps ``ivfpq_adc_topk``, ``pq_recall_eval``
and ``mrl_pq_adc_topk`` in-window), and a sixth:
``streaming_kmv_rollup`` (the KMV ingest twin — 14th oracle-bearing
streaming entry; with it, ALL FOUR mergeable sketch classes have
batch rollup + scan-once-at-ingest forms) in for
``embedding_int4_block_quantize`` (green r8+r9+r10; the quantize
family keeps ``streaming_int4_quantize``, which runs the same
extracted transform and carries the batch twin's oracle), and a
seventh: ``ngram_lm_perplexity`` (the TRAINED bigram-LM perplexity
gate — CCNet-style model-based quality filtering with exact-BIGINT
nanonat NLLs, no libm anywhere) in for ``mrl_truncation_eval`` (green
r8+r9+r10; the MRL family keeps ``mrl_pq_adc_topk``, whose oracle
composes the same prefix-truncation machinery), and an eighth:
``streaming_lm_score`` (the LM's score-on-ingest twin — 15th
oracle-bearing streaming entry: train once from the static reference
slice, stream-static join per microbatch, stream==batch exact because
bigrams never span documents) in for ``streaming_novelty_probe``
(green r8+r9+r10; novelty stays oracle-composed and pytest-checked,
and the streaming family keeps seven in-window members); a ninth and
tenth: ``hist_quantile_rollup`` + ``streaming_quantile_rollup`` (the
mergeable fixed-grid histogram quantile sketch and its ingest twin —
the 16th oracle-bearing streaming entry; with it EVERY mergeable
sketch class has a scan-once-at-ingest form) in for ``ivfpq_adc_topk``
and ``ann_ivf_topk`` (both green r8+r9+r10; the PQ/IVF machinery
stays composed verbatim inside ``pq_recall_eval``'s oracle and the
ANN family keeps ``ann_signbucket_topk`` in-window); an eleventh:
``weighted_sample_wor`` (deterministic Efraimidis-Spirakis weighted
sampling without replacement — md5 uniforms + the octave-Pade integer
log make the sampled set itself engine- and run-reproducible) in for
``streaming_decontamination`` (green r8+r9+r10; decontamination keeps
``bloom_decontamination`` in-window, the streaming family keeps six
members, and the sampling family regains an in-window rep); a twelfth:
``streaming_lm_train`` (the LM's train-on-ingest twin — 17th
oracle-bearing streaming entry; bigram-count partials addition-merge,
so the full train+score pipeline now runs at ingest) in for
``streaming_quality_gate`` (green r8+r9+r10; quality filtering keeps
the trained-model pair in-window).  A thirteenth swap closed the round:
``streaming_weighted_sample`` (the A-ES reservoir twin, 18th
oracle-bearing streaming entry) in for ``corpus_datacard`` (green
r8+r9+r10) — forced by the cumulative-coverage governance test, which
(correctly) refuses any oracle-bearing registration that never sees a
driver window; the datacard's component stats stay pytest-checked and
corpus-summary coverage stays in-window via ``source_mix_weights`` and
the sketch rollups.  Rotating OUT: ``pq_refined_encode`` and ``bpe_train_merges``
(rows-only entries whose one clean driver execution landed in r10 — the
kmeans_refine_assign one-rows-only-round precedent),
``pq_encode_codes`` (green r8+r9+r10; the PQ family keeps
``pq_adc_topk``, ``ivfpq_adc_topk``, ``pq_recall_eval`` and
``mrl_pq_adc_topk`` in-window, with the encode CTE stack composed
verbatim inside their oracles), and ``approx_quantile_gate`` (green
r8+r9+r10; the sketch family keeps six in-window members across all
four sketch classes).

Deliberately OUTSIDE the window (all still pytest-oracle-checked every
round):
* near-duplicate §2 twins — ``d1_running_max_dedup``, ``e1_quantize``,
  ``r1_series_assembly``, ``r2_canonical_flatten`` — their siblings verify
  the same operator;
* ``text_stats``, ``bpe_token_estimate``, ``lang_id_ngram`` —
  family-covered (text family), multi-round green
  (``token_count_by_lang`` and ``grouping_sets_orders`` rotated back IN
  in r17/r16 respectively for their third greens);
* rows-only pipeline variants the golden tests own — ``e2_zlib_blob``,
  ``specfem_strain_scan``, ``sgt_roundtrip_decode``.
"""

from seisdb_spark.queries.registry import REGISTRY, QuerySpec

# Register all query modules (import side effects fill REGISTRY).
from seisdb_spark.queries import relational  # noqa: F401,E402
from seisdb_spark.queries import arrays  # noqa: F401,E402
from seisdb_spark.queries import extensions  # noqa: F401,E402
from seisdb_spark.queries import vector_store  # noqa: F401,E402
from seisdb_spark.queries import temporal  # noqa: F401,E402
from seisdb_spark.queries import graph_queries  # noqa: F401,E402

# streaming_queries last: its twins share batch oracles registered above
# (the CDC twin reuses temporal's snapshot SQL the same way the SCD2 twin
# reuses relational's).
from seisdb_spark.queries import streaming_queries  # noqa: F401,E402

#: The 50 queries the driver must hash-check, in priority order.
DRIVER_WINDOW: list[str] = [
    # --- LLM-data-pipeline extensions ---------------------------------------
    # round-10 rotation (r9 verdict item #1): streaming_int4_quantize —
    # quantize-on-ingest, the 10th oracle-bearing streaming entry, making
    # the int4 twin's "quantizes streaming ingest without a stats job"
    # claim executable — in for embedding_int8_quantize (green r7+r8+r9,
    # rotation-eligible; the embedding-quantize family keeps
    # embedding_int4_block_quantize AND the new streaming twin in-window,
    # and int8's corpus-grid machinery stays pytest-oracle-checked).
    # (r7-era slot history: embedding_int8_quantize had replaced
    # minhash_lsh_candidates, whose CTE stack stays hash-checked verbatim
    # inside editdist_neardup_join's oracle.)
    # round-14 rotation (r13 verdict item #1 — the stalled r13 rotation
    # executed): graph_triangle_counts — degree-oriented triangle
    # counting + exact clustering coefficients (queries/graph_queries.py:
    # the graph family's third algorithm class; wedge-bounding
    # orientation, all equi-joins, independent textbook 3-way-self-join
    # oracle) — in for streaming_int4_quantize (green r10-r13, FOUR hard
    # rows, rotation-eligible per the r13 verdict; the quantize family's
    # int4 transform stays pytest-oracle-checked every round and the
    # streaming family keeps 17+ in-window members).
    # round-17 rotation (governance-forced in: new oracle-bearing entries
    # start in-window): streaming_triangle_counts — the triangle census's
    # scan-once-at-ingest form (28th oracle-bearing streaming entry,
    # closing the last graph class with no streaming twin: per-microbatch
    # distinct (order, part) observations from copurchase_obs, appended
    # to a persisted observation log; distinct-of-union == distinct-of-
    # union-of-distincts, so the merged log re-dedups to the batch edge
    # set exactly and the twin shares graph_triangle_counts' textbook
    # 3-way-self-join oracle verbatim; 3-way order-scatter split pytest)
    # — in for graph_triangle_counts (green r14-r16, thrice-green
    # rotation-eligible; the oriented adjacency-intersection census
    # stages run verbatim inside THIS twin's driver row every round, and
    # the batch entry stays pytest-oracle-checked + plan-asserted).
    "streaming_triangle_counts",
    # round-11 rotation (fourteenth swap — forced by the cumulative-
    # coverage governance test: new oracle-bearing entries start
    # in-window): zorder_layout_gate — the storage-layout / data-
    # skipping class (functions/zorder.py: Morton zkey via an engine-
    # portable div/mod interleave polynomial, zone-map tables under
    # sorted-by-x vs Z-curve layouts, oracle-checked pruning counts for
    # slab/box probes) — in for dedup_keep_best (green r7+r8+r9+r10,
    # rotation-eligible; the dedup family keeps d1, editdist_neardup_
    # join, semantic_dedup, streaming_incremental_dedup, and curation_
    # keep_set — whose oracle composes keep_best's quality-priority
    # closure — in-window).  (r7-era slot history: dedup_keep_best had
    # replaced dedup_cluster_components, whose recursive-CTE oracle is
    # composed verbatim inside keep_best's.)
    # round-16 rotation: governance-forced in (new oracle-bearing entries start in-window):
    # graph_wcc_membership — distributed pointer-jumping connected
    # components over the ship-date-windowed co-purchase graph (the
    # documented 100 TB dedup-clustering path, functions/graph.py
    # connected_components, previously toy-unit-tested only — r15
    # verdict item #1; recursive-CTE closure oracle, per-round trace
    # returned with the labeling) — in for zorder_layout_gate (green r11-r15,
    # five hard rows, rotation-eligible; the layout family keeps
    # streaming_zone_maps in-window and the Z-order pruning counts
    # stay pytest-oracle-checked every round).
    "graph_wcc_membership",
    # round-11 rotation (twentieth swap): streaming_gapfill — the
    # time-series class's scan-once-at-ingest form (21st oracle-bearing
    # streaming entry: per-microbatch (user, hour) count/max partials
    # from the SAME gapfill_obs stage, addition/max-merged — split-
    # invariant; LOCF is NOT split-computable, which is exactly why the
    # streamed state is the observation log and the fill a deterministic
    # compaction; shares the batch query's oracle) — in for
    # editdist_neardup_join (green r7+r8+r9+r10; the dedup family keeps
    # d1_first_occurrence_dedup, streaming_incremental_dedup and
    # curation_keep_set in-window, and the LSH-blocked Levenshtein
    # verify stays pytest-oracle-checked every round)
    # round-16 rotation: 1-green SQL-surface cohort (r15 verdict item #5: fewest career
    # greens rotate in): correlated-subquery form — in for
    # streaming_gapfill (green r11-r15; the gapfill family keeps
    # timeseries_gapfill in-window, sharing the same oracle).
    "above_segment_avg_customers",
    # round-15 rotation (governance-forced: new oracle-bearing entries
    # start in-window): graph_bfs_hops — multi-source BFS hop distance,
    # the graph family's FIFTH algorithm class (reachability/distance;
    # driver-side frontier loop with one-scalar state, each round one
    # src-keyed equi-join + distinct + anti-join over checkpointed
    # frontiers; oracle = the frontier ladder unrolled BFS_MAX_HOPS
    # times as MATERIALIZED CTEs — the cap makes the semantics total,
    # so no convergence guard is needed) — in for cdc_snapshot_apply
    # (green r12+r13+r14, thrice-green rotation-eligible; the CDC
    # family keeps streaming_cdc_apply in-window, which carries the
    # batch snapshot's SQL verbatim over the same cdc_log/cdc_compact
    # stages).  (r12-era slot history: cdc_snapshot_apply had replaced
    # doc_winnowing_fingerprints, green r3-r11.)
    "graph_bfs_hops",
    # round-12 rotation (r11 verdict item #1): sequence_packing_learned —
    # the learned-token-count packing form (rows-only: greedy FFD packing
    # is iterative; invariants pytest-pinned, planted ~2.25x divergence
    # test proves the learned counts move real assignments), the only
    # registry entry never driver-executed — gets its rows-only driver
    # row in for bpe_apply_tokenize (rows-only; its one clean driver
    # execution landed in r11, out per the kmeans_refine_assign
    # precedent: one in-window rows-only round, then out; the tokenize
    # kernel stays pinned by the trained-golden + 1,000-merge pure-Python
    # parity pytest, and its learned_token_counts stage feeds THIS
    # in-window entry, so the BPE machinery stays driver-executed in
    # composed form).
    # round-14 rotation: streaming_pagerank_topk — the graph family's
    # scan-once-at-ingest form (26th oracle-bearing streaming entry:
    # per-microbatch distinct (part, supplier) pairs from the SAME
    # pagerank_pairs stage, appended to a persisted edge log;
    # distinct-of-union == distinct-of-union-of-distincts, so the merged
    # log is split-invariant and the twin shares the batch oracle
    # verbatim; 3-microbatch scatter pytest) — in for
    # sequence_packing_learned (rows-only with TWO clean driver
    # executions r12+r13, out per the one-rows-only-round precedent; the
    # learned-packing invariants stay pytest-pinned and its
    # learned_token_counts stage stays pytest-checked every round).
    # round-17 rotation (fewest-career-greens cohort, r16 verdict item
    # #3): tpch_q1_pricing_summary — the multi-aggregate pricing-summary
    # scan (career greens r1+r2 only) — back in for its third green, in
    # for streaming_pagerank_topk (green r14-r16, thrice-green
    # rotation-eligible; the graph-streaming family keeps
    # streaming_wcc_membership AND the new streaming_triangle_counts
    # in-window, and the PageRank edge-log machinery stays pytest-pinned
    # by the 3-way split test every round).  Bonus: this query is now a
    # bench NORMALIZATION CONTROL (bench.py CONTROLS, r16 verdict item
    # #1) — its in-window row revalidates the control's values each
    # round.
    # round-18 rotation (fewest-career-greens cohort, r17 verdict item
    # #2): rollup_revenue — the ROLLUP grouping form (career greens
    # r1+r2 only) — back in for its third green, in for
    # tpch_q1_pricing_summary (green r1+r2+r17, thrice-green rotation-
    # eligible; the full-scan multi-aggregate family keeps THIS ROLLUP
    # rep plus grouping_sets_orders in-window, and Q1 stays a bench
    # NORMALIZATION CONTROL — the bench pre-flight enforces bench
    # membership independent of window membership — plus pytest-oracle-
    # checked every round).
    # round-19 rotation (fewest-career-greens cohort, r18 verdict item
    # #10): heavy_hitters_gate — the Misra-Gries/space-saving heavy-
    # hitters sketch gate (career greens r10+r11 only — a BENCH query
    # with no hard row since r11) — back in
    # for its third green, in for rollup_revenue (green r1+r2+r18,
    # thrice-green rotation-eligible; the grouping family keeps
    # grouping_sets_orders in-window and ROLLUP stays pytest-oracle-
    # checked every round).
    "heavy_hitters_gate",
    # round-15 rotation (late — governance-forced: new oracle-bearing
    # entries start in-window): graph_sssp_cost — bounded Bellman-Ford
    # weighted shortest-path cost, the graph family's SIXTH algorithm
    # class (relaxation: a node's tentative cost can improve after
    # first visit, so the loop state is the full checkpointed cost
    # table, unlike BFS's append-only frontiers; fixed round count
    # makes the semantics total, oracle = the min-plus ladder unrolled
    # as MATERIALIZED CTEs) — in for streaming_funnel_steps (green
    # r12+r13+r14, thrice-green; the funnel family keeps
    # funnel_conversion_steps AND funnel_sessionized in-window, and the
    # streaming family keeps 15+ members).  (r12-era slot history:
    # streaming_funnel_steps had replaced ann_signbucket_topk, green
    # r7-r11.)
    "graph_sssp_cost",
    # round-11 rotation (tenth swap): streaming_quantile_rollup — the
    # histogram sketch's ingest twin (16th oracle-bearing streaming
    # entry; per-microbatch bin-count partials, addition-merged —
    # split-invariant by integer arithmetic; shares the batch rollup's
    # oracle) in for ann_ivf_topk (green r8+r9+r10; the ANN family
    # keeps ann_signbucket_topk in-window and the IVF machinery stays
    # composed verbatim inside pq_recall_eval's oracle)
    # round-16 rotation: 1-green SQL-surface cohort: EXCEPT distinct form — in for
    # streaming_quantile_rollup (green r11-r15; the quantile-sketch
    # family keeps hist_quantile_rollup AND quantile_exact_sketch_cert
    # in-window).
    "except_parts_never_shipped",
    # --- round-7 rotation: the retrieval pair + the never-windowed k-means
    # --- smoke, in place of knn_cosine_labeled / dedup_jaccard_pairs /
    # --- training_shard_manifest (each green r4+r5+r6, families covered) --
    # round-11 rotation (twenty-third swap): streaming_cohort_retention
    # — the retention class's scan-once-at-ingest form (22nd oracle-
    # bearing streaming entry: per-microbatch signup-month min-partials
    # + distinct (user, month) activity pairs, min/set-union-merged —
    # both associative; the retention table is a deterministic
    # compaction of the merged partials; shares the batch query's
    # oracle) — in for bm25_multiquery (green r7+r8+r9+r10, x1000-
    # certified ratio 48.3 in BENCH_SCALE_x1000.json; the retrieval
    # family keeps pq_recall_eval and mrl_pq_adc_topk in-window, and
    # the BM25 CTE stack stays composed verbatim inside
    # hybrid_rrf_topk's pytest-checked oracle)
    # round-16 rotation (governance-forced in, second wave):
    # streaming_wcc_membership — dedup clustering on ingest, the graph
    # family's second scan-once-at-ingest form (windowed distinct
    # (order, part) observation log; read-side compaction re-runs the
    # SAME copurchase_edges + connected_components stages, so the twin
    # carries the batch recursive-CTE oracle verbatim) — in for
    # streaming_cohort_retention (green r11-r15, five hard rows,
    # rotation-eligible; the cohort family keeps cohort_retention
    # in-window, which shares the observation-log machinery).
    "streaming_wcc_membership",
    # round-10 rotation: hll_sketch_rollup — mergeable DataSketches HLL
    # partials union-merged per lang with a hard +-5% gate vs exact (the
    # scan-once-merge-forever sketch-table shape; joins
    # approx_quantile_gate in the sketch family) — in for hybrid_rrf_topk
    # (green r7+r8+r9, rotation-eligible; the retrieval family keeps
    # bm25_multiquery, pq_recall_eval, mrl_pq_adc_topk and
    # mrl_truncation_eval in-window, and the RRF fusion stays
    # pytest-oracle-checked every round)
    # round-14 rotation (r13 verdict item #4 — the r12 brief's exact-vs-
    # sketch certification): quantile_exact_sketch_cert — per-source
    # exact nearest-rank quantiles (embedding_dim_quantiles' row_number
    # machinery) certified to lie inside hist_quantile_rollup's sketch
    # bins, all-integer within_bin gate — in for hll_sketch_rollup
    # (green r10-r13, FOUR hard rows, rotation-eligible per the r13
    # verdict; the sketch family keeps cm_sketch_gate, kmv_jaccard_gate,
    # hist_quantile_rollup, THIS cert, and all four streaming sketch
    # twins — including streaming_hll_rollup, the HLL machinery's
    # ingest form — in-window).
    # round-17 rotation (fewest-career-greens cohort, cont.):
    # token_count_by_lang — whitespace+BPE-ish-regex token counting by
    # language (career greens r1+r2 only; previously held out as
    # "family-covered") — back in for its third green, in for
    # quantile_exact_sketch_cert (green r14-r16, thrice-green
    # rotation-eligible; the sketch family keeps hist_quantile_rollup
    # and all three streaming sketch rollups in-window, and the
    # exact-vs-sketch certification stays pytest-oracle-checked every
    # round).  Bonus: this query is now a bench NORMALIZATION CONTROL
    # (bench.py CONTROLS) — its in-window row revalidates the control.
    # round-18 rotation (fewest-career-greens cohort, cont.):
    # json_props_extract — the JSON scalar-function surface (career
    # greens r1+r2 only) — back in for its third green, in for
    # token_count_by_lang (green r1+r2+r17, thrice-green rotation-
    # eligible; the text family keeps lateral_explode_words plus the
    # trained-LM pair in-window, and the token counter stays a bench
    # NORMALIZATION CONTROL — pre-flight-enforced — and pytest-oracle-
    # checked every round).
    # round-19 rotation (fewest-career-greens cohort, cont.):
    # doc_repetition_stats — within-doc n-gram repetition profiling
    # (career greens r4+r5 only) — back in for its third green, in for
    # json_props_extract (green r1+r2+r18, thrice-green rotation-
    # eligible; the JSON scalar surface stays pytest-oracle-checked
    # every round and the props parsing stays exercised inside the
    # event-surface rows).
    "doc_repetition_stats",
    # --- round-8 rotation: the vector-store codec surface (r7 verdict item
    # --- #1) gets its driver rows — PCA projection, PQ encode, flat ADC
    # --- top-k, and the composed IVF-PQ probe — plus the streaming novelty
    # --- probe (9th oracle-bearing streaming entry, item #4) and the
    # --- sketch-family rep approx_quantile_gate rotated back in (item #6;
    # --- the family had no in-window member since r7).  Rotating OUT:
    # --- decontamination_overlap / sequence_packing /
    # --- budgeted_sample_per_lang / streaming_sliding_counts (each green
    # --- r5+r6+r7; decontamination stays via streaming_decontamination,
    # --- packing via packing_efficiency, sampling via curation_keep_set's
    # --- stratified stage, streaming keeps 8 in-window entries),
    # --- embedding_neardup_pairs (green r4-r7; the banded sign-LSH
    # --- machinery stays end-to-end via semantic_dedup + the ANN pair),
    # --- and kmeans_refine_assign (rows-only smoke — its one required
    # --- clean driver execution landed in r7, closing the r6 hygiene
    # --- item; the Lloyd loop stays numpy-golden pytest-checked and its
    # --- seed/assign machinery is hash-checked through semantic_dedup,
    # --- ann_ivf_topk, and the new PQ rows).
    # round-11 rotation (fifteenth swap): streaming_zone_maps — the
    # layout class's scan-once-at-ingest form (19th oracle-bearing
    # streaming entry: the grid is published once from the static table,
    # every arriving microbatch appends <=128-row zone-map partials, and
    # min/max/sum merges are associative and exact, so the twin carries
    # the batch gate's SQL verbatim) — in for pca_project (green
    # r8+r9+r10, rotation-eligible; the vector-store family keeps
    # pq_recall_eval and mrl_pq_adc_topk in-window, and the PCA
    # Gram-merge machinery stays pytest-oracle-checked every round)
    "streaming_zone_maps",
    # round-11 rotation: cm_sketch_gate — the count-min point-frequency
    # gate (functions/cms.py: relational counter tables, element-wise-
    # addition merge, min-of-counters probe; the fourth sketch class) —
    # in for pq_encode_codes (green r8+r9+r10, rotation-eligible; at
    # this swap the PQ family still held four in-window members, but the
    # later fifth and ninth swaps rotated pq_adc_topk and ivfpq_adc_topk
    # out too — the family's CURRENT in-window reps are pq_recall_eval
    # and mrl_pq_adc_topk, with every encode/ADC CTE stack composed
    # verbatim inside their oracles; stated here so rotation decisions
    # reading these comments count coverage correctly)
    # round-16 rotation: 1-green SQL-surface cohort: GROUPING SETS form — in for
    # cm_sketch_gate (green r11-r15; the CMS family keeps
    # streaming_cm_rollup in-window, which merges the same partials).
    "grouping_sets_orders",
    # round-11 rotation: kmv_jaccard_gate — the KMV bottom-k set-
    # operation sketch (functions/kmv.py: pairwise source Jaccard /
    # intersection / union-distinct, the estimate HLL's union-only
    # merge cannot express; fifth sketch class) — in for pq_adc_topk
    # (green r8+r9+r10, rotation-eligible; the PQ family keeps
    # ivfpq_adc_topk, pq_recall_eval and mrl_pq_adc_topk in-window,
    # and the flat-ADC CTE stack stays composed verbatim inside
    # pq_recall_eval's oracle)
    # round-16 rotation: 1-green SQL-surface cohort: INTERSECT form — in for
    # kmv_jaccard_gate (green r11-r15; the KMV family keeps
    # streaming_kmv_rollup in-window).
    "intersect_repeat_customers",
    # round-11 rotation (ninth swap): hist_quantile_rollup — the
    # mergeable fixed-grid histogram quantile sketch (the relational
    # quantile form percentile_approx cannot express: persistable,
    # addition-merged partials; hard-gated on the exact quantile lying
    # inside the estimated bin) in for ivfpq_adc_topk (green
    # r8+r9+r10; the PQ family keeps pq_recall_eval and mrl_pq_adc_topk
    # in-window, whose oracles compose the IVF-PQ CTE stack verbatim)
    "hist_quantile_rollup",
    # round-11 rotation (eighth swap): streaming_lm_score — the trained
    # bigram LM's score-on-ingest twin (15th oracle-bearing streaming
    # entry; train once from the static reference, stream-static join
    # per microbatch, shares the batch gate's oracle) in for
    # streaming_novelty_probe (green r8+r9+r10; the novelty machinery
    # stays oracle-composed in its own registry entry and pytest-checked
    # every round, and the streaming family keeps seven oracle-bearing
    # members in-window)
    "streaming_lm_score",
    # round-11 rotation: streaming_cm_rollup — per-microbatch count-min
    # counter partials persisted and addition-merged (the 13th oracle-
    # bearing streaming entry; trivially boundary-invariant, unlike
    # top-k combine) — in for approx_quantile_gate (green r8+r9+r10,
    # rotation-eligible; the sketch family keeps hll_sketch_rollup,
    # heavy_hitters_gate, cm_sketch_gate and both streaming sketch
    # twins in-window, and the quantile gate stays pytest-oracle-
    # checked every round)
    "streaming_cm_rollup",
    # round-11 rotation (twenty-first swap): funnel_conversion_steps —
    # the ordered-sequence funnel class (oracle = the textbook 3-stage
    # CTE chain; engine = ONE user-keyed exchange with a greedy
    # (depth, ts)-state aggregate() fold, strict-inequality tie
    # semantics pinned by a planted test) — in for vocab_coverage_32k
    # (green r7+r8+r9+r10; the vocabulary machinery stays pytest-
    # oracle-checked via vocab_coverage and the tokenizer family keeps
    # bpe_apply_tokenize in-window)
    "funnel_conversion_steps",
    # round-12 rotation: streaming_cdc_apply — the CDC class's scan-once-
    # at-ingest form (24th oracle-bearing streaming entry: per-microbatch
    # struct-max/count partials from the SAME cdc_log + cdc_compact
    # stages; struct max and integer count are associative, so the twin
    # carries the batch snapshot's SQL verbatim) — in for
    # curation_keep_set (green r3-r11, NINE hard rows, rotation-eligible
    # per the r11 verdict; the composed decontaminate->gate->dedup->CC->
    # sample closure stays pytest-oracle-checked every round and its
    # member stages remain in-window via bloom_decontamination and
    # d1_first_occurrence_dedup).
    "streaming_cdc_apply",
    # round-10 rotation: streaming_hll_rollup — per-microbatch HLL sketch
    # maintenance (the 11th oracle-bearing streaming entry: raw text
    # scanned once AT INGEST into a persisted sketch table, rollups merge
    # kilobyte partials; oracle = the batch rollup's SQL, valid because
    # HLL union is split-invariant) — in for split_leakage_audit (green
    # r7+r8+r9, rotation-eligible; the leakage/decontamination family
    # keeps streaming_decontamination, bloom_decontamination, and
    # curation_keep_set's decon stage in-window)
    "streaming_hll_rollup",
    # round-15 rotation (r14 verdict item #4: rotate in the entries with
    # the FEWEST career greens — the r2-only SQL-surface cohort):
    # window_frame_moving_sum — the ROWS-frame moving aggregate (one
    # hard row, r2) — back in for window_range_trailing_day (green
    # r12+r13+r14, thrice-green; the interval-RANGE-frame machinery
    # stays in-window via anomaly_trailing_zscore, which evaluates the
    # same trailing RANGE frame, and the rotated-out query stays
    # pytest-oracle-checked every round).  (r12-era slot history:
    # window_range_trailing_day had replaced salted_skew_agg, green
    # r4-r11.)
    # round-17 rotation (fewest-career-greens cohort, cont.):
    # tumbling_window_counts — the fixed-window event-time aggregate
    # (career greens r1+r2 only) — back in for its third green, in for
    # window_frame_moving_sum (green r14-r16, thrice-green rotation-
    # eligible; the frame family keeps sliding_window_counts AND
    # anomaly_trailing_zscore — the same trailing-frame machinery —
    # in-window, and the ROWS-frame moving sum stays pytest-oracle-
    # checked every round).
    # round-18 rotation (fewest-career-greens cohort, cont.):
    # date_monthly_revenue — the date/timestamp scalar surface (trunc/
    # extract monthly rollup; career greens r1+r2 only) — back in for
    # its third green, in for tumbling_window_counts (green r1+r2+r17,
    # thrice-green rotation-eligible; the event-time window family keeps
    # sliding_window_counts AND streaming_ohlc_bars in-window, and the
    # tumbling aggregate stays pytest-oracle-checked every round).
    # round-19 rotation (fewest-career-greens cohort, cont.):
    # multimodal_header_fields — binary header-field decoding over the
    # multimodal payloads (career greens r4+r5 only) — back in for its
    # third green, in for date_monthly_revenue (green r1+r2+r18,
    # thrice-green rotation-eligible; the date/timestamp scalar surface
    # stays pytest-oracle-checked every round and timestamp semantics
    # stay exercised by the in-window temporal rows).
    "multimodal_header_fields",
    # round-10 rotation: bloom_decontamination — the Bloom-prefiltered
    # decontamination (functions/bloom.py: declarative bit_or-built
    # filter, broadcast 1-row dense word array, exact verify of bloom
    # survivors; oracle = decontamination_overlap's SQL verbatim, valid
    # because bloom has no false negatives) — in for ngram_novelty_score
    # (green r7+r8+r9, rotation-eligible; the novelty family keeps
    # streaming_novelty_probe in-window, whose oracle recomputes the
    # relational novelty end-to-end).  (r7-era slot history:
    # ngram_novelty_score had replaced curation_pipeline_stats.)
    # round-14 rotation (late): graph_kcore_membership — k-core
    # decomposition, the graph family's FOURTH algorithm class (density
    # peeling; driver-side fixpoint loop whose state is two scalars,
    # each peel one degree aggregate + two semi-filter equi-joins;
    # oracle = the peel unrolled KCORE_MAX_PEELS times as MATERIALIZED
    # CTEs, with a loud engine-side convergence guard so both engines
    # provably describe the same iterate) — in for bloom_decontamination
    # (green r10-r13 plus an r10-era row: FIVE hard greens, the last
    # remaining entry on the r13 verdict's eligibility list; the
    # decontamination machinery — bloom build, survivors' exact verify —
    # stays pytest-oracle-checked every round via its own registry entry
    # and the x1000 tier row (31.9) stands).
    "graph_kcore_membership",
    # --- round-6 late additions: corpus-frequency rarity scoring + mixture
    # --- reweighting take the slots of text_quality_score and
    # --- multimodal_payload_stats (each green r3+r4+r5; text-quality and
    # --- multimodal families keep quality_filter_pipeline /
    # --- multimodal_decode_features in-window) ------------------------------
    # round-10 rotation: heavy_hitters_gate — the frequent-items sketch
    # class (Spark 4 approx_top_k) hard-gated against the exact top-K,
    # the third sketch family member next to approx_quantile_gate and
    # hll_sketch_rollup — in for token_rarity_score (green r6+r7+r8+r9,
    # rotation-eligible; the corpus-frequency family keeps
    # vocab_coverage_32k and the new heavy-hitters row in-window, and
    # the rarity scoring stays pytest-oracle-checked every round)
    # round-12 rotation (late): twap_daily_value — time-weighted average,
    # the interval-weighted aggregation class tick-weighted bars cannot
    # express (queries/temporal.py: LOCF dwell-weighted cents per (user,
    # day), returned as the exact BIGINT num/den fraction so it hashes)
    # — in for heavy_hitters_gate (FIVE driver greens r7-r11 including
    # one on the r11 two-scan refactored form; the frequency-gate family
    # keeps streaming_topk_rollup — the same approx_top_k machinery's
    # ingest form — and cm_sketch_gate in-window, and the gate stays
    # pytest-oracle-checked every round).
    # round-16 rotation: 1-green SQL-surface cohort: LATERAL/explode form — in for
    # twap_daily_value (green r12-r15, four hard rows; the temporal
    # family keeps timeseries_gapfill, scd2_history_build,
    # pointintime_balance_lookup, anomaly_trailing_zscore and
    # window_frame_moving_sum in-window; TWAP keeps its scale-stress
    # tier rows and pytest-oracle check).
    "lateral_explode_words",
    # round-11 rotation (twenty-second swap): cohort_retention — the
    # cohort/retention product-analytics class (signup-month cohorts,
    # exact integer month-offset arithmetic — months_between() returns a
    # double and is avoided — all-count outputs; negative pre-signup
    # offsets excluded, pinned by a planted test) — in for
    # source_mix_weights (green r6-r10; corpus-summary coverage stays
    # in-window via the sketch rollups and hist_quantile_rollup, and
    # the mixture-reweighting machinery stays pytest-oracle-checked)
    "cohort_retention",
    # round-15 rotation (fewest-career-greens cohort, cont.):
    # outer_join_nation_activity — the multi-way outer-join family rep
    # (one hard row, r2) — back in for ohlc_time_bars (green
    # r12+r13+r14, thrice-green; the OHLC family keeps
    # streaming_ohlc_bars in-window, which carries the batch query's
    # SQL verbatim over the same ohlc_partials stage).  (r12-era slot
    # history: ohlc_time_bars had replaced multimodal_decode_features.)
    # round-17 rotation (fewest-career-greens cohort, cont.):
    # multi_join_revenue_by_nation — the 4-table broadcast-dim join
    # chain (career greens r1+r2 only) — back in for its third green,
    # in for outer_join_nation_activity (green r2+r15+r16, thrice-green
    # rotation-eligible; the join surface keeps j1_gather_join AND this
    # incoming multi-join rep in-window, and the outer-join NULL
    # semantics stay pytest-oracle-checked every round).
    # round-18 rotation (fewest-career-greens cohort, cont.):
    # lang_id_ngram — the language-ID n-gram heuristic (§2.11 mandated
    # text analysis; career greens r3+r4 only) — back in for its third
    # green, in for multi_join_revenue_by_nation (green r1+r2+r17,
    # thrice-green rotation-eligible; the join surface keeps
    # j1_gather_join, range_join_value_bands and pointintime_balance_
    # lookup in-window, and the 4-table broadcast-dim chain stays
    # pytest-oracle-checked plus plan-asserted every round).  NOT chosen
    # despite fewer/equal greens: setop_customers_without_orders — its
    # two career greens are 0-row==0-row matches (the synthetic corpus
    # gives every customer an order), so its driver row is vacuous at
    # every tested SF; it stays pytest-oracle-checked out-of-window.
    # round-19 rotation (fewest-career-greens cohort, cont.):
    # pii_scan_counts — regex PII-class scanning over the corpus
    # (career greens r4+r5 only) — back in for its third green, in for
    # lang_id_ngram (green r3+r4+r18, thrice-green rotation-eligible;
    # the text family keeps lateral_explode_words, the trained-LM pair
    # and the incoming doc_repetition_stats in-window, and the n-gram
    # language-ID heuristic stays pytest-oracle-checked every round).
    "pii_scan_counts",
    # --- round-6 rotation: first driver rows for the two new ops, plus the
    # --- batch sessionize twin (no row since r3, r4-crash-family insurance)
    # --- in place of tfidf/approx-quantile/doc-repetition (green r4+r5) -----
    # round-11 rotation (twenty-seventh swap): funnel_sessionized — the
    # scale-correct funnel variant the plain funnel's docstring promises
    # (per-SESSION conversion: the fold's array is bounded by session
    # length, never a user's lifetime; oracle composes the sessionize
    # CTE with the per-session 3-stage min-chain) — in for
    # repeated_passage_spans (green r6-r10; the passage-dedup
    # gaps-and-islands machinery stays pytest-oracle-checked and the
    # dedup family keeps d1 + curation_keep_set in-window)
    # round-16 rotation: 1-green SQL-surface cohort: PIVOT form — in for
    # funnel_sessionized (green r11-r15; the funnel family keeps
    # funnel_conversion_steps in-window).
    "pivot_status_counts",
    # round-11 rotation (eighteenth swap): streaming_scd2_build — the
    # MERGE/upsert class's scan-once-at-ingest form (20th oracle-bearing
    # streaming entry: per-microbatch (cust, date) BIGINT-cents delta
    # partials from the SAME scd2_deltas stage, addition-merged — split-
    # invariant; the log is the state, the interval build a deterministic
    # compaction; shares the batch build's oracle) — in for semantic_dedup
    # (green r6-r10, rotation-eligible; the dedup family keeps
    # d1_first_occurrence_dedup, editdist_neardup_join,
    # streaming_incremental_dedup and curation_keep_set — whose oracle
    # composes the same clustering closure — in-window)
    "streaming_scd2_build",
    # round-11 rotation (nineteenth swap): pointintime_balance_lookup —
    # the temporal/point-in-time join class (dimension-as-of-event-time
    # enrichment: the oracle is the literal LEFT interval join, the
    # engine the window-merge union form — one custkey shuffle, row
    # count changes+probes, never their product) — in for
    # sessionize_events (green r1-r3+r6-r10; the events/window family
    # keeps asof_last_click_before_purchase and timeseries_gapfill
    # in-window, and sessionization stays covered by the streaming
    # sessionize batch-equivalence pytest every round)
    "pointintime_balance_lookup",
    # --- round-6 additions: first driver rows for the retrieval/model-
    # --- inference surface (BM25 search, quality-classifier inference,
    # --- vocabulary induction, corpus data card), in place of
    # --- pii_scan_counts / multimodal_header_fields / doc_fingerprint /
    # --- embedding_norms_by_label (each green r4+r5; text, multimodal,
    # --- fingerprint, and embedding families all keep in-window members) ----
    # --- (stratified_sample also rotates out — green r4+r5; the sampling
    # --- family keeps budgeted_sample_per_lang and curation_keep_set's
    # --- stratified stage in-window) ----------------------------------------
    # round-9 rotation (r8 verdict item #1): pq_recall_eval — the codec-
    # path retrieval-quality canary (recall@10 + top1 RR of pq_adc_topk /
    # ivfpq_adc_topk vs the exact squared-L2 top-10, both codec CTE stacks
    # composed verbatim) — in for bm25_topk (green r6+r7+r8; the BM25
    # family keeps bm25_multiquery — the strictly stronger batch-serving
    # form — and hybrid_rrf_topk in-window)
    # round-12 rotation: graph_pagerank_topk — fixed-point BIGINT
    # PageRank over the part-supplier bipartite graph (queries/
    # graph_queries.py: 3 unrolled join+aggregate supersteps, exact
    # integer ranks, the iterative-propagation class CC does not cover)
    # — in for pq_recall_eval (green r9+r10+r11, rotation-eligible per
    # the r11 verdict; the ANN family keeps mrl_pq_adc_topk in-window
    # and the recall-canary CTE stack stays pytest-oracle-checked).
    # round-16 rotation: 1-green SQL-surface cohort: non-equi range-band join — in for
    # graph_pagerank_topk (green r12-r15, four hard rows; the graph
    # family keeps triangle/kcore/bfs/sssp/wcc and
    # streaming_pagerank_topk in-window, and PageRank keeps its
    # graphscale tier rows x10/x100/x1000).
    "range_join_value_bands",
    # round-11 rotation: streaming_topk_rollup — per-microbatch
    # approx_top_k_accumulate partials persisted to a sketch table,
    # combine-merged and gated like the batch heavy_hitters_gate (the
    # 12th oracle-bearing streaming entry; capacity sized into the
    # exact regime where combine IS boundary-invariant) — in for
    # bpe_train_merges (rows-only; its one clean driver execution
    # landed in r10, out per the one-rows-only-round precedent; the
    # training loop stays pure-Python-golden + planted-pytest pinned,
    # and its merges feed the in-window bpe_apply_tokenize row)
    "streaming_topk_rollup",
    # round-12 rotation (late): embedding_dim_quantiles — per-dimension
    # EXACT nearest-rank quantile profile (the feature-profiling /
    # quantile-transform class; the exact twin of hist_quantile_rollup's
    # mergeable-sketch path — deterministic corpus ELEMENTS, not
    # interpolations, so the float outputs hash) — in for
    # mrl_pq_adc_topk (green r9+r10+r11, the last rotation-eligible
    # entry on the r11 verdict's list; the vector family keeps
    # similarity machinery in-window via THIS entry and the full
    # MRL/PQ/IVF codec surface stays pytest-oracle-checked every round).
    "embedding_dim_quantiles",
    # r9-era slot history: mrl_pq_adc_topk — the MRL x
    # PQ composition, serving a 16-dim prefix from the first 2 code bytes
    # of the existing codes table — in for vocab_coverage (green r6+r7+r8;
    # the vocabulary family keeps vocab_coverage_32k, the production-V
    # audit, in-window)
    # round-11 rotation (thirteenth swap — forced by the cumulative-
    # coverage governance test: every oracle-bearing entry must get a
    # driver row in some round, so late registrations start in-window):
    # streaming_weighted_sample (the A-ES reservoir twin, 18th oracle-
    # bearing streaming entry) in for corpus_datacard (green r8+r9+r10;
    # the datacard is a composition whose component stats all stay
    # pytest-oracle-checked, and corpus-summary coverage stays in-window
    # via source_mix_weights + the sketch rollups)
    "streaming_weighted_sample",
    # round-15 rotation (fewest-career-greens cohort, cont.):
    # median_acctbal_by_segment — exact grouped median (one hard row,
    # r2) — back in for intersect_all_priorities (green r12+r13+r14,
    # thrice-green; the set-op family keeps except_all_priorities
    # in-window — the same signed-count-aggregate plan shape on the
    # same duplicate-heavy input).  (r12-era slot history:
    # intersect_all_priorities had replaced packing_efficiency, green
    # r6-r11.)
    "median_acctbal_by_segment",
    # --- round-5 rotation: first driver rows for the two new ops + the
    # --- newly-oracle-bearing sliding stream (swapped in for text_stats /
    # --- bpe_token_estimate / lang_id_ngram, each green r2+r3+r4) -----------
    # --- Structured Streaming (round-6 note: streaming_quality_gate took
    # --- doc_chunking's slot — thrice-green r3+r4+r5) -----------------------
    # round-11 rotation: streaming_kmv_rollup — per-microbatch bottom-k
    # signatures persisted and bottom-k-merged (the 14th oracle-bearing
    # streaming entry; bottom-k merge is exact and associative, so
    # boundary-invariance is structural) — in for
    # embedding_int4_block_quantize (green r8+r9+r10, rotation-
    # eligible; the embedding-quantize family keeps
    # streaming_int4_quantize in-window, which runs the SAME extracted
    # transform over each microbatch and carries the batch twin's
    # oracle)
    "streaming_kmv_rollup",
    # round-11 rotation (seventh swap): ngram_lm_perplexity — the TRAINED
    # bigram-LM perplexity gate (CCNet-style model-based quality
    # filtering; exact-BIGINT nanonat NLL via octave-reduced integer
    # log2 + Pade fraction, no libm) in for mrl_truncation_eval (green
    # r8+r9+r10; the MRL family keeps mrl_pq_adc_topk in-window, whose
    # oracle composes the same prefix-truncation machinery)
    "ngram_lm_perplexity",
    # round-11 rotation (sixteenth swap): timeseries_gapfill — the
    # time-series resample/interpolate class (per-user dense hourly grid
    # via sequence+explode, LOCF fill via last(ignorenulls); every
    # carried value order-independent so the fill hash-matches exactly)
    # — in for bpe_merge_candidates (green r7+r8+r9+r10; the pair-count
    # machinery IS iteration 1 of bpe_train_merges and the tokenizer
    # family keeps bpe_apply_tokenize in-window)
    "timeseries_gapfill",
    # round-11 rotation (seventeenth swap): scd2_history_build — the
    # MERGE/upsert class (SCD2 validity intervals from the orders change
    # log: exact BIGINT-cents deltas, ONE per-customer window computing
    # version/lead/running-balance) — in for dsir_importance_weights
    # (green r7+r8+r9+r10; the data-selection family keeps
    # weighted_sample_wor and source_mix_weights in-window, and the DSIR
    # bucket machinery stays pytest-oracle-checked every round)
    "scd2_history_build",
    # round-11 rotation (twenty-fifth swap): cube_revenue — CUBE
    # aggregation, completing the grouping-analytics family next to
    # rollup_revenue and grouping_sets_orders (all four grouping
    # combinations in ONE Expand+combiner pass; exact BIGINT-cents
    # revenue) — in for streaming_incremental_dedup (green r3-r10, the
    # second-longest-green entry; the streaming family keeps TEN other
    # in-window members and the incremental LSH-probe machinery stays
    # pytest-checked via its batch-twin oracle every round)
    # round-16 rotation: 1-green SQL-surface cohort: sliding-window counts — in for
    # cube_revenue (green r11-r15; the grouping family's CUBE twin
    # hands the slot to grouping_sets_orders, rotating in above).
    "sliding_window_counts",
    # round-11 rotation (twelfth swap): streaming_lm_train — the LM's
    # train-on-ingest twin (17th oracle-bearing streaming entry:
    # per-microbatch bigram-count partials, addition-merged — split-
    # invariant by integer arithmetic — then scored via the shared
    # transform; with streaming_lm_score the whole train+score pipeline
    # runs at ingest) in for streaming_quality_gate (green r8+r9+r10;
    # quality filtering keeps ngram_lm_perplexity AND streaming_lm_score
    # in-window — the trained-model gates — and the heuristic quality
    # machinery stays pytest-oracle-checked every round)
    "streaming_lm_train",
    # round-11 rotation (eleventh swap): weighted_sample_wor —
    # deterministic Efraimidis-Spirakis weighted sampling without
    # replacement (md5-derived uniforms + the octave-Pade integer log:
    # the sampled set itself is bit-identical across engines/runs) in
    # for streaming_decontamination (green r8+r9+r10; decontamination
    # keeps bloom_decontamination in-window sharing the exact twin's
    # oracle, and the streaming family keeps six oracle-bearing
    # members).  The sampling family regains an in-window rep
    # (stratified_sample rotated out in r8 family-covered).
    # round-16 rotation: 1-green SQL-surface cohort: UNPIVOT/stack form — in for
    # weighted_sample_wor (green r11-r15; the sampling family keeps
    # streaming_weighted_sample in-window, which merges the same
    # keyed-hash order).
    "unpivot_part_metrics",
    # --- core §2 operators (one per family; twice-green siblings rotated out) -
    "p1_positional_projection",
    "j1_gather_join",
    "d1_first_occurrence_dedup",
    "a1a2_group_normalize",
    "r1_array_assembly",
    # round-12 rotation (late): streaming_ohlc_bars — the candlestick
    # rollup's scan-once-at-ingest twin (25th oracle-bearing streaming
    # entry: per-microbatch first/last-tick-struct + extrema + count/
    # volume partials from the SAME ohlc_partials stage; every field
    # merges associatively, so the twin carries the batch query's SQL
    # verbatim) — in for l1_point_lookup (green r1-r11, ELEVEN hard
    # rows, the longest streak in the registry; §2 family L keeps
    # l2_element_reorder in-window and the lazy scalar-subquery lookup
    # stays pytest-plan-asserted every round).
    "streaming_ohlc_bars",
    "l2_element_reorder",
    "sgt_flagship_encode",
    # round-12 rotation: anomaly_trailing_zscore — the trailing-window
    # outlier gate on the interval RANGE frame machinery (queries/
    # temporal.py: z^2 > k^2 cross-multiplied to exact BIGINT, no float
    # z-score) — in for sgt_pipeline_records (rows-only with TEN clean
    # driver executions r2-r11, out per the dgf_pipeline_records
    # precedent; the record-sink family keeps sgt_flagship_encode —
    # the oracle-bearing flagship — in-window and the blob/header sink
    # stays golden-bit-exact pytest-checked every round).
    "anomaly_trailing_zscore",
    # round-11 rotation (twenty-sixth swap): except_all_priorities —
    # EXCEPT ALL, the bag-semantics set-difference twin of the DISTINCT
    # set family (multiplicity max(0, n_O - n_F) per value; Spark plans
    # it as a signed-count aggregate, not a join — same collapse DuckDB
    # performs) — in for dgf_pipeline_records (rows-only with NINE clean
    # driver executions r2-r10; the record-sink family keeps
    # sgt_pipeline_records in-window and the DGF path stays golden-
    # bit-exact pytest-checked every round)
    "except_all_priorities",
    # --- SQL-surface representatives ----------------------------------------
    # round-11 rotation (twenty-fourth swap): event_transition_matrix —
    # the Markov-chain journey view (lag over one per-user window,
    # |types|^2-row exact-count output, deterministic (ts, event_id)
    # tie-break pinned by a planted same-timestamp test) — in for
    # asof_last_click_before_purchase (green r1-r10, the longest-green
    # rotation-eligible entry; the as-of window-merge machinery is
    # literally the engine inside pointintime_balance_lookup, which is
    # in-window, and the events/window family keeps gapfill, funnel,
    # cohort and their streaming twins in-window)
    "event_transition_matrix",
    # round-15 rotation (fewest-career-greens cohort, cont.):
    # rank_distribution_customers — the rank/dense_rank ranking-function
    # family rep (one hard row, r2) — back in for ntile_price_deciles
    # (green r12+r13+r14, thrice-green; the ranking family keeps THIS
    # member in-window and NTILE's ceil-first bucket rule stays
    # pytest-oracle-checked every round).  (r12-era slot history:
    # ntile_price_deciles had replaced pii_redaction, green r7-r11.)
    # round-17 rotation (fewest-career-greens cohort, cont.):
    # topk_orders_per_customer — per-group top-k via ranked window +
    # filter (career greens r1+r2 only) — back in for its third green,
    # in for rank_distribution_customers (green r2+r15+r16, thrice-green
    # rotation-eligible; the ranking family keeps THIS per-group top-k
    # rep in-window, and rank/dense_rank plus the TakeOrderedAndProject
    # plan shape stay pytest-asserted every round).
    # round-18 rotation (fewest-career-greens cohort, cont.):
    # e1_quantize_codes — the §2.7 E1 truncating-quantize array form
    # (career greens r2+r3 only — the quantize family's last hard row
    # was r3) — back in for its third green, in for
    # topk_orders_per_customer (green r1+r2+r17, thrice-green rotation-
    # eligible; the ranked-window machinery stays in-window via
    # embedding_dim_quantiles' row_number profile and scd2_history_
    # build's version/lead windows, the TakeOrderedAndProject plan shape
    # stays pytest-asserted, and the per-group top-k stays pytest-
    # oracle-checked every round).
    # round-19 rotation (fewest-career-greens cohort, cont.):
    # bpe_token_estimate — the BPE-merge token-count estimator (career
    # greens r3+r4 only) — back in for its third green, in for
    # e1_quantize_codes (green r2+r3+r18, thrice-green rotation-
    # eligible; the E family keeps sgt_flagship_encode in-window — the
    # flagship composes the same quantize stage — and the E1 array form
    # stays pytest-oracle-checked every round).
    "bpe_token_estimate",
]


def _reorder_registry() -> None:
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:  # fail loudly at import: a typo here silently wastes a slot
        raise RuntimeError(f"DRIVER_WINDOW names not in REGISTRY: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()

__all__ = ["REGISTRY", "QuerySpec", "DRIVER_WINDOW"]
