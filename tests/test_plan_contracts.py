"""Plan contracts — regression guards for the physical-plan properties
the 100 TB story depends on (PERFORMANCE.md). These assert on
``explain("formatted")`` output, not on timings, so they are stable on
shared hardware:

- NO declared query may plan a row-at-a-time Python UDF
  (``BatchEvalPython``) or an unintended ``CartesianProduct`` (the
  all-query census below; the single-query tests assert their own
  plan shapes only);
- dimension joins stay broadcast (tpch_q5's five dims);
- filter pushdown + column pruning reach the parquet scan (s7);
- the GEMM scorers stay Arrow-native (``MapInArrow``), never fall back
  to interpreted higher-order folds.
"""

import os

import pytest

from tools.plans import census_record, formatted_plan, scan_signatures

SF = "/root/testdata/sf0.001"

# The plan census's allow-lists. A query not listed, or above its entry,
# fails the all-query test; so does a listed query that no longer shows
# the pattern, so both lists only shrink.
#
# Duplicate scans: the most parquet scans in one plan that share a
# (table, ReadSchema, PushedFilters) signature, and why the repeat is by
# design (OPTIMIZATION_r16.md "Census classification"). Plans are taken
# cache-free, so a persisted frame's scan counts once per reader.
DUP_SCANS = {
    "j10_interval_join_batch": (2, "bucketed interval self-join"),
    "j15_recursive_hierarchy": (
        6, "fused BFS blocks re-probe the edge table about 2k-1 times"),
    "l2_dfcap_jaccard_pairs": (
        4, "shingle self-join sides and both per-doc size joins read "
           "one persisted shingle frame"),
    "l2_edit_distance_pairs": (
        6, "shingle self-join, both size joins, text attach for both "
           "pair sides"),
    "l2_incremental_dedup": (2, "corpus and new-batch halves of one table"),
    "l2_ngram_jaccard_pairs": (
        4, "shingle self-join sides and both per-doc size joins read "
           "one persisted shingle frame"),
    "l2_simhash_pairs": (2, "pigeonhole chunk-blocking self-join"),
    "l3_lsh_topk": (
        2, "10-row query slice re-attached after the vector-free "
           "band join"),
    "l3_recall_eval": (2, "LSH and brute-force candidates compared"),
    "l4_pmi_collocations": (
        3, "document count re-planned for both self-join sides and the "
           "PMI formula; window and in-row rewrites measured slower"),
    "l6_benchmark_decontam": (2, "train and benchmark splits of one table"),
    "l6_dup_span_removal": (
        2, "clean docs take the in-row path, touched docs the heavy one"),
    "l6_pretrain_pipeline": (2, "raw-corpus gram side"),
    "m7_naive_bayes_predict": (
        2, "word counts, language totals and vocabulary each read the "
           "train split; the r15-measured optimum"),
    "tpch_q7": (2, "nation joined as the supplier's and the customer's"),
}

# SinglePartition exchanges: how many, and a bound on the rows the one
# task receives. "Per map task" is one partial-aggregate row per input
# partition of a global aggregate.
_PARTIALS = "one partial-aggregate row per map task"
SINGLE_PARTITION = {
    "a14_hll_mergeable_sketch": (1, "one HLL sketch partial per map task"),
    "a2_global_agg": (1, _PARTIALS),
    "a4_approx_count_distinct": (1, _PARTIALS),
    "l4_bigram_lm_score": (1, _PARTIALS + " (corpus bigram total)"),
    "l4_bm25_search": (1, _PARTIALS + " (avgdl)"),
    "l4_pmi_collocations": (3, _PARTIALS + ", one per document count"),
    "l4_tfidf_keywords": (1, _PARTIALS + " (document count)"),
    "l6_dsir_importance": (1, _PARTIALS + " (corpus totals)"),
    "m7_naive_bayes_predict": (
        2, "one row per language (prior window); " + _PARTIALS
           + " (vocabulary size)"),
    "m9_feature_drift_psi": (1, "at most 10 bins per cohort"),
    "s15_table_profile": (4, _PARTIALS + ", one per profiled column"),
    "tpch_q14": (1, _PARTIALS),
    "tpch_q17": (1, _PARTIALS),
    "tpch_q19": (1, _PARTIALS),
    "tpch_q22": (1, _PARTIALS),
    "tpch_q6": (1, _PARTIALS),
}


def _plan(spark, name: str) -> str:
    return formatted_plan(spark, name, SF)


def test_no_row_python_udf_or_cartesian_in_any_declared_query(spark):
    """The plan census over every declared query: no row-at-a-time
    Python UDF, no CartesianProduct, and duplicate scans or
    SinglePartition exchanges only as the allow-lists above permit."""
    from pravega_flink_ai_flow_spark.queries import load_all
    names = sorted(load_all())
    assert set(DUP_SCANS) | set(SINGLE_PARTITION) <= set(names)
    flagged = {}
    for name in names:
        rec = census_record(_plan(spark, name))
        smells = [s for s in ("batch_eval_python", "cartesian") if rec[s]]
        for key, allowed in (("dup_scans", DUP_SCANS),
                             ("single_partition", SINGLE_PARTITION)):
            cap = allowed.get(name, (0,))[0]
            if rec[key] > cap or rec[key] == 0 < cap:
                smells.append(f"{key}={rec[key]}, allowed {cap}")
        if smells:
            flagged[name] = smells
    assert not flagged, f"plan census: {flagged}"


def test_scan_signatures_read_each_field_on_its_own():
    """Spark 4.1 prints PushedFilters before ReadSchema, and an
    unfiltered scan prints no PushedFilters line: both fields must come
    back whatever their order."""
    plan = """== Physical Plan ==
Project (3)
+- Scan parquet  (1)


(1) Scan parquet 
Output [2]: [vec_id#30L, embedding#31]
Batched: true
Location: InMemoryFileIndex [file:/data/sf0.1/embeddings.parquet]
PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]
ReadSchema: struct<vec_id:bigint,embedding:array<float>>

(2) Scan parquet 
Output [1]: [text#66]
Batched: true
Location: InMemoryFileIndex [file:/data/sf0.1/documents.parquet]
ReadSchema: struct<text:string>

(3) Project
Output [1]: [vec_id#30L]
Input [2]: [vec_id#30L, embedding#31]
"""
    assert scan_signatures(plan) == [
        ("embeddings", "struct<vec_id:bigint,embedding:array<float>>",
         "[IsNotNull(vec_id), LessThan(vec_id,10)]"),
        ("documents", "struct<text:string>", ""),
    ]


def test_q5_broadcasts_every_dimension(spark):
    plan = _plan(spark, "tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_j2_dim_join_is_broadcast(spark):
    plan = _plan(spark, "j2_broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_arms_route_by_measured_skew(spark):
    """j16 (least(user_id,5): one key carries ~97% of rows) must
    execute the REAL salted plan — the dim side replicated via explode
    — while j11 (uniform keys, empty hot set) must degenerate to the
    plain join with no salt machinery at all (r13: the hot arm is gate
    -proven, the degeneration is plan-proven)."""
    hot = _plan(spark, "j16_hot_salted_join")
    assert "explode(CASE WHEN" in hot and "__salt" in hot
    plain = _plan(spark, "j11_salted_skew_join")
    assert "explode(" not in plain and "__salt" not in plain


def test_s7_scan_pushdown_and_pruning(spark):
    plan = _plan(spark, "s7_parquet_pruned_scan")
    assert "PushedFilters" in plan and "o_totalprice" in \
        plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema     # pruned

def test_a1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "a1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in \
        plan.split("PushedFilters", 1)[1].split("\n", 1)[0]


@pytest.mark.parametrize("name", ["l3_brute_force_topk", "m2_knn_predict",
                                  "l3_filtered_topk", "l3_int8_quant_topk"])
def test_gemm_scorers_stay_arrow_native(spark, name):
    plan = _plan(spark, name)
    assert "MapInArrow" in plan, "blocked-GEMM scorer regressed off Arrow"


@pytest.mark.parametrize("name", ["l3_brute_force_topk", "m2_knn_predict",
                                  "l3_filtered_topk", "l3_int8_quant_topk"])
def test_gemm_scorers_compact_tiny_scans(spark, name):
    """compact_for_arrow (r15): a sub-8MB corpus must reach the Arrow
    scorer as one merged split (a narrow Coalesce — NOT an Exchange), so
    the fixed per-task Python round trip is paid once, not per sliver.
    At real scale the helper is a no-op by construction (coalesce above
    the current partition count is the identity)."""
    plan = _plan(spark, name)
    assert "Coalesce" in plan, "tiny scan not compacted before MapInArrow"


def test_compact_for_arrow_no_ops_on_large_inputs(spark):
    """The compaction knob is data-sized: when every split already holds
    >= bytes_per_task the partition count is untouched."""
    from pravega_flink_ai_flow_spark.ops.partitioning import compact_for_arrow
    df = spark.range(0, 10_000, 1, 8)
    before = df.rdd.getNumPartitions()
    kept = compact_for_arrow(df, bytes_per_task=1)
    assert kept.rdd.getNumPartitions() == before
    merged = compact_for_arrow(df, bytes_per_task=1 << 40)
    assert merged.rdd.getNumPartitions() == 1


def test_compact_for_arrow_unknown_stats_sentinel(spark):
    """createDataFrame inputs (LogicalRDD) carry the defaultSizeInBytes
    sentinel (~8 EB) instead of real stats; the helper must treat that
    as UNKNOWN and no-op — the naive ceil-divide overflows py4j's int32
    and coalesce(Long) does not exist (r15 inherited breakage: the
    brute/filtered topk fuzz tests died on exactly this)."""
    from pravega_flink_ai_flow_spark.ops.partitioning import compact_for_arrow
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<double>")
    out = compact_for_arrow(df)          # must not raise
    assert out.collect()[0][0] == 1


@pytest.mark.parametrize("name,max_exchanges", [
    ("a1_pricing_summary", 1),    # partial→final agg: one shuffle
    ("l1_exact_dedup", 1),        # hash-groupBy: one shuffle
    ("j9_asof_join", 2),          # union sort-merge: one key shuffle (+sort)
    ("w4_running_sum", 1),        # one window partitioning
    ("l3_filtered_topk", 1),      # corpus map-only; 1 window merge shuffle
])
def test_shuffle_count_upper_bounds(spark, name, max_exchanges):
    """Exchange-count budgets for the single-shuffle plans PERFORMANCE.md
    claims — a regression here is a silent extra shuffle at 100 TB.
    Count the detail-section node headers ("(4) Exchange"), since the
    formatted explain also repeats each node in the tree view."""
    n = census_record(_plan(spark, name))["exchanges"]
    assert n <= max_exchanges, f"{name}: {n} exchanges > {max_exchanges}"


def test_o4_plans_topk_not_global_sort(spark):
    plan = _plan(spark, "o4_nulls_ordering")
    assert "TakeOrderedAndProject" in plan   # LIMIT+ORDER BY without full sort


def test_s13_partition_pruning_reaches_scan(spark):
    """The partition predicate must prune at the DIRECTORY level
    (PartitionFilters on the scan), not as a post-scan filter — at
    100 TB this is the difference between opening two partitions and
    opening all of them."""
    plan = _plan(spark, "s13_partitioned_pruned_scan")
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2, "scan has no PartitionFilters section"
    assert "o_orderpriority" in pf[1].split("\n", 1)[0]
    # the data predicate still pushes into the row groups
    assert "PushedFilters" in plan and "o_totalprice" in \
        plan.split("PushedFilters", 1)[1].split("\n", 1)[0]


def test_s14_bucketed_join_has_no_exchange(spark):
    """Both sides are bucketed by the join key into the same bucket
    count, so the large-large join and the per-key aggregate must plan
    with ZERO hash Exchange — the write-once/shuffle-free contract
    bucketing exists for. Auto-broadcast is disabled for the plan check
    (at sf0.001 the filtered orders side is broadcast-small, which
    would sidestep the join path under test; at 100 TB neither side
    broadcasts and this sort-merge shape is the one that runs). The
    orderBy's final range Exchange is presentation and allowed."""
    import re
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "s14_bucketed_colocated_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    for m in re.finditer(r"^\(\d+\) Exchange", plan, re.MULTILINE):
        arg_line = plan[m.start():m.start() + 300]
        assert "hashpartitioning" not in arg_line, \
            "bucketed join planned a hash Exchange (shuffle)"
    assert "Bucketed: true" in plan


def test_t16_allpairs_is_distributed_no_driver_collect(spark):
    """t16's all-pairs scoring must stay on the block-pair grouped-map
    GEMM (FlatMapGroupsInArrow since r15 — zero-copy list flatten; was
    FlatMapGroupsInPandas) — the r5 verdict flagged the previous
    closure path's 100k driver-collect ceiling. The mean-centering
    mapInArrow pass must survive too."""
    plan = _plan(spark, "t16_user_similarity_topk")
    assert "FlatMapGroupsInArrow" in plan
    assert "MapInArrow" in plan


def test_m6_pca_projection_is_arrow_map_only(spark):
    """PCA projection: one MapInArrow pass over the corpus, components
    in the closure — no shuffle before the final presentation sort."""
    import re
    plan = _plan(spark, "m6_pca_project")
    assert "MapInArrow" in plan
    # only the orderBy's range-partitioning Exchange is allowed
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 1, f"PCA projection plans {n} exchanges"


def test_pinned_twins_stay_arrow_and_join_free_on_the_corpus(spark):
    """The r12 pinned-artifact scoring twins must keep their 100 TB plan
    shapes: l3c's PQ encode+ADC and l3b's IVF assignment run as
    MapInArrow GEMM passes, and m6b's projection is one Arrow pass with
    only the presentation sort's exchange."""
    import re

    for name in ("l3c_pq_pinned_adc", "l3b_ivf_pinned_topk",
                 "m6b_pca_project_pinned"):
        plan = _plan(spark, name)
        assert "MapInArrow" in plan, name
    plan = _plan(spark, "m6b_pca_project_pinned")
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 1, f"m6b plans {n} exchanges"


def test_p9_sampling_plans_window_group_limit(spark):
    """Deterministic per-group sampling must plan WindowGroupLimit —
    each partition keeps ≤ k rows per group before the shuffle, so the
    window never sorts whole groups at scale."""
    plan = _plan(spark, "p9_hash_sample_per_group")
    assert "WindowGroupLimit" in plan


def test_t19_anomaly_is_single_shuffle_topk(spark):
    """t19: one hash exchange for the per-user window, then a global
    top-k via TakeOrderedAndProject — never a full sort of the scored
    stream."""
    import re
    plan = _plan(spark, "t19_anomaly_zscore")
    assert "TakeOrderedAndProject" in plan
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 1, f"t19: {n} exchanges"


def test_char_entropy_is_arrow_not_explode(spark):
    """l4_char_entropy: the per-char histogram must stay one Arrow pass;
    a Generate (explode) node means the per-codepoint blowup shuffles."""
    plan = _plan(spark, "l4_char_entropy")
    assert "MapInArrow" in plan
    assert "Generate" not in plan


def test_u7_scd2_is_single_key_shuffle(spark):
    """u7: lag, island sum, run collapse and lead all partition on
    custkey — one hash exchange end-to-end plus the presentation sort."""
    import re
    plan = _plan(spark, "u7_scd2_history")
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 2, f"u7: {n} exchanges (expected 1 hash + 1 range)"


def test_m7_nb_model_joins_broadcast_and_grouplimit(spark):
    """m7: the likelihood/lang model tables ride broadcasts (corpus
    stream never shuffles for scoring) and the per-doc argmax plans a
    WindowGroupLimit, not a full rank materialization."""
    plan = _plan(spark, "m7_naive_bayes_predict")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "WindowGroupLimit" in plan


def test_s19_compaction_layout_contract(spark):
    """s19's value is the LAYOUT: ~40 input files must become <= 4
    range-sorted parquet files with pairwise-disjoint o_orderkey
    ranges (the data-skipping contract a min/max index needs)."""
    import glob
    import os

    from pravega_flink_ai_flow_spark.queries import load_all
    from pravega_flink_ai_flow_spark.queries.sources import _own_scratch

    load_all()["s19_compaction"].fn(spark, SF).collect()
    scratch = _own_scratch()
    small = glob.glob(os.path.join(scratch, "s19_small_*", "*.parquet"))
    out = glob.glob(os.path.join(scratch, "s19_compact_*", "*.parquet"))
    assert len(small) >= 30
    assert 1 <= len(out) <= 4
    ranges = []
    for f in out:
        df = spark.read.parquet(f)
        lo, hi = df.agg({"o_orderkey": "min"}).first()[0], \
            df.agg({"o_orderkey": "max"}).first()[0]
        ranges.append((lo, hi))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, f"overlapping file ranges {ranges}"


def test_a16_no_global_window_sort(spark):
    """a16's r6 re-plan: the equi-depth histogram must NOT contain a
    Window at all (the old unpartitioned ntile was a single-reducer
    global sort — the declared plan that dies at 100×); ranks come from
    range repartition + monotonic ids + a statistics-sized offset
    broadcast."""
    plan = _plan(spark, "a16_equidepth_histogram")
    assert "Window" not in plan
    assert "ntile" not in plan
    # the offsets table (one row per partition) rides in as a broadcast
    assert "BroadcastHashJoin" in plan


def test_l6_duplicate_spans_single_arrow_gram_pass(spark):
    """l6's r8 re-plan (the r7 measured scale-killer, 13.9-17x wall at
    10x data): grams must be built by ONE MapInArrow tokenize+hash pass
    — no Generate/posexplode of an interpreted HOF gram array (the old
    plan built it twice, once per side of its agg+join) — and the whole
    query fits an exchange budget of 4 (spread repartition, gram-hash
    window, per-doc island window, final order)."""
    import re
    plan = _plan(spark, "l6_duplicate_spans")
    assert "MapInArrow" in plan
    assert "Generate" not in plan          # no posexplode re-compute
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 4, f"{n} exchanges > 4"
    # and only ONE Arrow pass: the gram frame is never recomputed
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan,
                          re.MULTILINE)) == 1


def test_t22_funnel_single_user_partitioning(spark):
    """t22's three dependent window mins and the per-user aggregate all
    reuse ONE user_id Exchange (the whole point of stating the funnel
    as chained windows instead of the oracle's three join-aggregates):
    3 Window nodes, no join at all, and the full plan fits 3 exchanges
    (user partitioning, 4-row depth agg, final sort)."""
    import re
    plan = _plan(spark, "t22_funnel_conversion")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.MULTILINE)) == 3
    assert "Join" not in plan
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 3, f"{n} exchanges > 3"


def test_t23_retention_single_pass_no_join(spark):
    """t23 (r15 change 23): activity dedups inside ONE user_id
    aggregate and the offset-0 baseline is a window MAX over the tiny
    (cohort, offset) aggregate — no join of any kind (the old
    broadcast-join baseline re-ran the whole corpus chain under its
    build side), one events scan, ≤4 exchanges."""
    import re
    plan = _plan(spark, "t23_retention_cohorts")
    assert "Join" not in plan
    assert plan.count("Scan parquet") <= 2  # tree node + detail section
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 4, f"{n} exchanges > 4"


def test_t24_attribution_single_window_pass(spark):
    """Last-touch attribution is ONE user_id window (running
    last-ignore-nulls), a 5-row aggregate and a sort — 1 Window node,
    no join, ≤ 3 exchanges."""
    import re
    plan = _plan(spark, "t24_purchase_attribution")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.MULTILINE)) == 1
    assert "Join" not in plan
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 3, f"{n} exchanges > 3"


def test_gopher_repetition_one_arrow_pass_no_shuffle(spark):
    """l4_gopher_repetition (r15): both repetition covers are row-local,
    so the whole query is ONE MapInArrow pass above the range sort —
    never a Generate/posexplode of an interpreted HOF gram array, no
    join, and the only Exchange is the deterministic-output range sort
    (the gram stream itself never shuffles)."""
    import re
    plan = _plan(spark, "l4_gopher_repetition")
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan,
                          re.MULTILINE)) == 1
    assert "Generate" not in plan
    assert "Join" not in plan
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 1, f"{n} exchanges > 1"


def test_mmr_rerank_grouped_pandas_and_broadcast_vectors(spark):
    """l3_mmr_rerank: candidate scoring stays Arrow-native (ONE
    MapInArrow GEMM pass), the 80-row candidate table broadcast-joins
    its vectors back (the corpus is never shuffled), and the greedy
    runs as ONE FlatMapGroupsInPandas over q_id."""
    import re
    plan = _plan(spark, "l3_mmr_rerank")
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan,
                          re.MULTILINE)) == 1
    assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", plan,
                          re.MULTILINE)) == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 4, f"{n} exchanges > 4"


def test_recall_eval_two_arrow_passes_broadcast_membership(spark):
    """l3_recall_eval streams the corpus through exactly THREE Arrow
    passes (the brute reference scorer, plus IVF's cell-assignment and
    probe-scoring passes) and joins the two 50-row result sets by
    broadcast — the corpus itself is never sort-merge-joined or
    shuffled into the membership join."""
    import re
    plan = _plan(spark, "l3_recall_eval")
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan,
                          re.MULTILINE)) == 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_codec_queries_force_spread_round_robin(spark):
    """The interpreter-bound codec passes must carry an unconditional
    ROUND-ROBIN repartition of the skinny meta rows ahead of the
    Python stage: a file scan's partition COUNT can report ≥ cores
    byte-range splits with all row groups clustered in a few non-empty
    ones, silently serializing the codec (r9: 4-way at sf1, 20× gate
    ratio, fixed by spread(force=True))."""
    for name in ("l5_jpeg_decode", "l5_mixed_codec_decode",
                 "l5_image_resize", "l5_image_phash", "l5_image_decode",
                 "l5_audio_decode", "l5_audio_features",
                 "l5_interlaced_decode", "l5_gif_decode",
                 "l5_progressive_decode", "l5_quarantine_decode",
                 "l5_webp_decode"):
        plan = _plan(spark, name)
        assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" \
            in plan, f"{name}: no forced round-robin spread\n{plan}"


def test_containment_pairs_sizes_join_broadcast_after_agg(spark):
    """l2_containment_pairs: the pair aggregate must stay a bare 2-key
    COUNT (no first()-buffer fattening — measured 3.6× slower at sf1)
    with the per-doc size table joined in BROADCAST after it."""
    plan = _plan(spark, "l2_containment_pairs")
    assert plan.count("BroadcastHashJoin") >= 2   # __na and __nb joins
    assert "first(" not in plan


def test_pretrain_pipeline_composition_contracts(spark):
    """l6_pretrain_pipeline (the e2e chain): the quality gate must stay
    Arrow-native (MapInArrow), the benchmark gram probe must be a
    BROADCAST semi-join (the training corpus never shuffles by gram),
    and the whole four-
    stage chain must stay within a bounded shuffle budget — digest
    window, contaminated-id distinct, anti-join, lang window, and the
    presentation orderBy account for the allowance; an extra Exchange
    beyond it is a silent fifth shuffle at 100 TB."""
    import re
    plan = _plan(spark, "l6_pretrain_pipeline")
    assert "MapInArrow" in plan
    assert "BroadcastHashJoin" in plan        # gram semi-probe
    n = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n <= 8, f"pipeline planned {n} exchanges"


def test_key_stats_salted_join_runs_zero_detection_jobs(spark, tmp_path):
    """r15 (r14 verdict #3): salted_join's ``key_stats`` path must
    classify hot keys WITHOUT any job over the fact side. Proven the
    strong way: the fact input here is unscannable (a garbage file
    behind an explicit schema — any Spark job over it throws), so
    plan CONSTRUCTION succeeding is itself the zero-scan proof, while
    the scan-detecting arm on the same input fails. Then, on real
    data, the stats-driven plan must be node-identical to the
    scan-detected plan (exprIds normalized) — same salted execution,
    detection cost removed."""
    import re

    from pyspark.sql import functions as F

    from pravega_flink_ai_flow_spark.ops import relational

    bad = tmp_path / "fact"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    fact = spark.read.schema("row_id long, k long").parquet(str(bad))
    dim = spark.createDataFrame([(0, "d0"), (1, "d1")],
                                "rk long, name string")
    stats = spark.createDataFrame([(0, 1000)], "key long, cnt long")

    out = relational.salted_join(fact, dim, left_on="k", right_on="rk",
                                 salt=8, salt_source="row_id",
                                 hot_threshold=100, key_stats=stats)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "explode(CASE WHEN" in plan      # the salted arm fired

    with pytest.raises(Exception):          # scan detection MUST read
        relational.salted_join(fact, dim, left_on="k", right_on="rk",
                               salt=8, salt_source="row_id",
                               hot_threshold=100)

    # plan equality on scannable data: stats vs detection, same hot set
    rows = [(i, 0 if i % 5 else 1) for i in range(500)]
    l = spark.createDataFrame(rows, "row_id long, k long")
    true_stats = l.groupBy(F.col("k").alias("key")).count()
    a = relational.salted_join(l, dim, left_on="k", right_on="rk",
                               salt=8, salt_source="row_id",
                               hot_threshold=150)
    b = relational.salted_join(l, dim, left_on="k", right_on="rk",
                               salt=8, salt_source="row_id",
                               hot_threshold=150, key_stats=true_stats)

    def norm(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"plan_id=\d+", "plan_id=x",
                      re.sub(r"#\d+L?", "#x", s))

    assert norm(a) == norm(b)


def test_candidate_verify_respread_under_aqe_only(spark):
    """The array-verify stages of the pair family run per-row-heavy
    work (array_intersect per candidate) fused AFTER a skinny-row
    shuffle that AQE coalesces by BYTES to ~1 partition — r15 measured
    l2_incremental_dedup at 4.14 s vs 1.39 s steady (sf0.1) for the
    starved vs re-spread verify. The fix (ops.partitioning.
    spread_coalesced) must (a) plan a round-robin repartition of the
    candidate pairs under an AQE session, and (b) no-op entirely when
    partition coalescing is off, where the shuffle already lands at the
    session's static partition count (measured +0.15 s pure overhead on
    l2_minhash under BENCH_CONF)."""
    from pravega_flink_ai_flow_spark.ops.partitioning import (
        spread_coalesced)

    for name in ("l2_incremental_dedup", "l2_minhash_lsh_pairs"):
        plan = _plan(spark, name)
        assert ("REPARTITION_BY_NUM" in plan
                or "RoundRobinPartitioning" in plan), \
            f"{name}: candidate verify not re-spread under AQE\n{plan}"

    df = spark.range(10)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert spread_coalesced(df) is df       # no-op: coalescing off
        spark.conf.set(key, "true")
        assert spread_coalesced(df) is not df   # re-spread under AQE
    finally:
        spark.conf.set(key, old)
