#!/usr/bin/env python
"""Scaling proof: time the headline bench set PLUS the slowest
full-corpus queries at sf0.1 AND at the derived sf1
(tools/make_sf_scale.py, 10× rows), in ONE Spark session so both scales
see identical box/JVM state, and record the per-query scaling ratio.

The number that matters is t(sf1)/t(sf0.1) against the 10× data growth:

- ratio ≈ 10  → the query is compute/scan-bound and scales linearly;
- ratio < 10  → at sf0.1 the fixed per-job scheduling floor (~0.1 s)
  dominates; real work is still linear (this is the common case for
  sub-300 ms queries);
- ratio > 10  → SUPER-linear: a hidden driver collect, broadcast of a
  growing side, quadratic candidate blow-up, or a single-reducer stage
  — exactly the failure mode a 100 TB deployment hits. The artifact
  exists so none of these hide behind the sf0.1 job floor.

Writes BENCH_sf1.json at the repo root.

Usage: python tools/bench_scale.py [sf_small] [sf_big]
Defaults: /root/testdata/sf0.1  <repo>/testdata_scale/sf1
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (HEADLINE, normalize_layout, BENCH_CONF)

# the slowest full-corpus queries by TIMINGS.json — every one argues a
# "this is the scale-safe plan" story in its docstring; this artifact
# is where that story is measured instead of asserted
SLOWEST = [
    "l4_bigram_lm_score", "a4_approx_count_distinct",
    "l4_pmi_collocations", "l2_incremental_dedup",
    "t16_user_similarity_topk", "l6_benchmark_decontam", "l3_ivf_topk",
    "l2_semdedup", "l3_cosine_near_dup", "l3_lsh_topk",
    "l6_duplicate_spans", "a7_stats", "j15_recursive_hierarchy",
    "a16_equidepth_histogram",
    # r8 additions: every new corpus-heavy query enters the scaling
    # gate the round it is born
    "l6_dup_span_removal", "l6_dsir_importance", "l3_allpairs_topk",
    "l4_feature_hashing", "l4_bm25_search", "l6_train_test_split",
    "l3_filtered_topk", "m8_confusion_matrix", "m9_feature_drift_psi",
    "t22_funnel_conversion", "t23_retention_cohorts",
    "l2_containment_pairs", "l4_gopher_repetition",
    "t24_purchase_attribution", "l3_mmr_rerank",
    "l2_ngram_jaccard_pairs", "l3_recall_eval",
    # r9 additions: the slow tail the gate previously missed — 11 of
    # the 25 slowest TIMINGS queries had no 10× measurement (r8
    # verdict, next #3)
    "l5_jpeg_decode", "l5_mixed_codec_decode", "l4_bpe_trained_tokenize",
    "s15_table_profile", "l5_image_resize", "t20_ewma_smooth",
    "t21_session_paths", "u7_scd2_history", "l2_edit_distance_pairs",
    # r10 additions: new corpus-heavy queries enter the gate at birth
    "l5_progressive_decode", "l5_interlaced_decode",
    "l2_dfcap_jaccard_pairs", "l6_pretrain_pipeline",
    "m7_naive_bayes_predict", "l4_tfidf_keywords", "l6_pii_redaction",
    "l6_sequence_packing", "l5_image_phash",
]


def time_queries(spark, registry, names, sf_dir, runs=4):
    # shared timing primitive (bench.median_noop_time): median of
    # post-cold noop-sink runs — one definition across the scale tools
    return {name: bench.median_noop_time(registry[name].fn(spark, sf_dir),
                                         runs=runs)
            for name in names}


def main() -> None:
    sf_small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf_big = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "testdata_scale", "sf1")
    if not os.path.isdir(sf_big):
        sys.exit(f"{sf_big} missing — run tools/make_sf_scale.py first")

    from pravega_flink_ai_flow_spark.queries import load_all

    registry = load_all()
    names = list(dict.fromkeys(bench.HEADLINE + SLOWEST))
    # extra positional args = an explicit query subset (e.g. the
    # linear-by-design paths for the sf1 → sf10 second-decade gate,
    # where the intrinsically quadratic all-pairs scorers and the
    # pure-python codec sweeps would dominate wall-clock without
    # adding scaling information); $SCALE_ARTIFACT redirects the
    # output so the canonical BENCH_sf1.json is never clobbered by a
    # tier run
    if len(sys.argv) > 3:
        names = list(dict.fromkeys(sys.argv[3:]))
        unknown = sorted(set(names) - set(registry))
        if unknown:
            sys.exit(f"unknown queries: {unknown}")  # fail before the
            # session builds and both tiers warm up for nothing
    # default artifact name follows the big-tier basename (sf1 run →
    # BENCH_sf1.json, sf10 tier run → BENCH_sf10.json), so a tier run
    # can never clobber the canonical record by forgetting the
    # override env var
    artifact = os.environ.get(
        "SCALE_ARTIFACT",
        f"BENCH_{os.path.basename(sf_big.rstrip('/'))}.json")

    # shared scale-tier session (bench.scale_session): BENCH_CONF with
    # shuffle parallelism following the data and the 32 GiB heap the r8
    # gate lesson established — see the helper's docstring for the
    # measured history (t16's 2.6x-vs-11.9x eviction swings at 8 GiB)
    spark = bench.scale_session("bench-scale")

    small = bench.normalize_layout(sf_small)
    big = bench.normalize_layout(sf_big)

    # one untimed pass per query per scale: codegen + AQE-shape warmup
    for d in (small, big):
        for name in names:
            try:
                registry[name].fn(spark, d) \
                    .write.format("noop").mode("overwrite").save()
            except Exception:
                pass

    t_small = time_queries(spark, registry, names, small)
    t_big = time_queries(spark, registry, names, big)

    # key names derive from the tier dir basenames so a tier run
    # (sf1 → sf10) writes honestly-labelled keys (sf1_sec / sf10_sec)
    ks = os.path.basename(sf_small.rstrip("/")) + "_sec"
    kb = os.path.basename(sf_big.rstrip("/")) + "_sec"
    rows = {}
    for name in names:
        ts, tb = t_small[name], t_big[name]
        rows[name] = {ks: ts, kb: tb,
                      "ratio_10x_data": round(tb / ts, 2) if ts else None}
    # linear-contract plans only: the brute-force all-pairs baselines
    # (bench.QUADRATIC_BY_CONTRACT) are O(N²) by design and reported
    # under their own key, with ratios stated
    flagged = {n: r for n, r in rows.items()
               if r["ratio_10x_data"] and r["ratio_10x_data"] > 10.0
               and n not in bench.QUADRATIC_BY_CONTRACT}
    quadratic = {n: rows[n]["ratio_10x_data"]
                 for n in sorted(bench.QUADRATIC_BY_CONTRACT)
                 if n in rows}
    out = {
        "metric": "scaling_10x",
        "data_growth": 10.0,
        "sf_small": sf_small,
        "sf_big": sf_big,
        f"total_{ks}": round(sum(t_small.values()), 3),
        f"total_{kb}": round(sum(t_big.values()), 3),
        "total_ratio": round(sum(t_big.values()) / sum(t_small.values()), 2),
        "super_linear": sorted(flagged),
        "quadratic_by_contract": quadratic,
        "queries": rows,
    }
    with open(os.path.join(REPO, artifact), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in (f"total_{ks}", f"total_{kb}",
                                          "total_ratio", "super_linear")}))
    # ratio can be None when a sub-ms steady median rounds to 0.0 —
    # don't let the report print crash after the artifact is written
    for name, r in sorted(rows.items(),
                          key=lambda kv: -(kv[1]["ratio_10x_data"] or 0.0)):
        print(f"  {r['ratio_10x_data'] or 0.0:6.2f}x  "
              f"{r[ks]:7.3f}s -> {r[kb]:7.3f}s  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
