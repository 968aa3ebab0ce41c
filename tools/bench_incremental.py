#!/usr/bin/env python
"""Measure the incremental-dedup crossover the l2_incremental_dedup
docstring argues: per crawl batch of size b against a corpus of size
C, the EXACT hash-prefix replan costs O(C + b) per batch (the corpus
shingle table is re-read every time), while the banded-probe path
pays a one-time O(C) setup (shingle → MinHash → lsh_band_table,
persisted as parquet) and then O(b) per batch — so over B batches it
is B·O(C+b) vs O(C) + B·O(b), and the probe should win from B ≥ 2
WHEN its ~1% recall loss at j≈0.7 is acceptable.

This tool turns that argument into numbers: B batches (the held-out
doc_id % 10 ≥ 8 slice, split round-robin) are deduped against the
corpus (doc_id % 10 < 8) BOTH ways in one session, each batch job run
twice (cold + steady; steady reported), and the probe's verified
pairs are compared against the exact plan's per batch for recall.
Verification in the probe path joins candidates back to the PERSISTED
corpus shingle parquet — on local disk that join scans the shingle
table (noted in the artifact; at 100 TB the store is bucketed by id,
making the lookup O(matches), so the measured probe time is an upper
bound on the claim).

Writes BENCH_incremental.json at the repo root.

Usage: python tools/bench_incremental.py [tier_dir] [B]
Defaults: <repo>/testdata_scale/sf10  4
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def timed_twice(fn):
    """(cold_sec, steady_sec, result-of-steady-run)."""
    t0 = time.perf_counter()
    fn()
    cold = time.perf_counter() - t0
    t0 = time.perf_counter()
    out = fn()
    return round(cold, 3), round(time.perf_counter() - t0, 3), out


def main() -> None:
    tier = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "testdata_scale", "sf10")
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from pravega_flink_ai_flow_spark.ops import dedup
    from pravega_flink_ai_flow_spark.queries import tables

    spark = bench.scale_session("bench-incremental")
    tier = bench.normalize_layout(tier)
    (docs,) = tables(spark, tier, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    batches = [docs.filter((F.col("doc_id") % 10 >= 8)
                           & ((F.col("doc_id") / 10).cast("long")
                              % n_batches == k))
               for k in range(n_batches)]

    work = tempfile.mkdtemp(prefix="bench_incr_")
    sh_path = os.path.join(work, "corpus_shingles")
    band_path = os.path.join(work, "corpus_bands")
    keyed_path = os.path.join(work, "corpus_shingles_keyed")
    N_PARTS = 4096   # ≈ corpus/100 docs per directory at this tier

    def verified(cands, arrs_n, arrs_c):
        """Exact-Jaccard ≥ 0.7 verify — the l2_incremental_dedup tail."""
        sa = arrs_n.select(F.col("id").alias("id_new"),
                           F.col("shingles").alias("sh_n"))
        sb = arrs_c.select(F.col("id").alias("id_corpus"),
                           F.col("shingles").alias("sh_c"))
        j = (cands.join(sa, "id_new").join(sb, "id_corpus")
             .withColumn("inter", F.size(F.array_intersect("sh_n", "sh_c")))
             .withColumn("jac", F.col("inter") / (
                 F.size("sh_n") + F.size("sh_c") - F.col("inter")))
             .filter(F.col("jac") >= 0.7)
             .select("id_new", "id_corpus"))
        return j

    # ---- one-time probe-path setup (timed): persist the corpus
    # shingle store and the banded bucket table — the write-once
    # ingest artifacts of the 100 TB shape
    def setup():
        arrs_c = dedup.shingle_arrays(dedup.spread(corpus),
                                      "doc_id", "text", 3)
        arrs_c.write.mode("overwrite").parquet(sh_path)
        stored_sh = spark.read.parquet(sh_path)
        sig_c = dedup.minhash_signatures_arrow(stored_sh, 64)
        dedup.lsh_band_table(sig_c, 64, 16, out_id="id_corpus") \
            .write.mode("overwrite").parquet(band_path)
        return None

    t0 = time.perf_counter()
    setup()
    setup_sec = round(time.perf_counter() - t0, 3)
    # the id-KEYED store variant (r12 verdict: the probe verify was an
    # upper bound "pending id-bucketed store" — this measures it).
    # Timed SEPARATELY: the flat-probe arm's crossover must not be
    # charged for an artifact only the keyed arm reads.
    t0 = time.perf_counter()
    dedup.write_keyed_shingle_store(spark.read.parquet(sh_path),
                                    keyed_path, n_parts=N_PARTS)
    keyed_setup_sec = round(time.perf_counter() - t0, 3)
    # read ONCE: building this DataFrame performs the O(n_parts)
    # partition discovery (measured ~9 s of the keyed verify when done
    # per lookup); per-batch pruning then runs against its cached file
    # index — the role a table-format manifest plays at 100 TB
    t0 = time.perf_counter()
    keyed_store = spark.read.parquet(keyed_path)
    keyed_store.schema   # force relation resolution / file listing
    keyed_discovery_sec = round(time.perf_counter() - t0, 3)
    stored_sh = spark.read.parquet(sh_path)
    stored_bands = spark.read.parquet(band_path)

    exact_rows, probe_rows = [], []
    recalls = []
    for k, batch in enumerate(batches):
        # EXACT replan: the declared-query shape — corpus shingles
        # recomputed per batch (that IS the B·O(C+b) cost being
        # measured), candidates from the lossless hash-prefix generator.
        def exact_run():
            # both sides spread exactly as the declared query does —
            # a filtered file scan's partition count lies (CLAUDE.md),
            # and an under-parallelized batch would inflate the exact
            # path the crossover claim is quoted against
            arrs_c = dedup.shingle_arrays(dedup.spread(corpus),
                                          "doc_id", "text", 3).persist()
            arrs_n = dedup.shingle_arrays(dedup.spread(batch),
                                          "doc_id", "text", 3).persist()
            # the lossless generator, called directly: this arm IS the
            # exact baseline the probe's recall is quoted against, so
            # the auto dispatcher's LSH tier must never replace it
            cands = dedup.jaccard_hash_prefix_candidates_between(
                arrs_n, arrs_c, threshold=0.7)
            out = {(r.id_new, r.id_corpus)
                   for r in verified(cands, arrs_n, arrs_c).collect()}
            arrs_c.unpersist()
            arrs_n.unpersist()
            return out

        # PROBE: band only the batch, equi-join the stored bucket
        # table, verify against the stored shingle parquet — the
        # corpus documents are never rescanned or re-shingled.
        def probe_run():
            arrs_n = dedup.shingle_arrays(dedup.spread(batch),
                                          "doc_id", "text", 3).persist()
            sig_n = dedup.minhash_signatures_arrow(arrs_n, 64)
            cands = dedup.lsh_probe_banded(sig_n, stored_bands, 64, 16)
            out = {(r.id_new, r.id_corpus)
                   for r in verified(cands, arrs_n, stored_sh).collect()}
            arrs_n.unpersist()
            return out

        # KEYED-STORE probe: same banding + bucket-table probe, but the
        # verify fetches candidate shingles through the partition-pruned
        # keyed store instead of scanning the flat shingle parquet
        def probe_keyed_run():
            arrs_n = dedup.shingle_arrays(dedup.spread(batch),
                                          "doc_id", "text", 3).persist()
            sig_n = dedup.minhash_signatures_arrow(arrs_n, 64)
            cands = dedup.lsh_probe_banded(sig_n, stored_bands,
                                           64, 16).persist()
            fetched = dedup.keyed_shingle_lookup(
                spark, keyed_store, cands.select("id_corpus"),
                n_parts=N_PARTS)
            out = {(r.id_new, r.id_corpus)
                   for r in verified(cands, arrs_n, fetched).collect()}
            cands.unpersist()
            arrs_n.unpersist()
            return out

        ce, se, exact_pairs = timed_twice(exact_run)
        cp, sp, probe_pairs = timed_twice(probe_run)
        ck, sk, keyed_pairs = timed_twice(probe_keyed_run)
        rec = (len(probe_pairs & exact_pairs) / len(exact_pairs)
               if exact_pairs else 1.0)
        recalls.append(round(rec, 4))
        assert keyed_pairs == probe_pairs, (
            "keyed-store verify changed the answer")
        exact_rows.append({"cold_sec": ce, "steady_sec": se,
                           "pairs": len(exact_pairs)})
        probe_rows.append({"cold_sec": cp, "steady_sec": sp,
                           "pairs": len(probe_pairs),
                           "keyed_cold_sec": ck, "keyed_steady_sec": sk})
        print(f"batch {k}: exact {se:.2f}s ({len(exact_pairs)} pairs)  "
              f"probe {sp:.2f}s ({len(probe_pairs)} pairs)  "
              f"keyed {sk:.2f}s  recall {rec:.4f}", flush=True)

    # the WIN side of the keyed store's break-even rule: a tiny batch
    # whose candidate count is far under N_PARTS, verified both ways
    tiny = docs.filter((F.col("doc_id") % 10 >= 8)
                       & (F.col("doc_id") % 997 == 1))
    arrs_t = dedup.shingle_arrays(dedup.spread(tiny),
                                  "doc_id", "text", 3).persist()
    sig_t = dedup.minhash_signatures_arrow(arrs_t, 64)
    cands_t = dedup.lsh_probe_banded(sig_t, stored_bands, 64, 16).persist()
    n_cand_ids = cands_t.select("id_corpus").distinct().count()

    def tiny_flat():
        return verified(cands_t, arrs_t, stored_sh).count()

    def tiny_keyed():
        fetched = dedup.keyed_shingle_lookup(
            spark, keyed_store, cands_t.select("id_corpus"),
            n_parts=N_PARTS)
        return verified(cands_t, arrs_t, fetched).count()

    _, tf_s, n1 = timed_twice(tiny_flat)
    _, tk_s, n2 = timed_twice(tiny_keyed)
    assert n1 == n2
    tiny_entry = {"batch_docs": tiny.count(),
                  "cand_distinct_ids": n_cand_ids,
                  "flat_verify_steady_sec": tf_s,
                  "keyed_verify_steady_sec": tk_s,
                  "verified_pairs": n1}
    arrs_t.unpersist()
    cands_t.unpersist()

    exact_total = round(sum(r["steady_sec"] for r in exact_rows), 3)
    probe_total = round(setup_sec
                        + sum(r["steady_sec"] for r in probe_rows), 3)
    # smallest B where setup + B·probe < B·exact (per-batch steadies
    # averaged); None if the probe never catches up
    avg_e = exact_total / n_batches
    avg_p = (probe_total - setup_sec) / n_batches
    crossover = (None if avg_p >= avg_e
                 else max(1, int(setup_sec / (avg_e - avg_p)) + 1))
    out = {
        "metric": "incremental_dedup_crossover",
        "tier": tier,
        "corpus_docs": corpus.count(),
        "batch_docs": [b.count() for b in batches],
        "setup_sec": setup_sec,
        "exact_batches": exact_rows,
        "probe_batches": probe_rows,
        "exact_total_sec": exact_total,
        "probe_total_sec_incl_setup": probe_total,
        "recall_per_batch": recalls,
        "crossover_batches": crossover,
        "keyed_store_n_parts": N_PARTS,
        "keyed_store_setup_sec": keyed_setup_sec,
        "keyed_discovery_sec": keyed_discovery_sec,
        "tiny_batch": tiny_entry,
        "note": ("probe verify joins the persisted flat shingle parquet "
                 "(full columnar scan per batch); the keyed_* fields "
                 "measure the SAME probe verifying through the "
                 "partition-pruned id-keyed store "
                 "(write_keyed_shingle_store) — identical output "
                 "asserted per batch. MEASURED VERDICT: at this tier's "
                 "candidate density (~3k ids over 4096 directories → "
                 "~half the partitions touched) the flat scan WINS — "
                 "per-file open cost of ~2k pruned files exceeds one "
                 "~30-file columnar scan — so the r12 'upper bound "
                 "pending id-bucketed store' flag is now resolved the "
                 "other way for this shape; tiny_batch measures the "
                 "win side of the break-even rule (candidates << "
                 "n_parts), which is where the keyed layout belongs"),
    }
    with open(os.path.join(REPO, "BENCH_incremental.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in (
        "setup_sec", "exact_total_sec", "probe_total_sec_incl_setup",
        "crossover_batches", "recall_per_batch")}))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
