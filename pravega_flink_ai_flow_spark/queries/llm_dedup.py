"""Deduplication queries over ``documents`` (SURVEY.md L1, L2).

The MinHash-LSH pipeline ends with an exact-Jaccard verify, so its output
is deterministic and the oracle is the brute-force all-pairs Jaccard in
SQL — if LSH recall drops below 1.0 at the declared threshold, the hash
check fails loudly (the corpus's near-dup pairs sit at J≥0.9 with a clean
gap below 0.3, so 16 bands × 4 rows has recall ≈ 1 at threshold 0.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import declared, tables, tier
from ..engine.memo import memo
from ..ops import dedup

def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The localCheckpoint'd connected components of the near-dup pairs,
    shared by l2_dedup_clusters and l2_dedup_keep."""
    def compute() -> DataFrame:
        (docs,) = tables(spark, sf_dir, "documents")
        pairs = dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", k=3, num_hashes=64, bands=16,
            threshold=0.7)
        return dedup.connected_components(pairs)
    return memo(spark, ("dedup_components", sf_dir), tier(sf_dir), compute)


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted k=3 shingle-array frame that the Jaccard-candidate
    queries share: one cache copy and one explode pass."""
    def compute() -> DataFrame:
        (docs,) = tables(spark, sf_dir, "documents")
        return dedup.shingle_arrays(
            dedup.spread(docs), "doc_id", "text", k=3).persist()
    return memo(spark, ("shingle_arrays", sf_dir), tier(sf_dir), compute)

# Shared SQL fragment: exact word-3-gram shingle sets per doc.
_SHINGLES_CTE = """
    shingled AS (
        SELECT DISTINCT doc_id AS id,
               unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                     i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents)
    )
"""


@declared(
    "l1_exact_dedup",
    oracle="""
    SELECT content_hash, keeper_id, n_copies FROM (
        SELECT sha256(text) AS content_hash,
               MIN(doc_id)  AS keeper_id,
               COUNT(*)     AS n_copies
        FROM documents
        GROUP BY sha256(text)
    )
    """,
    survey_ids=("L1",),
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha2-groupBy keeping min doc_id — shuffles digests,
    not documents."""
    (docs,) = tables(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, on="text", id_col="doc_id")


@declared(
    "l2_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n FROM shingled GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.7
    """,
    survey_ids=("L2",),
)
def l2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (64 perms) → LSH (16 bands × 4) → exact-Jaccard verify
    ≥ 0.7. The oracle computes the same pairs by brute force; at 100 TB
    only the LSH path is feasible (candidates ≈ linear in near-dup count)."""
    (docs,) = tables(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.7)


@declared(
    "l2_simhash_pairs",
    oracle=None,  # signature hash not reproducible in SQL — rows-only check
    survey_ids=("L2",),
)
def l2_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 of 64 bits) with pigeonhole
    chunk blocking — the xxhash64-based signature has no SQL oracle, so
    this is declared rows-only; the pytest suite asserts it finds the
    same known near-dup pairs as the Jaccard path."""
    (docs,) = tables(spark, sf_dir, "documents")
    return (dedup.simhash_near_pairs(docs, "doc_id", "text", k=3, max_hamming=3)
            .orderBy("id_a", "id_b"))


@declared(
    "l2_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n FROM shingled GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    ORDER BY id_a, id_b
    """,
    survey_ids=("L2",),
)
def l2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.5 — count-based inverted index:
    the shingle self-join feeds a (id_a, id_b) count aggregate (map-
    side partial combine collapses the per-shingle fan-out BEFORE the
    shuffle), per-doc sizes broadcast in, ratio filter on top. No
    shingle-array shuffles at all — measured 8.8 s → 1.2 s at sf0.1 vs
    the array-verify formulation. At corpus scale, hot-shingle fan-out
    is the residual risk; :func:`ops.dedup.jaccard_prefix_candidates`
    is the provably-lossless PPJoin mitigation (pytest-equal; it
    measured slower HERE because its extra window+joins outweigh the
    2.8× candidate cut on 5 k docs)."""
    arrs = _shingle_arrays(spark, sf_dir)
    return (dedup.jaccard_count_pairs(arrs, threshold=0.5)
            .orderBy("id_a", "id_b"))


@declared(
    "l2_dfcap_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hot AS (
        SELECT shingle FROM shingled GROUP BY shingle
        HAVING COUNT(*) > 0.01 * CAST((SELECT COUNT(*) FROM documents)
                                      AS DOUBLE)
    ),
    kept AS (
        SELECT id, shingle FROM shingled
        WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM kept GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.7
    ORDER BY id_a, id_b
    """,
    survey_ids=("L2",),
)
def l2_dfcap_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-CAPPED exact Jaccard pairs (r10): shingles appearing in more
    than 1 % of documents are dropped BEFORE pairing
    (:func:`ops.dedup.cap_shingle_df` — one df aggregate, then an
    in-row ``array_except`` against the small hot set; no corpus
    shuffle), then the count-based inverted index scores the survivors
    at ≥ 0.7. This is the industrial MinHash hygiene shape: similarity
    that rides on boilerplate/stopword n-grams is recall production
    dedup does NOT want, and dropping it also bounds the hot-shingle
    fan-out that makes exact pairing quadratic on Zipfian corpora
    (BENCH_zipf). On this corpus the 1 % cap removes ~30-45 shingles
    and every true near-dup pair survives on its unique content grams
    — the oracle recomputes the identical cap in SQL, so the gate
    proves cap + pairing end-to-end, including the float df-threshold
    arithmetic (both engines compare COUNT > 0.01·n in IEEE
    doubles)."""
    arrs = _shingle_arrays(spark, sf_dir)
    capped = dedup.cap_shingle_df(arrs, max_df_frac=0.01)
    return (dedup.jaccard_count_pairs(capped, threshold=0.7)
            .orderBy("id_a", "id_b"))


@declared(
    "l2_edit_distance_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n FROM shingled GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    cand AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    )
    SELECT id_a, id_b,
           levenshtein(da.text, db.text) AS edit_dist
    FROM cand
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    ORDER BY id_a, id_b
    """,
    survey_ids=("L2",),
)
def l2_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verify for near-dup candidates: exact Levenshtein
    distance, computed ONLY on shingle-Jaccard candidates (edit distance
    is O(len²) per pair — at corpus scale it can never run all-pairs;
    blocking first is the point)."""
    (docs,) = tables(spark, sf_dir, "documents")
    arrs = _shingle_arrays(spark, sf_dir)
    cand = (dedup.jaccard_count_pairs(arrs, threshold=0.5)
            .select("id_a", "id_b"))
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb"))
    # force-spread the candidate pairs before the O(len²) Levenshtein
    # stage: its rows are BYTE-small but COMPUTE-dense, so AQE's
    # byte-based coalescing packs them onto a handful of tasks (r12
    # sf10 gate: 10.49× for 10× data with measured-10× work growth;
    # after the spread the decade costs 8.35× (27.5 s → 22.1 s)). The pair list is skinny
    # (two longs), so the repartition is noise next to the cells it
    # parallelizes.
    from ..ops.partitioning import spread
    return (spread(cand, force=True)
            .join(ta, "id_a").join(tb, "id_b")
            .select("id_a", "id_b",
                    F.levenshtein("__ta", "__tb").alias("edit_dist"))
            .orderBy("id_a", "id_b"))


@declared(
    "l2_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n FROM shingled GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / sa.n AS cont_a_in_b,
           CAST(n_common AS DOUBLE) / sb.n AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE greatest(CAST(n_common AS DOUBLE) / sa.n,
                   CAST(n_common AS DOUBLE) / sb.n) >= 0.6
    ORDER BY id_a, id_b
    """,
    survey_ids=("L2",),
)
def l2_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (≥ 0.6 in either direction) —
    catches SUBSET duplication (one doc quoted whole inside another)
    that symmetric Jaccard structurally under-scores. Containments are
    pure int divisions, bit-identical across engines.

    Plan choice, MEASURED quiet at sf0.1→sf1 (10× docs, gate session):
    this corpus's shingle document frequencies are FLAT (median 9, max
    25 at sf1 — synthetic near-uniform text, no hot head), so the
    count-based inverted index with POST-AGGREGATE broadcast size
    joins wins every comparison: 0.72 s → 1.95 s (2.7× at 10× data),
    vs 7.2 s at sf1 for the same plan carrying sizes through the
    aggregate as first() buffers, and vs 9.9–15 s for the
    asymmetric-prefix plan (prefix filtering only cut candidates
    11.3 M → 3.5 M here and pays array-verify shuffles for it). On a
    REAL Zipfian corpus the ranking inverts — MEASURED r9
    (tools/make_zipf_corpus.py, BENCH_zipf.json): the count plan goes
    quadratic (1.35 s → 84.5 s for 10× docs, 62.6×) while
    :func:`ops.dedup.containment_pairs_prefix` scales at 3.3×
    (1.3 s → 4.3 s) — lossless by the small-side prefix lemma,
    pytest-equal to this plan on the full corpus
    (test_containment_prefix_plan_equals_count_plan) and
    output-asserted equal on the skewed one by tools/bench_zipf.py."""
    arrs = _shingle_arrays(spark, sf_dir)
    # r10: declared through the MEASURED auto-dispatcher (r9 verdict #4)
    # so the driver gate proves the dispatch path end-to-end. On this
    # flat corpus (df-head ≈ 0.005 « 0.05) it routes to the count-index
    # plan — the exact plan previously declared directly — and the
    # signal aggregate is memoized per corpus, so the oracle and the
    # steady wall-clock are unchanged. On a Zipfian corpus the same
    # call routes to containment_pairs_prefix; both branches are exact.
    return (dedup.containment_pairs_auto(arrs, threshold=0.6)
            .orderBy("id_a", "id_b"))


@declared(
    "l2_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n FROM shingled GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.7
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
    ORDER BY id
    """,
    survey_ids=("L2", "L1"),
)
def l2_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters over the MinHash-LSH pairs: connected
    components labels every matched doc with its cluster's smallest id
    (= the keeper). The oracle computes the same closure with a recursive
    CTE over the brute-force pair set."""
    return _dedup_components(spark, sf_dir).orderBy("id")


@declared(
    "l2_dedup_keep",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n FROM shingled GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.7
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    losers AS (
        SELECT node FROM reach GROUP BY node HAVING node <> MIN(label)
    )
    SELECT doc_id, n_chars FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.node = d.doc_id)
    """,
    survey_ids=("L2", "L1"),
)
def l2_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual deliverable: the corpus AFTER near-dup
    removal — every doc that is not a non-keeper member of a dedup
    cluster (keeper = smallest id, transitively). Pairs → components →
    anti-join; the corpus is filtered in place, never shuffled (the
    anti-join's right side is the loser id list, which is at most the
    near-dup count)."""
    (docs,) = tables(spark, sf_dir, "documents")
    losers = (_dedup_components(spark, sf_dir)
              .filter(F.col("id") != F.col("cluster_id"))
              .select(F.col("id").alias("doc_id")))
    return (docs.join(losers, "doc_id", "left_anti")
            .select("doc_id", "n_chars"))


# Word-5-gram variant of the shingle CTE for decontamination (5-grams
# are discriminative on this corpus: random word-soup docs share k=3
# grams by chance, near-identical docs share most k=5 grams).
_GRAMS5_CTE = """
    grams5 AS (
        SELECT DISTINCT doc_id AS id,
               unnest(list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
                                     i -> array_to_string(toks[i:i+4], ' '))) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents)
    )
"""


@declared(
    "l6_benchmark_decontam",
    oracle=f"""
    WITH {_GRAMS5_CTE},
    bench AS (SELECT DISTINCT shingle FROM grams5 WHERE id % 10 = 0),
    train AS (SELECT * FROM grams5 WHERE id % 10 <> 0),
    sizes AS (SELECT id, COUNT(*) AS n_grams FROM train GROUP BY id),
    hits AS (
        SELECT t.id, COUNT(*) AS n_hit_grams
        FROM train t JOIN bench b ON t.shingle = b.shingle
        GROUP BY t.id
    )
    SELECT h.id AS doc_id, h.n_hit_grams, s.n_grams,
           CAST(h.n_hit_grams AS DOUBLE) / s.n_grams AS contamination
    FROM hits h JOIN sizes s ON s.id = h.id
    """,
    survey_ids=("L4", "L2"),
)
def l6_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 10 ≠ 0 — the
    held-in corpus) sharing any word-5-gram with the benchmark split
    (doc_id % 10 = 0), with overlap ratio. The benchmark gram set is
    broadcast — eval suites are broadcast-small by construction — so the
    training side streams map-side at any scale."""
    (docs,) = tables(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.contamination_report(train, bench, "doc_id", "text", k=5)


@declared(
    "l6_duplicate_spans",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> t != '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS g
        FROM (SELECT doc_id, t,
                     unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
              FROM toks)
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    dpos AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dpos
    ),
    runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM isl GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(run) AS BIGINT)     AS n_dup_grams,
           CAST(MAX(run) AS BIGINT)     AS max_dup_run,
           CAST(MAX(run) + 7 AS BIGINT) AS max_dup_span_tokens
    FROM runs GROUP BY doc_id
    ORDER BY doc_id
    """,
    survey_ids=("L2", "L4", "W1"),
)
def l6_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection (the C4/RefinedWeb 'remove
    duplicated substrings' signal): per doc, how many of its word
    8-grams occur in at least one OTHER doc, and the longest
    consecutive duplicated run (gaps-and-islands over flagged gram
    positions; span length in tokens = run + 7).

    Scale shape (re-planned r8 — the previous agg+join plan was the
    round's one measured scale-killer, 13.9×–17× wall at 10× data,
    VERDICT r7 wrong #4; BENCH_sf1.json `super_linear`): the gram frame
    is built ONCE (the interpreter-bound HOF gram construction was
    recomputed by both sides of the old self-join), each gram string is
    immediately collapsed to an 8-byte ``xxhash64`` key so the shuffle
    moves fixed-width longs instead of ~60-char strings (the oracle
    keeps the string key — the hash only changes the internal shuffle
    key, never the output; a 64-bit collision merging two distinct
    grams is ~n²/2⁶⁵, negligible at any tested SF), and the
    cross-doc-duplicate flag is ONE window pass over the hash
    (``count(distinct doc_id) ≥ 2  ⟺  min(doc_id) ≠ max(doc_id)``) —
    no second scan, no gram join. Run detection is a per-doc window
    (pos − row_number marks each island) — never a doc×doc
    comparison."""
    from ..ops.text import word_ngram_hash_frame

    (docs,) = tables(spark, sf_dir, "documents")
    # spread() first: the parquet arrives as a handful of partitions and
    # the tokenize+hash pass is the query's CPU (Arrow-batched, but
    # still per-token work worth the whole cluster)
    grams = word_ngram_hash_frame(dedup.spread(docs),
                                  id_col="doc_id", text_col="text", n=8)
    from pyspark.sql import Window
    gw = Window.partitionBy("gh")
    dpos = (grams
            .withColumn("__dup",
                        F.min("doc_id").over(gw) != F.max("doc_id").over(gw))
            .filter(F.col("__dup"))
            .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (dpos
            .withColumn("grp", F.col("pos") - F.row_number().over(w))
            .groupBy("doc_id", "grp")
            .agg(F.count(F.lit(1)).alias("run")))
    return (runs.groupBy("doc_id")
            .agg(F.sum("run").alias("n_dup_grams"),
                 F.max("run").alias("max_dup_run"),
                 (F.max("run") + 7).alias("max_dup_span_tokens"))
            .orderBy("doc_id"))


@declared(
    "l6_dup_span_removal",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> t != '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS g
        FROM (SELECT doc_id, t,
                     unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
              FROM toks)
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    dpos AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    covered AS (
        SELECT DISTINCT doc_id, pos + d.r AS tpos
        FROM dpos, unnest(generate_series(0, 7)) d(r)
    ),
    tok_pos AS (
        SELECT doc_id, i - 1 AS tpos, t[i] AS tok
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)
    ),
    kept AS (
        SELECT tp.doc_id, tp.tpos, tp.tok
        FROM tok_pos tp
        WHERE NOT EXISTS (SELECT 1 FROM covered c
                          WHERE c.doc_id = tp.doc_id
                            AND c.tpos = tp.tpos)
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT)                 AS n_tokens,
           CAST(len(t.t) - COUNT(k.tok) AS BIGINT)  AS n_removed,
           sha256(COALESCE(string_agg(k.tok, ' ' ORDER BY k.tpos), ''))
                                                    AS cleaned_sha
    FROM toks t LEFT JOIN kept k USING (doc_id)
    GROUP BY t.doc_id, len(t.t)
    ORDER BY t.doc_id
    """,
    survey_ids=("L2", "L4", "F6"),
)
def l6_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb 'remove duplicated substrings' — the TRANSFORM
    companion of :func:`l6_duplicate_spans` (which only detects): every
    token covered by any cross-document duplicate word-8-gram is
    dropped and the cleaned document is reassembled from the surviving
    tokens in order. Emits ``(doc_id, n_tokens, n_removed,
    cleaned_sha)`` — sha256 of the cleaned text rather than the text
    itself so the driver hashes a fixed-width value, making any
    reconstruction bug (ordering, off-by-one span edges, dropped
    all-covered docs) flip the gate.

    Scale shape (r15 restructure — guide §8 "decide with small rows"):
    the same single Arrow gram-hash pass as l6_duplicate_spans (8-byte
    keys, one window min≠max dup flag) produces the duplicated-gram
    position table, which is SMALL (dup grams only) and persisted for
    its two consumers. Every document WITHOUT a duplicated gram —
    9.5 of 10 docs on this corpus, the overwhelming majority on any
    real one — never explodes at all: its cleaned text is its tokens
    joined in order, one narrow in-row expression (no shuffle, no
    collect, no per-doc re-sort). Only TOUCHED docs take the heavy
    path: posexplode → left join against covered positions (≤ 8× the
    duplicated-gram count) → one per-doc aggregate computing count,
    removed count, and the ordered reassembly sha in a single pass
    (measured 1.48 → 1.27 s at sf0.1 while the corpus-sized explode +
    collect/sort shrank to the 477 touched docs of 5000). The
    touched/untouched routing joins are on doc_id only; AQE picks
    broadcast while the dup-doc set is small and degrades to a
    shuffle join when duplication is massive — in that regime the
    shuffled text bytes match what the old all-docs token explode
    shuffled anyway. No doc×doc comparison anywhere."""
    from ..ops.text import tokens, word_ngram_hash_frame

    (docs,) = tables(spark, sf_dir, "documents")
    spread_docs = dedup.spread(docs)
    grams = word_ngram_hash_frame(spread_docs, id_col="doc_id",
                                  text_col="text", n=8)
    from pyspark.sql import Window
    gw = Window.partitionBy("gh")
    # persisted: dup_docs and covered both consume it; without the
    # persist the gram-hash + window pipeline would execute twice
    dpos = (grams
            .withColumn("__dup",
                        F.min("doc_id").over(gw) != F.max("doc_id").over(gw))
            .filter(F.col("__dup"))
            .select("doc_id", "pos")
            .persist())
    dup_docs = dpos.select("doc_id").distinct()
    covered = (dpos.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("tpos"))
        .distinct()
        .withColumn("__c", F.lit(1)))
    toks = (spread_docs.join(dup_docs, "doc_id", "left_semi")
            .select("doc_id",
                    F.posexplode(tokens(F.col("text"))).alias("tpos", "tok")))
    tagged = toks.join(covered, ["doc_id", "tpos"], "left")
    # one aggregate per touched doc: total tokens, covered tokens, and
    # the ordered-reassembly sha (collect_list skips the nulls the
    # `when` leaves on covered positions; a fully-covered doc yields
    # the empty list -> sha of "", matching the oracle's COALESCE)
    touched = (tagged.groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                    F.sum(F.when(F.col("__c").isNotNull(), 1).otherwise(0))
                    .cast("long").alias("n_removed"),
                    F.sha2(F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(F.col("__c").isNull(),
                                           F.struct("tpos", "tok")))),
                            lambda s: s["tok"]), " "), 256)
                    .alias("cleaned_sha")))
    untouched = (docs.join(dup_docs, "doc_id", "left_anti")
                 .select("doc_id",
                         F.size(tokens(F.col("text"))).cast("long")
                         .alias("n_tokens"),
                         F.lit(0).cast("long").alias("n_removed"),
                         F.sha2(F.array_join(tokens(F.col("text")), " "), 256)
                         .alias("cleaned_sha")))
    return (touched.select("doc_id", "n_tokens", "n_removed", "cleaned_sha")
            .unionByName(untouched)
            .orderBy("doc_id"))


@declared(
    "l2_incremental_dedup",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n FROM shingled GROUP BY id),
    inter AS (
        SELECT a.id AS id_new, b.id AS id_corpus, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b ON a.shingle = b.shingle
        WHERE a.id % 10 >= 8 AND b.id % 10 < 8
        GROUP BY 1, 2
    )
    SELECT id_new, id_corpus,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_new
    JOIN sizes sb ON sb.id = id_corpus
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.7
    ORDER BY id_new, id_corpus
    """,
    survey_ids=("L2", "J1"),
)
def l2_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup — the production shape: a fresh crawl
    batch (doc_id % 10 ≥ 8 here) is deduped AGAINST the existing corpus
    (doc_id % 10 < 8) without re-running the corpus×corpus self-join.
    Candidates come from ``jaccard_hash_prefix_candidates_between`` —
    the IN-ROW hash-ordered prefix filter, still provably LOSSLESS
    (the prefix lemma holds for any consistent global order; hash
    collisions only add candidates), so the exact-Jaccard-verified
    output hash-matches the brute-force oracle at EVERY SF. Re-planned
    r9 by measurement: the df-ordered generator
    (``jaccard_prefix_candidates_between``, kept in ops for
    Zipfian-headed corpora — see its docstring and BENCH_zipf.json)
    spent three corpus-wide shuffles (df aggregate, join-back, per-doc
    window) building prefixes this plan computes in-row; steady sf0.1
    3.6 s → 2.8 s, cold 12 s → 6 s, 10×-data 5.2 s → 3.7 s. The ops
    layer also keeps ``lsh_probe_banded`` as the alternative
    constant-work-per-batch scale path (at 100 TB the corpus side is
    the write-once ``lsh_band_table`` parquet bucketed by band_sig, so
    each incoming batch costs its own banding plus a co-located probe,
    never a corpus rescan); tests/test_operators.py pins its recall
    against exact generation AND demonstrates the persisted-artifact
    probe (plan provably reads only the band table + the batch).

    The split, with the crossover made explicit: per batch of size b
    against a corpus of size C, this exact plan costs O(C + b) (the
    shared document-frequency order + prefix join re-reads the corpus
    shingle table), while the probe path costs O(b) per batch after a
    one-time O(C) banding — so over B batches it is B·O(C+b) vs
    O(C) + B·O(b). MEASURED at the 500 k-doc sf10 tier
    (tools/bench_incremental.py → BENCH_incremental.json, r10): exact
    8.4–12.5 s per batch vs probe 1.8–2.7 s after a 9.7 s one-time
    setup — the probe wins from the SECOND batch (the B ≥ 2 claim,
    measured), with recall 1.0 on all four measured batches (the
    theoretical ~1% banding loss at j≈0.7 did not materialize on this
    corpus's duplicate structure).
    The exact plan stays declared because its output is hash-provable;
    measured at 10× data it scales at 4.4× (BENCH_sf1.json,
    job-floor-dominated — fine), and the probe is the measured swap-in
    once per-batch latency, not provability, is the binding
    constraint."""
    (docs,) = tables(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    arrs_c = dedup.shingle_arrays(dedup.spread(corpus), "doc_id", "text", 3) \
                  .persist()
    arrs_n = dedup.shingle_arrays(dedup.spread(new), "doc_id", "text", 3) \
                  .persist()
    # r10 (r9 verdict #4): candidates via the measured auto-dispatcher —
    # flat corpus df-head routes to the in-row hash-prefix generator
    # (the exact plan previously declared directly; signal memoized per
    # corpus), Zipfian head to the df-ordered generator. Both lossless,
    # so the verified output is dispatch-invariant.
    # re-spread the skinny candidate pairs before the array verify (r15):
    # AQE coalesces the ~MB distinct-candidates shuffle to one partition
    # by BYTES, serializing the per-pair array_intersect work that
    # dominates this query (interleaved A/B at sf0.1: 4.14 s -> 1.39 s
    # steady; the same starvation recurs at any tier because pair rows
    # are skinny while verify cost is per-row-heavy — the CLAUDE.md
    # force-spread rule applied to a shuffle output instead of a scan;
    # no-op under static-partition sessions, see spread_coalesced).
    cands = dedup.spread_coalesced(dedup.jaccard_candidates_between_auto(
        arrs_n, arrs_c, threshold=0.7))
    sa = arrs_n.select(F.col("id").alias("id_new"),
                       F.col("shingles").alias("__sa"))
    sb = arrs_c.select(F.col("id").alias("id_corpus"),
                       F.col("shingles").alias("__sb"))
    n_common = F.size(F.array_intersect("__sa", "__sb"))
    return (cands.join(sa, "id_new").join(sb, "id_corpus")
            .withColumn("jaccard",
                        n_common /
                        (F.size("__sa") + F.size("__sb") - n_common))
            .filter(F.col("jaccard") >= 0.7)
            .select("id_new", "id_corpus", "jaccard")
            .orderBy("id_new", "id_corpus"))
