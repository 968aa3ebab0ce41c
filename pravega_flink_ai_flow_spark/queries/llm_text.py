"""Text-analysis queries over ``documents`` (SURVEY.md L4): token
counting, quality features, language stats, fingerprinting. The Spark
side is pure JVM expressions (ops.text); the oracle reproduces each
feature in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from . import declared, tables, tier
from ..engine.memo import memo
from ..ops import text as T


@declared(
    "l4_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS INTEGER)  AS n_tokens,
           CAST(n_chars AS BIGINT)     AS n_chars,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                 / greatest(len(toks), 1) AS mean_word_len
    FROM (SELECT doc_id, n_chars,
                 list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks
          FROM documents)
    ORDER BY doc_id
    """,
    survey_ids=("L4",),
)
def l4_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = tables(spark, sf_dir, "documents")
    t = F.col("text")
    # mean_word_len not rounded: exact-int sum + one division → bit-
    # identical doubles on both engines; round() itself can disagree at
    # shortest-repr half boundaries (see w8)
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        T.mean_word_length(t).alias("mean_word_len"),
    ).orderBy("doc_id")


@declared(
    "l4_quality_features",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(toks, t -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it',
                  'for','on','with','as','at','by','be','this','that','are'],
                 lower(t)))) AS DOUBLE) / greatest(len(toks), 1) AS stopword_ratio,
           CAST(len(regexp_replace(text, '[^.,;:!?''"()\\[\\]]', '', 'g')) AS DOUBLE)
                 / greatest(len(text), 1) AS punct_ratio
    FROM (SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks
          FROM documents)
    ORDER BY doc_id
    """,
    survey_ids=("L4",),
)
def l4_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = tables(spark, sf_dir, "documents")
    # ratios not rounded: single int/int IEEE divisions → bit-identical
    # on both engines (round() disagrees at half boundaries, see w8).
    # One Arrow pass (ops.text.quality_frame) instead of interpreted
    # per-token HOF lambdas.
    return (T.quality_frame(docs)
            .select("doc_id", "stopword_ratio", "punct_ratio")
            .orderBy("doc_id"))


@declared(
    "l4_lang_source_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*)                                   AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)               AS total_chars,
           CAST(AVG(n_chars) AS DOUBLE)               AS avg_chars,
           QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.5) AS median_chars
    FROM documents
    GROUP BY lang, source
    """,
    survey_ids=("L4", "A1", "A7"),
)
def l4_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus statistics — the language-filter +
    per-source stats rollup of a training-data pipeline."""
    (docs,) = tables(spark, sf_dir, "documents")
    return (docs.groupBy("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.avg("n_chars").alias("avg_chars"),
                 F.percentile(F.col("n_chars").cast("double"), F.lit(0.5)).alias("median_chars")))


@declared(
    "l4_language_id",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_guess,
           s_en
    FROM (
        SELECT doc_id, lang,
               len(list_filter(toks, t -> list_contains(
                   ['der','die','das','und','ist','nicht','mit','ein','von','für'], t))) AS s_de,
               len(list_filter(toks, t -> list_contains(
                   ['the','and','of','to','is','in','that','it','for','on'], t))) AS s_en,
               len(list_filter(toks, t -> list_contains(
                   ['el','la','los','de','que','y','en','un','una','es'], t))) AS s_es,
               len(list_filter(toks, t -> list_contains(
                   ['le','la','les','et','est','des','un','une','dans','que'], t))) AS s_fr
        FROM (SELECT doc_id, lang,
                     list_transform(
                         list_filter(string_split_regex(trim(text), '\\s+'),
                                     t -> t != ''),
                         t -> lower(t)) AS toks
              FROM documents)
    )
    ORDER BY doc_id
    """,
    survey_ids=("L4",),
)
def l4_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token evidence per language, argmax
    with alphabetical tie-break. (The driver corpus's ``lang`` column is
    synthetic metadata over a shared vocabulary, so the interesting output
    is the deterministic classifier itself, not its accuracy.) Scoring
    runs through ``ops.text.language_id_frame`` — one Arrow/numpy pass
    per batch instead of interpreted per-token HOF lambdas."""
    (docs,) = tables(spark, sf_dir, "documents")
    return (T.language_id_frame(docs, id_cols=("doc_id", "lang"))
            .select("doc_id", "lang", "lang_guess", "s_en")
            .orderBy("doc_id"))


@declared(
    "l4_bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
               AS n_pieces,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t != ''))
               AS INTEGER) AS n_ws_tokens
    FROM documents
    ORDER BY doc_id
    """,
    survey_ids=("L4",),
)
def l4_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: BPE-ish pre-tokenizer pieces (letter runs
    | digit runs | symbols) vs whitespace tokens."""
    (docs,) = tables(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.bpe_piece_count(t).alias("n_pieces"),
        T.token_count(t).alias("n_ws_tokens"),
    ).orderBy("doc_id")


@declared(
    "l4_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   t -> t != ''),
                       t -> CAST(131 * len(t) + 7 * unicode(t[1:1])
                                 + unicode(t[-1:]) AS BIGINT))),
               (acc, v) -> (acc * 1000003 + v) % 2147483647) AS rhash
    FROM documents
    ORDER BY doc_id
    """,
    survey_ids=("L4", "L1"),
)
def l4_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: Karp-Rabin polynomial rolling
    hash over the token stream (md5's companion — survives per-token
    inspection, supports incremental updates)."""
    (docs,) = tables(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.rolling_hash(F.col("text")).alias("rhash"),
    ).orderBy("doc_id")


@declared(
    "l4_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    survey_ids=("L4", "L1"),
)
def l4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint (md5 of normalized text)."""
    (docs,) = tables(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fingerprint"),
    ).orderBy("doc_id")


@declared(
    "l4_quality_filter",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               CAST(len(toks) AS DOUBLE) AS n_tok,
               least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS len_score,
               least((CAST(len(list_filter(toks, t -> list_contains(
                   ['the','a','an','and','or','of','to','in','is','it',
                    'for','on','with','as','at','by','be','this','that','are'],
                   lower(t)))) AS DOUBLE) / greatest(len(toks), 1)) * 4.0,
                   1.0) AS stop_score,
               CASE WHEN (CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                          / greatest(len(toks), 1)) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.5 END AS wl_score
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> t != '') AS toks
              FROM documents)
    )
    SELECT doc_id, lang,
           (len_score + stop_score + wl_score) / 3.0 AS quality
    FROM f
    WHERE (len_score + stop_score + wl_score) / 3.0 >= 0.6
      AND n_tok BETWEEN 20 AND 1000
    ORDER BY doc_id
    """,
    survey_ids=("L4", "P4"),
)
def l4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data keep/drop gate: composite quality
    score (length, stopword, word-length components) + token bounds,
    applied as the cheap pre-filter that runs before any model-based
    scoring at corpus scale. Features come from one Arrow pass
    (ops.text.quality_frame) — same doubles, no interpreted per-token
    lambdas."""
    (docs,) = tables(spark, sf_dir, "documents")
    return (T.quality_frame(docs, id_cols=("doc_id", "lang"))
            .filter((F.col("quality") >= 0.6) &
                    F.col("n_tok").cast("double").between(20, 1000))
            .select("doc_id", "lang", "quality")
            .orderBy("doc_id"))


@declared(
    "l4_text_normalize",
    oracle="""
    SELECT doc_id,
           sha256(norm)                     AS norm_sha256,
           CAST(len(norm) AS INTEGER)      AS norm_len
    FROM (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm
        FROM documents
    )
    ORDER BY doc_id
    """,
    survey_ids=("L4",),
)
def l4_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip non-alphanumerics,
    collapse whitespace) — the pre-dedup canonical form. Hash-checking
    the sha256 of the normalized text makes the oracle verify every
    byte of the transform, not a summary of it."""
    (docs,) = tables(spark, sf_dir, "documents")
    norm = T.normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.sha2(norm.cast("binary"), 256).alias("norm_sha256"),
        F.length(norm).alias("norm_len"),
    ).orderBy("doc_id")


@declared(
    "l4_repetition_ratio",
    oracle="""
    SELECT doc_id,
           CAST(len(segs) AS INTEGER)                 AS n_sentences,
           CAST(len(list_distinct(segs)) AS INTEGER)  AS n_distinct,
           CASE WHEN len(segs) > 0
                THEN 1.0 - CAST(len(list_distinct(segs)) AS DOUBLE) / len(segs)
                ELSE 0.0 END AS dup_ratio
    FROM (
        SELECT doc_id,
               list_filter(list_transform(string_split_regex(text, '[.!?]'),
                                          s -> trim(s)),
                           s -> s != '') AS segs
        FROM documents
    )
    ORDER BY doc_id
    """,
    survey_ids=("L4",),
)
def l4_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate signal: per-document duplicate-sentence
    fraction (1 − distinct/total) — array ops in-row, no explode and no
    shuffle, so the quality gate stays map-side at corpus scale."""
    (docs,) = tables(spark, sf_dir, "documents")
    t = F.col("text")
    segs = T.sentences(t)
    return docs.select(
        "doc_id",
        F.size(segs).alias("n_sentences"),
        F.size(F.array_distinct(segs)).alias("n_distinct"),
        T.dup_sentence_ratio(t).alias("dup_ratio"),
    ).orderBy("doc_id")


@declared(
    "l4_gopher_repetition",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               list_filter(string_split_regex(trim(text), '\s+'),
                           t -> t != '') AS tk
        FROM documents
    ),
    g2 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                                     i -> array_to_string(tk[i:i+1], ' ')))
                   AS gram
        FROM toks WHERE len(tk) >= 2
    ),
    c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
    t2 AS (SELECT doc_id, MAX(cnt * length(gram)) AS top2_cover
           FROM c2 GROUP BY 1),
    g5 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 3),
                                     i -> array_to_string(tk[i:i+4], ' ')))
                   AS gram
        FROM toks WHERE len(tk) >= 5
    ),
    c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2),
    d5 AS (SELECT doc_id, SUM(cnt * length(gram)) AS dup5_cover
           FROM c5 WHERE cnt >= 2 GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(t2.top2_cover, 0) AS BIGINT) AS top2_cover,
           CAST(COALESCE(d5.dup5_cover, 0) AS BIGINT) AS dup5_cover,
           CASE WHEN d.n_chars > 0
                THEN CAST(COALESCE(t2.top2_cover, 0) AS DOUBLE) / d.n_chars
                ELSE 0.0 END AS top2gram_char_frac,
           CASE WHEN d.n_chars > 0
                THEN CAST(COALESCE(d5.dup5_cover, 0) AS DOUBLE) / d.n_chars
                ELSE 0.0 END AS dup5gram_char_frac
    FROM documents d
    LEFT JOIN t2 ON t2.doc_id = d.doc_id
    LEFT JOIN d5 ON d5.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    survey_ids=("L4",),
)
def l4_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1):
    per document, the fraction of characters covered by the single most
    frequent word 2-gram (``count × char-length``, max over grams) and
    the fraction covered by duplicated word 5-grams (sum over grams
    seen ≥ 2×). Pretraining pipelines drop docs above thresholds on
    exactly these signals.

    Plan (r15 replan): both signals are ROW-LOCAL — every gram of a
    doc lives in that doc — so the whole computation is ONE
    ``mapInArrow`` pass (``ops.text.gopher_repetition_frame``): gram
    hashes and char lengths exactly as ``word_ngram_hash_frame``, the
    per-(doc, gram) counting a lexsort + run-length ``reduceat`` inside
    the batch. The old shape shuffled the corpus-sized (doc_id, gh,
    glen) stream TWICE (groupBy per n) and joined the two per-doc
    aggregates back; now no gram row ever leaves the Arrow batch
    (measured 2.35 → 0.83 s at sf0.1, interleaved). The sort sits
    BELOW the Arrow pass (change-5 pattern: doc_id is unique, so row
    order is unchanged and the range sampler never executes the
    battery). Covers are exact ints; fractions are single exact-int
    divisions (never rounded, bit-identical across engines)."""
    (docs,) = tables(spark, sf_dir, "documents")
    rep = T.gopher_repetition_frame(
        docs.select("doc_id", "n_chars", "text").orderBy("doc_id"))
    frac = lambda cover: (F.when(F.col("n_chars") > 0,  # noqa: E731
                                 cover / F.col("n_chars"))
                          .otherwise(F.lit(0.0)))
    return rep.select("doc_id", "top2_cover", "dup5_cover",
                      frac(F.col("top2_cover")).alias("top2gram_char_frac"),
                      frac(F.col("dup5_cover")).alias("dup5gram_char_frac"))


@declared(
    "l6_pii_redaction",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
               AS n_emails,
           CAST(len(regexp_extract_all(aug,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER)
               AS n_ips,
           sha256(regexp_replace(
               regexp_replace(aug,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
               '<IP>', 'g')) AS redacted_sha256
    FROM (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com from 10.0.' || (doc_id % 256) || '.1' AS aug
        FROM documents
    )
    ORDER BY doc_id
    """,
    survey_ids=("L4",),
)
def l6_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction before training-data release: emails → <EMAIL>,
    IPv4 → <IP>, with per-doc audit counts. The corpus is synthetic and
    PII-free, so each row gets a deterministic planted email+IP (same
    expression on both engines) — the redaction then provably fires ≥1
    time per row and the sha256 of the redacted text is hash-compared
    byte-for-byte. Pure regexp chains: map-side at any scale."""
    (docs,) = tables(spark, sf_dir, "documents")
    aug = F.concat(F.col("text"), F.lit(" contact user"),
                   F.col("doc_id").cast("string"), F.lit("@example.com from 10.0."),
                   F.pmod(F.col("doc_id"), F.lit(256)).cast("string"), F.lit(".1"))
    n_emails, n_ips = T.pii_counts(aug)
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        F.sha2(T.redact_pii(aug).cast("binary"), 256).alias("redacted_sha256"),
    ).orderBy("doc_id")


@declared(
    "l6_heavy_hitter_terms",
    oracle="""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                  t -> t != '')) AS term
        FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT term, COUNT(*) AS n_occurrences,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot) AS share
    FROM toks GROUP BY term
    HAVING COUNT(*) > (SELECT n FROM tot) * 0.01
    """,
    survey_ids=("L4", "A2", "A8"),
)
def l6_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: terms above 1% of total corpus tokens — ONE
    exact aggregation (map-side partial counts). The per-term histogram
    is checkpointed and the token total (Σ per-term counts) is summed
    from it on the driver, so the corpus is exploded once and no task
    receives the whole vocabulary. This is the oracle twin of the
    count-min sketch path (ops.sketch — bounded state when the term
    universe itself can't be shuffled); pytest bounds the sketch's
    estimates against these exact counts."""
    (docs,) = tables(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
    ).alias("term"))
    hist = (toks.groupBy("term").agg(F.count("*").alias("n_occurrences"))
            .localCheckpoint())
    total = F.lit(hist.agg(F.sum("n_occurrences")).first()[0]).cast("long")
    return (hist.filter(F.col("n_occurrences") > total * 0.01)
            .select("term", "n_occurrences",
                    (F.col("n_occurrences") / total).alias("share")))


_CHUNK, _STRIDE = 64, 48   # tokens per chunk, stride (16-token overlap)


@declared(
    "l4_doc_chunking",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id, toks, len(toks) AS n,
               CASE WHEN len(toks) <= {_CHUNK} THEN 0
                    ELSE (len(toks) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE}
               END AS last_chunk
        FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(i.r AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(toks, i.r * {_STRIDE} + 1,
                               i.r * {_STRIDE} + {_CHUNK})) AS INTEGER)
               AS n_chunk_tokens,
           sha256(array_to_string(list_slice(toks, i.r * {_STRIDE} + 1,
                                             i.r * {_STRIDE} + {_CHUNK}), ' '))
               AS chunk_sha256
    FROM m, unnest(generate_series(0, m.last_chunk)) i(r)
    ORDER BY doc_id, chunk_idx
    """,
    survey_ids=("L4", "P3"),
)
def l4_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for context-window preprocessing: fixed
    64-token chunks at stride 48 (16-token overlap), one output row per
    chunk with its token count and the sha256 of the space-joined chunk
    — so the hash verifies every chunk's exact content and boundaries.
    Pure sequence/explode/slice expressions, map-side at any corpus
    size; the chunk count derives from integer arithmetic identical on
    both engines."""
    (docs,) = tables(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    base = (docs.select("doc_id", toks.alias("toks"))
            .withColumn("n", F.size("toks"))
            .filter(F.col("n") > 0)
            .withColumn("last_chunk",
                        F.when(F.col("n") <= _CHUNK, F.lit(0))
                        .otherwise(F.expr(
                            f"(n - {_CHUNK} + {_STRIDE} - 1) div {_STRIDE}"))))
    chunk = F.slice("toks", F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
    return (base.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), F.col("last_chunk")))
         .alias("chunk_idx"))
        .select("doc_id",
                F.col("chunk_idx").cast("int").alias("chunk_idx"),
                F.size(chunk).alias("n_chunk_tokens"),
                F.sha2(F.concat_ws(" ", chunk).cast("binary"), 256)
                 .alias("chunk_sha256"))
        .orderBy("doc_id", "chunk_idx"))


_BP_RATIO = 0.25   # a sentence in >25% of its source's docs is boilerplate


@declared(
    "l6_boilerplate_removal",
    oracle=f"""
    WITH segs AS (
        SELECT doc_id, source,
               u.s.seg AS seg, CAST(u.s.pos AS INTEGER) AS pos
        FROM (
            SELECT doc_id, source,
                   list_filter(
                       list_transform(string_split_regex(text, '[.!?]'),
                           (x, i) -> struct_pack(seg := trim(x), pos := i)),
                       s -> s.seg != '') AS lst
            FROM documents
        ) t, unnest(t.lst) AS u(s)
    ),
    src_sizes AS (
        SELECT source, COUNT(DISTINCT doc_id) AS n_docs
        FROM documents GROUP BY source
    ),
    freq AS (
        SELECT source, seg, COUNT(DISTINCT doc_id) AS n_with
        FROM segs GROUP BY source, seg
    ),
    tagged AS (
        SELECT g.doc_id, g.seg, g.pos,
               CAST(f.n_with AS DOUBLE) / z.n_docs > {_BP_RATIO} AS is_bp
        FROM segs g
        JOIN freq f ON f.source = g.source AND f.seg = g.seg
        JOIN src_sizes z ON z.source = g.source
    )
    SELECT doc_id,
           CAST(COUNT(*) FILTER (WHERE NOT is_bp) AS INTEGER) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE is_bp) AS INTEGER)     AS n_dropped,
           sha256(COALESCE(string_agg(seg, '. ' ORDER BY pos)
                           FILTER (WHERE NOT is_bp), ''))     AS cleaned_sha
    FROM tagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    survey_ids=("L4", "L2"),
)
def l6_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (the C4-style cleanup):
    sentences appearing in >25% of their source's documents are
    boilerplate; each document is reconstructed from its remaining
    sentences in original order, and the sha256 of the cleaned text is
    hash-compared byte-for-byte. Plan shape (r15, guide §2.4): the old
    (source, sentence) frequency aggregate joined back onto the
    exploded segments re-ran the sentence split + posexplode a second
    time under the join's build side (Catalyst shares no common
    subtrees). The frequency is now stated as windows over ONE
    exploded pass — min(pos) per (source, seg, doc) marks each doc's
    first occurrence, and summing those marks per (source, seg) IS
    countDistinct(doc_id) (which window functions cannot express
    directly). The two windows stack as two exchanges — the
    (source, seg, doc_id) clustering cannot satisfy the (source, seg)
    window (r15 advice corrected the earlier shared-exchange claim);
    the shipped win is the removed duplicated split+posexplode subtree.
    Then one per-doc regroup — no driver involvement at any size."""
    (docs,) = tables(spark, sf_dir, "documents")
    segs = (docs.select(
        "doc_id", "source",
        F.posexplode(T.sentences(F.col("text"))).alias("pos", "seg")))
    src_sizes = (docs.groupBy("source")
                 .agg(F.countDistinct("doc_id").alias("n_docs")))
    w_doc = Window.partitionBy("source", "seg", "doc_id")
    w_seg = Window.partitionBy("source", "seg")
    tagged = (segs
              .withColumn("__minpos", F.min("pos").over(w_doc))
              .withColumn("n_with",
                          F.sum(F.when(F.col("pos") == F.col("__minpos"),
                                       1).otherwise(0)).over(w_seg))
              .join(F.broadcast(src_sizes), "source")
              .withColumn("is_bp",
                          F.col("n_with") / F.col("n_docs") > _BP_RATIO))
    kept_sorted = F.transform(
        F.array_sort(F.collect_list(
            F.when(~F.col("is_bp"), F.struct("pos", "seg")))),
        lambda x: x["seg"])
    return (tagged.groupBy("doc_id")
            .agg(F.sum(F.when(~F.col("is_bp"), 1).otherwise(0))
                  .cast("int").alias("n_kept"),
                 F.sum(F.when(F.col("is_bp"), 1).otherwise(0))
                  .cast("int").alias("n_dropped"),
                 F.sha2(F.array_join(kept_sorted, ". ").cast("binary"), 256)
                  .alias("cleaned_sha"))
            .orderBy("doc_id"))


def _bigram_pairs(docs: DataFrame) -> DataFrame:
    """Lowercased adjacent word-pair stream ``(doc_id, w1, w2)`` from
    native array expressions only (split → array_remove → arrays_zip
    with the slice-from-2 self, null tail pair dropped) — no HOF
    lambdas (Catalyst interprets those per element) and no Python
    boundary. Shared by l4_bigram_lm_score and l6_dsir_importance;
    matches the oracles' per-token lower() exactly because lowercasing
    never adds or removes whitespace."""
    ws = F.array_remove(F.split(F.trim(F.lower("text")), r"\s+"), "")
    toks = (docs.select("doc_id", ws.alias("ws"))
            .filter(F.size("ws") >= 2))
    z = F.arrays_zip(F.col("ws").alias("w1"),
                     F.slice("ws", 2, F.size("ws")).alias("w2"))
    return (toks.select("doc_id", F.explode(z).alias("b"))
            .filter(F.col("b.w2").isNotNull())
            .select("doc_id", "b.w1", "b.w2"))


@declared(
    "l4_bigram_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> t != ''),
                   t -> lower(t)) AS ws
        FROM documents
    ),
    bigrams AS (
        SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
        FROM (
            SELECT doc_id,
                   list_filter(
                       list_transform(ws, (w, i) ->
                           struct_pack(w1 := w, w2 := ws[i + 1])),
                       b -> b.w2 IS NOT NULL) AS bs
            FROM toks WHERE len(ws) >= 2
        ) t, unnest(t.bs) AS u(b)
    ),
    vocab AS (SELECT COUNT(DISTINCT w1) AS v FROM bigrams),
    cnt2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2),
    cnt1 AS (SELECT w1, SUM(c2) AS c1 FROM cnt2 GROUP BY w1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           round(AVG(log2(CAST(c.c2 + 1 AS DOUBLE)
                          / (n.c1 + (SELECT v FROM vocab)))), 6)
             AS mean_log2p
    FROM bigrams b
    JOIN cnt2 c ON c.w1 = b.w1 AND c.w2 = b.w2
    JOIN cnt1 n ON n.w1 = b.w1
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    survey_ids=("L4", "A1", "J1"),
)
def l4_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring (the CCNet-style LM filter): a
    bigram language model with add-one smoothing is trained ON the
    corpus itself in one aggregate pass — bigram and context counts are
    skinny tables — and every document is scored by its mean log2
    bigram probability. At 100 TB the count tables are the only
    shuffled state (vocab-bounded, not corpus-bounded) and the scoring
    join runs on the bigram key. Low scores mark gibberish/boilerplate
    for the quality gate."""
    from ..ops.partitioning import spread

    (docs,) = tables(spark, sf_dir, "documents")
    # r15: the bigram stream is built from NATIVE array expressions —
    # lower the whole text (lowercase never touches whitespace, so
    # per-token lower is equivalent), split, array_remove the empties,
    # then arrays_zip the array with its slice-from-2 self and drop the
    # null-padded tail pair. The old indexed-transform + F.get chain
    # evaluates its lambdas INTERPRETED per token (CLAUDE.md HOF rule);
    # a mapInArrow hash-stream variant was measured too and REJECTED —
    # the object-dtype token conversion at the Python boundary cost
    # more than the lambdas it removed (stream build: HOF 0.48 s,
    # Arrow 0.49 s, native 0.32 s at sf0.1, identical 265 704 rows).
    # persist: the stream feeds BOTH the count aggregation and the
    # scoring join probe side — without it the explode runs twice.
    bigrams = _bigram_pairs(spread(docs)).persist()
    cnt2 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    cnt1 = cnt2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # v = |distinct w1| is exactly cnt1's row count — counting the
    # already-grouped frame replaces the old distinct-over-cnt2 chain
    # (one whole Exchange+HashAggregate of the vocab table, gone; r15).
    vocab = cnt1.agg(F.count("*").alias("v"))
    # The model is VOCAB-bounded (|distinct bigrams|, not corpus rows),
    # so fold counts + smoothing into ONE broadcast probability table
    # and score with a single broadcast join — the corpus-sized bigram
    # stream never shuffles for scoring (its only wide stage is the
    # per-doc aggregate, map-side combined). The previous shape pushed
    # it through two shuffle joins; at sf0.1 wall-clock is about the
    # same (fixed job overheads dominate the 266k-row stream) — the win
    # is the two corpus-stream shuffles this removes at real scale.
    # Context totals come from a window over the SAME by-w1 exchange
    # the model is already partitioned on, not a second aggregate
    # joined back (r15: the cnt1 join + vocab distinct were two extra
    # exchanges + one shuffle join of vocab-sized data; the window form
    # measured 0.665 -> 0.459 s for the model subtree at sf0.1, exact
    # same integer sums so the smoothed probabilities are bit-equal).
    probs = (cnt2
             .withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
             .join(F.broadcast(vocab))
             .select("w1", "w2",
                     F.log2((F.col("c2") + 1).cast("double")
                            / (F.col("c1") + F.col("v"))).alias("__lp")))
    # "vocab-bounded" is NOT "broadcast-small" at every scale: distinct
    # bigrams grow ~Heaps-law with the corpus (vocab² upper bound), so a
    # FORCED broadcast could OOM at 100 TB (r5 advice). Guard with a
    # driver row count — aggregated off the persisted bigram frame and
    # session-memoized (the model size is a fixed artifact of the data;
    # repeated invocations must not re-pay the probe job) — and fall
    # back to the scale-safe shuffle join on the (w1, w2) key when the
    # model outgrows the broadcast budget.
    broadcastable = memo(
        spark, ("bigram_bcast", sf_dir), tier(sf_dir),
        lambda: cnt2.count() <= 1_000_000)
    scoring_model = F.broadcast(probs) if broadcastable else probs
    return (bigrams
            .join(scoring_model, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_bigrams"),
                 # order-dependent float accumulation → 6 dp (repo rule;
                 # char_entropy precedent). Raw AVG of per-bigram logs is
                 # shuffle/row-order dependent and a latent flaky hash red.
                 F.round(F.avg("__lp"), 6).alias("mean_log2p"))
            .orderBy("doc_id"))


@declared(
    "l6_dsir_importance",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> t != ''),
                   t -> lower(t)) AS ws
        FROM documents
    ),
    bigrams AS (
        SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
        FROM (
            SELECT doc_id,
                   list_filter(
                       list_transform(ws, (w, i) ->
                           struct_pack(w1 := w, w2 := ws[i + 1])),
                       b -> b.w2 IS NOT NULL) AS bs
            FROM toks WHERE len(ws) >= 2
        ) t, unnest(t.bs) AS u(b)
    ),
    cnt AS (
        SELECT w1, w2,
               COUNT(*) FILTER (WHERE doc_id % 10 = 0)  AS tc,
               COUNT(*) FILTER (WHERE doc_id % 10 != 0) AS sc
        FROM bigrams GROUP BY w1, w2
    ),
    tot AS (SELECT SUM(tc) AS tt, SUM(sc) AS st, COUNT(*) AS v FROM cnt)
    SELECT b.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           round(AVG(log2(CAST(c.tc + 1 AS DOUBLE) / (t.tt + t.v))
                     - log2(CAST(c.sc + 1 AS DOUBLE) / (t.st + t.v))), 6)
             AS importance
    FROM bigrams b
    JOIN cnt c ON c.w1 = b.w1 AND c.w2 = b.w2
    CROSS JOIN tot t
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    survey_ids=("L4", "L6", "A1", "J1"),
)
def l6_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for data selection (Xie et al.
    2023, arXiv:2302.03169 — "Data Selection for Language Models via
    Importance Resampling"): fit two add-one-smoothed bigram LMs — one
    on the TARGET domain (here the doc_id % 10 == 0 split, the same
    convention as the decontam benchmark split) and one on the SOURCE
    (the rest) — and score every document by its mean per-bigram
    log-importance ``log p_target(b) − log p_source(b)``. High scores
    mark raw documents that look like the target domain; a sampler
    keeps source docs with probability ∝ exp(importance). (The paper
    hashes n-grams into buckets; here the bigram IS the bucket so the
    DuckDB oracle shares the feature space exactly — hashing only
    changes the count-table key, the selection math is identical.)

    Scale shape mirrors :func:`l4_bigram_lm_score`: one pass builds the
    corpus bigram stream (persisted — it feeds the count aggregate and
    the scoring probe), both LMs come from ONE groupBy with filtered
    counts (vocab-bounded tables), the smoothed log-ratio folds into a
    single model table joined broadcast (guarded — falls back to a
    shuffle join past the budget), and the per-doc score is one
    map-side-combinable aggregate."""
    from ..ops.partitioning import spread

    (docs,) = tables(spark, sf_dir, "documents")
    # r15: native-expression bigram stream (shared _bigram_pairs — see
    # l4_bigram_lm_score for the HOF-vs-Arrow-vs-native measurement).
    bigrams = _bigram_pairs(spread(docs)).persist()
    is_t = (F.col("doc_id") % 10 == 0).cast("long")
    cnt = (bigrams
           .groupBy("w1", "w2")
           .agg(F.sum(is_t).alias("tc"),
                F.sum(1 - is_t).alias("sc")))
    tot = cnt.agg(F.sum("tc").alias("tt"), F.sum("sc").alias("st"),
                  F.count("*").alias("v"))
    model = (cnt.join(F.broadcast(tot))
             .select("w1", "w2",
                     (F.log2((F.col("tc") + 1).cast("double")
                             / (F.col("tt") + F.col("v")))
                      - F.log2((F.col("sc") + 1).cast("double")
                               / (F.col("st") + F.col("v"))))
                     .alias("__li")))
    broadcastable = memo(
        spark, ("dsir_bcast", sf_dir), tier(sf_dir),
        lambda: cnt.count() <= 1_000_000)
    scoring_model = F.broadcast(model) if broadcastable else model
    return (bigrams
            .join(scoring_model, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_bigrams"),
                 # order-dependent float accumulation → 6 dp (repo rule;
                 # same hazard as l4_bigram_lm_score's mean_log2p).
                 F.round(F.avg("__li"), 6).alias("importance"))
            .orderBy("doc_id"))


@declared(
    "l4_tfidf_keywords",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                  t -> t != '')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tfidf, rank FROM (
        SELECT t.doc_id, t.term,
               t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) DESC,
                            t.term) AS rank
        FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN n
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    survey_ids=("L4", "A1", "W1"),
)
def l4_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf keywords — the classic corpus-statistic
    feature every training-data pipeline derives (topic tagging, quality
    filtering, dedup blocking keys). Plan (r15, guide §2.4): tf is one
    (doc, term) aggregate with map-side combine; document frequency is
    a count window OVER that same tf frame partitioned by term — the
    old aggregate-and-broadcast-back formulation re-ran the whole
    corpus explode + tf aggregate under the broadcast side (Catalyst
    shares no common subtrees: two corpus scans for one tf table). The
    corpus size stays a 1-row broadcast (the tpch_q11 / heavy-hitters
    pattern, no driver count). Big-shuffle count is unchanged (the
    removed dfreq join is replaced by the term window's exchange); the
    win is the removed second tokenize + explode pass over the
    corpus."""
    (docs,) = tables(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
    terms = docs.select("doc_id", F.explode(toks).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tfidf = (F.col("tf")
             * F.log(F.col("n_docs").cast("double") / F.col("df")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
            .crossJoin(F.broadcast(n_docs))
            .withColumn("tfidf", tfidf)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("doc_id", "term", "tfidf", "rank")
            .orderBy("doc_id", "rank"))


@declared(
    "l6_quality_classifier",
    oracle=None,   # iterative GD training on hashed features — not
                   # SQL-expressible; pytest asserts the end-to-end
                   # pipeline learns its target well above chance and
                   # that the featurizer is deterministic
    survey_ids=("L4", "M1", "F6"),
)
def l6_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained quality classifier — the canonical LLM-pipeline
    composition (CCNet/fasttext-style): featurize every document as a
    hashed bag-of-words (ops/text.hashed_bow_features — JVM-side token
    hashing + Arrow-vectorized bincount, zero shuffle), train a softmax
    classifier with the distributed parameter-server loop
    (ml/softmax.py), then score the corpus JVM-side with the fitted
    weights as plan literals. The label here is a deterministic length
    heuristic (n_chars ≥ corpus median) standing in for human/reference
    quality labels — the pipeline SHAPE (featurize → train → score →
    filter) is the deliverable, and it is what runs unchanged at
    100 TB: featurization and scoring are map-only, training moves only
    (dim+1)×2 gradient doubles per partition per epoch.

    Rows-only by necessity TWICE over: GD training is iterative, and
    the xxhash64 bucket featurizer has no DuckDB equivalent. The
    SCORING half IS hash-checked by the frozen-weights twin
    l6b_quality_score_pinned, which swaps in the engine-shared md5
    bucketing so featurize-and-score is exact cross-engine arithmetic.
    pytest asserts the featurizer here is deterministic and the
    pipeline learns well above chance."""
    from ..ml.softmax import fit_softmax_distributed
    from ..ops.text import hashed_bow_features

    (docs,) = tables(spark, sf_dir, "documents")

    def _labeled_feats(thr):
        labeled = docs.withColumn(
            "label", (F.col("n_chars") >= F.lit(thr)).cast("int"))
        return hashed_bow_features(labeled, id_col="doc_id",
                                   text_col="text", dim=256,
                                   label_col="label")

    def fit():
        thr = docs.agg(
            F.percentile(F.col("n_chars").cast("double"),
                         F.lit(0.5)).alias("m")).first()["m"]
        # 60 epochs: the unscaled count features make the momentum
        # descent ring before settling (measured train acc 0.79 at 10
        # epochs, 0.95 at 60); each epoch is one map-only job and the
        # fitted model is session-cached, so the one-time cost is fine
        model = fit_softmax_distributed(
            _labeled_feats(thr).select("features", "label"),
            vec_col="features", label_col="label", n_classes=2,
            epochs=60)
        return thr, model

    thr, model = memo(spark, ("qc_model", sf_dir), tier(sf_dir), fit)
    feats = _labeled_feats(thr)
    diff = model.W[:, 1] - model.W[:, 0]     # decision score > 0 → keep
    coef = F.array(*[F.lit(float(c)) for c in diff[:-1]])
    score = F.aggregate(
        F.zip_with(F.col("features"), coef, lambda v, c: v * c),
        F.lit(float(diff[-1])), lambda acc, x: acc + x)
    return (feats.select(
                F.col("doc_id"),
                F.col("label").alias("true_label"),
                F.when(score > 0, 1).otherwise(0).alias("pred_label"))
            .orderBy("doc_id"))


@declared(
    "l4_pmi_collocations",
    oracle="""
    WITH term AS (
        SELECT DISTINCT doc_id, lower(t) AS term
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split_regex(trim(text),
                                                           '\\s+'),
                            t -> t != '')) AS t
              FROM documents)
    ),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    df AS (SELECT term, COUNT(*) AS df FROM term GROUP BY 1),
    freq AS (SELECT term, df FROM df, n
             WHERE df * 20 >= nd),
    ft AS (SELECT t.doc_id, t.term, f.df
           FROM term t JOIN freq f USING (term)),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b,
               COUNT(*) AS n_ab,
               MIN(a.df) AS df_a, MIN(b.df) AS df_b
        FROM ft a JOIN ft b
          ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2
    )
    SELECT term_a, term_b, n_ab,
           ln((CAST(n_ab AS DOUBLE) * nd) / (CAST(df_a AS DOUBLE) * df_b))
               AS pmi
    FROM pairs, n
    WHERE n_ab >= 5
    ORDER BY n_ab DESC, term_a, term_b
    LIMIT 50
    """,
    survey_ids=("L4", "A1", "J1", "O2"),
)
def l4_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction via pointwise mutual information — the
    corpus-statistics pass behind phrase mining / tokenizer-merge
    candidates: PMI(a,b) = ln(P(a,b) / (P(a)·P(b))) over per-document
    term presence.

    Scale shape: the quadratic pair expansion is VOCAB-PRUNED FIRST —
    only terms with document frequency ≥ 5% of the corpus (a
    broadcast-small set by Zipf's law) enter the per-doc pair join, so
    pair rows per doc are bounded by the frequent-vocab hit count, not
    the doc length; the pair aggregate map-side combines. Ranking is by
    the INTEGER pair count (cross-engine exact), not the float PMI —
    ln() can differ in the last ulp between libm implementations, fine
    for hashing at 6 dp but not for a LIMIT boundary."""
    from ..ops.partitioning import spread

    (docs,) = tables(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
    # per-doc term presence is deduped IN-ROW (array_distinct over the
    # lowered token array) instead of a global .distinct(): the distinct
    # planned an Exchange of every unique (doc_id, term) pair — a
    # corpus-sized shuffle whose only job was per-doc dedup, which is
    # row-local by definition (r15, guide §2.4; local wall unchanged,
    # one corpus-sized Exchange removed from the plan)
    term = (spread(docs)
            .select("doc_id",
                    F.explode(F.array_distinct(
                        F.transform(toks, lambda t: F.lower(t))))
                    .alias("term")))
    n_docs = docs.agg(F.count("*").alias("nd"))
    df_tbl = term.groupBy("term").agg(F.count("*").alias("df"))
    freq = (df_tbl.crossJoin(F.broadcast(n_docs))
            # df >= 5% of nd as the INTEGER-EXACT df * 20 >= nd: a
            # float 0.05*nd CAST would round-to-nearest in DuckDB but
            # truncate in Spark, flipping term membership whenever
            # 0.05*nd has fraction >= .5 (r6 ADVICE)
            .filter(F.col("df") * 20 >= F.col("nd"))
            .select("term", "df"))
    ft = term.join(F.broadcast(freq), "term")
    # r15: two restructurings were implemented and REJECTED on
    # interleaved A/B at sf0.1 (guide §1.1 "switch back to the
    # empirical loop"): (a) df as a count window over one term stream —
    # 3.6 -> 4.1 s, because the window ships every (doc, term) row
    # where this aggregate partial-combines to (term, count) before its
    # shuffle; (b) the pair expansion in-row via collect_list + inline
    # (the lsh_candidate_pairs shape) — 3.8 -> 5.2 s, because HOF
    # lambdas evaluate INTERPRETED per element and this expansion emits
    # millions of pairs (LSH buckets are small and rare; frequent-term
    # hit lists are neither). The codegen'd self-join below stays.
    a = ft.select("doc_id", F.col("term").alias("term_a"),
                  F.col("df").alias("df_a"))
    b = ft.select("doc_id", F.col("term").alias("term_b"),
                  F.col("df").alias("df_b"))
    pairs = (a.join(b, (a.doc_id == b.doc_id) & (a.term_a < b.term_b))
             .groupBy("term_a", "term_b")
             .agg(F.count("*").alias("n_ab"),
                  F.min("df_a").alias("__dfa"),
                  F.min("df_b").alias("__dfb")))
    pmi = F.log((F.col("n_ab").cast("double") * F.col("nd"))
                / (F.col("__dfa").cast("double") * F.col("__dfb")))
    return (pairs.filter(F.col("n_ab") >= 5)
            .crossJoin(F.broadcast(n_docs))
            .withColumn("pmi", pmi)
            .select("term_a", "term_b", "n_ab", "pmi")
            .orderBy(F.col("n_ab").desc(), "term_a", "term_b")
            .limit(50))


@declared(
    "l4_char_entropy",
    oracle=r"""
    WITH chars AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
        FROM documents WHERE length(text) > 0
    ),
    counts AS (
        SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT)  AS n_chars_total,
           CAST(COUNT(*) AS BIGINT) AS n_unique_chars,
           ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6)
               AS char_entropy
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
    survey_ids=("L4", "F6"),
)
def l4_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy corpus QC (low entropy = mash/repetition —
    standard pretraining filter signal). The oracle explodes every
    codepoint into rows (a 1-to-n_chars blowup DuckDB can afford at
    sf0.01); the Spark plan instead histograms each Arrow batch with
    numpy (ops/text.py char_entropy_frame) — per-doc state only, no
    explode shuffle, which is the only shape that survives 100 TB of
    text. length(text) > 0 filters BEFORE the Arrow pass so the
    parquet scan keeps its pushed filter; entropy is an
    order-dependent accumulation -> rounded to 6 dp on both sides."""
    (docs,) = tables(spark, sf_dir, "documents")
    frame = T.char_entropy_frame(
        docs.filter(F.length("text") > 0).select("doc_id", "text"))
    return (frame.select("doc_id", "n_chars_total", "n_unique_chars",
                         F.round("char_entropy", 6).alias("char_entropy"))
            .orderBy("doc_id"))


@declared(
    "l4_bpe_trained_tokenize",
    oracle=None,   # iterative merge learning is not SQL-expressible;
                   # rows-only gate + tests/test_bpe.py (worked-example
                   # merges, determinism, frame == per-row replica)
    survey_ids=("L4", "M1", "F6"),
)
def l4_bpe_trained_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-TRAINED BPE tokenizer (Sennrich 2016), train + apply:
    the real-tokenizer counterpart of l4_bpe_token_count's fixed regex.
    Training touches the corpus exactly once (word-frequency aggregate,
    map-side combined); the merge table is learned from that compact
    vocab-bounded dict (guarded collect, explicit head-truncation past
    the ceiling — ops/bpe.py) and broadcast into one Arrow encode pass.
    Output fingerprints each doc's piece stream (sha256) so the
    tokenization itself is regression-hashable without array columns.

    Rows-only by necessity at BOTH halves: merge learning is an
    inherently sequential greedy loop, and even APPLYING a pinned
    merge table is per-word iterative pair rewriting — neither is
    expressible in non-recursive SQL, so no pinned-artifact twin can
    exist either (unlike m4/m5/m6, whose scoring is linear algebra).
    pytest pins the learned merges and the encoded pieces exactly."""
    from ..ops import bpe

    (docs,) = tables(spark, sf_dir, "documents")
    merges = memo(
        spark, ("bpe_merges", sf_dir), tier(sf_dir),
        lambda: bpe.train_bpe(bpe.word_freq(docs), n_merges=40))
    return (bpe.encode_frame(docs.select("doc_id", "text"), merges)
            .orderBy("doc_id"))


_FH_DIM = 64    # feature-hashing buckets (HashingTF-style)


def _md5_bucket(term_col) -> Column:
    """md5(term) → bucket in [0, _FH_DIM): THE featurizer expression —
    shared by l4_feature_hashing, l6b_quality_score_pinned AND the
    pinned-weights trainer (tools/make_pinned_models.py imports it), so
    the weights can never silently drift onto different buckets than
    they were trained on (r12 review #3; the hash gate would not catch
    that — the oracle mirrors the query, not the trainer)."""
    return (F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10)
            .cast("bigint") % _FH_DIM)


def _l6b_oracle() -> str:
    """Pinned quality-classifier SCORING in SQL (r11 verdict #1, the
    l6 half): the md5-bucket featurization is the hash-green
    l4_feature_hashing arithmetic, the decision weights/bias/threshold
    are the frozen ml/pinned.py artifact, and the per-doc score is one
    SUM(tf*w) + bias rounded to 6 dp (SQL SUM order is unspecified —
    the order-dependent-accumulation rule)."""
    from ..ml import pinned

    w_rows = ", ".join(f"({b}, {float(w)!r})"
                       for b, w in enumerate(pinned.QC_WEIGHTS))
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                  t -> t != '')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
                   % {_FH_DIM} AS bucket,
               COUNT(*) AS tf
        FROM toks GROUP BY 1, 2
    ),
    w AS (SELECT * FROM (VALUES {w_rows}) t(bucket, w)),
    sc AS (
        SELECT d.doc_id, d.n_chars,
               ROUND(COALESCE(SUM(tf.tf * w.w), 0.0)
                     + {float(pinned.QC_BIAS)!r}, 6) AS quality_score
        FROM documents d
        LEFT JOIN tf ON tf.doc_id = d.doc_id
        LEFT JOIN w ON w.bucket = tf.bucket
        GROUP BY 1, 2
    )
    SELECT doc_id,
           CASE WHEN n_chars >= {float(pinned.QC_THRESHOLD)!r}
                THEN 1 ELSE 0 END AS true_label,
           CASE WHEN quality_score > 0 THEN 1 ELSE 0 END AS pred_label,
           quality_score
    FROM sc ORDER BY doc_id
    """


@declared(
    "l6b_quality_score_pinned",
    oracle=_l6b_oracle(),
    survey_ids=("L4", "M4", "F1"),
)
def l6b_quality_score_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier SCORING with the frozen deployed artifact
    (ml/pinned.py: 64 md5-bucket weights + bias + the pinned length
    threshold that defines the label's operating point) — the
    hash-checkable twin of the rows-only l6_quality_classifier. That
    query trains per corpus on an xxhash64 featurization with no SQL
    equivalent; this twin swaps in the engine-shared md5 bucketing
    (the hash-green l4_feature_hashing arithmetic) so BOTH the
    featurization and the linear scoring are exact cross-engine
    arithmetic. Plan: explode → one (doc, bucket) aggregate with
    map-side combine; the weight lookup is element_at on a 64-literal
    array (JVM row expression, no join); one per-doc sum finishes, and
    a doc_id-keyed left join attaches the scores back to documents so
    token-less docs still emit (score = bias) — featurize-and-score at
    100 TB is two map-side-combined aggregates plus that one
    co-partitionable id join."""
    from ..ml import pinned

    (docs,) = tables(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
    warr = F.array(*[F.lit(float(w)) for w in pinned.QC_WEIGHTS])
    tf = (docs.select("doc_id", F.explode(toks).alias("term"))
          .select("doc_id", _md5_bucket(F.col("term")).alias("bucket"))
          .groupBy("doc_id", "bucket").agg(F.count("*").alias("tf")))
    scores = (tf.withColumn(
                  "__c", F.col("tf") * F.element_at(warr,
                                                    F.col("bucket")
                                                    .cast("int") + 1))
              .groupBy("doc_id").agg(F.sum("__c").alias("__s")))
    score = F.round(F.coalesce(F.col("__s"), F.lit(0.0))
                    + F.lit(float(pinned.QC_BIAS)), 6)
    return (docs.select("doc_id", "n_chars")
            .join(scores, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("n_chars")
                       >= F.lit(float(pinned.QC_THRESHOLD)), 1)
                 .otherwise(0).alias("true_label"),
                F.when(score > 0, 1).otherwise(0).alias("pred_label"),
                score.alias("quality_score"))
            .orderBy("doc_id"))


def _m10_oracle() -> str:
    """Calibration report over the pinned classifier's scores: the l6b
    oracle as a CTE, bucketed into 10 fixed-width score bins. The bin
    key derives from the 6-dp-ROUNDED score (already cross-engine
    identical), and pos_rate is a single exact-int division (never
    rounded — the CLAUDE.md pure-ratio rule)."""
    return f"""
    WITH base AS ({_l6b_oracle()})
    SELECT CAST(least(9, greatest(0, floor(quality_score / 50.0) + 5))
                AS INTEGER) AS bin,
           COUNT(*) AS n,
           CAST(SUM(true_label) AS BIGINT) AS n_pos,
           CAST(SUM(true_label) AS DOUBLE) / COUNT(*) AS pos_rate
    FROM base
    GROUP BY 1 ORDER BY bin
    """


@declared(
    "m10_calibration_bins",
    oracle=_m10_oracle(),
    survey_ids=("M3", "A1"),
)
def m10_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-validation calibration report for the DEPLOYED (pinned)
    quality classifier — the reliability table a registry promotion
    gate reads next to accuracy (m3) and the confusion matrix (m8):
    scores bucketed into 10 fixed-width bins (width 50, clamped), each
    bin's count, positive count and exact positive rate. A calibrated
    classifier's pos_rate should rise monotonically with the score bin;
    the report is fully declarative on top of l6b's scored frame, so
    one more map-side-combined aggregate is the whole plan."""
    base = l6b_quality_score_pinned(spark, sf_dir)
    bin_col = (F.least(F.lit(9), F.greatest(
        F.lit(0), F.floor(F.col("quality_score") / 50.0) + 5))
        .cast("int"))
    return (base.groupBy(bin_col.alias("bin"))
            .agg(F.count("*").alias("n"),
                 F.sum("true_label").alias("n_pos"),
                 (F.sum("true_label").cast("double") / F.count("*"))
                 .alias("pos_rate"))
            .orderBy("bin"))


@declared(
    "l4_feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                  t -> t != '')) AS term
        FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
               % {_FH_DIM} AS bucket,
           COUNT(*) AS tf
    FROM toks
    GROUP BY 1, 2
    ORDER BY doc_id, bucket
    """,
    survey_ids=("L4", "A1", "F1"),
)
def l4_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (HashingTF, Weinberger 2009): every
    token maps to ``md5(term) mod dim`` and the document becomes the
    sparse (doc_id, bucket, tf) triple stream — the text → vector step
    a training pipeline runs before any linear model or similarity
    index, emitted in coordinate form (no array columns) so the exact
    bucketed counts are hash-checked against SQL. The hash is the
    engine-shared md5 (first 8 hex digits), so the oracle reproduces
    the EXACT bucketing — this is the declared hash-exact twin of the
    Arrow ``ops/text.hashed_bow_features`` path that the rows-only
    quality classifier trains on. Plan: explode → one (doc, bucket)
    aggregate with map-side combine; no join, no window; collision
    behavior (buckets summing distinct terms) is inherent to the
    method and identical on both engines."""
    (docs,) = tables(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
    return (docs.select("doc_id", F.explode(toks).alias("term"))
            .select("doc_id", _md5_bucket(F.col("term")).alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("tf"))
            .orderBy("doc_id", "bucket"))


# BM25 search constants (Robertson/Lucene form); terms chosen from the
# synthetic vocabulary at mixed document frequencies.
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("hash", "merge", "vector")
_BM25_TOP = 20


@declared(
    "l4_bm25_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                  t -> t != '')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ('hash', 'merge', 'vector') GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT t.doc_id, t.term,
               ln((s.n_docs - d.df + CAST(0.5 AS DOUBLE))
                  / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
               * ((t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                  / (t.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl)))) AS c
        FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
        CROSS JOIN stats s
    ),
    pivoted AS (
        SELECT doc_id,
               COALESCE(MAX(CASE WHEN term = 'hash'   THEN c END),
                        CAST(0 AS DOUBLE)) AS c1,
               COALESCE(MAX(CASE WHEN term = 'merge'  THEN c END),
                        CAST(0 AS DOUBLE)) AS c2,
               COALESCE(MAX(CASE WHEN term = 'vector' THEN c END),
                        CAST(0 AS DOUBLE)) AS c3
        FROM contrib GROUP BY 1
    )
    SELECT doc_id, score, rank FROM (
        SELECT doc_id, c1 + c2 + c3 AS score,
               ROW_NUMBER() OVER (ORDER BY c1 + c2 + c3 DESC, doc_id)
                   AS rank
        FROM pivoted
    ) WHERE rank <= {_BM25_TOP}
    ORDER BY rank
    """,
    survey_ids=("L4", "A1", "O2"),
)
def l4_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Robertson; the Lucene +1 idf form) for a
    fixed 3-term query — the lexical-search counterpart of the l3
    vector queries, and the retrieval primitive a decontamination /
    curation pipeline runs against its corpus. Cross-engine float
    determinism by construction: per-(doc, term) contributions are an
    identical expression tree on both engines (ln matches bit-exact —
    the l4_tfidf precedent), the per-document sum is NOT a float SUM()
    (whose accumulation order Spark does not guarantee) but a
    conditional-MAX pivot to one column per query term added in fixed
    written order — so scores are bit-identical and need no rounding.
    Plan (r15, guide §2.4 — the m7 row-local-counts trick): dl and the
    three per-term tfs are sizes of row-local token filters, so the
    token stream is never exploded or shuffled at all — the old shape
    paid a corpus-wide (doc_id, term) explode into TWO shuffle
    aggregates plus a dl⋈tf join. n_docs/avgdl/df now come from ONE
    single-row aggregate (broadcast), contributions are computed in-row
    on the docs that contain a query term, the top-20 is
    TakeOrderedAndProject (distributed heap top-k, no global sort) and
    the rank window runs on the 20 surviving rows only. Counts are the
    same integers, the ln/quotient expression tree is unchanged, so
    scores stay bit-identical."""
    (docs,) = tables(spark, sf_dir, "documents")
    # coalesce(text, ''): a NULL text would make size(NULL toks) read -1
    # in the non-ANSI engine session (legacy sizeOfNull) but NULL under
    # the ANSI VANILLA session, silently skewing sum(dl)/avgdl in one
    # session only (r15 advice — latent; current data has no NULL text,
    # and an empty string tokenizes to dl = 0 in BOTH sessions)
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda t: t != "")

    def tf_expr(term: str):
        # single-arg lambda, bound via closure: a two-arg lambda (or a
        # default-arg bind) would make F.filter pass (element, INDEX)
        # — the CLAUDE.md HOF-arity trap
        return F.size(F.filter("__toks", lambda x: x == F.lit(term)))

    base = (docs.select("doc_id", toks.alias("__toks"))
            .select("doc_id", F.size("__toks").alias("dl"),
                    *[tf_expr(t).alias(f"tf{i}")
                      for i, t in enumerate(_BM25_TERMS, start=1)]))
    stats = base.agg(
        F.count(F.when(F.col("dl") > 0, True)).alias("n_docs"),
        (F.sum("dl").cast("double")
         / F.count(F.when(F.col("dl") > 0, True))).alias("avgdl"),
        *[F.count(F.when(F.col(f"tf{i}") > 0, True)).alias(f"df{i}")
          for i in range(1, len(_BM25_TERMS) + 1)])
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)

    def contrib(i: int):
        tf = F.col(f"tf{i}")
        idf = F.log((F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
                    / (F.col(f"df{i}") + F.lit(0.5)) + F.lit(1.0))
        return F.when(tf > 0,
                      idf * ((tf * (k1 + F.lit(1.0)))
                             / (tf + k1
                                * (F.lit(1.0) - b
                                   + b * (F.col("dl") / F.col("avgdl"))))))\
                .otherwise(F.lit(0.0))

    hit = (base.filter(" or ".join(
               f"tf{i} > 0" for i in range(1, len(_BM25_TERMS) + 1)))
           .crossJoin(F.broadcast(stats)))
    top = (hit.select("doc_id", *[contrib(i).alias(f"c{i}")
                                  for i in range(1, len(_BM25_TERMS) + 1)])
           .withColumn("score",
                       F.col("c1") + F.col("c2") + F.col("c3"))
           .orderBy(F.col("score").desc(), F.col("doc_id"))
           .limit(_BM25_TOP))
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("doc_id", "score", "rank"))
