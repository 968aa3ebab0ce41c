"""Deduplication operators (SURVEY.md L1, L2) — exact, MinHash+LSH,
SimHash, n-gram Jaccard. All deterministic (fixed hash seeds), all
expressed as DataFrame plans (no driver-side loops), all designed so the
quadratic step only ever runs on LSH-bucketed candidates, never on the
full corpus — the property that keeps them viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, Window, functions as F

from ..engine.memo import input_files, memo
from .partitioning import spread, spread_coalesced

# Mersenne prime 2^31-1: universal-hash modulus. The base hash and the
# coefficients are all reduced below 2^31 so a*h+b < 2^62 — no signed-64
# overflow even under ANSI mode (the driver may run these queries in a
# session we don't configure).
_P = (1 << 31) - 1
# Deterministic per-permutation coefficients (fixed seed — SURVEY.md §7
# risk register demands reproducible MinHash).
_A = [(1234567891 + 2 * i * 1000000007) % _P or 1 for i in range(256)]
_B = [(987654321 + i * 777767777) % _P for i in range(256)]



def _prefix_len(t: float, n) -> "Column":
    """Float-safe lossless prefix length ``n − ceil(t·n) + 1``.

    The naive ``floor((1−t)·n)+1`` form is silently LOSSY at some
    thresholds: it under-floors when ``1−t`` rounds down (t=0.9, n=30:
    1−t = 0.09999…8 → k=3 where the lemma needs 4). The ``ceil(t·n)``
    form here is safe as written for exact-decimal thresholds (0.9·30 is
    exactly 27.0 in IEEE doubles, and nearest rounding cannot land
    strictly past a representable integer), but the 1e-9 downward nudge
    is kept as defense-in-depth for arbitrary float thresholds: any
    representation error lands on the SAFE side — k can only come out
    one larger than exact (a few extra candidates), never smaller (a
    dropped true pair). r9 code review finding #1; rationale corrected
    per r9 advice #1."""
    return (n - F.ceil(t * n - 1e-9) + 1).cast("int")


def exact_dedup(df: DataFrame, on: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup (L1): hash-groupBy on the content column keeping the
    smallest id. groupBy(sha2) shuffles 32-byte digests, not documents."""
    return (df.groupBy(F.sha2(F.col(on), 256).alias("content_hash"))
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count("*").alias("n_copies")))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a text column, JVM-side.

    Indexed ``transform`` + ``get`` (O(1), null-safe out of bounds even
    under ANSI mode) instead of a per-gram ``slice`` — each gram is k
    element lookups, not an array copy.

    The token array is *let-bound* through a single-element
    ``transform(array(words), ws -> ...)`` so the regex split runs ONCE
    per row: naively referencing the split expression inside the per-gram
    lambda re-inlines (and re-evaluates) it for every element — O(n²)
    regex work per document.

    Given a column NAME (every in-repo caller), the tree is built as
    ONE ``F.expr`` round trip — the Column-DSL assembly cost ~30 ms of
    py4j latency per call (r14, bench plan-build); a Column argument
    keeps the DSL path for computed inputs. The name is backtick-quoted
    (escaped) into the SQL so non-identifier names — spaces, dashes,
    keywords — parse the same as they did under the DSL path."""
    if isinstance(text, str):
        col = "`" + text.replace("`", "``") + "`"
        parts = ", ".join(["w"] + [f"get(ws, i + {j})"
                                   for j in range(1, k)])
        return F.expr(f"""
            get(transform(array(split(trim({col}), '\\\\s+')), ws ->
                  array_distinct(
                    if(size(ws) >= {k},
                       slice(transform(ws, (w, i) -> concat_ws(' ', {parts})),
                             1, greatest(size(ws) - {k - 1}, 1)),
                       array(concat_ws(' ', ws))))),
                0)""")
    words = F.split(F.trim(text), r"\s+")

    def gen(ws: Column) -> Column:
        n = F.size(ws)
        grams = F.transform(
            ws,
            lambda w, i: F.concat_ws(
                " ", *([w] + [F.get(ws, i + j) for j in range(1, k)])))
        # positions past n-k produce short grams — cut them before
        # distinct; a doc shorter than k words yields its whole text as
        # one shingle
        return F.array_distinct(
            F.when(n >= k, F.slice(grams, 1, F.greatest(n - (k - 1), F.lit(1))))
            .otherwise(F.array(F.concat_ws(" ", ws))))

    return F.get(F.transform(F.array(words), gen), 0)


def shingle_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) exploded table — substrate for the shingle-join
    (inverted-index) formulations like exact n-gram Jaccard."""
    df = spread(df)
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(word_shingles(text_col, k)).alias("shingle")))


def shingle_arrays(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingles array<string>) — doc-level distinct shingle arrays.

    Keeping shingles as a per-doc array (documents are bounded-size, so the
    array is too) lets signatures and exact-Jaccard verification run as
    narrow JVM expressions with ZERO shuffle — at 100 TB the only shuffles
    left in the near-dup pipeline are the LSH bucket join and the
    candidate→array lookups."""
    return df.select(F.col(id_col).alias("id"),
                     word_shingles(text_col, k).alias("shingles"))


def minhash_sig_expr(num_hashes: int = 64) -> Column:
    """The in-row MinHash signature EXPRESSION over a ``shingles``
    column — factored out (r13) so callers that keep other columns can
    project it instead of joining the ``(id, sig)`` frame back to its
    own lineage (streaming_near_dedup paid a per-batch self-join for
    exactly that).

    Built as ONE ``F.expr`` SQL string (r14): assembling the same tree
    through the Column DSL cost ~300 py4j round trips (each HOF lambda
    is several JVM calls), the bulk of l2_minhash's 0.36 s plan-build
    in BENCH_r13; the SQL parser builds the identical expression nodes
    in a single round trip."""
    a_csv = ",".join(str(a) for a in _A[:num_hashes])
    b_csv = ",".join(str(b) for b in _B[:num_hashes])
    # let-bind the hash array (array(...) + get(..., 0)): referencing it
    # directly inside the per-permutation lambda would re-hash every
    # shingle once per permutation
    return F.expr(f"""
        get(transform(
              array(transform(shingles, s -> pmod(xxhash64(s), {_P}))),
              hs -> transform(
                sequence(0, {num_hashes - 1}),
                i -> array_min(transform(
                  hs, h -> pmod(get(array({a_csv}), i) * h
                                + get(array({b_csv}), i), {_P}))))),
            0)""")


def minhash_signatures_arrow(arrs: DataFrame,
                             num_hashes: int = 64) -> DataFrame:
    """MinHash signatures via ``mapInArrow`` — the throughput path.
    Shingle hashing stays JVM-side (``xxhash64`` per element, identical
    signatures to :func:`minhash_sig_expr`); the 64
    permutation-mins move from an interpreted per-element fold to
    vectorized numpy: per batch, one ``(a·h+b) mod P`` array op per
    permutation over the flattened hash buffer, then a segmented
    ``minimum.reduceat`` per doc. Permutations loop OUTSIDE the
    vectorized axis so peak memory is one flat copy of the batch's
    hashes, not perms × hashes. Measured ~3× over the HOF fold at sf0.1
    (the fold's per-element interpretation was the whole cost)."""
    import numpy as np
    import pyarrow as pa

    a_np = np.asarray(_A[:num_hashes], dtype=np.int64)
    b_np = np.asarray(_B[:num_hashes], dtype=np.int64)

    # ONE selectExpr round trip (r16 plan-build trim): the DSL form of
    # this transform lambda is ~6 py4j calls for identical Catalyst nodes
    hashed = arrs.selectExpr(
        "id", f"transform(shingles, s -> pmod(xxhash64(s), {_P})) AS __h")

    def sign(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            harr = rb.column(1)
            offs = harr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = harr.flatten().to_numpy(zero_copy_only=False)
            starts = offs[:-1] - offs[0]
            lens = offs[1:] - offs[:-1]
            sig = np.empty((n, num_hashes), dtype=np.int64)
            if lens.min() > 0:
                for i in range(num_hashes):
                    perm = (a_np[i] * flat + b_np[i]) % _P
                    sig[:, i] = np.minimum.reduceat(perm, starts)
            else:
                # reduceat misreads empty segments; shingle arrays are
                # never empty by construction, but stay correct anyway
                for i in range(num_hashes):
                    perm = (a_np[i] * flat + b_np[i]) % _P
                    for r in range(n):
                        s, ln = starts[r], lens[r]
                        sig[r, i] = perm[s:s + ln].min() if ln else _P
            yield pa.RecordBatch.from_arrays(
                [ids,
                 pa.ListArray.from_arrays(
                     pa.array(np.arange(n + 1) * num_hashes, type=pa.int32()),
                     pa.array(sig.ravel(), type=pa.int64()))],
                names=["id", "sig"])

    return hashed.mapInArrow(sign, "id long, sig array<long>")


def lsh_candidate_pairs(signatures: DataFrame, num_hashes: int = 64,
                        bands: int = 16) -> DataFrame:
    """Band the ``sig`` array (bands × rows-per-band = num_hashes), bucket
    by the band-slice hash, emit candidate pairs from co-bucketed ids.

    Pair generation is ONE groupBy shuffle of the skinny (id, band,
    band_sig) rows: each bucket collects its ids and expands the i<j
    combinations in-row, so there is no corpus self-join at all (the
    previous sort-merge self-join shuffled the banded table twice and
    paid a join + a full-width distinct; measured −0.5 s at sf0.1).
    Per-bucket cost is C(|bucket|, 2) — identical to what any
    formulation must emit; a pathological bucket (thousands of mutually
    near-identical docs) concentrates its quadratic blowup in one task
    either way, which LSH banding exists to keep rare."""
    return lsh_candidate_pairs_from_bands(
        lsh_band_table(signatures, num_hashes, bands))


def lsh_candidate_pairs_from_bands(banded: DataFrame,
                                   id_col: str = "id") -> DataFrame:
    """The pair-expansion half of :func:`lsh_candidate_pairs` over a
    PRE-BANDED ``(id, band_id, band_sig)`` frame. Callers that need the
    band table anyway band ONCE and feed every consumer from it —
    ``streaming_near_dedup`` used to band each micro-batch three times
    (within-batch self-join, store probe, bands append); per-batch
    fixed cost is the measured small-batch throughput bound (r11
    verdict #3)."""
    buckets = (banded.groupBy("band_id", "band_sig")
               .agg(F.collect_list(id_col).alias("ids")))
    # no size(ids) > 1 pre-filter (r16 plan-build trim): the pair
    # expansion below emits ZERO rows for single-id buckets anyway
    # (slice past the array end is empty), so the filter only added a
    # plan node + a py4j round trip for identical output.
    # let-bind the sorted id array (the repo-wide HOF rule: referencing
    # array_sort(ids) inside the pair lambda would re-sort per element);
    # one F.expr round trip instead of the DSL's dozens, and inline()
    # fuses the explode + struct-field projection into the same op
    # (r14, bench plan-build)
    return (buckets.selectExpr("""
        inline(get(transform(array(array_sort(ids)), xs ->
                 flatten(transform(xs, (a, i) ->
                   transform(slice(xs, i + 2, size(xs)),
                             b -> named_struct('id_a', a, 'id_b', b))))),
               0))""")
            .distinct())


def lsh_band_table(sig: DataFrame, num_hashes: int = 64, bands: int = 16,
                   out_id: str = "id",
                   carry: "tuple[str, ...]" = ()) -> DataFrame:
    """Banded LSH bucket table of a MinHash signature frame —
    ``(out_id, band_id, band_sig)``, one row per (doc, band). Plan
    constants identical to :func:`lsh_candidate_pairs`. ``carry`` names
    extra input columns to keep on each band row (r15: the streaming
    sink carries the shingle-array length so its broadcast guard can
    estimate bytes from the same aggregate it already runs — the plan
    is unchanged when empty).

    This is the WRITE-ONCE corpus artifact of the incremental probe
    path: persist it (parquet, bucketed by ``band_sig`` — the s14
    layout) when the corpus is ingested, and every later crawl batch is
    deduped by banding ONLY the batch and equi-joining the stored
    table (:func:`lsh_probe_banded`) — the corpus documents, shingles
    and signatures are never touched again."""
    rpb = num_hashes // bands
    # ONE selectExpr round trip (r14 made the band tree one F.expr; r16
    # fuses the explode + field projection via inline() too — the two
    # chained selects were ~2× the py4j latency for identical nodes)
    def q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"
    return sig.selectExpr(
        f"id AS {q(out_id)}", *[q(c) for c in carry],
        f"""inline(transform(sequence(0, {bands - 1}), i -> named_struct(
            'band_id', i,
            'band_sig', xxhash64(slice(sig, i * {rpb} + 1, {rpb})))))""")


def lsh_probe_banded(sig_new: DataFrame, corpus_banded: DataFrame,
                     num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """Probe a PRE-BANDED (persisted) corpus bucket table with a fresh
    batch's signatures — the constant-work-per-batch half of the
    incremental dedup split: per batch the only work that scales with
    the corpus is the equi-join probe itself, which at 100 TB is
    co-located by the table's ``band_sig`` bucketing (no corpus-side
    shuffle). ``corpus_banded`` must come from :func:`lsh_band_table`
    with the SAME (num_hashes, bands) constants, carrying columns
    ``(id_corpus, band_id, band_sig)``.

    Output: distinct (id_new, id_corpus) candidate pairs with
    ``id_new != id_corpus`` — equal-id pairs are excluded to match
    :func:`lsh_candidate_pairs`'s self-pair exclusion (``id_a <
    id_b``). This matters when the probe side can overlap the stored
    corpus: a foreachBatch RETRY whose previous attempt already
    appended the batch to the store would otherwise match every doc
    against its own stored copy at Jaccard 1.0 and suppress the whole
    batch — silently dropping it from the retried attempt's downstream
    writes (the same lost-recovery shape as the r8 txn-commit fix)."""
    return lsh_probe_from_bands(
        lsh_band_table(sig_new, num_hashes, bands, out_id="id_new"),
        corpus_banded)


def lsh_probe_from_bands(new_banded: DataFrame,
                         corpus_banded: DataFrame,
                         id_col: str = "id_new",
                         exclude_self: bool = True) -> DataFrame:
    """The probe join of :func:`lsh_probe_banded` over an ALREADY-BANDED
    new side ``(id_col, band_id, band_sig)`` — same single-banding-pass
    rationale as :func:`lsh_candidate_pairs_from_bands`.

    ``exclude_self=False`` KEEPS id_new == id_corpus matches: for a
    non-retry streaming batch a self-match means the same id's content
    is already banded in the store (at-least-once redelivery), and the
    caller wants it surfaced as a duplicate rather than silently
    re-verified against everything else (streaming_near_dedup's
    first-attempt path, r12 review #2). Retries must exclude self —
    their own landed rows would otherwise suppress the whole batch."""
    new_banded = new_banded.withColumnRenamed(id_col, "id_new") \
        if id_col != "id_new" else new_banded
    probed = new_banded.join(corpus_banded, ["band_id", "band_sig"])
    if exclude_self:
        probed = probed.filter(F.col("id_new") != F.col("id_corpus"))
    return probed.select("id_new", "id_corpus").distinct()


def write_keyed_shingle_store(arrs: DataFrame, path: str, *,
                              id_col: str = "id",
                              n_parts: int = 4096) -> None:
    """Persist a shingle table for O(matches)-ish point lookups: rows
    land in ``pmod(xxhash64(id), n_parts)`` DIRECTORY partitions, so a
    later lookup of k candidate ids scans only the partitions those ids
    hash into — expected fraction 1-(1-1/P)^k ≈ k/P of the store
    instead of all of it. This is the "id-bucketed store" the
    incremental-probe verify step was flagged as an upper bound
    WITHOUT (r12 verdict): the probe's LSH candidates touch ~0.76% of
    the corpus per batch (measured at sf10: 3 035 distinct ids of
    400 000), but a flat parquet store makes the verify join scan 100%
    of the shingle column anyway.

    The break-even rule IS the sizing rule: pruning pays only while
    candidate count k ≪ P — at k ≈ P every partition is touched and
    the layout only adds file-listing overhead. Size
    ``n_parts ≈ corpus_docs / target_docs_per_partition`` and expect
    wins when per-batch candidates stay under ~P/10. At 100 TB
    (10⁹ docs, ~10⁵ candidate ids/batch) P = 10⁵ partitions of ~10⁴
    docs reads ~63%·k/P… i.e. ~10% of the store — a 10× I/O cut the
    flat layout structurally cannot give."""
    # repartition ON the partition key first: otherwise every input
    # task opens a writer per directory it touches (up to
    # tasks × n_parts tiny files — measured pathological at 32 × 4096);
    # hash-clustered, each directory gets exactly one file
    (arrs.withColumn("__pb", F.pmod(F.xxhash64(F.col(id_col)),
                                    F.lit(n_parts)))
     .repartition(min(n_parts, 512), "__pb")
     .write.mode("overwrite").partitionBy("__pb").parquet(path))


def keyed_shingle_lookup(spark, store, cand_ids: DataFrame, *,
                         id_col: str = "id", n_parts: int = 4096,
                         max_ids: int = 100_000) -> DataFrame:
    """Fetch the shingle rows of ``cand_ids`` from a
    :func:`write_keyed_shingle_store` layout (same ``n_parts``) with
    static partition pruning: the candidate ids are collected (driver
    guard: ``max_ids``), their partition keys become a LITERAL ``IN``
    on the partition column — pruned to directories at planning time,
    visible as ``partition filters: [__pb IN (…)]`` in the scan node —
    and a broadcast semi-join keeps exactly the candidate ids among
    the survivors (id literals stay OUT of the plan: a 100 k-literal
    ``isin`` costs more Catalyst analysis than it saves). Falls back
    to the full-scan semi-join when the candidate set exceeds the
    guard — at that size most partitions are touched anyway, so the
    scan is near-optimal (the break-even note on
    :func:`write_keyed_shingle_store`).

    ``store``: the path, or — for a reader issuing MANY lookups — the
    ``spark.read.parquet(path)`` DataFrame read ONCE and passed in:
    building the DataFrame performs the O(n_parts) partition DISCOVERY
    (4096 directory listings ≈ seconds on a local filesystem, measured
    to swamp the pruning it enables), while pruning itself runs
    against the relation's cached file index. A table format with
    manifests (Iceberg/Delta) or a metastore entry makes the discovery
    O(1) — that is what this parameter stands in for."""
    store = (spark.read.parquet(store) if isinstance(store, str)
             else store)
    # candidate ids are CAST to the store's id type BEFORE hashing
    # (r13 advice #2): xxhash64 is type-sensitive (IntegerType and
    # LongType hash the same value differently), so computing __pb from
    # a candidate frame whose id dtype differs from the writer's would
    # prune to the WRONG directories and silently return missing rows
    id_type = store.schema[id_col].dataType.simpleString()
    first = cand_ids.columns[0]
    distinct_ids = (cand_ids.select(
        F.col(first).cast(id_type).alias(id_col)).distinct())
    rows = distinct_ids.limit(max_ids + 1).collect()
    if len(rows) > max_ids:
        return (store.join(distinct_ids, id_col, "left_semi")
                .drop("__pb"))
    if not rows:
        return store.filter(F.lit(False)).drop("__pb")
    ids_df = spark.createDataFrame(rows, f"{id_col} {id_type}")
    # partition keys via the SAME jvm expression the writer used (one
    # tiny driver-local job, no store scan)
    pbs = sorted({r[0] for r in ids_df.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts))).collect()})
    return (store.filter(F.col("__pb").isin(pbs))
            .join(F.broadcast(ids_df), id_col, "left_semi")
            .drop("__pb"))


def lsh_candidate_pairs_between(sig_new: DataFrame, sig_corpus: DataFrame,
                                num_hashes: int = 64,
                                bands: int = 16) -> DataFrame:
    """LSH candidates BETWEEN two signature tables — the incremental
    form: a fresh batch probes the existing corpus's buckets instead of
    re-running the corpus×corpus self-join. Both sides band identically
    (same plan constants as :func:`lsh_candidate_pairs`); candidates are
    one equi-join on (band_id, band_sig). At 100 TB the corpus side is
    the persisted :func:`lsh_band_table` artifact probed via
    :func:`lsh_probe_banded`; this convenience form bands the corpus
    in-flight for the case where no stored table exists yet.

    Output: distinct (id_new, id_corpus) candidate pairs."""
    return lsh_probe_banded(
        sig_new, lsh_band_table(sig_corpus, num_hashes, bands,
                                out_id="id_corpus"),
        num_hashes, bands)


def jaccard_prefix_candidates_between(arrs_new: DataFrame,
                                      arrs_corpus: DataFrame, *,
                                      threshold: float) -> DataFrame:
    """Exact (provably lossless) candidate generation BETWEEN a fresh
    batch and the corpus for Jaccard ≥ ``threshold`` — the prefix-filter
    counterpart of :func:`lsh_candidate_pairs_between`. Both sides'
    shingles are ordered by ONE shared global order (document frequency
    over the union, then shingle — prefix filtering only needs the
    order to be consistent across sides); each doc keeps its first
    ``floor((1−t)·n)+1`` shingles, and candidates are the batch-prefix ×
    corpus-prefix equi-join on the shingle. Unlike MinHash banding
    (which misses a true pair at j≈t with small probability), this is
    exact, so a declared query backed by it hash-matches a brute-force
    oracle at every SF. Same scale shape as the self-join variant: one
    df aggregate, one window per doc, one skinny prefix join.

    Input: two (id, shingles) frames. Output: distinct
    (id_new, id_corpus) pairs."""
    tagged = (arrs_new.select(F.lit(1).alias("__new"), "id", "shingles")
              .unionByName(
                  arrs_corpus.select(F.lit(0).alias("__new"),
                                     "id", "shingles")))
    shingled = tagged.select("__new", "id",
                             F.size("shingles").alias("__n"),
                             F.explode("shingles").alias("shingle"))
    dfreq = shingled.groupBy("shingle").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("__new", "id").orderBy("__df", "shingle")
    prefix = (shingled.join(dfreq, "shingle")
              .withColumn("__pos", F.row_number().over(w))
              .filter(F.col("__pos")
                      <= _prefix_len(threshold, F.col("__n")))
              .select("__new", "id", "shingle"))
    return (prefix.filter(F.col("__new") == 1)
            .select(F.col("id").alias("id_new"), "shingle")
            .join(prefix.filter(F.col("__new") == 0)
                  .select(F.col("id").alias("id_corpus"), "shingle"),
                  "shingle")
            .select("id_new", "id_corpus")
            .distinct())


def jaccard_hash_prefix_candidates_between(arrs_new: DataFrame,
                                           arrs_corpus: DataFrame, *,
                                           threshold: float) -> DataFrame:
    """Exact (provably lossless) batch×corpus candidate generation for
    Jaccard ≥ ``threshold`` via IN-ROW hash-ordered prefix filtering —
    the shuffle-minimal sibling of
    :func:`jaccard_prefix_candidates_between`.

    The prefix lemma needs only A consistent total order over the
    shingle universe, not specifically the document-frequency order:
    with ANY global order, if two docs with Jaccard ≥ t shared no
    prefix element, all ≥ ceil(t·n) common shingles would sit in the
    suffixes — impossible by pigeonhole on the suffix sizes. Using
    ``xxhash64(shingle)`` as the order makes each doc's prefix (its
    ``floor((1−t)·n)+1`` smallest shingle hashes) computable ENTIRELY
    in-row — no df aggregate, no join-back, no per-doc window — so the
    whole generator is: one narrow prefix-explode pass, ONE shuffle
    (groupBy prefix hash collecting both sides), in-row pair expansion
    with the PPJoin LENGTH FILTER (j ≥ t forces t·n_a ≤ n_b ≤ n_a/t),
    and a distinct. Hash collisions only ADD candidates (equal shingles
    always collide), so losslessness is preserved; the exact-Jaccard
    verify kills extras.

    Tradeoff vs df-order, measured (r9, 5 k / 50 k docs, 3-gram
    shingles): on Heaps-law-ish corpora (vocab grows with the corpus —
    the testdata_scale construction) this plan is ~1.4× faster at
    sf0.1 steady, ~2× faster cold (6.2 s vs 12 s — half the stages to
    codegen), and 1.4× faster at 10× data (3.7 s vs 5.2 s). Its
    exposure is the ZIPFIAN head: a stopword-gram shared by f docs
    lands in ~(1−t) of their prefixes regardless of f (random order
    can't demote frequent shingles the way df-order does), so its
    bucket collects O(f) ids and expands O(f_new · f_corpus) pairs.
    Corpora with heavy boilerplate heads should keep the df-ordered
    generator — MEASURED on the Zipfian corpus (tools/
    make_zipf_corpus.py, max shingle df ≈ 19 % of docs;
    BENCH_zipf.json): this plan 5.3 s → 108 s for 10× docs (20.4×, the
    hot-bucket quadratic) while df-order runs 1.8 s → 5.2 s (2.9×).
    Dispatch rule: flat shingle df → this generator; Zipfian head (one
    cheap df aggregate tells you) → df-order. (r10 note: "Heaps-law
    vocabulary growth keeps real corpora flat" was measured and
    refuted at 500 k docs — Zipf token concentration keeps common-
    shingle df ∝ n at any vocabulary size; the ladder past the first
    decade is LSH banding, BENCH_zipf huge tiers.)

    Input: two (id, shingles) frames. Output: distinct
    (id_new, id_corpus) pairs."""
    def with_prefix(arrs: DataFrame, tag: int) -> DataFrame:
        # per-shingle xxhash64 inside transform is interpreter-evaluated,
        # but it is ONE cheap hash per shingle (not per-row × per-dim
        # work) — measured faster than any join-based alternative
        hs = F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s)))
        k = _prefix_len(threshold, F.size("shingles"))
        return arrs.select(F.lit(tag).alias("__new"), "id",
                           F.size("shingles").alias("__n"),
                           F.explode(F.slice(hs, 1, k)).alias("h"))

    prefix = (with_prefix(arrs_new, 1)
              .unionByName(with_prefix(arrs_corpus, 0)))
    # ONE traversal of the prefix stream: bucket by hash collecting both
    # sides, expand new×corpus pairs in-row under the length filter.
    # (Splitting prefix into two filtered branches and equi-joining them
    # — the df-order generator's shape — traverses the subtree twice:
    # DataFrame plans have no common-subexpression reuse.)
    buckets = (prefix.groupBy("h")
               .agg(F.collect_list(F.when(F.col("__new") == 1,
                                          F.struct("id", "__n"))).alias("ns"),
                    F.collect_list(F.when(F.col("__new") == 0,
                                          F.struct("id", "__n"))).alias("cs"))
               .filter((F.size("ns") > 0) & (F.size("cs") > 0)))
    t = threshold
    # Hot-bucket degrade guard (r9 advice #3): a misrouted Zipfian head
    # (stale cached df_head_ratio, or a direct caller bypassing the auto
    # dispatcher) lands O(f) ids in one bucket; flattening its
    # f_new·f_corpus pair structs into ONE row would hit executor OOM /
    # the 2 GB single-row limit instead of the documented graceful
    # slowdown. When the in-row pair count exceeds the budget, split the
    # bucket into one row PER NEW-DOC before expansion — each row then
    # carries O(f_corpus) structs, so misrouting degrades to the same
    # O(f_new·f_corpus) work spread across rows. Single conditional
    # chunking pass (no filtered two-branch re-traversal of the
    # aggregate subtree); small buckets wrap in an array-of-one — one
    # extra alloc, no extra rows. Residual: a single corpus-side
    # frequency ≳1e8 still makes a wide row; at that skew the dispatcher
    # routed correctly long before (head ratio signal is O(corpus)).
    # bigint multiply: size() is 32-bit, and the product overflows in
    # exactly the extreme-skew regime the guard protects (65 k × 65 k
    # wraps to 0 non-ANSI / throws under ANSI — r10 review finding)
    pair_count = (F.size("ns").cast("bigint")
                  * F.size("cs").cast("bigint"))
    chunks = (F.when(pair_count > _BUCKET_PAIR_BUDGET,
                     F.transform("ns", lambda a: F.array(a)))
              .otherwise(F.array(F.col("ns"))))
    pairs = F.flatten(F.transform(
        "nsc", lambda a: F.transform(
            F.filter("cs", lambda b: (b["__n"] >= t * a["__n"])
                     & (a["__n"] >= t * b["__n"])),
            lambda b: F.struct(a["id"].alias("id_new"),
                               b["id"].alias("id_corpus")))))
    return (buckets.select(F.explode(chunks).alias("nsc"), "cs")
            .select(F.explode(pairs).alias("p"))
            .select("p.id_new", "p.id_corpus")
            .distinct())


def jaccard_prefix_candidates(arrs: DataFrame, *,
                              threshold: float) -> DataFrame:
    """Exact candidate generation for Jaccard ≥ ``threshold`` via PREFIX
    FILTERING (the PPJoin family): order each doc's shingles by global
    rarity (document frequency asc, shingle asc) and keep only the first
    ``floor((1−t)·n)+1`` as its prefix; two docs with Jaccard ≥ t MUST
    share a prefix shingle (pigeonhole on the ≥ t·|A∪B| overlap), so the
    self-join runs on prefixes only — provably lossless, and the hot
    head shingles (the fan-out bombs of a naive inverted-index join:
    one shared stopword-gram joins every pair of docs containing it)
    fall out of prefixes precisely because they are frequent.

    Input: (id, shingles array). Output: distinct (id_a < id_b) pairs.
    Shuffles: one count agg on shingles, one join back, one window per
    id, the prefix self-join — all on skinny rows."""
    shingled = arrs.select("id", F.explode("shingles").alias("shingle"))
    sizes = arrs.select("id", F.size("shingles").alias("__n"))
    dfreq = shingled.groupBy("shingle").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "shingle")
    prefix = (shingled.join(dfreq, "shingle")
              .join(sizes, "id")
              .withColumn("__pos", F.row_number().over(w))
              .filter(F.col("__pos")
                      <= _prefix_len(threshold, F.col("__n")))
              .select("id", "shingle"))
    return (prefix.alias("a")
            .join(prefix.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())


# In-row pair-expansion budget for the hash-prefix bucket expansion:
# past this many (id_new × id_corpus) structs a bucket's pairs no longer
# flatten into one row (see the degrade guard in
# jaccard_hash_prefix_candidates_between). 1 M structs ≈ 32 MB per row —
# two orders of magnitude under the 2 GB row limit, and far past any
# bucket a correctly-routed flat corpus produces (sf1 measured buckets
# are ~1-2 docs a side).
_BUCKET_PAIR_BUDGET = 1_000_000

# Size-table broadcast budget for the count-pairs family: rows are
# (int64 id, int32 n) ≈ 12 bytes, so 10 M docs ≈ 120 MB — comfortably
# inside executor memory on any sane cluster, far past sf1's 50 k docs.
# Past it the plans degrade to two shuffle joins of 8-byte rows.
_SIZES_BCAST_MAX_ROWS = 10_000_000


def _sizes_fit_broadcast(sizes: DataFrame) -> bool:
    """Broadcast vs shuffle for the post-aggregate size join: counts the
    per-doc size table — a column-pruned doc count, O(corpus rows) but
    no shuffle — and broadcasts only under :data:`_SIZES_BCAST_MAX_ROWS`.
    A forced corpus-sized broadcast at 100 TB OOMs the driver/executors.
    The decision is a corpus property, memoised per plan and input data
    so repeated plan constructions pay the count once."""
    return memo(sizes.sparkSession,
                ("sizes_fit_broadcast", sizes.semanticHash()),
                input_files(sizes),
                lambda: sizes.count() <= _SIZES_BCAST_MAX_ROWS)


def _count_index_join(arrs: DataFrame) -> DataFrame:
    """The count-based inverted index shared by the exact pair plans:
    self-join the exploded (id, shingle) table on the shingle into a
    pure 2-key COUNT per (id_a < id_b) — map-side partial aggregation
    collapses the per-shingle fan-out before the shuffle — then join
    the per-doc size table in AFTER the aggregate (broadcast per
    :func:`_sizes_fit_broadcast`). The only wide data that ever moves
    is the skinny (id, shingle) table; no array shuffles.

    The sizes deliberately do NOT ride through the aggregate as
    ``first()`` buffers: measured at sf1 (50 k docs, 11.3 M co-shingle
    pair groups), the fat agg buffers blow the partial hash map out of
    memory and run 3.6× slower (7.2 s vs 2.0 s) than the bare count +
    post-agg size join. Output: (id_b, id_a, __common, __na, __nb)."""
    shingled = arrs.select("id", F.explode("shingles").alias("shingle"))
    sizes = arrs.select("id", F.size("shingles").alias("__n"))
    inter = (shingled.alias("a")
             .join(shingled.alias("b"),
                   (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count("*").alias("__common")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("__n").alias("__nb"))
    if _sizes_fit_broadcast(sizes):
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return inter.join(sa, "id_a").join(sb, "id_b")


def jaccard_count_pairs(arrs: DataFrame, *, threshold: float) -> DataFrame:
    """Exact Jaccard ≥ ``threshold`` pairs via the count-based inverted
    index (:func:`_count_index_join`), filtered on the ratio.
    Input: (id, shingles array). Output: (id_a < id_b, jaccard)."""
    return (_count_index_join(arrs)
            .withColumn("jaccard",
                        F.col("__common")
                        / (F.col("__na") + F.col("__nb") - F.col("__common")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def containment_pairs(arrs: DataFrame, *, threshold: float) -> DataFrame:
    """ASYMMETRIC shingle-set containment pairs — C(a→b) = |A∩B| / |A|.

    Jaccard misses subset duplication (a short doc quoted whole inside a
    long one scores J = |A|/|B| → tiny), which is why production dedup
    pipelines gate on containment as well; this emits every ``id_a <
    id_b`` pair where EITHER direction's containment reaches
    ``threshold``, with both directions' exact values.

    Plan: the count-based inverted index (:func:`_count_index_join`).
    Both containments are single exact-int divisions — bit-identical
    across engines, never rounded.

    Scale honesty (revised r10 with second-decade measurements): the
    co-shingle pair count grows super-linearly whenever shingle df
    grows with the corpus (df ∝ n → pairs ∝ n²; 11.3 M groups at sf1)
    — intrinsic to exact all-pairs containment, not to the plan. The
    r9 hope that Heaps-law vocabulary growth bounds df was MEASURED
    AND REFUTED at 500 k docs (BENCH_zipf huge tiers: 43× per decade
    on the bounded-vocab AND the Heaps-scaled corpus alike — Zipf
    token mass concentrates in the head, so common shingles recur ∝ n
    regardless of vocabulary size). The production ladder on skewed
    corpora is therefore: this plan / the prefix plan per the
    dispatcher at the first decade, then LSH banding past it —
    measured the second-decade survivor at 14-16×/decade vs the exact
    plans' ≥ 2.8-3.3× absolute walls (r11 re-measure: the r10 23-47×
    exponent was partly session memory pressure) for
    every exact plan (:func:`cap_shingle_df` rides along there for
    pair QUALITY; measured wall-neutral). Input: (id, shingles
    array). Output: (id_a < id_b, cont_a_in_b, cont_b_in_a)."""
    return (_count_index_join(arrs)
            .withColumn("cont_a_in_b", F.col("__common") / F.col("__na"))
            .withColumn("cont_b_in_a", F.col("__common") / F.col("__nb"))
            .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
            .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a"))


def containment_prefix_candidates(arrs: DataFrame, *,
                                  threshold: float) -> DataFrame:
    """Lossless candidate generation for ``max-containment ≥ t`` pairs
    via ASYMMETRIC prefix filtering.

    max(C(a→b), C(b→a)) = common/min(na, nb) ≥ t ⟺ common ≥
    ceil(t·n_small). Prefix lemma, applied to the SMALL side only: order
    shingles by global rarity (df asc, shingle asc); if all of doc s's
    common shingles avoided its first ``n_s − ceil(t·n_s) + 1`` (its
    prefix), they would all fit in the remaining ``ceil(t·n_s) − 1 <
    common`` slots — impossible. So every qualifying pair is found by
    joining each doc's PREFIX against the FULL inverted index of docs
    at least as large. Unlike the symmetric count join (which one hot
    shared shingle turns quadratic), the join's left side keeps only
    each doc's RAREST few shingles, so per-entry fan-out is df(rare
    shingle), and the hot head shingles never enter a join key.

    When to use which (measured quiet at sf0.1→sf1): on THIS corpus the
    shingle df distribution is flat (median 9, max 25 — no hot head),
    so :func:`containment_pairs` wins absolutely (1.6→2.2 s vs
    6.6→9.9 s) and scales at 1.37× for 10× docs; on a ZIPFIAN corpus
    (real web text, boilerplate n-grams shared by many docs) the count
    join's co-shingle pair count explodes and THIS path is the one
    that survives — MEASURED r9 (tools/make_zipf_corpus.py, 30 k-word
    Zipf(1.07) vocab + 6 % boilerplate footer, max shingle df ≈ 19 %
    of docs; BENCH_zipf.json): count plan 1.35 s → 84.5 s for 10× docs
    (62.6×, the quadratic), this plan 1.3 s → 4.3 s (3.3×). Both are
    exact; pytest pins their output equality on the full test corpus,
    and bench_zipf asserts it on the skewed one.

    Second-decade honesty (r10, 500 k docs): even this plan goes
    super-linear another 10× out (~43×/decade — rare-shingle df itself
    grows ∝ n under Zipf token draws, on bounded AND Heaps-scaled
    vocabularies alike), so "survives" means "survives the decade the
    dispatcher sees"; past it the measured path is LSH banding
    (16×/decade, BENCH_zipf huge tiers; :func:`cap_shingle_df` for
    pair quality).

    Input: (id, shingles array). Output: distinct (id_a < id_b)."""
    shingled = arrs.select("id", F.size("shingles").alias("__n"),
                           F.explode("shingles").alias("shingle"))
    dfreq = shingled.groupBy("shingle").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "shingle")
    prefix = (shingled.join(dfreq, "shingle")
              .withColumn("__pos", F.row_number().over(w))
              .filter(F.col("__pos")
                      <= _prefix_len(threshold, F.col("__n")))
              .select("id", "__n", "shingle"))
    return (prefix.alias("p")
            .join(shingled.alias("f"),
                  (F.col("p.shingle") == F.col("f.shingle"))
                  & (F.col("p.id") != F.col("f.id"))
                  # prefix side must be the smaller-or-equal doc
                  & (F.col("f.__n") >= F.col("p.__n")))
            .select(F.least("p.id", "f.id").alias("id_a"),
                    F.greatest("p.id", "f.id").alias("id_b"))
            .distinct())


def _containment_verify(cand: DataFrame, arrs: DataFrame,
                        threshold: float) -> DataFrame:
    """Exact in-row containment verify of (id_a, id_b) candidates:
    join both shingle arrays back, ``array_intersect`` inside the row,
    keep pairs where EITHER direction reaches ``threshold``. Shared by
    every containment plan whose candidate generator runs first — the
    verify is what makes a lossy generator's OUTPUT precision exact."""
    sa = arrs.select(F.col("id").alias("id_a"),
                     F.col("shingles").alias("__sa"))
    sb = arrs.select(F.col("id").alias("id_b"),
                     F.col("shingles").alias("__sb"))
    common = F.size(F.array_intersect("__sa", "__sb"))
    # skinny candidate pairs coalesce to ~1 AQE partition by bytes while
    # the per-pair intersect below is the plan's heavy step — re-spread
    # so the verify keeps full parallelism (r15; measured on
    # l2_incremental_dedup, see spread_coalesced's docstring)
    cand = spread_coalesced(cand)
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("cont_a_in_b", common / F.size("__sa"))
            .withColumn("cont_b_in_a", common / F.size("__sb"))
            .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
            .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a"))


def containment_pairs_prefix(arrs: DataFrame, *,
                             threshold: float) -> DataFrame:
    """Exact max-containment ≥ ``threshold`` pairs: prefix-filtered
    candidates (:func:`containment_prefix_candidates`, lossless) +
    in-row ``array_intersect`` verify — same output columns as
    :func:`containment_pairs`, but the only pair-shaped shuffle carries
    the near-linear candidate set instead of every co-shingle pair."""
    cand = containment_prefix_candidates(arrs, threshold=threshold)
    return _containment_verify(cand, arrs, threshold)


def containment_pairs_lsh(arrs: DataFrame, *, threshold: float,
                          num_hashes: int = 64,
                          bands: int = 16) -> DataFrame:
    """Max-containment ≥ ``threshold`` pairs with LSH-BANDED candidate
    generation + exact verify — the corpus-scale rung of the
    containment ladder (BENCH_zipf huge tiers, 500 k Zipf docs: every
    exact candidate generator carries df ∝ n candidate work and costs
    ≥ 2.8-3.3× the LSH wall absolute — r11 re-measure 76.2/72.8 s exact
    vs 22.9 s LSH banding; the escalated rung itself 43.5 s).

    Semantics: PRECISION is exact (the verify recomputes true
    containment in-row and re-applies the threshold), RECALL is the
    LSH candidate step's — and MinHash banding targets JACCARD, so an
    asymmetric pair (short doc swallowed by a long one: max-
    containment high, Jaccard = |A|/|B| low) is under-sampled relative
    to a symmetric near-dup. MEASURED floor (r11, BENCH_zipf.json
    ``containment_lsh_recall``): **0.83 at 500 k Zipf docs / 0.80 at
    50 k** vs the exact plan — materially below the escalated jaccard
    route's 0.99, exactly the structural miss predicted above (the
    lost pairs are the low-Jaccard subset-containment ones). Widening
    bands (r=2) would recover them only by admitting ~8 % of ALL
    near-zero pairs as candidates — quadratic blowup on a 500 k
    corpus. The literature fix is size-partitioned containment LSH
    (LSH Ensemble, Zhu et al., VLDB 2016): partition the corpus by
    set size and tune banding per partition against the containment-
    to-jaccard bound |A|·t / (|A| + |B| − |A|·t); that is the honest
    upgrade path for this rung, documented rather than half-shipped.
    The auto dispatcher routes here only above
    :data:`_SCALE_DISPATCH_DOCS` on a Zipf-headed corpus, with a
    :class:`ScaleDispatchWarning` naming the trade; call an exact plan
    (:func:`containment_pairs_prefix`) directly to keep recall lossless,
    or this op directly to accept the trade without the warning."""
    sig = minhash_signatures_arrow(arrs, num_hashes)
    cand = lsh_candidate_pairs(sig, num_hashes, bands)
    return _containment_verify(cand, arrs, threshold)


def shingle_df_head_ratio(arrs: DataFrame, *,
                          sample_fraction: float = None) -> float:
    """The Zipfian-head DISPATCH SIGNAL of the dedup plan family:
    ``max(document frequency) / n_docs`` over the shingle vocabulary.

    BENCH_zipf.json is the measurement behind it: on a flat corpus
    (head ratio ≈ 0.005 at sf1) the count-index containment plan and
    the in-row hash-prefix jaccard generator win every comparison; on
    a Zipfian corpus (head ratio ≈ 0.19) both go quadratic (62.6× /
    20.4× at 10× docs) and the df-ordered prefix plans take over at
    3.3× / 2.9×. The signal is ONE map-side-combined aggregate over
    the exploded shingles — O(corpus) but no pair work; at 100 TB
    compute it once per corpus ingest (it is a property of the data,
    not the query) and cache it next to the table statistics. A
    ``sample_fraction`` makes it an estimate from a doc sample (df of
    a hot shingle scales with the sample; fine for dispatch, which
    only needs one order of magnitude). Memoised per corpus plan and
    input data: every plan construction through the auto dispatchers
    would otherwise re-pay the aggregate."""
    def measure() -> float:
        sample = arrs if sample_fraction is None \
            else arrs.sample(fraction=sample_fraction, seed=7)
        shingled = sample.select(F.explode("shingles").alias("shingle"))
        row = (shingled.groupBy("shingle").agg(F.count("*").alias("df"))
               .agg(F.max("df").alias("max_df"))
               .crossJoin(F.broadcast(sample.agg(F.count("*").alias("n"))))
               .first())
        # max_df is NULL when the corpus has docs but zero shingles (every
        # doc shorter than the shingle size): no head → 0.0, not a TypeError
        return 0.0 if (not row.n or row.max_df is None) \
            else row.max_df / row.n
    return memo(arrs.sparkSession,
                ("df_head_ratio", arrs.semanticHash(), sample_fraction),
                input_files(arrs), measure)


# past this df-head ratio the count-index / hash-prefix plans'
# hot-bucket pair work dominates (BENCH_zipf: flat ≈ 0.005 → they win;
# zipf head 0.19 → 62.6×/20.4× blow-ups); the exact crossover sits
# well below 0.19, and 0.05 keeps both measured corpora on their
# measured-best plan with margin
_DF_HEAD_DISPATCH = 0.05

# The CORPUS-SCALE tier of the dispatch (r10 verdict #1): the df-head
# signal alone is scale-blind — it measures ~0.19 at 50 k AND 500 k
# Zipf docs while the exact plans go from winning (prefix 3.8 s at
# 50 k) to intrinsically quadratic (62-77 s at 500 k on the r11 24 g
# re-measure — 161-177 s in r10's tighter-memory session — ≥ 2.8× per
# decade under bounded AND Heaps vocabularies — df ∝ n for every
# shingle) and LSH banding becomes the only survivor (23.7 s,
# 16×/decade; BENCH_zipf huge tiers). Above this doc count on a
# Zipf-headed corpus the auto dispatchers escalate to the banded-LSH +
# exact-verify ladder and warn, because LSH changes RECALL semantics
# (precision stays exact — the verify step recomputes the true
# measure). 200 k splits the measured decade: at 50 k exact is cheap
# enough that its recall guarantee is worth the 2.6× wall vs LSH; by
# 500 k it is 7× the LSH wall and climbing quadratically. Deliberately
# late — the answer-changing route needs exact to be clearly
# pathological, not merely slower. Flat corpora (df head below the
# dispatch) never escalate: their exact plans are measured sub-linear
# through sf10.
_SCALE_DISPATCH_DOCS = 200_000


class ScaleDispatchWarning(UserWarning):
    """Emitted when an auto dispatcher leaves the exact-plan family:
    the routed plan keeps exact PRECISION (verify step) but inherits
    LSH candidate RECALL. To choose a plan without the warning, call
    the op you want directly (an exact plan such as
    :func:`containment_pairs_prefix`, or the LSH op)."""


def corpus_doc_count(arrs: DataFrame) -> int:
    """Memoised row count of a corpus frame — the n_docs half of the
    scale-dispatch signal and the N of the IVF √N rule. One count per
    corpus plan and input data; at 100 TB this is a table statistic
    computed at ingest, like :func:`shingle_df_head_ratio`."""
    return memo(arrs.sparkSession, ("doc_count", arrs.semanticHash()),
                input_files(arrs), arrs.count)


def auto_route(df_head_ratio: float, n_docs: int) -> str:
    """The PURE decision table of the dedup auto dispatchers —
    ``'flat'`` (count-index / hash-prefix exact plans), ``'zipf_exact'``
    (df-ordered prefix exact plans), or ``'lsh'`` (banded-LSH
    candidates + exact verify). Exported so tools and tests can pin
    routing against corpus statistics without building plans; the
    dispatchers below apply this table and nothing else."""
    if df_head_ratio <= _DF_HEAD_DISPATCH:
        return "flat"
    if n_docs >= _SCALE_DISPATCH_DOCS:
        return "lsh"
    return "zipf_exact"


def _route(op: str, arrs: DataFrame, df_head_ratio: float | None,
           n_docs: int | None) -> str:
    """The :func:`auto_route` of corpus ``arrs`` for dispatcher ``op``.
    Missing signals are computed; the doc count only past the df-head
    gate, where the table reads it. The ``'lsh'`` route warns."""
    import warnings

    if df_head_ratio is None:
        df_head_ratio = shingle_df_head_ratio(arrs)
    if n_docs is None and df_head_ratio > _DF_HEAD_DISPATCH:
        n_docs = corpus_doc_count(arrs)
    route = auto_route(df_head_ratio, n_docs)
    if route == "lsh":
        warnings.warn(
            f"{op}: corpus-scale escalation to banded-LSH + exact-verify "
            f"at {n_docs:,} Zipf-headed docs (>= {_SCALE_DISPATCH_DOCS:,}):"
            f" at the measured 500k tier every exact candidate plan costs "
            f">= 2.8-3.3x the LSH wall and its df ~ n candidate work keeps "
            f"growing super-linearly (BENCH_zipf huge tiers). Precision "
            f"stays exact (verify step); candidate RECALL becomes LSH's — "
            f"floors measured in BENCH_zipf.json (jaccard 0.99; "
            f"containment 0.80-0.83, see containment_pairs_lsh's "
            f"docstring). Call an exact plan directly for lossless "
            f"recall.",
            ScaleDispatchWarning, stacklevel=3)
    return route


def containment_pairs_auto(arrs: DataFrame, *, threshold: float,
                           df_head_ratio: float = None,
                           n_docs: int = None) -> DataFrame:
    """Max-containment ≥ ``threshold`` pairs with MEASURED plan
    dispatch (:func:`auto_route`): below :data:`_DF_HEAD_DISPATCH`
    df-head the count-based inverted index (:func:`containment_pairs` —
    wins every flat-corpus comparison, BENCH_sf1), above it the
    small-side prefix plan (:func:`containment_pairs_prefix` — 3.3× vs
    the count plan's 62.6× at 10× Zipfian docs, BENCH_zipf) — and past
    :data:`_SCALE_DISPATCH_DOCS` docs on such a Zipf-headed corpus,
    the banded-LSH + exact-verify ladder
    (:func:`containment_pairs_lsh`), with a
    :class:`ScaleDispatchWarning`, because there EVERY exact generator
    is measured intrinsically quadratic (df ∝ n for every shingle —
    BENCH_zipf huge tiers). The escalated route keeps exact precision
    but LSH recall.

    Pass cached ``df_head_ratio`` / ``n_docs`` (per-corpus statistics)
    to skip the signal aggregates. Below the scale tier both branches
    are exact, so dispatch can never change the answer, only the
    wall-clock."""
    route = _route("containment_pairs_auto", arrs, df_head_ratio, n_docs)
    if route == "lsh":
        return containment_pairs_lsh(arrs, threshold=threshold)
    if route == "zipf_exact":
        return containment_pairs_prefix(arrs, threshold=threshold)
    return containment_pairs(arrs, threshold=threshold)


def jaccard_candidates_between_auto(arrs_new: DataFrame,
                                    arrs_corpus: DataFrame, *,
                                    threshold: float,
                                    df_head_ratio: float = None,
                                    n_docs: int = None) -> DataFrame:
    """Batch×corpus jaccard candidates with the same measured dispatch
    (:func:`auto_route`): flat df head → the in-row hash-ordered prefix
    generator (:func:`jaccard_hash_prefix_candidates_between`, fastest
    on every flat measurement); Zipfian head → the df-ordered generator
    (:func:`jaccard_prefix_candidates_between`, 2.9× vs 20.4× at 10×
    skewed docs, BENCH_zipf); Zipfian head AND corpus past
    :data:`_SCALE_DISPATCH_DOCS` docs → MinHash LSH banding between
    the two sides (:func:`lsh_candidate_pairs_between` over
    :func:`minhash_signatures_arrow`), with a
    :class:`ScaleDispatchWarning` — the measured 16×/decade survivor
    where every exact generator costs ≥ 2.8-3.3× the LSH wall (BENCH_zipf huge
    tiers). The escalated candidates are NOT lossless (callers verify
    for precision; recall floor in BENCH_zipf.json).

    The signal runs over the corpus side (the big one — the batch
    inherits its distribution at 100 TB); pass the cached per-corpus
    statistics to skip it."""
    route = _route("jaccard_candidates_between_auto", arrs_corpus,
                   df_head_ratio, n_docs)
    if route == "lsh":
        return lsh_candidate_pairs_between(
            minhash_signatures_arrow(arrs_new, 64),
            minhash_signatures_arrow(arrs_corpus, 64), 64, 16)
    if route == "zipf_exact":
        return jaccard_prefix_candidates_between(
            arrs_new, arrs_corpus, threshold=threshold)
    return jaccard_hash_prefix_candidates_between(
        arrs_new, arrs_corpus, threshold=threshold)


def cap_shingle_df(arrs: DataFrame, *, max_df_frac: float = 0.05,
                   max_literal: int = 1024) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df_frac``
    of the corpus BEFORE near-dup signatures/joins — the industrial
    MinHash hygiene step for skewed corpora.

    Why it exists: boilerplate and stopword n-grams carry no DEDUP
    SIGNAL — similarity that rides on them (the shared footer, the
    navigation chrome) is exactly the similarity production pipelines
    do NOT want to act on — so capping df removes a biased sliver of
    unwanted recall while leaving every pair whose similarity survives
    on sub-cap shingles untouched (the flat driver corpus caps
    nothing; pytest pins that). Its role is PAIR QUALITY, not speed:
    the r10 hot-band hypothesis ("a permutation's global-min shingle
    is usually common, so the cap should fix LSH's 16×/decade") was
    measured and came back NEUTRAL (BENCH_zipf huge_bounded: capped
    23.53 s vs uncapped 23.72 s at 500 k docs — with 64 permutations
    over ~130-shingle docs a common shingle rarely owns the min, so
    hot bands were never the driver). Kept with this honest note
    because the quality rationale stands on its own and the repo rule
    is to record the measurement either way.

    Plan: one map-side-combined df aggregate; when the hot set is
    small (mass conservation bounds it at avg_shingles_per_doc /
    max_df_frac, and Zipf concentration keeps the real count far
    below — tens on the measured corpora) it becomes an in-row
    ``array_except`` against a literal array — no shuffle of the
    corpus; a hot set past ``max_literal`` falls back to a broadcast
    anti-join + per-doc rebuild (one groupBy shuffle of the exploded
    shingles).

    Input/output: (id, shingles array) — docs whose shingles are all
    hot come back with an empty array (they cannot near-dup on
    content). The corpus count and the hot-set collect run at plan
    CONSTRUCTION, memoised per corpus plan, input data and cap."""
    ex = arrs.select("id", F.explode("shingles").alias("shingle"))

    def hot_frame() -> DataFrame:
        return (ex.groupBy("shingle").agg(F.count("*").alias("__df"))
                .filter(F.col("__df") > max_df_frac * corpus_doc_count(arrs))
                .select("shingle"))
    hot = memo(arrs.sparkSession,
               ("hot_shingles", arrs.semanticHash(), max_df_frac, max_literal),
               input_files(arrs),
               lambda: [r.shingle for r in
                        hot_frame().limit(max_literal + 1).collect()])
    if len(hot) <= max_literal:
        if not hot:
            return arrs
        return arrs.withColumn(
            "shingles",
            F.array_except("shingles",
                           F.array(*[F.lit(s) for s in hot])))
    kept = ex.join(F.broadcast(hot_frame()), "shingle", "left_anti")
    rebuilt = (kept.groupBy("id")
               .agg(F.collect_list("shingle").alias("__kept")))
    return (arrs.drop("shingles")
            .join(rebuilt, "id", "left")
            .withColumn("shingles",
                        F.coalesce(F.col("__kept"),
                                   F.array().cast("array<string>")))
            .drop("__kept"))


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", *, k: int = 3,
                        num_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.7) -> DataFrame:
    """Full near-dup pipeline (L2): shingle → MinHash → LSH buckets →
    exact-Jaccard verify ≥ threshold. The verify step makes the output
    exact (hash-checkable) while LSH keeps the candidate set ≈linear.

    Plan shape (the 100 TB story): signatures are per-row array
    expressions (zero shuffle); the only shuffles are the LSH band
    self-join and the two candidate→shingle-array lookups; the verify is
    ``array_intersect`` inside the row. The shingle arrays are persisted
    so tokenization runs once for the signature and verify passes; the
    signature table (64 longs/doc — far smaller than the shingles) is
    persisted too, so a long-lived session re-running the pipeline skips
    re-hashing — at cluster scale both persists spill per executor and
    amortize exactly like any incremental materialization.

    Plan-build note (r16): the change-20/one_sql treatment — shipping
    everything downstream of the two persists as ONE ``spark.sql`` over
    temp views — was implemented and REJECTED on measurement: the
    single ``sql()`` call costs ~0.2 s/build in the JVM (parse + one
    monolithic analyzer pass over the view-resolved tree), 4-5× the
    ~130 cheap incremental Dataset-op round trips it replaces (bench
    session builds measured 0.3 -> 1.3-2.4 s). The shipped trims keep
    the Dataset form and cut its op count instead (the inline-fused
    band table, the dropped redundant bucket filter, the selectExpr
    signature hash — ~340 -> ~210 py4j calls per build)."""
    arrs = shingle_arrays(spread(df), id_col, text_col, k).persist()
    sigs = minhash_signatures_arrow(arrs, num_hashes).persist()
    # spread the skinny (id_a, id_b) candidates before the verify joins:
    # under AQE their ~MB shuffle coalesces to one partition by bytes and
    # the per-pair array_intersect below runs single-threaded (r15,
    # measured on l2_incremental_dedup: steady 4.1 s -> 1.4 s at sf0.1;
    # no-ops under static-partition sessions like BENCH_CONF)
    cands = spread_coalesced(lsh_candidate_pairs(sigs, num_hashes, bands))
    sa = arrs.selectExpr("id AS id_a", "shingles AS __sa")
    sb = arrs.selectExpr("id AS id_b", "shingles AS __sb")
    # TWO broadcast probes of the persisted frame, kept deliberately
    # (r16): the struct-packed single-join alternative (melt pairs to
    # (pair, id), one hash join, regroup per pair) was implemented and
    # measured 23% SLOWER at sf0.1 (interleaved medians 0.783 vs
    # 0.966 s) — the pair-regroup shuffles the matched shingle ARRAYS,
    # which costs more than the second probe it removes while the
    # candidate side stays broadcast-small. The trade flips only where
    # a corpus-sized arrs frame must be re-SCANNED per probe AND the
    # duplicate rate is low; revisit there, not here.
    # one fused projection (the duplicated intersect subtree collapses
    # in codegen's subexpression elimination, same as the DSL form did)
    return (cands.join(sa, "id_a").join(sb, "id_b")
            .selectExpr(
                "id_a", "id_b",
                "size(array_intersect(__sa, __sb)) / (size(__sa) "
                "+ size(__sb) - size(array_intersect(__sa, __sb))) "
                "AS jaccard")
            # Column comparison, not f-string SQL: repr() of inf/nan is
            # not valid SQL, and a lit survives any float (r14 advice)
            .filter(F.col("jaccard") >= F.lit(float(threshold))))


def contamination_report(train: DataFrame, bench: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         *, k: int = 5) -> DataFrame:
    """Benchmark decontamination (the step every training-data pipeline
    runs before release): flag training docs sharing any word ``k``-gram
    with a benchmark/eval corpus, with the overlap ratio as evidence.

    Scale shape: the benchmark gram set is distinct-ed and **broadcast**
    — eval suites are small by construction, a few MB of n-grams even
    for large benchmarks — so the 100 TB training side streams through
    a map-side semi-probe and only the per-doc hit counts aggregate.
    The training corpus is never shuffled by gram. (If the benchmark
    side ever outgrew broadcast, the same plan degrades gracefully to a
    shuffled semi-join on the gram key.)

    Output: one row per contaminated training doc —
    (id, n_hit_grams, n_grams, contamination = hits/grams).

    Single-pass shape: a LEFT broadcast join tags every training gram
    with a hit marker, and one aggregate counts both the doc's grams
    and its hits — the training gram table (the expensive explode over
    the full corpus) is scanned once, not once for sizes and again for
    hits, and no second join reunites the two aggregates."""
    tg = shingle_table(train, id_col, text_col, k)
    bg = (shingle_table(bench, id_col, text_col, k)
          .select("shingle").distinct().withColumn("__hit", F.lit(1)))
    return (tg.join(F.broadcast(bg), "shingle", "left")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.count("__hit").alias("n_hit_grams"))
            .filter(F.col("n_hit_grams") > 0)
            .select(F.col("id").alias(id_col), "n_hit_grams", "n_grams",
                    (F.col("n_hit_grams") / F.col("n_grams"))
                    .alias("contamination")))


# Pair-count ceiling for the driver union-find fast path in
# connected_components; above it the iterative distributed propagation
# runs instead. The collected unit is a PySpark Row (a Python object,
# ~100+ bytes), not a packed long — 250k pairs is a few tens of MB of
# driver heap plus a ≤500k-entry parent dict, which is what the guard
# actually admits (r5 advice: the old 1M ceiling's "32 MB of longs"
# arithmetic ignored Row overhead).
_CC_DRIVER_MAX = 250_000


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", *,
                         max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id), with
    cluster_id = the smallest id in the component. The missing last step
    of every dedup pipeline: pairs only say "these two match"; keeping
    one doc per *cluster* needs the transitive closure.

    Iterative min-label propagation as DataFrame ops: each round every
    node takes min(own label, neighbors' labels); converges in
    O(component diameter) rounds (near-dup clusters are shallow).
    Label state is (node, label) — O(V) rows shuffled per round on the
    node key, never edges² — with ``localCheckpoint`` every round to cut
    the iterative lineage. Driver involvement is one convergence counter
    per round, not data.

    Small edge sets (the common case for near-dup pairs after LSH —
    duplicates are rare) take a guarded driver union-find instead: each
    propagation round costs 2-3 Spark jobs of pure scheduling overhead,
    while union-find over a few thousand collected pairs is
    microseconds. The guard keeps the distributed path as the fallback,
    so a pathological corpus (everything near-duplicate) still never
    funnels through the driver."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # ONE execution of the (potentially expensive minhash/band-join)
    # pairs pipeline: collect the capped frame and branch on its length
    # — the old probe ran limit+count first and collect() again,
    # executing everything upstream twice (r5 advice)
    rows = e.limit(_CC_DRIVER_MAX + 1).collect()
    if len(rows) <= _CC_DRIVER_MAX:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = r.src, r.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the representative is the
                # smallest id — identical labels to min propagation
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        out = [(node, find(node)) for node in sorted(parent)]
        return pairs.sparkSession.createDataFrame(
            out, "id long, cluster_id long")
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).persist()
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels, edges.src == labels.node)
                        .groupBy(F.col("dst").alias("node"))
                        .agg(F.min("label").alias("nmin")))
        updated = (labels.join(neighbor_min, "node", "left")
                   .select("node",
                           F.least("label", F.coalesce("nmin", "label"))
                           .alias("new_label"),
                           "label"))
        changed = updated.filter(F.col("new_label") != F.col("label")).count()
        labels = (updated.select("node", F.col("new_label").alias("label"))
                  .localCheckpoint())
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("id"),
                         F.col("label").alias("cluster_id"))


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3) -> DataFrame:
    """64-bit SimHash per doc: per-shingle xxhash64 (JVM — keeps
    signatures identical to the previous all-JVM form), then the 64
    majority votes vectorized in one ``mapInArrow`` pass: unpack the
    batch's flat hash buffer to a bit matrix, segmented-sum per doc,
    majority rule ``2·ones > n``, pack back to int64. The previous
    per-bit ``size(filter(...))`` chain evaluated 64 interpreted passes
    over every row's hash array (3.2 s steady at sf0.1 → ~1 s)."""
    import numpy as np
    import pyarrow as pa

    hashed = spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(word_shingles(text_col, k),
                    lambda s: F.xxhash64(s)).alias("__h"))

    shifts = np.arange(64, dtype=np.uint64)

    def sign(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            harr = rb.column(1)
            offs = harr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = (harr.flatten().to_numpy(zero_copy_only=False)
                    .view(np.uint64))
            starts = offs[:-1] - offs[0]
            lens = (offs[1:] - offs[:-1]).astype(np.int64)
            # loop bit positions OUTSIDE the vectorized axis (the repo's
            # mapInArrow memory rule): a full T×64 int64 bit matrix is
            # 512 B per hash — GBs per task on long docs; per-bit the
            # transient is one int64 copy of the flat buffer
            ones = np.empty((n, 64), dtype=np.int64)
            if lens.min() > 0:
                for i in range(64):
                    ones[:, i] = np.add.reduceat(
                        ((flat >> shifts[i]) & 1).view(np.int64), starts)
            else:  # reduceat misreads empty segments; arrays never are
                for r in range(n):
                    seg = flat[starts[r]:starts[r] + lens[r]]
                    for i in range(64):
                        ones[r, i] = int(((seg >> shifts[i]) & 1).sum()) \
                            if lens[r] else 0
            maj = (2 * ones > lens[:, None]).astype(np.uint64)
            sig = (maj << shifts).sum(axis=1, dtype=np.uint64).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sig, type=pa.int64())],
                names=["id", "simhash"])

    return hashed.mapInArrow(sign, "id long, simhash long")


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", *, k: int = 3,
                       max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius. Blocking: split the
    64-bit signature into (max_hamming+1) chunks — any pair within the
    radius shares at least one exact chunk (pigeonhole), so the join is
    equi on (chunk_id, chunk_value), never all-pairs."""
    sigs = simhash_signatures(df, id_col, text_col, k)
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunks = sigs.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_id"),
                     F.shiftright("simhash", c * width)
                      .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk_val"))
            for c in range(n_chunks)])).alias("ch")) \
        .select("id", "simhash", "ch.chunk_id", "ch.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (a.join(b, (F.col("a.chunk_id") == F.col("b.chunk_id"))
                   & (F.col("a.chunk_val") == F.col("b.chunk_val"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.simhash").alias("sig_a"), F.col("b.simhash").alias("sig_b"))
            .distinct())
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))
