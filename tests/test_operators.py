"""Unit tests for engine operators on tiny literal frames (SURVEY.md §5.1)
— as-of join edge cases, top-k, session gaps, dedup family, similarity,
text features, catalog, multimodal plumbing."""

import datetime as dt
import os

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from pravega_flink_ai_flow_spark.engine.catalog import Catalog
from pravega_flink_ai_flow_spark.ops import (
    dedup, multimodal, relational, similarity, text)
from pravega_flink_ai_flow_spark.ops import text as text_ops


def ts(m):
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)


# -- relational -------------------------------------------------------------

def test_asof_join_backward_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, 10, ts(60)), (2, 10, ts(5)), (3, 99, ts(60))],
        "id long, k long, t timestamp")
    right = spark.createDataFrame(
        [(100, 10, ts(0)), (101, 10, ts(30)), (102, 10, ts(90))],
        "rid long, rk long, rt timestamp")
    out = relational.asof_join(
        left, right, left_on="k", right_on="rk",
        left_time="t", right_time="rt", left_id="id",
        tie_breakers=["rid"]).collect()
    got = {r.id: r.rid for r in out}
    # id=1 at t=60 → latest rt ≤ 60 is 101; id=2 at t=5 → 100;
    # id=3 has no matching key → absent (inner as-of)
    assert got == {1: 101, 2: 100}


def test_asof_join_forward(spark):
    left = spark.createDataFrame([(1, 10, ts(10))], "id long, k long, t timestamp")
    right = spark.createDataFrame(
        [(100, 10, ts(0)), (101, 10, ts(30))], "rid long, rk long, rt timestamp")
    out = relational.asof_join(
        left, right, left_on="k", right_on="rk",
        left_time="t", right_time="rt", left_id="id",
        direction="forward").collect()
    assert out[0].rid == 101   # earliest at-or-after


def test_top_k_per_group_ties_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, 1.0), ("b", 4, 9.0)],
        "g string, id long, v double")
    out = relational.top_k_per_group(
        df, ["g"], [F.col("v").desc(), F.col("id")], k=2).collect()
    got = sorted((r.g, r.id) for r in out)
    assert got == [("a", 1), ("a", 2), ("b", 4)]


def test_session_windows_gap_boundary(spark):
    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(29)), (1, ts(60)), (2, ts(0))],
        "k long, ts timestamp")
    out = relational.session_windows(df, key="k", ts="ts", gap_seconds=1800).collect()
    sessions = {(r.k, r.ts.hour * 60 + r.ts.minute): r.session_id for r in out}
    # 29min gap < 30min keeps one session; 31min gap opens a new one
    assert sessions[(1, 0)] == sessions[(1, 29)] == 1
    assert sessions[(1, 60)] == 2
    assert sessions[(2, 0)] == 1


# -- dedup ------------------------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
    (3, "completely different text with no overlap at all whatsoever here"),
    (4, "the quick brown fox jumps over the lazy dog today"),    # exact dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark)).collect()
    by_keeper = {r.keeper_id: r.n_copies for r in out}
    assert by_keeper == {1: 2, 2: 1, 3: 1}


def test_minhash_lsh_finds_near_dups(spark):
    pairs = dedup.minhash_dedup_pairs(_docs(spark), threshold=0.5).collect()
    got = sorted((r.id_a, r.id_b) for r in pairs)
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert all(3 not in p for p in got)


def test_simhash_agrees_with_jaccard(spark):
    pairs = dedup.simhash_near_pairs(_docs(spark), max_hamming=12).collect()
    got = sorted((r.id_a, r.id_b) for r in pairs)
    assert (1, 4) in got          # identical text → hamming 0
    assert all(3 not in p for p in got)
    exact = {r.id_a for r in pairs if r.hamming == 0}
    assert exact == {1}


def test_shingles_shorter_than_k(spark):
    df = spark.createDataFrame([(1, "two words")], "doc_id long, text string")
    out = dedup.shingle_table(df).collect()
    assert [r.shingle for r in out] == ["two words"]


# -- similarity -------------------------------------------------------------

def test_brute_force_topk_exact(spark):
    q = spark.createDataFrame([(0, [1.0, 0.0])], "q_id long, q_vec array<double>")
    c = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "c_id long, c_vec array<double>")
    out = similarity.brute_force_topk_blocked(q, c, k=2).collect()
    ranked = [(r.rank, r.c_id) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == (1, 1)            # identical direction first
    assert ranked[1][1] == 3              # 45° second


def test_lsh_topk_recall_on_testdata(spark):
    """SURVEY §2.12 tolerance bound: the approximate LSH path must
    recover ≥0.9 of the exact top-k at the declared parameters
    (16 tables × 3 planes, self-matches excluded). Deterministic:
    fixed hyperplanes, fixed data → identical recall every run."""
    from pravega_flink_ai_flow_spark.queries import load_all
    reg = load_all()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        exact = {(r.q_id, r.c_id) for r in reg["l3_brute_force_topk"].fn(spark, sf).collect()}
        approx = {(r.q_id, r.c_id) for r in reg["l3_lsh_topk"].fn(spark, sf).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, (sf, recall)


# -- text -------------------------------------------------------------------

def test_text_profile_features(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog, in a house!")], "doc_id long, text string")
    row = text.profile(df).collect()[0]
    assert row.n_tokens == 8
    assert row.punct_ratio > 0
    assert 0 <= row.quality <= 1
    assert row.lang_guess == "en"
    assert len(row.fingerprint) == 32


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string")
    rows = df.select(text.fingerprint(F.col("text")).alias("fp")).collect()
    assert rows[0].fp == rows[1].fp != rows[2].fp


def test_pii_redaction_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org or 192.168.1.254 now"),
         (2, "no pii here, just 3.14 and v1.2.3.4.5"),
         (3, "")],
        "doc_id long, text string")
    t = F.col("text")
    ne, ni = text.pii_counts(t)
    rows = {r.doc_id: r for r in df.select(
        "doc_id", ne.alias("ne"), ni.alias("ni"),
        text.redact_pii(t).alias("red")).collect()}
    assert (rows[1].ne, rows[1].ni) == (1, 1)
    assert rows[1].red == "mail <EMAIL> or <IP> now"
    assert rows[2].ne == 0
    # "1.2.3.4" inside v1.2.3.4.5 has digit neighbors across the dots —
    # \b anchors still match at the v| boundary; just assert stability
    assert rows[3].red == ""


def test_normalize_and_repetition(spark):
    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! 42  "),
         (2, "Same thing. Same thing. Different. Same thing."),
         (3, "unique one. unique two.")],
        "doc_id long, text string")
    t = F.col("text")
    rows = {r.doc_id: r for r in df.select(
        "doc_id", text.normalize_text(t).alias("norm"),
        F.round(text.dup_sentence_ratio(t), 6).alias("dup")).collect()}
    assert rows[1].norm == "hello world 42"
    assert rows[2].dup == round(1 - 2 / 4, 6)
    assert rows[3].dup == 0.0


# -- catalog ----------------------------------------------------------------

def test_catalog_roundtrip(spark, tmp_workdir):
    cat = Catalog(os.path.join(tmp_workdir, "catalog.json"))
    schema = T.StructType([T.StructField("a", T.LongType()),
                           T.StructField("b", T.StringType())])
    uri = os.path.join(tmp_workdir, "ds")
    cat.register_dataset("ds1", "json", uri, schema)
    df = spark.createDataFrame([(1, "x"), (2, "y")], schema)
    cat.write(df, "ds1")
    back = cat.read(spark, "ds1")
    assert sorted((r.a, r.b) for r in back.collect()) == [(1, "x"), (2, "y")]
    # persisted: a fresh catalog instance sees the registration
    cat2 = Catalog(os.path.join(tmp_workdir, "catalog.json"))
    assert "ds1" in cat2 and cat2.get("ds1").schema == schema


# -- multimodal -------------------------------------------------------------

def test_multimodal_decode_is_stubbed():
    # a payload with JPEG magic but no decodable stream raises at the
    # decode seam instead of returning pixels
    with pytest.raises((NotImplementedError, ValueError)):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 fake jpeg")


def test_png_roundtrip_gray_and_rgb():
    import numpy as np
    rng = np.random.default_rng(7)
    for shape in ((5, 9), (4, 6, 3), (3, 3, 4), (1, 1), (2, 257)):
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, c, out = multimodal.decode_png(multimodal.encode_png(arr))
        want = arr[:, :, None] if arr.ndim == 2 else arr
        assert (w, h, c) == (want.shape[1], want.shape[0], want.shape[2])
        assert np.array_equal(out, want)
    # decode_image dispatches PNG to the real codec
    gray = rng.integers(0, 256, size=(4, 4), dtype=np.uint8)
    assert multimodal.decode_image(multimodal.encode_png(gray))[3].shape == (4, 4, 1)


def test_png_all_scanline_filters_reconstruct():
    """Hand-build a PNG using each filter type (Sub/Up/Average/Paeth) and
    check the decoder reconstructs the original image — the encoder only
    emits filter 0, so these paths need their own vectors."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)  # RGB
    h, w, c = arr.shape
    for ft in (1, 2, 3, 4):
        lines = []
        prev = np.zeros(w * c, dtype=np.int64)
        for y in range(h):
            cur = arr[y].reshape(-1).astype(np.int64)
            filt = np.empty_like(cur)
            for i in range(w * c):
                a = cur[i - c] if i >= c else 0      # left (reconstructed)
                b = prev[i]                           # up
                cc = prev[i - c] if i >= c else 0     # up-left
                if ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                filt[i] = (cur[i] - pred) & 0xFF
            lines.append(bytes([ft]) + filt.astype(np.uint8).tobytes())
            prev = cur
        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
        png = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(b"".join(lines)))
               + chunk(b"IEND", b""))
        got = multimodal.decode_png(png)[3]
        assert np.array_equal(got, arr), f"filter {ft} misreconstructed"


def test_wav_roundtrip():
    import numpy as np
    samples = np.array([0, 1, -1, 32767, -32768, 1234], dtype="<i2")
    rate, nch, out = multimodal.decode_wav(multimodal.encode_wav(samples, 16000))
    assert (rate, nch) == (16000, 1)
    assert np.array_equal(out, samples)


def test_ivf_topk_recall_on_testdata(spark):
    """SURVEY §2.12 tolerance bound under the √N nlist rule (r10 —
    the old fixed stride made nlist grow linearly and cell assignment
    quadratic; at test scale it also left so few cells that nprobe=8
    probed ALL of them, making the former ≥0.9 bound a brute-force
    artifact). The synthetic embeddings are near-uniform — IVF's
    worst case, where recall ≈ probed fraction — so the honest
    deterministic contract is (a) the measured floor with margin
    (0.66 / 0.70 at sf0.001 / sf0.01) and (b) recall strictly above
    the probed-cell fraction (the clustering gain a random cell
    partition would not deliver); real clustered embeddings sit far
    above both."""
    import math

    from pravega_flink_ai_flow_spark.queries import load_all, tables
    reg = load_all()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        exact = {(r.q_id, r.c_id) for r in reg["l3_brute_force_topk"].fn(spark, sf).collect()}
        approx = {(r.q_id, r.c_id) for r in reg["l3_ivf_topk"].fn(spark, sf).collect()}
        recall = len(exact & approx) / len(exact)
        (emb,) = tables(spark, sf, "embeddings")
        n_corpus = emb.count()   # the stride rule's own input, not a
        # hardcoded copy that silently drifts if a tier is regenerated
        from pravega_flink_ai_flow_spark.ops.similarity import _stride_rule
        n_cells = math.ceil(n_corpus / _stride_rule(n_corpus))
        assert recall >= 0.6, (sf, recall)
        assert recall > 8 / n_cells, (sf, recall, n_cells)


def test_ivf_candidates_are_unique_before_ranking(spark):
    """``ivf_topk`` ranks its cell-join candidates without a dedup: that
    is exact only while each corpus vector sits in one cell and a
    query's nprobe cells are distinct, so no (query, corpus) pair meets
    twice. Built here the way l3_ivf_topk builds it at sf0.001."""
    from pravega_flink_ai_flow_spark.ops import similarity as sim
    from pravega_flink_ai_flow_spark.queries import tables
    from tests.conftest import SF_SMOKE

    (emb,) = tables(spark, SF_SMOKE, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("c_id"),
                        F.col("embedding").alias("c_vec"))
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    cents = sim.ivf_train_quantizer(corpus)
    assert len(cents) > 8, "vacuous: nprobe=8 would probe every cell"
    assigned = sim.nearest_refs_arrow(corpus, id_col="c_id", vec_col="c_vec",
                                      ref_rows=cents, k=1, out_col="cell")
    probes = sim.nearest_refs_arrow(queries, id_col="q_id", vec_col="q_vec",
                                    ref_rows=cents, k=8, out_col="cell")
    pairs = [(r.q_id, r.c_id) for r in
             assigned.join(probes, "cell").select("q_id", "c_id").collect()]
    assert len(pairs) > 10
    assert len(pairs) == len(set(pairs))


def test_rolling_hash_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string")
    out = {r.doc_id: r.h for r in
           df.select("doc_id", text_ops.rolling_hash(F.col("text")).alias("h")).collect()}
    assert out[1] == out[3]           # deterministic
    assert out[1] != out[2]           # order matters (unlike a bag hash)
    assert all(0 <= v < (1 << 31) - 1 for v in out.values())


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is on that mat"),
         (2, "der Hund ist nicht mit der Katze und"),
         (3, "el que la una es los de en"),
         (4, "xyzzy plugh")],
        "doc_id long, text string")
    out = {r.doc_id: r.lang for r in
           df.select("doc_id", text_ops.language_id(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "es" and out[4] == "und"


def test_language_id_frame_matches_column_op(spark):
    """The Arrow-batched frame scorer is semantics-identical to the
    Catalyst column op on every edge the tokenizer has: mixed case,
    leading/trailing/odd whitespace, ties, empty and all-space text."""
    df = spark.createDataFrame(
        [(1, "The AND of to IS in that it for on"),
         (2, "  der\thund ist nicht\nmit der katze und  "),
         (3, "el que la una es los de en"),
         (4, "le la les et est des un une dans que"),
         (5, "la de que un"),            # multi-language tie
         (6, "xyzzy plugh"),
         (7, ""),
         (8, "   \t\n  "),
         (9, None),                      # NULL text → NULL guess/scores
         (10, "the\x0Band of")],         # vertical tab IS Java-\s
        "doc_id long, text string")
    want = {r.doc_id: (r.g, r.s) for r in df.select(
        "doc_id",
        text_ops.language_id(F.col("text")).alias("g"),
        text_ops.language_scores(F.col("text"))["en"].alias("s")).collect()}
    got = {r.doc_id: (r.lang_guess, r.s_en) for r in
           text_ops.language_id_frame(df, id_cols=("doc_id",)).collect()}
    assert got == want


def test_quality_frame_matches_column_ops(spark):
    """quality_frame is bit-identical (not just close) to the Catalyst
    column ops — the ratios/scores must hash-match the DuckDB oracle,
    so approximate parity is not enough."""
    df = spark.createDataFrame(
        [(1, "The cat and the dog sat on the mat, happily ever after!"),
         (2, "tiny"),
         (3, "  spaced   out\ttokens \n here  "),
         (4, "supercalifragilisticexpialidocious " * 30),
         (5, ""),
         (6, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 3),
         (7, None),                      # NULL text → NULL features
         (8, "the\x0Bcat and\x0C dog")], # Java-\s includes \x0B and \f
        "doc_id long, text string")
    t = F.col("text")
    want = {r.doc_id: (r.n_tok, r.sr, r.pr, r.wl, r.q) for r in df.select(
        "doc_id",
        text_ops.token_count(t).alias("n_tok"),
        text_ops.stopword_ratio(t).alias("sr"),
        text_ops.punct_ratio(t).alias("pr"),
        text_ops.mean_word_length(t).alias("wl"),
        text_ops.quality_score(t).alias("q")).collect()}
    got = {r.doc_id: (r.n_tok, r.stopword_ratio, r.punct_ratio,
                      r.mean_word_len, r.quality)
           for r in text_ops.quality_frame(df).collect()}
    assert got == want   # exact equality, doubles included


def test_bpe_piece_count(spark):
    df = spark.createDataFrame([(1, "hello, world42!")], "doc_id long, text string")
    # pieces: hello , world 42 !  -> 5
    n = df.select(text_ops.bpe_piece_count(F.col("text")).alias("n")).collect()[0].n
    assert n == 5


def test_asof_merge_equals_maxby_strategy(spark):
    """Both as-of strategies (join+max_by vs union+sort-merge) must agree,
    including the inclusive-≤ boundary and max-tiebreaker-at-equal-time
    rule."""
    import random
    rng = random.Random(7)
    left = [(i, rng.randint(0, 5), ts(rng.randint(0, 120))) for i in range(60)]
    right = [(j, rng.randint(0, 5), ts(rng.choice([0, 30, 30, 60, 90])), j * 1.5)
             for j in range(40)]
    l = spark.createDataFrame(left, "event_id long, k long, t timestamp")
    r = spark.createDataFrame(right, "order_id long, k2 long, t2 timestamp, amt double")
    a = relational.asof_join(
        l, r, left_on="k", right_on="k2", left_time="t", right_time="t2",
        left_id="event_id", tie_breakers=["order_id"])
    b = relational.asof_merge(
        l, r, left_on="k", right_on="k2", left_time="t", right_time="t2",
        tie_breakers=["order_id"])
    rows_a = {(x.event_id, x.order_id) for x in a.collect()}
    rows_b = {(x.event_id, x.order_id) for x in b.collect()}
    assert rows_a == rows_b and len(rows_a) > 0


def test_asof_merge_carry_cols_narrows_struct(spark):
    """carry_cols (r15): the narrowed carry must return the identical
    match per left row as the full-struct default, expose exactly
    lcols + carry_cols, and actually shrink the carried struct in the
    plan (the shuffle-bytes point of the change)."""
    import random
    rng = random.Random(11)
    left = [(i, rng.randint(0, 4), ts(rng.randint(0, 100))) for i in range(40)]
    right = [(j, rng.randint(0, 4), ts(rng.choice([0, 25, 50, 75])), j * 2.0)
             for j in range(30)]
    l = spark.createDataFrame(left, "event_id long, k long, t timestamp")
    r = spark.createDataFrame(
        right, "order_id long, k2 long, t2 timestamp, amt double")
    full = relational.asof_merge(
        l, r, left_on="k", right_on="k2", left_time="t", right_time="t2",
        tie_breakers=["order_id"])
    narrow = relational.asof_merge(
        l, r, left_on="k", right_on="k2", left_time="t", right_time="t2",
        tie_breakers=["order_id"], carry_cols=["amt"])
    assert narrow.columns == ["event_id", "k", "t", "amt"]
    want = {(x.event_id, x.amt) for x in full.collect()}
    got = {(x.event_id, x.amt) for x in narrow.collect()}
    assert got == want and len(got) > 0
    # the carried struct must not pack the dropped key/time/id fields
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "struct(order_id" not in plan and "struct(k2" not in plan
    import pytest as _pytest
    with _pytest.raises(ValueError):
        relational.asof_merge(
            l, r, left_on="k", right_on="k2", left_time="t",
            right_time="t2", carry_cols=["nope"])


def test_salted_join_equals_plain_join(spark):
    import random
    rng = random.Random(3)
    # skewed: 80% of left rows hit key 0
    left = [(i, 0 if rng.random() < 0.8 else rng.randint(1, 4)) for i in range(200)]
    right = [(k, f"dim{k}") for k in range(5)]
    l = spark.createDataFrame(left, "row_id long, k long")
    r = spark.createDataFrame(right, "rk long, name string")
    plain = {(x.row_id, x.name) for x in
             l.join(r, l.k == r.rk).select("row_id", "name").collect()}
    salted = {(x.row_id, x.name) for x in
              relational.salted_join(l, r, left_on="k", right_on="rk",
                                     salt=8, salt_source="row_id")
              .select("row_id", "name").collect()}
    assert salted == plain and len(plain) == 200

    # hot-only salting (r13): key 0 carries ~80% of rows → crosses a
    # threshold of 50; keys 1-4 don't. Result must stay identical, the
    # hot key's left rows must spread across >1 salt (skew actually
    # split), and every COLD dim row must appear exactly once
    # (replication confined to the hot key).
    hot = relational.salted_join(l, r, left_on="k", right_on="rk",
                                 salt=8, salt_source="row_id",
                                 hot_threshold=50)
    assert {(x.row_id, x.name)
            for x in hot.select("row_id", "name").collect()} == plain
    lh = l.withColumn(
        "__salt",
        F.when(F.col("k").isin([0]),
               F.pmod(F.xxhash64(F.col("row_id")), F.lit(8)))
        .otherwise(F.lit(0)).cast("int"))
    n_salts_hot_key = (lh.filter("k = 0").select("__salt")
                       .distinct().count())
    assert n_salts_hot_key > 1

    # uniform keys degenerate to the PLAIN join: no explode (dim
    # replication) anywhere in the plan
    lu = spark.createDataFrame([(i, i % 5) for i in range(200)],
                               "row_id long, k long")
    uni = relational.salted_join(lu, r, left_on="k", right_on="rk",
                                 salt=8, salt_source="row_id",
                                 hot_threshold=50)
    plan = uni._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" not in plan and "__salt" not in plan
    assert uni.count() == 200

    # more hot keys than the literal budget → blanket-salting fallback,
    # still row-identical
    fb = relational.salted_join(l, r, left_on="k", right_on="rk",
                                salt=8, salt_source="row_id",
                                hot_threshold=1, max_hot_keys=2)
    assert {(x.row_id, x.name)
            for x in fb.select("row_id", "name").collect()} == plain


def test_salted_join_detection_modes(spark):
    """r14 scale-honesty arms of salted_join's hot detection: relative
    (k×mean) thresholds, caller-supplied key_stats replacing the scan,
    and the mutually-exclusive / stats-without-threshold errors. Result
    identity is by construction (salting never changes rows); these
    pin WHICH arm runs."""
    import random
    rng = random.Random(7)
    left = [(i, 0 if rng.random() < 0.8 else rng.randint(1, 4))
            for i in range(2000)]
    l = spark.createDataFrame(left, "row_id long, k long")
    r = spark.createDataFrame([(k, f"dim{k}") for k in range(5)],
                              "rk long, name string")
    plain = {(x.row_id, x.name) for x in
             l.join(r, l.k == r.rk).select("row_id", "name").collect()}

    # relative threshold: key 0 is ~80% of rows, mean ≈ 400 rows/key →
    # 2×mean ≈ 800 selects exactly {0}; hot key must spread over >1 salt
    rel = relational.salted_join(l, r, left_on="k", right_on="rk",
                                 salt=8, salt_source="row_id",
                                 hot_rel_threshold=2.0, detect_sample=1.0)
    assert {(x.row_id, x.name)
            for x in rel.select("row_id", "name").collect()} == plain
    assert "explode(CASE WHEN" in \
        rel._jdf.queryExecution().executedPlan().toString()

    # key_stats short-circuits the detection scan entirely: feed true
    # counts, same classification, and no extra aggregate over `l`
    stats = l.groupBy("k").count()
    ks = relational.salted_join(l, r, left_on="k", right_on="rk",
                                salt=8, salt_source="row_id",
                                hot_threshold=800, key_stats=stats)
    assert {(x.row_id, x.name)
            for x in ks.select("row_id", "name").collect()} == plain
    assert "explode(CASE WHEN" in \
        ks._jdf.queryExecution().executedPlan().toString()

    # sampled absolute threshold (opt-in knob): 10% still detects the
    # 1600-row hot key against thr = 800×f without changing the result
    samp = relational.salted_join(l, r, left_on="k", right_on="rk",
                                  salt=8, salt_source="row_id",
                                  hot_threshold=800, detect_sample=0.1)
    assert {(x.row_id, x.name)
            for x in samp.select("row_id", "name").collect()} == plain

    with pytest.raises(ValueError, match="not both"):
        relational.salted_join(l, r, left_on="k", right_on="rk",
                               hot_threshold=10, hot_rel_threshold=2.0)
    with pytest.raises(ValueError, match="key_stats"):
        relational.salted_join(l, r, left_on="k", right_on="rk",
                               key_stats=stats)


def test_bucketed_join_avoids_shuffle(spark, tmp_workdir):
    """Bucketing both sides on the join key co-locates them at write time:
    the join plan must contain NO Exchange — the 100 TB answer to
    repeated large-large joins on the same key."""
    import uuid
    suffix = uuid.uuid4().hex[:8]
    a, b = f"bkt_a_{suffix}", f"bkt_b_{suffix}"
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    # autoBucketedScan may drop bucketed layout when it guesses no
    # benefit; pin it for the assertion
    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        df.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable(a)
        df.withColumn("w", F.col("id") + 1).write.bucketBy(8, "id") \
          .sortBy("id").mode("overwrite").saveAsTable(b)
        joined = spark.table(a).join(spark.table(b), "id")
        assert joined.count() == 10000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # both scans read bucketed layout; the join needs NO shuffle on id
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange hashpartitioning(id" not in plan, plan
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_blocked_gemm_near_dup_matches_exact(spark):
    """The blocked-GEMM all-pairs path must find the same pairs with the
    same cosines (1e-9 tolerance — BLAS vs fold summation) as the
    row-at-a-time exact baseline."""
    from pravega_flink_ai_flow_spark.queries import tables
    (emb,) = tables(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.id_a, r.id_b): r.cosine
             for r in similarity.cosine_near_dup_pairs(
                 emb, id_col="vec_id", vec_col="embedding", threshold=0.4).collect()}
    blocked = {(r.id_a, r.id_b): r.cosine
               for r in similarity.cosine_near_dup_pairs_blocked(
                   emb, id_col="vec_id", vec_col="embedding",
                   threshold=0.4, n_blocks=4).collect()}
    assert set(exact) == set(blocked)
    assert len(exact) > 0
    assert all(abs(exact[k] - blocked[k]) < 1e-9 for k in exact)


def test_allpairs_topk_matches_closure_blocked(spark):
    """The fully-distributed all-pairs scorer (block-pair applyInPandas
    GEMM, no driver collect — the t16 scale path) must return the same
    (query, candidate, rank) triples and cosines (1e-9, BLAS order) as
    the closure-broadcast blocked scorer."""
    from pravega_flink_ai_flow_spark.queries import tables
    (emb,) = tables(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.select(F.col("vec_id").alias("q_id"),
                   F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec"))
    closure = {(r.q_id, r.rank): (r.c_id, r.cosine)
               for r in similarity.brute_force_topk_blocked(
                   q, c, k=5).collect()}
    dist = {(r.vec_id_a, r.rank): (r.vec_id_b, r.cosine)
            for r in similarity.allpairs_topk_blocked(
                emb, id_col="vec_id", vec_col="embedding",
                k=5, n_blocks=4).collect()}
    assert set(closure) == set(dist)
    assert len(closure) > 0
    for key, (cid, cos) in closure.items():
        did, dcos = dist[key]
        assert did == cid, (key, cid, did)
        assert abs(dcos - cos) < 1e-9, (key, cos, dcos)


def _topk_fixture(spark):
    """30 random 8-dim vectors; ids 0-2 share key 9 (a group with fewer
    than k non-self rows), the rest are keyed by parity. Queries are
    ids 0-5, drawn from the corpus, so every op meets self-pairs."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)], 9 if i < 3 else i % 2)
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long")
    q = df.filter("vec_id < 6").selectExpr("vec_id AS q_id",
                                           "embedding AS q_vec")
    c = df.selectExpr("vec_id AS c_id", "embedding AS c_vec",
                      "label AS c_key")
    return rows, df, q, c


def _topk_op(name, df, q, c, q_rows, k):
    from pravega_flink_ai_flow_spark.ops import pq

    plain = c.select("c_id", "c_vec")
    if name == "brute":
        return similarity.brute_force_topk_blocked(q, plain, k=k)
    if name == "filtered":
        return similarity.filtered_topk_blocked(q_rows, c, k=k)
    if name == "quantized":
        return similarity.quantized_topk(df, [r[:2] for r in q_rows], k=k)
    if name == "allpairs":
        return similarity.allpairs_topk_blocked(df, k=k, n_blocks=3) \
            .selectExpr("vec_id_a AS q_id", "vec_id_b AS c_id", "rank")
    if name == "ivf":
        return similarity.ivf_topk(q, plain, k=k, centroid_stride=5,
                                   nprobe=2)
    if name == "lsh":
        return similarity.lsh_bucket_topk(q, plain, k=k, n_tables=4,
                                          n_planes=2, dim=8)
    if name == "knn":
        train = df.selectExpr("vec_id AS n_id", "label AS n_label",
                              "embedding AS nv")
        return similarity.knn_candidates_blocked(train, q_rows, k=k)
    return pq.pq_topk(q, plain, k=k, dim=8, m=2, ks=4, iters=2)


@pytest.mark.parametrize("name", ["brute", "filtered", "quantized",
                                  "allpairs", "ivf", "lsh", "pq"])
def test_topk_ops_drop_self_pairs_and_rank_without_gaps(spark, name):
    """The top-k contract: no op returns a self-pair (q_id == c_id), and
    each query's ranks run 1..n without gaps, n ≤ k. The exact ops
    return n = min(k, non-self candidates): filtered's key-9 group has
    two."""
    rows, df, q, c = _topk_fixture(spark)
    q_rows = [r for r in rows if r[0] < 6]
    k = 5
    got: dict = {}
    for r in _topk_op(name, df, q, c, q_rows, k).collect():
        assert r.q_id != r.c_id, (name, r)
        got.setdefault(r.q_id, []).append(r.rank)
    assert got
    for qid, ranks in got.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (qid, ranks)
        if name in ("brute", "quantized", "allpairs"):
            assert len(ranks) == k
        elif name == "filtered":
            key = rows[qid][2]
            assert len(ranks) == min(k, sum(r[2] == key for r in rows) - 1)
        else:
            assert len(ranks) <= k


@pytest.mark.parametrize("name", ["brute", "filtered", "quantized", "knn",
                                  "pq"])
def test_topk_ops_return_empty_frame_for_empty_query_set(spark, name):
    """An empty query set yields an empty result, not a driver-side
    ``np.stack`` error."""
    rows, df, q, c = _topk_fixture(spark)
    out = _topk_op(name, df, q.filter("q_id < 0"), c, [], 3)
    assert out.collect() == []


def test_csv_drop_malformed_rows(spark, tmp_workdir):
    """S1 parity with the reference's csv.ignore-parse-errors=true
    (processor.py:55): malformed rows are dropped, not fatal."""
    from pravega_flink_ai_flow_spark.io import batch
    path = os.path.join(tmp_workdir, "bad.csv")
    with open(path, "w") as f:
        f.write("1.0,2.0,3.0,4.0,0\n")
        f.write("not,a,valid,row,oops\n")     # malformed → dropped
        f.write("5.0,6.0,7.0,8.0,1\n")
    schema = T.StructType([T.StructField(c, T.DoubleType())
                           for c in ["sl", "sw", "pl", "pw", "type"]])
    out = batch.read_csv(spark, path, schema, ignore_parse_errors=True).collect()
    assert len(out) == 2
    assert sorted(r.type for r in out) == [0.0, 1.0]


def test_approx_percentile_within_tolerance(spark):
    """Sketch quantiles must land within 1% of exact on the test data."""
    from pravega_flink_ai_flow_spark.queries import load_all, tables
    reg = load_all()
    sf = "/root/testdata/sf0.01"
    approx = {r.l_returnflag: (r.price_p50, r.price_p90, r.price_p99)
              for r in reg["a13_approx_percentile"].fn(spark, sf).collect()}
    (li,) = tables(spark, sf, "lineitem")
    exact = {r.l_returnflag: r.q for r in
             li.groupBy("l_returnflag")
               .agg(F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q"))
               .collect()}
    for flag, qs in exact.items():
        for a, e in zip(approx[flag], qs):
            assert abs(a - e) / e < 0.01, (flag, a, e)


def test_register_views_sql_entry_point(spark):
    """Raw spark.sql over the registered views — including events, whose
    nanos timestamp needs the safe reader — must agree with the
    DataFrame path."""
    from pravega_flink_ai_flow_spark.queries import register_views, tables
    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    got = spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """).collect()
    (o, li) = tables(spark, sf, "orders", "lineitem")
    want = (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect())
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert spark.sql("SELECT MAX(ts) FROM events").collect()[0][0] is not None


def test_count_min_sketch_bounds(spark):
    """Count-min guarantees: estimate ≥ true count always (counters only
    ever over-count), and ≤ true + (e/width)·N for the standard width
    bound — checked for every heavy-hitter term at sf0.01. Also checks
    mergeability is real: the sketch table never exceeds depth·width
    rows however the input is partitioned."""
    import math
    from pravega_flink_ai_flow_spark.ops import sketch
    from pravega_flink_ai_flow_spark.ops.partitioning import spread
    from pravega_flink_ai_flow_spark.queries import tables

    sf = "/root/testdata/sf0.01"
    width, depth = 2048, 4
    (docs,) = tables(spark, sf, "documents")
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
    exact = {r.t: r.n for r in
             toks.groupBy("t").agg(F.count("*").alias("n")).collect()}
    n_total = sum(exact.values())

    sk = sketch.count_min_build(spread(docs), "text",
                                width=width, depth=depth)
    assert sk.count() <= width * depth
    terms = sorted(exact, key=exact.get, reverse=True)[:30]
    est = {r.term: r.est for r in
           sketch.count_min_estimate(sk, terms, width=width,
                                     depth=depth).collect()}
    eps_n = math.e / width * n_total
    for t in terms:
        assert est[t] >= exact[t], (t, est[t], exact[t])
        assert est[t] <= exact[t] + eps_n, (t, est[t], exact[t], eps_n)


def test_contamination_report_planted_overlap(spark):
    """A train doc sharing an exact 6-word span with a benchmark doc
    must be flagged with the right gram counts; disjoint docs must not
    appear."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta unrelated tail words")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "prefix words alpha beta gamma delta epsilon zeta suffix"),
         (2, "completely different content with no shared span at all")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.contamination_report(
        train, bench, "doc_id", "text", k=5).collect()}
    assert set(out) == {1}
    # 9-word doc → 5 distinct 5-grams; the shared 6-word span yields 2 hits
    assert out[1].n_grams == 5
    assert out[1].n_hit_grams == 2
    assert abs(out[1].contamination - 0.4) < 1e-12


def test_knn_blocked_matches_fold(spark):
    """The blocked-GEMM KNN scorer (declared m2 path) must predict
    identically to the all-JVM fold formulation — same distances up to
    last-ulp GEMM-vs-fold summation, same (dist2, n_id) tie-breaks, so
    prediction-level equality is exact."""
    from pravega_flink_ai_flow_spark.queries import ml_queries as mq
    sf = "/root/testdata/sf0.01"
    fold = {tuple(r) for r in mq._spark_knn(spark, sf).collect()}
    blocked = {tuple(r) for r in mq._spark_knn_blocked(spark, sf).collect()}
    assert fold == blocked
    assert len(fold) == 100


def test_knn_collect_guard_falls_back_to_distributed(spark, monkeypatch):
    """An oversized test split must NOT be collected to the driver: the
    guard returns None and m2 degrades to the distributed all-JVM fold,
    producing identical predictions."""
    from pravega_flink_ai_flow_spark.queries import ml_queries as mq

    sf = "/root/testdata/sf0.001"
    expected = {tuple(r) for r in mq._spark_knn(spark, sf).collect()}
    monkeypatch.setattr(mq, "_MAX_TEST_ROWS", 3)   # force the guard to trip
    assert mq._test_rows(spark, sf) is None
    got = {tuple(r) for r in mq.m2_knn_predict(spark, sf).collect()}
    assert got == expected
    monkeypatch.undo()                             # the guard is in the key
    assert len(mq._test_rows(spark, sf)) == mq._SPLIT


def test_knn_closure_labels_match_fold(spark):
    """m2 attaches each test vector's true label inside the Arrow
    scorer's closure (no create_map literal — which stalls Catalyst
    analysis for large splits, ADVICE r4 — and no broadcast label
    join). The closure-labeled path must predict identically to the
    all-JVM fold, which joins labels relationally."""
    from pravega_flink_ai_flow_spark.queries import ml_queries as mq

    sf = "/root/testdata/sf0.001"
    expected = {tuple(r) for r in mq._spark_knn(spark, sf).collect()}
    got = {tuple(r) for r in mq.m2_knn_predict(spark, sf).collect()}
    assert got == expected


def test_partitioned_write_prunes_scan(spark, tmp_workdir):
    """Hive-style partitioned layout: a filter on the partition column
    must prune at planning time (PartitionFilters), reading only the
    matching directories — the at-rest layout that makes time-range scans
    over 100 TB touch one day, not the archive."""
    import datetime as dt
    path = os.path.join(tmp_workdir, "part_events")
    rows = [(i, (dt.date(2024, 1, 1) + dt.timedelta(days=i % 3)).isoformat(),
             float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, day string, value double")
    df.write.partitionBy("day").mode("overwrite").parquet(path)

    q = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    assert q.count() == 100
    # the filter lands in PartitionFilters (planning-time directory
    # pruning), not as a post-scan row filter
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan and "2024-01-02" in plan, plan


def test_approx_count_distinct_within_rsd(spark):
    """HLL++ estimate must land within ~3×rsd of the exact count."""
    from pravega_flink_ai_flow_spark.queries import load_all, tables
    reg = load_all()
    sf = "/root/testdata/sf0.01"
    row = reg["a4_approx_count_distinct"].fn(spark, sf).collect()[0]
    (li,) = tables(spark, sf, "lineitem")
    exact = li.agg(F.countDistinct("l_orderkey"),
                   F.countDistinct("l_partkey")).collect()[0]
    assert abs(row.approx_orders - exact[0]) / exact[0] < 0.06
    assert abs(row.approx_parts - exact[1]) / exact[1] < 0.06


def test_parquet_schema_evolution_merge(spark, tmp_workdir):
    """Schema evolution: a column added by later writers must surface via
    mergeSchema with nulls for old files — how a long-lived 100 TB table
    absorbs new fields without rewrite."""
    path = os.path.join(tmp_workdir, "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string") \
        .write.mode("append").parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double") \
        .write.mode("append").parquet(path)
    got = {r.id: (r.v, r.score) for r in
           spark.read.option("mergeSchema", "true").parquet(path).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_sorted_write_tightens_rowgroup_stats(spark, tmp_workdir):
    """Clustering before write: sortWithinPartitions on the filter column
    produces non-overlapping per-file min/max ranges, so a time-range
    predicate skips whole files/row-groups at scan time."""
    import pyarrow.parquet as pq
    path = os.path.join(tmp_workdir, "clustered")
    df = spark.range(0, 100000).withColumn("k", (F.col("id") * 7919) % 100000)
    (df.repartitionByRange(4, "k").sortWithinPartitions("k")
       .write.mode("overwrite").parquet(path))
    ranges = []
    for fname in os.listdir(path):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        cols = {md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)}
        ki = cols["k"]
        lo = min(md.row_group(g).column(ki).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(ki).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) == 4
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next          # disjoint → file-level skipping works


def test_connected_components_transitive(spark):
    """a-b, b-c chain collapses into one cluster labeled min(id);
    disjoint d-e keeps its own."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_exact_grouped_quantiles_matches_percentile(spark):
    """The histogram-based quantile op must equal Spark's percentile
    aggregate exactly — including duplicate values, NULLs (ignored),
    single-row groups, and fraction interpolation at q=0.5/0.9."""
    import random

    rng = random.Random(7)
    rows = [("g%d" % (i % 3), float(rng.randint(0, 50)))
            for i in range(200)] + [("g0", None), ("g1", None), ("solo", 42.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    want = {r.g: (r.q50, r.q90) for r in df.groupBy("g").agg(
        F.percentile("v", F.lit(0.5)).alias("q50"),
        F.percentile("v", F.lit(0.9)).alias("q90")).collect()}
    got = {r.g: (r.q50, r.q90) for r in relational.exact_grouped_quantiles(
        df, ["g"], "v", [(0.5, "q50"), (0.9, "q90")]).collect()}
    assert got == want


def test_semdedup_properties(spark):
    """SemDeDup invariants on the real corpus: (1) the kept set has no
    within-cluster duplicate pair left (cos >= tau), (2) every removed
    vector has at least one same-cluster neighbor above tau (it was
    removed for a reason), (3) kept + removed partitions the corpus."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ops import similarity as sim
    from pravega_flink_ai_flow_spark.queries import tables

    sf = "/root/testdata/sf0.001"
    tau = 0.4
    (emb,) = tables(spark, sf, "embeddings")
    cents = sim.ivf_train_quantizer(
        emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec")),
        centroid_stride=50, kmeans_iters=0)
    kept = sim.semdedup(emb, id_col="vec_id", vec_col="embedding",
                        centroid_rows=cents, threshold=tau).collect()
    all_assigned = sim.nearest_refs_arrow(
        emb.select("vec_id", "embedding"), id_col="vec_id",
        vec_col="embedding", ref_rows=cents, k=1, out_col="cell").collect()

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in all_assigned}
    cell = {r.vec_id: r.cell for r in all_assigned}
    kept_ids = {r.vec_id for r in kept}
    removed = set(vecs) - kept_ids
    assert removed, "vacuous: nothing removed at tau=0.4"
    assert kept_ids | removed == set(vecs)

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))

    by_cell: dict = {}
    for vid, c in cell.items():
        by_cell.setdefault(c, []).append(vid)
    for c, members in by_cell.items():
        ks = sorted(m for m in members if m in kept_ids)
        for i, a in enumerate(ks):
            for b in ks[i + 1:]:
                assert cos(a, b) < tau, (a, b, cos(a, b))
    for r in removed:
        assert any(m != r and cos(r, m) >= tau for m in by_cell[cell[r]]), r


def test_nearest_refs_tie_resolves_to_lowest_ref_id(spark):
    """The slack-band exact re-score (r12 advice #1): when a vector is
    EXACTLY equidistant from two refs — the degenerate worst case of a
    GEMM-vs-fold near-tie — the pick must be the lower ref id (the
    oracle's ORDER BY sim DESC, cent_id ASC), via the sequential-fold
    re-score path, not whatever the GEMM argsort happened to emit."""
    from pravega_flink_ai_flow_spark.ops import similarity as sim

    # two identical refs under different ids: every row ties exactly
    refs = [(7, [1.0, 0.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.5, 0.25]) for i in range(50)],
        "vec_id long, embedding array<double>")
    out = sim.nearest_refs_arrow(df, id_col="vec_id", vec_col="embedding",
                                 ref_rows=refs, k=1, out_col="cell")
    cells = {r.cell for r in out.collect()}
    assert cells == {3}


def test_keyed_shingle_store_lookup_prunes_and_matches(spark, tmp_workdir):
    """The id-keyed shingle store (r12 verdict: the incremental probe's
    verify was an 'upper bound pending id-bucketed store'): the pruned
    lookup must (1) return exactly the semi-join ground truth, (2)
    actually PRUNE — its scan carries the partition-key IN filter —
    (3) fall back to the full-scan semi-join over the guard, and (4)
    return empty for an empty candidate set."""
    import os

    path = os.path.join(tmp_workdir, "keyed_store")
    arrs = spark.createDataFrame(
        [(i, [f"s{i}", f"s{i+1}", "common"]) for i in range(2000)],
        "id long, shingles array<string>")
    dedup.write_keyed_shingle_store(arrs, path, n_parts=64)

    cand = spark.createDataFrame([(5,), (77,), (1999,)], "id_corpus long")
    got = dedup.keyed_shingle_lookup(spark, path, cand, n_parts=64)
    assert sorted(r.id for r in got.collect()) == [5, 77, 1999]
    assert set(got.columns) == {"id", "shingles"}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__pb" in plan and "IN" in plan   # partition filter present

    # guard exceeded -> full-scan semi-join, same answer
    fb = dedup.keyed_shingle_lookup(spark, path, cand, n_parts=64,
                                    max_ids=2)
    assert sorted(r.id for r in fb.collect()) == [5, 77, 1999]
    fb_plan = fb._jdf.queryExecution().executedPlan().toString()
    assert "__pb IN" not in fb_plan

    empty = dedup.keyed_shingle_lookup(
        spark, path, spark.createDataFrame([], "id_corpus long"),
        n_parts=64)
    assert empty.count() == 0

    # r13 advice #2: xxhash64 is TYPE-sensitive — an int-typed candidate
    # frame hashed as-is would compute wrong partition keys and silently
    # drop rows; the lookup must cast to the store's id type first
    cand_int = spark.createDataFrame([(5,), (77,), (1999,)],
                                     "id_corpus int")
    got_int = dedup.keyed_shingle_lookup(spark, path, cand_int, n_parts=64)
    assert sorted(r.id for r in got_int.collect()) == [5, 77, 1999]


def test_connected_components_empty_pairs(spark):
    """No near-dup pairs → empty components frame with the right
    schema (the driver union-find path must not choke on zero rows)."""
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = dedup.connected_components(pairs)
    assert out.columns == ["id", "cluster_id"]
    assert out.count() == 0


def test_connected_components_paths_agree(spark, monkeypatch):
    """The guarded driver union-find and the distributed min-label
    propagation produce identical labels — including a long chain (deep
    component), a star merged from both ends, and reversed-order
    edges."""
    edges = ([(i, i + 1) for i in range(20, 26)]       # chain 20..26
             + [(55, 50), (54, 50), (53, 50)]          # star, reversed
             + [(1, 2), (4, 3), (2, 4)]                # zigzag merge
             + [(99, 98)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r.id: r.cluster_id
            for r in dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX", 0)
    dist = {r.id: r.cluster_id
            for r in dedup.connected_components(pairs).collect()}
    assert fast == dist
    assert fast[26] == 20 and fast[55] == 50 and fast[3] == 1


def test_events_reader_units(spark, tmp_workdir):
    """The events reader sniffs every parquet footer: micros reads
    natively (normalized to session-TZ TIMESTAMP, so numeric casts
    work), nanos takes the raw-int64 path, and a mixed-unit dataset
    raises instead of silently corrupting one part."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pravega_flink_ai_flow_spark.queries import _read_events

    base = 1_600_000_000_000_000                      # micros since epoch
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([1, 1], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    }

    def write(path, unit, scale):
        tbl = pa.table({**cols, "ts": pa.array(
            [base * scale, (base + 5) * scale], pa.timestamp(unit))})
        pq.write_table(tbl, path)

    import os
    us_dir = os.path.join(tmp_workdir, "us_events")
    ns_dir = os.path.join(tmp_workdir, "ns_events")
    ms_dir = os.path.join(tmp_workdir, "ms_events")
    s_dir = os.path.join(tmp_workdir, "s_events")
    mixed = os.path.join(tmp_workdir, "mixed_events")
    for d in (us_dir, ns_dir, ms_dir, s_dir, mixed):
        os.makedirs(d)
    write(os.path.join(us_dir, "p0.parquet"), "us", 1)
    write(os.path.join(ns_dir, "p0.parquet"), "ns", 1000)
    # ms/s: use second-aligned instants (the coarser units can't carry
    # sub-unit precision); scale base micros DOWN to the stored unit.
    # NOTE: parquet has no SECONDS annotation — pyarrow coerces
    # timestamp('s') to ms on write (verified), so the reader's 's'
    # entry is defensive-only; the s_dir fixture exercises the ms
    # branch with second-granular values.
    sec_base = (base // 1_000_000) * 1_000_000
    def write_coarse(path, unit, div):
        tbl = pa.table({**cols, "ts": pa.array(
            [sec_base // div, (sec_base + 5_000_000) // div],
            pa.timestamp(unit))})
        pq.write_table(tbl, path)
    write_coarse(os.path.join(ms_dir, "p0.parquet"), "ms", 1000)
    write_coarse(os.path.join(s_dir, "p0.parquet"), "s", 1_000_000)
    write(os.path.join(mixed, "p0.parquet"), "us", 1)
    write(os.path.join(mixed, "p1.parquet"), "ns", 1000)

    us_df, ns_df = _read_events(spark, us_dir), _read_events(spark, ns_dir)
    # all branches agree on values AND allow numeric casts (no NTZ)
    get = lambda df: sorted(
        (r[0], r[1]) for r in
        df.selectExpr("event_id", "CAST(ts AS DOUBLE) AS t").collect())
    assert get(us_df) == get(ns_df)
    assert get(us_df)[0][1] == base / 1e6

    for d in (ms_dir, s_dir):
        cdf = _read_events(spark, d)
        assert get(cdf) == [(1, sec_base / 1e6), (2, (sec_base + 5_000_000) / 1e6)]

    with pytest.raises(ValueError, match="mixed ts units"):
        _read_events(spark, mixed)


def test_resample_ffill_gap_semantics(spark):
    df = spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(1), 99.0),       # bucket 0: max = 99
         (1, ts(4 * 60), 7.0),                     # bucket 4 (hour grid)
         (2, ts(0), 1.0)],
        "k long, t timestamp, v double")
    out = relational.resample_ffill(df, key="k", ts="t", value="v",
                                    step_seconds=3600).collect()
    got = {(r.k, r.bucket % 100000): (r.value_filled, r.was_gap) for r in out}
    by_key = sorted((k, b) for k, b in got)
    # key 1 spans buckets b..b+4: 99 at b, filled 99 through the gap,
    # then 7; key 2 has a single bucket
    k1 = [got[kb] for kb in by_key if kb[0] == 1]
    assert [v for v, _ in k1] == [99.0, 99.0, 99.0, 99.0, 7.0]
    assert [g for _, g in k1] == [False, True, True, True, False]
    assert len([kb for kb in by_key if kb[0] == 2]) == 1


def test_resample_interpolate_semantics(spark):
    df = spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(3 * 60), 40.0)],   # buckets b and b+3
        "k long, t timestamp, v double")
    out = sorted(relational.resample_interpolate(
        df, key="k", ts="t", value="v", step_seconds=3600).collect(),
        key=lambda r: r.bucket)
    assert [r.value_interp for r in out] == [10.0, 20.0, 30.0, 40.0]
    assert [r.was_gap for r in out] == [False, True, True, False]


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 10, ts(60)), (2, 10, ts(300))], "id long, k long, t timestamp")
    right = spark.createDataFrame(
        [(100, 10, ts(0)), (101, 10, ts(50))], "rid long, rk long, rt timestamp")
    out = relational.asof_join(
        left, right, left_on="k", right_on="rk",
        left_time="t", right_time="rt", left_id="id",
        tie_breakers=["rid"], tolerance_seconds=30 * 60).collect()
    got = {r.id: r.rid for r in out}
    # id=1: latest within 30min is 101; id=2: nearest prior is 250min
    # stale -> dropped by the tolerance band
    assert got == {1: 101}


def test_hll_sketch_estimates_within_bound(spark):
    """The mergeable-HLL query's estimates must sit within 5% of exact
    distinct counts, and the union-of-partials estimate must match a
    direct global sketch (merge correctness, not just accuracy)."""
    from pravega_flink_ai_flow_spark.queries import load_all, tables as qt

    sf = "/root/testdata/sf0.01"
    est = {r.event_type: r.est_distinct_users
           for r in load_all()["a14_hll_mergeable_sketch"].fn(spark, sf).collect()}
    (events,) = qt(spark, sf, "events")
    exact = {r.event_type: r.n for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    exact["__ALL__"] = events.select("user_id").distinct().count()
    assert set(est) == set(exact) | {"__ALL__"} - (set(exact) - set(est))
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.05, (k, est[k], n)


def test_hll_sketch_query_leaves_no_session_cache(spark):
    """The mergeable-HLL query checkpoints its sketch partials instead of
    caching them, so running it leaves the session cache empty."""
    from pravega_flink_ai_flow_spark.queries import load_all
    from tests.conftest import SF_SMOKE

    spark.catalog.clearCache()
    load_all()["a14_hll_mergeable_sketch"].fn(spark, SF_SMOKE).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_jaccard_prefix_filter_is_lossless(spark):
    """PPJoin prefix filtering must be a superset of the true result:
    every pair with Jaccard >= t shares a prefix shingle."""
    from pravega_flink_ai_flow_spark.queries import tables as qt

    (docs,) = qt(spark, "/root/testdata/sf0.001", "documents")
    arrs = dedup.shingle_arrays(docs, "doc_id", "text", 3)
    true_pairs = {(r.id_a, r.id_b) for r in
                  dedup.jaccard_count_pairs(arrs, threshold=0.5).collect()}
    cands = {(r.id_a, r.id_b) for r in
             dedup.jaccard_prefix_candidates(arrs, threshold=0.5).collect()}
    assert true_pairs and true_pairs <= cands


def test_ridge_distributed_matches_driver_lstsq(spark):
    """The distributed sufficient-statistics fit must equal a driver-side
    exact solve on the same data, and actually carry signal."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ml.linear import fit_ridge_distributed
    from pravega_flink_ai_flow_spark.queries import tables as qt

    sf = "/root/testdata/sf0.01"
    (emb,) = qt(spark, sf, "embeddings")
    train = emb.filter(F.col("vec_id") >= 100).select(
        "embedding", F.col("label").cast("double").alias("y"))
    model = fit_ridge_distributed(train, vec_col="embedding", label_col="y",
                                  lam=1e-3)
    rows = train.collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    y = np.asarray([r["y"] for r in rows])
    Xa = np.hstack([X, np.ones((len(y), 1))])
    reg = 1e-3 * np.eye(Xa.shape[1]); reg[-1, -1] = 0.0
    w = np.linalg.solve(Xa.T @ Xa + reg, Xa.T @ y)
    assert np.allclose(model.coef, w[:-1], atol=1e-8)
    assert abs(model.intercept - w[-1]) < 1e-8
    # in-sample R^2 must beat the mean predictor by a real margin
    assert model.score(X, y) > 0.05


def test_int8_quantized_topk_recall(spark):
    """int8-quantized dot-product top-k vs EXACT float dot-product
    top-k: mean top-5 recall must stay useful. Random 64-dim vectors
    are the hard case (dot products cluster tightly, so quantization
    noise flips more ranks than on real clustered embeddings) —
    measured 0.70 at sf0.01; bound set with slack for other
    generations. Exactness of the declared query itself is the oracle
    hash; this pins the semantic quality of the compressed
    representation."""
    from pravega_flink_ai_flow_spark.queries.llm_similarity import (
        _query_rows, l3_int8_quant_topk,
    )
    from pravega_flink_ai_flow_spark.queries import tables

    sf = "/root/testdata/sf0.01"
    got = l3_int8_quant_topk(spark, sf).collect()
    int8_top = {}
    for r in got:
        int8_top.setdefault(r.q_id, set()).add(r.c_id)

    # exact float dot-product top-5, small enough to fold in numpy
    import numpy as np
    (emb,) = tables(spark, sf, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.asarray([r.vec_id for r in rows])
    V = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    hits = total = 0
    for q_id, q_vec in [(r[0], np.asarray(r[1], dtype=np.float64))
                        for r in _query_rows(spark, sf)]:
        scores = V @ q_vec
        order = np.lexsort((ids, -scores))
        exact = [int(ids[i]) for i in order if ids[i] != q_id][:5]
        hits += len(int8_top[q_id] & set(exact))
        total += 5
    assert total == 50
    assert hits / total >= 0.5, f"recall {hits/total}"


def test_softmax_distributed_matches_driver_numpy(spark):
    """The parameter-server softmax loop must be bit-reproducible against
    a single-node numpy run of the identical update schedule, and the
    fitted model must actually memorize (train accuracy well above the
    1/C chance floor on these 10 random-label classes)."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ml.softmax import fit_softmax_distributed
    from pravega_flink_ai_flow_spark.queries import tables as qt

    sf = "/root/testdata/sf0.01"
    (emb,) = qt(spark, sf, "embeddings")
    train = emb.filter(F.col("vec_id") >= 100).select("embedding", "label")
    model = fit_softmax_distributed(train, vec_col="embedding",
                                    label_col="label", n_classes=10)

    rows = train.collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    y = np.asarray([r["label"] for r in rows])
    Xa = np.hstack([X, np.ones((len(y), 1))])
    W = np.zeros((X.shape[1] + 1, 10))
    V = np.zeros_like(W)
    for _ in range(15):
        Z = Xa @ W
        Z -= Z.max(axis=1, keepdims=True)
        P = np.exp(Z)
        P /= P.sum(axis=1, keepdims=True)
        P[np.arange(len(y)), y] -= 1.0
        G = Xa.T @ P / len(y)
        G[:-1] += 1e-4 * W[:-1]
        V = 0.9 * V - 1.0 * G
        W = W + V
    # distributed partials sum in a different order than one big GEMM,
    # so equality is to float tolerance, not bit-exact
    assert np.allclose(model.W, W, atol=1e-8)
    assert model.score(X, y) > 0.25   # chance is 0.10


def test_m5_softmax_predict_query(spark):
    """Declared query shape: one prediction row per held-out vec_id,
    pred_label in [0, 10), fully JVM-side scoring (no Python UDF in the
    prediction plan)."""
    from pravega_flink_ai_flow_spark.queries.ml_queries import m5_softmax_predict

    out = m5_softmax_predict(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    rows = out.collect()
    assert len(rows) == 100
    assert all(0 <= r.pred_label < 10 for r in rows)
    assert [r.vec_id for r in rows] == sorted(r.vec_id for r in rows)


def test_kmeans_distributed_matches_driver_numpy(spark):
    """The distributed spherical-Lloyd loop must reproduce a single-node
    numpy run of the identical schedule (same strided init, same
    first-winner tie-break)."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ml.kmeans import (
        _unit_rows, fit_spherical_kmeans_distributed,
    )
    from pravega_flink_ai_flow_spark.queries import tables as qt

    sf = "/root/testdata/sf0.01"
    (emb,) = qt(spark, sf, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    init = X[[r["vec_id"] % 50 == 0 for r in rows]]

    got = fit_spherical_kmeans_distributed(
        emb.select("embedding"), vec_col="embedding", init=init, iters=4)

    C = _unit_rows(init.copy())
    Xn = _unit_rows(X)
    for _ in range(4):
        a = np.argmax(Xn @ C.T, axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, a, Xn)
        counts = np.bincount(a, minlength=C.shape[0]).astype(float)
        newC = C.copy()
        newC[counts > 0] = sums[counts > 0] / counts[counts > 0, None]
        C = _unit_rows(newC)
    assert np.allclose(got, C, atol=1e-10)


def test_session_memo_misses_and_evicts_on_tier_rewrite(spark, tmp_path):
    """A tier rewritten IN PLACE mid-session must (a) miss the memo
    (fresh compute, not stale collected results), (b) evict the
    superseded entry and unpersist a persisted DataFrame value, and
    (c) miss the tables() entry so the recompute doesn't read a stale
    file index one layer down."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pravega_flink_ai_flow_spark.engine import memo as m
    from pravega_flink_ai_flow_spark.queries import tables, tier

    tier_dir = tmp_path / "tier"
    tier_dir.mkdir()
    sf = str(tier_dir)
    path = str(tier_dir / "documents.parquet")

    def write(vals):
        pq.write_table(pa.table({"doc_id": list(range(len(vals))),
                                 "text": vals}), path)

    write(["alpha", "beta"])
    calls = []

    def compute():
        (docs,) = tables(spark, sf, "documents")
        df = docs.persist()
        calls.append(df)
        return df

    key = ("rewrite_probe", sf)
    first = m.memo(spark, key, tier(sf), compute)
    assert m.memo(spark, key, tier(sf), compute) is first
    assert len(calls) == 1 and first.count() == 2

    write(["alpha", "beta", "gamma"])  # same path, new data
    second = m.memo(spark, key, tier(sf), compute)
    assert len(calls) == 2 and second is not first
    assert second.count() == 3, \
        "tables() served a stale plan after the in-place rewrite"
    assert not first.is_cached, "superseded persisted memo not evicted"
    assert len([k for k in m._STORE if k[1] == key]) == 1, \
        "superseded memo entry not removed"
    assert len([k for k in m._STORE
                if k[1][:2] == ("table", sf)]) == 1, \
        "superseded tables() entry not removed"
    second.unpersist()


def test_input_fingerprint_never_stats_local_path_of_remote_uri(spark, tmp_path):
    """The memo fingerprint must not feed a REMOTE URI's path to
    ``os.stat`` — an ``s3a://bucket/<path>`` whose path happens to exist
    locally would fingerprint the unrelated local file (wrong-but-
    plausible identity). Remote schemes go through the URI's own Hadoop
    FileSystem; schemes Hadoop can't serve degrade to the documented
    (uri, -1, -1) path-identity fallback. Local ``file:`` URIs keep the
    exact os.stat identity."""
    from pravega_flink_ai_flow_spark.engine.memo import fingerprint

    local = tmp_path / "decoy.txt"
    local.write_text("decoy")
    st = os.stat(local)

    # (a) file: URI → real stat identity
    (fp,) = fingerprint(spark, [local.as_uri()])
    assert fp == (str(local), st.st_size, st.st_mtime_ns)

    # (b) remote URI whose PATH exists locally → must NOT be the local
    # stat; s3a has no FileSystem impl in this build, so the documented
    # degrade is (uri, -1, -1)
    remote = f"s3a://bucket{local}"
    (fp,) = fingerprint(spark, [remote])
    assert fp == (remote, -1, -1)

    # (c) unknown scheme → same safe degrade, no exception
    (fp,) = fingerprint(spark, ["nosuchfs://x/y"])
    assert fp == ("nosuchfs://x/y", -1, -1)


def test_auto_stride_rule_matches_oracle_sql():
    """The √N nlist rule must agree bit-for-bit between the Spark side
    (ops.similarity._stride_rule, python math on the memoized count)
    and the DuckDB scalar subquery the three strided-quantizer oracles
    inline — otherwise the centroid sets diverge and every hash gate
    on them goes red. Probes the rule across six orders of magnitude
    including perfect squares and off-by-one neighbors (the ceil/sqrt
    double-rounding edge cases)."""
    import duckdb

    from pravega_flink_ai_flow_spark.ops.similarity import _stride_rule

    ns = [1, 2, 3, 4, 10, 44, 45, 499, 500, 2000, 2025, 2026,
          20_000, 199_999, 200_000, 1_000_000, 10_000_019]
    for n in ns:
        want = duckdb.sql(
            f"SELECT GREATEST(1, CAST(ceil({n} / ceil(sqrt({n}))) "
            f"AS BIGINT))").fetchone()[0]
        assert _stride_rule(n) == want, (n, _stride_rule(n), want)


def test_ivf_kmeans_topk_recall(spark):
    """The Lloyd-refined quantizer must BEAT the strided one at
    identical nprobe — the whole point of the training step (measured
    0.82 vs 0.66 at sf0.001, 0.78 vs 0.70 at sf0.01 under the √N
    nlist rule) — and hold a 0.75 floor on this worst-case
    near-uniform corpus. Deterministic end to end, so the comparison
    is exact, not flaky."""
    from pravega_flink_ai_flow_spark.queries import load_all
    reg = load_all()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        exact = {(r.q_id, r.c_id)
                 for r in reg["l3_brute_force_topk"].fn(spark, sf).collect()}
        strided = {(r.q_id, r.c_id)
                   for r in reg["l3_ivf_topk"].fn(spark, sf).collect()}
        refined = {(r.q_id, r.c_id)
                   for r in reg["l3_ivf_kmeans_topk"].fn(spark, sf).collect()}
        r_strided = len(exact & strided) / len(exact)
        r_refined = len(exact & refined) / len(exact)
        assert r_refined >= 0.75, (sf, r_refined)
        assert r_refined > r_strided, (sf, r_refined, r_strided)


def test_pq_topk_recall(spark):
    """Product quantization with exact rerank must recover ≥0.9 of the
    true top-k (measured 0.94 / 1.00 at sf0.001 / sf0.01 with m=16,
    ks=32, 10× ADC shortlist — uniform random vectors are PQ's worst
    case)."""
    from pravega_flink_ai_flow_spark.queries import load_all
    reg = load_all()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        exact = {(r.q_id, r.c_id)
                 for r in reg["l3_brute_force_topk"].fn(spark, sf).collect()}
        approx = {(r.q_id, r.c_id)
                  for r in reg["l3_pq_topk"].fn(spark, sf).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, (sf, recall)


def test_pq_codebooks_deterministic_and_shaped(spark):
    """Two fits on the same corpus must produce identical codebooks
    (strided init + partition-ordered reduction), shaped (m, ks, dsub)
    with rows on the unit ball's subspace slices (finite, non-zero)."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ops.pq import train_pq_codebooks
    from pravega_flink_ai_flow_spark.queries import tables as qt

    sf = "/root/testdata/sf0.001"
    (emb,) = qt(spark, sf, "embeddings")
    corpus = emb.select(F.col("embedding").alias("v"))
    c1 = train_pq_codebooks(corpus, vec_col="v", dim=64, m=8, ks=16, iters=3)
    c2 = train_pq_codebooks(corpus, vec_col="v", dim=64, m=8, ks=16, iters=3)
    assert c1.shape == (8, 16, 8)
    assert np.array_equal(c1, c2)
    assert np.isfinite(c1).all() and np.abs(c1).max() > 0


def test_iterative_trainers_raise_cleanly_on_empty_input(spark):
    """All three parameter-server trainers must fail fast with a clear
    ValueError on an empty source, not emit NaN models or divide by
    zero inside an executor."""
    import numpy as np
    import pytest as _pytest

    from pravega_flink_ai_flow_spark.ml.kmeans import (
        fit_spherical_kmeans_distributed,
    )
    from pravega_flink_ai_flow_spark.ml.softmax import fit_softmax_distributed
    from pravega_flink_ai_flow_spark.ops.pq import train_pq_codebooks

    empty = spark.createDataFrame([], "v array<double>, label int")
    with _pytest.raises(ValueError):
        fit_softmax_distributed(empty, vec_col="v", label_col="label",
                                n_classes=3, epochs=1)
    with _pytest.raises(ValueError):
        fit_spherical_kmeans_distributed(
            empty.select("v"), vec_col="v",
            init=np.eye(4), iters=1)
    with _pytest.raises(ValueError):
        train_pq_codebooks(empty.select("v"), vec_col="v", dim=4, m=2, ks=4)


def test_quality_classifier_learns_and_is_deterministic(spark):
    """The featurize → train → score pipeline must learn its
    (length-heuristic) target well above the 0.5 chance floor, and two
    invocations must produce identical predictions (deterministic
    featurizer + trainer + cached model)."""
    from pravega_flink_ai_flow_spark.queries.llm_text import (
        l6_quality_classifier,
    )

    sf = "/root/testdata/sf0.001"
    rows = l6_quality_classifier(spark, sf).collect()
    acc = sum(r.true_label == r.pred_label for r in rows) / len(rows)
    assert acc > 0.85, acc   # measured 0.95 at sf0.001; chance is 0.5
    again = l6_quality_classifier(spark, sf).collect()
    assert [(r.doc_id, r.pred_label) for r in rows] == \
           [(r.doc_id, r.pred_label) for r in again]


def test_hashed_bow_features_shape_and_counts(spark):
    """Featurizer contract: dim-wide dense counts summing to the token
    count, label riding through unreordered."""
    from pravega_flink_ai_flow_spark.ops.text import hashed_bow_features

    df = spark.createDataFrame(
        [(1, "a b a", 1), (2, "c", 0)],
        "doc_id long, text string, label int")
    out = {r.doc_id: r for r in hashed_bow_features(
        df, id_col="doc_id", text_col="text", dim=16,
        label_col="label").collect()}
    assert len(out[1].features) == 16 and sum(out[1].features) == 3.0
    assert sum(out[2].features) == 1.0
    assert (out[1].label, out[2].label) == (1, 0)


def test_resize_nearest_mapping_and_bounds():
    """Factor-2 nearest-neighbor downsample must pick pixel (2y, 2x)
    exactly (the property the l5_image_resize oracle depends on), and
    upsampling / zero sizes are rejected."""
    import numpy as np
    import pytest as _pytest

    from pravega_flink_ai_flow_spark.ops.multimodal import resize_nearest

    arr = np.arange(7 * 9).reshape(7, 9)
    small = resize_nearest(arr, 3, 4)
    assert small.shape == (3, 4)
    assert np.array_equal(small, arr[np.ix_([0, 2, 4], [0, 2, 4, 6])])
    with _pytest.raises(ValueError):
        resize_nearest(arr, 8, 4)     # upsample
    with _pytest.raises(ValueError):
        resize_nearest(arr, 0, 4)     # empty target


def test_pca_distributed_matches_driver_numpy(spark):
    """The sufficient-statistics PCA must reproduce a single-matrix
    numpy PCA on the same data — components (with the deterministic
    sign convention), explained variance, and projections."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ml.pca import (
        _fix_signs, fit_pca_distributed, pca_project)
    from pravega_flink_ai_flow_spark.queries import tables as qt

    sf = "/root/testdata/sf0.01"
    (emb,) = qt(spark, sf, "embeddings")
    model = fit_pca_distributed(emb, vec_col="embedding", k=3)

    rows = emb.select("vec_id", "embedding").collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in rows])
    mean = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:3]
    want_comp = _fix_signs(vecs[:, order].T)
    assert np.allclose(model.mean, mean, atol=1e-9)
    assert np.allclose(model.explained_variance, vals[order], atol=1e-9)
    assert np.allclose(model.components, want_comp, atol=1e-8)
    # explained variance actually dominates: top-3 ordered descending
    assert model.explained_variance[0] >= model.explained_variance[1] \
        >= model.explained_variance[2] > 0

    got = {r.vec_id: (r.pc1, r.pc2, r.pc3)
           for r in pca_project(emb, model).collect()}
    want = (X - mean) @ want_comp.T
    ids = [r.vec_id for r in rows]
    for i, vid in enumerate(ids):
        assert np.allclose(got[vid], want[i], atol=1e-8)


def test_prefix_candidates_between_lossless_and_lsh_recall(spark):
    """The between-variant prefix filter must be a SUPERSET of the true
    batch-vs-corpus pairs (lossless — it backs the hash-checked
    l2_incremental_dedup), and the LSH banding probe (the ops-layer
    scale path) must recover nearly all of them (recall pinned so a
    banding regression is caught even though no declared query rides
    on it anymore)."""
    from pravega_flink_ai_flow_spark.queries import tables as qt

    (docs,) = qt(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    arrs_c = dedup.shingle_arrays(corpus, "doc_id", "text", 3).persist()
    arrs_n = dedup.shingle_arrays(new, "doc_id", "text", 3).persist()

    def verified(cands):
        sa = arrs_n.select(F.col("id").alias("id_new"),
                           F.col("shingles").alias("__sa"))
        sb = arrs_c.select(F.col("id").alias("id_corpus"),
                           F.col("shingles").alias("__sb"))
        n_common = F.size(F.array_intersect("__sa", "__sb"))
        j = n_common / (F.size("__sa") + F.size("__sb") - n_common)
        return {(r.id_new, r.id_corpus) for r in
                cands.join(sa, "id_new").join(sb, "id_corpus")
                     .filter(j >= 0.7).select("id_new", "id_corpus")
                     .collect()}

    exact = verified(dedup.jaccard_prefix_candidates_between(
        arrs_n, arrs_c, threshold=0.7))
    # losslessness vs brute force: every true >=0.7 pair must be found
    brute = arrs_n.select(F.col("id").alias("id_new"), "shingles") \
        .crossJoin(arrs_c.select(F.col("id").alias("id_corpus"),
                                 F.col("shingles").alias("__sb")))
    n_common = F.size(F.array_intersect("shingles", "__sb"))
    j = n_common / (F.size("shingles") + F.size("__sb") - n_common)
    truth = {(r.id_new, r.id_corpus) for r in
             brute.filter(j >= 0.7).select("id_new", "id_corpus").collect()}
    assert exact == truth and truth
    # the r9 in-row hash-ordered generator (backs the declared query
    # now) must be equally lossless — any-order prefix lemma
    hashed = verified(dedup.jaccard_hash_prefix_candidates_between(
        arrs_n, arrs_c, threshold=0.7))
    assert hashed == truth
    # r9 advice #3 degrade guard: with the in-row pair budget forced to
    # 1, EVERY bucket takes the one-row-per-new-doc chunked expansion —
    # the path a misrouted Zipfian head lands on — and the output is
    # unchanged (the guard moves memory shape, never the answer)
    import pravega_flink_ai_flow_spark.ops.dedup as dedup_mod
    saved = dedup_mod._BUCKET_PAIR_BUDGET
    try:
        dedup_mod._BUCKET_PAIR_BUDGET = 1
        chunked = verified(dedup.jaccard_hash_prefix_candidates_between(
            arrs_n, arrs_c, threshold=0.7))
    finally:
        dedup_mod._BUCKET_PAIR_BUDGET = saved
    assert chunked == truth

    sig_c = dedup.minhash_signatures_arrow(arrs_c, 64)
    sig_n = dedup.minhash_signatures_arrow(arrs_n, 64)
    lsh = verified(dedup.lsh_candidate_pairs_between(sig_n, sig_c, 64, 16))
    assert lsh <= exact
    assert len(lsh) >= 0.9 * len(exact)


def test_cap_shingle_df_paths_agree_and_flat_corpus_is_noop(spark):
    """df-capped shingling (r10 — the measured answer to hot LSH bands
    on Zipf corpora): (a) on the FLAT test corpus a 5% cap removes
    nothing (every declared near-dup query's semantics untouched);
    (b) on a corpus with a boilerplate shingle, the hot shingle is
    removed, cold ones kept, all-hot docs come back empty; (c) the
    in-row literal path and the anti-join fallback (forced via
    max_literal=0) produce identical outputs."""
    from pravega_flink_ai_flow_spark.queries import tables as qt

    (docs,) = qt(spark, "/root/testdata/sf0.001", "documents")
    arrs = dedup.shingle_arrays(docs.limit(200), "doc_id", "text", 3)
    base = {r.id: sorted(r.shingles) for r in arrs.collect()}
    capped = {r.id: sorted(r.shingles)
              for r in dedup.cap_shingle_df(arrs).collect()}
    assert capped == base                      # flat corpus: no-op

    rows = [(1, ["hot", "a b c", "d e f"]),
            (2, ["hot", "g h i"]),
            (3, ["hot"]),                      # all-hot doc
            (4, ["j k l", "m n o"])]
    skewed = spark.createDataFrame(rows, "id long, shingles array<string>")
    want = {1: ["a b c", "d e f"], 2: ["g h i"], 3: [], 4: ["j k l", "m n o"]}
    lit = {r.id: sorted(r.shingles)
           for r in dedup.cap_shingle_df(skewed, max_df_frac=0.5).collect()}
    assert lit == want
    fb = {r.id: sorted(r.shingles)
          for r in dedup.cap_shingle_df(skewed, max_df_frac=0.5,
                                        max_literal=0).collect()}
    assert fb == want


def test_prefix_len_is_float_safe(spark):
    """r9 review finding: floor((1−t)·n)+1 under-floors at t=0.9 (1−t
    rounds DOWN), silently shortening the lossless prefix. (The bare
    ceil(t·n) form is safe for exact-decimal thresholds — r9 advice #1 —
    but the nudge stays as defense-in-depth for arbitrary floats.)
    _prefix_len must match the exact integer form n − ceil(t·n) + 1 at
    every (t, n) in the hazard zone (or exceed it by at most the
    documented +1 safety slack — never fall below)."""
    import math
    from fractions import Fraction

    cases = [(t, n) for t in (0.5, 0.6, 0.7, 0.75, 0.8, 0.9, 0.95)
             for n in range(1, 200)]
    df = spark.createDataFrame(cases, "t double, n int")
    got = {(r.t, r.n): r.k for r in df.select(
        "t", "n", dedup._prefix_len(F.col("t"), F.col("n")).alias("k"))
        .collect()}
    for t, n in cases:
        exact = n - math.ceil(Fraction(t) * n) + 1
        k = got[(t, n)]
        assert exact <= k <= exact + 1, (t, n, k, exact)


def test_incremental_probe_of_persisted_band_table(spark, tmp_workdir):
    """The TRUE production shape of incremental dedup (r7 advice #6):
    the corpus's banded bucket table is a write-once parquet artifact;
    each crawl batch is deduped by banding ONLY the batch and probing
    the stored table. Asserts (a) the probe's candidates equal the
    in-flight between-variant's (same plan constants), and (b) the
    probe plan structurally does constant work per batch — it scans the
    banded parquet, NOT the corpus documents/shingles (no re-banding,
    no corpus-side tokenization)."""
    import os

    from pravega_flink_ai_flow_spark.queries import tables as qt

    (docs,) = qt(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    arrs_c = dedup.shingle_arrays(corpus, "doc_id", "text", 3)
    sig_c = dedup.minhash_signatures_arrow(arrs_c, 64)

    # ingest-time, ONCE: band the corpus and persist the bucket table
    band_path = os.path.join(tmp_workdir, "corpus_bands")
    dedup.lsh_band_table(sig_c, 64, 16, out_id="id_corpus") \
        .write.mode("overwrite").parquet(band_path)
    stored = spark.read.parquet(band_path)

    # per-batch, FOREVER AFTER: two successive crawl batches (persisted
    # as their own parquet, as a crawler would land them) probe the
    # stored artifact
    for lo, hi in ((8, 9), (9, 10)):
        batch_path = os.path.join(tmp_workdir, f"crawl_{lo}")
        docs.filter((F.col("doc_id") % 10 >= lo)
                    & (F.col("doc_id") % 10 < hi)) \
            .write.mode("overwrite").parquet(batch_path)
        batch = spark.read.parquet(batch_path)
        sig_n = dedup.minhash_signatures_arrow(
            dedup.shingle_arrays(batch, "doc_id", "text", 3), 64)
        probe = dedup.lsh_probe_banded(sig_n, stored, 64, 16)
        got = {(r.id_new, r.id_corpus) for r in probe.collect()}
        want = {(r.id_new, r.id_corpus) for r in
                dedup.lsh_candidate_pairs_between(sig_n, sig_c, 64, 16)
                .collect()}
        assert got == want and want
        # constant work per batch, structurally: the probe plan reads
        # the banded parquet and the batch parquet — the corpus
        # documents are NEVER rescanned, re-shingled, or re-banded
        srcs = set(probe.inputFiles())
        assert any("corpus_bands" in f for f in srcs)
        assert any(f"crawl_{lo}" in f for f in srcs)
        assert all("corpus_bands" in f or f"crawl_{lo}" in f for f in srcs)


def test_j15_frontier_fallback_matches_broadcast_path(spark, monkeypatch):
    """j15's per-level broadcast guard: forcing every level through the
    shuffle-join fallback must produce the identical hierarchy."""
    from pravega_flink_ai_flow_spark.queries import joins as J
    from pravega_flink_ai_flow_spark.queries import load_all

    q = load_all()["j15_recursive_hierarchy"].fn
    want = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    monkeypatch.setattr(J, "_BFS_BROADCAST_MAX_ROWS", 0)
    got = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    assert got == want and len(want) > 100


def test_j15_multilevel_fusion_matches_and_cuts_jobs(spark, monkeypatch):
    """j15's r16 multi-level fusion: k fused levels per driver round
    must (a) produce the identical hierarchy to the unfused per-level
    path and (b) actually run FEWER driver-blocking jobs — the whole
    point of the fusion (guide §5)."""
    from pravega_flink_ai_flow_spark.queries import joins as J
    from pravega_flink_ai_flow_spark.queries import load_all

    q = load_all()["j15_recursive_hierarchy"].fn
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(tag):
        sc.setJobGroup(tag, tag)
        try:
            rows = sorted(map(tuple,
                              q(spark, "/root/testdata/sf0.001").collect()))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return rows, len(tracker.getJobIdsForGroup(tag))

    fused, fused_jobs = run("j15_fused")
    monkeypatch.setattr(J, "_BFS_MAX_FUSED_LEVELS", 1)
    unfused, unfused_jobs = run("j15_unfused")
    assert fused == unfused and len(fused) > 100
    assert fused_jobs < unfused_jobs, (fused_jobs, unfused_jobs)


def test_containment_pairs_subset_detection(spark):
    # doc 1 is a verbatim excerpt of doc 0: every 3-shingle of doc 1
    # appears in doc 0, so containment(1 in 0) is exactly 1.0 while
    # Jaccard is only |B|/|A| — the subset case the op exists for.
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h"),   # 6 shingles
         (1, "c d e f g"),         # 3 shingles, all inside doc 0
         (2, "x y z w v u")],      # unrelated
        "doc_id long, text string")
    arrs = dedup.shingle_arrays(docs, "doc_id", "text", k=3)
    rows = {(r.id_a, r.id_b): r for r in
            dedup.containment_pairs(arrs, threshold=0.6).collect()}
    assert set(rows) == {(0, 1)}
    r = rows[(0, 1)]
    assert r.cont_b_in_a == 1.0          # all of doc 1 inside doc 0
    assert r.cont_a_in_b == 0.5          # 3 of doc 0's 6 shingles
    # containment dominates Jaccard: J = 3/(6+3-3) = 0.5 would already
    # pass a 0.5 gate, but at 0.6 only the containment direction fires
    jac = {(r.id_a, r.id_b)
           for r in dedup.jaccard_count_pairs(arrs, threshold=0.6).collect()}
    assert (0, 1) not in jac


def test_dedup_plan_dispatch_by_df_head(spark):
    """The BENCH_zipf-measured dispatch rule as code: a flat corpus
    routes to the count-index / hash-prefix plans, a boilerplate-headed
    one to the prefix / df-order plans — and since every branch is
    exact, the dispatched output equals both branches' output."""
    flat = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i} f{i}") for i in range(20)],
        "doc_id long, text string")
    footer = "this page is boilerplate footer text"
    skew = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} " + footer) for i in range(20)],
        "doc_id long, text string")
    arrs_flat = dedup.shingle_arrays(flat, "doc_id", "text", k=3)
    arrs_skew = dedup.shingle_arrays(skew, "doc_id", "text", k=3)
    # the signal itself: disjoint shingles → head = 1/n; shared footer
    # grams → head = 1.0
    assert dedup.shingle_df_head_ratio(arrs_flat) == 1 / 20
    assert dedup.shingle_df_head_ratio(arrs_skew) == 1.0
    # dispatched containment output equals BOTH exact branches
    for arrs in (arrs_flat, arrs_skew):
        auto = {tuple(r) for r in
                dedup.containment_pairs_auto(arrs, threshold=0.6).collect()}
        count = {tuple(r) for r in
                 dedup.containment_pairs(arrs, threshold=0.6).collect()}
        prefix = {tuple(r) for r in
                  dedup.containment_pairs_prefix(arrs, threshold=0.6)
                  .collect()}
        assert auto == count == prefix
    # dispatched jaccard candidates: both routes are lossless, so the
    # exact-Jaccard-verified outputs must agree
    def verified(cands, arrs_n, arrs_c):
        sa = arrs_n.select(F.col("id").alias("id_new"),
                           F.col("shingles").alias("__sa"))
        sb = arrs_c.select(F.col("id").alias("id_corpus"),
                           F.col("shingles").alias("__sb"))
        common = F.size(F.array_intersect("__sa", "__sb"))
        j = common / (F.size("__sa") + F.size("__sb") - common)
        return {(r.id_new, r.id_corpus) for r in
                cands.join(sa, "id_new").join(sb, "id_corpus")
                     .filter(j >= 0.7).select("id_new", "id_corpus")
                     .collect()}

    for arrs in (arrs_flat, arrs_skew):
        new_side = arrs.filter(F.col("id") >= 15)
        corp_side = arrs.filter(F.col("id") < 15)
        via_auto = verified(dedup.jaccard_candidates_between_auto(
            new_side, corp_side, threshold=0.7), new_side, corp_side)
        via_df = verified(dedup.jaccard_prefix_candidates_between(
            new_side, corp_side, threshold=0.7), new_side, corp_side)
        assert via_auto == via_df


def test_scale_dispatch_decision_table():
    """The r11 corpus-scale tier as a pure table (BENCH_zipf): the
    df-head signal alone measured ~0.19 at BOTH 50 k and 500 k Zipf
    docs while exact plans went from winning to ≥ 2.8-3.3× the LSH wall — so the
    route must depend on (df_head, n_docs) together."""
    # flat corpora never escalate, at any size (exact plans measured
    # sub-linear through sf10)
    assert dedup.auto_route(0.005, 50_000) == "flat"
    assert dedup.auto_route(0.005, 5_000_000) == "flat"
    # Zipf head, first decade: exact prefix plans (measured winners)
    assert dedup.auto_route(0.19, 5_000) == "zipf_exact"
    assert dedup.auto_route(0.19, 50_000) == "zipf_exact"
    # Zipf head, second decade: LSH is the measured survivor
    assert dedup.auto_route(0.19, 500_000) == "lsh"
    assert dedup.auto_route(0.19, dedup._SCALE_DISPATCH_DOCS) == "lsh"
    assert dedup.auto_route(
        0.19, dedup._SCALE_DISPATCH_DOCS - 1) == "zipf_exact"
    # the r10 verdict's motivating user: 5M-doc Zipf corpus
    assert dedup.auto_route(0.19, 5_000_000) == "lsh"


def test_auto_dispatchers_escalate_to_lsh_at_corpus_scale(spark):
    """Routing pin for the scale tier (r10 verdict #1): with injected
    corpus statistics past _SCALE_DISPATCH_DOCS on a Zipf head, both
    auto dispatchers must (a) build the LSH plan — visible as the
    MapInArrow signature pass — and (b) warn with ScaleDispatchWarning;
    first-decade statistics must keep the exact plans warning-free."""
    import warnings

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} common footer grams here")
         for i in range(8)], "doc_id long, text string")
    arrs = dedup.shingle_arrays(docs, "doc_id", "text", k=3)

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # (a) escalated: LSH signature pass present, warning emitted
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        esc = dedup.containment_pairs_auto(
            arrs, threshold=0.6, df_head_ratio=0.19, n_docs=500_000)
        assert [x for x in w if issubclass(x.category,
                                           dedup.ScaleDispatchWarning)]
    assert "MapInArrow" in plan_of(esc)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        esc_j = dedup.jaccard_candidates_between_auto(
            arrs, arrs, threshold=0.7, df_head_ratio=0.19,
            n_docs=500_000)
        assert [x for x in w if issubclass(x.category,
                                           dedup.ScaleDispatchWarning)]
    assert "MapInArrow" in plan_of(esc_j)

    # (b) first decade: exact, silent
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        first = dedup.containment_pairs_auto(
            arrs, threshold=0.6, df_head_ratio=0.19, n_docs=50_000)
        assert not [x for x in w if issubclass(
            x.category, dedup.ScaleDispatchWarning)]
    assert "MapInArrow" not in plan_of(first)


def test_containment_lsh_exact_precision_and_subset_recall(spark):
    """The escalated containment path's semantics: PRECISION exact
    (verify recomputes true containment — every emitted pair is a true
    pair with exact values), RECALL ⊆ the exact plan's. On a corpus of
    verbatim duplicates (J = 1 → always co-bucketed) recall is 1.0 and
    the outputs are identical."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base + " extra trailing words here"),
         (3, "completely different text about spark shuffle partitions"),
         (4, "another unrelated document mentioning catalyst optimizer")],
        "doc_id long, text string")
    arrs = dedup.shingle_arrays(docs, "doc_id", "text", k=3)
    exact = {tuple(r) for r in
             dedup.containment_pairs_prefix(arrs, threshold=0.6).collect()}
    lsh = {tuple(r) for r in
           dedup.containment_pairs_lsh(arrs, threshold=0.6).collect()}
    assert lsh <= exact            # exact precision: no false pairs
    assert (0, 1) in {(a, b) for a, b, *_ in lsh}   # verbatim dup found
    # every emitted containment value matches the exact plan's value
    exact_by_pair = {(a, b): (ca, cb) for a, b, ca, cb in exact}
    for a, b, ca, cb in lsh:
        assert exact_by_pair[(a, b)] == (ca, cb)


_ZIPF10 = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "testdata_scale", "zipf10")


@pytest.mark.skipif(not os.path.isdir(_ZIPF10),
                    reason="zipf10 corpus not generated on this box")
def test_zipf10_corpus_routes_to_lsh(spark):
    """The r10 verdict's done-criterion, pinned on the REAL 500 k-doc
    Zipf corpus: the measured statistics (df head ≈ 0.19, n = 500 k)
    must route the auto dispatchers to the LSH ladder. Statistics are
    computed live (one df aggregate + one count over the corpus — the
    signals a 100 TB deployment stores as table stats); no pair plan
    is executed."""
    import warnings

    docs = spark.read.parquet(os.path.join(_ZIPF10, "documents.parquet"))
    arrs = dedup.shingle_arrays(dedup.spread(docs), "doc_id", "text", 3)
    # the sampled signal (the shingle_df_head_ratio docstring: dispatch
    # needs one order of magnitude, and a doc sample preserves the head
    # RATIO) — sampled BEFORE shingling so only ~10 k docs are shingled;
    # the full 65 M-shingle aggregate takes ~3 min and proves nothing
    # more here; bench_zipf records the full-signal value (0.187)
    sample = dedup.shingle_arrays(
        dedup.spread(docs.sample(fraction=0.02, seed=7)),
        "doc_id", "text", 3)
    head = dedup.shingle_df_head_ratio(sample)
    n_docs = docs.count()          # parquet metadata count
    assert n_docs >= dedup._SCALE_DISPATCH_DOCS
    assert head > dedup._DF_HEAD_DISPATCH
    assert dedup.auto_route(head, n_docs) == "lsh"
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        plan = dedup.containment_pairs_auto(
            arrs, threshold=0.6, df_head_ratio=head, n_docs=n_docs)
        assert [x for x in w if issubclass(x.category,
                                           dedup.ScaleDispatchWarning)]
    assert "MapInArrow" in \
        plan._jdf.queryExecution().executedPlan().toString()


def test_word_ngram_hash_frame_glen_matches_strings(spark):
    texts = [(0, "alpha  bb c dddd ee"), (1, "one two"), (2, "  solo  ")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    n = 3
    got = {(r.doc_id, r.pos): r.glen
           for r in text.word_ngram_hash_frame(
               docs, n=n, with_len=True).collect()}
    expect = {}
    for doc_id, t in texts:
        toks = [w for w in t.split() if w]
        for pos in range(max(len(toks) - n + 1, 0)):
            expect[(doc_id, pos)] = len(" ".join(toks[pos:pos + n]))
    assert got == expect


def test_mmr_rerank_negative_sims_not_clamped(spark):
    # three candidates in 2-D; candidate 2 points AWAY from candidate 1
    # (negative cosine), so after selecting 1 its MMR score must be
    # BOOSTED by the negative penalty term — a running max initialized
    # at 0 would clamp it (the bug this test pins)
    import numpy as np
    rows = [(0, 1, 0.9, [1.0, 0.0]),
            (0, 2, 0.8, [-1.0, 0.1]),
            (0, 3, 0.85, [1.0, 0.05])]
    cand = spark.createDataFrame(
        rows, "q_id long, c_id long, rel double, c_vec array<double>")
    got = {r.mmr_rank: (r.c_id, r.mmr_score) for r in
           similarity.mmr_rerank(cand, lam=0.7, penalty=0.3,
                                 k_select=3).collect()}
    # replicate greedily in numpy (true max over selected, no clamp)
    V = np.array([r[3] for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = np.round(Vn @ Vn.T, 6)
    rel = np.array([r[2] for r in rows])
    ids = np.array([r[1] for r in rows])
    sel, rem = [], list(range(3))
    for rank in range(1, 4):
        score = [0.7 * rel[i]
                 - (0.3 * max(S[i, j] for j in sel) if sel else 0.0)
                 for i in rem]
        best = rem[int(np.argmax(score))]
        assert got[rank][0] == ids[best]
        assert got[rank][1] == pytest.approx(max(score), abs=1e-12)
        sel.append(best); rem.remove(best)
    # and the selection order itself demonstrates the negative-sim
    # boost: candidate 2 (rel 0.8, anti-aligned) must outrank
    # candidate 3 (rel 0.85, near-duplicate of 1) at rank 2
    assert got[2][0] == 2 and got[3][0] == 3


def test_containment_prefix_plan_equals_count_plan(spark):
    # the prefix-filtered plan must be LOSSLESS: identical pair set and
    # containment values as the brute count-index plan on the real corpus
    from tests.conftest import SF_SMOKE
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    arrs = dedup.shingle_arrays(docs, "doc_id", "text", k=3)
    brute = {(r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a)
             for r in dedup.containment_pairs(
                 arrs, threshold=0.6).collect()}
    pref = {(r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a)
            for r in dedup.containment_pairs_prefix(
                arrs, threshold=0.6).collect()}
    assert pref == brute and len(brute) > 0


def test_n_blocks_rule_bounds_per_task_memory():
    """The all-pairs GEMM block-count rule (r11): blocks ∝ N with an
    8-block floor. A FIXED n_blocks=8 put a (500k/8)² float64 score
    matrix (~31 GB) in ONE task at the sf10 tier — the gate run was
    OOM-killed, the same silent-quadratic class as the r10 IVF fixed
    stride. The rule caps the matrix at ~_BLOCK_ROWS_TARGET² × 8 B
    (~300 MB) at any corpus size."""
    import math

    from pravega_flink_ai_flow_spark.ops.similarity import (
        _BLOCK_ROWS_TARGET, _n_blocks_rule)
    # floor holds for every driver-gate tier (sf0.001 .. sf1 corpus
    # sizes), so existing declared plans and their hashes are untouched
    for n in (1, 50, 500, 5_000, 49_152):
        assert _n_blocks_rule(n) == 8
    # above the floor: per-block rows never exceed the target
    for n in (49_153, 100_000, 500_000, 5_000_000):
        b = _n_blocks_rule(n)
        assert math.ceil(n / b) <= _BLOCK_ROWS_TARGET
    # the measured OOM case: 500 k docs get 82 bounded blocks, and the
    # score-matrix budget is ~300 MB, not 31 GB
    assert _n_blocks_rule(500_000) == 82
    assert (_BLOCK_ROWS_TARGET ** 2) * 8 < 400 * 2**20


def test_allpairs_output_is_blocking_independent(spark):
    """allpairs_topk_blocked re-scores selected pairs with the
    shape-independent _pair_dots pass, so the OUTPUT must be
    bit-identical under any block count — the property that makes the
    auto n_blocks rule a pure memory fix, never an answer change.
    cosine_near_dup_pairs_blocked gates AND emits from the same
    _pair_dots re-score since the r11-advice fix, so its output —
    emitted cosines included, unrounded — is held to the same
    bit-equality bar."""
    import numpy as np

    from pravega_flink_ai_flow_spark.ops import similarity

    rng = np.random.default_rng(5)
    rows = [(int(i), [float(x) for x in rng.normal(size=16)])
            for i in range(97)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def topk(nb):
        out = similarity.allpairs_topk_blocked(
            df, id_col="vec_id", vec_col="embedding", k=4,
            n_blocks=nb, round_dp=6)
        return sorted(tuple(r) for r in out.collect())

    base = topk(8)
    assert topk(3) == base and topk(11) == base
    # auto (floor 8 at this size) == the explicit historical layout
    assert topk(None) == base

    def pairs(nb):
        out = similarity.cosine_near_dup_pairs_blocked(
            df, id_col="vec_id", vec_col="embedding", threshold=0.5,
            n_blocks=nb)
        # UNROUNDED cosines: the _pair_dots re-score must make even the
        # emitted doubles bit-identical across block shapes
        return sorted(tuple(r) for r in out.collect())

    pbase = pairs(8)
    assert len(pbase) > 0
    assert pairs(3) == pbase and pairs(None) == pbase


def test_normalize_text_one_pass_equals_two_pass(spark):
    """r11: normalize_text collapsed its strip + whitespace-collapse
    regexes into ONE pass ([^a-z0-9]+ -> ' '); pin equivalence to the
    original two-pass form on adversarial strings (mixed runs of
    punctuation and spaces, unicode, leading/trailing junk, empties)."""
    from pyspark.sql import functions as F

    from pravega_flink_ai_flow_spark.ops import text as T

    rows = [(0, "Hello,   World!!"), (1, "a  b"), (2, "a . b"),
            (3, "--x--"), (4, ""), (5, "   "), (6, "...!?."),
            (7, "Ünïcødé\tmix\n2024"), (8, "a-b_c.d e"),
            (9, "UPPER lower 123"), (10, "x" * 500 + "!" * 500)]
    df = spark.createDataFrame(rows, "i long, s string")
    two_pass = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("s")), r"[^a-z0-9 ]", " "),
        r" +", " "))
    got = df.select("i", T.normalize_text(F.col("s")).alias("a"),
                    two_pass.alias("b")).collect()
    for r in got:
        assert r.a == r.b, (r.i, r.a, r.b)


def test_asof_merge_non_identifier_columns(spark):
    """r15 (r14 advice): asof_merge's selectExpr assembly must survive
    column names the bare simpleString() DDL would misparse — spaces,
    dashes, commas, colons, angle brackets, embedded backticks — and
    reject a name with a newline, which the SQL lexer cannot read even
    quoted, with a ValueError naming it."""
    weird_l = ["event id", "k,ey", "t:im<e>"]
    weird_r = ["order`id", "k-2", "t 2", "amt,val"]
    l = spark.createDataFrame(
        [(1, 10, ts(5)), (2, 10, ts(50)), (3, 11, ts(50))],
        "`event id` long, `k,ey` long, `t:im<e>` timestamp")
    r = spark.createDataFrame(
        [(100, 10, ts(0), 1.5), (101, 10, ts(40), 2.5),
         (102, 11, ts(60), 3.5)],
        "`order``id` long, `k-2` long, `t 2` timestamp, `amt,val` double")
    out = relational.asof_merge(
        l, r, left_on="k,ey", right_on="k-2",
        left_time="t:im<e>", right_time="t 2", tie_breakers=["order`id"])
    assert list(out.columns) == weird_l + weird_r
    got = {(x["event id"], x["order`id"]) for x in out.collect()}
    assert got == {(1, 100), (2, 101)}   # event 3 precedes its right row

    # a newline in a name cannot survive the SQL lexer: rejected by name
    l2 = l.withColumnRenamed("event id", "event\nid")
    with pytest.raises(ValueError, match=r"event\\nid"):
        relational.asof_merge(
            l2, r, left_on="k,ey", right_on="k-2",
            left_time="t:im<e>", right_time="t 2",
            tie_breakers=["order`id"])


def test_salted_join_detect_sample_validation(spark):
    l = spark.createDataFrame([(1, 0)], "row_id long, k long")
    r = spark.createDataFrame([(0, "d")], "rk long, name string")
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="detect_sample"):
            relational.salted_join(l, r, left_on="k", right_on="rk",
                                   hot_threshold=10, detect_sample=bad)


def test_word_shingles_non_identifier_column(spark):
    """r15 (r14 advice): the single-expr fast path must backtick-quote
    the interpolated column name — a name with spaces/dashes parsed as
    SQL syntax before."""
    df = spark.createDataFrame([(1, "a b c d")], "id long, `my text-col` string")
    fast = df.select(dedup.word_shingles("my text-col", 3).alias("s"))
    slow = df.select(dedup.word_shingles(F.col("my text-col"), 3).alias("s"))
    assert fast.collect() == slow.collect()
    assert sorted(fast.collect()[0].s) == ["a b c", "b c d"]
