"""Property tests (SURVEY.md §5.5): join/set-op algebraic identities of
the Spark plans checked against DuckDB on random small frames."""

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

rows_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-3, 3)), min_size=0, max_size=25)


def _to_spark(spark, rows, name):
    pdf = pd.DataFrame(rows or [(0, 0)][:0], columns=["k", "v"])
    if not rows:
        return spark.createDataFrame([], "k long, v long")
    return spark.createDataFrame(pdf.astype("int64"))


@settings(max_examples=15, deadline=None)
@given(a=rows_strategy, b=rows_strategy)
def test_inner_join_matches_duckdb(spark, a, b):
    da, db = _to_spark(spark, a, "a"), _to_spark(spark, b, "b")
    got = sorted((r[0], r[1], r[2]) for r in
                 da.join(db.withColumnRenamed("k", "k2").withColumnRenamed("v", "v2"),
                         F.col("k") == F.col("k2"))
                 .select("k", "v", "v2").collect())
    con = duckdb.connect()
    pa = pd.DataFrame(a, columns=["k", "v"])
    pb = pd.DataFrame(b, columns=["k", "v"])
    con.register("ta", pa)
    con.register("tb", pb)
    want = sorted(tuple(r) for r in con.sql(
        "SELECT ta.k, ta.v, tb.v FROM ta JOIN tb ON ta.k = tb.k").fetchall())
    assert got == want


@settings(max_examples=15, deadline=None)
@given(a=rows_strategy, b=rows_strategy)
def test_except_all_union_all_partition(spark, a, b):
    """A = (A exceptAll B) ∪all (A intersectAll B) — multiset identity."""
    da, db = _to_spark(spark, a, "a"), _to_spark(spark, b, "b")
    lhs = sorted(tuple(r) for r in da.collect())
    rhs = sorted(tuple(r) for r in
                 da.exceptAll(db).unionAll(da.intersectAll(db)).collect())
    assert lhs == rhs


@settings(max_examples=15, deadline=None)
@given(a=rows_strategy)
def test_groupby_sum_matches_duckdb(spark, a):
    da = _to_spark(spark, a, "a")
    got = sorted(tuple(r) for r in
                 da.groupBy("k").agg(F.sum("v").alias("s"),
                                     F.count("*").alias("n")).collect())
    con = duckdb.connect()
    pa = pd.DataFrame(a, columns=["k", "v"])
    con.register("ta", pa)
    want = sorted(tuple(r) for r in con.sql(
        "SELECT k, CAST(SUM(v) AS BIGINT), COUNT(*) FROM ta GROUP BY k").fetchall())
    assert got == want


@settings(max_examples=10, deadline=None)
@given(a=rows_strategy, b=rows_strategy)
def test_semi_plus_anti_partition_left(spark, a, b):
    """left = semi(left,b) ∪all anti(left,b) — row-level partition."""
    da, db = _to_spark(spark, a, "a"), _to_spark(spark, b, "b")
    semi = da.join(db, "k", "left_semi")
    anti = da.join(db, "k", "left_anti")
    assert sorted(map(tuple, da.collect())) == \
        sorted(map(tuple, semi.unionAll(anti).collect()))


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_asof_merge_matches_pandas_merge_asof(spark, data):
    """asof_merge vs pandas.merge_asof (backward, inclusive) as an
    independent oracle. Right times are unique per key so tie-break
    conventions can't differ between the implementations."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    keys = st.integers(0, 3)
    left_rows = data.draw(st.lists(
        st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=20))
    # unique (key, time) on the right
    right_raw = data.draw(st.lists(
        st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=20,
        unique_by=lambda t: (t[0], t[1])))

    lp = pd.DataFrame({
        "lid": range(len(left_rows)),
        "k": [k for k, _ in left_rows],
        "t": [base + dt.timedelta(minutes=m) for _, m in left_rows]})
    rp = pd.DataFrame({
        "rid": [1000 + i for i in range(len(right_raw))],
        "k2": [k for k, _ in right_raw],
        "t2": [base + dt.timedelta(minutes=m) for _, m in right_raw]})

    want_df = pd.merge_asof(
        lp.sort_values("t", kind="stable"), rp.sort_values("t2", kind="stable"),
        left_on="t", right_on="t2", left_by="k", right_by="k2",
        direction="backward", allow_exact_matches=True)
    want = {(r.lid, r.rid) for r in want_df.itertuples() if pd.notna(r.rid)}

    from pravega_flink_ai_flow_spark.ops import relational
    got = {(r.lid, r.rid) for r in relational.asof_merge(
        spark.createDataFrame(lp), spark.createDataFrame(rp),
        left_on="k", right_on="k2", left_time="t", right_time="t2",
        tie_breakers=["rid"]).collect()}
    assert got == want


# -- codec properties (no Spark needed: pure-python PNG/WAV) ----------------

@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24), h=st.integers(1, 16),
    c=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(w, h, c, seed):
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.multimodal import (
        decode_png, encode_png)
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    dw, dh, dc, out = decode_png(encode_png(arr))
    assert (dw, dh, dc) == (w, h, c)
    assert np.array_equal(out, arr)
    # Adam7 (r10): the interlaced encoding of the SAME pixels — a
    # different wire layout (7 independently filtered passes, empty
    # passes absent) — must reconstruct identically. Sizes below 8 px
    # exercise the empty-pass seam in both encoder and decoder.
    dw, dh, dc, out = decode_png(encode_png(arr, interlace=True))
    assert (dw, dh, dc) == (w, h, c)
    assert np.array_equal(out, arr)


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24), h=st.integers(1, 20),
    kind=st.sampled_from(["random", "gradient", "constant"]),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_property(w, h, kind, interlace, seed):
    """GIF (r11): LZW encode → container → decode must reproduce the
    index raster exactly through the grayscale palette; heights below
    8 exercise degenerate interlace passes (GIF's 4-pass row grid)."""
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.multimodal import (
        decode_gif, encode_gif)
    rng = np.random.default_rng(seed)
    if kind == "random":
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    elif kind == "gradient":
        px = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5)
              % 256).astype(np.uint8)
    else:
        px = np.full((h, w), seed % 256, np.uint8)
    dw, dh, dc, out = decode_gif(encode_gif(px, interlace=interlace))
    assert (dw, dh, dc) == (w, h, 3)
    # grayscale palette: every channel carries the index raster
    assert np.array_equal(out[:, :, 0], px)
    assert np.array_equal(out[:, :, 1], px)
    assert np.array_equal(out[:, :, 2], px)


def test_gif_lzw_spec_vector():
    """Pin the LZW bitstream against a HAND-DERIVED spec vector — the
    parity anchor for a codec with no reference decoder in this
    container (a self-consistent encode/decode pair could hide a
    complementary width-rule bug that real decoders would reject).

    Indices [0,1,1,0,0,0], mcs=2 → clear=4, eoi=5, first free code 6,
    initial width 3. Encoder emits CLEAR(4),0,1,1 at width 3 (adding
    entries 6=[0,1], 7=[1,1], 8=[1,0] — adding 8 == 1<<3 bumps the
    width), then 0, 9=[0,0], EOI(5) at width 4. LSB-first packing of
    100|000|100|100|0000|1001|0101 → bytes 0x44 0x02 0x59."""
    from pravega_flink_ai_flow_spark.ops.multimodal import (
        _lzw_decode, _lzw_encode)
    data = _lzw_encode(bytes([0, 1, 1, 0, 0, 0]), 2)
    assert data == bytes([0x44, 0x02, 0x59])
    assert bytes(_lzw_decode(data, 2, 6)) == bytes([0, 1, 1, 0, 0, 0])


def test_gif_dict_overflow_and_routing():
    """A high-entropy 128×128 raster drives the LZW dictionary past the
    12-bit cap (4096 codes → CLEAR emission + mid-stream reset on both
    sides), sequential AND interlaced; decode_image must route GIF by
    signature; truncated/foreign payloads must raise."""
    import numpy as np
    import pytest
    from pravega_flink_ai_flow_spark.ops.multimodal import (
        decode_gif, decode_image, encode_gif)
    px = np.random.default_rng(11).integers(
        0, 256, size=(128, 128), dtype=np.uint8)
    for il in (False, True):
        _, _, _, out = decode_gif(encode_gif(px, interlace=il))
        assert np.array_equal(out[:, :, 0], px)
    _, _, dc, _ = decode_image(encode_gif(px))
    assert dc == 3
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 4)    # truncated descriptor
    with pytest.raises(ValueError):
        decode_gif(b"not a gif")


def test_gif_container_features():
    """Container-level seams: 89a extension blocks (graphic control,
    comment) are skipped; a LOCAL color table overrides the global one;
    GIF87a signature is accepted."""
    import struct

    import numpy as np
    from pravega_flink_ai_flow_spark.ops.multimodal import (
        _gif_subblocks, _lzw_encode, decode_gif)

    w = h = 3
    px = np.arange(9, dtype=np.uint8).reshape(3, 3) % 4
    # 4-entry LOCAL palette (red ramp), mcs=2; GLOBAL palette is a
    # decoy (all blue) — a decoder using the wrong table fails the
    # channel check below
    global_pal = bytes([0, 0, 255] * 4)
    local_pal = bytes(v for i in range(4) for v in (60 * i, 0, 0))
    gce = b"\x21\xf9" + _gif_subblocks(b"\x00\x00\x00\x00")
    comment = b"\x21\xfe" + _gif_subblocks(b"synthetic")
    payload = (b"GIF87a"
               + struct.pack("<HHBBB", w, h, 0x81, 0, 0)   # 4-entry GCT
               + global_pal
               + gce + comment
               + struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x81)  # LCT
               + local_pal
               + bytes([2])
               + _gif_subblocks(_lzw_encode(px.tobytes(), 2))
               + b"\x3b")
    dw, dh, dc, out = decode_gif(payload)
    assert (dw, dh, dc) == (w, h, 3)
    assert np.array_equal(out[:, :, 0], px * 60)   # local red ramp used
    assert (out[:, :, 2] == 0).all()               # not the blue decoy


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=400),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.multimodal import (
        decode_wav, encode_wav)
    arr = np.asarray(samples, dtype="<i2")
    drate, nch, out = decode_wav(encode_wav(arr, rate))
    assert (drate, nch) == (rate, 1)
    assert np.array_equal(out, arr)


@settings(max_examples=12, deadline=None)
@given(a=rows_strategy)
def test_window_functions_match_duckdb(spark, a):
    """row_number / lag / running sum over a (k, v) frame with a
    deterministic (v, rowid) ordering must agree with DuckDB exactly."""
    rows = [(k, v, i) for i, (k, v) in enumerate(a)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, v long, rid long")
    from pyspark.sql import Window
    w = Window.partitionBy("k").orderBy("v", "rid")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = sorted(tuple(r) for r in df.select(
        "k", "v", "rid",
        F.row_number().over(w).alias("rn"),
        F.lag("v").over(w).alias("prev_v"),
        F.sum("v").over(wr).alias("run")).collect())
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "v", "rid"]))
    want = sorted(tuple(r) for r in con.sql("""
        SELECT k, v, rid,
               ROW_NUMBER() OVER w AS rn,
               LAG(v) OVER w AS prev_v,
               SUM(v) OVER (PARTITION BY k ORDER BY v, rid
                            ROWS UNBOUNDED PRECEDING) AS run
        FROM t WINDOW w AS (PARTITION BY k ORDER BY v, rid)
    """).fetchall())
    assert got == want


# Fuzz the Arrow-vectorized text featurizers against the Catalyst
# column ops: documents composed of words, whitespace runs (incl. tabs/
# newlines), stopwords, language markers, punctuation, and unicode.
_word = st.one_of(
    st.sampled_from(["the", "and", "der", "und", "el", "le", "la", "que",
                     "is", "cat", "Hello,", "x!?", "naïve", "东京", ""]),
    st.text(alphabet="abcXYZ.,!?'\"()[]äß \t\n", min_size=0, max_size=8))
_doc = st.lists(_word, min_size=0, max_size=30).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(_doc, min_size=1, max_size=12))
def test_text_frames_match_column_ops_fuzz(spark, texts):
    """language_id_frame and quality_frame must be EXACTLY equal to the
    Catalyst HOF ops on arbitrary junk text — same tokens, same counts,
    bit-identical double ratios — because their declared queries sit
    under the value-hash gate."""
    from pravega_flink_ai_flow_spark.ops import text as text_ops

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    t = F.col("text")
    want_lang = {r.doc_id: (r.g, r.s) for r in df.select(
        "doc_id",
        text_ops.language_id(t).alias("g"),
        text_ops.language_scores(t)["en"].alias("s")).collect()}
    got_lang = {r.doc_id: (r.lang_guess, r.s_en) for r in
                text_ops.language_id_frame(df, id_cols=("doc_id",)).collect()}
    assert got_lang == want_lang
    want_q = {r.doc_id: (r.n, r.sr, r.pr, r.wl, r.q) for r in df.select(
        "doc_id",
        text_ops.token_count(t).alias("n"),
        text_ops.stopword_ratio(t).alias("sr"),
        text_ops.punct_ratio(t).alias("pr"),
        text_ops.mean_word_length(t).alias("wl"),
        text_ops.quality_score(t).alias("q")).collect()}
    got_q = {r.doc_id: (r.n_tok, r.stopword_ratio, r.punct_ratio,
                        r.mean_word_len, r.quality)
             for r in text_ops.quality_frame(df).collect()}
    assert got_q == want_q


@settings(max_examples=8, deadline=None)
@given(data=st.lists(
    st.tuples(st.integers(min_value=0, max_value=10_000),
              st.lists(st.sampled_from([-2.0, -1.0, 0.5, 1.0, 3.0]),
                       min_size=4, max_size=4)),
    min_size=2, max_size=24, unique_by=lambda t: t[0]))
def test_allpairs_topk_matches_closure_fuzz(spark, data):
    """allpairs_topk_blocked (block-pair GEMM, no driver collect) must
    agree with the closure-broadcast scorer on arbitrary sparse ids,
    tied cosines, and n < k corpora — same (query, rank) → (candidate,
    cosine) map under the shared (cosine desc, id asc) order."""
    from pravega_flink_ai_flow_spark.ops import similarity

    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    q = df.select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec"))
    c = df.select(F.col("vec_id").alias("c_id"),
                  F.col("embedding").alias("c_vec"))
    closure = {(r.q_id, r.rank): (r.c_id, r.cosine)
               for r in similarity.brute_force_topk_blocked(
                   q, c, k=4).collect()}
    dist = {(r.vec_id_a, r.rank): (r.vec_id_b, r.cosine)
            for r in similarity.allpairs_topk_blocked(
                df, id_col="vec_id", vec_col="embedding",
                k=4, n_blocks=3).collect()}
    assert set(dist) == set(closure)
    for key, (cid, cos) in closure.items():
        did, dcos = dist[key]
        assert did == cid, (key, cid, did)
        assert abs(dcos - cos) < 1e-9


def test_allpairs_topk_ulp_tie_regression(spark):
    """Pinned minimal repro of a fuzz-falsified ulp-tie bug:
    vectors 1 and 63 are IDENTICAL but land in different pmod-3 blocks,
    so their (mathematically equal) cosines against every query were
    computed by different-shaped GEMMs and differed in the last ulp —
    the merge never saw the tie and ranked 63 above 1. The fix
    (_pair_dots re-score of selected pairs) must rank 1 first on the
    id-asc tiebreak, with round_dp=None, stably across runs. Self-pairs
    are never returned, so each twin ranks the other first."""
    from pravega_flink_ai_flow_spark.ops import similarity

    data = [(0, [-2.0, -2.0, -2.0, -2.0]),
            (1, [0.5, 1.0, 3.0, 3.0]),
            (63, [0.5, 1.0, 3.0, 3.0])]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    for _ in range(3):
        got = {(r.vec_id_a, r.rank): (r.vec_id_b, r.cosine)
               for r in similarity.allpairs_topk_blocked(
                   df, id_col="vec_id", vec_col="embedding",
                   k=4, n_blocks=3).collect()}
        # query 0: the twins tie and must order id-ascending
        assert got[(0, 1)][0] == 1 and got[(0, 2)][0] == 63
        # each twin ranks the other first
        assert got[(1, 1)][0] == 63 and got[(63, 1)][0] == 1
        # the tied scores are BIT-identical after the canonical
        # re-score — that's the property the fix restores
        assert got[(0, 1)][1] == got[(0, 2)][1]
        assert got[(1, 1)][1] == got[(63, 1)][1]


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(
    st.text(alphabet="abAB01 \t\n.,!ä東🎉", min_size=1, max_size=40),
    min_size=1, max_size=12))
def test_char_entropy_frame_matches_counter_fuzz(spark, texts):
    """char_entropy_frame's packed-key numpy histogram must equal a
    naive per-doc Counter replica on arbitrary unicode (incl. astral
    chars — the utf-32 view counts CODEPOINTS, exactly what the
    oracle's per-codepoint regexp explode counts), with the entropy
    equal to the same count formula up to float noise."""
    import collections
    import math

    from pravega_flink_ai_flow_spark.ops import text as text_ops

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r for r in
           text_ops.char_entropy_frame(df).collect()}
    for doc_id, t in enumerate(texts):
        c = collections.Counter(t)
        n = len(t)
        want_h = (math.log2(n)
                  - sum(v * math.log2(v) for v in c.values()) / n)
        r = got[doc_id]
        assert r.n_chars_total == n
        assert r.n_unique_chars == len(c)
        assert abs(r.char_entropy - want_h) < 1e-9


@settings(max_examples=8, deadline=None)
@given(data=st.lists(
    st.tuples(st.integers(min_value=0, max_value=10_000),
              st.lists(st.sampled_from([-2.0, -1.0, 0.5, 1.0, 3.0]),
                       min_size=4, max_size=4),
              st.integers(min_value=0, max_value=2)),
    min_size=2, max_size=24, unique_by=lambda t: t[0]))
def test_filtered_topk_matches_closure_fuzz(spark, data):
    """filtered_topk_blocked must equal brute_force_topk_blocked run
    key-by-key: for every query, rank ONLY same-key corpus rows by
    (cosine desc, id asc) — i.e. the filter applies BEFORE top-k
    selection. Fuzz covers keys absent from the query side, keys with
    fewer than k corpus rows (under-filled groups must emit all their
    rows, not pad), and exact cosine ties across ids.

    The reference is the per-key BRUTE op, not a raw numpy closure:
    distinct vectors whose true cosines are EQUAL real numbers land
    within 2 ulp of each other, where a hand-rolled ``qn @ cn`` closure
    legitimately orders them differently from the ops' shared
    matrix-normalize + ``_pair_dots`` pipeline (fuzz-caught: q=[-1,.5,
    -1,3] ties c=[-1,.5,3,.5] against c=[.5,.5,3,1]). Comparing op to
    op makes the check EXACT (bit-equal cosines) and simultaneously
    verifies batch-composition independence — filtered streams the
    whole corpus while brute sees only the key's subset."""
    from pravega_flink_ai_flow_spark.ops import similarity

    k = 3
    df = spark.createDataFrame(
        data, "vec_id long, embedding array<double>, label long")
    corpus = df.select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_vec"),
                       F.col("label").alias("c_key"))
    want = {}
    for key in sorted({t[2] for t in data}):
        qk = [(qid, qv) for qid, qv, kk in data if kk == key]
        ck = corpus.filter(F.col("c_key") == key).select("c_id", "c_vec")
        for r in similarity.brute_force_topk_blocked(qk, ck, k=k).collect():
            want[(r.q_id, r.rank)] = (r.c_id, r.cosine)

    q_rows = [(qid, qv, qkey) for qid, qv, qkey in data]
    got = {(r.q_id, r.rank): (r.c_id, r.cosine)
           for r in similarity.filtered_topk_blocked(
               q_rows, corpus, k=k).collect()}
    assert set(got) == set(want)
    for key, (cid, cos) in want.items():
        gid, gcos = got[key]
        assert gid == cid, (key, cid, gid)
        assert gcos == cos, (key, gcos, cos)   # same float pipeline


def test_filtered_topk_distinct_vector_tie_regression(spark):
    """Pinned fuzz catch: query 4 ties candidates 0 and 2 at the SAME
    real cosine (equal dots AND equal norms from different vectors) —
    a raw numpy closure and the ops' shared float pipeline resolve the
    2-ulp window differently, so the reference must be the per-key
    brute op, and the ranking must be stable across runs."""
    from pravega_flink_ai_flow_spark.ops import similarity

    data = [(0, [-1.0, 0.5, 3.0, 0.5], 0),
            (1, [-2.0, -2.0, -2.0, -2.0], 0),
            (713, [1.0, -2.0, -2.0, 1.0], 2),
            (1756, [3.0, 3.0, 3.0, 3.0], 2),
            (2866, [3.0, 3.0, 3.0, 3.0], 2),
            (20, [3.0, -2.0, -2.0, -2.0], 0),
            (5, [-2.0, -2.0, -2.0, -2.0], 0),
            (4, [-1.0, 0.5, -1.0, 3.0], 0),
            (3, [-2.0, -2.0, -2.0, -2.0], 0),
            (2, [0.5, 0.5, 3.0, 1.0], 0)]
    df = spark.createDataFrame(
        data, "vec_id long, embedding array<double>, label long")
    corpus = df.select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_vec"),
                       F.col("label").alias("c_key"))
    want = {}
    for key in sorted({t[2] for t in data}):
        qk = [(qid, qv) for qid, qv, kk in data if kk == key]
        ck = corpus.filter(F.col("c_key") == key).select("c_id", "c_vec")
        for r in similarity.brute_force_topk_blocked(qk, ck, k=3).collect():
            want[(r.q_id, r.rank)] = (r.c_id, r.cosine)
    for _ in range(3):
        got = {(r.q_id, r.rank): (r.c_id, r.cosine)
               for r in similarity.filtered_topk_blocked(
                   [(q, v, kk) for q, v, kk in data], corpus, k=3).collect()}
        assert got == want


def test_gif_lzw_against_naive_reference_decoder():
    """Fuzz the production LZW decoder against a second, independently
    structured implementation: a deliberately naive bit-by-bit decoder
    written straight from the GIF89a spec prose (string table of
    byte-strings, per-bit reads, no packing tricks). The hand vector
    pins one known bitstream; this pins the VARIABLE-WIDTH schedule and
    dictionary evolution across thousands of codes, including the
    12-bit cap + clear-reset region — a complementary-bug pair between
    the production encoder and decoder would have to fool a third,
    differently-shaped implementation too."""
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.multimodal import (
        _GIF_MAX_CODE, _lzw_decode, _lzw_encode)

    def naive_decode(data: bytes, mcs: int) -> bytes:
        bits = [(byte >> i) & 1 for byte in data for i in range(8)]
        pos = 0

        def read(width):
            nonlocal pos
            v = 0
            for i in range(width):
                v |= bits[pos + i] << i
            pos += width
            return v

        clear, eoi = 1 << mcs, (1 << mcs) + 1
        base = {i: bytes([i]) for i in range(1 << mcs)}
        out = bytearray()
        while True:
            table = dict(base)
            next_code = eoi + 1
            width = mcs + 1
            prev = None
            while True:
                code = read(width)
                if code == clear:
                    break               # re-init (outer loop)
                if code == eoi:
                    return bytes(out)
                if prev is None:
                    entry = table[code]
                else:
                    entry = (table[code] if code in table
                             else prev + prev[:1])
                out += entry
                if prev is not None and next_code < _GIF_MAX_CODE:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
                    if next_code == (1 << width) and width < 12:
                        width += 1
                prev = entry

    rng = np.random.default_rng(23)
    for mcs in (2, 4, 8):
        for trial in range(6):
            n = int(rng.integers(1, 9000))
            if trial % 3 == 0:
                idx = rng.integers(0, 1 << mcs, n).astype(np.uint8)
            elif trial % 3 == 1:   # runs: LZW's best case, long chains
                idx = np.repeat(rng.integers(0, 1 << mcs, max(1, n // 20)),
                                20)[:n].astype(np.uint8)
            else:                  # cycling pattern: grows deep chains
                idx = (np.arange(n) % (1 << mcs)).astype(np.uint8)
            payload = _lzw_encode(bytes(idx), mcs)
            want = bytes(idx)
            assert naive_decode(payload, mcs) == want, (mcs, trial, "naive")
            assert bytes(_lzw_decode(payload, mcs, len(want))) == want, \
                (mcs, trial, "prod")


def test_webp_vp8l_spec_vector():
    """Pin the VP8L wire format against a HAND-ASSEMBLED bitstream —
    the parity anchor for a codec with no reference decoder in this
    container (the GIF lesson: a self-consistent encode/decode pair
    could hide complementary canonical-code or bit-order bugs real
    decoders would reject). The stream below is written by a local
    10-line LSB-first packer, independent of ops.webp's writer, strictly
    from the spec's read sequence: 14-bit dims, no transforms, no
    cache, no meta-prefix, five SIMPLE prefix codes (green two-symbol —
    code 0 for the FIRST-listed symbol — red/blue/alpha/distance
    single-symbol 0-bit), then four 1-bit green codes for a 2×2 image
    with g = [[32,64],[32,64]], r=16, b=48, a=255."""
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.webp import decode_vp8l

    acc = []

    def put(value, n):            # LSB-first, the VP8L convention
        for i in range(n):
            acc.append((value >> i) & 1)

    put(1, 14)                    # width - 1
    put(1, 14)                    # height - 1
    put(0, 1)                     # alpha hint
    put(0, 3)                     # version
    put(0, 1)                     # no transforms
    put(0, 1)                     # no color cache
    put(0, 1)                     # no meta-prefix image
    # green: simple, 2 symbols, 8-bit first: 32 (code 0), 64 (code 1)
    put(1, 1); put(1, 1); put(1, 1); put(32, 8); put(64, 8)
    # red / blue / alpha: simple single-symbol (0 bits per read)
    put(1, 1); put(0, 1); put(1, 1); put(16, 8)
    put(1, 1); put(0, 1); put(1, 1); put(48, 8)
    put(1, 1); put(0, 1); put(1, 1); put(255, 8)
    # distance: simple single-symbol via the 1-bit-first form
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    # pixels: green codes 0,1,0,1 — prefix codes read MSB-first, but a
    # 1-bit code is its own MSB
    for bit in (0, 1, 0, 1):
        put(bit, 1)
    payload = bytes([0x2F]) + bytes(
        sum(b << i for i, b in enumerate(acc[k:k + 8]))
        for k in range(0, len(acc), 8))
    w, h, c, arr = decode_vp8l(payload)
    assert (w, h, c) == (2, 2, 4)
    assert np.array_equal(arr[:, :, 1], [[32, 64], [32, 64]])   # G
    assert (arr[:, :, 0] == 16).all()                           # R
    assert (arr[:, :, 2] == 48).all()                           # B
    assert (arr[:, :, 3] == 255).all()                          # A


def test_webp_roundtrip_grid_and_errors():
    """Encoder↔decoder over the feature grid (LZ77 on/off × cache
    sizes × channel counts, run + pixel-above references, plane and
    plain distance codes), plus the error surface: truncation,
    bad signature, lossy-VP8 seam, transform seam."""
    import numpy as np
    import pytest
    from pravega_flink_ai_flow_spark.ops.multimodal import decode_image
    from pravega_flink_ai_flow_spark.ops.webp import (
        decode_webp, encode_webp_lossless)

    rng = np.random.default_rng(3)
    for h, w, c in ((1, 1, 3), (7, 13, 4), (16, 5, 1), (2, 40, 4)):
        img = rng.integers(0, 256, size=(h, w, c)).astype(np.uint8) \
            if c > 1 else rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        for lz in (False, True):
            for cb in (0, 4, 8):
                for sg in (False, True):
                    dw, dh, dc, out = decode_webp(encode_webp_lossless(
                        img, use_lz77=lz, cache_bits=cb,
                        subtract_green=sg))
                    assert (dw, dh, dc) == (w, h, 4)
                    exp = img if img.ndim == 3 else img[:, :, None]
                    assert np.array_equal(out[:, :, 0], exp[:, :, 0])
                    if c == 4:
                        assert np.array_equal(out, exp)
    # vertical-stripe image: the distance-w reference dominates
    img = np.tile(rng.integers(0, 256, size=(1, 9, 4)).astype(np.uint8),
                  (25, 1, 1))
    data = encode_webp_lossless(img, use_lz77=True, cache_bits=6)
    assert np.array_equal(decode_webp(data)[3], img)
    # routed through the magic-byte seam
    assert decode_image(data)[2] == 4
    with pytest.raises(ValueError):
        decode_webp(data[:30])                     # truncated stream
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x00\x00\x00\x00WAVE")   # not WebP
    with pytest.raises(NotImplementedError, match="lossy"):
        decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")
    # the color-indexing transform stays a documented seam (r15: the
    # predictor and color transforms are now implemented, so the seam
    # probe is a hand-built header selecting type 3 explicitly)
    acc = []

    def put(value, n):
        for i in range(n):
            acc.append((value >> i) & 1)

    put(1, 14); put(1, 14); put(0, 1); put(0, 3)   # 2×2, hint, version
    put(1, 1); put(3, 2)                           # transform type 3
    seam = bytes([0x2F]) + bytes(
        sum(b << i for i, b in enumerate(acc[k:k + 8]))
        for k in range(0, len(acc), 8))
    with pytest.raises(NotImplementedError, match="color-indexing"):
        from pravega_flink_ai_flow_spark.ops.webp import decode_vp8l
        decode_vp8l(seam)
    # a duplicated transform type is a stream error, not a seam
    acc2 = []

    def put2(value, n):
        for i in range(n):
            acc2.append((value >> i) & 1)

    put2(1, 14); put2(1, 14); put2(0, 1); put2(0, 3)
    put2(1, 1); put2(2, 2); put2(1, 1); put2(2, 2)  # subtract-green ×2
    dup = bytes([0x2F]) + bytes(
        sum(b << i for i, b in enumerate(acc2[k:k + 8]))
        for k in range(0, len(acc2), 8))
    with pytest.raises(ValueError, match="duplicate"):
        from pravega_flink_ai_flow_spark.ops.webp import decode_vp8l
        decode_vp8l(dup)


def test_webp_transform_roundtrip_grid():
    """r15: the predictor (all 14 modes) and color transforms,
    encoder↔decoder, composed with subtract-green / LZ77 / color
    cache / both transform block sizes — the mode sub-images go
    through the real recursive entropy-section path on both sides."""
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.webp import (
        decode_webp, encode_webp_lossless)

    rng = np.random.default_rng(11)
    # smooth gradient + noise: predictors actually shrink residuals
    base = (np.add.outer(np.arange(9) * 7, np.arange(13) * 3) % 256)
    img = np.stack([(base + k * 31) % 256 for k in range(4)],
                   axis=2).astype(np.uint8)
    img += rng.integers(0, 8, size=img.shape).astype(np.uint8)
    for pred in range(14):
        for ct in (None, (16, -5, 3), (-120, 127, -128)):
            for sg in (False, True):
                for tb in (2, 9):
                    data = encode_webp_lossless(
                        img, use_lz77=True, cache_bits=4,
                        subtract_green=sg, predictor=pred,
                        color_transform=ct, transform_bits=tb)
                    assert np.array_equal(decode_webp(data)[3], img), \
                        (pred, ct, sg, tb)
    # gradient image: the T predictor beats the untransformed stream
    smooth = np.tile((np.arange(64) * 4 % 256).astype(np.uint8), (64, 1))
    plain = encode_webp_lossless(smooth, use_lz77=False)
    predicted = encode_webp_lossless(smooth, use_lz77=False, predictor=2)
    assert len(predicted) < len(plain)
    assert np.array_equal(decode_webp(predicted)[3][:, :, 0], smooth)


def test_webp_vp8l_predictor_spec_vector():
    """Third hand-assembled VP8L anchor: the PREDICTOR transform wire
    format, written bit by bit from RFC 9649 §4.4.1 independent of
    ops.webp's writer. 2×2 image, size_bits=2 (one block), mode 2 (T)
    in the 1×1 mode sub-image (whose five codes are all single-symbol
    — zero pixel bits), then residual greens [10,10,0,0] through a
    2-symbol simple code. Expected reconstruction: pixel(0,0) adds the
    BLACK predictor, (0,1) adds L, (1,0) adds T (border rules), (1,1)
    adds T via the block mode — G [[10,20],[10,20]], R=B=0, A=255."""
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.webp import decode_vp8l

    acc = []

    def put(value, n):            # LSB-first
        for i in range(n):
            acc.append((value >> i) & 1)

    put(1, 14); put(1, 14)        # 2×2
    put(0, 1); put(0, 3)          # alpha hint, version
    # ---- predictor transform header ----
    put(1, 1)                     # a transform follows
    put(0, 2)                     # type 0 = predictor
    put(0, 3)                     # size_bits = 2 (blocks 4×4 → 1×1)
    # ---- 1×1 mode sub-image: no cache; NO meta bit (not level 0) ----
    put(0, 1)                     # no color cache
    # green: simple single-symbol, value 2 (the mode, green channel)
    put(1, 1); put(0, 1); put(1, 1); put(2, 8)
    # red / blue / alpha: simple single-symbol zeros
    for _ in range(3):
        put(1, 1); put(0, 1); put(1, 1); put(0, 8)
    # distance: simple single-symbol via the 1-bit-first form
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    # (1 pixel × five 0-bit codes = no pixel bits at all)
    put(0, 1)                     # no more transforms
    # ---- main section ----
    put(0, 1)                     # no color cache
    put(0, 1)                     # no meta-prefix (level 0 only)
    # green: simple 2-symbol 8-bit: code 0 → 10, code 1 → 0
    put(1, 1); put(1, 1); put(1, 1); put(10, 8); put(0, 8)
    # red / blue: single-symbol 0; alpha: single-symbol 0 (residual!)
    for _ in range(3):
        put(1, 1); put(0, 1); put(1, 1); put(0, 8)
    # distance: single-symbol
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    # residual greens 10,10,0,0 → codes 0,0,1,1
    for bit in (0, 0, 1, 1):
        put(bit, 1)
    payload = bytes([0x2F]) + bytes(
        sum(b << i for i, b in enumerate(acc[k:k + 8]))
        for k in range(0, len(acc), 8))
    w, h, c, arr = decode_vp8l(payload)
    assert (w, h, c) == (2, 2, 4)
    assert np.array_equal(arr[:, :, 1], [[10, 20], [10, 20]])   # G
    assert (arr[:, :, 0] == 0).all()                            # R
    assert (arr[:, :, 2] == 0).all()                            # B
    assert (arr[:, :, 3] == 255).all()                          # A


def test_webp_vp8l_normal_code_spec_vector():
    """Second hand-assembled VP8L anchor, for the NORMAL prefix-code
    path (the simple-code vector above can't reach it): a 2×1 image
    whose green code is spelled out through a code-length code using
    the 17-repeat symbol and the max_symbol early-stop field — the
    machinery real encoders emit. Green lengths {10:1, 20:2, 30:2}
    (30 is an unused Kraft-completing symbol); code-length code
    lengths {17:1, 1:2, 2:2}; six code-length symbols read under
    max_symbol = 6. r/b/a/distance are simple single-symbol codes."""
    import numpy as np
    from pravega_flink_ai_flow_spark.ops.webp import decode_vp8l

    acc = []

    def put(value, n):
        for i in range(n):
            acc.append((value >> i) & 1)

    def code(bits_msb_first):
        acc.extend(bits_msb_first)

    put(1, 14); put(0, 14)        # width 2, height 1
    put(0, 1); put(0, 3)          # alpha hint, version
    put(0, 1)                     # no transforms
    put(0, 1)                     # no color cache
    put(0, 1)                     # no meta-prefix
    # ---- green: NORMAL form ----
    put(0, 1)                     # not simple
    put(1, 4)                     # num_code_lengths = 4 + 1 = 5
    # slots in kCodeLengthCodeOrder: 17→1, 18→0, 0→0, 1→2, 2→2
    for v in (1, 0, 0, 2, 2):
        put(v, 3)
    put(1, 1)                     # use max_symbol
    put(1, 3)                     # length_nbits = 2 + 2*1 = 4
    put(4, 4)                     # max_symbol = 2 + 4 = 6 reads
    # canonical CL code: 17→0 (1 bit), 1→10, 2→11
    code([0]); put(7, 3)          # 17: repeat 0 × (3+7)=10  → syms 0-9
    code([1, 0])                  # len 1                    → sym 10
    code([0]); put(6, 3)          # 17: 3+6=9 zeros          → 11-19
    code([1, 1])                  # len 2                    → sym 20
    code([0]); put(6, 3)          # 9 zeros                  → 21-29
    code([1, 1])                  # len 2                    → sym 30
    # ---- red / blue / alpha: simple single-symbol ----
    for sym in (5, 6, 255):
        put(1, 1); put(0, 1); put(1, 1); put(sym, 8)
    # ---- distance: simple single-symbol, 1-bit form ----
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    # ---- pixels: green 10 (code 0), then green 20 (code 10) ----
    code([0])
    code([1, 0])
    payload = bytes([0x2F]) + bytes(
        sum(b << i for i, b in enumerate(acc[k:k + 8]))
        for k in range(0, len(acc), 8))
    w, h, c, arr = decode_vp8l(payload)
    assert (w, h, c) == (2, 1, 4)
    assert np.array_equal(arr[0, :, 1], [10, 20])               # G
    assert (arr[:, :, 0] == 5).all() and (arr[:, :, 2] == 6).all()
    assert (arr[:, :, 3] == 255).all()
