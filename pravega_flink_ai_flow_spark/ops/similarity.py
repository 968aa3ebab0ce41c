"""Similarity search over embedding columns (SURVEY.md L3).

Every top-k op here is one local scorer plus one global merge: each
task selects its local top-k candidates per query, and
:func:`_rank_merge` ranks them (score desc, id asc). Self-pairs
(query id == candidate id) are dropped before local selection, so a
caller asking for ``k`` gets up to ``k`` real neighbours. Exact scorers
run as blocked GEMMs (query matrix in the task closure, or block pairs
of the corpus); LSH, IVF and PQ (``ops/pq.py``) are the approximate
paths that prune candidates before an exact rerank.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import corpus_doc_count
from .partitioning import spread


def _dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: zip_with multiply → aggregate sum (doubles).
    An unrolled ``get(a,0)*get(b,0) + ...`` chain was measured slower
    (m2 warm 1.8 s vs 1.1 s at sf0.1): the generated method exceeds
    HotSpot's JIT-compile size limit and runs interpreted. The fold's
    sequential summation matches the oracle's list_dot_product
    bit-exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_rows_per_col(M, ids, kk):
    """Per-column indices of the ``kk`` smallest values of ``M`` (n × m),
    ties broken by ascending ``ids``; returns shape (m·kk,) row indices,
    per-column contiguous. O(n) argpartition preselect per column, then
    an exact lexsort of the candidate set only. Ties AT the k-th value
    could order by id across the preselect boundary, so the candidate
    set widens to every row tying the threshold."""
    import numpy as np

    n, m = M.shape
    out = np.empty(kk * m, dtype=np.int64)
    full = None
    for j in range(m):
        col = M[:, j]
        if kk < n:
            cand = np.argpartition(col, kk - 1)[:kk]
            thresh = col[cand].max()
            cand = np.flatnonzero(col <= thresh)
        else:
            if full is None:
                full = np.arange(n)
            cand = full
        order = cand[np.lexsort((ids[cand], col[cand]))][:kk]
        out[j * kk:(j + 1) * kk] = order
    return out


def _worst(M):
    """The value that marks a cell of a lower-is-better score matrix as
    never selectable."""
    import numpy as np

    return np.iinfo(M.dtype).max if M.dtype.kind == "i" else np.inf


def _local_topk(M, ids, q_ids, k):
    """The local selection of every top-k op: per query column of ``M``
    (n candidates × m queries, lower is better) the rows of the ``k``
    best candidates, ties by ascending ``ids``, as aligned
    ``(rows, cols)`` picks. The candidate whose id equals its query's
    id (``q_ids[col]``; ids are unique per side) is never picked, nor
    is any cell the score rule set to :func:`_worst`. Writes ``M``."""
    import numpy as np

    worst = _worst(M)
    order = np.argsort(q_ids, kind="stable")
    pos = np.minimum(np.searchsorted(q_ids[order], ids), len(q_ids) - 1)
    hit = np.flatnonzero(q_ids[order][pos] == ids)
    M[hit, order[pos[hit]]] = worst
    kk = min(k, len(ids))
    rows = _topk_rows_per_col(M, ids, kk)
    cols = np.repeat(np.arange(M.shape[1]), kk)
    keep = M[rows, cols] != worst
    return rows[keep], cols[keep]


def _pair_dots(A, B):
    """Shape-independent per-pair dot products for the selected rows of
    two aligned (n × dim) matrices. A GEMM's blocked BLAS kernel varies
    with the matrix shape, so two mathematically equal scores computed
    in different batches or block pairs can differ in the last ulp, and
    the global (score desc, id asc) merge would then order identical
    vectors by that noise. ``(A*B).sum(axis=1)`` reduces each row over
    the fixed vector dim in numpy's pairwise order, so identical
    (query, candidate) vector pairs get bit-identical scores wherever
    they were selected and the merge's id tiebreak is deterministic."""
    import numpy as np

    return np.multiply(A, B).sum(axis=1)


def _quote(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _rank_merge(cands: DataFrame, *, part: str, tie: str, score: str,
                k: int, select: "list[str] | None" = None) -> DataFrame:
    """The global top-k merge of every top-k op, as ONE ``selectExpr``:
    the Column-DSL chain (window spec + ``withColumn`` + filter +
    select) cost ~40 py4j round trips for the identical WindowExec
    plan. ``select`` overrides the leading output expressions
    (already-quoted SQL snippets, e.g. aliased ids) — window references
    resolve against the INPUT row, so aliasing and ranking happen in
    the same projection."""
    exprs = list(select) if select is not None else [
        _quote(part), _quote(tie), _quote(score)]
    exprs.append(f"row_number() OVER (PARTITION BY {_quote(part)} ORDER BY "
                 f"{_quote(score)} DESC, {_quote(tie)}) AS rank")
    return cands.selectExpr(*exprs).filter(f"rank <= {int(k)}")


def _closure_topk(corpus: DataFrame, q_rows: list, rule, *, k: int,
                  names: tuple, keyed: bool = False, extra=None,
                  extra_schema: str = "") -> DataFrame:
    """The one Arrow batch loop of the closure-broadcast scorers.

    ``q_rows`` are the collected ``(id, vec[, key], ...)`` query rows;
    they ride in the task closure, one group per key when ``keyed``.
    ``corpus`` streams as ``(id, vec[, key], ...)`` through ONE
    ``mapInArrow`` pass — never shuffled or joined. ``rule(Q)`` runs
    once per query group on the driver and returns ``score(C) -> (M,
    value)``: ``M`` is the lower-is-better candidate × query matrix of
    one batch (or key group), ``value(rows, cols)`` the emitted score
    of the picks. Each batch emits only its :func:`_local_topk` picks
    as ``names`` = (query id, candidate id, score) plus ``extra(rb,
    rows, qrows)``'s columns (batch rows and query rows of the picks).
    An empty query set returns an empty frame.

    A tiny corpus is merged to ≥ 8 MB splits first: the per-row GEMM
    cost is small, so the fixed per-task Python round trip dominates
    near-empty splits (a narrow coalesce; no-op on large splits)."""
    import numpy as np
    import pyarrow as pa

    from .partitioning import compact_for_arrow

    out_schema = "{} long, {} long, {} double".format(*names) + extra_schema
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    groups: dict = {}
    for i, r in enumerate(q_rows):
        groups.setdefault(r[2] if keyed else None, []).append(i)
    scorers = {key: (np.asarray(qi), q_ids[qi], rule(Q[qi]))
               for key, qi in groups.items()}

    # mapInArrow, not mapInPandas: pandas converts the list column to
    # one numpy object per cell; Arrow's flatten() is the contiguous
    # value buffer, so batch → matrix is one reshape
    def score(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            C = (rb.column(1).flatten().to_numpy(zero_copy_only=False)
                 .reshape(n, -1).astype(np.float64, copy=False))
            if keyed:
                keys = rb.column(2).to_numpy(zero_copy_only=False)
                parts = [(np.flatnonzero(keys == key), scorers[key])
                         for key in np.unique(keys) if key in scorers]
            else:
                parts = [(None, scorers[None])]
            for sub, (qi, gq_ids, sc) in parts:
                ids_s, C_s = (ids, C) if sub is None else (ids[sub], C[sub])
                M, value = sc(C_s)
                rows, cols = _local_topk(M, ids_s, gq_ids, k)
                arrays = {names[0]: pa.array(gq_ids[cols], pa.int64()),
                          names[1]: pa.array(ids_s[rows], pa.int64()),
                          names[2]: pa.array(value(rows, cols), pa.float64())}
                if extra is not None:
                    arrays.update(extra(
                        rb, rows if sub is None else sub[rows], qi[cols]))
                yield pa.RecordBatch.from_arrays(list(arrays.values()),
                                                 names=list(arrays))

    return compact_for_arrow(corpus).mapInArrow(score, out_schema)


def _cosine_rule(Q):
    """Cosine score rule: one GEMM of the L2-normalized matrices selects,
    the shape-independent :func:`_pair_dots` re-score is emitted."""
    import numpy as np

    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(C):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        return -(Cn @ Qn.T), lambda rows, cols: _pair_dots(Qn[cols],
                                                            Cn[rows])
    return score


def brute_force_topk_blocked(queries: DataFrame | list, corpus: DataFrame, *,
                             query_id: str = "q_id", corpus_id: str = "c_id",
                             query_vec: str = "q_vec", corpus_vec: str = "c_vec",
                             k: int = 10,
                             max_queries: int = 100_000) -> DataFrame:
    """Exact top-k cosine per query via blocked GEMM: the unkeyed case of
    :func:`filtered_topk_blocked`. Replaces the per-pair higher-order
    function fold, which measured 46× slower than DuckDB at sf0.1."""
    return filtered_topk_blocked(
        queries, corpus, query_id=query_id, corpus_id=corpus_id,
        query_vec=query_vec, corpus_vec=corpus_vec, query_key=None,
        corpus_key=None, k=k, max_queries=max_queries)


def filtered_topk_blocked(queries: DataFrame | list, corpus: DataFrame, *,
                          query_id: str = "q_id", corpus_id: str = "c_id",
                          query_vec: str = "q_vec", corpus_vec: str = "c_vec",
                          query_key: str | None = "q_key",
                          corpus_key: str | None = "c_key",
                          k: int = 10,
                          max_queries: int = 100_000) -> DataFrame:
    """Exact top-k cosine per query, optionally metadata-FILTERED — the
    vector-DB "filtered search" pattern: each query row carries a key
    (language, source, class label, tenant …) and competes only against
    corpus rows with the SAME key, with the filter applied BEFORE top-k
    selection (post-filtering a global top-k silently under-fills the
    result). ``query_key=None`` scores every corpus row, with no
    per-batch mask or copy.

    The query side must be broadcast-small: it is collected once
    (guarded by ``max_queries`` — raises instead of OOMing the driver)
    unless passed pre-collected as ``[(id, vec[, key]), ...]``, and
    rides in the :func:`_closure_topk` closure; each Arrow batch runs
    one GEMM per (key present in the batch ∩ query keys). The global
    top-k is a window merge over |batches| × |queries| × k candidate
    rows — never the full pair matrix. Float64 GEMM only selects; the
    emitted cosine is the :func:`_pair_dots` re-score, which may differ
    from a sequential fold in the last ulp (inside the oracle's 1e-6
    canonicalization tolerance)."""
    keyed = query_key is not None
    if isinstance(queries, list):
        q_rows = queries
    else:
        q_rows = (queries.select(query_id, query_vec,
                                 *([query_key] if keyed else []))
                  .limit(max_queries + 1).collect())
    if len(q_rows) > max_queries:
        raise ValueError(
            f"query side exceeds max_queries={max_queries}; it must be "
            "broadcast-small — use lsh_bucket_topk/ivf_topk for large "
            "query sets")
    cols = [corpus_id, corpus_vec] + ([corpus_key] if keyed else [])
    cands = _closure_topk(corpus.select(*cols), q_rows, _cosine_rule, k=k,
                          names=(query_id, corpus_id, "cosine"), keyed=keyed)
    return _rank_merge(cands, part=query_id, tie=corpus_id,
                       score="cosine", k=k)


# Deterministic pseudo-random hyperplanes: component i of plane p is ±1
# from sha256(p, i) — computed in PYTHON at plan-build time and embedded
# as a constant array literal. The sign matrix is plan data, not row
# data: hashing inside an interpreted lambda per element × plane ×
# table × row costs ~15M hash calls at sf0.01.
def _plane_signs(plane: int, dim: int) -> list[float]:
    return [1.0 if hashlib.sha256(f"p{plane}_{i}".encode()).digest()[0] % 2 == 0
            else -1.0 for i in range(dim)]


def lsh_table_rows_arrow(df: DataFrame, *, id_col: str, vec_col: str,
                         n_tables: int, n_planes: int,
                         dim: int, carry_vec: bool = True) -> DataFrame:
    """(id, vec) → (id[, vec], lsh_table, bucket) — one output row per
    hash table, bucket = the table's sign-bit string. All
    ``n_tables × n_planes`` projections compute as ONE GEMM per Arrow
    batch against the constant sign matrix (the interpreted
    HOF-per-plane form cost 48 64-element folds per row — measured 5.8 s
    steady at sf0.1; this path ~10×). Sign convention matches the SQL
    oracle exactly: ``dot >= 0``. A GEMM sum can differ from a
    sequential fold in the last ulp, flipping a bit only when the
    projection is within ~1e-15 of zero — vanishingly unlikely and
    bounded by the pytest recall check.

    ``carry_vec=False`` drops the vector from the output rows: the band
    table then carries ~16 bytes per (row, table) instead of replicating
    each 64-float vector ``n_tables`` times across the Arrow boundary
    and into the bucket join; callers re-attach vectors from the base
    frame after the skinny pair dedup."""
    import numpy as np
    import pyarrow as pa

    S = np.asarray([_plane_signs(i, dim) for i in range(n_tables * n_planes)],
                   dtype=np.float64)                       # (T·P) × dim
    fmt = np.asarray(["".join(str((v >> (n_planes - 1 - p)) & 1)
                              for p in range(n_planes))
                      for v in range(1 << n_planes)])
    weights = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)
    vec_type = df.schema[vec_col].dataType.simpleString()
    out_schema = (f"{id_col} long, "
                  + (f"{vec_col} {vec_type}, " if carry_vec else "")
                  + "lsh_table int, bucket string")

    def tag(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids, varr = rb.column(0), rb.column(1)
            V = (varr.flatten().to_numpy(zero_copy_only=False)
                 .reshape(n, -1).astype(np.float64, copy=False))
            bits = ((V @ S.T) >= 0).reshape(n, n_tables, n_planes)
            vals = (bits * weights).sum(axis=2)            # n × tables
            take = pa.array(np.repeat(np.arange(n), n_tables))
            arrays = [ids.take(take)]
            names = [id_col]
            if carry_vec:
                arrays.append(varr.take(take))
                names.append(vec_col)
            arrays += [pa.array(np.tile(np.arange(n_tables, dtype=np.int32),
                                        n)),
                       pa.array(fmt[vals.ravel()])]
            names += ["lsh_table", "bucket"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.select(id_col, vec_col).mapInArrow(tag, out_schema)


def lsh_bucket_topk(queries: DataFrame, corpus: DataFrame, *,
                    query_id: str = "q_id", corpus_id: str = "c_id",
                    query_vec: str = "q_vec", corpus_vec: str = "c_vec",
                    k: int = 10, n_tables: int = 8, n_planes: int = 3,
                    dim: int = 64) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH. A pair is a
    candidate if it collides in ANY of ``n_tables`` independent tables of
    ``n_planes`` sign bits (the standard OR-of-ANDs construction: per-table
    match P = (1−θ/π)^planes, overall 1−(1−P)^tables — tables buy recall,
    planes buy selectivity). Candidates get an exact cosine rerank.

    At scale the per-query corpus scan becomes an equi-join on
    (table, bucket): candidate count drops ~2^planes per table.

    Rerank shape: bands are vector-free and the pair dedup moves 16-byte
    id pairs; vectors re-attach afterwards (the deduped pairs join the
    corpus, then the broadcast-small query side), so the collision
    fan-out is never shuffled with vectors. Carrying both 64-float
    vectors through the dedup measured 2.31 s of the query's 2.75 s at
    sf0.1 (174 k pairs). Per-side norms are projected once per row so
    each pair pays ONE interpreted fold, not three; dot / (qn · cn)
    keeps the association of :func:`cosine`, so scores are
    bit-identical."""
    qb = lsh_table_rows_arrow(queries, id_col=query_id, vec_col=query_vec,
                              n_tables=n_tables, n_planes=n_planes, dim=dim,
                              carry_vec=False)
    cb = lsh_table_rows_arrow(corpus, id_col=corpus_id, vec_col=corpus_vec,
                              n_tables=n_tables, n_planes=n_planes, dim=dim,
                              carry_vec=False)
    pairs = (cb.join(F.broadcast(qb), ["lsh_table", "bucket"])
             .select(query_id, corpus_id)
             .dropDuplicates([query_id, corpus_id])
             .filter(F.col(query_id) != F.col(corpus_id)))
    # NO spread_coalesced on the deduped pairs (measured: +0.11 s at
    # sf0.1 for nothing) — unlike l2's array_intersect verify (~ms/pair)
    # the rerank fold is ~µs/pair, so AQE's 1 MB-minimum coalescing of
    # 16-byte pair rows still leaves only ~0.1 s of work per partition
    c = corpus.withColumn("__cn", _norm(F.col(corpus_vec)))
    q = queries.withColumn("__qn", _norm(F.col(query_vec)))
    scored = (c.join(pairs, corpus_id)
              .join(F.broadcast(q), query_id)
              .withColumn("cosine",
                          _dot(F.col(query_vec), F.col(corpus_vec))
                          / (F.col("__qn") * F.col("__cn")))
              .select(query_id, corpus_id, "cosine"))
    return _rank_merge(scored, part=query_id, tie=corpus_id,
                       score="cosine", k=k)


def nearest_refs_arrow(df: DataFrame, *, id_col: str, vec_col: str,
                       ref_rows, k: int, out_col: str = "cell") -> DataFrame:
    """Per input row, the ``k`` nearest (by cosine, ties by ascending ref
    id) of a broadcast-small reference set — the IVF building block for
    both corpus→cell assignment (k=1) and query→probe-cells (k=nprobe).
    The collected reference matrix rides in the closure; each Arrow
    batch computes ALL row×ref cosines as one GEMM and emits k rows per
    input row. Ordering matches the SQL oracle: sim DESC, ref id ASC."""
    import numpy as np
    import pyarrow as pa

    from .numeric import seq_dots, sequential_sq_norm

    ref_ids = np.asarray([r[0] for r in ref_rows], dtype=np.int64)
    R = np.stack([np.asarray(r[1], dtype=np.float64) for r in ref_rows])
    Rn = R / np.linalg.norm(R, axis=1, keepdims=True)
    m = len(ref_ids)
    kk = min(k, m)
    # stable ref ordering for tie-break: pre-sort refs by id
    order0 = np.argsort(ref_ids, kind="stable")
    ref_ids, R, Rn = ref_ids[order0], R[order0], Rn[order0]
    # the ORACLE's per-ref norms, via its own sequential fold
    ref_seq_norm = np.array([np.sqrt(sequential_sq_norm(rv)) for rv in R])

    vec_type = df.schema[vec_col].dataType.simpleString()
    out_schema = (f"{id_col} long, {vec_col} {vec_type}, {out_col} long")

    def assign(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids, varr = rb.column(0), rb.column(1)
            V = (varr.flatten().to_numpy(zero_copy_only=False)
                 .reshape(n, -1).astype(np.float64, copy=False))
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Rn.T                              # n × m
            # full stable argsort: refs are broadcast-small by
            # construction, so n×m sort is cheap and EXACT on ties
            # (refs pre-sorted by id + stable sort ⇒ sim desc, id asc)
            srt = np.argsort(-S, axis=1, kind="stable")
            # Slack-banded exact re-score: the GEMM sims
            # above reassociate the oracle's normalize-then-fold chain,
            # so a pick whose margin at the selection BOUNDARY (rank
            # kk-1 vs kk — within-top-k order never leaves this
            # function) is inside float-noise could resolve the other
            # way in SQL. Those rare rows are re-scored through the
            # oracle's exact chain — sequential-fold dot over RAW
            # vectors divided by sequential-fold norms — and re-sorted.
            # 1e-9 on cosines in [-1,1] is ~1e6 ulps of headroom.
            pick = srt[:, :kk]
            if m > kk:
                # gather only the two boundary columns — a full
                # take_along_axis would copy the whole n×m sim matrix
                # to read 2 of its columns
                rr = np.arange(n)
                risky = np.nonzero(
                    S[rr, srt[:, kk - 1]] - S[rr, srt[:, kk]]
                    <= 1e-9)[0]
                for i in risky:
                    d = seq_dots(V[i:i + 1], R)[0]
                    vn = np.sqrt(sequential_sq_norm(V[i]))
                    exact = d / (vn * ref_seq_norm)
                    pick[i] = np.argsort(-exact, kind="stable")[:kk]
            pick = pick.ravel()
            take = pa.array(np.repeat(np.arange(n), kk))
            yield pa.RecordBatch.from_arrays(
                [ids.take(take), varr.take(take),
                 pa.array(ref_ids[pick], type=pa.int64())],
                names=[id_col, vec_col, out_col])

    return df.select(id_col, vec_col).mapInArrow(assign, out_schema)


def auto_centroid_stride(corpus: DataFrame) -> int:
    """The standard IVF sizing rule nlist ≈ √N as a deterministic id
    stride: ``max(1, ceil(N / ceil(√N)))``. A FIXED stride makes the
    centroid count grow linearly with the corpus, so cell assignment
    (one |corpus| × |centroids| GEMM) silently goes QUADRATIC — the
    sf1→sf10 scale gate measured l3_ivf_topk at 12.9× wall for 10×
    data before this rule (BENCH_sf10.json). With nlist ∝ √N,
    assignment FLOPs grow as N^1.5 with a GEMM-small constant (the
    measured wall tracks the linear scan), cells hold ≈√N vectors, and
    a fixed-count probe costs nprobe·√N per query. Past ~10^9 vectors
    the next rung is a two-level coarse quantizer (assign to √nlist
    coarse cells, refine among children) — same index layout, swap
    confined to this function and the assignment step.

    Both engines compute the rule from the same count: the DuckDB
    oracles inline it as a scalar subquery (GREATEST(1, CAST(ceil(
    count(*) / ceil(sqrt(count(*)))) AS BIGINT))) — ceil/sqrt/÷ are
    correctly-rounded IEEE doubles in both, so the strides agree
    bit-for-bit for any N < 2^53."""
    return _stride_rule(corpus_doc_count(corpus))


def _stride_rule(n: int) -> int:
    """The pure arithmetic of the √N rule — one definition shared by
    :func:`auto_centroid_stride` and the parity pytest that pins it
    against the oracles' SQL subquery (tests/test_operators.py)."""
    import math

    if n <= 1:
        return 1
    return max(1, math.ceil(n / math.ceil(math.sqrt(n))))


# Per-task GEMM block budget for the all-pairs block-pair ops: ~6 k
# rows/block keeps the block×block float64 score matrix ≈ 300 MB
# (6144² × 8 B) regardless of corpus size. Chosen so the sf1 corpus
# (50 k docs) lands just above the 8-block floor (9 blocks — plans
# effectively unchanged) while 500 k docs get 82 bounded blocks instead
# of 8 × 31 GB score matrices (the sf10 OOM, see auto_n_blocks).
_BLOCK_ROWS_TARGET = 6144


def _n_blocks_rule(n: int, floor: int = 8) -> int:
    """The pure arithmetic of the block-count rule — n_blocks =
    max(floor, ceil(N / _BLOCK_ROWS_TARGET)). One definition shared by
    :func:`auto_n_blocks` and its pytest."""
    import math

    return max(floor, math.ceil(max(n, 1) / _BLOCK_ROWS_TARGET))


def auto_n_blocks(df: DataFrame, floor: int = 8) -> int:
    """Block count for the all-pairs GEMM ops, scaled to the corpus —
    the :func:`auto_centroid_stride` lesson applied to block-pair
    memory: a FIXED ``n_blocks`` makes each task's score matrix grow
    as (N/blocks)² with the corpus, which is a silent per-executor OOM
    at the next decade, not a slowdown (measured: 500 k docs / 8
    blocks → 62.5 k² × 8 B ≈ 31 GB per task — the sf10 gate run was
    OOM-killed). With blocks ∝ N the score matrix is capped at
    ~:data:`_BLOCK_ROWS_TARGET`² × 8 B ≈ 300 MB per task at ANY corpus
    size; total all-pairs work stays honestly quadratic in wall-clock
    (shuffle replication grows as n_blocks/2 copies), but memory no
    longer is. The ``floor`` keeps small corpora at the measured
    8-block layout so existing sub-sf1 plans and their driver-gate
    hashes are untouched."""
    return _n_blocks_rule(corpus_doc_count(df), floor)


def ivf_train_quantizer(corpus: DataFrame, *, corpus_id: str = "c_id",
                        corpus_vec: str = "c_vec",
                        centroid_stride: int | None = None,
                        kmeans_iters: int = 0) -> list:
    """Build the IVF coarse quantizer: a deterministic strided corpus
    subsample, optionally refined by ``kmeans_iters`` distributed
    spherical-Lloyd steps. Returns broadcast-small ``(id, vec)`` rows
    for :func:`ivf_topk`'s ``centroid_rows``. ``centroid_stride=None``
    (the default) applies :func:`auto_centroid_stride`'s √N rule — a
    fixed stride is a measured second-decade quadratic (see there).
    The collect is guarded: an IVF index with more centroids than fit
    the driver is misconfigured (raise, don't OOM) — raise
    ``centroid_stride``."""
    if centroid_stride is None:
        centroid_stride = auto_centroid_stride(corpus)
    max_centroids = 200_000
    cent_rows = (corpus
                 .filter(F.pmod(F.col(corpus_id), F.lit(centroid_stride)) == 0)
                 .select(corpus_id, corpus_vec)
                 .limit(max_centroids + 1).collect())
    if len(cent_rows) > max_centroids:
        raise ValueError(
            f"IVF centroid set exceeds {max_centroids} rows — increase "
            "centroid_stride so the coarse quantizer stays "
            "broadcast-small (corpus/stride centroids)")
    if kmeans_iters > 0:
        import numpy as np

        from ..ml.kmeans import fit_spherical_kmeans_distributed
        init = np.stack([np.asarray(r[1], dtype=np.float64)
                         for r in cent_rows])
        C = fit_spherical_kmeans_distributed(
            corpus.select(corpus_vec), vec_col=corpus_vec,
            init=init, iters=kmeans_iters)
        cent_rows = [(i, C[i].tolist()) for i in range(C.shape[0])]
    return cent_rows


def ivf_topk(queries: DataFrame, corpus: DataFrame, *,
             query_id: str = "q_id", corpus_id: str = "c_id",
             query_vec: str = "q_vec", corpus_vec: str = "c_vec",
             k: int = 10, centroid_stride: int | None = None,
             nprobe: int = 4, kmeans_iters: int = 0,
             centroid_rows: list | None = None) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index, the other
    standard ANN layout next to LSH: partition the corpus into cells
    around centroids, probe only the ``nprobe`` nearest cells per query.

    Centroids are a deterministic corpus subsample (every
    ``centroid_stride``-th id; ``None`` → the √N sizing rule of
    :func:`auto_centroid_stride`) instead of k-means — same index
    structure, reproducible without an iterative training job. The centroid table
    is broadcast-small by construction (corpus/stride rows): it is
    collected once and rides the :func:`nearest_refs_arrow` closure, so
    cell assignment is one GEMM per Arrow batch of the streaming corpus
    (the HOF-per-centroid form it replaces interpreted |corpus|×|cents|
    folds); the probe step is the same op at k=nprobe on the tiny query
    side, and the candidate join is an equi-join on cell id. The collect
    is guarded: an IVF index with more centroids than fit the driver is
    misconfigured (raise, don't OOM) — raise ``centroid_stride``.

    ``kmeans_iters > 0`` refines the strided subsample with that many
    distributed spherical-Lloyd steps (``ml/kmeans.py`` — per iteration
    one map-only partial-sums job, centroids broadcast in the closure)
    before the index is built: the real IVF training recipe, with the
    strided init keeping it deterministic. Cells become tighter, so the
    same ``nprobe`` recovers more true neighbors. Centroid ids are then
    cluster indices rather than corpus ids.

    ``centroid_rows`` short-circuits training entirely with a
    precomputed quantizer — callers that run the same index repeatedly
    (oracle sweeps, bench loops) memoize :func:`ivf_train_quantizer`'s
    output per session and pass it here."""
    if centroid_rows is None:
        centroid_rows = ivf_train_quantizer(
            corpus, corpus_id=corpus_id, corpus_vec=corpus_vec,
            centroid_stride=centroid_stride, kmeans_iters=kmeans_iters)

    # corpus side: each vector lives in exactly its nearest cell
    assigned = nearest_refs_arrow(corpus, id_col=corpus_id,
                                  vec_col=corpus_vec, ref_rows=centroid_rows,
                                  k=1, out_col="cell")
    # query side: probe the nprobe nearest cells
    probes = nearest_refs_arrow(queries, id_col=query_id,
                                vec_col=query_vec, ref_rows=centroid_rows,
                                k=nprobe, out_col="cell")
    # NO dropDuplicates: a corpus vector lives in EXACTLY one cell (k=1
    # assignment) and a query's nprobe probe cells are distinct, so a
    # (query, corpus) pair meets at most once — a dedup would shuffle
    # the candidate fan-out WITH both vectors for identical output.
    # Per-side norms: one interpreted fold per row instead of three per
    # pair; dot / (qn · cn) keeps the association of cosine(), so
    # scores are bit-identical.
    cands = (assigned.withColumn("__cn", _norm(F.col(corpus_vec)))
             .join(F.broadcast(
                 probes.withColumn("__qn", _norm(F.col(query_vec)))),
                 "cell")
             .filter(F.col(query_id) != F.col(corpus_id)))
    scored = cands.withColumn(
        "cosine", _dot(F.col(query_vec), F.col(corpus_vec))
        / (F.col("__qn") * F.col("__cn")))
    return _rank_merge(scored, part=query_id, tie=corpus_id,
                       score="cosine", k=k)


def knn_candidates_blocked(train: DataFrame, test_rows, *, k: int,
                           id_col: str = "n_id", label_col: str = "n_label",
                           vec_col: str = "nv",
                           test_id_col: str = "vec_id",
                           test_label_col: str | None = None) -> DataFrame:
    """Exact squared-euclidean top-k candidates via blocked GEMM — the
    scale path for KNN scoring: the (broadcast-small) test matrix rides
    in the :func:`_closure_topk` closure, the train side streams through
    ``mapInArrow``, and each batch emits only its local top-k rows per
    test vector (dist2 asc, id asc; a train row with the test row's id
    is never picked); the caller merges. Per-pair cost is
    one fused BLAS multiply-add instead of an interpreted 64-step fold;
    per-task memory is one Arrow batch plus the test matrix. float64
    GEMM may differ from a sequential fold in the last ulp (pytest
    asserts prediction-level equality with the fold formulation).

    Output: (test id, train id, dist2, train label[, test label]).
    ``test_label_col``: when set, each candidate row also carries its
    TEST vector's label (``test_rows[i][2]``) straight from the closure,
    so the caller needs no label-attach join (a 2×|test|-literal
    ``create_map`` measured ~0.12 s of Catalyst analysis per call at
    |test|=100; a broadcast join costs an extra build job)."""
    import numpy as np
    import pyarrow as pa

    test_labels = np.asarray([r[2] for r in test_rows], dtype=np.int32)

    def rule(Xt):
        tt = (Xt * Xt).sum(axis=1)

        def score(X):
            # same accumulation shape as the fold: (tt - 2·t·n) + nn
            D = (tt[None, :] - 2.0 * (X @ Xt.T)) + (X * X).sum(axis=1)[:, None]
            return D, lambda rows, cols: D[rows, cols]
        return score

    def labels(rb, rows, qrows):
        out = {label_col: rb.column(2).take(pa.array(rows)).cast(pa.int32())}
        if test_label_col:
            out[test_label_col] = pa.array(test_labels[qrows], pa.int32())
        return out

    return _closure_topk(
        train.select(id_col, vec_col, label_col), test_rows, rule, k=k,
        names=(test_id_col, id_col, "dist2"), extra=labels,
        extra_schema=f", {label_col} int"
        + (f", {test_label_col} int" if test_label_col else ""))


def quantize_int8(V):
    """Symmetric per-vector int8 quantization: q_i = floor(v_i·127/max|v|
    + 0.5). Deterministic and EXACT across engines — the two float ops
    and the floor are identical doubles in numpy and SQL, so the
    quantized integers (and any integer dot product of them, < 2⁵³)
    hash-match an oracle that applies the same formula. Rows with
    max|v| = 0 quantize to all-zero (callers exclude them)."""
    import numpy as np

    maxabs = np.abs(V).max(axis=1, keepdims=True)
    safe = np.where(maxabs > 0, maxabs, 1.0)
    return np.floor(V * 127.0 / safe + 0.5).astype(np.int64)


def _int8_rule(Q):
    """int8 dot-product score rule: one exact int64 GEMM; zero vectors
    (max|v| = 0) on either side are never selected."""
    import numpy as np

    Q8, q_zero = quantize_int8(Q), np.abs(Q).max(axis=1) == 0

    def score(C):
        S = quantize_int8(C) @ Q8.T
        M, worst = -S, _worst(S)
        M[np.abs(C).max(axis=1) == 0] = worst
        M[:, q_zero] = worst
        # < 2⁵³, so double carries the integer score exactly
        return M, lambda rows, cols: S[rows, cols].astype(np.float64)
    return score


def quantized_topk(corpus: DataFrame, query_rows, *, k: int,
                   corpus_id: str = "vec_id", vec_col: str = "embedding",
                   query_id: str = "q_id", out_id: str = "c_id") -> DataFrame:
    """Approximate top-k by int8-quantized dot product — the
    4×-memory-compression ANN path (int8 vectors are what a 100 TB
    embedding store actually keeps hot; recall vs float cosine is
    pytest-checked). Same plan shape as the float scorer: quantized
    query matrix in the :func:`_closure_topk` closure, ONE integer GEMM
    per corpus batch (numpy int64 matmul is exact, so the scores are
    oracle-hashable), per-batch top-k + window merge."""
    cands = _closure_topk(corpus.select(corpus_id, vec_col), query_rows,
                          _int8_rule, k=k, names=(query_id, out_id, "score"))
    return _rank_merge(cands, part=query_id, tie=out_id,
                       score="score", k=k)


def _block_pairs(df: DataFrame, *, id_col: str, vec_col: str,
                 n_blocks: int | None, names: tuple, pair_fn) -> DataFrame:
    """The block-pair layout of the all-pairs ops: rows split into
    ``pmod(id, n_blocks)`` blocks, each unordered block pair (i ≤ j)
    lands in one ``applyInArrow`` group via a broadcast block-pair
    join, and ``pair_fn(same, ids_a, A, ids_b, B)`` gets the two
    blocks' ids and L2-normalized float64 matrices (``same`` when
    i = j) and returns the three output columns ``names`` (long, long,
    double).

    Shuffle volume is corpus × (n_blocks+1)/2 rows; per-task memory is
    two blocks of vectors plus their score matrix, so
    ``n_blocks=None`` applies :func:`auto_n_blocks`'s blocks-∝-N rule.
    Arrow, not pandas: pandas turns the list column into one numpy
    object per cell; Arrow's flatten() is the contiguous buffer."""
    import numpy as np
    import pyarrow as pa

    if n_blocks is None:
        n_blocks = auto_n_blocks(df)
    e = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
                  F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"))
    block_pairs = df.sparkSession.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "ba int, bb int")
    # a row participates in pair (ba, bb) if its block matches either side
    tagged = e.join(F.broadcast(block_pairs),
                    (F.col("blk") == F.col("ba")) | (F.col("blk") == F.col("bb")))
    schema = pa.schema([(names[0], pa.int64()), (names[1], pa.int64()),
                        (names[2], pa.float64())])

    def gemm(key: tuple, tbl: pa.Table) -> pa.Table:
        ba, bb = key[0].as_py(), key[1].as_py()
        blk = tbl.column("blk").to_numpy(zero_copy_only=False)
        ma, mb = blk == ba, blk == bb
        if not (ma.any() and mb.any()):
            return schema.empty_table()
        vid = tbl.column("vid").to_numpy(zero_copy_only=False).astype(np.int64)
        V = (tbl.column("vec").combine_chunks().flatten()
             .to_numpy(zero_copy_only=False).reshape(tbl.num_rows, -1))
        A = V[ma].astype(np.float64)
        B = V[mb].astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        return pa.table(dict(zip(names, pair_fn(ba == bb, vid[ma], A,
                                                vid[mb], B))),
                        schema=schema)

    return tagged.groupBy("ba", "bb").applyInArrow(
        gemm, "{} long, {} long, {} double".format(*names))


def cosine_near_dup_pairs_blocked(df: DataFrame, *, id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  threshold: float = 0.95,
                                  n_blocks: int | None = None) -> DataFrame:
    """All-pairs cosine ≥ threshold via blocked GEMM — the scalable exact
    formulation: each :func:`_block_pairs` group computes its
    block×block similarity as ONE numpy matrix multiply. Versus the
    row-at-a-time self-join this replaces |corpus|²/2 interpreted
    higher-order-function dot products with dense BLAS.

    Numerics: the GEMM only CANDIDATE-selects (with 1e-9 slack); the
    threshold decision and the emitted cosine both come from the
    shape-independent :func:`_pair_dots` re-score, so the output is
    invariant to ``n_blocks`` and block shape (pytest asserts
    bit-equality across block counts). The pairwise-sum value can still
    differ from a strict sequential fold in the last ulp — equal under
    any ≥1e-9 tolerance (pytest-checked against
    :func:`cosine_near_dup_pairs`); use the fold version when bit-exact
    SQL parity matters."""
    import numpy as np

    def pairs(same, ia, A, ib, B):
        ra, rb = np.nonzero(A @ B.T >= threshold - 1e-9)
        id_a, id_b, cos = ia[ra], ib[rb], _pair_dots(A[ra], B[rb])
        keep = cos >= threshold
        if same:
            # each unordered pair appears as (u,v) AND (v,u): keep one
            keep &= id_a < id_b
        id_a, id_b = id_a[keep], id_b[keep]
        return np.minimum(id_a, id_b), np.maximum(id_a, id_b), cos[keep]

    return _block_pairs(df, id_col=id_col, vec_col=vec_col,
                        n_blocks=n_blocks, names=("id_a", "id_b", "cosine"),
                        pair_fn=pairs)


def allpairs_topk_blocked(df: DataFrame, *, id_col: str = "vec_id",
                          vec_col: str = "embedding", k: int = 10,
                          n_blocks: int | None = None,
                          round_dp: int | None = None) -> DataFrame:
    """Exact all-pairs cosine top-k where the query set IS the corpus —
    fully distributed, NO driver collect of either side (the closure
    scorers raise past ``max_queries`` because their query matrix rides
    in the closure). Output: (``{id_col}_a``, ``{id_col}_b``, cosine,
    rank).

    Each :func:`_block_pairs` group runs ONE GEMM and emits the local
    top-k of block-j candidates per block-i query — and, for i ≠ j, the
    reverse direction too, so every query meets every candidate exactly
    once. A window merge over the |pairs| × k candidate rows yields the
    global top-k; the full pair matrix is never materialized and
    nothing is broadcast. Emitted scores are the shape-independent
    :func:`_pair_dots` re-score, so equal cosines arising in different
    block-pair GEMMs are bit-identical at the merge. Residual
    assumption: within ONE GEMM, identical candidate vectors score
    identically (true for standard BLAS), which the local selection's
    own tiebreak relies on.

    ``round_dp`` ranks BOTH the local selection and the global merge on
    the score rounded to that many decimals (ties → ascending id), and
    emits the rounded score, so the ordering is bit-identical to an
    oracle that ranks on ``ROUND(score, dp)``."""
    import numpy as np

    def emit(M, Q, C, q_ids, c_ids):
        rows, cols = _local_topk(M, c_ids, q_ids, k)
        cos = _pair_dots(Q[cols], C[rows])
        if round_dp is not None:
            cos = np.round(cos, round_dp)
        return q_ids[cols], c_ids[rows], cos

    def pairs(same, ia, A, ib, B):
        S = A @ B.T
        if round_dp is not None:
            S = np.round(S, round_dp)
        out = [emit(-S.T, A, B, ia, ib)]
        if not same:
            out.append(emit(-S, B, A, ib, ia))
        return [np.concatenate(c) for c in zip(*out)]

    cands = _block_pairs(df, id_col=id_col, vec_col=vec_col,
                         n_blocks=n_blocks, names=("q_id", "c_id", "cosine"),
                         pair_fn=pairs)
    return _rank_merge(
        cands, part="q_id", tie="c_id", score="cosine", k=k,
        select=[f"q_id AS {_quote(id_col + '_a')}",
                f"c_id AS {_quote(id_col + '_b')}", "cosine"])


def semdedup(df: DataFrame, *, id_col: str = "vec_id",
             vec_col: str = "embedding", centroid_rows,
             threshold: float = 0.95) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding clustering — assign every vector to its
    nearest centroid, find cosine-duplicate pairs only WITHIN each
    cluster, and keep one representative per transitive duplicate group
    (the smallest id, this repo's keeper convention).

    The point of the cluster step is scale: the quadratic pair search is
    confined to one cluster at a time, so with #centroids grown
    proportionally to the corpus the per-cluster GEMM stays
    constant-sized while the corpus-wide pair matrix (which
    :func:`cosine_near_dup_pairs_blocked` would sweep in full) never
    forms. The price is recall: duplicate pairs straddling a cluster
    boundary are not examined — that is SemDeDup's documented
    approximation, not a defect.

    Plan shape: centroid assignment is one GEMM per Arrow batch against
    the broadcast centroid matrix (:func:`nearest_refs_arrow`), then ONE
    ``applyInArrow`` per cell does the pair GEMM AND the transitive
    keeper resolution (task memory = one cell; Arrow, not pandas — the
    list column flattens zero-copy instead of one numpy object per
    cell-row). Every duplicate edge is by construction within-cell —
    the pair search never examines a cross-cell pair — so the
    components of the duplicate graph are confined to cells and a
    per-cell union-find (by min id, matching
    :func:`~..ops.dedup.connected_components` labels) is exact. The
    assignment subtree therefore appears once in the plan: a global
    connected-components + anti-join would reference ``assigned``
    twice, re-running the corpus scan and the assignment GEMM, and
    funnel the pair list through a driver collect. Returns the KEPT
    rows as ``(id_col, cell)``."""
    import numpy as np
    import pyarrow as pa

    assigned = nearest_refs_arrow(
        df.select(id_col, vec_col), id_col=id_col, vec_col=vec_col,
        ref_rows=centroid_rows, k=1, out_col="cell")

    def cell_keep(key: tuple, tbl: pa.Table) -> pa.Table:
        n = tbl.num_rows
        if n < 2:
            return tbl.select([id_col, "cell"])
        ids = tbl.column(id_col).to_numpy(zero_copy_only=False)
        V = (tbl.column(vec_col).combine_chunks().flatten()
             .to_numpy(zero_copy_only=False).reshape(n, -1)
             .astype(np.float64))
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        sims = V @ V.T
        ia, ib = np.nonzero(np.triu(sims >= threshold, k=1))
        if len(ia) == 0:
            return tbl.select([id_col, "cell"])
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(ids[ia].tolist(), ids[ib].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root: the representative is the smallest
                # id — identical labels to connected_components
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        losers = {x for x in parent if find(x) != x}
        keep = np.array([x not in losers for x in ids.tolist()], dtype=bool)
        return tbl.select([id_col, "cell"]).filter(pa.array(keep))

    return assigned.groupBy("cell").applyInArrow(
        cell_keep, f"{id_col} long, cell long")


def cosine_near_dup_pairs(df: DataFrame, *, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (L2 embedding variant), exact:
    id-ordered self-join + cosine filter. This is the oracle-checkable
    baseline; at corpus scale use ``lsh_bucket_topk``-style hyperplane
    blocking first so the pair count stays near-linear."""
    df = spread(df)
    a = (df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
         .withColumn("__na", _norm(F.col("vec_a"))))
    b = (df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
         .withColumn("__nb", _norm(F.col("vec_b"))))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (pairs.withColumn("cosine",
                             _dot(F.col("vec_a"), F.col("vec_b"))
                             / (F.col("__na") * F.col("__nb")))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def mmr_rerank(cand: DataFrame, *, lam: float = 0.7, penalty: float = 0.3,
               k_select: int = 3, query_id: str = "q_id",
               cand_id: str = "c_id", rel_col: str = "rel",
               vec_col: str = "c_vec", round_dp: int = 6) -> DataFrame:
    """Maximal Marginal Relevance diversity re-rank (Carbonell &
    Goldstein 1998): greedily select ``k_select`` of each query's
    candidates maximizing ``lam·rel − penalty·max_sim_to_selected``
    (rank 1, where the selected set is empty, drops the penalty term;
    later ranks use the TRUE max over selected sims, which can be
    negative). Retrieval and training-data pipelines use this to
    de-redundify a top-k before labeling/packing.

    ``lam``/``penalty`` are taken as two independent literals (NOT
    ``1-lam``) so an oracle writing the same decimal literals lands on
    the same doubles. ``rel_col`` must arrive already rounded to
    ``round_dp`` by the caller; candidate↔candidate cosines are rounded
    to the same precision before use, so every score is a single
    multiply-subtract of engine-identical doubles — ties break by
    ascending candidate id on both sides.

    Scale shape: the greedy loop is inherently sequential PER QUERY but
    embarrassingly parallel ACROSS queries, and its state is the
    candidate list — k-bounded by construction. ``applyInPandas`` over
    ``query_id`` is therefore the production plan: one small GEMM +
    k_select argmax sweeps per group, never a driver loop, never a
    cross-query shuffle beyond the one groupBy exchange."""
    import numpy as np
    import pandas as pd

    q_type = cand.schema[query_id].dataType.simpleString()
    c_type = cand.schema[cand_id].dataType.simpleString()
    out_schema = (f"{query_id} {q_type}, {cand_id} {c_type}, "
                  "mmr_rank int, mmr_score double")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(cand_id).reset_index(drop=True)
        C = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf[vec_col]])
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        S = np.round(Cn @ Cn.T, round_dp)
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[cand_id].to_numpy()
        n = len(ids)
        remaining = np.ones(n, dtype=bool)
        # true max over selected sims — similarities can be NEGATIVE,
        # so initializing the running max at 0 would silently clamp
        # them; rank 1 (empty selected set) drops the penalty term
        maxsim = np.full(n, -np.inf)
        rows = []
        for rank in range(1, min(k_select, n) + 1):
            base = (lam * rel if rank == 1
                    else lam * rel - penalty * maxsim)
            score = np.where(remaining, base, -np.inf)
            best = int(np.argmax(score))   # ids ascending → first max
            rows.append((pdf[query_id].iloc[0], ids[best],
                         rank, float(score[best])))
            remaining[best] = False
            maxsim = np.maximum(maxsim, S[:, best])
        return pd.DataFrame(
            rows, columns=[query_id, cand_id, "mmr_rank", "mmr_score"])

    return cand.groupBy(query_id).applyInPandas(greedy, schema=out_schema)
