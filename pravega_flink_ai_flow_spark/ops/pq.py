"""Product quantization (PQ) for ANN search — the compression layout
that makes 100 TB-scale vector search feasible at all.

A 64-dim float32 embedding is 256 bytes; its PQ code is m log2(ks)
bits — 10 bytes at the declared m=16, ks=32, a 25× compression. At
corpus scale that is
the difference between "the index fits in cluster RAM" and "every query
re-scans parquet". The classic recipe (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public):

1. **Train**: split each vector into ``m`` sub-vectors; per subspace,
   k-means with ``ks`` centroids. All ``m`` codebooks train TOGETHER in
   one distributed Lloyd loop — per iteration one map-only
   ``mapInArrow`` job emits partial per-(subspace, centroid) sums and
   counts (m·ks·dsub + m·ks doubles per partition), the driver reduces
   and updates (the same parameter-server shape as ``ml/softmax.py`` /
   ``ml/kmeans.py``).
2. **Encode**: one map pass turns each corpus vector into its ``m``
   nearest-sub-centroid indices.
3. **Search (ADC)**: per query, ONE small GEMM builds the m × ks table
   of query-subvector · centroid dot products; scoring a corpus code is
   then ``m`` table lookups — no float vector is ever touched. Each
   Arrow batch emits only its local shortlist per query.
4. **Rerank**: ADC scores are approximations, so the shortlist
   (``shortlist_mult × k`` ids) joins back to the true vectors for an
   exact cosine rerank — the standard fidelity recovery, touching only
   |queries| · shortlist full vectors.

Vectors are unit-normalized first, so the summed sub-dot-products
approximate cosine. Deterministic end to end: strided init, argmin
first-winner ties, partition-ordered reduction.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F


def _unit_rows(M: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return M / n


def train_pq_codebooks(corpus: DataFrame, *, vec_col: str, dim: int,
                       m: int = 8, ks: int = 16, iters: int = 6,
                       init_stride: int = 7) -> np.ndarray:
    """Train the m codebooks (returns ``(m, ks, dim//m)``) with one
    distributed Lloyd loop updating every subspace per pass. Init is a
    deterministic strided sample of the corpus (every ``init_stride``-th
    row in partition order, first ``ks`` kept)."""
    import pyarrow as pa

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    init_rows = (corpus
                 .select(F.col(vec_col).cast("array<double>")
                         .alias(vec_col))
                 .mapInArrow(_strided_sample(ks, init_stride),
                             f"{vec_col} array<double>")
                 .limit(ks * 4).collect())
    if len(init_rows) < ks:
        raise ValueError(f"corpus too small to seed {ks} PQ centroids")
    X0 = _unit_rows(np.stack([np.asarray(r[0], dtype=np.float64)
                              for r in init_rows[:ks]]))
    # per-subspace views of the same ks seed vectors
    C = np.stack([X0[:, s * dsub:(s + 1) * dsub] for s in range(m)])

    src = corpus.select(vec_col).persist()
    try:
        for _ in range(iters):
            def partials(batches, C=C):
                for rb in batches:
                    n = rb.num_rows
                    if n == 0:
                        continue
                    flat = rb.column(0).flatten() \
                        .to_numpy(zero_copy_only=False)
                    V = _unit_rows(flat.reshape(n, -1)
                                   .astype(np.float64, copy=False))
                    sums = np.zeros((m, ks, dsub))
                    counts = np.zeros((m, ks))
                    for s in range(m):
                        Vs = V[:, s * dsub:(s + 1) * dsub]
                        d2 = ((Vs[:, None, :] - C[s][None, :, :]) ** 2
                              ).sum(axis=2)
                        a = np.argmin(d2, axis=1)
                        np.add.at(sums[s], a, Vs)
                        counts[s] = np.bincount(a, minlength=ks)
                    out = np.concatenate([sums.ravel(), counts.ravel()])
                    yield pa.RecordBatch.from_arrays(
                        [pa.ListArray.from_arrays(
                            pa.array([0, out.size], type=pa.int32()),
                            pa.array(out, type=pa.float64()))],
                        names=["stats"])

            rows = (src.mapInArrow(partials, "stats array<double>")
                    .collect())
            total = np.sum([np.asarray(r["stats"]) for r in rows], axis=0)
            sums = total[:m * ks * dsub].reshape(m, ks, dsub)
            counts = total[m * ks * dsub:].reshape(m, ks)
            newC = C.copy()
            nz = counts > 0
            newC[nz] = sums[nz] / counts[nz][:, None]
            C = newC
        return C
    finally:
        src.unpersist()


def _strided_sample(need: int, stride: int):
    """mapInArrow generator: every ``stride``-th row, at most ``need``
    per partition — a deterministic seed sample without a shuffle."""
    import pyarrow as pa

    def gen(batches):
        taken = 0
        seen = 0
        for rb in batches:
            col = rb.column(0)
            idx = [i for i in range(rb.num_rows)
                   if (seen + i) % stride == 0]
            seen += rb.num_rows
            if not idx or taken >= need:
                continue
            idx = idx[:need - taken]
            taken += len(idx)
            yield pa.RecordBatch.from_arrays(
                [col.take(pa.array(idx))], names=[rb.schema.names[0]])

    return gen


def pq_topk(queries: DataFrame, corpus: DataFrame, *,
            query_id: str = "q_id", corpus_id: str = "c_id",
            query_vec: str = "q_vec", corpus_vec: str = "c_vec",
            k: int = 10, dim: int, m: int = 8, ks: int = 16,
            iters: int = 6, shortlist_mult: int = 5,
            max_queries: int = 100_000,
            codebooks: "np.ndarray | None" = None) -> DataFrame:
    """PQ-compressed top-k: train → encode → ADC shortlist → exact
    rerank. Output: (query_id, corpus_id, cosine, rank ≤ k), self-pairs
    dropped; an empty query set returns an empty frame. ``codebooks``
    short-circuits training with a precomputed
    :func:`train_pq_codebooks` result — callers that run the same index
    repeatedly memoize it per session."""
    import pyarrow as pa

    from .similarity import _rank_merge, cosine

    q_rows = (queries.select(query_id, query_vec)
              .limit(max_queries + 1).collect())
    if len(q_rows) > max_queries:
        raise ValueError(
            f"PQ query set exceeds {max_queries} rows — shortlist "
            "scoring broadcasts the query matrix; split the query set")
    if not q_rows:
        return queries.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, cosine double, "
            "rank int")
    C = codebooks if codebooks is not None else train_pq_codebooks(
        corpus, vec_col=corpus_vec, dim=dim, m=m, ks=ks, iters=iters)
    if C.shape != (m, ks, dim // m):
        raise ValueError(
            f"codebooks shape {C.shape} does not match (m={m}, ks={ks}, "
            f"dsub={dim // m}) — stale cache entry or wrong parameters")
    dsub = dim // m
    q_ids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    Q = _unit_rows(np.stack([np.asarray(r[1], dtype=np.float64)
                             for r in q_rows]))
    # ADC tables: per query, per subspace, dot with each centroid —
    # (nq, m, ks); scoring a code is m lookups + a sum
    T = np.stack([Q[:, s * dsub:(s + 1) * dsub] @ C[s].T
                  for s in range(m)], axis=1)
    nq = len(q_ids)
    # +1: a query drawn from the corpus shortlists its own vector, which
    # the self-pair filter then drops, so it must not cost a real slot
    shortlist = shortlist_mult * k + 1

    def score(batches, C=C, T=T):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            flat = rb.column(1).flatten().to_numpy(zero_copy_only=False)
            V = _unit_rows(flat.reshape(n, -1)
                           .astype(np.float64, copy=False))
            # encode the batch: (n, m) uint8 codes
            codes = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                Vs = V[:, s * dsub:(s + 1) * dsub]
                d2 = ((Vs[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = np.argmin(d2, axis=1)
            # ADC: scores (nq, n) = sum over subspaces of table lookups
            S = np.zeros((nq, n))
            for s in range(m):
                S += T[:, s, :][:, codes[:, s]]
            kk = min(shortlist, n)
            part = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            take = part.ravel()
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(q_ids, kk), type=pa.int64()),
                 pa.array(ids[take], type=pa.int64())],
                names=[query_id, corpus_id])

    # no dropDuplicates: each corpus row is scored in exactly one Arrow
    # batch, so a (query, corpus) pair is emitted at most once (unlike
    # LSH/IVF, where multi-table/multi-probe collisions make the dedup
    # load-bearing) — deduping here would only add a hash Exchange
    cand = (corpus.select(corpus_id, corpus_vec)
            .mapInArrow(score, f"{query_id} long, {corpus_id} long")
            .filter(F.col(query_id) != F.col(corpus_id)))
    # exact rerank on the shortlist only: join back to the true vectors
    qv = queries.select(F.col(query_id), F.col(query_vec))
    cv = corpus.select(F.col(corpus_id), F.col(corpus_vec))
    scored = (cand.join(F.broadcast(qv), query_id).join(cv, corpus_id)
              .withColumn("cosine",
                          cosine(F.col(query_vec), F.col(corpus_vec))))
    return _rank_merge(scored, part=query_id, tie=corpus_id,
                       score="cosine", k=k)
