"""ML-operator queries (SURVEY.md §2.11, M1-M3) expressed as declarative
plans over ``embeddings`` so the DuckDB oracle can check them.

The reference's model is KNeighborsClassifier(n_neighbors=5)
(processor.py:128) and its validate metric is mean accuracy
(knn.score, processor.py:180). Both re-expressed Spark-first:
KNN = broadcast-join + top-k window + majority vote; accuracy =
avg(pred == label). The sklearn/joblib registry flow itself lives in
``pravega_flink_ai_flow_spark.ml`` and is covered by the pytest iris
end-to-end suite (it is not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from . import declared, tables, tier
from ..engine.memo import memo

_SPLIT = 100   # vec_id < _SPLIT → test set; rest → train set
_K = 5
# driver-collect guard: a misconfigured split must degrade to the
# distributed scorer, not OOM the driver (VERDICT.md r3 wrong #4)
_MAX_TEST_ROWS = 100_000


def _test_rows(spark: SparkSession, sf_dir: str) -> list | None:
    """Collected (vec_id, embedding, label) test split, or None if it
    exceeds the broadcast-safe guard."""
    def collect():
        from . import head_rows_fast

        fast = head_rows_fast(sf_dir, "embeddings", key_col="vec_id",
                              bound=_SPLIT,
                              cols=("vec_id", "embedding", "label"))
        if fast is not None:
            rows = fast[:_MAX_TEST_ROWS + 1]
        else:
            (emb,) = tables(spark, sf_dir, "embeddings")
            rows = (emb.filter(F.col("vec_id") < _SPLIT)
                    .select("vec_id", "embedding", "label")
                    .limit(_MAX_TEST_ROWS + 1).collect())
        return None if len(rows) > _MAX_TEST_ROWS \
            else [(r[0], r[1], r[2]) for r in rows]
    return memo(spark, ("test_split", sf_dir, _MAX_TEST_ROWS), tier(sf_dir),
                collect)


_KNN_CTE = f"""
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    test  AS (SELECT * FROM e WHERE vec_id <  {_SPLIT}),
    train AS (SELECT * FROM e WHERE vec_id >= {_SPLIT}),
    dists AS (
        SELECT t.vec_id, t.label AS true_label,
               n.vec_id AS n_id, n.label AS n_label,
               list_dot_product(t.v, t.v) - 2 * list_dot_product(t.v, n.v)
                 + list_dot_product(n.v, n.v) AS dist2
        FROM test t CROSS JOIN train n
    ),
    nearest AS (
        SELECT vec_id, true_label, n_label FROM (
            SELECT vec_id, true_label, n_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist2, n_id) AS rn
            FROM dists
        ) WHERE rn <= {_K}
    ),
    votes AS (
        SELECT vec_id, true_label, n_label AS pred_label, COUNT(*) AS n_votes
        FROM nearest GROUP BY vec_id, true_label, n_label
    ),
    pred AS (
        SELECT vec_id, true_label, pred_label FROM (
            SELECT vec_id, true_label, pred_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY n_votes DESC, pred_label) AS vr
            FROM votes
        ) WHERE vr = 1
    )
"""


def _knn_vote(nearest: DataFrame) -> DataFrame:
    """Majority vote with deterministic tie-break (votes desc, label asc)
    — shared by the fold and blocked formulations."""
    # single-selectExpr assembly (r15, bench plan-build): identical
    # aggregate + WindowExec nodes, a handful of py4j round trips
    # instead of ~25
    votes = (nearest.selectExpr("vec_id", "true_label",
                                "n_label AS pred_label")
             .groupBy("vec_id", "true_label", "pred_label")
             .agg(F.count("*").alias("n_votes")))
    return (votes.selectExpr(
        "vec_id", "true_label", "pred_label",
        "row_number() OVER (PARTITION BY vec_id ORDER BY n_votes DESC, "
        "pred_label) AS vr")
        .filter("vr = 1")
        .select("vec_id", "true_label", "pred_label"))


def _spark_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path KNN: the test set (broadcast-small by construction,
    mirroring the reference's in-memory predict input, processor.py:236)
    rides in the scorer closure; the train side streams once through a
    blocked-GEMM ``mapInArrow`` that emits per-batch top-k candidates;
    a window merge + majority vote finishes. One train pass, no pair
    materialization — the plan a 1000-executor cluster wants. An
    oversized test split (guarded collect) degrades to the all-JVM
    distributed fold instead of OOMing the driver."""
    from ..ops.similarity import knn_candidates_blocked

    test_rows = _test_rows(spark, sf_dir)
    if test_rows is None:
        return _spark_knn(spark, sf_dir)
    (emb,) = tables(spark, sf_dir, "embeddings")
    # no spread(): one GEMM per input partition is the efficient shape —
    # BLAS parallelism inside the batch, not task fan-out (the fold path
    # needs spread because its per-row cost is interpreter-bound)
    train = (emb.filter(f"vec_id >= {_SPLIT}")
             .selectExpr("vec_id AS n_id", "label AS n_label",
                         "embedding AS nv"))
    # the scorer emits each test vector's true label straight from the
    # closure — no label-attach step at all. (Both alternatives cost
    # real time per call: a 2×|test|-literal create_map is ~0.12 s of
    # pure Catalyst analysis at |test|=100, scaling to a driver stall
    # near the collect guard — ADVICE r4 — and a broadcast label join
    # adds a build job per run.)
    cands = knn_candidates_blocked(train, test_rows, k=_K,
                                   test_label_col="true_label")
    nearest = (cands.selectExpr(
        "*", "row_number() OVER (PARTITION BY vec_id ORDER BY dist2, "
        "n_id) AS rn")
        .filter(f"rn <= {_K}"))
    return _knn_vote(nearest.drop("dist2", "rn"))


def _spark_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = tables(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label",
                   F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)

    test = (e.filter(F.col("vec_id") < _SPLIT)
            .select(F.col("vec_id"), F.col("label").alias("true_label"),
                    F.col("v").alias("tv"))
            .withColumn("__tt", dot(F.col("tv"), F.col("tv"))))
    # the |test|×|train| dot products run on the train side's partitioning
    # — spread the small single-file table across cores first
    from ..ops.partitioning import spread
    train = (spread(e.filter(F.col("vec_id") >= _SPLIT))
             .select(F.col("vec_id").alias("n_id"),
                     F.col("label").alias("n_label"), F.col("v").alias("nv"))
             .withColumn("__nn", dot(F.col("nv"), F.col("nv"))))

    # ||t-n||² = t·t − 2 t·n + n·n with the self-dots precomputed per side
    # (pure functions — same doubles as the oracle's inline form), so each
    # of the |test|×|train| pairs costs ONE dot product
    dists = (train.join(F.broadcast(test))
             .withColumn("dist2",
                         F.col("__tt")
                         - 2 * dot(F.col("tv"), F.col("nv"))
                         + F.col("__nn")))
    w = Window.partitionBy("vec_id").orderBy("dist2", "n_id")
    nearest = (dists.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= _K)
               .select("vec_id", "true_label", "n_label"))
    return _knn_vote(nearest)


@declared(
    "m2_knn_predict",
    oracle=f"""
    WITH {_KNN_CTE}
    SELECT vec_id, true_label, pred_label FROM pred
    """,
    survey_ids=("M2", "F1", "J7", "O3"),
)
def m2_knn_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN (k=5, euclidean, majority vote with deterministic tie-breaks):
    one train pass through the blocked-GEMM scorer → per-batch top-k
    candidates → window merge → vote. Mirrors the reference's predict
    job (processor.py:236-258); the all-JVM fold formulation
    (:func:`_spark_knn`) is pytest-asserted to predict identically."""
    return _spark_knn_blocked(spark, sf_dir)


@declared(
    "m3_model_accuracy",
    oracle=f"""
    WITH {_KNN_CTE}
    SELECT CAST(COUNT(*) FILTER (WHERE pred_label = true_label) AS DOUBLE)
             / COUNT(*) AS accuracy,
           COUNT(*) AS n_test
    FROM pred
    """,
    survey_ids=("M3",),
)
def m3_model_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validate metric: mean accuracy ≡ knn.score (processor.py:180) —
    avg(pred == label) as a deterministic aggregate."""
    pred = _spark_knn_blocked(spark, sf_dir)
    return pred.agg(
        (F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
         .cast("double") / F.count("*")).alias("accuracy"),
        F.count("*").alias("n_test"),
    )


@declared(
    "m4_ridge_predict",
    oracle=None,   # closed-form solve of a distributed Gram system —
                   # not SQL-expressible; pytest proves the distributed
                   # statistics match a driver-side lstsq fit
    survey_ids=("M1", "M2", "F6"),
)
def m4_ridge_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second model family, trained DISTRIBUTED: ridge regression of the
    label on the embedding via sufficient statistics — one mapInArrow
    pass emits per-batch partial Gram matrices (d² doubles, never the
    data), the driver solves the 65×65 system (ml/linear.py). Unlike
    the reference's collect-and-fit sklearn path this holds at 100 TB:
    zero shuffles, statistics reduce like any partial aggregate.
    Predictions for the held-out split come from the coefficient vector
    embedded as a plan literal. Rows-only by necessity (the Gram solve
    is not SQL-expressible); the SCORING half is hash-checked by the
    frozen-weights twin m4b_ridge_score_pinned."""
    from ..ml.linear import fit_ridge_distributed

    (emb,) = tables(spark, sf_dir, "embeddings")
    train = (emb.filter(F.col("vec_id") >= _SPLIT)
             .select("embedding", F.col("label").cast("double").alias("y")))
    model = fit_ridge_distributed(train, vec_col="embedding", label_col="y")
    coef = F.array(*[F.lit(float(c)) for c in model.coef])
    pred = F.aggregate(
        F.zip_with(F.col("embedding"), coef,
                   lambda v, c: v.cast("double") * c),
        F.lit(float(model.intercept)), lambda acc, x: acc + x)
    return (emb.filter(F.col("vec_id") < _SPLIT)
            .select("vec_id", F.col("label").alias("true_label"),
                    pred.alias("pred"))
            .orderBy("vec_id"))


@declared(
    "m5_softmax_predict",
    oracle=None,   # iterative gradient-descent training — not
                   # SQL-expressible; pytest proves the distributed loop
                   # is bit-equal to a single-node numpy fit
    survey_ids=("M1", "M2", "F6"),
)
def m5_softmax_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third model family, trained by a genuinely ITERATIVE distributed
    loop: multinomial logistic (softmax) regression via full-batch
    gradient descent — each epoch is one map-only ``mapInArrow`` job
    emitting per-batch partial gradients, reduced and applied on the
    driver (the parameter-server shape; ml/softmax.py has the 100 TB
    story). Unlike the reference's collect-and-fit sklearn trainer
    (processor.py:124-137), the data never leaves the executors — only
    (d+1)×C gradient doubles per partition per epoch.

    Prediction for the held-out split stays JVM-side: the fitted
    weights embed as plan literals, per-class logits are ``zip_with``
    dot products, argmax via ``array_position(·, array_max(·))``.
    Rows-only by necessity (iterative GD is not SQL-expressible); the
    SCORING half is hash-checked by the frozen-weights twin
    m5b_softmax_score_pinned."""
    from ..ml.softmax import fit_softmax_distributed

    (emb,) = tables(spark, sf_dir, "embeddings")

    def fit():
        train = (emb.filter(F.col("vec_id") >= _SPLIT)
                 .select("embedding", "label"))
        return fit_softmax_distributed(train, vec_col="embedding",
                                       label_col="label", n_classes=10)
    model = memo(spark, ("softmax_model", sf_dir), tier(sf_dir), fit)
    logit_cols = []
    for c in range(model.n_classes):
        coef = F.array(*[F.lit(float(w)) for w in model.W[:-1, c]])
        logit_cols.append(F.aggregate(
            F.zip_with(F.col("embedding"), coef,
                       lambda v, w: v.cast("double") * w),
            F.lit(float(model.W[-1, c])), lambda acc, x: acc + x))
    logits = F.array(*logit_cols)
    pred = (F.array_position(logits, F.array_max(logits)) - 1).cast("int")
    return (emb.filter(F.col("vec_id") < _SPLIT)
            .select("vec_id", F.col("label").alias("true_label"),
                    pred.alias("pred_label"))
            .orderBy("vec_id"))


@declared(
    "m6_pca_project",
    oracle=None,   # eigendecomposition of a distributed covariance —
                   # not SQL-expressible; pytest proves the distributed
                   # sufficient statistics reproduce a single-matrix
                   # numpy PCA to 1e-9 and pins the sign convention
    survey_ids=("M1", "F6", "L3"),
)
def m6_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (ml/pca.py): one sufficient-statistics pass
    (Σx, XᵀX, n — dim²+dim+1 doubles per batch, the corpus never
    shuffles or collects), driver-side eigh of the 64×64 covariance,
    then a closure-broadcast GEMM projection onto the top-2 components
    — the standard embedding-column preprocessing step (visualization,
    whitening, IVF coarse quantizer input) at its 100 TB shape.
    Rows-only by necessity (eigh of the covariance is not
    SQL-expressible); the PROJECTION half is hash-checked by the
    frozen-components twin m6b_pca_project_pinned."""
    from ..ml.pca import fit_pca_distributed, pca_project

    (emb,) = tables(spark, sf_dir, "embeddings")
    model = memo(
        spark, ("pca_model", sf_dir), tier(sf_dir),
        lambda: fit_pca_distributed(emb, vec_col="embedding", k=2))
    return (pca_project(emb, model, id_col="vec_id", vec_col="embedding")
            .orderBy("vec_id"))


@declared(
    "m7_naive_bayes_predict",
    oracle="""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    test  AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    train_tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word FROM train
    ),
    ttf AS (SELECT lang, word FROM train_tok WHERE word <> ''),
    wl  AS (SELECT word, lang, CAST(count(*) AS BIGINT) AS c_wl
            FROM ttf GROUP BY 1, 2),
    lt  AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l
            FROM ttf GROUP BY 1),
    pr  AS (SELECT lang, CAST(count(*) AS BIGINT) AS d_l
            FROM train GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS d_tot FROM train),
    voc AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM ttf),
    test_tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM test
    ),
    tw   AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS m
             FROM test_tok WHERE word <> '' GROUP BY 1, 2),
    ntok AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n
             FROM tw GROUP BY 1),
    hits AS (SELECT tw.doc_id, wl.lang,
                    SUM(tw.m * ln(wl.c_wl + 1)) AS h
             FROM tw JOIN wl ON tw.word = wl.word GROUP BY 1, 2),
    scores AS (
        SELECT t.doc_id, t.lang AS actual_lang, pr.lang AS cand,
               ntok.n AS n_tokens,
               ROUND(ln(pr.d_l) - ln(tot.d_tot) + COALESCE(hits.h, 0)
                     - ntok.n * ln(lt.c_l + voc.v), 6) AS score
        FROM test t
        CROSS JOIN tot CROSS JOIN voc
        CROSS JOIN pr
        JOIN lt   ON lt.lang = pr.lang
        JOIN ntok ON ntok.doc_id = t.doc_id
        LEFT JOIN hits ON hits.doc_id = t.doc_id AND hits.lang = pr.lang
    ),
    ranked AS (
        SELECT doc_id, actual_lang, cand AS pred_lang, n_tokens,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rk
        FROM scores
    )
    SELECT doc_id, actual_lang, pred_lang, n_tokens,
           CASE WHEN pred_lang = actual_lang THEN 1 ELSE 0 END
               AS is_correct
    FROM ranked WHERE rk = 1
    ORDER BY doc_id
    """,
    survey_ids=("M1", "M2", "F1"),
)
def m7_naive_bayes_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND scored
    fully declaratively — unlike the iterative m5 softmax (rows-only by
    necessity), NB's sufficient statistics are plain aggregates, so the
    whole train->predict flow is one hash-checkable plan. Train split
    (doc_id%5 != 0): word-given-lang counts and the Laplace vocab size
    are map-side-combined groupBys over the token stream; per-lang token
    totals and doc priors come from ONE row-local narrow pass (the token
    total is the sum of per-doc split sizes). Score split: per-doc word
    counts join the
    likelihood table (guarded broadcast — vocab-bounded but Heaps-law
    growing, same fallback discipline as l4_bigram_lm_score), missing
    (word, lang) pairs contribute exactly 0 via the count form
    score = prior + sum m*ln(c+1) - n*ln(c_l + V), so no outer join on
    the corpus stream. argmax per doc by 6-dp-rounded score with
    lexicographic tie-break (the log-sum is order-dependent; rounding
    makes the ranking engine-stable). The corpus-side stream shuffles
    once (per-doc aggregate); model tables ride broadcasts — the shape
    a 100 TB corpus needs."""
    (docs,) = tables(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    ttf = train.select("lang", F.explode(words).alias("word"))
    wl = ttf.groupBy("word", "lang").agg(F.count(F.lit(1)).alias("c_wl"))
    # d_l and c_l in ONE row-local narrow pass: the per-lang token total
    # is the sum of per-DOC token counts (size of the filtered split),
    # so it needs no explode and no token-stream shuffle; only the vocab
    # count v still requires a token-level distinct
    lang_stats = train.groupBy("lang").agg(
        F.count(F.lit(1)).alias("d_l"),
        F.sum(F.size(words)).alias("c_l"))
    voc = (train.select(F.explode(words).alias("word"))
           .agg(F.countDistinct("word").alias("v")))

    tw = (test.select("doc_id", F.explode(words).alias("word"))
          .groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("m")))
    broadcastable = memo(spark, ("nb_bcast", sf_dir), tier(sf_dir),
                         lambda: wl.count() <= 1_000_000)
    model = F.broadcast(wl) if broadcastable else wl
    hits = (tw.join(model, "word")
            .groupBy("doc_id", "lang")
            .agg(F.sum(F.col("m") * F.log(F.col("c_wl") + 1)).alias("h")))

    # lang-level constants fold into one tiny broadcast frame; d_tot is
    # the sum over the per-lang frame itself (a single-partition window
    # over <= |langs| rows, not another corpus scan)
    langs = (lang_stats
             .withColumn("d_tot", F.sum("d_l").over(Window.partitionBy()))
             .crossJoin(F.broadcast(voc))
             .select(F.col("lang").alias("cand"),
                     (F.log("d_l") - F.log("d_tot")).alias("prior"),
                     F.log(F.col("c_l") + F.col("v")).alias("ln_denom")))
    score = F.round(F.col("prior") + F.coalesce(F.col("h"), F.lit(0.0))
                    - F.col("n_tokens") * F.col("ln_denom"), 6)
    # n_tokens is row-local (size of the filtered split) — no second
    # test-side tokenize aggregate and no join; the n_tokens > 0 filter
    # reproduces the old inner join's drop of token-free docs
    scores = (test.select("doc_id", F.col("lang").alias("actual_lang"),
                          F.size(words).cast("long").alias("n_tokens"))
              .filter(F.col("n_tokens") > 0)
              .crossJoin(F.broadcast(langs))
              .join(hits.withColumnRenamed("lang", "cand"),
                    ["doc_id", "cand"], "left")
              .select("doc_id", "actual_lang", "cand", "n_tokens",
                      score.alias("score")))
    wrank = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                                 "cand")
    return (scores
            .withColumn("rk", F.row_number().over(wrank))
            .filter(F.col("rk") == 1)
            .select("doc_id", "actual_lang",
                    F.col("cand").alias("pred_lang"), "n_tokens",
                    F.when(F.col("cand") == F.col("actual_lang"), 1)
                     .otherwise(0).alias("is_correct"))
            .orderBy("doc_id"))


@declared(
    "m8_confusion_matrix",
    oracle=f"""
    WITH {_KNN_CTE},
    cm AS (
        SELECT true_label, pred_label, COUNT(*) AS n
        FROM pred GROUP BY 1, 2
    ),
    actual AS (SELECT true_label, CAST(SUM(n) AS BIGINT) AS n_actual
               FROM cm GROUP BY 1),
    predicted AS (SELECT pred_label, CAST(SUM(n) AS BIGINT) AS n_predicted
                  FROM cm GROUP BY 1)
    SELECT c.true_label, c.pred_label, c.n,
           a.n_actual, p.n_predicted,
           CASE WHEN c.true_label = c.pred_label
                THEN c.n / p.n_predicted END AS precision_contrib,
           CASE WHEN c.true_label = c.pred_label
                THEN c.n / a.n_actual END AS recall_contrib
    FROM cm c
    JOIN actual a USING (true_label)
    JOIN predicted p ON p.pred_label = c.pred_label
    ORDER BY c.true_label, c.pred_label
    """,
    survey_ids=("M3", "A1", "J2"),
)
def m8_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model validation beyond m3's single accuracy number: the full
    confusion matrix of the KNN predictions plus per-class precision
    and recall on the diagonal cells — the metric report a model-stage
    gate (ml/registry's scores-vs-deployed comparison, reference
    processor.py:188) actually decides on. All counts are exact
    integers; precision/recall are single exact-int divisions (never
    rounded — CLAUDE.md rule), NULL off the diagonal so every emitted
    double is a pure ratio. Plan (r16, the r15 change-23/25 pattern —
    found by the census re-run): the class marginals used to be two
    re-aggregates of ``cm`` joined back broadcast, and Catalyst shares
    no common subtrees, so the ENTIRE KNN pipeline (the blocked-GEMM
    train pass) executed once per join build side — 3 embeddings scans
    in the before-plan. The marginals are now window SUMs over the same
    (true, pred) aggregate: one KNN pass, no joins; the two window
    exchanges move the ≤ classes² matrix, not data."""
    pred = _spark_knn_blocked(spark, sf_dir)
    cm = (pred.groupBy("true_label", "pred_label")
          .agg(F.count("*").alias("n")))
    w_actual = Window.partitionBy("true_label")
    w_pred = Window.partitionBy("pred_label")
    diag = F.col("true_label") == F.col("pred_label")
    return (cm.select("true_label", "pred_label", "n",
                      F.sum("n").over(w_actual).alias("n_actual"),
                      F.sum("n").over(w_pred).alias("n_predicted"))
            .select("true_label", "pred_label", "n", "n_actual",
                    "n_predicted",
                    F.when(diag, F.col("n") / F.col("n_predicted"))
                     .alias("precision_contrib"),
                    F.when(diag, F.col("n") / F.col("n_actual"))
                     .alias("recall_contrib"))
            .orderBy("true_label", "pred_label"))


# ---------------------------------------------------------------------------
# Pinned-weights scoring twins (VERDICT r11 #1). The m4/m5/m6 TRAINERS are
# rows-only by necessity (closed-form solve / iterative GD / eigh are not
# SQL-expressible), which the driver gate records as `err: no_oracle` —
# indistinguishable from broken in the hard signal. These twins split the
# concern the way m7_naive_bayes does: training stays pytest-equal to
# numpy, while SCORING with a frozen weight artifact (ml/pinned.py, the
# registry-DEPLOYED model role — reference proc:168-198 promotes a frozen
# model into serving the same way) is a pure declarative plan that DuckDB
# can hash-check. Both engines parse the identical 6-decimal weight
# literals to identical doubles, and both fold dot products as sequential
# left folds (probed: [1e16,1,-1e16]·[1,1,1] = 0.0 in BOTH Spark
# F.aggregate and DuckDB list_dot_product); emitted scores are rounded to
# 6 dp because a dot product is an order-dependent accumulation
# (CLAUDE.md rounding rule).
# ---------------------------------------------------------------------------

def _pinned_dot(vec_col, weights) -> Column:
    """Sequential-left-fold dot(CAST(vec AS double[]), literal weights) —
    the exact arithmetic chain of DuckDB's list_dot_product."""
    coef = F.array(*[F.lit(float(c)) for c in weights])
    return F.aggregate(
        F.zip_with(vec_col, coef, lambda v, c: v.cast("double") * c),
        F.lit(0.0), lambda acc, x: acc + x)


def _pinned():
    from ..ml import pinned
    return pinned


def _sql_list(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _m4b_oracle() -> str:
    p = _pinned()
    return f"""
    SELECT vec_id, label AS true_label,
           ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                  {_sql_list(p.RIDGE_COEF)})
                 + {p.RIDGE_INTERCEPT!r}, 6) AS pred_score
    FROM embeddings WHERE vec_id < {_SPLIT} ORDER BY vec_id
    """


@declared(
    "m4b_ridge_score_pinned",
    oracle=_m4b_oracle(),
    survey_ids=("M2", "M4", "F6"),
)
def m4b_ridge_score_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge SCORING with the frozen deployed coefficients
    (ml/pinned.py): one zip_with fold per row over the test split —
    hash-checkable twin of the rows-only m4 trainer. The 100 TB shape is
    the same as m4's scoring half: weights ride the plan as literals,
    zero shuffles, the scan streams once."""
    p = _pinned()
    (emb,) = tables(spark, sf_dir, "embeddings")
    pred = _pinned_dot(F.col("embedding"), p.RIDGE_COEF) \
        + F.lit(float(p.RIDGE_INTERCEPT))
    return (emb.filter(F.col("vec_id") < _SPLIT)
            .select("vec_id", F.col("label").alias("true_label"),
                    F.round(pred, 6).alias("pred_score"))
            .orderBy("vec_id"))


def _m5b_oracle() -> str:
    p = _pinned()
    logits = ", ".join(
        f"ROUND(list_dot_product(v, {_sql_list(p.SOFTMAX_W[c])})"
        f" + {p.SOFTMAX_B[c]!r}, 6)"
        for c in range(len(p.SOFTMAX_W)))
    return f"""
    WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < {_SPLIT}),
    l AS (SELECT vec_id, label, [{logits}] AS logits FROM t)
    SELECT vec_id, label AS true_label,
           CAST(list_position(logits, list_aggregate(logits, 'max')) - 1
                AS INTEGER) AS pred_label
    FROM l ORDER BY vec_id
    """


@declared(
    "m5b_softmax_score_pinned",
    oracle=_m5b_oracle(),
    survey_ids=("M2", "M4", "F6"),
)
def m5b_softmax_score_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Softmax SCORING with the frozen deployed weight matrix: per-class
    logits as zip_with folds, argmax via first-occurrence-of-max over the
    6-dp-rounded logit array (ties break to the lowest class index in
    BOTH engines: array_position and list_position are first-match) —
    hash-checkable twin of the rows-only m5 trainer."""
    p = _pinned()
    (emb,) = tables(spark, sf_dir, "embeddings")
    logits = F.array(*[
        F.round(_pinned_dot(F.col("embedding"), p.SOFTMAX_W[c])
                + F.lit(float(p.SOFTMAX_B[c])), 6)
        for c in range(len(p.SOFTMAX_W))])
    pred = (F.array_position(logits, F.array_max(logits)) - 1).cast("int")
    return (emb.filter(F.col("vec_id") < _SPLIT)
            .select("vec_id", F.col("label").alias("true_label"),
                    pred.alias("pred_label"))
            .orderBy("vec_id"))


def _m6b_oracle() -> str:
    p = _pinned()
    cols = ", ".join(
        f"ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{_sql_list(p.PCA_COMPONENTS[i])}) - {p.PCA_PROJ_OFFSET[i]!r}, 6)"
        f" AS pc{i + 1}"
        for i in range(len(p.PCA_COMPONENTS)))
    return f"SELECT vec_id, {cols} FROM embeddings ORDER BY vec_id"


@declared(
    "m6b_pca_project_pinned",
    oracle=_m6b_oracle(),
    survey_ids=("M1", "F6", "L3"),
)
def m6b_pca_project_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection with the frozen component matrix — hash-checkable
    twin of the rows-only m6 fit+project. Mean-centering folds into a
    constant ((x-m)@c = x@c - m@c, offsets precomputed FROM the rounded
    literals in the generator), so both engines evaluate the same
    literal chain. The projection runs over the FULL corpus, so unlike
    the 100-row m4b/m5b test-split scorers the per-row×per-dim work
    goes through one numpy GEMM per Arrow batch (CLAUDE.md mapInArrow
    rule), not an interpreted zip_with fold; the GEMM's blocked
    accumulation can differ from the oracle's sequential fold in the
    last ulp, which the shared 6-dp round absorbs. The round itself is
    HALF-AWAY-FROM-ZERO (floor(|v|·1e6 + 0.5), not np.round's
    half-even) — probed identical to DuckDB's ROUND on exact binary
    ties like 1/128 (r12 review #5)."""
    import numpy as np
    import pyarrow as pa

    p = _pinned()
    comp = np.asarray(p.PCA_COMPONENTS, dtype=np.float64)
    off = np.asarray(p.PCA_PROJ_OFFSET, dtype=np.float64)
    k = len(comp)
    names = [f"pc{i + 1}" for i in range(k)]
    out_schema = "vec_id long, " + ", ".join(f"{c} double" for c in names)

    def project(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            flat = rb.column(1).flatten().to_numpy(zero_copy_only=False)
            X = flat.reshape(n, -1).astype(np.float64, copy=False)
            from ..ops.numeric import round_half_away
            P = round_half_away(X @ comp.T - off, 6)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64())]
                + [pa.array(P[:, i], pa.float64()) for i in range(k)],
                names=["vec_id", *names])

    (emb,) = tables(spark, sf_dir, "embeddings")
    return (emb.select("vec_id", "embedding")
            .mapInArrow(project, out_schema)
            .orderBy("vec_id"))


@declared(
    "m9_feature_drift_psi",
    oracle="""
    WITH binned AS (
        SELECT CAST(least(9, floor(value / 50.0)) AS INTEGER) AS bin,
               day(ts) % 2 = 0 AS is_base
        FROM events
    ),
    cm AS (
        SELECT bin,
               CAST(COUNT(*) FILTER (WHERE is_base) AS BIGINT)     AS n_base,
               CAST(COUNT(*) FILTER (WHERE NOT is_base) AS BIGINT) AS n_cur
        FROM binned GROUP BY 1
    ),
    tot AS (
        SELECT bin, n_base, n_cur,
               CAST(SUM(n_base) OVER () AS BIGINT) AS tot_base,
               CAST(SUM(n_cur) OVER () AS BIGINT)  AS tot_cur
        FROM cm
    )
    SELECT bin, n_base, n_cur,
           (n_base + 1) / (tot_base + 10) AS p_base,
           (n_cur + 1) / (tot_cur + 10)   AS p_cur,
           ((n_base + 1) / (tot_base + 10) - (n_cur + 1) / (tot_cur + 10))
             * ln(((n_base + 1) / (tot_base + 10))
                  / ((n_cur + 1) / (tot_cur + 10))) AS psi_term
    FROM tot
    ORDER BY bin
    """,
    survey_ids=("M3", "A1", "W4"),
)
def m9_feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report — the monitoring check a
    deployed-model pipeline (the registry's DEPLOYED stage) runs on its
    feature stream: bin ``events.value`` into 10 fixed-width buckets,
    compare the even-day baseline cohort against the odd-day current
    cohort, and emit each bin's add-one-smoothed PSI contribution
    ``(p - q) * ln(p / q)`` (sum ≥ 0.2 is the conventional alarm).
    Cross-engine float determinism by construction: p and q are single
    exact-int divisions (bit-identical, never rounded), ln matches
    bit-exact (the l4_tfidf precedent), and the report emits PER-BIN
    terms — there is no cross-bin float SUM to carry an accumulation
    -order hazard; the caller sums ≤10 doubles. Plan (r16, found by the
    census re-run): one map-side-combined (bin, cohort) aggregate; the
    cohort totals are global window SUMs over that same ≤10-row frame —
    the old 1-row broadcast re-AGGREGATED the bin frame, and Catalyst
    shares no common subtrees, so the full events scan + aggregate ran
    twice (the disease the r15 q11/q15 rewrite cured). The
    single-partition window moves ten rows; integer sums identical."""
    (events,) = tables(spark, sf_dir, "events")
    bin_col = (F.least(F.lit(9), F.floor(F.col("value") / 50.0))
               .cast("int"))
    is_base = F.dayofmonth("ts") % 2 == 0
    cm = (events.select(bin_col.alias("bin"), is_base.alias("is_base"))
          .groupBy("bin")
          .agg(F.sum(F.when(F.col("is_base"), 1).otherwise(0))
               .alias("n_base"),
               F.sum(F.when(~F.col("is_base"), 1).otherwise(0))
               .alias("n_cur")))
    w_all = Window.partitionBy()
    tot = cm.select("bin", "n_base", "n_cur",
                    F.sum("n_base").over(w_all).alias("tot_base"),
                    F.sum("n_cur").over(w_all).alias("tot_cur"))
    p = (F.col("n_base") + 1) / (F.col("tot_base") + 10)
    q = (F.col("n_cur") + 1) / (F.col("tot_cur") + 10)
    return (tot.select("bin", "n_base", "n_cur",
                       p.alias("p_base"), q.alias("p_cur"),
                       ((p - q) * F.log(p / q)).alias("psi_term"))
            .orderBy("bin"))
