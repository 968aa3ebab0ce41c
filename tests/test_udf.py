"""UDF-surface tests (SURVEY.md §2.10, F1-F7): named SQL registration
('mypred' parity with processor.py:253-258), pandas UDF vectorization,
grouped-map applyInPandas, mapInPandas, grouped-agg pandas UDF, and the
user-defined pipeline stage."""

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pravega_flink_ai_flow_spark.io import batch
from pravega_flink_ai_flow_spark.ml import KNNClassifier, ModelRegistry, ops as ml_ops

from conftest import DATA

IRIS_SCHEMA = "sl double, sw double, pl double, pw double, type double"
FEATURES = ["sl", "sw", "pl", "pw"]


@pytest.fixture(scope="module")
def iris(spark):
    train = spark.read.schema(IRIS_SCHEMA).csv(os.path.join(DATA, "iris_train.csv"))
    test = spark.read.schema(IRIS_SCHEMA).csv(os.path.join(DATA, "iris_test.csv"))
    return train, test


@pytest.fixture(scope="module")
def deployed_registry(spark, iris, tmp_path_factory):
    train, test = iris
    wd = str(tmp_path_factory.mktemp("reg"))
    registry = ModelRegistry(os.path.join(wd, "aiflow.db"))
    ml_ops.train(train, registry=registry, model_name="m",
                 feature_cols=FEATURES, label_col="type",
                 fit_fn=lambda x, y: KNNClassifier(5).fit(x, y),
                 model_dir=os.path.join(wd, "models"))
    ml_ops.validate(test, registry=registry, model_name="m",
                    feature_cols=FEATURES, label_col="type",
                    metrics_path=os.path.join(wd, "metrics"))
    return registry


def test_f1_named_sql_udf_in_expression(spark, iris, deployed_registry):
    """F1: register by name, call from a selectExpr string — the
    reference's select("mypred(sl,sw,pl,pw)") shape (processor.py:258)."""
    _, test = iris
    ml_ops.register_predict_udf(spark, registry=deployed_registry,
                                model_name="m", udf_name="mypred_t")
    out = test.selectExpr("mypred_t(sl, sw, pl, pw) AS prediction").collect()
    assert len(out) == 30
    assert all(r.prediction in (0.0, 1.0, 2.0) for r in out)


def test_f2_closure_capture_predict(spark, iris, deployed_registry):
    """F2/M2: model rides via closure capture into the pandas UDF."""
    _, test = iris
    out = ml_ops.predict(test, registry=deployed_registry, model_name="m",
                         feature_cols=FEATURES)
    acc = (out.select(F.avg((F.col("prediction") == F.col("type"))
                            .cast("double")).alias("a")).collect()[0].a)
    assert acc >= 0.9


def test_f4_grouped_map_train(spark, iris, tmp_workdir):
    """F4: applyInPandas table-in→table-out fit, one model per group."""
    train, _ = iris
    labeled = train.withColumn("segment", (F.col("type") % 2).cast("string"))
    out = ml_ops.train_grouped(
        labeled, group_col="segment", feature_cols=FEATURES, label_col="type",
        fit_fn=lambda x, y: KNNClassifier(3).fit(x, y),
        model_dir=os.path.join(tmp_workdir, "models"))
    rows = {r.group: r.n_rows for r in out.collect()}
    assert set(rows) == {"0.0", "1.0"} and sum(rows.values()) == 120
    for r in out.collect():
        assert os.path.exists(r.model_path)


def test_f5_grouped_agg_pandas_udf(spark, iris):
    """F5: pandas UDAF (grouped aggregate)."""
    train, _ = iris

    @pandas_udf("double")
    def mean_range(v: pd.Series) -> float:
        return float(v.max() - v.min())

    out = (train.groupBy("type").agg(mean_range("sl").alias("sl_range"))
           .orderBy("type").collect())
    assert len(out) == 3 and all(r.sl_range > 0 for r in out)


def test_f6_map_in_pandas(spark, iris):
    """F6: mapInPandas iterator UDTF — row-expanding normalization."""
    train, _ = iris

    def expand(batches):
        for pdf in batches:
            long = pdf.melt(id_vars=["type"], value_vars=FEATURES,
                            var_name="feature", value_name="value")
            yield long

    out = train.mapInPandas(expand, "type double, feature string, value double")
    assert out.count() == 120 * 4


def test_f7_user_defined_stage(spark, iris):
    """F7: af.user_define_operation parity — arbitrary DataFrame→DataFrame
    stage plugged into a pipeline."""
    train, _ = iris

    def my_stage(dfs):
        (df,) = dfs
        return [df.filter(F.col("sl") > 5.0)]

    (out,) = my_stage([train])
    assert 0 < out.count() < 120


def test_row_udf_matches_pandas_udf(spark, iris, deployed_registry):
    """The reference's row-at-a-time UDF (processor.py:246-250) kept for
    parity — must agree with the vectorized path."""
    _, test = iris
    model_path = deployed_registry.get_deployed_model_version("m").model_path
    from pravega_flink_ai_flow_spark.ml.models import load_model

    def eval_row(sl, sw, pl, pw):
        clf = load_model(model_path)
        return float(clf.predict([[sl, sw, pl, pw]])[0])

    spark.udf.register("mypred_row", eval_row, "double")
    row_out = [r.p for r in test.selectExpr("mypred_row(sl,sw,pl,pw) AS p").collect()]
    vec_out = [r.prediction for r in
               ml_ops.predict(test, registry=deployed_registry, model_name="m",
                              feature_cols=FEATURES).collect()]
    assert row_out == vec_out


def test_model_cache_keeps_only_the_latest_model(tmp_path):
    """A worker scoring a refreshed model drops the one it replaced."""
    import numpy as np
    from pravega_flink_ai_flow_spark.ml.models import save_model

    x, y = np.eye(4), np.arange(4.0)
    paths = [str(tmp_path / f"m{i}.pkl") for i in range(2)]
    for k, p in enumerate(paths, start=1):
        save_model(KNNClassifier(k).fit(x, y), p)
    ml_ops._MODEL_CACHE.clear()
    assert [ml_ops._model_cache(p).n_neighbors for p in paths] == [1, 2]
    assert list(ml_ops._MODEL_CACHE) == [paths[1]]
