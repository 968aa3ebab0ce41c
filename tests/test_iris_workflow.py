"""t1 smoke (SURVEY.md §5.3): replicate the reference demo end-to-end —
datagen writes iris to JSON stream-dirs (S3) → train reads bounded (S4),
fits seeded KNN (M1) → validate promotes (M3) → predict via registered
UDF (F1/M2) → CSV sink (S2).

Asserts (SURVEY.md §5.3 / BASELINE.md): 30 predictions, accuracy ≥ 0.9,
registry reaches DEPLOYED, control edges fire in the reference's order
datagen → train → validate → predict (batch_train_batch_predict.py:113-120).
"""

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pravega_flink_ai_flow_spark.io import batch
from pravega_flink_ai_flow_spark.io.pravega_sim import StreamDir
from pravega_flink_ai_flow_spark.ml import (
    KNNClassifier, ModelRegistry, ModelEvent, ModelVersionStage, ops as ml_ops)
from pravega_flink_ai_flow_spark.workflow import Workflow, JobStatus

from conftest import DATA

IRIS_SCHEMA = T.StructType([
    T.StructField("sl", T.DoubleType()),
    T.StructField("sw", T.DoubleType()),
    T.StructField("pl", T.DoubleType()),
    T.StructField("pw", T.DoubleType()),
    T.StructField("type", T.DoubleType()),
])
FEATURES = ["sl", "sw", "pl", "pw"]


def test_iris_end_to_end(spark, tmp_workdir):
    train_stream = StreamDir(os.path.join(tmp_workdir, "scope", "train-stream"), IRIS_SCHEMA)
    predict_stream = StreamDir(os.path.join(tmp_workdir, "scope", "predict-stream"), IRIS_SCHEMA)
    model_dir = os.path.join(tmp_workdir, "saved_model")
    metrics_path = os.path.join(tmp_workdir, "validate_result")
    result_dir = os.path.join(tmp_workdir, "predict_result")

    registry = ModelRegistry(os.path.join(tmp_workdir, "aiflow.db"))
    registry.register_model("iris_knn", "KNN on iris (reference parity)")

    wf = Workflow(spark, registry)

    def datagen(wf):
        # reference datagen: read CSVs, write both streams as JSON
        train = batch.read_csv(spark, os.path.join(DATA, "iris_train.csv"), IRIS_SCHEMA)
        test = batch.read_csv(spark, os.path.join(DATA, "iris_test.csv"), IRIS_SCHEMA)
        train_stream.append(train)
        predict_stream.append(test)

    def train_job(wf):
        df = train_stream.read_bounded(spark)   # scan.execution.type=batch
        ml_ops.train(df, registry=registry, model_name="iris_knn",
                     feature_cols=FEATURES, label_col="type",
                     fit_fn=lambda x, y: KNNClassifier(5).fit(x, y),
                     model_dir=model_dir)

    def validate_job(wf):
        df = batch.read_csv(spark, os.path.join(DATA, "iris_test.csv"), IRIS_SCHEMA)
        return ml_ops.validate(df, registry=registry, model_name="iris_knn",
                               feature_cols=FEATURES, label_col="type",
                               metrics_path=metrics_path)

    def predict_job(wf):
        df = predict_stream.read_bounded(spark)
        ml_ops.register_predict_udf(spark, registry=registry, model_name="iris_knn")
        out = df.selectExpr("mypred(sl, sw, pl, pw) AS prediction")
        batch.write(out, "csv", result_dir)

    wf.job("datagen", datagen)
    wf.job("train", train_job)
    wf.job("validate", validate_job)
    wf.job("predict", predict_job)
    # the reference's control edges (py:113-120)
    wf.action_on_job_status("train", "datagen", JobStatus.FINISHED)
    wf.action_on_model_version_event("validate", "iris_knn", ModelEvent.MODEL_GENERATED)
    wf.action_on_model_version_event("predict", "iris_knn", ModelEvent.MODEL_DEPLOYED)

    wf.run()

    # every job finished, in the event-driven order
    for j in ["datagen", "train", "validate", "predict"]:
        assert wf.status(j) == JobStatus.FINISHED
    kinds = [(k, s, e) for k, s, e in wf.events if k == "job_status"]
    assert [s for _, s, _ in kinds] == ["datagen", "train", "validate", "predict"]

    # registry reached DEPLOYED
    deployed = registry.get_deployed_model_version("iris_knn")
    assert deployed is not None and deployed.current_stage == ModelVersionStage.DEPLOYED

    # 30 predictions from the CSV sink
    pred = batch.read_csv(
        spark, result_dir,
        T.StructType([T.StructField("prediction", T.DoubleType())]))
    rows = pred.collect()
    assert len(rows) == 30

    # accuracy >= 0.9 against iris_test.type
    truth = [r.type for r in
             batch.read_csv(spark, os.path.join(DATA, "iris_test.csv"),
                            IRIS_SCHEMA).collect()]
    preds = sorted(r.prediction for r in rows)
    acc_df = (predict_stream.read_bounded(spark)
              .selectExpr("mypred(sl, sw, pl, pw) AS prediction", "type"))
    acc = (acc_df.select(
        F.avg((F.col("prediction") == F.col("type")).cast("double")).alias("acc"))
        .collect()[0].acc)
    assert acc >= 0.9, f"accuracy {acc}"
    assert len(preds) == len(truth)


def test_second_round_promotion(spark, tmp_workdir):
    """Retrain → new version GENERATED → validate compares scores and
    (tie-goes-to-new, processor.py:188) promotes; old one DEPRECATED."""
    model_dir = os.path.join(tmp_workdir, "models")
    metrics_path = os.path.join(tmp_workdir, "metrics")
    registry = ModelRegistry(os.path.join(tmp_workdir, "aiflow.db"))
    registry.register_model("m")

    train = batch.read_csv(spark, os.path.join(DATA, "iris_train.csv"), IRIS_SCHEMA)
    test = batch.read_csv(spark, os.path.join(DATA, "iris_test.csv"), IRIS_SCHEMA)

    for _ in range(2):
        ml_ops.train(train, registry=registry, model_name="m",
                     feature_cols=FEATURES, label_col="type",
                     fit_fn=lambda x, y: KNNClassifier(5).fit(x, y),
                     model_dir=model_dir)
        ml_ops.validate(test, registry=registry, model_name="m",
                        feature_cols=FEATURES, label_col="type",
                        metrics_path=metrics_path)

    versions = {v.version: v.current_stage for v in registry.versions("m")}
    assert versions == {1: ModelVersionStage.DEPRECATED,
                        2: ModelVersionStage.DEPLOYED}
    # second round scored both models and logged metrics (processor.py:184-187)
    with open(metrics_path) as f:
        lines = f.read().strip().splitlines()
    assert len(lines) == 2 and "scores" in lines[0]


def test_iris_end_to_end_over_socket_transport(spark, tmp_workdir):
    """The reference demo again, but on the round-5 'real deployment'
    substrate: streams live in a network Pravega emulator reached over
    TCP (the reference's controller transport, processor.py:83,106) and
    the registry persists to SQLite (the reference's default metadata
    DB, README.md:39). Same workflow DAG, same control edges, same
    accuracy bar."""
    from pravega_flink_ai_flow_spark.io import (
        PravegaEmulatorServer, register_pravega_socket,
    )
    srv = PravegaEmulatorServer()
    srv.start()
    try:
        register_pravega_socket(spark)
        model_dir = os.path.join(tmp_workdir, "saved_model")
        metrics_path = os.path.join(tmp_workdir, "validate_result")

        registry = ModelRegistry(os.path.join(tmp_workdir, "aiflow.db"))
        registry.register_model("iris_knn", "KNN on iris over TCP streams")
        wf = Workflow(spark, registry)

        def stream_read(stream):
            return (spark.read.format("pravega_socket")
                    .schema(IRIS_SCHEMA)
                    .option("controller", srv.controller_uri)
                    .option("scope", "scope").option("stream", stream)
                    .load())

        def stream_write(df, stream):
            (df.write.format("pravega_socket").mode("append")
             .option("controller", srv.controller_uri)
             .option("scope", "scope").option("stream", stream)
             .save())

        def datagen(wf):
            train = batch.read_csv(spark, os.path.join(DATA, "iris_train.csv"),
                                   IRIS_SCHEMA)
            test = batch.read_csv(spark, os.path.join(DATA, "iris_test.csv"),
                                  IRIS_SCHEMA)
            stream_write(train, "train-stream")
            stream_write(test, "predict-stream")

        def train_job(wf):
            df = stream_read("train-stream")
            ml_ops.train(df, registry=registry, model_name="iris_knn",
                         feature_cols=FEATURES, label_col="type",
                         fit_fn=lambda x, y: KNNClassifier(5).fit(x, y),
                         model_dir=model_dir)

        def validate_job(wf):
            df = batch.read_csv(spark, os.path.join(DATA, "iris_test.csv"),
                                IRIS_SCHEMA)
            return ml_ops.validate(df, registry=registry,
                                   model_name="iris_knn",
                                   feature_cols=FEATURES, label_col="type",
                                   metrics_path=metrics_path)

        def predict_job(wf):
            df = stream_read("predict-stream")
            ml_ops.register_predict_udf(spark, registry=registry,
                                        model_name="iris_knn")
            out = df.selectExpr("mypred(sl, sw, pl, pw) AS prediction",
                                "type")
            # the writer derives its wire schema from the frame itself —
            # the result stream carries (prediction, type), like the
            # reference's predict_result sink (processor.py:269-270)
            stream_write(out, "result-stream")

        wf.job("datagen", datagen)
        wf.job("train", train_job)
        wf.job("validate", validate_job)
        wf.job("predict", predict_job)
        wf.action_on_job_status("train", "datagen", JobStatus.FINISHED)
        wf.action_on_model_version_event("validate", "iris_knn",
                                         ModelEvent.MODEL_GENERATED)
        wf.action_on_model_version_event("predict", "iris_knn",
                                         ModelEvent.MODEL_DEPLOYED)
        wf.run()

        for j in ["datagen", "train", "validate", "predict"]:
            assert wf.status(j) == JobStatus.FINISHED
        assert srv.tail("scope", "train-stream") == 120
        assert srv.tail("scope", "predict-stream") == 30
        assert srv.tail("scope", "result-stream") == 30
        # DEPLOYED state visible through a FRESH registry handle
        fresh = ModelRegistry(os.path.join(tmp_workdir, "aiflow.db"))
        deployed = fresh.get_deployed_model_version("iris_knn")
        assert deployed is not None
        # accuracy over the socket-read predict stream
        ml_ops.register_predict_udf(spark, registry=registry,
                                    model_name="iris_knn")
        acc = (stream_read("predict-stream")
               .selectExpr("mypred(sl, sw, pl, pw) AS prediction", "type")
               .select(F.avg((F.col("prediction") == F.col("type"))
                             .cast("double")).alias("acc"))
               .collect()[0].acc)
        assert acc >= 0.9, f"accuracy {acc}"
    finally:
        srv.stop()
