"""One model-refresh cycle of the reference DAG through
``workflow.Workflow``: datagen → train → (MODEL_GENERATED) validate →
(MODEL_DEPLOYED) predict → CSV sink, with the registry in SQLite (the
reference's metadata DB). The seed permutes the training batch's rows,
so every cycle trains on the same set and validation deploys it.

Spans wrap each job callable and each call the jobs make into ``io`` and
``ml``; the registry's public methods are counted.
"""

from __future__ import annotations

import os
import random

from perfbench.harness import Context

MODEL = "iris_knn"
FEATURES = ["sl", "sw", "pl", "pw"]
REGISTRY_METHODS = ["register_model", "register_model_version",
                    "update_model_version", "get_deployed_model_version",
                    "get_latest_generated_model_version", "versions"]


def iris_schema():
    from pyspark.sql import types as T
    return T.StructType([T.StructField(c, T.DoubleType())
                         for c in FEATURES + ["type"]])


def open_sqlite_registry(ctx: Context, name: str):
    from pravega_flink_ai_flow_spark.ml.registry import open_registry

    with ctx.tracer.span("ml.open_registry"):
        reg = open_registry("sqlite:///" + ctx.path(name))
    ctx.tracer.wrap_methods(reg, REGISTRY_METHODS, "registry")
    reg.register_model(MODEL, "KNN on iris")
    return reg


def run_cycle(ctx: Context, registry, train_rows: list[tuple],
              test_csv: str, cycle: int, rng: random.Random) -> dict:
    """Run one refresh cycle; return what the checks need: the workflow's
    job-status order and statuses, the deployed version and the result
    directory."""
    from pravega_flink_ai_flow_spark.io import batch
    from pravega_flink_ai_flow_spark.io.pravega_sim import StreamDir
    from pravega_flink_ai_flow_spark.ml import KNNClassifier
    from pravega_flink_ai_flow_spark.ml import ModelEvent
    from pravega_flink_ai_flow_spark.ml import ops as ml_ops
    from pravega_flink_ai_flow_spark.workflow import JobStatus, Workflow

    spark, tr = ctx.spark, ctx.tracer
    schema = iris_schema()
    root = os.path.join(ctx.work, f"cycle-{cycle}")
    train_stream = StreamDir(os.path.join(root, "train-stream"), schema)
    predict_stream = StreamDir(os.path.join(root, "predict-stream"), schema)
    result_dir = os.path.join(root, "predict_result")
    rows = list(train_rows)
    rng.shuffle(rows)

    def traced(name):
        """Record a job callable as a ``job.<name>`` span."""
        def wrap(fn):
            def job(wf):
                with tr.span(f"job.{name}"):
                    return fn(wf)
            return job
        return wrap

    @traced("datagen")
    def datagen(wf):
        df = batch.from_rows(spark, rows, schema)
        with tr.span("batch.read_csv"):
            test = batch.read_csv(spark, test_csv, schema)
        with tr.span("streamdir.append"):
            train_stream.append(df)
            predict_stream.append(test)

    @traced("train")
    def train_job(wf):
        with tr.span("streamdir.read"):
            df = train_stream.read_bounded(spark)
        with tr.span("ml.train"):
            ml_ops.train(df, registry=registry, model_name=MODEL,
                         feature_cols=FEATURES, label_col="type",
                         fit_fn=lambda x, y: KNNClassifier(5).fit(x, y),
                         model_dir=os.path.join(root, "models"))

    @traced("validate")
    def validate_job(wf):
        with tr.span("batch.read_csv"):
            df = batch.read_csv(spark, test_csv, schema)
        with tr.span("ml.validate"):
            return ml_ops.validate(
                df, registry=registry, model_name=MODEL,
                feature_cols=FEATURES, label_col="type",
                metrics_path=os.path.join(root, "validate_result"))

    @traced("predict")
    def predict_job(wf):
        with tr.span("streamdir.read"):
            df = predict_stream.read_bounded(spark)
        with tr.span("ml.predict"):
            ml_ops.register_predict_udf(spark, registry=registry,
                                        model_name=MODEL)
            out = df.selectExpr("mypred(sl, sw, pl, pw) AS prediction",
                                "type")
            with tr.span("batch.write"):
                batch.write(out, "csv", result_dir)

    with tr.span("workflow.run"):
        wf = Workflow(spark, registry)
        wf.job("datagen", datagen)
        wf.job("train", train_job)
        wf.job("validate", validate_job)
        wf.job("predict", predict_job)
        wf.action_on_job_status("train", "datagen", JobStatus.FINISHED)
        wf.action_on_model_version_event("validate", MODEL,
                                         ModelEvent.MODEL_GENERATED)
        wf.action_on_model_version_event("predict", MODEL,
                                         ModelEvent.MODEL_DEPLOYED)
        wf.run()
    if tr.enabled:
        tr.add("workflow.events", len(wf.events))
    return {
        "order": [s for k, s, _ in wf.events if k == "job_status"],
        "statuses": [wf.status(j) for j in
                     ("datagen", "train", "validate", "predict")],
        "deployed": registry.get_deployed_model_version(MODEL),
        "result_dir": result_dir,
    }


def check_cycle(ctx: Context, out: dict) -> bool:
    """The cycle ends DEPLOYED → predicted: 30 predictions at accuracy
    ≥ 0.9 in the CSV sink, a DEPLOYED version, and control edges in the
    order datagen → train → validate → predict."""
    from pravega_flink_ai_flow_spark.ml import ModelVersionStage

    res = [tuple(r) for r in ctx.spark.read
           .schema("prediction double, type double")
           .csv(out["result_dir"]).collect()]
    acc = sum(p == t for p, t in res) / len(res) if res else 0.0
    dep = out["deployed"]
    return ctx.check(
        len(res) == 30 and acc >= 0.9
        and dep is not None
        and dep.current_stage == ModelVersionStage.DEPLOYED
        and out["order"] == ["datagen", "train", "validate", "predict"]
        and set(out["statuses"]) == {"FINISHED"},
        f"refresh cycle: {len(res)} predictions, accuracy {acc:.3f}, "
        f"order {out['order']}")


def cycle_layers(tr, cycles: int) -> dict:
    """Per-cycle layer metrics from the spans of ``cycles`` traced
    refresh cycles."""
    n = max(1, cycles)
    return {
        "ml.train_s": tr.total("ml.train") / n,
        "ml.validate_s": tr.total("ml.validate") / n,
        "ml.predict_s": tr.total("ml.predict") / n,
        "registry.calls": tr.counts["registry.calls"] / n,
        "registry.busy_s": tr.busy["registry.calls"] / n,
        "workflow.self_s": tr.self_time("workflow.run") / n,
        "workflow.events": tr.counts["workflow.events"] / n,
        "streamdir.append_s": tr.total("streamdir.append") / n,
        "streamdir.read_s": tr.total("streamdir.read") / n,
        "batch.read_csv_s": tr.total("batch.read_csv") / n,
        "batch.write_s": tr.total("batch.write") / n,
    }
