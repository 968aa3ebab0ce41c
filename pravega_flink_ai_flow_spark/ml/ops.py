"""ML pipeline operators (SURVEY.md M1-M3): train / validate / predict.

Shapes mirror the reference's jobs, Spark-first:

- train (processor.py:117-137): table → pandas → fit → save artifact →
  ``registry.register_model_version``. Small-data path collects to the
  driver (faithful to the reference's ``to_pandas``); the distributed
  path fits per-group via ``applyInPandas``.
- validate (processor.py:160-198): score candidate vs deployed on a
  holdout, append scores to the artifact file, promote with the exact
  tie-goes-to-new rule (``scores >= deployed_scores``).
- predict (processor.py:236-258): the deployed model applied via an
  Arrow-batched pandas UDF — the vectorized fix for the reference's
  row-at-a-time ``Predict.eval`` building a 1-row DataFrame per record.
"""

from __future__ import annotations

import os
import time
from typing import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from .models import load_model, save_model
from .registry import ModelRegistry, ModelVersionStage


def train(df: DataFrame, *, registry: ModelRegistry, model_name: str,
          feature_cols: Sequence[str], label_col: str,
          fit_fn: Callable, model_dir: str) -> "object":
    """Fit on the driver after an Arrow collect (the reference's
    ``tab.to_pandas()`` path) and register the artifact. ``fit_fn(x, y)``
    returns a fitted model with predict/score."""
    pdf = df.select(*feature_cols, label_col).toPandas()
    y = pdf.pop(label_col)
    model = fit_fn(pdf.values, y.values)
    os.makedirs(model_dir, exist_ok=True)
    model_path = os.path.join(
        model_dir, time.strftime("%Y_%m_%d_%H_%M_%S") + f"_{len(os.listdir(model_dir))}")
    save_model(model, model_path)
    registry.register_model_version(model_name, model_path)
    return model


def train_grouped(df: DataFrame, *, group_col, feature_cols: Sequence[str],
                  label_col: str, fit_fn: Callable, model_dir: str) -> DataFrame:
    """Distributed variant: one model per group via applyInPandas —
    the shape that scales to thousands of per-segment models (each
    group's fit runs on an executor; only (group, path) rows return)."""
    os.makedirs(model_dir, exist_ok=True)

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = str(pdf[group_col].iloc[0])
        y = pdf[label_col]
        x = pdf[list(feature_cols)]
        model = fit_fn(x.values, y.values)
        path = os.path.join(model_dir, f"group_{key}")
        save_model(model, path)
        return pd.DataFrame({"group": [key], "model_path": [path],
                             "n_rows": [len(pdf)]})

    return (df.groupBy(group_col)
            .applyInPandas(fit_group, "group string, model_path string, n_rows long"))


def validate(validate_df: DataFrame, *, registry: ModelRegistry,
             model_name: str, feature_cols: Sequence[str], label_col: str,
             metrics_path: str) -> dict:
    """The reference's ModelValidator logic (processor.py:160-198),
    preserved exactly:

    - no deployed version → promote latest GENERATED straight to
      VALIDATED then DEPLOYED, no scoring;
    - else score BOTH on the holdout, append both scores to the metrics
      artifact, and iff ``new >= deployed`` (tie goes to the candidate,
      processor.py:188) deprecate the old and deploy the new.
    """
    deployed = registry.get_deployed_model_version(model_name)
    candidate = registry.get_latest_generated_model_version(model_name)
    result = {"promoted": False, "scores": None, "deployed_scores": None}
    if candidate is None:
        return result

    if deployed is None:
        registry.update_model_version(model_name, candidate.version,
                                      ModelVersionStage.VALIDATED)
        registry.update_model_version(model_name, candidate.version,
                                      ModelVersionStage.DEPLOYED)
        result["promoted"] = True
        return result

    pdf = validate_df.select(*feature_cols, label_col).toPandas()
    y = pdf.pop(label_col)
    scores = load_model(candidate.model_path).score(pdf.values, y.values)
    deployed_scores = load_model(deployed.model_path).score(pdf.values, y.values)
    with open(metrics_path, "a") as f:
        f.write(f"deployed model version: {deployed.version} scores: {deployed_scores}\n")
        f.write(f"generated model version: {candidate.version} scores: {scores}\n")
    result.update(scores=scores, deployed_scores=deployed_scores)
    if scores >= deployed_scores:
        registry.update_model_version(model_name, deployed.version,
                                      ModelVersionStage.DEPRECATED)
        registry.update_model_version(model_name, candidate.version,
                                      ModelVersionStage.VALIDATED)
        registry.update_model_version(model_name, candidate.version,
                                      ModelVersionStage.DEPLOYED)
        result["promoted"] = True
    return result


def predict(df: DataFrame, *, registry: ModelRegistry, model_name: str,
            feature_cols: Sequence[str],
            output_col: str = "prediction") -> DataFrame:
    """Deployed-model inference as a vectorized pandas UDF
    (Arrow-batched — SURVEY.md F1's fix for the reference's per-row
    eval). The pickled model rides to executors via closure capture;
    it is deserialized once per worker, not per row."""
    deployed = registry.get_deployed_model_version(model_name)
    if deployed is None:
        raise RuntimeError(f"no deployed version for model {model_name!r}")
    mypred = _predict_udf(deployed.model_path)
    return df.withColumn(output_col, mypred(*[F.col(c) for c in feature_cols]))


def register_predict_udf(spark, *, registry: ModelRegistry, model_name: str,
                         udf_name: str = "mypred"):
    """F1 parity: register the deployed model as a named SQL function so
    expression strings can call it — the reference's
    ``register_function('mypred', ...)`` + ``select("mypred(sl,sw,pl,pw)")``
    (processor.py:253-258)."""
    deployed = registry.get_deployed_model_version(model_name)
    if deployed is None:
        raise RuntimeError(f"no deployed version for model {model_name!r}")
    mypred = _predict_udf(deployed.model_path)
    spark.udf.register(udf_name, mypred)
    return mypred


def _predict_udf(model_path: str):
    """The deployed model at ``model_path`` as a float64 pandas UDF over
    its feature columns."""

    @pandas_udf("double")
    def mypred(*cols: pd.Series) -> pd.Series:
        model = _model_cache(model_path)
        x = pd.concat(cols, axis=1).values
        return pd.Series(model.predict(x).astype("float64"))

    return mypred


_MODEL_CACHE: dict[str, object] = {}


def _model_cache(path: str):
    """One deserialization per executor process (the F3 open()-lifecycle
    equivalent: module-level cache, lazy init). Only the latest path is
    kept, so a long-running stream holds one model however often the
    deployed version changes."""
    model = _MODEL_CACHE.get(path)
    if model is None:
        model = load_model(path)
        _MODEL_CACHE.clear()
        _MODEL_CACHE[path] = model
    return model
