"""UD3 — broadcast-model batch inference
(blackmagic/blueprints/prediction.py:186-231).

The reference documents why inference must be batched: the per-row
worker method took ~970 s/chip (prediction.py:203-207). Here the model
bytes are broadcast once and an iterator Arrow UDF applies them per
Arrow batch — no shuffle, no positional re-zip (the probability vector
is computed in-row)."""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import NUM_CLASSES
from .train import HAVE_XGBOOST


def _load(model_bytes: bytes):
    """Decode model bytes LOUDLY: a centroid model is a pickled dict
    (pickle protocol-2+ marker 0x80, 'kind': 'centroid'), anything
    else must be an XGBoost raw model. Mis-tagged or corrupt bytes
    raise — a silent fallback here would serve garbage predictions
    for a whole tile."""
    if model_bytes[:1] == b"\x80":
        model = pickle.loads(model_bytes)
        if not (isinstance(model, dict)
                and model.get("kind") in ("centroid", "logreg")):
            raise ValueError(
                f"pickled model payload is not a known model kind: "
                f"{type(model).__name__}")
        return model
    if not HAVE_XGBOOST:
        raise RuntimeError(
            "model bytes are not a centroid model (no pickle marker); "
            "loading them requires xgboost, which is not importable here")
    import xgboost as xgb
    booster = xgb.Booster()
    booster.load_model(bytearray(model_bytes))  # raises on corrupt bytes
    return booster


def _predict_matrix(model, X: np.ndarray) -> np.ndarray:
    if HAVE_XGBOOST and not isinstance(model, dict):
        import xgboost as xgb
        return model.predict(xgb.DMatrix(X))
    if model.get("kind") == "logreg":
        # distributed-trained multinomial logistic regression: plain
        # numpy softmax(X·Wᵀ + b); unseen classes masked to prob 0
        z = X.astype(np.float64) @ model["coef"].T + model["intercept"]
        z[:, ~model["seen"]] = -np.inf
        e = np.exp(z - z.max(axis=1, keepdims=True))
        return e / e.sum(axis=1, keepdims=True)
    # nearest-centroid fallback: softmax over negative distances, each
    # row scaled by the spread of its own distances (a batch-wide
    # spread would tie a row's output to its Arrow batch); classes
    # absent at train time get probability 0.  One class at a time:
    # no (rows × classes × features) temporary, and the same reduction
    # as np.linalg.norm over the feature axis.
    c = model["centroids"]
    d = np.empty((len(X), len(c)))
    for k, ck in enumerate(c):
        diff = X - ck
        d[:, k] = np.sqrt(np.add.reduce(diff * diff, axis=1))
    z = -d / (d.std(axis=1, keepdims=True) + 1e-9)
    z[:, ~model["seen"]] = -np.inf
    e = np.exp(z - z.max(axis=1, keepdims=True))
    return e / e.sum(axis=1, keepdims=True)


def _score(model, feats: pa.ListArray) -> pa.ListArray:
    """One Arrow batch of fixed-length feature lists → one list of
    class probabilities per row, read and written as flat buffers."""
    probs = np.empty((0, NUM_CLASSES), np.float32)
    if len(feats):
        width = np.diff(feats.offsets.to_numpy())
        if (width != width[0]).any():
            raise ValueError("feature arrays differ in length in a batch")
        X = (feats.flatten().to_numpy(zero_copy_only=False)
             .reshape(len(feats), width[0]).astype(np.float32))
        probs = _predict_matrix(model, X).astype(np.float32)
    offsets = np.arange(0, probs.size + 1, probs.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets),
                                    pa.array(probs.ravel()))


def predict_probabilities(df: DataFrame, model_bytes: bytes,
                          features_col: str = "independent") -> DataFrame:
    """Append ``prob array<float>`` (NUM_CLASSES entries) to every row.
    Input rows must carry a fixed-length feature array.

    Boundary shape (guide §4): an iterator Arrow UDF on the feature
    column, not ``mapInPandas`` over whole rows — ONLY the feature
    arrays cross the JVM↔Python boundary; the key/date columns never
    leave the JVM.  The model is decoded once per task (iterator
    form); each batch's list column is read as one (rows × features)
    matrix and the probabilities go back as one flat buffer, with no
    per-row Python objects.  ``_predict_matrix`` is row-wise, so a
    row's probabilities do not depend on how rows are batched."""
    from pyspark.sql.functions import arrow_udf

    from ..session import ensure_worker_imports
    spark = df.sparkSession
    ensure_worker_imports(spark)
    bc = spark.sparkContext.broadcast(model_bytes)

    @arrow_udf("array<float>")
    def infer(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        model = _load(bc.value)
        for feats in batches:
            yield _score(model, feats)

    return df.withColumn("prob", infer(F.col(features_col)))
