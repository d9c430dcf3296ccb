"""Batch scoring in ``ml.predict`` (Spark-free): a row's probabilities
do not depend on the batch it is scored in, and the Arrow batch path
returns exactly ``_predict_matrix``'s rows as float lists."""

import numpy as np
import pyarrow as pa
import pytest

from lcmap_blackmagic_spark.ml.predict import _predict_matrix, _score
from lcmap_blackmagic_spark.schemas import N_FEATURES, NUM_CLASSES


def _centroid_model(rng):
    return {"kind": "centroid",
            "centroids": rng.normal(size=(NUM_CLASSES, N_FEATURES)),
            "seen": np.arange(NUM_CLASSES) > 0}


def _features(rng, n):
    # spread rows differently so a batch-wide scale would differ from
    # any one row's
    return (rng.normal(size=(n, N_FEATURES))
            * rng.uniform(0.1, 10, size=(n, 1))).astype(np.float32)


def test_centroid_row_alone_equals_row_in_batch():
    rng = np.random.default_rng(5)
    model, X = _centroid_model(rng), _features(rng, 64)
    batch = _predict_matrix(model, X)
    for i in (0, 17, 63):
        assert np.array_equal(_predict_matrix(model, X[i:i + 1])[0],
                              batch[i])
    halves = np.vstack([_predict_matrix(model, X[:20]),
                        _predict_matrix(model, X[20:])])
    assert np.array_equal(halves, batch)
    assert (batch[:, 0] == 0).all()           # unseen class
    assert np.allclose(batch.sum(axis=1), 1)


def test_centroid_distances_match_norm():
    """The per-class loop is the same reduction as the broadcast
    ``np.linalg.norm`` form it replaced."""
    rng = np.random.default_rng(6)
    model, X = _centroid_model(rng), _features(rng, 200)
    c = model["centroids"]
    d = np.linalg.norm(X[:, None, :] - c[None, :, :], axis=2)
    z = -d / (d.std(axis=1, keepdims=True) + 1e-9)
    z[:, ~model["seen"]] = -np.inf
    e = np.exp(z - z.max(axis=1, keepdims=True))
    assert np.array_equal(_predict_matrix(model, X),
                          e / e.sum(axis=1, keepdims=True))


def test_score_arrow_batch_matches_matrix():
    rng = np.random.default_rng(7)
    model, X = _centroid_model(rng), _features(rng, 30)
    lists = pa.array(list(X.astype(np.float64)), pa.list_(pa.float64()))
    # a sliced batch: offsets that do not start at 0
    got = _score(model, lists.slice(5, 20))
    assert got.type == pa.list_(pa.float32())
    assert np.array_equal(
        np.vstack(got.to_numpy(zero_copy_only=False)),
        _predict_matrix(model, X[5:25]).astype(np.float32))
    assert len(_score(model, lists.slice(0, 0))) == 0


def test_score_rejects_ragged_batch():
    model = _centroid_model(np.random.default_rng(8))
    ragged = pa.array([[0.0] * N_FEATURES, [0.0] * (N_FEATURES - 1)],
                      pa.list_(pa.float64()))
    with pytest.raises(ValueError, match="differ in length"):
        _score(model, ragged)
