"""The /tile pipeline tail (blackmagic/blueprints/tile.py:391-404):
training-data query → statistics → stratified sample → holdout split
→ model fit → model record.

Everything before the fit is one distributed plan; the fit consumes
the bounded sample (ml.train). Defaults from blackmagic/__init__.py:
target_samples 2e7, class_min 6e5, class_max 8e6, test_size 0.2.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..ml.train import TEST_SIZE, train_model
from ..operators.sampling import stratified_sample, train_test_split
from ..operators.stats import label_statistics
from .training import training_data

TARGET_SAMPLES = 20_000_000
CLASS_MIN = 600_000
CLASS_MAX = 8_000_000


def tile_pipeline(segments: DataFrame, aux: DataFrame, date: str,
                  chips: Sequence[tuple[int, int]] | None = None,
                  target_samples: int = TARGET_SAMPLES,
                  class_min: int = CLASS_MIN, class_max: int = CLASS_MAX,
                  seed: int = 42, trainer: str = "auto"
                  ) -> tuple[bytes, DataFrame]:
    """Returns (model_bytes, label_statistics DataFrame).
    ``trainer='spark_ml'`` selects the fully distributed
    pyspark.ml fit (no driver-side matrix)."""
    # localCheckpoint: FOUR downstream consumers (stats, the sample's
    # per-class count collect, the split, the fit's matrix collect)
    # each re-ran the segments⨝aux assembly without it — the same
    # barrier the bench-scale twin (registry.pipelines.q_lcmap_tile_
    # train) applies; the matrix is labeled-pixel-sized.  Lazy (r15):
    # the first consuming action materializes it in its own job, the
    # rest read blocks — one fewer blocking job, same reuse.
    data = (training_data(segments, aux, date, chips)
            .localCheckpoint(eager=False))
    stats = label_statistics(data, "label")
    sample = stratified_sample(data, "label", target_samples,
                               class_min, class_max, seed=seed)
    train, test = train_test_split(sample, TEST_SIZE, seed=seed)
    model = train_model(train, test, trainer=trainer)
    return model, stats
