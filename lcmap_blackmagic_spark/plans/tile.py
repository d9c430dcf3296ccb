"""The /tile pipeline tail (blackmagic/blueprints/tile.py:391-404):
training-data query → label counts → stratified sample → holdout split
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
from ..staging import request_staging
from .training import training_data

TARGET_SAMPLES = 20_000_000
CLASS_MIN = 600_000
CLASS_MAX = 8_000_000


def tile_pipeline(segments: DataFrame, aux: DataFrame, date: str,
                  chips: Sequence[tuple[int, int]] | None = None,
                  target_samples: int = TARGET_SAMPLES,
                  class_min: int = CLASS_MIN, class_max: int = CLASS_MAX
                  ) -> bytes:
    """Returns the model bytes.

    The training matrix is staged for the call (``request_staging``):
    the sampler's label-count collect materializes it, and the fit
    reads its blocks instead of re-running the segments⨝aux assembly.
    The blocks are released before the call returns.
    A ``localCheckpoint(eager=False)`` here is not lazy: under AQE the
    call itself runs the plan's broadcast stages (the aux dedup
    shuffle and the broadcast) before any action."""
    with request_staging() as stage:
        data = stage(training_data(segments, aux, date, chips))
        sample = stratified_sample(data, "label", target_samples,
                                   class_min, class_max)
        train, test = train_test_split(sample, TEST_SIZE)
        return train_model(train, test)
