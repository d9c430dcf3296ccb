"""Request-scoped staging of plans that a request reads more than once.

``api`` stages per request (``/segment``'s timeseries and detections)
and so do the plans (``plans.tile``'s training matrix); both import
the helper from here.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def request_staging() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yields ``stage(df)``, which persists ``df`` and returns it.
    Every staged plan is unpersisted on exit, on success and on every
    failure path, so a request leaves no cached blocks in the session.
    ``persist`` keeps lineage: a lost executor's blocks are recomputed
    rather than failing the request (``localCheckpoint`` would not).
    The first action on a staged plan materializes it."""
    staged = []

    def stage(df):
        staged.append(df.persist())
        return staged[-1]

    try:
        yield stage
    finally:
        for df in staged:
            df.unpersist()
