"""Broadcast Bloom membership filtering for corpus curation — the
at-scale decontamination/blocklist shape shared by the batch query
(registry.dedup.q_llm_bloom_decontam) and the streaming ingest twin
(streaming.jobs.bloom_decontam_stream):

- the reference set's grams fold into a BLOOM_M-bit bitset
  (operators/sketches.bloom_words: bit_or word partials,
  executor-side; the driver collects m/64 bigints),
- the bitset persists as a tiny (w, bits) table — the streaming
  jobs' signature store — and broadcasts to every worker,
- each probe gram tests its md5 positions in one Arrow-vectorized
  numpy pass per batch (operators/sketches.bloom_test).

The filter is the package's one Bloom construction
(operators/sketches.py, shared with the storage sidecars), so the
membership decision — false positives included — is a pure function
any engine replays exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import bloom_positions, bloom_test

BLOOM_M = 1 << 17         # bits; 2048 packed words — broadcastable
DECON_N = 5               # word n-gram order (llm_decontaminate's)


def bloom_hit_udf(spark, bits: np.ndarray):
    """Arrow-vectorized membership probe over a positions-array
    column: True iff every position's bit is set in the broadcast
    bitset.  The probe calls ``bloom_test`` by reference, so the
    package ships to the Python workers."""
    from pyspark.sql.pandas.functions import pandas_udf

    from ..session import ensure_worker_imports
    ensure_worker_imports(spark)
    bbits = spark.sparkContext.broadcast(bits)

    @pandas_udf("boolean")
    def bloom_hit(pos: pd.Series) -> pd.Series:
        arr = np.asarray([np.asarray(p, dtype=np.int64) for p in pos])
        if arr.size == 0:
            return pd.Series(np.zeros(len(pos), dtype=bool))
        return pd.Series(bloom_test(bbits.value, arr))

    return bloom_hit


def doc_hit_flags(docs: DataFrame, bits: np.ndarray,
                  n: int = DECON_N) -> DataFrame:
    """Per-doc contamination flag ``(doc_id, __hit)`` computed
    DIRECTLY on the gram probe — one map-side-combinable boolean-max
    aggregate over the exploded grams.  Consumers left-join this back
    onto the doc table UNFORCED (no ``F.broadcast``): the flag frame
    is data-dependent and O(corpus) in the worst case, so an explicit
    broadcast would bypass AQE's size threshold and build a
    driver/executor OOM into the plan at 100 TB.  Docs whose text has
    fewer than ``n`` words produce no grams and therefore no row —
    the join's null coalesces to not-hit."""
    from .dedup import shingles

    spark = docs.sparkSession
    hit = bloom_hit_udf(spark, bits)
    grams = (docs.select("doc_id",
                         F.explode(shingles("text", n)).alias("g"))
             .withColumn("pos", bloom_positions(F.col("g"), BLOOM_M)))
    return (grams.groupBy("doc_id")
            .agg(F.max(hit(F.col("pos"))).alias("__hit")))


def contaminated_doc_ids(docs: DataFrame, bits: np.ndarray,
                         n: int = DECON_N) -> DataFrame:
    """doc_ids whose text shares ANY word n-gram with the bloomed
    reference set (per the filter's deterministic decision)."""
    return (doc_hit_flags(docs, bits, n)
            .filter(F.col("__hit")).select("doc_id"))
