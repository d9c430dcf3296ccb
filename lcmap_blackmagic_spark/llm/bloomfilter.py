"""Broadcast Bloom membership filtering for corpus curation — the
at-scale decontamination/blocklist shape shared by the batch query
(registry.dedup.q_llm_bloom_decontam) and the streaming ingest twin
(streaming.jobs.bloom_decontam_stream):

- the reference set's grams fold into an m-bit bitset via bit_or
  word partials (executor-side; the driver collects m/64 bigints),
- the bitset persists as a tiny (w, bits) table — the streaming
  jobs' signature store — and broadcasts to every worker,
- each probe gram tests k deterministic md5 positions in one
  Arrow-vectorized numpy pass per batch.

Positions are md5-derived (the storage._bloom_positions
construction), so the membership decision — false positives
included — is a pure function any engine replays exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_M = 1 << 17         # bits; 2048 packed words — broadcastable
BLOOM_K = 7
DECON_N = 5               # word n-gram order (llm_decontaminate's)


def gram_positions(gram_col, m: int = BLOOM_M, k: int = BLOOM_K):
    """The k md5-derived bit positions of a gram (48-bit prefix
    mod m)."""
    return F.array(*[
        (F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), gram_col)),
                            1, 12), 16, 10).cast("bigint")
         % F.lit(m)).cast("long")
        for i in range(k)])


def bloom_words(grams: DataFrame, m: int = BLOOM_M,
                k: int = BLOOM_K) -> DataFrame:
    """Fold a gram column (named ``g``) into non-zero bitset words
    (w, bits) — one bit_or aggregate, at most m/64 output rows."""
    return (grams
            .select(F.explode(gram_positions(F.col("g"), m, k))
                    .alias("pos"))
            .groupBy(F.shiftright(F.col("pos"), 6).alias("w"))
            .agg(F.bit_or(F.expr(
                "shiftleft(CAST(1 AS BIGINT), pos % 64)")).alias("bits")))


def bits_from_words(rows, m: int = BLOOM_M) -> np.ndarray:
    """(w, bits) rows -> packed uint64 bitset array."""
    bits = np.zeros(m // 64, dtype=np.uint64)
    for row in rows:
        bits[row["w"]] = np.uint64(row["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bits


def bloom_hit_udf(spark, bits: np.ndarray):
    """Arrow-vectorized membership probe over a positions-array
    column: True iff every position's bit is set in the broadcast
    bitset."""
    from pyspark.sql.pandas.functions import pandas_udf

    bbits = spark.sparkContext.broadcast(bits)

    @pandas_udf("boolean")
    def bloom_hit(pos: pd.Series) -> pd.Series:
        bs = bbits.value
        arr = np.asarray([np.asarray(p, dtype=np.int64) for p in pos])
        if arr.size == 0:
            return pd.Series(np.zeros(len(pos), dtype=bool))
        w = bs[arr >> 6]
        hit = (w >> (arr % 64).astype(np.uint64)) & np.uint64(1)
        return pd.Series(hit.all(axis=1).astype(bool))

    return bloom_hit


def doc_hit_flags(docs: DataFrame, bits: np.ndarray,
                  m: int = BLOOM_M, k: int = BLOOM_K,
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
             .withColumn("pos", gram_positions(F.col("g"), m, k)))
    return (grams.groupBy("doc_id")
            .agg(F.max(hit(F.col("pos"))).alias("__hit")))


def contaminated_doc_ids(docs: DataFrame, bits: np.ndarray,
                         m: int = BLOOM_M, k: int = BLOOM_K,
                         n: int = DECON_N) -> DataFrame:
    """doc_ids whose text shares ANY word n-gram with the bloomed
    reference set (per the filter's deterministic decision)."""
    return (doc_hit_flags(docs, bits, m, k, n)
            .filter(F.col("__hit")).select("doc_id"))
