"""SemDeDup building blocks (Abbas et al. 2023), shared by the batch
funnel query (registry.dedup.q_llm_semdedup) and the streaming ingest
twin (streaming/jobs.semdedup_stream): integer-quantized embeddings,
bit-exact integer-Lloyd cells (ml/intlloyd), and the within-cell
integer cosine-threshold decision.

All arithmetic is engine-replayable: coordinates quantized by
floor(x·2^10) (exact on IEEE doubles), squared norms / dots exact in
int64 (requires |component| ≤ 1 — see registry.dedup's derivation),
and the threshold compare widened to DECIMAL(38,0) because
dot²·10⁴ ≈ 4.5e19 exceeds int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

SEM_CELLS = 16    # k-means cells (the semantic clusters)
SEM_ITERS = 2     # unrolled integer Lloyd iterations
SEM_QS = 1024     # 2^10 coordinate quantization (exact: double*2^10)
SEM_DIM = 64
SEM_TAU2_BP = 900  # τ² in basis points: τ = 0.30 (synthetic vectors
#                    have no true dups; ext2.NEARDUP_THRESHOLD's
#                    precedent — low enough that cells actually dedup)


def quantize(emb: DataFrame, qs: int = SEM_QS) -> DataFrame:
    """(vec_id, embedding) → (vec_id, qa bigint[]) by floor(x·qs)."""
    return emb.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * qs)
                    .cast("bigint")).alias("qa"))


def assign_cells(arrq: DataFrame,
                 cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Add the nearest-centroid ``cell`` and exact squared norm
    ``n2`` (zero-norm vectors dropped — NaN cosine orders differently
    across engines)."""
    from ..ml.intlloyd import cell_of, sumsq
    return (arrq.withColumn("cell", cell_of(cents))
            .withColumn("n2", sumsq()).filter(F.col("n2") > 0))


def dot_over(a_col: str, b_col: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a_col), F.col(b_col), lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def sem_cond(dot: Column, a2: Column, b2: Column,
             tau2_bp: int) -> Column:
    """cosine ≥ τ decided exactly: dot ≥ 0 AND dot²·10⁴ ≥ τ²bp·a2·b2,
    both products in DECIMAL(38,0) (they exceed int64)."""
    lhs = (dot * dot).cast("decimal(38,0)") * F.lit(10_000)
    rhs = (a2 * b2).cast("decimal(38,0)") * F.lit(tau2_bp)
    return (dot >= 0) & (lhs >= rhs)


def semdedup_cross_flags(inc: DataFrame, store: DataFrame,
                         tau2_bp: int = SEM_TAU2_BP) -> DataFrame:
    """Flag incoming vectors semantically duplicating a CELL-ASSIGNED
    STORE: (incoming_id, n_partners, canonical_partner, max_cos2_bp)
    for every incoming vector with same-cell cosine ≥ τ against some
    store vector.  Both inputs carry (vec_id, qa, cell, n2).  The
    join is an equi-join on cell — per-key fan-out is the probed
    cell's store population, the IVF bound, never all-pairs.  Shared
    by the streaming ingest twin and its batch-fold test reference."""
    ic = inc.select(F.col("vec_id").alias("incoming_id"),
                    F.col("qa").alias("aq"), "cell",
                    F.col("n2").alias("a2"))
    st = store.select(F.col("vec_id").alias("partner_id"),
                      F.col("qa").alias("bq"), "cell",
                      F.col("n2").alias("b2"))
    dot = dot_over("aq", "bq")
    j = (ic.join(st, "cell")
         .select("incoming_id", "partner_id", "a2", "b2",
                 dot.alias("dot"))
         .filter(sem_cond(F.col("dot"), F.col("a2"), F.col("b2"),
                          tau2_bp)))
    cos2_bp = F.floor(
        (F.col("dot") * F.col("dot")).cast("decimal(38,0)")
        * F.lit(10_000)
        / (F.col("a2") * F.col("b2")).cast("decimal(38,0)")
    ).cast("bigint")
    return (j.select("incoming_id", "partner_id",
                     cos2_bp.alias("cos2_bp"))
            .groupBy("incoming_id")
            .agg(F.count(F.lit(1)).alias("n_partners"),
                 F.min("partner_id").alias("canonical_partner"),
                 F.max("cos2_bp").alias("max_cos2_bp")))
