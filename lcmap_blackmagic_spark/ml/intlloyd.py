"""Bit-exact integer Lloyd iterations, shared by the exact-replay
IVF (registry.ann.q_llm_ann_ivf_exact) and SemDeDup
(registry.dedup.q_llm_semdedup).

The contract both engines replay identically (fuzz-pinned by
tests/test_primitive_fuzz.py's div rules):

  * coordinates are pre-quantized integers (floor(x · 2^s) — exact
    on IEEE doubles),
  * seeds are the vectors whose vec_id is below ``cells`` (dense-id
    assumption; see the callers' docstrings),
  * assignment = argmin of exact squared L2 (tie → smaller cell id),
  * centroid update = per-dimension ``sum div count`` (both engines
    truncate toward zero), an emptied cell keeps its previous
    centroid.

Scale shape: the centroid table is a CONSTANT (cells × dim ints,
collected like a broadcast model — see the collect-audit allowlist);
per iteration the only shuffle is the (cell, dim) rollup, cells·dim
rows out.  The corpus itself never shuffles during the fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def arr_sql(vals: list[int]) -> str:
    """SQL literal for an integer array."""
    return "array(" + ",".join(str(int(v)) for v in vals) + ")"


def dist_to_sql(c: list[int], qa: str = "qa") -> str:
    """SQL text of the exact squared L2 from integer array column
    ``qa`` to a driver-side centroid vector.

    The centroid-literal expressions are built as ONE SQL string
    parsed JVM-side instead of per-element ``F.lit`` Column algebra:
    each Column operator is a py4j round-trip, and the argmin trees
    here carry cells×dim literals — measured (r14) at ~1.1 s of pure
    driver-side construction per Lloyd iteration at 8×64, ~3× the
    job's actual execution.  The parsed expression tree is identical
    (same zip_with/aggregate calls, same literal types), so plans,
    results and oracles are unchanged."""
    return (f"aggregate(zip_with({qa}, {arr_sql(c)}, "
            "(x, cv) -> (x - cv) * (x - cv)), "
            "CAST(0 AS BIGINT), (a, v) -> a + v)")


def cell_of_sql(cents: list[tuple[int, list[int]]],
                qa: str = "qa") -> str:
    """SQL text of the nearest-centroid assignment (tie → smaller
    cell id) — see ``dist_to_sql`` for why this is a string."""
    structs = ",".join(
        f"named_struct('d', {dist_to_sql(c, qa)}, 'cid', {int(cid)})"
        for cid, c in cents)
    return f"array_min(array({structs})).cid"


def dist_to(c: list[int]):
    """Exact squared L2 from the ``qa`` integer array column to a
    driver-side centroid vector."""
    return F.expr(dist_to_sql(c))


def cell_of(cents: list[tuple[int, list[int]]]):
    """Nearest-centroid assignment column (tie → smaller cell id)."""
    return F.expr(cell_of_sql(cents))


def sumsq():
    """Σ qa_i² — the exact integer squared norm of ``qa``."""
    return F.aggregate(
        F.zip_with(F.col("qa"), F.col("qa"), lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda a, v: a + v)


def integer_lloyd(arrq: DataFrame, cells: int, iters: int,
                  dim: int, seed_smallest: bool = False
                  ) -> list[tuple[int, list[int]]]:
    """Run ``iters`` unrolled integer Lloyd iterations over the
    (vec_id, qa) frame; returns the fitted centroids as a driver-side
    list (a model constant, cells × dim ints).

    ``seed_smallest=False`` (the exact-IVF contract) seeds from the
    vectors whose vec_id is BELOW ``cells`` — correct on dense-from-0
    id spaces only.  ``seed_smallest=True`` seeds from the ``cells``
    SMALLEST vec_ids actually present (orderBy + limit) — required
    when fitting a SUBSET (e.g. dedup survivors), whose ids are
    neither dense nor offset-free.  Mirror the choice in the oracle
    via ``sql_lloyd_ctes(seed_smallest=...)``."""
    seeds = (arrq.orderBy("vec_id").limit(cells) if seed_smallest
             else arrq.filter(F.col("vec_id") < cells))
    cents = sorted(
        (int(r["vec_id"]), [int(v) for v in r["qa"]])
        for r in seeds.collect())
    for _ in range(iters):
        rows = (arrq.withColumn("cell", cell_of(cents))
                .select("cell", F.posexplode("qa").alias("i", "v"))
                .groupBy("cell", "i")
                .agg(F.sum("v").alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .select("cell", "i", F.expr("s div n").alias("m"))
                .collect())
        upd: dict = {}
        for r in rows:
            upd.setdefault(int(r["cell"]), {})[int(r["i"])] = int(r["m"])
        cents = [(cid, [upd[cid][i] for i in range(dim)]
                  if cid in upd else old)
                 for cid, old in cents]
    return cents


def grouped_integer_lloyd(sub, groups: int, cells: int, iters: int,
                          dim: int) -> list[list[tuple[int, list[int]]]]:
    """Fit ``groups`` INDEPENDENT integer Lloyds in one pass per
    iteration — bit-identical to ``groups`` separate
    ``integer_lloyd`` runs (same dense-id seeding, same argmin tie
    rule, same ``sum div count`` update, same emptied-cell
    carry-over), collected together.

    ``sub`` carries (g, vec_id, qa) with g in 0..groups-1.  The
    per-row assignment is a CASE over g (each branch the group's own
    argmin), so one job assigns every group; the (g, cell, dim)
    rollup updates all centroid tables at once.  The IVF-PQ codebook
    training that motivated this ran 8 subspaces × (1 seed + iters)
    jobs — 24 corpus scans; grouped it is 1 + iters scans, an
    8× scan reduction that matters exactly as much at 100 TB as it
    does to job-count overhead at bench scale.

    Returns a list indexed by g of centroid lists (the same shape
    ``integer_lloyd`` returns)."""
    seeds = sub.filter(F.col("vec_id") < cells)
    per: dict[int, dict] = {g: {} for g in range(groups)}
    for r in seeds.collect():
        per[int(r["g"])][int(r["vec_id"])] = [int(v) for v in r["qa"]]
    cents = [sorted(per[g].items()) for g in range(groups)]

    def assign():
        # one CASE expression parsed JVM-side (dist_to_sql rationale):
        # same tree as the chained F.when form (no otherwise → NULL)
        whens = " ".join(f"WHEN g = {g} THEN {cell_of_sql(cents[g])}"
                         for g in range(groups))
        return F.expr(f"CASE {whens} END")

    for _ in range(iters):
        rows = (sub.withColumn("cell", assign())
                .select("g", "cell", F.posexplode("qa").alias("i", "v"))
                .groupBy("g", "cell", "i")
                .agg(F.sum("v").alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .select("g", "cell", "i",
                        F.expr("s div n").alias("m"))
                .collect())
        upd: dict = {}
        for r in rows:
            upd.setdefault(int(r["g"]), {}).setdefault(
                int(r["cell"]), {})[int(r["i"])] = int(r["m"])
        cents = [[(cid, [upd[g][cid][i] for i in range(dim)]
                   if cid in upd.get(g, {}) else old)
                  for cid, old in cents[g]]
                 for g in range(groups)]
    return cents


# --------------------------- DuckDB replay of the same iterations ---

def sql_l2(gs: str, a: str, b: str) -> str:
    return (f"list_sum(list_transform({gs}, i -> "
            f"({a}.qa[i] - {b}.qa[i]) * ({a}.qa[i] - {b}.qa[i])))")


def sql_lloyd_ctes(cells: int, iters: int, dim: int, qs: int | None,
                   src: str = "embeddings", prefix: str = "",
                   seed_smallest: bool = False
                   ) -> tuple[list[str], str]:
    """The quantize + seed + unrolled-Lloyd CTE prefix; returns
    (parts, name-of-final-centroid-CTE).  Mirrors ``integer_lloyd``
    CTE-for-collect: aN = assignment, mN = sum//count update, cN =
    update with emptied cells keeping their previous centroid.
    ``prefix`` namespaces the CTE names so the block composes inside
    a larger oracle; ``seed_smallest`` mirrors integer_lloyd's
    subset-safe seeding (ORDER BY vec_id LIMIT cells).  ``qs=None``
    means the src ALREADY provides an integer ``qa`` column (e.g. a
    subvector slice of an earlier quantization) — no re-quantize."""
    gs = f"generate_series(1, {dim})"
    quant = ("qa" if qs is None else
             f"list_transform(embedding, x -> CAST(floor("
             f"CAST(x AS DOUBLE) * {qs}) AS BIGINT))")
    p = prefix
    seed = (f"SELECT vec_id AS cid, qa FROM {p}q "
            f"ORDER BY vec_id LIMIT {cells}" if seed_smallest else
            f"SELECT vec_id AS cid, qa FROM {p}q "
            f"WHERE vec_id < {cells}")
    parts = [f"{p}q AS MATERIALIZED (SELECT vec_id, {quant} AS qa "
             f"FROM {src})",
             f"{p}c0 AS MATERIALIZED ({seed})"]
    prev = f"{p}c0"
    for t in range(1, iters + 1):
        parts.append(
            f"{p}a{t} AS MATERIALIZED (SELECT vec_id, qa, cid FROM ("
            f"SELECT v.vec_id, v.qa, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY v.vec_id ORDER BY {sql_l2(gs, 'v', 'c')}, "
            f"c.cid) AS rn FROM {p}q v, {prev} c) WHERE rn = 1)")
        parts.append(
            f"{p}m{t} AS MATERIALIZED (SELECT cid, "
            f"list(m ORDER BY j) AS qa FROM ("
            f"SELECT a.cid, g.j, SUM(a.qa[g.j]) // COUNT(*) AS m "
            f"FROM {p}a{t} a CROSS JOIN {gs} AS g(j) "
            f"GROUP BY a.cid, g.j) GROUP BY cid)")
        parts.append(
            f"{p}c{t} AS MATERIALIZED (SELECT {prev}.cid, "
            f"COALESCE({p}m{t}.qa, {prev}.qa) AS qa FROM {prev} "
            f"LEFT JOIN {p}m{t} USING (cid))")
        prev = f"{p}c{t}"
    return parts, prev
