"""Graph registry entries: PageRank, triangle counts, co-occurrence,
label propagation, recursive rollups and the duplicate-graph k-core —
each an iterative or recursive algorithm unrolled into an exact oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .base import _t, register


# --------------------------------------------------- PageRank ------

PR_ROUNDS = 5
PR_TOPK = 20


def q_pagerank(spark, sf_dir):
    """PageRank over the user-interaction graph (operators/graph.py):
    an edge A→B whenever B's event directly follows A's within an
    event type (lead window over (ts, event_id) — a deterministic
    behavioral graph derived from the stream). Integer-scaled ranks
    make the 5 iterative rounds bit-identical across engines, so an
    ITERATIVE GRAPH ALGORITHM gets a full hash oracle (unrolled-CTE
    twin) instead of the usual rows-only check. Top-20 by rank."""
    from ..operators.graph import behavioral_edges, pagerank
    e = _t(spark, sf_dir, "events")
    # day-rekeyed lead with boundary stitch — identical pair set to
    # the naive whole-type window, but no ~N/5-row sort partitions
    # (operators/graph.behavioral_edges)
    edges = behavioral_edges(e).select("src", "dst")
    ranks = pagerank(edges, rounds=PR_ROUNDS)
    return (ranks.orderBy(F.col("rank_scaled").desc(), "node")
            .limit(PR_TOPK))


def _sql_pagerank(rounds: int = PR_ROUNDS, k: int = PR_TOPK) -> str:
    from ..operators.graph import PR_SCALE
    base = f"(SELECT {PR_SCALE} // n FROM nn)"
    ctes = [f"""ev AS MATERIALIZED (
  SELECT user_id,
         LEAD(user_id) OVER (PARTITION BY event_type
                             ORDER BY ts, event_id) AS nxt
  FROM events)""",
            """edges AS MATERIALIZED (
  SELECT user_id AS src, nxt AS dst FROM ev
  WHERE nxt IS NOT NULL AND nxt <> user_id)""",
            """nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges
    UNION ALL SELECT dst FROM edges))""",
            """deg AS MATERIALIZED (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)""",
            """ed AS MATERIALIZED (
  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src))""",
            "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
            f"""r0 AS MATERIALIZED (
  SELECT node, CAST({base} AS BIGINT) AS rank_scaled FROM nodes)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""r{r} AS MATERIALIZED (
  SELECT n.node,
         CAST((85 * COALESCE(s.insum, 0) + 15 * {base}) // 100
              AS BIGINT) AS rank_scaled
  FROM nodes n LEFT JOIN (
    SELECT ed.dst AS node, SUM(r.rank_scaled // ed.deg) AS insum
    FROM ed JOIN r{r - 1} r ON ed.src = r.node
    GROUP BY ed.dst) s USING (node))""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, rank_scaled FROM r{rounds} "
            f"ORDER BY rank_scaled DESC, node LIMIT {k}")


# ------------------------------------------- triangle counting ------

TRI_TOPK = 10


def q_triangle_count(spark, sf_dir):
    """Top-10 users by triangle participation in the behavioral
    interaction graph (same lead-window edge derivation as
    ``pagerank`` — operators/graph.py:triangle_counts). The a<b<c
    enumeration join materializes each triangle once; everything is
    integer, so the check is hash-exact."""
    from ..operators.graph import behavioral_edges, triangle_counts
    e = _t(spark, sf_dir, "events")
    # day-rekeyed lead with boundary stitch — identical pair set to
    # the naive whole-type window (operators/graph.behavioral_edges)
    edges = behavioral_edges(e).select("src", "dst")
    return (triangle_counts(edges)
            .orderBy(F.desc("triangles"), "node")
            .limit(TRI_TOPK))


SQL_TRIANGLE_COUNT = f"""
WITH seq AS (
  SELECT user_id,
         LEAD(user_id) OVER (PARTITION BY event_type
                             ORDER BY ts, event_id) AS nxt
  FROM events),
e AS (SELECT DISTINCT LEAST(user_id, nxt) AS a,
                      GREATEST(user_id, nxt) AS b
      FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id
                 AND LEAST(user_id, nxt) <> GREATEST(user_id, nxt)),
tri AS (SELECT ab.a AS ta, ab.b AS tb, bc.b AS tc
        FROM e ab JOIN e bc ON ab.b = bc.a
                  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
corners AS (SELECT ta AS node FROM tri UNION ALL
            SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
FROM corners GROUP BY node
ORDER BY triangles DESC, node LIMIT {TRI_TOPK}
"""

# ------------------------------------------- market basket ----------

BASKET_TOPK = 20


def q_item_cooccurrence(spark, sf_dir):
    """Market-basket pair analysis over orders: the top-20 part
    pairs by co-occurrence count, with support counts and LIFT
    (n·c_ab / (c_a·c_b)). The self-join runs on the order key — pair
    fan-out is bounded by basket size (TPC-H ≤ 7 lines), never the
    catalog; item marginals broadcast back onto the reduced pair
    aggregate. Lift divides exact bigint counts cast to double — one
    deterministic IEEE op per side, no rounding."""
    l = _t(spark, sf_dir, "lineitem")
    # localCheckpoint: the distinct basket table feeds FOUR consumers
    # (both self-join sides, the marginals, the order count) — one
    # distinct shuffle instead of per-consumer re-execution.  Lazy
    # (r15): all four sit inside the single final action
    items = (l.select("l_orderkey", "l_partkey").distinct()
             .localCheckpoint(eager=False))
    n_orders = items.select("l_orderkey").distinct() \
        .agg(F.count(F.lit(1)).alias("n"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("pk_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pk_b"))
    pairs = (a.join(b, "l_orderkey")
             .filter(F.col("pk_a") < F.col("pk_b"))
             .groupBy("pk_a", "pk_b")
             .agg(F.count(F.lit(1)).alias("c_ab")))
    marg = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    return (pairs
            .join(F.broadcast(marg.withColumnsRenamed(
                {"l_partkey": "pk_a", "c": "c_a"})), "pk_a")
            .join(F.broadcast(marg.withColumnsRenamed(
                {"l_partkey": "pk_b", "c": "c_b"})), "pk_b")
            .crossJoin(F.broadcast(n_orders))
            .select("pk_a", "pk_b", "c_ab", "c_a", "c_b",
                    ((F.col("c_ab") * F.col("n")).cast("double")
                     / (F.col("c_a") * F.col("c_b")).cast("double"))
                    .alias("lift"))
            .orderBy(F.desc("c_ab"), "pk_a", "pk_b")
            .limit(BASKET_TOPK))


SQL_ITEM_COOCCURRENCE = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
pairs AS (SELECT a.l_partkey AS pk_a, b.l_partkey AS pk_b,
                 CAST(COUNT(*) AS BIGINT) AS c_ab
          FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
marg AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM items
         GROUP BY 1)
SELECT pk_a, pk_b, c_ab, ma.c AS c_a, mb.c AS c_b,
       CAST(c_ab * n.n AS DOUBLE) / CAST(ma.c * mb.c AS DOUBLE) AS lift
FROM pairs JOIN marg ma ON pairs.pk_a = ma.l_partkey
           JOIN marg mb ON pairs.pk_b = mb.l_partkey
           CROSS JOIN n
ORDER BY c_ab DESC, pk_a, pk_b LIMIT {BASKET_TOPK}
"""


# ----------------------------- label-propagation communities -------

LPA_ROUNDS = 3


def q_label_propagation(spark, sf_dir):
    """Synchronous label-propagation community detection on the
    behavioral interaction graph (same lead-window edge derivation
    as pagerank/triangle_count) — the lightweight community
    assignment beside the exact connected components.

    Fully deterministic: labels start as node ids; each round every
    node adopts the MODE of its neighbors' labels with a (count
    desc, label asc) tie-break — one equi-join + one count aggregate
    + one partitioned rank window per round, rounds unrolled (3).
    Nodes are (event_type, user) composites, so communities are
    scoped per behavior stream — the whole-user graph is so dense
    that LPA collapses it to a single label (verified), which would
    make the check vacuous.  String labels compare byte-wise
    identically in both engines."""
    from ..operators.graph import behavioral_edges
    e = _t(spark, sf_dir, "events")
    # day-rekeyed lead with boundary stitch — identical pair set to
    # the naive whole-type window (operators/graph.behavioral_edges)
    seq = behavioral_edges(e)
    node = lambda c: F.concat("event_type", F.lit(":"),  # noqa: E731
                              F.col(c).cast("string"))
    und = (seq.select(F.least(node("src"), node("dst")).alias("a"),
                      F.greatest(node("src"), node("dst"))
                      .alias("b"))
           .distinct())
    # localCheckpoint: the undirected edge table feeds every LPA
    # round's neighbor join PLUS the label init — without it the
    # lead-window edge derivation re-executes once per consumer
    # inside the single final plan (4× at LPA_ROUNDS=3)
    und = (und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
           .unionByName(und.select(F.col("b").alias("src"),
                                   F.col("a").alias("dst")))
           # lazy (r15): every consumer sits inside the single final
           # action — blocks persist at its first touch, no blocking
           # materialization job; plan delta (88 → 24 Exchanges) kept
           .localCheckpoint(eager=False))
    labels = und.select(F.col("src").alias("u")).distinct() \
        .withColumn("lbl", F.col("u"))
    wmode = None
    for _ in range(LPA_ROUNDS):
        nbr = (und.join(labels, und["dst"] == labels["u"])
               .select("src", "lbl"))
        cnt = nbr.groupBy("src", "lbl").agg(F.count(F.lit(1)).alias("n"))
        wmode = Window.partitionBy("src").orderBy(F.desc("n"), "lbl")
        labels = (cnt.withColumn("rn", F.row_number().over(wmode))
                  .filter(F.col("rn") == 1)
                  .select(F.col("src").alias("u"), "lbl"))
    return (labels.groupBy("lbl")
            .agg(F.count(F.lit(1)).alias("community_size"),
                 F.min("u").alias("min_member"),
                 F.max("u").alias("max_member"))
            .orderBy(F.desc("community_size"), "lbl"))


def _sql_label_propagation() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
cnt{r} AS MATERIALIZED (
  SELECT u.src, p.lbl, CAST(COUNT(*) AS BIGINT) AS n
  FROM und u JOIN {prev} p ON u.dst = p.u
  GROUP BY u.src, p.lbl),
l{r} AS MATERIALIZED (
  SELECT src AS u, lbl FROM (
    SELECT src, lbl,
           row_number() OVER (PARTITION BY src
                              ORDER BY n DESC, lbl) AS rn
    FROM cnt{r}) WHERE rn = 1)""")
        prev = f"l{r}"
    return f"""
WITH seq AS MATERIALIZED (
  SELECT event_type, user_id,
         LEAD(user_id) OVER (PARTITION BY event_type
                             ORDER BY ts, event_id) AS nxt
  FROM events),
edges AS MATERIALIZED (
  SELECT DISTINCT
         LEAST(event_type || ':' || CAST(user_id AS VARCHAR),
               event_type || ':' || CAST(nxt AS VARCHAR)) AS a,
         GREATEST(event_type || ':' || CAST(user_id AS VARCHAR),
                  event_type || ':' || CAST(nxt AS VARCHAR)) AS b
  FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
und AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b, a FROM edges),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS u, src AS lbl FROM und),
{",".join(rounds)}
SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size,
       MIN(u) AS min_member, MAX(u) AS max_member
FROM {prev} GROUP BY lbl
ORDER BY community_size DESC, lbl
"""


SQL_LABEL_PROPAGATION = _sql_label_propagation()


# ------------------------------ recursive hierarchy rollup ---------

# The Spark side spells integer division `div`, DuckDB spells it
# `//` — otherwise the two recursive texts are identical.
_RECURSIVE_ROLLUP = """
WITH RECURSIVE up(user_id, anc, lvl) AS (
  SELECT user_id, user_id, 0 FROM {src}
  UNION ALL
  SELECT user_id, anc {intdiv} 10, lvl + 1 FROM up WHERE anc > 0
),
roll AS (
  SELECT lvl, anc, CAST(SUM(n_events) AS BIGINT) AS sub_events,
         CAST(SUM(cents) AS BIGINT) AS sub_cents
  FROM up JOIN {src} USING (user_id) GROUP BY lvl, anc)
SELECT lvl, COUNT(*) AS n_nodes,
       CAST(MAX(sub_events) AS BIGINT) AS max_sub_events,
       CAST(SUM(sub_events) AS BIGINT) AS sum_events,
       CAST(SUM(sub_cents) AS BIGINT) AS sum_cents
FROM roll GROUP BY lvl ORDER BY lvl
"""


def q_recursive_rollup(spark, sf_dir):
    """Hierarchical subtree rollup via a RECURSIVE CTE (the Spark 4
    UnionLoop operator — org-chart/BOM recursion, new SQL surface):
    each user id climbs its decimal-radix ancestor chain (parent =
    id div 10, a functional graph — one parent per node, so the
    UNION ALL recursion is linear, never a path explosion) and event
    counts/cents roll up into every ancestor at every level.  All
    emitted values are order-free integer sums — hash-exact against
    DuckDB's recursive evaluation of the same text."""
    e = _t(spark, sf_dir, "events")
    (e.groupBy("user_id")
     .agg(F.count(F.lit(1)).alias("n_events"),
          F.sum((F.col("value").cast("decimal(18,2)") * 100)
                .cast("bigint")).alias("cents"))
     .createOrReplaceTempView("rr_per_user"))
    return spark.sql(_RECURSIVE_ROLLUP.format(src="rr_per_user",
                                              intdiv="div"))


# same recursive text, DuckDB spelling, with the per-user aggregate
# prepended to the (shared) WITH RECURSIVE list
SQL_RECURSIVE_ROLLUP = (
    "WITH RECURSIVE per_user AS (SELECT user_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    "CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
    "AS BIGINT) AS cents FROM events GROUP BY user_id),\n"
    + _RECURSIVE_ROLLUP.format(src="per_user", intdiv="//")
    .strip().replace("WITH RECURSIVE up", "up", 1)
)


# ------------------------------------- multi-signal dup-graph k-core

KCORE_K = 16      # minimum induced degree to stay in the core
KCORE_ROUNDS = 5  # unrolled peel rounds (fixpoint at sf0.01: round 5
#                   re-peels 2 of 298; both engines replay the SAME
#                   rounds, so non-convergence at another SF is still
#                   bit-exact — the pagerank unrolling precedent)


def q_llm_dup_kcore(spark, sf_dir):
    """k-core decomposition of the MULTI-SIGNAL duplicate graph —
    vertices are documents, edges the union of the three lexical
    near-dup detectors this registry already oracle-checks (MinHash
    LSH pairs, SimHash hamming pairs, blocked n-gram Jaccard pairs).
    Peeling to the K-core keeps only documents embedded in DENSE dup
    neighborhoods — template/boilerplate farms where every member has
    ≥ K flagged partners even after weakly-attached docs are removed;
    the standard graph signal for cluster-level (not pairwise)
    dedup decisions.  Emits the peel profile: (round, n_core,
    n_edges) for round 0 (the full dup graph) through KCORE_ROUNDS.

    Fully oracle-checked: the three edge lists are the SAME md5-exact
    pair queries the registry pins individually, and the peel is
    KCORE_ROUNDS unrolled rounds (alive ← vertices whose
    alive-induced degree ≥ K) — deterministic set arithmetic both
    engines replay identically, converged or not.

    Scale shape: each round is one equi-join of the edge list against
    the frontier on each endpoint plus a count aggregate — no global
    structure, shuffles keyed by doc id; the edge list is built once
    and localCheckpointed (3 signal pipelines × 6 consumers would
    otherwise re-run per round), and each round's frontier is
    checkpointed (O(core) rows) because round t's plan would
    otherwise embed TWO copies of round t−1's — the standard
    materialize-the-frontier shape of distributed iterative graph
    algorithms.  Peel work only ever shrinks: round t touches the
    edges induced by round t−1's survivors."""
    from .dedup import q_minhash_pairs, q_ngram_jaccard, q_simhash_pairs
    mh = q_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    sh = q_simhash_pairs(spark, sf_dir).select("id_a", "id_b")
    ng = q_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    # ALL checkpoints in this query are lazy (r15): the peel rounds
    # are a FIXED count with no per-round driver decision (the
    # pagerank precedent), so every frontier/edge table materializes
    # under the caller's single action and is reused from blocks —
    # the r14 eager forms ran 7 blocking jobs before the action
    ep = (mh.unionByName(sh).unionByName(ng).distinct()
          .localCheckpoint(eager=False))
    und = ep.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")) \
        .unionByName(
            ep.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))

    def stage(t, alive):
        n_core = alive.agg(F.lit(t).alias("round"),
                           F.count(F.lit(1)).alias("n_core"))
        n_edges = (ep.join(alive.select(F.col("u").alias("id_a")),
                           "id_a")
                   .join(alive.select(F.col("u").alias("id_b")), "id_b")
                   .agg(F.lit(t).alias("round"),
                        F.count(F.lit(1)).alias("n_edges")))
        return n_core.join(n_edges, "round")

    alive = und.select("u").distinct().localCheckpoint(eager=False)
    out = stage(0, alive)
    for t in range(1, KCORE_ROUNDS + 1):
        deg = (und.join(alive, "u")
               .join(alive.select(F.col("u").alias("v")), "v")
               .groupBy("u").agg(F.count(F.lit(1)).alias("d")))
        alive = (deg.filter(F.col("d") >= KCORE_K).select("u")
                 .localCheckpoint(eager=False))
        out = out.unionByName(stage(t, alive))
    return out.orderBy("round")


def _sql_dup_kcore() -> str:
    from .dedup import SQL_MINHASH_PAIRS, SQL_NGRAM_JACCARD, SQL_SIMHASH_PAIRS
    parts = [
        f"ep AS MATERIALIZED (\n"
        f"  SELECT id_a, id_b FROM ({SQL_MINHASH_PAIRS})\n"
        f"  UNION SELECT id_a, id_b FROM ({SQL_SIMHASH_PAIRS})\n"
        f"  UNION SELECT id_a, id_b FROM ({SQL_NGRAM_JACCARD}))",
        "und AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM ep "
        "UNION ALL SELECT id_b, id_a FROM ep)",
        "a0 AS MATERIALIZED (SELECT DISTINCT u FROM und)",
    ]
    prev = "a0"
    for t in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT u FROM ("
            f"SELECT g.u, COUNT(*) AS d FROM und g "
            f"JOIN {prev} x ON g.u = x.u JOIN {prev} y ON g.v = y.u "
            f"GROUP BY g.u) WHERE d >= {KCORE_K})")
        prev = f"a{t}"
    rounds = "\nUNION ALL ".join(
        f"SELECT {t} AS round, (SELECT COUNT(*) FROM a{t}) AS n_core, "
        f"(SELECT COUNT(*) FROM ep JOIN a{t} x ON ep.id_a = x.u "
        f"JOIN a{t} y ON ep.id_b = y.u) AS n_edges"
        for t in range(KCORE_ROUNDS + 1))
    return ("WITH " + ",\n".join(parts) + "\n" + rounds
            + "\nORDER BY round")


SQL_LLM_DUP_KCORE = _sql_dup_kcore()


register({
    "pagerank":         {"fn": q_pagerank, "sql": _sql_pagerank()},
    "triangle_count":     {"fn": q_triangle_count,
                           "sql": SQL_TRIANGLE_COUNT},
    "item_cooccurrence":  {"fn": q_item_cooccurrence,
                           "sql": SQL_ITEM_COOCCURRENCE},
    "label_propagation":  {"fn": q_label_propagation,
                           "sql": SQL_LABEL_PROPAGATION},
    "recursive_rollup":   {"fn": q_recursive_rollup,
                           "sql": SQL_RECURSIVE_ROLLUP},
    "llm_dup_kcore":    {"fn": q_llm_dup_kcore,
                         "sql": SQL_LLM_DUP_KCORE},
})
