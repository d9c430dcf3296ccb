"""Source-level audit of driver-side materializations: every
``.collect()`` / ``.toPandas()`` call site in the package whose
receiver is not VISIBLY bounded (a ``.limit(n)`` or a global
``.agg(...)`` with no ``.groupBy``) must carry an argued allowlist
entry bounding the collected side.

Why: the plan-shape audit (tests/test_plan_audit.py) bans cartesians
/ row-UDFs / global windows and the broadcast audit bans unbounded
forced broadcasts, but neither can see an unbounded ``.collect()``
landing in a future query — a collect that is 20k rows at test SF and
O(table) at 100 TB is a driver OOM built into the operator, invisible
to any physical-plan check (the plan is legal; only the source shows
the driver boundary).  Same AST recipe as tests/test_broadcast_audit
.py: one level of local-assignment resolution, so ``x = spark.read
.parquet(p); x.collect()`` is caught, not just the inline form.

Auto-pass (no allowlist entry needed) — boundedness visible in the
receiver source itself:
  * ``.limit(`` anywhere in the (resolved) receiver chain;
  * a global aggregate: ``.agg(`` present with NO ``.groupBy(`` /
    ``.cube(`` / ``.rollup(`` — at most one row by construction.

Everything else — including groupBy aggregates, whose group count is
data-dependent — needs an ALLOWED entry arguing the bound.

Known limitation (same as the broadcast audit): boundedness
established outside the receiver — by a callee, by the caller's
contract (``label_counts`` groups by a label column: ≤ num-label
rows) or by a guard statement (train.py's byte-budget check) — is
invisible to the sweep; those sites carry allowlist entries that
state the argument explicitly.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "lcmap_blackmagic_spark")

COLLECT_NAMES = ("collect", "toPandas")
GROUP_MARKERS = (".groupBy(", ".cube(", ".rollup(")

# Driver-side collects of sides not visibly bounded at the call site,
# each with the argued bound.  Key: "relpath:function:receiver"
# (line numbers shift; these don't).  Additions require an argument —
# "it was small in the bench" is not one.
ALLOWED: dict[str, str] = {
    # ---- group-count-bounded aggregates (k a call-site/contract constant) ----
    'ml/cv.py:cross_validate:folded.groupBy("__fold").count()':
        "one row per fold — k is a call-site constant",
    'ml/train.py:_train_centroid:agg':
        "NUM_CLASSES × n_features rows — both model constants",
    'ml/train.py:_train_spark_ml:train_df.select("label").distinct()':
        "distinct labels — ≤ NUM_CLASSES by the label contract",
    'operators/stats.py:label_counts:df.groupBy(label_col).count()':
        "one row per label — ≤ NUM_CLASSES by the label contract; the"
        " sampler's one counts collect (skew switch, caps and the"
        " sampleBy fractions all read it)",
    'registry/analytics.py:q_pareto_skyline:pts.withColumn("b", bx).groupBy("b") .agg(F.max("y").alias("my"))':
        "one row per x-bucket — ≤ SKY_BUCKETS, a module constant",
    # ---- model-constant sides (k-means / IVF / BPE models) ----
    'ml/kmeans.py:kmeans_fit:long.filter(F.col("id").isin(seed_ids)) .groupBy("id").agg(F.sort_array( F.collect_list(F.struct("i", "q"))).alias("s")) .orderBy("id")':
        "Lloyd seed vectors — ≤ k rows (seed_ids has k entries)",
    'ml/kmeans.py:kmeans_fit:long.join(best.select("id", "cid"), "id") .groupBy("cid", "i") .agg(F.count(F.lit(1)).alias("n"), # same wrap risk as the E-step at corpus scale # (n·|q| can pass int64) — widen before sum F.sum(F.col("q").cast("decimal(38,0)")) .alias("s"))':
        "M-step rollup — k × dim rows, both call-site constants",
    # (integer_lloyd's seed collect auto-passes: the resolved seed
    # expression carries the ORDER BY/LIMIT branch — and the other
    # branch, vec_id < cells, is ≤ `cells` rows by the same caller
    # constant)
    'streaming/jobs.py:_load_centroids:spark.read.parquet( store_dir.rstrip("/") + "_centroids")':
        "frozen SemDeDup centroid store — SEM_CELLS × SEM_DIM ints,"
        " a model constant persisted by build_semdedup_store",
    'ml/intlloyd.py:integer_lloyd:arrq.withColumn("cell", cell_of(cents)) .select("cell", F.posexplode("qa").alias("i", "v")) .groupBy("cell", "i") .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")) .select("cell", "i", F.expr("s div n").alias("m"))':
        "integer-Lloyd M-step — cells × dim rows, both caller"
        " constants",
    'ml/intlloyd.py:grouped_integer_lloyd:seeds':
        "grouped-Lloyd seeds — ≤ groups × cells rows (vec_id < cells"
        " per group), both caller constants",
    'ml/intlloyd.py:grouped_integer_lloyd:sub.withColumn("cell", assign()) .select("g", "cell", F.posexplode("qa").alias("i", "v")) .groupBy("g", "cell", "i") .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")) .select("g", "cell", "i", F.expr("s div n").alias("m"))':
        "grouped-Lloyd M-step — groups × cells × dim rows, all"
        " caller constants",
    'streaming/jobs.py:store_delete:kept_upd .select("batch_id").distinct()':
        "distinct batch ids among AFFECTED partitions — ≤ the number"
        " of micro-batches containing deleted ids, bounded by the"
        " delete request, never by corpus size",
    'streaming/jobs.py:store_compact:upd.select("batch_id").distinct()':
        "distinct batch ids PRESENT in the updates dir — one per"
        " micro-batch since the last compaction; running compaction"
        " on a maintenance cadence is exactly what bounds it (and"
        " the ids are already directory names, O(partitions)"
        " metadata, never corpus rows)",
    'streaming/jobs.py:store_delete:upd.join(idsd, id_col, "semi") .select("batch_id").distinct()':
        "distinct batch ids among AFFECTED partitions — ≤ the number"
        " of micro-batches containing deleted ids, bounded by the"
        " delete request, never by corpus size",
    'llm/text.py:bpe_encode:merges':
        "learned BPE merge table — ≤ the num_merges training budget,"
        " a call-site constant",
    # ---- Bloom-filter word rollups (bit-array size, not data size) ----
    'operators/sketches.py:bloom_bitsets:words':
        "Bloom words — ≤ m/64 rows per group; every caller's m is a"
        " module constant (llm/bloomfilter.BLOOM_M) or capped at"
        " storage.SNAP_BLOOM_MAX_BITS, and the one grouped caller"
        " (write_with_bloom) groups by file, n_files being the write"
        " job's own partition count",
    # ---- guard/window-bounded sides ----
    'ml/train.py:_collect_matrix:df.select("label", "features")':
        "the budget-guarded driver fit: a count × width byte estimate"
        " RAISES above MAX_COLLECT_BYTES immediately before this"
        " collect — the reference's deliberate driver-local design",
    'streaming/jobs.py:priority_sample_batch:winners':
        "per-group top-k window output — O(k · groups), k a"
        " call-site constant and the group key a bounded contract",
}


def _is_bounded(resolved: str) -> bool:
    """Boundedness visible in the receiver source: an explicit limit,
    or a global aggregate with no grouping."""
    if ".limit(" in resolved:
        return True
    if ".agg(" in resolved and not any(m in resolved
                                       for m in GROUP_MARKERS):
        return True
    return False


def _sites(src: str, rel: str) -> list[dict]:
    """All .collect()/.toPandas() call sites in ``src`` whose receiver
    (after one level of local-assignment resolution) is not visibly
    bounded."""
    out: list[dict] = []
    tree = ast.parse(src)

    class V(ast.NodeVisitor):
        def __init__(self):
            self.func = "<module>"
            self.assigns: dict[str, str] = {}

        def visit_FunctionDef(self, n):
            old, old_a = self.func, self.assigns
            self.func, self.assigns = n.name, {}
            self.generic_visit(n)
            self.func, self.assigns = old, old_a

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Assign(self, n):
            if len(n.targets) == 1 and isinstance(n.targets[0], ast.Name):
                self.assigns[n.targets[0].id] = \
                    ast.get_source_segment(src, n.value) or ""
            self.generic_visit(n)

        def visit_Call(self, n):
            fn = n.func
            if (isinstance(fn, ast.Attribute)
                    and fn.attr in COLLECT_NAMES and not n.args):
                recv = ast.get_source_segment(src, fn.value) or "?"
                resolved = recv
                if isinstance(fn.value, ast.Name):
                    resolved = self.assigns.get(fn.value.id, recv)
                if not _is_bounded(resolved):
                    out.append({
                        "key": f"{rel}:{self.func}:"
                               f"{' '.join(recv.split())}",
                        "line": n.lineno, "resolved": resolved})
            self.generic_visit(n)

    V().visit(tree)
    return out


def _package_sites() -> list[dict]:
    sites = []
    for dirpath, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(dirpath, f)
            with open(p) as fh:
                sites.extend(_sites(fh.read(),
                                    os.path.relpath(p, PKG)))
    return sites


def test_unbounded_collects_all_argued():
    found = {s["key"] for s in _package_sites()}
    unargued = found - set(ALLOWED)
    assert not unargued, (
        "driver-side .collect()/.toPandas() of a side with no visible "
        "bound (no .limit, not a global agg) and no argued allowlist "
        "entry — a collect that is small at test SF and O(table) at "
        "100 TB is a driver OOM built into the operator; either bound "
        "the frame in-plan or add an ALLOWED entry arguing the bound:"
        "\n  " + "\n  ".join(sorted(unargued)))
    stale = set(ALLOWED) - found
    assert not stale, (
        "stale collect-audit allowlist entries (site removed or moved "
        "— prune them so the list stays honest):\n  "
        + "\n  ".join(sorted(stale)))


def test_detector_catches_seeded_unbounded_collect():
    """The canonical future-bug shape: a full-table read assigned to a
    local, then collected (or toPandas'd) to the driver."""
    seeded = (
        "def q(spark):\n"
        "    docs = spark.read.parquet('documents')\n"
        "    return [r['doc_id'] for r in docs.collect()]\n"
    )
    hits = _sites(seeded, "seeded.py")
    assert [h["key"] for h in hits] == ["seeded.py:q:docs"]
    # inline toPandas of a join — also caught
    inline = ("def q(a, b):\n"
              "    return a.join(b, 'k').toPandas()\n")
    assert len(_sites(inline, "i.py")) == 1
    # groupBy aggregates are NOT auto-passed: group count is
    # data-dependent
    grp = ("def q(df):\n"
           "    return df.groupBy('k').agg(F.sum('v')).collect()\n")
    assert len(_sites(grp, "g.py")) == 1


def test_visibly_bounded_receivers_auto_pass():
    lim = ("def q(df):\n"
           "    return df.orderBy('k').limit(10).collect()\n")
    assert _sites(lim, "l.py") == []
    glob = ("def q(df):\n"
            "    return df.agg(F.max('v'), F.min('v')).collect()\n")
    assert _sites(glob, "g.py") == []
    # one-level resolution applies to the bound too
    res = ("def q(df):\n"
           "    top = df.orderBy('k').limit(5)\n"
           "    return top.collect()\n")
    assert _sites(res, "r.py") == []
