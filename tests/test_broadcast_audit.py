"""Source-level audit of FORCED broadcasts: every ``F.broadcast(x)``
call site in the package whose argument derives from a data-dependent
aggregate (groupBy/agg/distinct/dropDuplicates) must carry an argued
allowlist entry bounding the broadcast side.

Why: an explicit ``F.broadcast`` OVERRIDES AQE's size threshold — a
data-dependent side that is small at test SF but O(table) at 100 TB
becomes a driver/executor OOM built into the plan (round-11 verdict:
``llm_bloom_decontam`` force-broadcast the unbounded contaminated-
doc-id set; the whole-registry PHYSICAL-plan audit could not see it
because the plan shape is legal — only the source reveals the forced
hint on an unbounded side).

The sweep is AST-based (like tests/test_no_shadowed_tests.py): it
resolves one level of local assignment, so ``x = df.groupBy(...);
F.broadcast(x)`` is caught, not just the inline form.

Known limitation: a broadcast gated behind a FUNCTION PARAMETER
(``minhash_pairs(broadcast_docs=...)`` — llm/dedup.py) is invisible
to the sweep because the hint site is conditional.  Those sites must
document the at-scale toggle in their own docstring (minhash_pairs
does: default True is argued for corpus-partition granularity, and
scale-sensitive callers like llm_dedup_eval pass False).  Sites whose
argument shows no aggregate derivation (dimension-table reads,
literal ranges, sketch constructors) pass by default — those are
bounded by what they read, and banning every broadcast would just
push people to drop the hint where it is correct (true dimension
sides).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "lcmap_blackmagic_spark")

# substrings marking a data-dependent aggregate derivation
AGG_MARKERS = (".groupBy(", ".agg(", ".distinct()", ".dropDuplicates(")

# Forced broadcasts of aggregate-derived sides, each with the argued
# bound.  Key: "relpath:function:arg" (line numbers shift; these
# don't).  Additions require an argument here — "it was small in the
# bench" is not one.
ALLOWED: dict[str, str] = {
    # ---- one-row (or constant-row) global aggregates ----
    "registry/analytics.py:q_rank_ratios_bp:n":
        "one-row global count",
    "registry/text.py:q_llm_mix_balanced:budget":
        "one-row global min-of-domain-totals",
    "registry/text.py:q_llm_mix_epochs:g":
        "one-row global (grand total, domain count) pair",
    "registry/text.py:q_llm_mix_temperature:g":
        "one-row global (grand total, sqrt-sum) pair",
    "registry/text.py:q_llm_curriculum:n":
        "one-row global document count",
    "registry/analytics.py:q_eval_mrr_map:n":
        "per-priority candidate counts — ≤5 groups",
    "registry/analytics.py:q_eval_mrr_map:rtot":
        "per-priority relevant counts — ≤5 groups",
    "registry/sketches.py:q_kmv_sketch:n_g":
        "per-returnflag counts — ≤3 flag values",
    "registry/text.py:_mix_plan:tot":
        "one-row global total",
    "registry/text.py:q_class_weights:tot":
        "one-row global total",
    "registry/analytics.py:q_group_median_bp:n":
        "per-returnflag counts — ≤3 flag values",
    "registry/analytics.py:q_group_quartiles_bp:n":
        "per-returnflag counts — ≤3 flag values",
    "registry/analytics.py:bucketize:n":
        "one-row global count",
    "registry/tpch.py:_partsupp:n":
        "one-row count (synth sizing)",
    "registry/tpch.py:q_tpch_q11:total":
        "one-row global sum",
    "registry/tpch.py:q_tpch_q15:top":
        "one-row max revenue",
    "registry/tpch.py:q_tpch_q22:avg_bal":
        "one-row global average",
    "registry/graph.py:q_item_cooccurrence:n_orders":
        "one-row global count",
    "registry/sketches.py:q_skew_profile:totals":
        "one-row (n_rows, n_keys, max_cnt) aggregate",
    "registry/analytics.py:q_cusum_changepoints:mu":
        "one-row global mean",
    "registry/ann.py:q_bm25_topk:stats":
        "one-row (n_docs, total_dl, df_i) aggregate",
    "registry/text.py:q_pmi_bigrams:n_bi":
        "one-row bigram total",
    "registry/text.py:q_lm_score:vocab":
        "one-row vocabulary size",
    "operators/sampling.py:stratified_sample_hash:total":
        "one-row global count",
    "operators/stats.py:label_statistics:total":
        "one-row global count",
    "llm/text.py:rarity_scores:total":
        "one-row global token total",
    "llm/text.py:dsir_weights:tot":
        "one-row (nt, nr) global token totals",
    # (q_llm_dsir_score's wtab broadcast is below the sweep's
    # one-level assignment resolution; its bound — ≤ DSIR_B = 4096
    # rows, a constant — is argued in the query docstring)
    # ---- group-count-bounded sides (num classes / num types) ----
    "registry/tpch.py:q_topk_customers:top":
        "top-k rows by construction",
    "registry/analytics.py:q_mad_outliers:med":
        "per-event_type medians — ≤ num types rows",
    "registry/analytics.py:q_mad_outliers:mad":
        "per-event_type MADs — ≤ num types rows",
    # ---- bounded-by-contract sides ----
    "registry/pipelines.py:_curation_stages:bench":
        "benchmark-split 5-grams — bounded by the held-out benchmark"
        " size, the 5-gram-broadcast decontam design (shared by"
        " llm_curation and llm_curation_lines)",
    "registry/dedup.py:q_decontaminate:bench":
        "benchmark-split 5-grams — bounded by the held-out benchmark"
        " size (same contract as llm_curation)",
    "registry/pipelines.py:q_llm_curation_sem:bench":
        "benchmark-split 5-grams — bounded by the held-out benchmark"
        " size (same contract as llm_curation)",
    "storage.py:snapshot_changes:dd":
        "equality-delete key sets of ONE version range — bounded by"
        " the delta commits' own key files, not the table",
    "storage.py:merge_into_snapshot:source.select(key).dropDuplicates()":
        "MERGE source keys — CDC-batch-sized by the merge contract",
    "operators/merge.py:incremental_agg_update:changes.select(key).distinct()":
        "incremental-MV delta keys — batch-sized by the MV contract",
}


def _sites(src: str, rel: str) -> list[dict]:
    """All broadcast(...) call sites in ``src`` whose argument (after
    one level of local-assignment resolution) matches an aggregate
    marker."""
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
            name = fn.attr if isinstance(fn, ast.Attribute) else \
                (fn.id if isinstance(fn, ast.Name) else "")
            if name == "broadcast" and n.args:
                arg = ast.get_source_segment(src, n.args[0]) or "?"
                resolved = arg
                if isinstance(n.args[0], ast.Name):
                    resolved = self.assigns.get(n.args[0].id, arg)
                if any(m in resolved for m in AGG_MARKERS):
                    out.append({
                        "key": f"{rel}:{self.func}:"
                               f"{' '.join(arg.split())}",
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


def test_forced_broadcasts_of_aggregate_sides_all_argued():
    found = {s["key"] for s in _package_sites()}
    unargued = found - set(ALLOWED)
    assert not unargued, (
        "forced F.broadcast of a data-dependent aggregate side with "
        "no argued bound — an explicit broadcast bypasses AQE's size "
        "threshold, so either drop the hint (let AQE decide) or add "
        "an ALLOWED entry arguing why the side is bounded:\n  "
        + "\n  ".join(sorted(unargued)))
    stale = set(ALLOWED) - found
    assert not stale, (
        "stale broadcast-audit allowlist entries (site removed or "
        "moved — prune them so the list stays honest):\n  "
        + "\n  ".join(sorted(stale)))


def test_detector_catches_seeded_unbounded_broadcast():
    """The exact round-11 shape: an aggregate-derived id set assigned
    to a local, then force-broadcast onto the corpus."""
    seeded = (
        "def q(corpus):\n"
        "    dropped = corpus.filter(hit).select('doc_id').distinct()\n"
        "    return corpus.join(F.broadcast(dropped), 'doc_id', 'left')\n"
    )
    hits = _sites(seeded, "seeded.py")
    assert [h["key"] for h in hits] == ["seeded.py:q:dropped"]
    # inline form too
    inline = ("def q(df):\n"
              "    return df.join(F.broadcast(df.groupBy('k').agg(c)))\n")
    assert len(_sites(inline, "i.py")) == 1
    # and a plain dimension-read broadcast does NOT flag
    dim = ("def q(spark, df):\n"
           "    d = spark.read.parquet('dim')\n"
           "    return df.join(F.broadcast(d), 'k')\n")
    assert _sites(dim, "d.py") == []
