"""Whole-registry physical-plan audit: EVERY registered query's plan
is swept for the anti-patterns that kill 100 TB runs, not just the
handful with hand-written guards in test_plan_shapes.py.

Rules:
- no CartesianProduct, ever (broadcast NLJ over a tiny side is fine
  and appears as BroadcastNestedLoopJoin instead);
- no row-at-a-time Python UDF (BatchEvalPython) — Python is allowed
  only through Arrow (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas), which the multimodal / detect / pack
  operators legitimately use;
- no UNPARTITIONED WindowExec (empty PARTITION BY = every row
  through one task's sort — an OOM at 10^12 rows) unless the
  window's input is argued constant-bounded in the allowlist.

An explicit allowlist documents any exception; additions to it should
be argued in the PR, not silently accumulated.
"""

import pytest

from lcmap_blackmagic_spark.registry import QUERIES

# queries whose plan legitimately contains a normally-banned node
CARTESIAN_OK: set[str] = set()
ROW_UDF_OK: set[str] = {
    # the Spark 4 Python UDTF surface demo: its whole point is the
    # table-function API (BatchEvalPythonUDTF); the DECLARATIVE twin
    # of the same operator is llm_chunk (one Generate, no Python)
    "udtf_chunks",
}
# global (empty-partition-spec) windows whose input is provably NOT
# table-sized — each entry argues the constant bound
GLOBAL_WINDOW_OK: set[str] = {
    # rank window over the B=32 bootstrap replicate means — constant
    "bootstrap_ci",
    # rank + ideal-rank windows over the NDCG@10 cut — ≤10 rows each
    "eval_ndcg",
    # union of two KMV sketches — ≤ 2·K = 2048 rows by construction
    "kmv_set_ops",
    # lag over per-week revenue totals — rows bounded by the calendar
    # span (weeks since epoch), not by table size
    "wow_growth",
    # ntile oracle-parity twins; the at-scale forms are the _bp
    # breakpoint queries (registry.analytics), which pass unallowlisted
    "quality_deciles",
    "rfm_scores",
    # rank windows over the two TakeOrdered top-k cuts (lexical +
    # vector first stages) — ≤ BM25_TOPK = 20 rows each; the corpus
    # passes themselves are TakeOrderedAndProject, never a global sort
    "llm_rrf_fusion",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _global_windows(plan: str) -> list[str]:
    """Window nodes with an empty partition spec.  WindowExec prints
    up to three top-level bracket groups —
    ``Window [exprs], [partitionSpec], [orderSpec]`` — omitting
    whichever spec is empty.  Three groups ⇒ partitioned; two groups
    is ambiguous (partition-only windows also print two), so the
    last group is inspected: an order spec carries ``ASC NULLS`` /
    ``DESC NULLS`` markers, a partition spec is a bare column list.
    Bracket depth is tracked so nested brackets inside window
    expressions don't miscount."""
    out = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*")
        if not stripped.startswith("Window "):
            continue
        groups: list[str] = []
        depth = 0
        start = -1
        for i, ch in enumerate(stripped):
            if ch == "[":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(stripped[start:i])
        if len(groups) >= 3:
            continue  # [exprs], [partition], [order]
        if len(groups) == 2 and not (
                "ASC NULLS" in groups[1] or "DESC NULLS" in groups[1]):
            continue  # [exprs], [partition] — partition-only window
        out.append(stripped)
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_no_row_udf(spark, sf_dir, name):
    df = QUERIES[name]["fn"](spark, sf_dir)
    plan = _plan(df)
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, \
            f"{name}: CartesianProduct in physical plan"
    if name not in ROW_UDF_OK:
        assert "BatchEvalPython" not in plan, \
            f"{name}: row-at-a-time Python UDF in physical plan"
    if name not in GLOBAL_WINDOW_OK:
        offenders = _global_windows(plan)
        assert not offenders, (
            f"{name}: unpartitioned WindowExec in physical plan "
            f"(single-task global sort — the ntile-at-scale trap):\n"
            + "\n".join(offenders))


def test_global_window_detector_parsing():
    """The bracket-group parser itself: a global ordered window (2
    groups, ASC marker) flags; a PARTITION-ONLY window (2 groups, no
    order markers) does NOT (the false positive the first cut of
    this detector had); a partitioned+ordered window (3 groups) does
    not; nested brackets inside window expressions don't miscount."""
    flagged = _global_windows(
        "+- Window [ntile(10) windowspecdefinition(x#1L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " currentrow$())) AS n#2], [x#1L ASC NULLS FIRST]")
    assert len(flagged) == 1
    assert not _global_windows(
        "+- Window [count(1) windowspecdefinition(g#1, x#2L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS c#3L], [g#1, x#2L]")
    assert not _global_windows(
        "+- Window [sum(v#1L) windowspecdefinition(k#2L, x#3L ASC "
        "NULLS FIRST, specifiedwindowframe(RangeFrame, "
        "unboundedpreceding$(), currentrow$())) AS s#4L], [k#2L], "
        "[x#3L ASC NULLS FIRST]")
    assert not _global_windows("+- Project [a#1, b#2]\n+- Sort [a#1]")
