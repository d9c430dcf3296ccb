"""Shape test for the per-family normalized bench artifact
(tools/bench_families.py): every headline query classifies into
exactly one family, each family carries the anchor VERDICT r11
prescribed (snapshot/write-heavy → disk_anchor_sec, Arrow-pandas →
python_anchor_sec, codegen → anchor_sec).  The families are printed
on demand from bench_detail.json, never committed beside it, so there
is no second artifact to go stale."""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_families import FAMILY_ANCHOR, family_of, summarize  # noqa: E402


def _detail():
    with open(os.path.join(REPO, "bench_detail.json")) as fh:
        return json.load(fh)


def test_every_headline_query_classified():
    d = _detail()
    fams = summarize(d)
    spread = [q for rec in fams.values() for q in rec["queries"]]
    assert sorted(spread) == sorted(d["queries"])
    # the write-bound family is normalized by the disk anchor, the
    # pandas family by the python anchor
    assert "snapshot_mv" in fams["disk"]["queries"]
    assert "lcmap_predict_chip" in fams["python"]["queries"]
    assert "pricing_summary" in fams["jvm"]["queries"]
    for f, rec in fams.items():
        assert rec["anchor"] == d.get(FAMILY_ANCHOR[f])
        assert rec["normalized"] and rec["normalized"] > 0


def test_family_of_total():
    assert family_of("snapshot_anything") == "disk"
    assert family_of("zorder_key") == "disk"
    assert family_of("mm_resize") == "python"
    assert family_of("tpch_q9") == "jvm"
