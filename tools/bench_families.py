"""Per-family anchor-normalized bench ratios — the regression-triage
starting point VERDICT r11 asked for: snapshot_* (and other
write-bound entries) normalize against ``disk_anchor_sec``,
Python-worker-bound entries against ``python_anchor_sec``, and
codegen-bound entries against the JVM ``anchor_sec``, so a
round-over-round move is read against the RIGHT host denominator
(round 10's "regression" was a slow disk the CPU anchor could not
see; round 11's watch item was python-pool variance).

Usage:
    python tools/bench_families.py [current_detail] [prev_detail]

defaults: bench_detail.json, BENCH_r11.json-era bench_detail is not
kept per-round, so prev defaults to none (families still emitted,
ratios omitted).  Prints the families as JSON on stdout; the output is
a pure function of the detail file, so it is regenerated on demand
rather than committed beside it.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# family → which anchor divides its seconds
FAMILY_ANCHOR = {"disk": "disk_anchor_sec",
                 "python": "python_anchor_sec",
                 "jvm": "anchor_sec"}

# Explicit python-worker-bound entries (Arrow pandas-UDF hot paths:
# the lcmap chip pipelines' detect/inference stages, multimodal
# decode, and the vectorized-cosine ANN entries).
PYTHON_BOUND = {
    "lcmap_detect_chip", "lcmap_tile_train", "lcmap_predict_chip",
    "mm_extract_features", "mm_resize", "mm_frame_sample",
    "mm_phash_pairs", "mm_audio_features",
    "llm_cosine_topk", "llm_embed_neardup", "llm_ann_topk",
    "llm_ann_ivf", "llm_bloom_decontam",
}


def family_of(name: str) -> str:
    """Family assignment: write-bound snapshot/table-format entries →
    disk; Arrow-pandas-bound entries → python; everything else (the
    codegen/JVM path) → jvm."""
    if name.startswith("snapshot_") or name in {"merge_upsert",
                                                "zorder_key"}:
        return "disk"
    if name in PYTHON_BOUND:
        return "python"
    return "jvm"


def summarize(detail: dict) -> dict:
    fams: dict[str, dict] = {
        f: {"queries": [], "total_sec": 0.0} for f in FAMILY_ANCHOR}
    for q, sec in sorted(detail["queries"].items()):
        f = family_of(q)
        fams[f]["queries"].append(q)
        fams[f]["total_sec"] = round(fams[f]["total_sec"] + sec, 3)
    for f, rec in fams.items():
        anchor = detail.get(FAMILY_ANCHOR[f])
        rec["anchor"] = anchor
        rec["normalized"] = (round(rec["total_sec"] / anchor, 2)
                             if anchor else None)
    return fams


def main() -> None:
    cur_p = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(REPO, "bench_detail.json")
    prev_p = sys.argv[2] if len(sys.argv) > 2 else None
    with open(cur_p) as fh:
        cur = json.load(fh)
    out = {"sf": cur.get("sf"), "families": summarize(cur)}
    if prev_p:
        with open(prev_p) as fh:
            prev = json.load(fh)
        pf = summarize(prev)
        out["vs_prev"] = {}
        for f, rec in out["families"].items():
            a, b = rec.get("normalized"), pf[f].get("normalized")
            out["vs_prev"][f] = round(a / b, 3) if a and b else None
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
