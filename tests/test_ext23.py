"""Scheduling operators (registry.text, registry.dedup): line-level
corpus rewrite, multi-epoch shuffle schedule, curriculum tiers.
Value parity with DuckDB is covered by tests/test_oracle_parity.py;
these pin the SEMANTIC properties — a pure-Python independent
recompute of the line-dedup rewrite (a second oracle that shares
nothing with either engine's SQL), permutation/contiguity of the
shuffle schedule, and tie-collapsed tier monotonicity."""

import collections

import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.registry.dedup import (LINE_MAXOCC, LINE_W,
                                                   q_llm_line_dedup)
from lcmap_blackmagic_spark.registry.text import (CURR_TIERS, EPOCHS,
                                                  SHUFFLE_SHARDS,
                                                  q_llm_curriculum,
                                                  q_llm_epoch_shuffle,
                                                  q_llm_seq_pack_bestfit)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()}


def _python_line_dedup(docs: dict) -> dict:
    """Independent reference: segment, count, excise, reassemble —
    pure Python, no SQL in common with either engine."""
    segs_by_doc = {}
    counts = collections.Counter()
    for did, text in docs.items():
        toks = text.strip().lower().split(" ")
        segs = [" ".join(toks[i:i + LINE_W])
                for i in range(0, len(toks), LINE_W)]
        segs_by_doc[did] = segs
        counts.update(segs)
    out = {}
    for did, segs in segs_by_doc.items():
        kept = [s for s in segs if counts[s] < LINE_MAXOCC]
        out[did] = (len(segs), len(kept), " ".join(kept))
    return out


def test_line_dedup_matches_python_reference(spark, sf_dir, docs):
    want = _python_line_dedup(docs)
    got = {r["doc_id"]: (r["n_segs"], r["n_kept"], r["cleaned"])
           for r in q_llm_line_dedup(spark, sf_dir).collect()}
    assert got == want


def test_line_dedup_actually_removes_boilerplate(spark, sf_dir):
    rows = q_llm_line_dedup(spark, sf_dir).collect()
    assert all(r["n_kept"] <= r["n_segs"] for r in rows)
    # the fixtures DO contain hot segments — the rewrite must bite
    assert any(r["n_kept"] < r["n_segs"] for r in rows)
    # intact docs reassemble to their normalized text exactly
    full = [r for r in rows if r["n_kept"] == r["n_segs"]]
    assert full, "expected some untouched documents"


def test_epoch_shuffle_is_a_permutation_per_epoch(spark, sf_dir):
    rows = q_llm_epoch_shuffle(spark, sf_dir).collect()
    n_docs = len({r["doc_id"] for r in rows})
    by_epoch = collections.defaultdict(list)
    for r in rows:
        by_epoch[r["epoch"]].append(r)
    assert sorted(by_epoch) == list(range(EPOCHS))
    orders = []
    for ep, rs in by_epoch.items():
        # every doc exactly once per epoch
        assert sorted(r["doc_id"] for r in rs) == sorted(
            set(r["doc_id"] for r in rs))
        assert len(rs) == n_docs
        # positions contiguous 1..k within every shard
        shard = collections.defaultdict(list)
        for r in rs:
            assert r["shard"] == r["shuffle_key"] % SHUFFLE_SHARDS
            shard[r["shard"]].append(r["pos"])
        for poss in shard.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))
        orders.append(tuple(r["doc_id"] for r in sorted(
            rs, key=lambda r: (r["shard"], r["pos"]))))
    # epochs genuinely reshuffle (keys differ ⇒ orders differ)
    assert len(set(orders)) == EPOCHS


def test_curriculum_tiers_are_monotone_in_length(spark, sf_dir):
    rows = q_llm_curriculum(spark, sf_dir).collect()
    assert {r["tier"] for r in rows} <= set(range(CURR_TIERS))
    by_tok = sorted(rows, key=lambda r: r["tok"])
    tiers = [r["tier"] for r in by_tok]
    assert tiers == sorted(tiers), "tier must be monotone in tok"
    # ties share a tier (collapsed rank)
    tier_of_tok = {}
    for r in rows:
        tier_of_tok.setdefault(r["tok"], set()).add(r["tier"])
    assert all(len(s) == 1 for s in tier_of_tok.values())
    # sizes balanced up to tie-group slack
    n = len(rows)
    sizes = collections.Counter(r["tier"] for r in rows)
    max_tie = max(collections.Counter(
        r["tok"] for r in rows).values())
    for t in range(CURR_TIERS):
        assert abs(sizes[t] - n / CURR_TIERS) <= max_tie


def test_eval_mrr_map_matches_python_reference(spark, sf_dir):
    """Second oracle: recompute MRR/MAP in pure Python from the same
    md5 streams — competition ranks, tie-inclusive rel_le, the same
    integer-division term shape."""
    import hashlib

    from lcmap_blackmagic_spark.registry.analytics import (MRR_PPM,
                                                           MRR_SCORE_DOM,
                                                           q_eval_mrr_map)

    def md48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .select("o_orderkey", "o_orderpriority").collect())
    groups = collections.defaultdict(list)
    for r in orders:
        k = r["o_orderkey"]
        groups[r["o_orderpriority"]].append(
            (md48(f"r:{k}") % MRR_SCORE_DOM, md48(f"y:{k}") % 10 == 0))
    want = {}
    for grp, cands in groups.items():
        scores = [s for s, _ in cands]
        rel = sorted((s for s, r in cands if r), reverse=True)
        n_cands, n_rel = len(cands), len(rel)
        ap_sum, best_rank = 0, None
        for s in rel:
            rnk = 1 + sum(1 for x in scores if x > s)
            rel_le = sum(1 for x in rel if x >= s)
            ap_sum += (MRR_PPM * rel_le) // rnk
            best_rank = rnk if best_rank is None else min(best_rank, rnk)
        want[grp] = (n_cands, n_rel, best_rank,
                     MRR_PPM // best_rank, ap_sum // n_rel)
    got = {r["grp"]: (r["n_cands"], r["n_rel"], r["first_rel_rank"],
                      r["rr_ppm"], r["map_ppm"])
           for r in q_eval_mrr_map(spark, sf_dir).collect()}
    assert got == want


def test_bestfit_packing_invariants(spark, sf_dir):
    """No bin overflows, offsets are the exact running fill in
    placement (length-desc, doc_id-asc) order, bins are numbered by
    opening order — and on this fixture best-fit-decreasing uses no
    more bins than next-fit over the same order."""
    from lcmap_blackmagic_spark.registry.text import (PACK_CAPACITY,
                                                      q_seq_pack_nextfit)

    rows = q_llm_seq_pack_bestfit(spark, sf_dir).collect()
    by_bin = collections.defaultdict(list)
    for r in rows:
        by_bin[(r["shard"], r["bin"])].append(r)
    for rs in by_bin.values():
        rs.sort(key=lambda r: (-r["n_tok"], r["doc_id"]))
        fill = 0
        for r in rs:
            assert r["off"] == fill
            fill += r["n_tok"]
        assert fill <= PACK_CAPACITY
    bfd_bins = len(by_bin)
    nf = q_seq_pack_nextfit(spark, sf_dir).collect()
    nf_bins = len({(r["shard"], r["bin"]) for r in nf})
    assert bfd_bins <= nf_bins
