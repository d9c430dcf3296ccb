"""Line stage in the composed curation stream: with line_store_dir
set, curation_batch must FACTORIZE — batch k with the stage ON is
exactly line_dedup_batch's rewrite of batch k followed by the same
curation_batch with the stage OFF against identically-seeded
downstream stores — and crash-replay stays byte-idempotent."""

import os
import tempfile

from pyspark.sql import functions as F

from lcmap_blackmagic_spark.llm.dedup import _minhash_doc_aggregate
from lcmap_blackmagic_spark.llm.text import dsir_weights
from lcmap_blackmagic_spark.streaming.jobs import (build_bloom_store,
                                                   build_line_store,
                                                   curation_batch,
                                                   line_dedup_batch)


def _seed_stores(spark, sf_dir, base_dir, tag):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = {k: os.path.join(base_dir, f"{tag}_{k}") for k in
         ("signatures", "bloom", "dsir", "line", "out", "metrics",
          "rewrites")}
    existing = docs.filter(F.col("source") != "src1")
    _minhash_doc_aggregate(existing, "doc_id", "text", 3, 8) \
        .write.mode("overwrite").parquet(d["signatures"])
    build_bloom_store(docs.filter(F.col("source") == "src0"),
                      d["bloom"])
    dsir_weights(docs.filter(F.col("source") == "src0"),
                 docs.filter(F.col("source") != "src0")) \
        .write.mode("overwrite").parquet(d["dsir"])
    build_line_store(existing, d["line"])
    return docs, d


def _scored(spark, out_dir):
    return {tuple(r) for r in spark.read.parquet(out_dir).collect()}


def _funnel(spark, metrics_dir):
    return {(r["batch_id"], r["stage"]): r["n_docs"]
            for r in spark.read.parquet(metrics_dir).collect()}


def test_curation_line_stage_factorizes(spark, sf_dir):
    base_dir = tempfile.mkdtemp(prefix="curation_line_")
    docs, da = _seed_stores(spark, sf_dir, base_dir, "a")
    _, db = _seed_stores(spark, sf_dir, base_dir, "b")
    incoming = docs.filter(F.col("source") == "src1")
    batches = [incoming.filter(F.col("doc_id") % 3 == i)
               for i in range(3)]

    for bid, b in enumerate(batches):
        # pipeline A: the stage ON
        curation_batch(b, bid, da["signatures"], da["bloom"],
                       da["dsir"], da["out"], da["metrics"],
                       line_store_dir=da["line"])
        # pipeline B: explicit rewrite through line_dedup_batch,
        # then the stage OFF
        line_dedup_batch(b, bid, db["line"], db["rewrites"])
        rew = (spark.read.parquet(db["rewrites"])
               .filter(F.col("batch_id") == bid)
               .filter(F.col("n_kept") > 0)
               .select("doc_id", F.col("cleaned").alias("text")))
        rewritten = b.drop("text").join(rew, "doc_id")
        curation_batch(rewritten, bid, db["signatures"], db["bloom"],
                       db["dsir"], db["out"], db["metrics"])

    assert _scored(spark, da["out"]) == _scored(spark, db["out"])
    fa, fb = _funnel(spark, da["metrics"]), _funnel(spark, db["metrics"])
    for bid in range(3):
        # A's linededup row IS B's start row; downstream stages equal
        assert fa[(bid, "linededup")] == fb[(bid, "start")]
        for st in ("quality", "dedup", "decontam"):
            assert fa[(bid, st)] == fb[(bid, st)]
    # the stage must actually bite somewhere across the 3 batches
    rews = spark.read.parquet(db["rewrites"])
    assert rews.filter(F.col("n_kept") < F.col("n_segs")).count() > 0


def test_batch_curation_lines_funnel_shape(spark, sf_dir):
    """The batch twin (llm_curation_lines): docs monotone down the
    funnel, the line stage trims tokens without inventing docs, and
    stage names/order are the stream's."""
    from lcmap_blackmagic_spark.registry.pipelines import q_llm_curation_lines
    rows = q_llm_curation_lines(spark, sf_dir).collect()
    assert [r["stage"] for r in rows] == [
        "start", "linededup", "quality", "dedup", "decontam"]
    docs = [r["n_docs"] for r in rows]
    toks = [r["n_tokens"] for r in rows]
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert toks[1] < toks[0]   # the rewrite bites
    assert docs[1] <= docs[0]


def test_curation_line_replay_is_idempotent(spark, sf_dir):
    base_dir = tempfile.mkdtemp(prefix="curation_line_rp_")
    docs, d = _seed_stores(spark, sf_dir, base_dir, "r")
    batch = docs.filter(F.col("source") == "src1")

    def snapshot():
        upd = spark.read.parquet(d["line"] + "_updates")
        return (_scored(spark, d["out"]), _funnel(spark, d["metrics"]),
                upd.count(), {tuple(r) for r in upd.collect()})

    curation_batch(batch, 4, d["signatures"], d["bloom"], d["dsir"],
                   d["out"], d["metrics"], line_store_dir=d["line"])
    first = snapshot()
    curation_batch(batch, 4, d["signatures"], d["bloom"], d["dsir"],
                   d["out"], d["metrics"], line_store_dir=d["line"])
    assert snapshot() == first
