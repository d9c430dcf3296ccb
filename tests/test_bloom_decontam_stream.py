"""Streaming Bloom decontamination: per-batch probes against the
persisted word store must be FLAG-EXACT vs the batch
llm_bloom_decontam decision (they share llm/bloomfilter's probe),
and a replayed batch must rewrite its own partition byte-identically
(dynamic-overwrite idempotency)."""

import tempfile

from pyspark.sql import functions as F

from lcmap_blackmagic_spark.llm.bloomfilter import (BLOOM_M,
                                                    contaminated_doc_ids)
from lcmap_blackmagic_spark.operators.sketches import bloom_bitsets
from lcmap_blackmagic_spark.registry import _t
from lcmap_blackmagic_spark.streaming.jobs import (bloom_decontam_batch,
                                                   bloom_decontam_stream,
                                                   build_bloom_store,
                                                   documents_stream)


def _setup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")
    corpus = d.filter(F.col("source") != "src0").cache()
    store = tempfile.mkdtemp(prefix="bloomstore_")
    build_bloom_store(bench, store)
    docs_dir = tempfile.mkdtemp(prefix="bloomdocs_")
    for s in range(3):          # three files => three micro-batches
        (corpus.filter(F.col("doc_id") % 3 == s).coalesce(1)
         .write.mode("append").parquet(docs_dir))
    return corpus, store, docs_dir


def test_stream_flags_match_batch_decision(spark, sf_dir):
    corpus, store, docs_dir = _setup(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="bloomflags_")
    q = (bloom_decontam_stream(
            documents_stream(spark, docs_dir, max_files_per_trigger=1),
            store, out)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    flags = spark.read.parquet(out)
    # exactly one flag row per corpus doc
    assert flags.count() == corpus.count()
    assert flags.select("doc_id").distinct().count() == corpus.count()
    streamed = {r["doc_id"] for r in
                flags.filter("dropped").collect()}
    # batch twin: the same probe over the whole corpus at once
    bits = bloom_bitsets(spark.read.parquet(store), BLOOM_M)[None]
    batch = {r["doc_id"] for r in
             contaminated_doc_ids(corpus, bits).collect()}
    assert streamed == batch
    assert batch                     # the fixture does share grams


def test_replayed_batch_rewrites_itself(spark, sf_dir):
    corpus, store, docs_dir = _setup(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="bloomflags_")
    b0 = corpus.filter(F.col("doc_id") % 3 == 0)
    b1 = corpus.filter(F.col("doc_id") % 3 == 1)
    bloom_decontam_batch(b0, 0, store, out)
    bloom_decontam_batch(b1, 1, store, out)
    before = sorted(tuple(r) for r in
                    spark.read.parquet(out).collect())
    bloom_decontam_batch(b0, 0, store, out)     # crash replay
    after = sorted(tuple(r) for r in
                   spark.read.parquet(out).collect())
    assert after == before
