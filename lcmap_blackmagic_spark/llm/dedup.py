"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

All stages are DataFrame plans. The scale design:

- MinHash: per-doc signature is a narrow projection (no shuffle);
  candidate generation is an equi-join on (band, minhash) — a
  shuffle on a *small* exploded table (B rows per doc), never an
  all-pairs product. Verification (exact Jaccard) touches only the
  candidate pairs.
- SimHash: 32-bit signature via explode+aggregate (one shuffle on
  doc_id); near-dup candidates join on 8-bit blocks (pigeonhole: any
  pair with hamming ≤ 3 shares one of 4 blocks), then exact hamming
  on the candidates only.
- n-gram Jaccard: brute-force *within a blocking key* (e.g. lang) —
  the honest quadratic baseline, bounded by the block size.

Shared contract with the SQL oracles: tokens are
``split(lower(trim(text)), ' ')``; shingles are space-joined word
n-grams, de-duplicated; hashes are md5 hex (lexicographic min is
well-defined identically in any engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

N_BANDS = 8
SIMHASH_BITS = 32
HEX = "0123456789abcdef"


def shingles(text_col: Column | str = "text", n: int = 3) -> Column:
    """Distinct space-joined word n-grams; empty array when the doc
    has fewer than n tokens."""
    toks = tokens(text_col)
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>"))


def _spread(df: DataFrame) -> DataFrame:
    """Guarantee CPU-bound hashing stages use the full cluster: a
    single-file table scans as one task under the default split size,
    which would serialize the md5 work on one core. A round-robin
    repartition of the narrow input (ids + text) is cheap next to the
    hashing it parallelizes; on a many-file 100 TB table the scan
    already has enough splits and this is a no-op cost-wise."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _spread_cols(df: DataFrame, *cols) -> DataFrame:
    """``_spread`` BEFORE a compute-heavy projection: select only the
    narrow inputs, repartition, and compute downstream of the
    exchange. Spreading *after* the projection would still evaluate
    the expensive expressions in the (possibly single-task) scan
    stage and merely shuffle their results — found live: shingle
    construction ran 1 task regardless of the later repartition."""
    return _spread(df.select(*cols))


def _wide_digest(s: Column, bands: int) -> Column:
    """Wide digest for the band-hash family: shingle s gets
    md5(s) || md5('1:'||s) || ... — band b reads hex chars
    [8b, 8b+8), 4 independent 32-bit hashes per md5 call, the
    standard trick for cheap hash families. Fixed-width lowercase hex
    makes lexicographic min = numeric min identically in every
    engine."""
    n_digests = (bands + 3) // 4
    parts = [F.md5(s.cast("binary"))]
    for r in range(1, n_digests):
        parts.append(F.md5(F.concat(F.lit(f"{r}:"), s).cast("binary")))
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def _exploded_digests(df: DataFrame, id_col: str, text_col: str,
                      n: int, bands: int) -> DataFrame:
    """(id, h): one wide digest row per (doc, shingle) — the single
    CPU-heavy pass every minhash stage derives from. Explode +
    hash-aggregate instead of array higher-order functions: per
    shingle row the work is the md5s + a few substrings feeding
    partial aggregates (map-side combined to one row per doc before
    the shuffle) — everything stays in whole-stage codegen, and no
    per-doc intermediate array of 64-char digests is ever built."""
    # ONE select with the explode inlined — two plan-shape traps cost
    # 4-10× here, both measured at sf0.1:
    # (a) a size()>0 filter before the explode re-evaluates the whole
    #     shingle array for the predicate (and explode drops empty
    #     arrays anyway — the filter was redundant);
    # (b) even without the filter, aliasing the array in its own
    #     Project under the Generate (two-step select) ran 5.0 s vs
    #     1.2 s for the inline form, where the Generate evaluates the
    #     expression itself inside the generated iterator.
    return (_spread_cols(df, F.col(id_col), F.col(text_col))
            .select(F.col(id_col),
                    F.explode(shingles(text_col, n)).alias("s"))
            .select(F.col(id_col), _wide_digest(F.col("s"), bands).alias("h")))


def minhash_signature(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      bands: int = N_BANDS) -> DataFrame:
    """(id, band, minh): per band b, a 32-bit (8-hex-char) minwise
    hash over the doc's shingles. One row per (doc, band)."""
    ex = _exploded_digests(df, id_col, text_col, n, bands)
    mins = ex.groupBy(id_col).agg(*[
        F.min(F.substring("h", 8 * b + 1, 8)).alias(f"m{b}")
        for b in range(bands)])
    sig = F.array(*[F.col(f"m{b}") for b in range(bands)])
    return mins.select(F.col(id_col),
                       F.posexplode(sig).alias("band", "minh"))


def minhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  bands: int = N_BANDS,
                  threshold: float = 0.5,
                  broadcast_docs: bool = True) -> DataFrame:
    """LSH candidate pairs (share ≥1 band minhash) verified by exact
    shingle Jaccard ≥ threshold. Output: (id_a, id_b, jaccard).

    ``broadcast_docs`` broadcasts the (id, hashed-shingle set) table
    to the verify join so the candidate pairs never shuffle their
    shingle sets. Right at chip/corpus-partition granularity; at full
    100 TB corpus scale set False — the verify becomes a shuffle join
    on ids, moving each doc's shingle set once per side instead of
    per candidate pair.

    ONE heavy pass: the exploded wide digests feed a single aggregate
    producing both the per-band MINs (LSH) and the doc's 48-bit
    hashed-shingle set (exact verify). Jaccard is computed over the
    hashed ints — ~4× smaller to broadcast than the shingle strings
    and far cheaper to array_intersect (bigint equality vs ~20-char
    string hashing); identical to string Jaccard modulo 48-bit
    collisions (p ≈ |sh|²/2⁴⁹ per doc), which the oracle mirrors by
    hashing the same way."""
    agg = _minhash_doc_aggregate(df, id_col, text_col, n, bands)
    # NOTE: the aggregate feeds four consumers (both sides of the
    # candidate self-join + both verify lookups). Catalyst's column
    # pruning specializes the copies (min-only vs collect_set-only
    # aggregates), so the md5-heavy explode pass executes twice end to
    # end — measured and accepted FOR THIS PURE-QUERY FORM: a
    # localCheckpoint barrier computed it once but leaked cached
    # partitions across invocations (third consecutive run degraded
    # 10×), and caching inside a registry query would distort
    # repeated-run benchmarks. The PIPELINE form
    # (``minhash_pairs_staged``) materializes the aggregate to parquet
    # once and derives both consumers from the staged scan — at corpus
    # scale that halves the dominant cost.
    return _minhash_pairs_from_agg(agg, id_col, bands, threshold,
                                   broadcast_docs)


def _minhash_doc_aggregate(df: DataFrame, id_col: str, text_col: str,
                           n: int, bands: int) -> DataFrame:
    """The ONE md5-heavy pass: per doc, the per-band minwise hashes
    (LSH) plus the 48-bit hashed-shingle set (exact verify), from a
    single explode + hash-aggregate (map-side combined)."""
    ex = _exploded_digests(df, id_col, text_col, n, bands)
    return ex.groupBy(id_col).agg(
        *[F.min(F.substring("h", 8 * b + 1, 8)).alias(f"m{b}")
          for b in range(bands)],
        F.collect_set(F.conv(F.substring("h", 1, 12), 16, 10)
                      .cast("bigint")).alias("si"))


def _minhash_pairs_from_agg(agg: DataFrame, id_col: str, bands: int,
                            threshold: float,
                            broadcast_docs: bool) -> DataFrame:
    """LSH banding + exact-Jaccard verify over a (id, m0..m{B-1}, si)
    per-doc aggregate — the pair-derivation half of ``minhash_pairs``,
    shared with the staged pipeline form."""
    sig = agg.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"m{b}") for b in range(bands)]))
        .alias("band", "minh"))
    a = sig.alias("a")
    b = sig.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.minh") == F.col("b.minh"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    docs = agg.select(F.col(id_col), F.col("si"))
    if broadcast_docs:
        docs = F.broadcast(docs)
    j = (cand
         .join(docs.withColumnsRenamed({id_col: "id_a", "si": "si_a"}), "id_a")
         .join(docs.withColumnsRenamed({id_col: "id_b", "si": "si_b"}), "id_b"))
    inter = F.size(F.array_intersect("si_a", "si_b"))
    union = F.size("si_a") + F.size("si_b") - inter
    return (j.select("id_a", "id_b",
                     F.round(inter / union, 6).alias("jaccard"))
             .filter(F.col("jaccard") >= threshold))


def minhash_cross_flags(inc_agg: DataFrame, base_agg: DataFrame,
                        id_col: str = "doc_id", bands: int = N_BANDS,
                        threshold: float = 0.5) -> DataFrame:
    """CROSS-corpus near-dup flags from two per-doc minhash
    aggregates (``_minhash_doc_aggregate`` outputs): which incoming
    ids near-duplicate any base id?  Banded equi-join between the
    sides, exact-Jaccard verify on the hashed-shingle sets, one row
    per flagged incoming id (partner count + canonical partner).
    This is the incremental-ingest primitive: the base aggregate is
    the persisted signature store; only the incoming batch is ever
    re-hashed."""
    def sig(agg, prefix):
        return agg.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.posexplode(F.array(*[F.col(f"m{b}") for b in range(bands)]))
            .alias("band", "minh"))
    cand = (sig(inc_agg, "inc").join(sig(base_agg, "base"),
                                     ["band", "minh"])
            .select("inc_id", "base_id").distinct())
    j = (cand
         .join(inc_agg.select(F.col(id_col).alias("inc_id"),
                              F.col("si").alias("si_a")), "inc_id")
         .join(base_agg.select(F.col(id_col).alias("base_id"),
                               F.col("si").alias("si_b")), "base_id"))
    inter = F.size(F.array_intersect("si_a", "si_b"))
    union = F.size("si_a") + F.size("si_b") - inter
    verified = (j.select("inc_id", "base_id",
                         F.round(inter / union, 6).alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    return (verified.groupBy("inc_id")
            .agg(F.count(F.lit(1)).alias("n_partners"),
                 F.min("base_id").alias("canonical_partner")))


def minhash_pairs_staged(df: DataFrame, staging_dir: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 3, bands: int = N_BANDS,
                         threshold: float = 0.5,
                         broadcast_docs: bool = True) -> DataFrame:
    """``minhash_pairs``, pipeline form: the md5-heavy per-doc
    aggregate is written to ``staging_dir`` ONCE and both downstream
    consumers (the banded candidate self-join and the exact-Jaccard
    verify) read the staged parquet.

    Why: in the pure-query form Catalyst specializes the shared
    aggregate per consumer, so the dominant explode/md5 pass executes
    twice end to end (see the NOTE in ``minhash_pairs``). Re-scanning
    a narrow staged parquet costs a tiny fraction of re-hashing the
    corpus — at 100 TB this halves the dedup job. The staging write is
    also the natural checkpoint a production dedup run wants anyway
    (signatures are reusable across threshold sweeps and incremental
    corpus additions).

    Output is identical to ``minhash_pairs`` (same oracle SQL).
    Returns a DataFrame whose plan contains NO md5/shingle work — only
    scans of ``staging_dir`` (pinned by tests/test_pipelines.py).
    """
    agg = _minhash_doc_aggregate(df, id_col, text_col, n, bands)
    agg.write.mode("overwrite").parquet(staging_dir)
    staged = df.sparkSession.read.parquet(staging_dir)
    return _minhash_pairs_from_agg(staged, id_col, bands, threshold,
                                   broadcast_docs)


def _nibble(hexstr: Column, j: int) -> Column:
    """Bit j (0-based, MSB-first) of the hex string's bit expansion."""
    ch = F.substring(hexstr, j // 4 + 1, 1)
    val = F.instr(F.lit(HEX), ch) - F.lit(1)
    return F.shiftright(val, 3 - j % 4).bitwiseAND(F.lit(1))


def simhash_bits(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) where simhash is a `bits`-char '0'/'1' string:
    bit j is the sign of sum over token occurrences of ±1 according
    to bit j of md5(token).

    Bit extraction parses the digest's first `bits/4` hex chars ONCE
    (conv → bigint) and reads bit j with a shift+mask — identical
    bits to the per-character form (`_nibble`, kept for the oracle
    generator's documentation) at 1/32nd of the string work per
    token."""
    tok = (_spread_cols(df, F.col(id_col), F.col(text_col))
           .select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
           .withColumn("hi", F.conv(F.substring(
               F.md5(F.col("tok").cast("binary")), 1, bits // 4), 16, 10)
               .cast("bigint")))
    aggs = [F.sum(F.shiftright(F.col("hi"), bits - 1 - j)
                  .bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
            for j in range(bits)]
    summed = tok.groupBy(id_col).agg(*aggs)
    bitstr = F.concat(*[
        F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(bits)])
    return summed.select(F.col(id_col), bitstr.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, found by
    8-bit-block LSH (pigeonhole over 4 blocks) + exact verify."""
    sims = simhash_bits(df, id_col, text_col, bits)
    n_blocks = bits // 8
    # parse the bit string to its integer ONCE per doc, before the
    # block explode — candidates then carry an 8-byte long through
    # the join instead of a 32-char string, and the verify is one
    # XOR+popcount per pair (the earlier form re-parsed both strings
    # per candidate pair; the per-character HOF comparison measured
    # ~10× slower still)
    blocks = (sims.select(
        id_col, F.conv(F.col("simhash"), 2, 10).cast("bigint").alias("iv"),
        F.posexplode(F.array(*[
            F.substring("simhash", 8 * i + 1, 8) for i in range(n_blocks)
        ])).alias("blk", "blk_val")))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.blk_val") == F.col("b.blk_val"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.iv").alias("ia"),
                    F.col("b.iv").alias("ib"))
            .distinct())
    ham = F.bit_count(F.col("ia").bitwiseXOR(F.col("ib"))).cast("int")
    return (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", block_col: str = "lang",
                        n: int = 3, threshold: float = 0.2,
                        n_groups: int = 8) -> DataFrame:
    """Exact n-gram Jaccard over all pairs *within a block* — the
    quadratic baseline, bounded by blocking. Output:
    (id_a, id_b, jaccard ≥ threshold).

    Triangle grouping: a plain self-join on the block key gets one
    reducer per block (a handful of langs → a handful of tasks, each
    quadratic). Instead each doc is hashed into one of ``n_groups``
    groups and the join runs over the upper-triangle grid of group
    pairs — G(G+1)/2 join cells per block, so parallelism scales with
    G² instead of #blocks. An unordered doc pair {x, y} appears in
    exactly one cell: (g(x), g(y)) sorted; off-diagonal cells take
    the pair in whichever id order it arrives (then canonicalized),
    the diagonal cell dedupes with id_a < id_b."""
    # pre-hash shingles to 48-bit ints ONCE per doc: the pair grid
    # intersects each doc's set against many partners, and bigint
    # equality inside array_intersect beats re-hashing ~20-char
    # strings per pair by the block's fan-out factor. Identical to
    # string Jaccard modulo negligible 48-bit collisions; the oracle
    # hashes the same way.
    sh_ints = F.array_distinct(F.transform(
        shingles(text_col, n),
        lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 12),
                         16, 10).cast("bigint")))
    docs = (_spread_cols(df, F.col(id_col), F.col(block_col),
                         F.col(text_col))
            .select(F.col(id_col), F.col(block_col).alias("blk"),
                    sh_ints.alias("sh"))
            .withColumn("g", F.pmod(F.hash(F.col(id_col)), n_groups)))
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(ga, gb) for ga in range(n_groups) for gb in range(n_groups)
         if ga <= gb], "ga int, gb int")
    a = docs.withColumnsRenamed(
        {id_col: "id_a", "sh": "sh_a", "g": "ga"})
    b = docs.withColumnsRenamed(
        {id_col: "id_b", "sh": "sh_b", "g": "gb"})
    pairs = (a.join(F.broadcast(grid), "ga")
             .join(b, ["blk", "gb"])
             .filter(((F.col("ga") < F.col("gb"))
                      & (F.col("id_a") != F.col("id_b")))
                     | ((F.col("ga") == F.col("gb"))
                        & (F.col("id_a") < F.col("id_b"))))
             .select("id_a", "id_b", "sh_a", "sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (pairs
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                    F.round(inter / union, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def dedup_components(pairs: DataFrame, nodes: DataFrame,
                     id_col: str = "doc_id",
                     max_iters: int = 50,
                     stats: dict | None = None) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-duplicate pair graph by iterative min-label propagation with
    POINTER JUMPING. Output: (doc_id, component) where component is
    the smallest doc id reachable through duplicate pairs — the
    canonical survivor of each cluster (docs with no duplicates label
    themselves).

    Spark-first iterative algorithm: each round is an edge equi-join
    + min-aggregate (labels flow one hop along edges) followed by one
    label-table self-join (label ← label[label], the pointer-jumping
    step), so a chain of length d converges in O(log d) rounds
    instead of O(d) — measured on a 48-node chain: 7 rounds vs 25
    (tests/test_llm_ops.py pins the bound). Both steps only ever
    shrink labels toward the component minimum, and the combined
    fixpoint (no neighbor smaller AND label[label] == label) is
    exactly "label = component min", so the result is unchanged.
    ``localCheckpoint`` truncates the lineage each round so the plan
    doesn't grow with iterations. The loop stops the first round
    nothing changes (one count() action per round on the changed-rows
    filter — a cheap aggregate over the label table). Pass ``stats``
    to receive {"rounds": n} for observability.

    Round-15 action-count fix (VERDICT item 6): every checkpoint here
    is LAZY, and the per-round convergence count() doubles as the
    materializing action — the count's plan sits ON TOP of the
    checkpoint-marked round table, so computing it persists the
    round's blocks and truncates lineage in the SAME job.  The r14
    form ran one blocking checkpoint job PLUS one count job per
    round; the decision procedure (stop when nothing changed) is
    byte-identical.
    """
    edges = pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
    edges = (edges.union(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
             .distinct().localCheckpoint(eager=False))
    labels = (nodes.select(F.col(id_col).alias("node"),
                           F.col(id_col).alias("label"))
              .localCheckpoint(eager=False))
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr = (edges.join(labels, edges.src == labels.node)
               .groupBy("dst").agg(F.min("label").alias("nbr_min"))
               .withColumnRenamed("dst", "node"))
        hop = (labels.alias("l")
               .join(nbr.alias("n"), "node", "left")
               .select(F.col("node"),
                       F.least(F.col("l.label"),
                               F.coalesce(F.col("n.nbr_min"),
                                          F.col("l.label"))).alias("label"),
                       F.col("l.label").alias("old")))
        # pointer jumping: label ← label[label]. The lookup value is
        # always ≤ the key (labels are node ids and a node's label
        # never exceeds the node), so the jump is monotone and needs
        # no F.least. Every label IS a node id, so the left join only
        # misses nothing — coalesce guards the degenerate empty-lut
        # case anyway.
        lut = hop.select(F.col("node").alias("jnode"),
                         F.col("label").alias("jlabel"))
        new = (hop.join(lut, hop.label == lut.jnode, "left")
               .select("node",
                       F.coalesce(F.col("jlabel"),
                                  F.col("label")).alias("label"),
                       "old")
               .localCheckpoint(eager=False))
        # the convergence count IS the materializing action: it
        # computes (and thereby persists + truncates) `new`
        changed = new.filter(F.col("label") != F.col("old")).count()
        labels = new.drop("old")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("component"))


def substring_dup_stats(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        k: int = 40, stride: int = 8) -> DataFrame:
    """Exact-substring duplication profile (the character-level dedup
    signal of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): every length-``k`` character gram at
    ``stride`` offsets is hashed; a gram is *duplicated* when it
    occurs in ≥ 2 distinct documents. Output per doc:
    (n_grams, n_dup_grams, dup_ratio) — the fraction of a document
    covered by text that exists verbatim elsewhere in the corpus,
    which is the removal criterion substring-level dedup pipelines
    filter on (the full span-excision variant follows by keeping the
    gram positions instead of counting them).

    Plan shape at scale: one Generate (explode) with no shuffle, then
    a groupBy on the 8-byte gram hash (map-side combined — repeated
    grams inside a partition collapse before the exchange), and a
    join of grams-to-counts that REUSES the same hash-partitioning
    (Catalyst reuses the exchange: the aggregate output is already
    partitioned by ``h``). Ultra-common grams are heavy-hitter keys;
    the count side is immune (partial agg) and AQE skew-join handles
    the join side. Docs shorter than ``k`` are excluded (they have no
    gram of length k).
    """
    base = df.filter(F.length(text_col) >= k).select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.length(text_col) - k,
                             F.lit(stride))).alias("pos"),
        F.col(text_col))
    h = F.conv(F.substring(F.md5(
        F.expr(f"substring({text_col}, pos + 1, {k})")), 1, 12),
        16, 10).cast("bigint")
    grams = base.select(id_col, h.alias("h"))
    counts = (grams.groupBy("h")
              .agg(F.count_distinct(id_col).alias("nd")))
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return (grams.join(counts, "h")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 dup.alias("n_dup_grams"))
            .select(id_col, "n_grams", "n_dup_grams",
                    F.round(F.col("n_dup_grams") / F.col("n_grams"), 6)
                    .alias("dup_ratio")))


LINE_W = 4        # tokens per segment ("line") — fixture stand-in
LINE_MAXOCC = 3   # corpus occurrences at which a segment is boilerplate


def line_segments(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", w: int = LINE_W) -> DataFrame:
    """(id, n_segs, i, seg): consecutive ``w``-token segments of each
    document — the segmentation under the C4-style line-level dedup
    (registry.dedup.q_llm_line_dedup and the streaming line store
    share this one definition; on a corpus with real newlines the
    split expression swaps for ``split(text, '\\n')`` and nothing
    else changes).  One projection + one Generate — no shuffle."""
    base = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), " ").alias("toks"))
    base = base.withColumn(
        "n_segs",
        F.expr(f"(size(toks) + {w - 1}) div {w}").cast("long"))
    return (base
            .withColumn("i", F.explode(
                F.sequence(F.lit(0), F.col("n_segs") - 1)))
            .select(id_col, "n_segs", "i", F.expr(
                f"array_join(slice(toks, i * {w} + 1, {w}), ' ')")
                .alias("seg")))


def line_rewrite_segments(segs: DataFrame,
                          extra_seg_counts: DataFrame | None = None,
                          id_col: str = "doc_id",
                          maxocc: int = LINE_MAXOCC) -> DataFrame:
    """Reassemble documents from the segments that are NOT
    boilerplate: a segment is excised when its occurrence count —
    within ``segs`` plus, if given, ``extra_seg_counts`` (a
    (seg, occ) frame, e.g. the streaming store's counts) — reaches
    ``maxocc``.  Output (id, n_segs, n_kept, cleaned) is a total
    function of the input: fully-boilerplate docs survive with
    n_kept = 0 and an empty string.

    Scale shape: the occurrence table is a groupBy on the segment
    (map-side combined; 16-byte md5 key at 100 TB), the join back
    reuses that exchange with AQE skew-join on hot segments, and
    reassembly groups by doc — bounded by document length."""
    occ = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("occ"))
    if extra_seg_counts is not None:
        occ = (occ.join(extra_seg_counts
                        .withColumnRenamed("occ", "occ_x"),
                        "seg", "left")
               .select("seg",
                       (F.col("occ")
                        + F.coalesce("occ_x", F.lit(0).cast("long")))
                       .alias("occ")))
    kept = segs.join(occ, "seg").filter(F.col("occ") < maxocc)
    re = (kept.groupBy(id_col)
          .agg(F.count(F.lit(1)).alias("n_kept"),
               F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("i"), F.col("seg")))),
                       lambda x: x["seg"]),
                   " ").alias("cleaned")))
    heads = segs.select(id_col, "n_segs").dropDuplicates([id_col])
    return (heads.join(re, id_col, "left")
            .select(id_col, "n_segs",
                    F.coalesce("n_kept", F.lit(0).cast("long"))
                    .alias("n_kept"),
                    F.coalesce("cleaned", F.lit("")).alias("cleaned")))


def line_dedup_rewrite(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", w: int = LINE_W,
                       maxocc: int = LINE_MAXOCC) -> DataFrame:
    """The batch line-level dedup rewrite over one corpus frame —
    segmentation + self-counts + reassembly (llm_line_dedup)."""
    return line_rewrite_segments(
        line_segments(df, id_col, text_col, w),
        id_col=id_col, maxocc=maxocc)


def prefix_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 2,
                         t_num: int = 1, t_den: int = 2) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): all pairs with word-``n``-gram Jaccard ≥ t_num/t_den.

    The third scale technique in this module, complementing LSH
    banding (probabilistic recall) and block-bounded brute force
    (quadratic within a block): prefix filtering is EXACT — identical
    output to the all-pairs oracle — yet never forms the cross
    product. Order each doc's gram set by ascending document
    frequency (rarest first, gram hash as the tie-break); a pair with
    Jaccard ≥ t must share at least one gram among each side's first
    ``|s| - ceil(t·|s|) + 1`` grams (removing that many leaves fewer
    than t·|s| grams, too few to reach t) — so candidates are an
    equi-join on PREFIX grams only. Rare grams have short postings
    lists, and frequent grams (the skew keys of a naive
    token-inverted index) are exactly the ones prefixes exclude.

    Plan shape at scale: one df-count aggregate over exploded grams
    (map-side combined, vocab-sized output — broadcast back per
    Heaps' law; flip to a shuffle join for an unbounded key domain),
    one per-doc sort-aggregate, an equi-join on prefix gram hash, and
    exact verification on the deduplicated candidates only. Jaccard
    threshold is a RATIONAL (t_num/t_den): the prefix length uses
    pure integer ceil-division, bit-identical in any engine.

    Grams are hashed to 48-bit ints once per doc (identical modulo
    negligible collisions; the oracle hashes the same way).

    Perf (the 22 s → ~5 s lesson of round 5): the original form
    hashed grams inside ``F.transform`` — an INTERPRETED per-element
    HOF — and re-evaluated it for every consumer of the doc sets.
    This form explodes the gram structs with codegen ``arrays_zip``/
    ``inline`` and hashes AFTER the explode in straight-line md5
    codegen; the single (dfreq ⨝ grams) aggregate then feeds the
    prefixes AND both verify sides (``st.tok`` field extraction, no
    HOF anywhere).  ``prefix_jaccard_pairs_staged`` additionally
    materializes that aggregate once (3 consumers → 3 re-executions
    otherwise — the minhash lesson again)."""
    ranked = _prefix_ranked(df, id_col, text_col, n)
    return _prefix_pairs_from_ranked(ranked, id_col, t_num, t_den)


def _prefix_ranked(df: DataFrame, id_col: str, text_col: str,
                   n: int) -> DataFrame:
    """Per-doc df-ranked gram list: (id, st: array<struct<dfr,tok>>),
    st sorted by (document frequency, gram hash) — the one md5-heavy
    pass of the prefix join."""
    zip_expr = "arrays_zip(" + ", ".join(
        f"slice(tk, {j + 1}, size(tk) - {n - 1})" for j in range(n)) + ")"
    base = (_spread_cols(df, F.col(id_col), F.col(text_col))
            .select(F.col(id_col), tokens(text_col).alias("tk"))
            .filter(F.size("tk") >= n)
            .select(F.col(id_col), F.expr(f"inline({zip_expr})"))
            .toDF(id_col, *[f"w{j}" for j in range(n)]))
    gram = F.concat_ws(" ", *[f"w{j}" for j in range(n)])
    grams = (base.select(
        F.col(id_col),
        F.conv(F.substring(F.md5(gram.cast("binary")), 1, 12), 16, 10)
        .cast("bigint").alias("tok"))
        .distinct())
    dfreq = grams.groupBy("tok").agg(F.count(F.lit(1)).alias("dfr"))
    # array_sort on structs gives a deterministic global order no
    # matter how collect_list interleaves.  The df-rank join is
    # UNFORCED: dfreq is gram-vocabulary-sized (word n-grams —
    # unbounded at 10^10 docs), so AQE must pick broadcast only when
    # the dictionary actually fits; both sides hash-partition on tok
    # otherwise and the gram subtree is shared via exchange reuse.
    # (A count-window-over-tok variant was measured WORSE — WindowExec
    # sorts each tok partition; the join form's measured local cost vs
    # the old forced broadcast is ~1.1× anchor-normalized at sf0.1,
    # the price of the only plan that survives 10^10-doc vocabularies.)
    return (grams.join(dfreq, "tok")
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list(F.struct("dfr", "tok")))
                 .alias("st")))


def _prefix_pairs_from_ranked(ranked: DataFrame, id_col: str,
                              t_num: int, t_den: int) -> DataFrame:
    sz = F.size("st")
    # probing prefix L_p = |s| - ceil(t*|s|) + 1 (integer-exact ceil)
    probe_len = sz - F.floor((F.lit(t_num) * sz + F.lit(t_den - 1))
                             / F.lit(t_den)).cast("int") + 1
    # INDEXING prefix (AllPairs/PPJoin asymmetry, Xiao et al.
    # WWW'08): when candidate pairs are generated size-ordered —
    # every pair probes from its LARGER set into the SMALLER set's
    # index — the indexed side only needs
    # L_i = |s| - ceil(2t/(1+t) * |s|) + 1 grams, because the
    # required overlap against any probe of size >= |s| is at least
    # ceil(2t/(1+t) * |s|).  At t=1/2 that is |s|/3 instead of
    # |s|/2: the equi-join's fan-out (sum over grams of
    # probe_count x index_count) drops by a third with ZERO loss —
    # the exactness proof is the published prefix-filtering theorem,
    # and the oracle stays the brute-force all-pairs SQL.
    idx_len = sz - F.floor((F.lit(2 * t_num) * sz
                            + F.lit(t_den + t_num - 1))
                           / F.lit(t_den + t_num)).cast("int") + 1

    def _explode(length):
        return (ranked.select(
            F.col(id_col), sz.alias("sz"),
            F.posexplode(F.slice("st", 1, length)).alias("p", "s"))
            .select(F.col(id_col), "sz", (F.col("p") + 1).alias("p"),
                    F.col("s.tok").alias("tok")))

    probe, index = _explode(probe_len), _explode(idx_len)
    # size ordering makes each unordered pair a candidate exactly
    # once, with the smaller set (ties broken by id) on the indexed
    # side — the precondition of the indexing-prefix theorem
    smaller = ((F.col("b.sz") < F.col("a.sz"))
               | ((F.col("b.sz") == F.col("a.sz"))
                  & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))))
    # POSITIONAL upper bound (PPJoin): with both gram lists in the
    # same global (df, hash) order, a shared gram at positions
    # (pa, pb) caps the overlap at min(|a|-pa, |b|-pb) + 1; pairs
    # whose cap can't reach the required overlap
    # α = ceil(t·(|a|+|b|)/(1+t)) never enter the verify join.
    # Grouping keeps the MIN position per side; mins over the
    # asymmetric prefixes are a subset of the true shared-gram
    # positions, so the cap only LOOSENS — conservative, never a
    # false negative.
    cand = (probe.alias("a")
            .join(index.alias("b"), "tok")
            .filter(smaller)
            # LENGTH filter (AllPairs): J ≥ t ⟹ overlap ≤ min and
            # overlap ≥ t·union ≥ t·max, so t_den·min ≥ t_num·max is
            # a necessary condition — the positional cap below
            # subsumes it, but applying it as a row predicate HERE
            # prunes candidate rows before the aggregate shuffle
            .filter(F.least("a.sz", "b.sz") * t_den
                    >= F.greatest("a.sz", "b.sz") * t_num)
            .groupBy(F.col(f"a.{id_col}").alias("id_x"),
                     F.col(f"b.{id_col}").alias("id_y"),
                     F.col("a.sz").alias("sz_x"),
                     F.col("b.sz").alias("sz_y"))
            .agg(F.min("a.p").alias("px"), F.min("b.p").alias("py"))
            .filter(
                F.least(F.col("sz_x") - F.col("px") + 1,
                        F.col("sz_y") - F.col("py") + 1)
                * (t_den + t_num) >= t_num * (F.col("sz_x") + F.col("sz_y")))
            # restore the id-ordered output contract (id_a < id_b)
            .select(F.least("id_x", "id_y").alias("id_a"),
                    F.greatest("id_x", "id_y").alias("id_b")))
    sets_a = ranked.select(F.col(id_col).alias("id_a"),
                           F.col("st.tok").alias("sh_a"))
    sets_b = ranked.select(F.col(id_col).alias("id_b"),
                           F.col("st.tok").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    ssum = F.size("sh_a") + F.size("sh_b")
    # verify inequality in the i*(den+num) >= (|a|+|b|)*num form:
    # algebraically identical to i*den >= union*num (union = s − i,
    # all integers), but the predicate carries ONE array_intersect
    # where the union form carried two — and Catalyst pushes this
    # predicate into the verify join's condition, so it runs once
    # per CANDIDATE pair (3.5M at sf0.1, where survivors are ~256);
    # thread dumps showed the whole slow stage inside the doubled
    # intersect.  The output expression still computes the exact
    # round(i/union) on survivors only.
    return (cand.join(sets_a, "id_a").join(sets_b, "id_b")
            .filter(inter * F.lit(t_den + t_num) >= ssum * F.lit(t_num))
            .select("id_a", "id_b",
                    F.round(inter / (ssum - inter), 6).alias("jaccard")))


def prefix_jaccard_pairs_staged(df: DataFrame, staging_dir: str,
                                id_col: str = "doc_id",
                                text_col: str = "text", n: int = 2,
                                t_num: int = 1,
                                t_den: int = 2) -> DataFrame:
    """``prefix_jaccard_pairs``, pipeline form: the df-ranked gram
    aggregate is written to ``staging_dir`` once and the prefix
    explode AND both verify sides read the staged parquet.  The pure
    form has THREE consumers of that aggregate, and Catalyst
    specializes each copy, so the gram explode + md5 + distinct +
    rank chain executes ~3× (measured 32 s vs ~13 s at sf0.1 on
    local[32]).  Identical output and oracle to the pure form; like
    the minhash staging, the ranked gram store is what an
    incremental dedup job checkpoints anyway."""
    ranked = _prefix_ranked(df, id_col, text_col, n)
    ranked.write.mode("overwrite").parquet(staging_dir)
    staged = df.sparkSession.read.parquet(staging_dir)
    return _prefix_pairs_from_ranked(staged, id_col, t_num, t_den)


# ---- robust winnowing (MOSS) — shared by registry.dedup and the
# ---- streaming ingest twin (streaming/jobs.winnow_dedup_stream)
WIN_K = 4        # word k-gram size
WIN_W = 4        # winnow window (guarantee: runs of >= w+k-1 words)
WIN_T = 2        # min shared fingerprints for a reported pair
WIN_MAXDF = 50   # fingerprint document-frequency cap (skew guard)


def winnow_fingerprints(df, id_col: str = "doc_id",
                        text_col: str = "text"):
    """(id, fp): each document's DISTINCT robust-winnowing
    fingerprints — md5 over the positional word WIN_K-gram sequence,
    minimum per sliding WIN_W-window (see registry.dedup.q_llm_winnow_pairs for the
    guarantee).  One narrow projection + explode, no shuffle; shared
    by the batch pair query and the streaming ingest-dedup twin."""
    from .text import tokens
    toks = tokens(text_col)
    m = F.size(toks) - F.lit(WIN_K - 1)
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.md5(F.array_join(F.slice(toks, i, WIN_K), " ")
                        .cast("binary")))
    h = F.when(m >= 1, grams).otherwise(
        F.array().cast("array<string>"))
    nwin = F.greatest(F.size(F.col("h")) - F.lit(WIN_W - 1), F.lit(1))
    fps = F.when(
        F.size(F.col("h")) >= 1,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), nwin),
            lambda p: F.array_min(F.slice(F.col("h"), p, WIN_W))))
    ).otherwise(F.array().cast("array<string>"))
    return (df.select(id_col, h.alias("h"))
            .select(id_col, F.explode(fps).alias("fp")))


def winnow_pairs(df, id_col: str = "doc_id", text_col: str = "text"):
    """Near-duplicate pairs from winnowing fingerprints — the batch
    pair query's body (registry.dedup.q_llm_winnow_pairs documents
    the selection rule and the scale argument), split out so the
    skewed-fp guard is testable on arbitrary fixtures.

    GROUPED pair expansion (the lsh_neardup_pairs lesson): one
    aggregate per fp collects the sorted doc list and the
    upper-triangle pairs expand with an output-proportional array
    transform — each shared fp contributes each unordered pair once.

    r15 skew guard (VERDICT item 5): the df cap is decided by a
    CHEAP count aggregate (map-side combined, bytes per fp) and
    applied as a semi-join BEFORE collect_list — the r14 form
    collected the full posting list first and filtered on size(ids)
    afterwards, which buffers a stop-word-grade fingerprint's
    millions of doc ids into ONE aggregation buffer at corpus scale.
    Fingerprints are distinct per doc, so count(*) IS the document
    frequency; the pair multiset is unchanged (df < 2 produced no
    pairs, df > WIN_MAXDF was dropped).  The collect_list aggregate
    reuses the semi-join's hash partitioning on fp, so the full
    posting data still crosses the wire once
    (tests/test_winnow_skew_guard.py pins shape and behavior)."""
    # lazy checkpoint: the fingerprint table feeds the df-count pass
    # AND the bounded collect — one winnow/md5 pass, both consumers
    # read blocks (materialized under the single action)
    fpl = (winnow_fingerprints(df, id_col, text_col)
           .localCheckpoint(eager=False))
    keep = (fpl.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= WIN_MAXDF)))
    grp = (fpl.join(keep, "fp", "semi")
           .groupBy("fp")
           .agg(F.sort_array(F.collect_list(id_col)).alias("ids")))
    pairs = (grp.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS doc_a, y AS doc_b))))")).alias("p"))
        .select("p.doc_a", "p.doc_b"))
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= WIN_T))


def winnow_cross_flags(inc_fps, store_fps, min_shared: int = WIN_T,
                       max_df: int = WIN_MAXDF):
    """Flag incoming documents near-duplicating a fingerprint STORE:
    (incoming_id, n_partners, max_shared, canonical_partner) for
    every incoming doc sharing ≥ ``min_shared`` fingerprints with
    some store doc.  Store fingerprints held by more than ``max_df``
    store docs are dropped BEFORE the join (the same boilerplate
    df-cap as the batch pair query) — bounding every fp join key's
    fan-out, so a license-header fingerprint cannot quadratically
    blow a reducer at any store size.  Shared by the streaming
    ingest twin and its test reference."""
    hot = (store_fps.groupBy("fp")
           .agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") <= max_df).select("fp"))
    st = (store_fps.join(hot, "fp")
          .select(F.col("doc_id").alias("partner_id"), "fp"))
    inc = inc_fps.select(F.col("doc_id").alias("incoming_id"), "fp")
    pairs = (inc.join(st, "fp")
             .groupBy("incoming_id", "partner_id")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    return (pairs.groupBy("incoming_id")
            .agg(F.count(F.lit(1)).alias("n_partners"),
                 F.max("n_shared").alias("max_shared"),
                 F.min("partner_id").alias("canonical_partner")))
