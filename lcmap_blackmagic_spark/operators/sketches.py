"""Mergeable distributed sketches.

``hll_distinct`` is a deterministic HyperLogLog (Flajolet et al. 2007)
built from integer-only expressions so the estimate is bit-identical
across engines (the repo-wide determinism rule: no transcendentals in
checked outputs — see registry.py module docstring):

- hash: the first 48 bits of md5 (identical hex in Spark and DuckDB),
- register index (``hll_reg`` — named to never collide with caller
  group columns): the top ``p`` bits; rank: leading zeros of the low
  ``48 - p`` bits + 1, computed as ``(48 - p) + 1 - length(bin(w))``
  (binary-string length == MSB position — pure integer/string ops),
- the harmonic denominator ``sum(2^-M_j)`` is kept EXACT by scaling:
  ``sum(shiftleft(1, 48 - M_j))`` is an integer (absent registers
  contribute ``2^48`` each), so the only float op is one final
  multiply-free division by the precomputed ``alpha * m^2 * 2^48``
  literal — deterministic in IEEE-754.

Scale shape: two shuffles, both map-side combined — (group, register)
max-aggregation collapses to at most ``m`` rows per group per
partition before the exchange, then a constant ``m``-row reduction per
group. This is the 100 TB substitute for exact ``COUNT(DISTINCT)``
(one wide shuffle of every distinct key): state is O(m) per group and
the registers merge associatively (MAX), which is also why the same
sketch works under Structured Streaming update mode.

The small-range (linear-counting) correction uses ``ln`` and is
deliberately NOT applied to the checked output; the raw estimator plus
``zero_buckets`` is returned so a caller (or the tolerance tests in
tests/test_ext4.py) can apply it. Reference parity: the reference has
no sketches — this is part of the north-star analytics surface
(SURVEY.md §2.9).

The Bloom filter at the end of the module is the package's one
membership construction, on the same md5-48 hash: the storage
sidecars (per file, per snapshot commit dir) and the decontamination
word store (llm/bloomfilter.py) all build and probe through it.
"""

from __future__ import annotations

import base64
import hashlib
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

H48 = 2 ** 48  # 12 hex digits of md5 as an integer


def hll_alpha_numerator(p: int) -> float:
    """``alpha_m * m^2 * 2^48`` as one Python-float literal — both the
    Spark plan and the generated oracle SQL embed this exact value, so
    the single division below is the only float op on either side."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)  # valid for m >= 128
    return alpha * m * m * float(H48)


def hll_registers(df: DataFrame, group_cols: Sequence[str], key_col: str,
                  p: int = 8) -> DataFrame:
    """The mergeable half of the sketch: per (group, register index)
    MAX rank. Registers from different partitions, micro-batches, or
    days merge by the same groupBy-MAX — persist these (tiny: ≤ 2^p
    rows per group) and re-merge at read; see
    streaming/jobs.persisted_distinct_rollup."""
    if not 7 <= p <= 14:
        raise ValueError(f"p={p} outside the supported 7..14 range")
    rest = 48 - p
    gcols = list(group_cols)
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12),
               16, 10).cast("bigint")
    w = h % F.lit(1 << rest)
    return (df.select(*gcols,
                      F.shiftright(h, rest).alias("hll_reg"),
                      F.when(w == 0, F.lit(rest + 1))
                       .otherwise(F.lit(rest + 1) - F.length(F.bin(w)))
                       .alias("rho"))
            .groupBy(*gcols, "hll_reg")
            .agg(F.max("rho").alias("mreg")))


def hll_estimate(regs: DataFrame, group_cols: Sequence[str],
                 p: int = 8) -> DataFrame:
    """Finalize (group, hll_reg, mreg) registers into the estimate.
    Registers may contain duplicate (group, hll_reg) rows (e.g.
    partials from several micro-batches) — they re-merge here."""
    m = 1 << p
    gcols = list(group_cols)
    merged = (regs.groupBy(*gcols, "hll_reg")
              .agg(F.max("mreg").alias("mreg")))
    # scaled harmonic sum: integers only until the final division
    agg = (merged.groupBy(*gcols)
           .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 48 - mreg)"))
                .alias("s"),
                F.count(F.lit(1)).alias("nb")))
    denom = (F.col("s")
             + (F.lit(m) - F.col("nb")) * F.lit(H48)).cast("double")
    return agg.select(
        *gcols,
        (F.lit(hll_alpha_numerator(p)) / denom).alias("hll_distinct"),
        (F.lit(m) - F.col("nb")).cast("bigint").alias("zero_buckets"))


def hll_distinct(df: DataFrame, group_cols: Sequence[str], key_col: str,
                 p: int = 8) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate of ``key_col``.

    Output: group cols + ``hll_distinct`` (double, raw estimator) +
    ``zero_buckets`` (bigint — nonzero means the small-range regime
    where a caller should apply linear counting).
    """
    return hll_estimate(hll_registers(df, group_cols, key_col, p),
                        group_cols, p)


def histogram_quantiles(df: DataFrame, group_cols: Sequence[str],
                        value_col: str, quantiles: Sequence[float],
                        n_bins: int = 64,
                        lo: float = 0.0, hi: float = 2 ** 20,
                        scale: int = 100) -> DataFrame:
    """Mergeable fixed-bin quantile sketch: values integer-scale
    (``scale``, e.g. 100 for money) and bucket into ``n_bins``
    equal-width bins over [lo, hi); a quantile walks the cumulative
    bin counts and LINEARLY interpolates inside the holding bin —
    integer arithmetic until the one interpolation division, so the
    estimate is bit-identical across engines (GK/t-digest trade this
    determinism for adaptive accuracy; the fixed grid is the
    oracle-checkable twin with the same O(bins) mergeable state).

    Error bound: within one bin width ((hi-lo)/n_bins) of the exact
    ceil(q·n)-th ORDER STATISTIC (the interpolating percentile() can
    legitimately fall between distant values in sparse groups) — pick
    the grid from the column's domain. Out-of-range values clamp to
    the edge bins.

    Scale shape: ONE map-side-combined shuffle to (group, bin) —
    ≤ n_bins rows per group per partition survive to the exchange;
    the finalize is a window cumsum over ≤ n_bins rows per group plus
    one tiny aggregate per quantile (all codegen — no interpreted
    HOFs). Bin counts merge by SUM, so the sketch streams and
    re-merges exactly like the HLL registers above.

    Output: group cols + ``n`` + one ``q_<pct>`` (double) column per
    quantile.
    """
    gcols = list(group_cols)
    span = int((hi - lo) * scale)
    width = span // n_bins
    if width <= 0:
        raise ValueError(
            f"bin width is zero: span {span} scaled units over "
            f"{n_bins} bins — raise `scale` or widen [lo, hi)")
    lo_s = int(lo * scale)
    v = (F.col(value_col).cast("decimal(18,2)") * scale).cast("bigint")
    b = F.least(F.lit(n_bins - 1),
                F.greatest(F.lit(0),
                           F.expr(f"(v_scaled - {lo_s}) div {width}")))
    bins = (df.select(*gcols, v.alias("v_scaled"))
            .select(*gcols, b.alias("bin"))
            .groupBy(*gcols, "bin")
            .agg(F.count(F.lit(1)).alias("c")))
    return hist_finalize(bins, gcols, quantiles, n_bins=n_bins,
                         lo=lo, hi=hi, scale=scale)


def hist_finalize(bins: DataFrame, group_cols: Sequence[str],
                  quantiles: Sequence[float], n_bins: int = 64,
                  lo: float = 0.0, hi: float = 2 ** 20,
                  scale: int = 100) -> DataFrame:
    """Finalize (group, bin, c) counts into quantile estimates — the
    read half of ``histogram_quantiles``, split out so MERGED partial
    bins (an MV's summed arrays, a streaming store's per-batch
    partials) finalize through the IDENTICAL rank/interpolation math
    and stay bit-equal to the one-shot sketch.  Bins with c = 0 need
    not be present (the cumsum walks whatever rows exist)."""
    from pyspark.sql import Window
    gcols = list(group_cols)
    span = int((hi - lo) * scale)
    width = span // n_bins
    lo_s = int(lo * scale)
    w_cum = (Window.partitionBy(*gcols).orderBy("bin")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy(*gcols)
    cum = (bins.withColumn("cum", F.sum("c").over(w_cum))
           .withColumn("n", F.sum("c").over(w_all)))
    out = cum.select(*gcols, "n").distinct()
    for q in quantiles:
        pct = int(q * 100)
        rank = F.ceil(F.col("n") * F.lit(q)).cast("bigint")
        hit = (cum.filter((F.col("cum") >= rank)
                          & (F.col("cum") - F.col("c") < rank))
               .select(*gcols,
                       ((F.lit(lo_s) + F.col("bin") * width
                         + F.lit(width) * (rank - F.col("cum")
                                           + F.col("c")) / F.col("c"))
                        .cast("double") / scale).alias("est"))
               .select(*gcols, F.round("est", 6).alias(f"q_{pct}")))
        out = out.join(hit, gcols)
    return out


def _cms_cells(key_col: str, depth: int, width: int):
    """(cms_row, cms_col) struct array for a key — shared by the
    counter build and the probe side so the two can never drift."""
    return F.array(*[
        F.struct(
            F.lit(j).alias("cms_row"),
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{j}:"),
                               F.col(key_col).cast("string"))),
                1, 12), 16, 10).cast("bigint") % width).alias("cms_col"))
        for j in range(depth)])


def cms_counters(df: DataFrame, key_col: str, depth: int = 4,
                 width: int = 256,
                 group_cols: Sequence[str] = ()) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) counter
    matrix: ``depth`` independent hash rows of ``width`` counters.
    Row j hashes a key as the first 48 bits of ``md5(j || ':' ||
    key)`` mod width — pure integer math, bit-identical in any
    engine (the module-wide determinism rule).

    The mergeable frequency twin of the HLL registers above: state is
    a constant ``depth × width`` integer grid per (table, window,
    micro-batch, …) that merges by SUM — the 100 TB / streaming
    substitute for exact per-key counts when only heavy hitters
    matter. ONE map-side-combined shuffle: each partition collapses
    to ≤ depth·width partial rows before the exchange, regardless of
    input rows.

    Output: group cols + (cms_row, cms_col, c) — one grid per group
    (e.g. per hour bucket in the streaming rollup); cells with zero
    count are simply absent (estimates must treat a missing cell as
    0)."""
    gcols = list(group_cols)
    return (df.select(*gcols,
                      F.explode(_cms_cells(key_col, depth, width))
                      .alias("rc"))
            .select(*gcols, "rc.cms_row", "rc.cms_col")
            .groupBy(*gcols, "cms_row", "cms_col")
            .agg(F.count(F.lit(1)).alias("c")))


def cms_estimate(counters: DataFrame, keys: DataFrame, key_col: str,
                 depth: int = 4, width: int = 256,
                 group_cols: Sequence[str] = ()) -> DataFrame:
    """Point-estimate frequencies for ``keys`` from a (possibly
    re-merged) counter matrix: est(key) = min over rows j of
    counter[j][h_j(key)] — never an underestimate; over by at most
    e·N/width with probability 1 - e^-depth. Counters may hold
    duplicate (row, col) partials from separate merges; they re-SUM
    here. The probe is a broadcast-sized join: depth rows per probed
    key against a ≤ depth·width-cell grid (per group). With
    ``group_cols`` (e.g. the rollup's hour bucket), every key is
    probed against every group's grid — pass grouped ``keys`` rows
    with the same columns to probe selectively instead."""
    gcols = list(group_cols)
    merged = (counters.groupBy(*gcols, "cms_row", "cms_col")
              .agg(F.sum("c").alias("c")))
    if gcols:
        grids = counters.select(*gcols).distinct()
        keyed = keys.select(key_col).distinct().crossJoin(grids)
    else:
        keyed = keys.select(key_col)
    probes = (keyed.select(
        *gcols, key_col,
        F.explode(_cms_cells(key_col, depth, width)).alias("rc"))
        .select(*gcols, key_col, "rc.cms_row", "rc.cms_col"))
    return (probes.join(merged, [*gcols, "cms_row", "cms_col"], "left")
            .groupBy(*gcols, key_col)
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .alias("cms_est")))


def kmv_set_ops(df: DataFrame, key_col: str, member_col,
                k: int = 64) -> DataFrame:
    """Distinct-cardinality estimates for two sets and their
    union/intersection from K-minimum-values sketches (Beyer et al.
    SIGMOD'07) — the sketch algebra that answers "how many keys do
    these two partitions/days/sources share?" without a wide
    COUNT(DISTINCT) shuffle.

    ``member_col`` is a boolean column splitting rows into set A
    (true) / set B (false). Per set: the K smallest distinct 48-bit
    md5 hashes of ``key_col``. The union sketch is the K smallest of
    the merged hash stream (KMV is closed under union — merge =
    concatenate + re-take-K); the Jaccard estimate is the fraction of
    the union sketch's members present in BOTH sets; intersection =
    jaccard · union. Deterministic md5 integer math until the final
    divisions, so every output is bit-identical across engines; exact
    when a set has < K distinct keys.

    Scale shape: one dedup shuffle on (set, hash) partials, then
    K-row-per-set window tails — sketch state is O(K) per set and
    persists/merges like the HLL registers."""
    from pyspark.sql import Window
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12),
               16, 10).cast("bigint")
    hashed = (df.select(F.col(member_col).alias("in_a") if
                        isinstance(member_col, str) else
                        member_col.alias("in_a"), h.alias("h"))
              .groupBy("h")
              .agg(F.max(F.when(F.col("in_a"), 1).otherwise(0))
                   .alias("a"),
                   F.max(F.when(F.col("in_a"), 0).otherwise(1))
                   .alias("b")))
    sides = hashed.select(
        "h", F.explode(F.array_compact(F.array(
            F.when(F.col("a") == 1, F.lit("A")),
            F.when(F.col("b") == 1, F.lit("B"))))).alias("s"))
    # bucket-pyramid top-k: the naive row_number window here
    # partitions by the 2-value set tag — every distinct hash
    # through one sort task at scale (k_smallest docstring)
    sk = k_smallest(sides, ["s"], "h", k)
    # estimate card(S) from a sketch: (K-1)*2^48/h_(K), exact count
    # when fewer than K distinct hashes exist
    per_set = (sk.groupBy("s")
               .agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("kk"))
               .select("s", F.when(F.col("kk") < k,
                                   F.col("kk").cast("double"))
                       .otherwise(F.lit(float(k - 1)) * F.lit(float(H48))
                                  / F.col("hk")).alias("est")))
    # union sketch: KMV is closed under union — merge the two K-row
    # sketches and re-take the K smallest (≤ 2K rows feed this window,
    # so the unpartitioned sort is constant work, not a data sort).
    # The Jaccard estimator counts merged-sketch members present in
    # BOTH per-set sketches (Beyer et al. §5.2) — membership is
    # checked against the sketches, not the full sets, which is the
    # sketch family's usual bounded-error trade, not a shortcut.
    merged = (sk.groupBy("h")
              .agg(F.max(F.when(F.col("s") == "A", 1).otherwise(0))
                   .alias("a"),
                   F.max(F.when(F.col("s") == "B", 1).otherwise(0))
                   .alias("b")))
    wu = Window.orderBy("h")
    un = (merged.withColumn("rn", F.row_number().over(wu))
          .filter(F.col("rn") <= k))
    uest = (un.agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("kk"),
                   F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1)
                         .otherwise(0)).alias("both"))
            .select(F.when(F.col("kk") < k, F.col("kk").cast("double"))
                    .otherwise(F.lit(float(k - 1)) * F.lit(float(H48))
                               / F.col("hk")).alias("union_est"),
                    (F.col("both") / F.col("kk")).alias("jaccard_est")))
    a_est = per_set.filter(F.col("s") == "A").select(
        F.col("est").alias("a_est"))
    b_est = per_set.filter(F.col("s") == "B").select(
        F.col("est").alias("b_est"))
    # NO rounding on the product: both engines compute the identical
    # doubles from identical integer inputs, and round() itself is the
    # engine-divergent op on raw doubles (SCALE.md float policy)
    return (a_est.crossJoin(b_est).crossJoin(uest)
            .select("a_est", "b_est", "union_est", "jaccard_est",
                    (F.col("jaccard_est") * F.col("union_est"))
                    .alias("intersect_est")))


KMV_BUCKET = 1 << 36    # 4096 buckets over the 48-bit hash space


def k_smallest(dist: DataFrame, groups: list, h: str = "h",
               k: int = 64) -> DataFrame:
    """EXACT k smallest distinct ``h`` values per group, without
    sorting the table: the scale-safe replacement for
    ``row_number() OVER (PARTITION BY low-card-group ORDER BY h)``,
    which funnels every distinct hash of a group through ONE task's
    sort (the KMV inputs partition by 2-5 values — table-sized
    partitions at 10^12 rows).

    Bucket pyramid (the cum_below idea specialized to a top-k): hash
    rows land in 4096 coarse buckets (``h div 2^36``); per-group
    bucket COUNTS (≤4096 rows/group) get a strict prefix sum, rows
    of buckets whose prefix already reaches k are dropped wholesale,
    and ranking happens only WITHIN each surviving bucket —
    partition = one (group, bucket), expected D/4096 rows for
    uniform hashes.  global rank = bucket prefix + in-bucket rank,
    so the output (groups…, h, rn) is row-identical to the window
    form for distinct h.

    Returns the ≤k rows per group with their 1-based rank ``rn``.
    """
    from pyspark.sql import Window
    g = list(groups)
    b = dist.withColumn("_bkt", F.expr(f"{h} div {KMV_BUCKET}"))
    counts = b.groupBy(*g, "_bkt").agg(F.count(F.lit(1)).alias("_c"))
    wb = (Window.partitionBy(*g).orderBy("_bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    counts = counts.withColumn(
        "_before", F.coalesce(F.sum("_c").over(wb), F.lit(0)))
    keep = (counts.filter(F.col("_before") < k)
            .select(*g, "_bkt", "_before"))
    win = Window.partitionBy(*g, "_bkt").orderBy(h)
    return (b.join(keep, [*g, "_bkt"])
            .withColumn("rn", F.col("_before")
                        + F.row_number().over(win))
            .filter(F.col("rn") <= k)
            .drop("_bkt", "_before"))


# ------------------------------------------------------ Bloom filter ----
# A key's BLOOM_K positions are md5-48 hashes of "i:" + CAST(key AS
# STRING), mod m: the Spark form builds, the hashlib form probes on
# the driver, and DuckDB replays it in SQL (registry/dedup.py's
# oracle), so membership — false positives included — is a pure
# function any engine reproduces.  A bitset is uint64 words: bit p is
# bit p & 63 of word p >> 6, i.e. bit p & 7 of little-endian byte
# p >> 3.

BLOOM_K = 7   # hash functions; with 10 bits/key, fpp ~ 0.8%

# Spark storage types whose CAST(... AS STRING) is Python's str() of
# an int probe.
_BLOOM_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def bloom_positions(key: Column, m: int) -> Column:
    """The key's BLOOM_K bit positions, an array<bigint> column."""
    return F.array(*[
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"),
                                          key.cast("string"))),
                           1, 12), 16, 10).cast("bigint") % F.lit(m)
        for i in range(BLOOM_K)])


def bloom_positions_of(text: str, m: int) -> list[int]:
    """``bloom_positions`` of a key already rendered as Spark's
    CAST(key AS STRING), computed on the driver."""
    return [int(hashlib.md5(f"{i}:{text}".encode()).hexdigest()[:12],
                16) % m
            for i in range(BLOOM_K)]


def bloom_words(df: DataFrame, key: Column, m: int,
                *by: str) -> DataFrame:
    """Fold ``key`` into the non-zero 64-bit words of an m-bit bitset
    per ``by`` group: rows (by..., w, bits), one bit_or aggregate
    combined map-side, at most m/64 rows per group.  Null keys set no
    bit (no equality probe can match them)."""
    return (df.filter(key.isNotNull())
            .select(*by, F.explode(bloom_positions(key, m)).alias("pos"))
            .groupBy(*by, F.shiftright(F.col("pos"), 6).alias("w"))
            .agg(F.bit_or(F.expr(
                "shiftleft(CAST(1 AS BIGINT), pos % 64)")).alias("bits")))


def bloom_bitsets(words: DataFrame, m: int, by: str | None = None) -> dict:
    """Collect (by, w, bits) word rows into uint64 bitsets keyed by
    the ``by`` value — the driver receives at most m/64 rows per
    group, never the position stream.  Without ``by`` the one bitset
    is under ``None`` (all zeros for an empty ``words``)."""
    n_words = (m + 63) // 64
    out = {} if by else {None: np.zeros(n_words, dtype="<u8")}
    for row in words.collect():
        g = row[by] if by else None
        if g not in out:
            out[g] = np.zeros(n_words, dtype="<u8")
        out[g][row["w"]] = row["bits"] & 0xFFFFFFFFFFFFFFFF
    return out


def bloom_encode(bits: np.ndarray, m: int) -> str:
    """A bitset's sidecar form: base64 of its first ceil(m/8) bytes."""
    return base64.b64encode(bits.tobytes()[:(m + 7) // 8]).decode("ascii")


def bloom_decode(b64: str) -> np.ndarray:
    """Inverse of ``bloom_encode``."""
    raw = base64.b64decode(b64)
    return np.frombuffer(raw + bytes(-len(raw) % 8), dtype="<u8")


def bloom_test(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Per row of an (n, BLOOM_K) int64 position array: True iff
    every position's bit is set."""
    w = bits[pos >> 6]
    return ((w >> (pos & 63).astype(np.uint64)) & np.uint64(1)).all(axis=1)


def bloom_may_contain(bloom: dict, value) -> bool:
    """Probe a sidecar filter ``{"m", "k", "type", "bits"}`` (bits
    decoded) for ``key = value``: False ONLY when it proves the value
    absent.

    The build hashed Spark's CAST(key AS STRING), so a probe prunes
    only when its Python rendering provably equals that string, which
    holds only when the probe's type matches the recorded key type
    (int ↔ integral, str ↔ string, bool ↔ boolean).  A cross-typed
    probe (int 107 against a double key, which Spark renders
    "107.0"), any other probe type, and a filter with no recorded type
    or another k never prune: the caller's equality filter still
    runs, so the answer stays right."""
    ctype = bloom.get("type")
    if isinstance(value, bool):
        text = ("true" if value else "false") if ctype == "boolean" else None
    elif isinstance(value, int):
        text = str(value) if ctype in _BLOOM_INT_TYPES else None
    elif isinstance(value, str):
        text = value if ctype == "string" else None
    else:
        text = None
    if text is None or bloom.get("k") != BLOOM_K:
        return True
    pos = np.array([bloom_positions_of(text, bloom["m"])])
    return bool(bloom_test(bloom["bits"], pos)[0])
