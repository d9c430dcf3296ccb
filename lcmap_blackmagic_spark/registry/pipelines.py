"""Pipeline registry entries: the lcmap segment / tile / prediction
compositions, the multimodal decode operators and the curation
pipelines.

The notes below moved here with the queries they describe.

Pipeline registry entries: compositions whose core is a pandas-UDF
or ML boundary (UD1 detect, UD2 train, UD3 predict, multimodal decode,
ANN). Most are rows-only — no SQL oracle exists (seeded Spark-side
fixtures / approximate sketches), so the driver records the weaker
rows-only check and golden tests in tests/test_pipelines.py pin
correctness. Exceptions: ``kmv_sketch`` and ``llm_ann_topk`` are
deterministic functions of the driver tables and carry full generated
oracles.

All inputs are deterministic (seeded synthetic fixtures or the
provided tables), so row counts and schemas are stable across runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm.semdedup import (SEM_CELLS, SEM_DIM, SEM_ITERS, SEM_TAU2_BP,
                            quantize, sem_cond)
from .base import _staging, _t, register
from .dedup import _sql_sem_parts
from .text import _mix_plan, _sql_mix


def q_lcmap_segment_detect(spark, sf_dir):
    """UD1: raster → time-series assembly → per-pixel detection →
    38-col segments (plans/segment.py). Fully oracle-checked: the
    input chip is the md5-hash fixture (synth_ard_hash) and the
    detector is closed-form integer-sum OLS, so DuckDB regenerates
    the identical raster in SQL and reproduces the fitted slope /
    intercept / RMSE bit-for-bit (_sql_segment_detect)."""
    from ..plans.segment import segment_pipeline
    from ..sources.fixtures import synth_ard_hash
    ard = synth_ard_hash(spark, side=10)
    return segment_pipeline(ard, side=10).select(
        "cx", "cy", "px", "py", "sday", "eday", "curqa",
        F.col("recoef")[0].alias("reslope"), "reint", "rermse")


def _sql_segment_detect(side: int = 10, n_acq: int = 40) -> str:
    """DuckDB twin of ``q_lcmap_segment_detect``: regenerates the
    md5-hash chip (same keys as sources/fixtures.synth_ard_hash) and
    fits the red band with the SAME left-associative float expression
    order as plans/segment.stub_detector — exact integer sums, one
    double division for the slope, Σresid² expanded over the sums —
    so both engines run the identical IEEE-754 sequence."""
    h = "CAST('0x' || substr(md5({key}), 1, 8) AS BIGINT)"
    qa_h = h.format(key="'qa:' || pos || ':' || day")
    red_h = h.format(key="'red:' || c.pos || ':' || c.day")
    return f"""
WITH days AS (SELECT 17 + 311 * a AS day FROM range({n_acq}) t(a)),
pix AS (SELECT CAST(p AS INT) AS pos FROM range({side * side}) t(p)),
qa AS (
  SELECT pos, day,
         CASE WHEN {qa_h} % 100 < 15 THEN 322 ELSE 66 END AS qaval
  FROM pix, days),
clear AS (SELECT pos, day, 724276 + day AS x FROM qa WHERE qaval = 66),
vals AS (
  SELECT c.pos, c.x, 500 + {red_h} % 3000 AS y
  FROM clear c),
stats AS (
  -- LEFT JOIN from the pixel universe: a pixel with ZERO clear
  -- observations must still produce a (default) output row, exactly
  -- as the Spark pipeline emits a default segment for every pixel
  SELECT p.pos, COUNT(v.x) AS n,
         CAST(COALESCE(SUM(v.x), 0) AS BIGINT) AS sx,
         CAST(COALESCE(SUM(v.x * v.x), 0) AS BIGINT) AS sxx,
         CAST(COALESCE(SUM(v.y), 0) AS BIGINT) AS sy,
         CAST(COALESCE(SUM(v.y * v.y), 0) AS BIGINT) AS syy,
         CAST(COALESCE(SUM(v.x * v.y), 0) AS BIGINT) AS sxy,
         MIN(v.x) AS minx, MAX(v.x) AS maxx
  FROM pix p LEFT JOIN vals v ON v.pos = p.pos
  GROUP BY p.pos),
fit AS (
  SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS m
  FROM stats),
fit2 AS (SELECT *, (sy - m * sx) / n AS b FROM fit),
fit3 AS (
  SELECT *, syy - 2.0*b*sy - 2.0*m*sxy + n*b*b + 2.0*m*b*sx + m*m*sxx AS ss
  FROM fit2)
SELECT CAST(0 AS BIGINT) AS cx, CAST(0 AS BIGINT) AS cy,
       CAST((pos % {side}) * 30 AS BIGINT) AS px,
       CAST(-(pos // {side}) * 30 AS BIGINT) AS py,
       CASE WHEN n >= 12
            THEN strftime(DATE '0001-01-01' + CAST(minx - 1 AS INT), '%Y-%m-%d')
            ELSE '0001-01-01' END AS sday,
       CASE WHEN n >= 12
            THEN strftime(DATE '0001-01-01' + CAST(maxx - 1 AS INT), '%Y-%m-%d')
            ELSE '0001-01-01' END AS eday,
       CASE WHEN n >= 12 THEN 66 ELSE 0 END AS curqa,
       CASE WHEN n >= 12 THEN m ELSE NULL END AS reslope,
       CASE WHEN n >= 12 THEN b ELSE 0.0 END AS reint,
       CASE WHEN n >= 12 THEN CASE WHEN ss > 0 THEN sqrt(ss / n) ELSE 0.0 END
            ELSE 0.0 END AS rermse
FROM fit3
"""


def q_lcmap_prediction(spark, sf_dir):
    """UD2+UD3: train (fallback classifier) then batch-predict with
    defaults routing — the full /prediction composition at probe
    scale (side=8; the bench-scale twin is ``lcmap_predict_chip``).
    FULLY ORACLE-CHECKED since round 11: the md5-hash fixtures
    regenerate in SQL and the compared columns (keys, segment dates,
    exploded prediction dates, prob arity) are closed-form
    (_sql_predict_chip(side=8)); the tile_pipeline fit — including
    its seeded sample/split, which only shape the MODEL, never the
    compared columns — still runs as the workload."""
    from ..plans.prediction import prediction_pipeline
    from ..plans.tile import tile_pipeline
    from ..sources.fixtures import synth_aux_hash, synth_segments_hash
    segs = synth_segments_hash(spark, side=8)
    aux = synth_aux_hash(spark, side=8)
    model, _ = tile_pipeline(segs, aux, "2001-07-01", target_samples=200,
                             class_min=5, class_max=40)
    preds = prediction_pipeline(segs, aux, model, 7, 1)
    return preds.select("cx", "cy", "px", "py", "sday", "eday", "pday",
                        F.size("prob").alias("n_probs"))


def q_lcmap_detect_chip(spark, sf_dir):
    """BENCH-SCALE /segment: one FULL 100×100-pixel chip — the
    reference's unit of work (blackmagic/blueprints/segment.py:253-264
    runs detection chip-at-a-time) — through the same assembly →
    per-pixel detect → 38-col projection as ``lcmap_segment_detect``.
    Fully oracle-checked at this scale too: the md5-hash chip and the
    closed-form integer-sum OLS detector regenerate bit-for-bit in
    DuckDB (_sql_segment_detect(side=100)).  This is the engine's
    published number for the reference's detect path; BASELINE.md's
    only anchor (~970 s/chip, prediction.py:203-207) is the companion
    prediction path benched by ``lcmap_predict_chip``."""
    from ..plans.segment import segment_pipeline
    from ..sources.fixtures import synth_ard_hash
    ard = synth_ard_hash(spark, side=100)
    return segment_pipeline(ard, side=100).select(
        "cx", "cy", "px", "py", "sday", "eday", "curqa",
        F.col("recoef")[0].alias("reslope"), "reint", "rermse")


def _train_chip(segs, aux):
    """The training prelude both bench-scale chip queries share:
    assembly → md5-ordered stratified sample → hash holdout split →
    fit.  Returns ``(data, train, test, model)``."""
    from ..ml.train import train_model
    from ..operators.sampling import (stratified_sample,
                                      train_test_split_hash)
    from ..plans.training import training_data
    # localCheckpoint: FOUR downstream consumers share the assembled
    # matrix (stats, the sample, the fit's collect, the split counts) —
    # without it Catalyst re-runs the segments⨝aux assembly per
    # consumer.  ~20k rows × 69 features: sample-sized, not tile-sized.
    # Lazy (r15): the sampler's label-count collect is the first
    # action and materializes it; the fit and the returned stats/split
    # aggregates then read blocks.
    ordc = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("ord"), F.col("px").cast("string"),
        F.col("py").cast("string"))), 1, 12), 16, 10).cast("bigint")
    data = (training_data(segs, aux, "2001-07-01", keep_keys=True)
            .withColumn("__ord", ordc).localCheckpoint(eager=False))
    sample = stratified_sample(data, "label", 20_000, 50, 4_000,
                               order_col="__ord")
    train, test = train_test_split_hash(sample, ["px", "py"], 0.2)
    model = train_model(train.select("label", "features"),
                        test.select("label", "features"))  # UD2: the fit
    return data, train, test, model


def q_lcmap_tile_train(spark, sf_dir):
    """BENCH-SCALE /tile training prep (blackmagic/blueprints/
    tile.py:391-404): training-data assembly → label statistics →
    stratified sample → holdout split → model fit over one full
    100×100 chip's segments + aux.  The call itself runs the fit
    (UD2, fallback trainer when xgboost is absent); the returned
    DataFrame is the per-label statistics plus the sampled split
    sizes — the verifiable summary a training job reports.

    FULLY ORACLE-CHECKED (round 11): the fixtures are the md5-hash
    twins (synth_segments_hash / synth_aux_hash — regenerable in
    SQL), sampling orders by an md5 column (the stratified_sample
    order_col determinism contract) and the holdout coin is
    train_test_split_hash, so every count in the output is a closed
    -form function DuckDB reproduces (_sql_tile_train)."""
    from ..operators.stats import label_statistics
    from ..sources.fixtures import synth_aux_hash, synth_segments_hash
    segs = synth_segments_hash(spark, side=100)
    aux = synth_aux_hash(spark, side=100)
    # tile_pipeline's stages, shared instead of recomputed: assembly →
    # stats → sample → split → fit (plans/tile.py:tile_pipeline
    # verbatim; inlined so the summary below reuses the same frames)
    data, train, test, _ = _train_chip(segs, aux)
    stats = label_statistics(data, "label")
    splits = (train.agg(F.lit("train").alias("split"),
                        F.count(F.lit(1)).alias("n"))
              .unionByName(test.agg(F.lit("test").alias("split"),
                                    F.count(F.lit(1)).alias("n"))))
    return (stats.select(F.concat(F.lit("label:"),
                                  F.col("label").cast("string"))
                         .alias("split"),
                         F.col("cnt").alias("n"))
            .unionByName(splits).orderBy("split"))


def q_lcmap_predict_chip(spark, sf_dir):
    """BENCH-SCALE /prediction: train-then-predict over one FULL
    100×100 chip — the exact workload behind BASELINE.md's only
    published number (~970 s/chip for the superseded per-row loop,
    blackmagic/blueprints/prediction.py:203-207; the batch path this
    engine implements is prediction.py:331-345).  Broadcast model +
    Arrow-batched iterator-UDF inference; defaults routed around the
    model exactly as ``lcmap_prediction`` does at probe scale.

    FULLY ORACLE-CHECKED (round 11): md5-hash fixtures + the
    deterministic sample/split; the compared columns (keys, segment
    dates, exploded prediction dates, and the prob-vector arity —
    NUM_CLASSES for modeled rows, 0 for default segments) are
    closed-form in DuckDB (_sql_predict_chip).  The fit and the
    Arrow UDF inference still RUN — their probabilities are the
    ML boundary the oracle deliberately does not hash."""
    from ..sources.fixtures import synth_aux_hash, synth_segments_hash
    # localCheckpoint the fixture frames: BOTH the training assembly
    # and prediction_inputs below consume segs+aux, and each
    # checkpoint materialization re-ran the md5 fixture generation.
    # ALL FOUR checkpoints here are LAZY since r15: this query's only
    # unavoidable driver actions are the fit's matrix collect and the
    # final inference job, and every checkpoint's first consumer sits
    # under one of them — the fit's collect materializes segs, aux
    # and data in ONE job; the final job materializes inputs.  The
    # r14 eager forms ran four extra blocking jobs for the same reuse
    # (driver bench 13.3 s, scaling ratio 0.74 — action-bound).
    segs = synth_segments_hash(spark, side=100) \
        .localCheckpoint(eager=False)
    aux = synth_aux_hash(spark, side=100).localCheckpoint(eager=False)
    # tile_pipeline's fit stages with the training matrix checkpointed
    # once (sample + the fit's collect re-ran the assembly)
    *_, model = _train_chip(segs, aux)
    # The reference's defaults/data split and union, inlined instead
    # of prediction_pipeline (the tile_train precedent), for two
    # reasons of this query's own.  Its inputs are checkpointed: segs
    # and aux also feed the fit, and the assembled inputs are staged
    # once, so both union branches read staged rows and the md5
    # fixture generation and feature build run once.  And the Arrow
    # side is coalesced to 8 partitions: 8 Python tasks over staged
    # rows, the shape that stayed flat under full-bench load (r12's
    # 5.9→14 s swing; SCALE.md r13).  prediction_pipeline, the request
    # path, has neither a second consumer nor that load: it scores in
    # one pass, spread over defaultParallelism partitions.
    from ..ml.predict import predict_probabilities
    from ..operators.unions import default_predictions, group_data
    from ..plans.prediction import prediction_inputs
    inputs = prediction_inputs(segs, aux, 7, 1) \
        .localCheckpoint(eager=False)
    defaults, data = group_data(inputs)
    predicted = (predict_probabilities(data.coalesce(8), model,
                                       "independent")
                 .drop("independent"))
    preds = default_predictions(defaults.drop("independent"), predicted)
    return preds.select("cx", "cy", "px", "py", "sday", "eday", "pday",
                        F.size("prob").alias("n_probs"))


def _h8sql(key: str) -> str:
    return f"CAST('0x' || substr(md5({key}), 1, 8) AS BIGINT)"


def _h12sql(key: str) -> str:
    return f"CAST('0x' || substr(md5({key}), 1, 12) AS BIGINT)"


# The hash-fixture CTE prefix shared by both bench-pipeline oracles:
# regenerates synth_aux_hash's label column and synth_segments_hash's
# per-pixel segment layout (is_def, n_seg, interval base/step) from
# the same md5 coins the Spark fixtures draw.
def _sql_hash_fixtures(side: int) -> str:
    return f"""
pix AS (SELECT CAST(p AS BIGINT) AS p FROM range({side * side}) t(p)),
aux AS (
  SELECT p,
         CASE WHEN {_h8sql("'aux:lab:' || p")} % 100 < 70
              THEN 1 + {_h8sql("'aux:trn:' || p")} % 8
              ELSE 0 END AS label
  FROM pix),
segp AS (
  SELECT p,
         {_h8sql("'seg:def:' || p")} % 100 < 8 AS is_def,
         1 + {_h8sql("'seg:n:' || p")} % 3 AS n_seg,
         1986 + {_h8sql("'seg:b:' || p")} % 10 AS b0,
         2 + {_h8sql("'seg:s:' || p")} % 6 AS st
  FROM pix),
real AS (
  SELECT p, b0 + s * st AS y0, b0 + (s + 1) * st AS y1
  FROM (SELECT p, b0, st, UNNEST(range(n_seg)) AS s
        FROM segp WHERE NOT is_def))"""


def _sql_tile_train(side: int = 100, cx: int = -2061585,
                    cy: int = 1922805, date: str = "2001-07-01",
                    target: int = 20_000, cmin: int = 50,
                    cmax: int = 4_000, test_size: float = 0.2) -> str:
    """Oracle for ``q_lcmap_tile_train``: regenerates the hash
    fixtures, replays training-data assembly (spanning-segment join ×
    labeled aux — the fixture's disjoint intervals guarantee ≤ 1
    spanning segment per pixel), label statistics, the order_col
    stratified sample (row_number ≤ ceil/clip cap), and the md5
    holdout coin (operators/sampling.train_test_split_hash)."""
    from ..operators.sampling import HASH_MOD
    thr = int(test_size * HASH_MOD)
    ordk = _h12sql("'ord:' || px || ':' || py")
    coink = _h12sql("'split:' || px || ':' || py")
    return f"""
WITH {_sql_hash_fixtures(side)},
spans AS (
  SELECT DISTINCT p FROM real
  WHERE make_date(CAST(y0 AS INT), 3, 1) <= DATE '{date}'
    AND DATE '{date}' <= make_date(CAST(y1 AS INT), 2, 1)),
data AS (
  SELECT a.label,
         {cx} + (a.p % {side}) * 30 AS px,
         {cy} - (a.p // {side}) * 30 AS py
  FROM aux a JOIN spans s ON s.p = a.p
  WHERE a.label <> 0),
stats AS (SELECT label, COUNT(*) AS cnt FROM data GROUP BY label),
caps AS (
  SELECT label,
         LEAST(GREATEST(CAST(CEIL({target} * (CAST(cnt AS DOUBLE) /
               (SELECT SUM(cnt) FROM stats))) AS BIGINT),
               {cmin}), {cmax}) AS cap
  FROM stats),
ranked AS (
  SELECT label, {coink} AS coin,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY {ordk}) AS rn
  FROM data),
sample AS (
  SELECT r.label, r.coin FROM ranked r
  JOIN caps c ON r.label = c.label AND r.rn <= c.cap)
SELECT 'label:' || label AS split, cnt AS n FROM stats
UNION ALL SELECT 'test', COUNT(*) FROM sample WHERE coin < {thr}
UNION ALL SELECT 'train', COUNT(*) FROM sample WHERE coin >= {thr}
ORDER BY split
"""


def _sql_predict_chip(side: int = 100, cx: int = -2061585,
                      cy: int = 1922805) -> str:
    """Oracle for ``q_lcmap_predict_chip``: the hash fixtures'
    segment rows exploded to annual July-1 prediction dates (a real
    segment [Mar y0, Feb y1] contains July 1 of exactly the years
    y0..y1-1; a default segment yields one sentinel row), with the
    prob-vector arity — NUM_CLASSES for modeled rows, 0 for defaults
    (operators/unions.default_predictions)."""
    from ..schemas import NUM_CLASSES
    return f"""
WITH {_sql_hash_fixtures(side)},
rows_real AS (
  SELECT p,
         CAST(y0 AS VARCHAR) || '-03-01' AS sday,
         CAST(y1 AS VARCHAR) || '-02-01' AS eday,
         CAST(UNNEST(range(y0, y1)) AS VARCHAR) || '-07-01' AS pday,
         CAST({NUM_CLASSES} AS INT) AS n_probs
  FROM real),
rows_def AS (
  SELECT p, '0001-01-01' AS sday, '0001-01-01' AS eday,
         '0001-01-01' AS pday, CAST(0 AS INT) AS n_probs
  FROM segp WHERE is_def),
allrows AS (SELECT * FROM rows_real UNION ALL SELECT * FROM rows_def)
SELECT CAST({cx} AS BIGINT) AS cx, CAST({cy} AS BIGINT) AS cy,
       {cx} + (p % {side}) * 30 AS px,
       {cy} - (p // {side}) * 30 AS py,
       sday, eday, pday, n_probs
FROM allrows
"""


def q_src_chipmunk(spark, sf_dir):
    """S1 as a Spark 4 Python DataSource: chip-grain partitions with
    (cx, cy) filter pushdown. Output: per-chip acquisition counts."""
    from ..session import ensure_worker_imports
    from ..sources.chipmunk import ChipmunkDataSource
    ensure_worker_imports(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChipmunkDataSource)
    df = (spark.read.format("chipmunk")
          .options(nx=2, ny=2, side=10, n_acq=20).load())
    return (df.groupBy("cx", "cy", "ubid")
            .agg(F.count(F.lit(1)).alias("n_acq"))
            .orderBy("cx", "cy", "ubid"))


def _sql_src_chipmunk() -> str:
    """Oracle for ``q_src_chipmunk``: the source's key space and
    per-(chip, ubid) acquisition counts are a deterministic function
    of the grid options (2×2 chips at 3 km pitch from the fixture
    origin, 8 ubids, 20 acquisitions each) — raster VALUES are
    RNG-synthesized and stay pinned by tests instead. This checks the
    partition/grid/pushdown plumbing delivers exactly one row per
    (chip, ubid, acquisition)."""
    from ..sources.fixtures import UBID_BANDS
    ubids = ", ".join(f"('{u}')" for u in sorted(UBID_BANDS))
    return f"""
WITH ij AS (SELECT a.i AS i, b.j AS j
            FROM range(2) a(i), range(2) b(j)),
u AS (SELECT * FROM (VALUES {ubids}) t(ubid))
SELECT CAST(-2061585 + i * 3000 AS BIGINT) AS cx,
       CAST(1922805 - j * 3000 AS BIGINT) AS cy,
       ubid, CAST(20 AS BIGINT) AS n_acq
FROM ij, u
ORDER BY cx, cy, ubid
"""


def q_mm_extract_features(spark, sf_dir):
    """Multimodal decode→feature plumbing over binary payloads.
    FULLY ORACLE-CHECKED (round 11): the deterministic fake decoder
    is sha256-derived and DuckDB has sha256 — the 16-slot pooled
    means over the (digest × 8) pseudo-raster reduce to the two
    half-digest byte means interleaved, all dyadic (exact in
    float32), so the whole Arrow decode/pool path hash-matches
    (_sql_mm_features).  Real codecs ride the same plumbing with
    decoder= (library_decoder)."""
    from ..llm.multimodal import attach_payloads, extract_features
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs.filter(F.col("doc_id") < 120))
    return extract_features(media, n_features=16)


def q_mm_resize(spark, sf_dir):
    """Raster resize plumbing: decode → area-downsample to 8×8.
    FULLY ORACLE-CHECKED (round 11): on the 16×16 sha-raster every
    2×2 block mean is a four-byte dyadic mean of digest bytes —
    closed-form in SQL (_sql_mm_resize)."""
    from ..llm.multimodal import attach_payloads, resize_images
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs.filter(F.col("doc_id") < 120))
    return resize_images(media, out_h=8, out_w=8)


_MM_BYTES = ("list_transform(generate_series(0, 31), "
             "i -> CAST('0x' || substr(hx, 2*i + 1, 2) AS INT))")


def _sql_mm_features() -> str:
    """DuckDB replay of fake_decoder + extract_features(16): the
    pseudo-raster is the sha256 digest repeated 8× (256 bytes);
    pooled slot j means CONSECUTIVE bytes 16j..16j+15, i.e. the
    first half-digest mean when j is even, the second when odd."""
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]
           AS kind,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS hx
  FROM documents WHERE doc_id < 120),
b AS (SELECT *, {_MM_BYTES} AS bytes FROM m),
ab AS (SELECT *,
              CAST(list_sum(bytes[1:16]) AS DOUBLE) / 16 AS a,
              CAST(list_sum(bytes[17:32]) AS DOUBLE) / 16 AS bb
       FROM b)
SELECT media_id, kind, CAST(n_bytes AS INT) AS n_bytes,
       list_transform(generate_series(1, 16),
         j -> CAST(CASE WHEN j % 2 = 1 THEN a ELSE bb END AS FLOAT))
         AS feat
FROM ab
"""


def _sql_mm_resize() -> str:
    """DuckDB replay of fake_decoder + resize_images(8, 8): raster
    cell (y, x) is digest byte 16·(y mod 2) + x, so the 2×2 block
    mean at (r, c) is (h[2c] + h[2c+1] + h[16+2c] + h[16+2c+1]) / 4 —
    the same 8 values for every output row."""
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]
           AS kind,
         sha256(text) AS hx
  FROM documents WHERE doc_id < 120 AND doc_id % 3 <> 1),
b AS (SELECT *, {_MM_BYTES} AS bytes FROM m),
rowvals AS (
  SELECT media_id, kind,
         list_transform(generate_series(0, 7),
           c -> CAST((bytes[2*c + 1] + bytes[2*c + 2]
                      + bytes[16 + 2*c + 1] + bytes[16 + 2*c + 2])
                     AS DOUBLE) / 4) AS rw
  FROM b)
SELECT media_id, kind, CAST(8 AS INT) AS h, CAST(8 AS INT) AS w,
       flatten(list_transform(generate_series(1, 8),
         r -> list_transform(rw, v -> CAST(v AS FLOAT)))) AS pixels
FROM rowvals
"""


def q_mm_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: one row per sampled frame.
    FULLY ORACLE-CHECKED (round 12): the per-frame fake-decode input
    is now ``payload || '|f{i}'`` (a PRINTABLE suffix — the old raw
    4-byte big-endian counter was the one thing DuckDB's
    VARCHAR-only sha256 could not take), so the whole
    sample-enumeration + per-frame feature path replays in SQL
    (_sql_mm_frame_sample).  Real MP4 payloads ride the metadata/
    real-decode branches instead, pinned by the golden codec tests."""
    from ..llm.multimodal import attach_payloads, frame_sample
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs.filter(F.col("doc_id") < 120))
    return frame_sample(media)


def _sql_mm_frame_sample() -> str:
    """DuckDB replay of frame_sample over non-MP4 payloads: videos
    (doc_id % 3 = 2) sample max(1, n_bytes // 100) frames; frame i's
    feature is the 16 column means of fake_decoder(payload||'|f'||i)
    — column x of the sha-raster holds bytes x and 16+x, so the mean
    is their dyadic average (exact in float32)."""
    return """
WITH m AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) AS n_bytes
  FROM documents WHERE doc_id < 120 AND doc_id % 3 = 2),
frames AS (
  SELECT media_id,
         CAST(UNNEST(range(greatest(n_bytes // 100, 1))) AS INT)
           AS frame_idx,
         text
  FROM m),
hx AS (
  SELECT media_id, frame_idx,
         sha256(text || '|f' || frame_idx) AS h
  FROM frames)
SELECT media_id, frame_idx,
       list_transform(generate_series(0, 15),
         x -> CAST((CAST('0x' || substr(h, 2*x + 1, 2) AS INT)
                    + CAST('0x' || substr(h, 2*(x+16) + 1, 2) AS INT))
                   / 2.0 AS FLOAT)) AS feat
FROM hx ORDER BY media_id, frame_idx
"""


CURATE_TOK_MIN = 30
CURATE_TOK_MAX = 100


def _curation_stages(spark, sf_dir, q, staging_key):
    """Quality frame → (repd, clean): the MinHash-dedup and
    5-gram-decontam stages shared by llm_curation and
    llm_curation_lines (the latter feeds the line-rewritten corpus
    through the identical machinery)."""
    from pyspark.sql import Window

    from ..llm.dedup import dedup_components, minhash_pairs_staged, shingles
    pairs = minhash_pairs_staged(q, _staging(sf_dir, staging_key),
                                 threshold=0.2)
    comp = dedup_components(pairs, q.select("doc_id"))
    sized = comp.join(q.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    # localCheckpoint: rep_ids is consumed by THREE downstream
    # branches (the dedup funnel row, the decontam gram explode, and
    # the final anti-join) — without it Catalyst re-runs the
    # component-sizing join + window once per consumer.  The table is
    # one id per surviving doc, so the checkpoint is corpus-count
    # sized, not corpus-bytes sized.  (Timing-neutral at sf0.1 where
    # the window costs ~0.3 s — this is a 100 TB-shape fix, measured
    # and kept honest, not a local win.)
    rep_ids = (sized.select("doc_id", F.row_number().over(w).alias("rn"))
               .filter(F.col("rn") == 1).select("doc_id")
               # lazy (r15): all three consumers sit inside the
               # caller's final action — no blocking job needed
               .localCheckpoint(eager=False))
    repd = q.join(rep_ids, "doc_id")

    corpus = repd.filter(F.col("source") != "src0")
    bench = (q.filter(F.col("source") == "src0")
             .select(F.explode(shingles("text", 5)).alias("g")).distinct())
    cont = (corpus.select("doc_id", F.explode(shingles("text", 5)).alias("g"))
            .join(F.broadcast(bench), "g").select("doc_id").distinct())
    clean = corpus.join(cont, "doc_id", "left_anti")
    return repd, clean


def q_llm_curation(spark, sf_dir):
    """END-TO-END corpus curation — the pipeline a pre-training data
    job actually runs, composed from this repo's own operators:

      1. quality cut: token count in [30, 100] (integer rule —
         the oracle-safe core of llm/text.quality_scores),
      2. near-dup dedup: MinHash LSH pairs (STAGED single-pass form,
         llm/dedup.minhash_pairs_staged, threshold 0.2) → pointer-
         jumping connected components → one representative per
         cluster (largest n_chars, then smallest id),
      3. decontamination: drop survivors sharing any word 5-gram
         with the 'src0' benchmark split (broadcast gram semi-join),
         benchmark docs themselves leave the corpus here.

    Emits the per-stage funnel (docs + tokens surviving) — the
    verifiable summary a curation run reports.  Every stage is
    integer-exact, so the WHOLE pipeline carries a composed DuckDB
    oracle (the dedup stage embeds the recursive-CTE components
    oracle re-pointed at the quality-filtered CTE)."""
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.lower(F.trim("text")), " "))
    q = (d.withColumn("n_tok", ntok.cast("bigint"))
         .filter(ntok.between(CURATE_TOK_MIN, CURATE_TOK_MAX)))

    repd, clean = _curation_stages(spark, sf_dir, q, "curation_minhash")

    def stage(i, name, df):
        return df.agg(F.lit(i).alias("stage_id"),
                      F.lit(name).alias("stage"),
                      F.count(F.lit(1)).alias("n_docs"),
                      F.sum(F.size(F.split(F.lower(F.trim("text")), " "))
                            .cast("bigint")).alias("n_tokens"))

    return (stage(1, "start", d)
            .unionByName(stage(2, "quality", q.drop("n_tok")))
            .unionByName(stage(3, "dedup", repd))
            .unionByName(stage(4, "decontam", clean))
            .orderBy("stage_id"))


def _sql_llm_curation() -> str:
    from .dedup import sql_dedup_groups
    groups = sql_dedup_groups().replace("FROM documents", "FROM qdocs")
    gram5 = ("UNNEST(list_transform(generate_series(1, len(ws) - 4), "
             "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' "
             "|| ws[i+3] || ' ' || ws[i+4]))")
    tok = "len(string_split(lower(trim(text)), ' '))"
    return f"""
WITH qdocs AS (
  SELECT * FROM documents
  WHERE {tok} BETWEEN {CURATE_TOK_MIN} AND {CURATE_TOK_MAX}),
comp AS (SELECT * FROM ({groups}) g),
reps AS (
  SELECT c.doc_id,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN qdocs d USING (doc_id)),
repd AS (SELECT d.* FROM qdocs d
         JOIN reps r ON r.doc_id = d.doc_id AND r.rn = 1),
corpus AS (SELECT * FROM repd WHERE source <> 'src0'),
bench AS (
  SELECT DISTINCT {gram5} AS g
  FROM (SELECT string_split(lower(trim(text)), ' ') AS ws
        FROM qdocs WHERE source = 'src0')),
cont AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, {gram5} AS g
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
              FROM corpus)) cg
  JOIN bench USING (g)),
clean AS (SELECT * FROM corpus
          WHERE doc_id NOT IN (SELECT doc_id FROM cont))
SELECT 1 AS stage_id, 'start' AS stage, COUNT(*) AS n_docs,
       CAST(SUM({tok}) AS BIGINT) AS n_tokens FROM documents
UNION ALL SELECT 2, 'quality', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM qdocs
UNION ALL SELECT 3, 'dedup', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM repd
UNION ALL SELECT 4, 'decontam', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM clean
ORDER BY stage_id
"""


def q_llm_curation_lines(spark, sf_dir):
    """END-TO-END curation with the LINE-LEVEL boilerplate rewrite
    as the funnel's FIRST stage — the batch twin of
    ``curation_stream(line_store_dir=…)`` and the C4 ordering
    (cleaning precedes filtering, so quality/dedup/decontam all
    judge the CLEANED text): documents are rewritten through
    llm/dedup.line_dedup_rewrite (segments occurring ≥ LINE_MAXOCC
    times excised, survivors reassembled), fully-boilerplate docs
    drop, and the surviving corpus runs through the IDENTICAL
    quality → MinHash-dedup → decontam machinery as llm_curation
    (_curation_stages — shared code, separate staging key).
    Representative choice still orders by the ORIGINAL n_chars
    column (document identity, not post-rewrite size).  Every stage
    stays integer/string-exact, so the whole five-stage funnel
    carries one composed DuckDB oracle."""
    from ..llm.dedup import line_dedup_rewrite

    d = _t(spark, sf_dir, "documents")
    rew = line_dedup_rewrite(d)
    # localCheckpoint: the rewritten corpus feeds EVERY downstream
    # consumer (the linededup funnel row, the quality filter, and —
    # through q — the signature hash, rep join, bench grams, and
    # three more stage metrics); without it the segment-count
    # groupBy + reassembly re-run once per consumer (measured 11.4 s
    # → 8.5 s solo median at sf0.1)
    cdocs = (d.drop("text")
             .join(rew.filter(F.col("n_kept") > 0)
                   .select("doc_id", F.col("cleaned").alias("text")),
                   # lazy (r15): materializes under the staged
                   # minhash write — the first action that reads it
                   "doc_id").localCheckpoint(eager=False))
    ntok = F.size(F.split(F.lower(F.trim("text")), " "))
    q = cdocs.filter(ntok.between(CURATE_TOK_MIN, CURATE_TOK_MAX))

    repd, clean = _curation_stages(spark, sf_dir, q,
                                   "curation_lines_minhash")

    def stage(i, name, df):
        return df.agg(F.lit(i).alias("stage_id"),
                      F.lit(name).alias("stage"),
                      F.count(F.lit(1)).alias("n_docs"),
                      F.sum(F.size(F.split(F.lower(F.trim("text")), " "))
                            .cast("bigint")).alias("n_tokens"))

    return (stage(1, "start", d)
            .unionByName(stage(2, "linededup", cdocs))
            .unionByName(stage(3, "quality", q))
            .unionByName(stage(4, "dedup", repd))
            .unionByName(stage(5, "decontam", clean))
            .orderBy("stage_id"))


def _sql_llm_curation_lines() -> str:
    from ..llm.dedup import LINE_MAXOCC, LINE_W
    from .dedup import sql_dedup_groups
    groups = sql_dedup_groups().replace("FROM documents", "FROM qdocs")
    gram5 = ("UNNEST(list_transform(generate_series(1, len(ws) - 4), "
             "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' "
             "|| ws[i+3] || ' ' || ws[i+4]))")
    tok = "len(string_split(lower(trim(text)), ' '))"
    return f"""
WITH toks0 AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
  FROM documents),
segb AS (
  SELECT doc_id, toks,
         CAST((len(toks) + {LINE_W - 1}) // {LINE_W} AS BIGINT)
           AS n_segs
  FROM toks0),
segs AS (
  SELECT doc_id, n_segs, i,
         array_to_string(
           toks[(i * {LINE_W} + 1):(i * {LINE_W} + {LINE_W})],
           ' ') AS seg
  FROM segb, LATERAL (SELECT unnest(range(n_segs)) AS i) u),
segc AS (SELECT seg, COUNT(*) AS occ FROM segs GROUP BY seg),
segk AS (
  SELECT s.doc_id, s.i, s.seg
  FROM segs s JOIN segc USING (seg) WHERE segc.occ < {LINE_MAXOCC}),
segr AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS cleaned
  FROM segk GROUP BY doc_id),
cdocs AS (
  -- inner join = docs with ≥1 surviving segment (n_kept > 0)
  SELECT d.doc_id, r.cleaned AS text, d.lang, d.source, d.n_chars
  FROM documents d JOIN segr r USING (doc_id)),
qdocs AS (
  SELECT * FROM cdocs
  WHERE {tok} BETWEEN {CURATE_TOK_MIN} AND {CURATE_TOK_MAX}),
comp AS (SELECT * FROM ({groups}) g),
reps AS (
  SELECT c.doc_id,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN qdocs d USING (doc_id)),
repd AS (SELECT d.* FROM qdocs d
         JOIN reps r ON r.doc_id = d.doc_id AND r.rn = 1),
corpus AS (SELECT * FROM repd WHERE source <> 'src0'),
bench AS (
  SELECT DISTINCT {gram5} AS g
  FROM (SELECT string_split(lower(trim(text)), ' ') AS ws
        FROM qdocs WHERE source = 'src0')),
cont AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, {gram5} AS g
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
              FROM corpus)) cg
  JOIN bench USING (g)),
clean AS (SELECT * FROM corpus
          WHERE doc_id NOT IN (SELECT doc_id FROM cont))
SELECT 1 AS stage_id, 'start' AS stage, COUNT(*) AS n_docs,
       CAST(SUM({tok}) AS BIGINT) AS n_tokens FROM documents
UNION ALL SELECT 2, 'linededup', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM cdocs
UNION ALL SELECT 3, 'quality', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM qdocs
UNION ALL SELECT 4, 'dedup', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM repd
UNION ALL SELECT 5, 'decontam', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM clean
ORDER BY stage_id
"""


# ------------------------------------------- multimodal analysis ----


def q_mm_phash_pairs(spark, sf_dir):
    """Image near-duplicate pairs by perceptual hash: decode (fake
    deterministic decoder — the real codecs swap in via decoder=) →
    32×32 DCT pHash in one Arrow pass → byte-block pigeonhole
    banding → exact hamming on candidates, all JVM-side.  FULL
    oracle since round 12: the DCT is SCALED-INTEGER
    (multimodal.PHASH_DCT_SCALE — basis rounded to 1/2^16, raster
    quantized to 1/16 grey levels, median as the exact 32nd order
    statistic), so DuckDB replays the hash bit-for-bit from the same
    rounded basis embedded as literals, INCLUDING the banding
    candidate step (radius 10 > the pigeonhole-complete 7, so the
    oracle must replicate the shares-a-byte-block condition, not
    compute all-pairs)."""
    from ..llm.multimodal import attach_payloads, phash_images, phash_pairs
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs)
    # the banding self-join consumes the hash table twice; staging the
    # (media_id, phash) rows runs the Python DCT pass ONCE (the
    # minhash/prefix staging lesson — measured 4.1 s → ~2 s at sf0.1)
    staging = _staging(sf_dir, "phash")
    phash_images(media).write.mode("overwrite").parquet(staging)
    hashes = spark.read.parquet(staging)
    return (phash_pairs(hashes, max_hamming=10)
            .orderBy("id_a", "id_b"))


def q_mm_audio_features(spark, sf_dir):
    """Clip-level audio descriptors (RMS / zero-crossing rate /
    spectral centroid / rolloff) over opaque payloads — rows-only
    (numpy rFFT: transcendental twiddles + pairwise float summation
    no SQL engine replays); the sine-wave golden test pins the DSP
    math against closed-form expectations, and since round 12 the
    ORACLE-CHECKED twin ``mm_audio_descriptors_bp``
    (registry_ext17) pins the same descriptor family bit-exactly via
    a scaled-integer DFT."""
    from ..llm.multimodal import attach_payloads, audio_features
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs.filter(F.col("doc_id") < 200))
    return audio_features(media)


def _sql_mm_phash_pairs() -> str:
    """DuckDB replay of the ENTIRE pHash pipeline: sha256 pseudo-
    raster (fake_decoder: 16×16 of digest-byte values, raster cell
    (y,x) = byte (16·(y%2)+x)), exact 2× upsample to 32×32, the
    scaled-integer 2-D DCT with the SAME rounded basis phash64 uses
    (embedded below as 1024 literals), the 8×8 block / 32nd-order-
    statistic median / sign bits, then the byte-block pigeonhole
    banding and exact hamming ≤ 10 — false negatives of the banding
    included, because the oracle replays the banding, not all-pairs.
    HUGEINT carries the unsigned hash; the signed two's-complement
    BIGINT is what both engines emit."""
    from ..llm.multimodal import _dctn_matrix_int
    dlist = ",".join(str(int(x)) for x in _dctn_matrix_int(32).ravel())
    return f"""
WITH dm AS (
  SELECT (k // 32) AS u, (k % 32) AS i, d[k + 1] AS c
  FROM (SELECT [{dlist}] AS d), generate_series(0, 1023) t(k)),
b AS (
  SELECT doc_id AS media_id, sha256(text) AS hx
  FROM documents WHERE doc_id % 3 <> 1),
pix AS (
  SELECT media_id, i.i AS i, j.j AS j,
         CAST('0x' || substr(hx,
              2 * ((16 * ((i.i // 2) % 2) + (j.j // 2)) % 32) + 1, 2)
              AS BIGINT) * 16 AS v
  FROM b, generate_series(0, 31) i(i), generate_series(0, 31) j(j)),
t1 AS (
  SELECT p.media_id, dm.u, p.j, SUM(dm.c * p.v) AS s
  FROM pix p JOIN dm ON dm.i = p.i WHERE dm.u < 8
  GROUP BY p.media_id, dm.u, p.j),
t2 AS (
  SELECT t1.media_id, t1.u, dm.u AS w, SUM(t1.s * dm.c) AS s
  FROM t1 JOIN dm ON dm.i = t1.j WHERE dm.u < 8
  GROUP BY t1.media_id, t1.u, dm.u),
blk AS (SELECT media_id, u * 8 + w AS idx, s FROM t2),
med AS (
  SELECT media_id, s AS med FROM (
    SELECT media_id, s,
           ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY s) AS rn
    FROM blk WHERE idx > 0) WHERE rn = 32),
h AS (
  SELECT blk.media_id,
         SUM(CASE WHEN blk.s > med.med
             THEN CAST(1 AS HUGEINT) << (63 - blk.idx)
             ELSE CAST(0 AS HUGEINT) END) AS ub
  FROM blk JOIN med USING (media_id) GROUP BY blk.media_id),
hh AS (
  SELECT media_id, ub,
         CAST(CASE WHEN ub >= CAST(1 AS HUGEINT) << 63
              THEN ub - (CAST(1 AS HUGEINT) << 64)
              ELSE ub END AS BIGINT) AS phash
  FROM h),
blocks AS (
  SELECT media_id, phash, bb.b AS blk,
         CAST((ub >> (8 * bb.b)) & 255 AS BIGINT) AS v
  FROM hh, generate_series(0, 7) bb(b)),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b,
         a.phash AS ha, b2.phash AS hb
  FROM blocks a JOIN blocks b2 ON a.blk = b2.blk AND a.v = b2.v
  WHERE a.media_id < b2.media_id)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 10
ORDER BY id_a, id_b
"""


# ------------------------- training-prep mixing pipeline -----------

TP_HASH_MOD = 1 << 20


def q_llm_trainprep(spark, sf_dir):
    """COMPOSED training-prep pipeline: quality cut → temperature
    mixture weights over the survivors (w ∝ n^0.5, the
    source_mix_weights rule) → DETERMINISTIC per-source Bernoulli
    sampling at each source's planned rate (keep doc iff
    md48('mix:'||doc_id) mod 2^20 < (planned·2^20) div n — an exact
    integer threshold, so the sample is reproducible across shards,
    engines, and reruns).  Emits the per-source funnel: survivors,
    fixed-point weight, planned docs, actually-sampled docs and
    their token mass — the plan-vs-actual table a data-mixing job
    reports.  Every stage is integer-exact end to end."""
    from .analytics import _md48
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.lower(F.trim("text")), " ")).cast("bigint")
    q = d.withColumn("n_tok", ntok).filter(
        F.col("n_tok").between(CURATE_TOK_MIN, CURATE_TOK_MAX))
    per_src = (q.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs")))
    # planned·2^20 also clears int64 at large corpus sizes — same
    # DECIMAL(38,0) rule as inside _mix_plan
    plan = (_mix_plan(per_src)
            .withColumn("keep_thresh",
                        F.expr("(CAST(planned_docs AS DECIMAL(38,0))"
                               f" * {TP_HASH_MOD}) div n_docs"))
            .select("source", "n_docs", "w_fix", "planned_docs",
                    "keep_thresh"))
    h = _md48(F.concat(F.lit("mix:"), F.col("doc_id"))) % TP_HASH_MOD
    sampled = (q.join(F.broadcast(plan), "source")
               .filter(h < F.col("keep_thresh")))
    samp_stats = (sampled.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n_sampled"),
                       F.sum("n_tok").alias("tok_sampled")))
    return (plan.join(samp_stats, "source", "left")
            .select("source", "n_docs", "w_fix", "planned_docs",
                    F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
                    F.coalesce("tok_sampled", F.lit(0))
                    .alias("tok_sampled"))
            .orderBy("source"))


_TPMAX = CURATE_TOK_MAX
_TPMIN = CURATE_TOK_MIN

SQL_LLM_TRAINPREP = f"""
WITH q AS (
  SELECT source, doc_id,
         CAST(length(lower(trim(text)))
              - length(replace(lower(trim(text)), ' ', '')) + 1
              AS BIGINT) AS n_tok
  FROM documents
  WHERE CAST(length(lower(trim(text)))
             - length(replace(lower(trim(text)), ' ', '')) + 1
             AS BIGINT) BETWEEN {{tpmin}} AND {{tpmax}}),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM q GROUP BY source),
{_sql_mix("per_src")},
plan AS (
  SELECT source, n_docs, w_fix, planned_docs,
         CAST((CAST(planned_docs AS HUGEINT) * {TP_HASH_MOD})
              // n_docs AS BIGINT) AS keep_thresh
  FROM mixplan),
sampled AS (
  SELECT q.source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM(q.n_tok) AS BIGINT) AS tok_sampled
  FROM q JOIN plan ON q.source = plan.source
  WHERE CAST('0x' || substr(md5('mix:' || CAST(q.doc_id AS VARCHAR)),
                            1, 12) AS BIGINT) % {TP_HASH_MOD}
        < plan.keep_thresh
  GROUP BY q.source)
SELECT p.source, p.n_docs, p.w_fix, p.planned_docs,
       COALESCE(s.n_sampled, 0) AS n_sampled,
       COALESCE(s.tok_sampled, 0) AS tok_sampled
FROM plan p LEFT JOIN sampled s ON p.source = s.source
ORDER BY p.source
""".format(tpmin=_TPMIN, tpmax=_TPMAX)

# --------------------------------------- audio descriptors (bp) -----

AUDIO_DFT_SCALE = 1 << 14       # twiddle fixed point: |re| ≤ 32·128·2^14 = 2^26
AUDIO_DFT_N = 32                # the sha-wave's true period (digest bytes)
AUDIO_DFT_BINS = 16


def _audio_twiddles():
    """Scaled-integer DFT basis for the 32-sample wave, rounded ONCE
    here and embedded as literals in BOTH engines' plans — the same
    determinism move as phash64's DCT.  (The fake 256-sample wave is
    the digest repeated 8×, so its 256-point spectrum is exactly the
    32-point spectrum of the digest at every 8th bin — the 32-point
    DFT loses nothing.)"""
    import numpy as np
    k = np.arange(AUDIO_DFT_BINS + 1).reshape(-1, 1)
    i = np.arange(AUDIO_DFT_N).reshape(1, -1)
    ang = 2 * np.pi * k * i / AUDIO_DFT_N
    tc = np.rint(np.cos(ang) * AUDIO_DFT_SCALE).astype(np.int64)
    ts = np.rint(-np.sin(ang) * AUDIO_DFT_SCALE).astype(np.int64)
    return tc, ts


def q_mm_audio_descriptors_bp(spark, sf_dir):
    """Engine-portable INTEGER twin of ``mm_audio_features``
    (llm/multimodal.audio_feature_vector — the float/FFT operator the
    sine golden test pins): the same descriptor family — energy,
    zero-crossing rate, spectral centroid, 85% rolloff — defined so
    every value is an exact integer any engine reproduces:

    - the wave is the 32 centered digest bytes (the fake 256-sample
      wave repeats them 8×, see _audio_twiddles);
    - the spectrum is a scaled-integer 32-point DFT (re/im exact
      int64, |re| ≤ 2^26 so re²+im² ≤ 2^53 stays exact), magnitudes
      floor(IEEE sqrt) — bit-identical across engines;
    - outputs are milli-/basis-point integers via integer div; the
      two IEEE float steps (sqrt, ×1000) are deterministic given
      exact-integer inputs.

    Fully DECLARATIVE — the whole DFT runs as codegen'd array
    expressions (transform/aggregate/zip_with), no Python worker at
    all, unlike the Arrow-batched float operator.  One narrow
    projection, no shuffle, no join."""
    tc, ts = _audio_twiddles()
    tc_csv = ",".join(str(v) for v in tc.ravel())
    ts_csv = ",".join(str(v) for v in ts.ravel())
    d = (_t(spark, sf_dir, "documents")
         .filter((F.col("doc_id") < 200) & (F.col("doc_id") % 3 == 1)))
    n, bins = AUDIO_DFT_N, AUDIO_DFT_BINS
    base = d.select(
        F.col("doc_id").alias("media_id"),
        F.sha2(F.col("text").cast("binary"), 256).alias("hx"))
    xs = (f"transform(sequence(0,{n - 1}), i -> "
          f"cast(conv(substring(hx, 2*i+1, 2), 16, 10) as bigint)"
          f" - 128)")
    w = base.select(
        "media_id",
        F.expr(xs).alias("xs"),
        F.expr(f"array({tc_csv})").alias("tc"),
        F.expr(f"array({ts_csv})").alias("tsn"))
    spec = (w
            .withColumn("sumsq", F.expr(
                "aggregate(xs, 0L, (a, v) -> a + v * v)"))
            .withColumn("zc", F.expr(
                f"aggregate(sequence(2,{n}), 0L, (a, i) -> a + "
                f"if((element_at(xs,i) < 0) != (element_at(xs,i-1) < 0),"
                f" 1L, 0L))"))
            .withColumn("re", F.expr(
                f"transform(sequence(1,{bins}), k -> "
                f"aggregate(sequence(1,{n}), 0L, (a, i) -> a + "
                f"element_at(xs,i) * element_at(tc,(k)*{n} + i)))"))
            .withColumn("im", F.expr(
                f"transform(sequence(1,{bins}), k -> "
                f"aggregate(sequence(1,{n}), 0L, (a, i) -> a + "
                f"element_at(xs,i) * element_at(tsn,(k)*{n} + i)))"))
            .withColumn("mag", F.expr(
                "zip_with(re, im, (r, s) -> cast(floor(sqrt("
                "cast(r*r + s*s as double))) as bigint))"))
            .withColumn("tot", F.expr(
                "aggregate(mag, 0L, (a, v) -> a + v)")))
    return (spec.select(
        "media_id", "sumsq",
        F.expr("cast(floor(sqrt(sumsq / 32.0D) * 1000.0D) as bigint)")
        .alias("rms_mbp"),
        F.expr("(10000L * zc) div 31").alias("zcr_bp"),
        F.expr(f"if(tot = 0, 0L, (10000L * aggregate(sequence(1,{bins}),"
               f" 0L, (a, k) -> a + k * element_at(mag, k)))"
               f" div ({bins} * tot))").alias("centroid_bp"),
        F.expr(f"if(tot = 0, 0L, 1L + size(filter(sequence(1,{bins}),"
               f" k -> 20 * aggregate(slice(mag, 1, k), 0L,"
               f" (a, v) -> a + v) < 17 * tot)))").alias("rolloff_bin"))
        .orderBy("media_id"))


def _sql_audio_descriptors_bp() -> str:
    tc, ts = _audio_twiddles()
    tc_csv = ",".join(str(v) for v in tc.ravel())
    ts_csv = ",".join(str(v) for v in ts.ravel())
    n, bins = AUDIO_DFT_N, AUDIO_DFT_BINS
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, sha256(text) AS hx
  FROM documents WHERE doc_id < 200 AND doc_id % 3 = 1),
x AS (
  SELECT media_id,
         list_transform(generate_series(0, {n - 1}),
           i -> CAST('0x' || substr(hx, 2*i + 1, 2) AS BIGINT) - 128)
           AS xs
  FROM m),
tw AS (SELECT [{tc_csv}] AS tc, [{ts_csv}] AS tsn),
reim AS (
  -- each bin's re/im sum computed ONCE (the magnitude expression
  -- would otherwise evaluate every O(n) sum twice)
  SELECT media_id,
         list_sum(list_transform(xs, v -> v * v)) AS sumsq,
         list_sum(list_transform(generate_series(2, {n}),
           i -> CASE WHEN (xs[i] < 0) <> (xs[i-1] < 0)
                THEN 1 ELSE 0 END)) AS zc,
         list_transform(generate_series(1, {bins}), k ->
           list_sum(list_transform(generate_series(1, {n}),
             i -> xs[i] * tc[k*{n} + i]))) AS re,
         list_transform(generate_series(1, {bins}), k ->
           list_sum(list_transform(generate_series(1, {n}),
             i -> xs[i] * tsn[k*{n} + i]))) AS im
  FROM x, tw),
spec AS (
  SELECT media_id, sumsq, zc,
         list_transform(generate_series(1, {bins}), k ->
           CAST(floor(sqrt(CAST(re[k]*re[k] + im[k]*im[k]
                           AS DOUBLE))) AS BIGINT)) AS mag
  FROM reim),
agg AS (SELECT *, list_sum(mag) AS tot FROM spec)
SELECT media_id, CAST(sumsq AS BIGINT) AS sumsq,
  CAST(floor(sqrt(sumsq / 32.0) * 1000.0) AS BIGINT) AS rms_mbp,
  CAST((10000 * zc) // 31 AS BIGINT) AS zcr_bp,
  CAST(CASE WHEN tot = 0 THEN 0 ELSE
    (10000 * list_sum(list_transform(generate_series(1, {bins}),
      k -> k * mag[k]))) // ({bins} * tot) END AS BIGINT)
    AS centroid_bp,
  CAST(CASE WHEN tot = 0 THEN 0 ELSE
    1 + len(list_filter(generate_series(1, {bins}),
      k -> 20 * list_sum(mag[:k]) < 17 * tot)) END AS BIGINT)
    AS rolloff_bin
FROM agg ORDER BY media_id
"""


# --------------------------- curation with the semantic second pass -

def q_llm_curation_sem(spark, sf_dir):
    """END-TO-END modern corpus curation — ``llm_curation``'s lexical
    pipeline with the SEMANTIC second dedup pass public LLM-corpus
    pipelines run after MinHash (the SemDeDup position):

      1. quality cut (token count in [CURATE_TOK_MIN, CURATE_TOK_MAX]),
      2. lexical near-dup dedup: MinHash LSH pairs → connected
         components → one representative per cluster,
      3. SEMANTIC dedup over the lexical survivors: their embeddings
         (vec_id = doc_id) quantized, clustered with subset-safe
         integer Lloyd (seed_smallest — survivor ids are not dense),
         within-cell cosine ≥ τ keep-earliest, flagged docs dropped;
         docs with no embedding row (or a zero-norm one) pass through
         — no vector, no semantic evidence,
      4. decontamination: drop survivors sharing any word 5-gram with
         the 'src0' benchmark split.

    Emits the 5-stage survival funnel (docs + tokens).  Every stage
    is integer-exact, so the WHOLE pipeline carries one composed
    DuckDB oracle (the lexical block is llm_curation's; the semantic
    block is llm_semdedup's, namespaced and re-pointed at the
    survivor subset).  Scale shape: inherits each stage's argued
    shape — banded MinHash, within-cell pairs only, broadcast
    benchmark grams; the new joins are all keyed by doc id."""
    from pyspark.sql import Window

    from ..llm.dedup import (dedup_components, minhash_pairs_staged,
                             shingles)
    from ..llm.semdedup import assign_cells, dot_over
    from ..ml.intlloyd import integer_lloyd
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.lower(F.trim("text")), " "))
    q = (d.withColumn("n_tok", ntok.cast("bigint"))
         .filter(ntok.between(CURATE_TOK_MIN, CURATE_TOK_MAX)))

    pairs = minhash_pairs_staged(
        q, _staging(sf_dir, "curation_sem_minhash"), threshold=0.2)
    comp = dedup_components(pairs, q.select("doc_id"))
    sized = comp.join(q.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"),
                                                "doc_id")
    # rep_ids feeds THREE consumers (the semantic subset join, the
    # dedup funnel row via repd, and the survivors' base) — the
    # llm_curation checkpoint argument verbatim
    rep_ids = (sized.select("doc_id", F.row_number().over(w).alias("rn"))
               .filter(F.col("rn") == 1).select("doc_id")
               # lazy (r15): all three consumers sit inside the one
               # final action — blocks persist at first touch there
               .localCheckpoint(eager=False))
    repd = q.join(rep_ids, "doc_id")

    emb = (_t(spark, sf_dir, "embeddings")
           .join(rep_ids.select(F.col("doc_id").alias("vec_id")),
                 "vec_id"))
    # lazy checkpoint replaces the r14 parquet staging (see
    # q_llm_semdedup) — the survivor-subset quantized table
    # materializes under the Lloyd seed collect (which also pulls
    # rep_ids' blocks into existence) and is reused by both pair
    # sides from blocks
    arrq = quantize(emb).localCheckpoint(eager=False)
    cents = integer_lloyd(arrq, SEM_CELLS, SEM_ITERS, SEM_DIM,
                          seed_smallest=True)
    vecs = assign_cells(arrq, cents).localCheckpoint(eager=False)
    a = vecs.select(F.col("vec_id").alias("ai"),
                    F.col("qa").alias("aq"), "cell",
                    F.col("n2").alias("a2"))
    b = vecs.select(F.col("vec_id").alias("bi"),
                    F.col("qa").alias("bq"), "cell",
                    F.col("n2").alias("b2"))
    dropped = (a.join(b, "cell").filter(F.col("ai") < F.col("bi"))
               .filter(sem_cond(dot_over("aq", "bq"), F.col("a2"),
                                F.col("b2"), SEM_TAU2_BP))
               .select(F.col("bi").alias("doc_id")).distinct())
    semd = repd.join(dropped, "doc_id", "left_anti")

    corpus = semd.filter(F.col("source") != "src0")
    bench = (q.filter(F.col("source") == "src0")
             .select(F.explode(shingles("text", 5)).alias("g"))
             .distinct())
    cont = (corpus.select("doc_id",
                          F.explode(shingles("text", 5)).alias("g"))
            .join(F.broadcast(bench), "g").select("doc_id").distinct())
    clean = corpus.join(cont, "doc_id", "left_anti")

    def stage(i, name, df):
        return df.agg(F.lit(i).alias("stage_id"),
                      F.lit(name).alias("stage"),
                      F.count(F.lit(1)).alias("n_docs"),
                      F.sum(F.size(F.split(F.lower(F.trim("text")), " "))
                            .cast("bigint")).alias("n_tokens"))

    return (stage(1, "start", d)
            .unionByName(stage(2, "quality", q.drop("n_tok")))
            .unionByName(stage(3, "dedup", repd))
            .unionByName(stage(4, "semdedup", semd))
            .unionByName(stage(5, "decontam", clean))
            .orderBy("stage_id"))


def _sql_llm_curation_sem() -> str:
    from .dedup import sql_dedup_groups
    groups = sql_dedup_groups().replace("FROM documents", "FROM qdocs")
    gram5 = ("UNNEST(list_transform(generate_series(1, len(ws) - 4), "
             "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' "
             "|| ws[i+3] || ' ' || ws[i+4]))")
    tok = "len(string_split(lower(trim(text)), ' '))"
    sem = ",\n".join(_sql_sem_parts(
        prefix="s",
        src=("(SELECT e.vec_id, e.embedding FROM embeddings e "
             "JOIN repd r ON r.doc_id = e.vec_id)"),
        seed_smallest=True))
    return f"""
WITH qdocs AS (
  SELECT * FROM documents
  WHERE {tok} BETWEEN {CURATE_TOK_MIN} AND {CURATE_TOK_MAX}),
comp AS (SELECT * FROM ({groups}) g),
reps AS (
  SELECT c.doc_id,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN qdocs d USING (doc_id)),
repd AS (SELECT d.* FROM qdocs d
         JOIN reps r ON r.doc_id = d.doc_id AND r.rn = 1),
{sem},
semd AS (SELECT * FROM repd
         WHERE doc_id NOT IN (SELECT vec_id FROM sdr)),
corpus AS (SELECT * FROM semd WHERE source <> 'src0'),
bench AS (
  SELECT DISTINCT {gram5} AS g
  FROM (SELECT string_split(lower(trim(text)), ' ') AS ws
        FROM qdocs WHERE source = 'src0')),
cont AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, {gram5} AS g
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
              FROM corpus)) cg
  JOIN bench USING (g)),
clean AS (SELECT * FROM corpus
          WHERE doc_id NOT IN (SELECT doc_id FROM cont))
SELECT 1 AS stage_id, 'start' AS stage, COUNT(*) AS n_docs,
       CAST(SUM({tok}) AS BIGINT) AS n_tokens FROM documents
UNION ALL SELECT 2, 'quality', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM qdocs
UNION ALL SELECT 3, 'dedup', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM repd
UNION ALL SELECT 4, 'semdedup', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM semd
UNION ALL SELECT 5, 'decontam', COUNT(*), CAST(SUM({tok}) AS BIGINT)
FROM clean
ORDER BY stage_id
"""


SQL_LLM_CURATION_SEM = _sql_llm_curation_sem()


register({
    "llm_curation":         {"fn": q_llm_curation,
                             "sql": _sql_llm_curation()},
    "llm_curation_lines":   {"fn": q_llm_curation_lines,
                             "sql": _sql_llm_curation_lines()},
    "lcmap_segment_detect": {"fn": q_lcmap_segment_detect,
                             "sql": _sql_segment_detect()},
    "lcmap_detect_chip":    {"fn": q_lcmap_detect_chip,
                             "sql": _sql_segment_detect(side=100)},
    "lcmap_tile_train":     {"fn": q_lcmap_tile_train,
                             "sql": _sql_tile_train()},
    "lcmap_predict_chip":   {"fn": q_lcmap_predict_chip,
                             "sql": _sql_predict_chip()},
    "lcmap_prediction":     {"fn": q_lcmap_prediction,
                             "sql": _sql_predict_chip(side=8)},
    "src_chipmunk":         {"fn": q_src_chipmunk,
                             "sql": _sql_src_chipmunk()},
    "mm_extract_features":  {"fn": q_mm_extract_features,
                             "sql": _sql_mm_features()},
    "mm_resize":            {"fn": q_mm_resize,
                             "sql": _sql_mm_resize()},
    "mm_frame_sample":      {"fn": q_mm_frame_sample,
                             "sql": _sql_mm_frame_sample()},
    "mm_phash_pairs":     {"fn": q_mm_phash_pairs,
                           "sql": _sql_mm_phash_pairs()},
    "mm_audio_features":  {"fn": q_mm_audio_features,  "sql": None},
    "llm_trainprep":      {"fn": q_llm_trainprep,
                           "sql": SQL_LLM_TRAINPREP},
    "mm_audio_descriptors_bp": {"fn": q_mm_audio_descriptors_bp,
                                "sql": _sql_audio_descriptors_bp()},
    "llm_curation_sem": {"fn": q_llm_curation_sem,
                         "sql": SQL_LLM_CURATION_SEM},
})
