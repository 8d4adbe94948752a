"""Model-evaluation queries (SURVEY §2 A9): VOC07 mAP@IoU-0.5.

The reference evaluates every training epoch with gluoncv's
``VOC07MApMetric(iou_thresh=0.5)`` (train_yolov3.py:110, epoch loop at
150-180) — a driver-side accumulator. Here the same metric is a
distributed DataFrame computation (operators/map_metric.py): greedy VOC
matching as a declarative grid-bucketed plan, then the
11-point-interpolated AP per class as rank/cumsum windows.

The fixture detections/ground-truth derive from ``part`` with pure
integer arithmetic, replicated verbatim in the DuckDB oracle. The
geometry is a disjoint 1000x1000 cell grid — one GT box per cell, every
detection confined to its own cell — so each detection overlaps at most
ONE ground-truth box. Under that one-overlap geometry the greedy rule
("argmax-IoU GT, claimed by the highest-confidence detection, no
fallback") reduces exactly to a per-GT rank window, which is what makes
the metric SQL-expressible for the oracle while the Spark side still
runs the GENERAL greedy matcher (the multi-overlap case is pinned by
tests/test_map_metric.py against hand-computed expectations and the
cogroup greedy walk).

Fixture mix per part row p (GT box 400x400 at cell offset +100):
  det A (p%7!=0): same-size box jittered by (p*7%200, p*13%200) — IoU
        crosses 0.5 both ways (inter=(400-dx)(400-dy) vs 106667 cutoff);
  det B (p%2==0): jitter up to 300 — a second, usually-weaker candidate
        on the same GT (duplicate-detection FP when both clear 0.5);
  det C (p%5==0): far-corner box, IoU exactly 0 — guaranteed FP;
  no det (p%7==0 and p%2==1 and p%5!=0): missed GT — recall < 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.map_metric import (
    voc07_average_precision,
    voc_match_declarative,
)
from ..tables import load
from .registry import materialize, register

# Shared derivation constants (mirrored literally in the oracle SQL).
_N_IMAGES = 20
_N_CLASSES = 3

_MAP_FIXTURE_CTE = f"""
    gt AS (
        SELECT p_partkey AS cell,
               p_partkey % {_N_IMAGES} AS image_id,
               CAST(p_partkey % {_N_CLASSES} AS INT) AS class_id,
               CAST((p_partkey % 100) * 1000 + 100 AS DOUBLE) AS x1,
               CAST((p_partkey // 100) * 1000 + 100 AS DOUBLE) AS y1,
               CAST((p_partkey % 100) * 1000 + 500 AS DOUBLE) AS x2,
               CAST((p_partkey // 100) * 1000 + 500 AS DOUBLE) AS y2
        FROM part
    ),
    det AS (
        SELECT cell, image_id, class_id, p_partkey * 3 AS det_id,
               ((p_partkey * 31) % 97 + 1) / 100.0 AS conf,
               x1 + (p_partkey * 7) % 200 AS x1,
               y1 + (p_partkey * 13) % 200 AS y1,
               x2 + (p_partkey * 7) % 200 AS x2,
               y2 + (p_partkey * 13) % 200 AS y2
        FROM gt JOIN part ON p_partkey = cell
        WHERE p_partkey % 7 != 0
        UNION ALL
        SELECT cell, image_id, class_id, p_partkey * 3 + 1,
               ((p_partkey * 41) % 97 + 1) / 100.0,
               x1 + (p_partkey * 11) % 300,
               y1 + (p_partkey * 17) % 300,
               x2 + (p_partkey * 11) % 300,
               y2 + (p_partkey * 17) % 300
        FROM gt JOIN part ON p_partkey = cell
        WHERE p_partkey % 2 = 0
        UNION ALL
        SELECT cell, image_id, class_id, p_partkey * 3 + 2,
               ((p_partkey * 59) % 97 + 1) / 100.0,
               x1 + 500, y1 + 500, x1 + 850, y1 + 850
        FROM gt JOIN part ON p_partkey = cell
        WHERE p_partkey % 5 = 0
    )
"""

# The one-overlap reduction of greedy matching (oracle only; the Spark
# side runs the general matcher): a detection's sole candidate GT is its
# cell's box, so TP = IoU >= 0.5 AND highest (conf, det_id) among that
# GT's IoU >= 0.5 detections.
_MAP_ORACLE = f"""
    WITH {_MAP_FIXTURE_CTE},
    scored AS (
        -- union = 2*160000 - inter holds for the 400x400 det A/B boxes;
        -- det C (350x350) always has inter = 0 and takes the ELSE branch
        SELECT class_id, det_id, conf,
               CASE WHEN inter > 0
                    THEN inter / (160000.0 + 160000.0 - inter)
                    ELSE 0.0 END AS iou
        FROM (
            SELECT d.class_id, d.det_id, d.conf,
                   greatest(least(d.x2, g.x2) - greatest(d.x1, g.x1), 0)
                 * greatest(least(d.y2, g.y2) - greatest(d.y1, g.y1), 0) AS inter
            FROM det d JOIN gt g ON d.cell = g.cell
        )
    ),
    matched AS (
        SELECT class_id, det_id, conf,
               CASE WHEN iou >= 0.5 AND row_number() OVER (
                        PARTITION BY det_id // 3, (iou >= 0.5)
                        ORDER BY conf DESC, det_id
                    ) = 1
                    THEN 1 ELSE 0 END AS tp
        FROM scored
    ),
    npos AS (
        SELECT class_id, count(*) AS n_pos FROM gt GROUP BY 1
    ),
    ranked AS (
        SELECT m.class_id, n.n_pos,
               row_number() OVER (PARTITION BY m.class_id
                                  ORDER BY conf DESC, det_id) AS rn,
               sum(tp) OVER (PARTITION BY m.class_id
                             ORDER BY conf DESC, det_id
                             ROWS UNBOUNDED PRECEDING) AS ctp
        FROM matched m JOIN npos n USING (class_id)
    ),
    grid AS (SELECT i / 10.0 AS r FROM generate_series(0, 10) AS t(i)),
    best AS (
        SELECT class_id, r, max(ctp / rn) AS mp
        FROM ranked JOIN grid ON ctp / n_pos >= r
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT n.class_id, n.n_pos,
               coalesce(d.n_det, 0) AS n_det
        FROM npos n LEFT JOIN (
            SELECT class_id, count(*) AS n_det FROM det GROUP BY 1
        ) d USING (class_id)
    ),
    ap AS (
        SELECT s.class_id, s.n_pos, s.n_det,
               sum(coalesce(b.mp, 0.0)) / 11.0 AS ap
        FROM sizes s CROSS JOIN grid g
        LEFT JOIN best b ON b.class_id = s.class_id AND b.r = g.r
        GROUP BY 1, 2, 3
    )
    SELECT class_id, n_pos, n_det, round(ap, 6) AS ap FROM ap
    UNION ALL
    SELECT -1, CAST(sum(n_pos) AS BIGINT), CAST(sum(n_det) AS BIGINT),
           round(avg(ap), 6)
    FROM ap
"""


def _map_fixture(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Detections + GT DataFrames from ``part`` — same integer arithmetic
    as the oracle CTE, as codegen column expressions."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    p = F.col("p_partkey")
    gx1 = ((p % 100) * 1000 + 100).cast("double")
    gy1 = (F.floor(p / 100) * 1000 + 100).cast("double")
    gt = part.select(
        p.alias("cell"),
        (p % _N_IMAGES).alias("image_id"),
        (p % _N_CLASSES).cast("int").alias("class_id"),
        gx1.alias("x1"),
        gy1.alias("y1"),
        (gx1 + 400).alias("x2"),
        (gy1 + 400).alias("y2"),
    )

    def jittered(mult_x: int, mult_y: int, mod: int, slot: int, conf_mult: int):
        dx = (p * mult_x) % mod
        dy = (p * mult_y) % mod
        return part.select(
            (p % _N_IMAGES).alias("image_id"),
            (p % _N_CLASSES).cast("int").alias("class_id"),
            (p * 3 + slot).alias("det_id"),
            (((p * conf_mult) % 97 + 1) / 100.0).alias("conf"),
            (gx1 + dx).alias("x1"),
            (gy1 + dy).alias("y1"),
            (gx1 + 400 + dx).alias("x2"),
            (gy1 + 400 + dy).alias("y2"),
        )

    det_a = jittered(7, 13, 200, 0, 31).filter(p % 7 != 0)
    det_b = jittered(11, 17, 300, 1, 41).filter(p % 2 == 0)
    det_c = part.filter(p % 5 == 0).select(
        (p % _N_IMAGES).alias("image_id"),
        (p % _N_CLASSES).cast("int").alias("class_id"),
        (p * 3 + 2).alias("det_id"),
        (((p * 59) % 97 + 1) / 100.0).alias("conf"),
        (gx1 + 500).alias("x1"),
        (gy1 + 500).alias("y1"),
        (gx1 + 850).alias("x2"),
        (gy1 + 850).alias("y2"),
    )
    dets = det_a.unionByName(det_b).unionByName(det_c)
    # cell rides along as the GT id: the declarative matcher needs a
    # deterministic per-GT identifier for its struct-max edge (the
    # cogroup reference matcher selects its box columns explicitly)
    return dets, gt


# --------------------------------------------------------------------------
# q105 — VOC07 mAP@0.5 (A9, train_yolov3.py:110): per-class 11-point AP
# over greedy-matched detections, plus the epoch-level mAP row
# (class_id = -1). The Spark side runs the GENERAL greedy matcher
# (voc_match_declarative); the oracle exploits the fixture's one-overlap
# geometry to express the same matching as a rank window — value-hash
# equality proves the general matcher agrees with the closed-form
# reduction on this data.
# --------------------------------------------------------------------------
@register("q105_voc_map", oracle=_MAP_ORACLE)
def q105_voc_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    dets, gt = _map_fixture(spark, sf_dir)
    # the fully declarative matcher — grid-bucketed IoU pairs +
    # struct-max best edge + first-claimant window, no Python cogroup,
    # no per-group IoU matrix. Agreement with the cogroup greedy walk
    # (voc_greedy_match) is pytest-pinned (tests/test_map_metric.py).
    matched = voc_match_declarative(
        dets, gt, iou_thresh=0.5, gt_id_col="cell", cell_size=512.0
    )
    # freeze the per-class AP table: both union branches (per-class rows
    # and the mAP summary aggregate) consume it, and without the barrier
    # each re-runs the matcher — the dominant cost — from scratch
    # (r7 review)
    ap = materialize(
        voc07_average_precision(matched, gt).select(
            "class_id", "n_pos", "n_det", "ap"
        )
    )
    summary = ap.agg(
        F.lit(-1).cast("int").alias("class_id"),
        F.sum("n_pos").alias("n_pos"),
        F.sum("n_det").alias("n_det"),
        F.avg("ap").alias("ap"),
    )
    return (
        ap.unionByName(summary)
        .withColumn("ap", F.round("ap", 6))
        .select("class_id", "n_pos", "n_det", "ap")
    )


# --------------------------------------------------------------------------
# q108 — per-epoch running loss means (the other half of A9,
# train_yolov3.py:215-218 mx.metric.Loss + :274-283 epoch-end get()):
# four loss components accumulate a RUNNING mean over the batches of each
# epoch; the logged value at epoch end is that cumulative mean. Here the
# accumulator is a window cumulative average ordered by batch index, and
# the epoch-end row is selected with a reverse rank — so the query
# computes the running mean the way the training loop does (batch by
# batch), while the oracle pins the equivalent closed form (plain
# per-epoch AVG, which the final running value must equal).
# --------------------------------------------------------------------------
@register(
    "q108_training_loss_curve",
    oracle="""
    WITH batches AS (
        SELECT event_id % 5 AS epoch,
               round(value / 100, 9) AS obj,
               (event_id % 97) / 97.0 AS center,
               (event_id % 89) / 89.0 AS scale,
               (event_id % 83) / 83.0 AS cls
        FROM events)
    SELECT CAST(epoch AS BIGINT) AS epoch,
           count(*) AS n_batches,
           round(avg(obj), 6) AS obj_loss,
           round(avg(center), 6) AS center_loss,
           round(avg(scale), 6) AS scale_loss,
           round(avg(cls), 6) AS cls_loss
    FROM batches GROUP BY 1
    """,
)
def q108_training_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    batches = ev.select(
        (F.col("event_id") % 5).alias("epoch"),
        F.floor(F.col("event_id") / 5).alias("batch_i"),
        F.round(F.col("value") / 100, 9).alias("obj"),
        ((F.col("event_id") % 97) / 97.0).alias("center"),
        ((F.col("event_id") % 89) / 89.0).alias("scale"),
        ((F.col("event_id") % 83) / 83.0).alias("cls"),
    )
    cum = Window.partitionBy("epoch").orderBy("batch_i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    running = batches.select(
        "epoch",
        "batch_i",
        F.avg("obj").over(cum).alias("obj_loss"),
        F.avg("center").over(cum).alias("center_loss"),
        F.avg("scale").over(cum).alias("scale_loss"),
        F.avg("cls").over(cum).alias("cls_loss"),
        F.count("*").over(cum).alias("n_batches"),
    )
    last = Window.partitionBy("epoch").orderBy(F.desc("batch_i"))
    return (
        running.withColumn("rk", F.row_number().over(last))
        .filter(F.col("rk") == 1)
        .select(
            "epoch",
            "n_batches",
            F.round("obj_loss", 6).alias("obj_loss"),
            F.round("center_loss", 6).alias("center_loss"),
            F.round("scale_loss", 6).alias("scale_loss"),
            F.round("cls_loss", 6).alias("cls_loss"),
        )
    )


# --------------------------------------------------------------------------
# q124 — classifier calibration (reliability table / ECE inputs): bin the
# q110 quality-classifier scores into 10 equal-width confidence bins and
# report, per bin, the count, mean predicted confidence, and observed
# positive rate against a deterministic proxy label (n_chars >= 300 — a
# fixture label, like q110's fixture weights; the MECHANISM is the real
# reliability-diagram computation). |conf - acc| per bin, doc-weighted, is
# the ECE a model-based curation gate reports before trusting a filter.
#
# Float discipline: the bin id comes from the ROUNDED 6-decimal score
# (bit-identical across engines per q110's integer-logit construction),
# so bin membership cannot straddle engines; per-bin averages are rounded
# to 6 well above the 1e-15 summation-order noise.
#
# Scale shape: one explode -> groupBy(doc) (q110's shape) then a 10-key
# groupBy — both map-side combinable; output is <= 10 rows.
# --------------------------------------------------------------------------
Q124_BINS = 10
Q124_LABEL_MIN_CHARS = 300


def _q124_oracle() -> str:
    from .curation import Q110_BIAS, Q110_BUCKETS

    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    w AS (
      SELECT doc_id,
             ((('0x' || substr(md5(t), 1, 8))::BIGINT % {Q110_BUCKETS}) * 37 + 11)
               % 201 - 100 AS wi
      FROM toks
    ),
    s AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-(sum(wi) / (5.0 * count(*))
                                      + {Q110_BIAS}))), 6) AS score
      FROM w GROUP BY 1
    ),
    lab AS (
      SELECT s.doc_id, s.score,
             CASE WHEN d.n_chars >= {Q124_LABEL_MIN_CHARS} THEN 1 ELSE 0 END AS y
      FROM s JOIN documents d USING (doc_id)
    )
    SELECT CAST(least(floor(score * {Q124_BINS}), {Q124_BINS - 1}) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 6) AS avg_conf,
           round(avg(CAST(y AS DOUBLE)), 6) AS frac_pos
    FROM lab GROUP BY 1
    ORDER BY bin
    """


@register("q124_calibration_bins", oracle=_q124_oracle())
def q124_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import q110_quality_classifier

    scores = q110_quality_classifier(spark, sf_dir).select("doc_id", "score")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") >= Q124_LABEL_MIN_CHARS).cast("int").alias("y"),
    )
    lab = scores.join(docs, "doc_id")
    bin_col = F.least(
        F.floor(F.col("score") * Q124_BINS), F.lit(Q124_BINS - 1)
    ).cast("bigint")
    return (
        lab.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_conf"),
            F.round(F.avg(F.col("y").cast("double")), 6).alias("frac_pos"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q164 — label-noise audit: per-class precision/recall/F1 plus overall
# accuracy and Cohen's kappa between the gold `lang` column and the q29
# stopword-voting annotator (operators/text.py::lang_id). This is the
# agreement report a labeling pipeline runs before trusting auto-labels
# for training: kappa corrects raw agreement for chance agreement from
# the marginals (kappa = (po - pe) / (1 - pe)).
#
# Scale shape: one narrow projection -> a |classes|-sized confusion
# aggregate (map-side combinable); the kappa row folds the same tiny
# marginals. Division guards (n_pred = 0 -> NULL) are explicit CASEs so
# both engines agree instead of relying on div-by-zero semantics.
# --------------------------------------------------------------------------


def _q164_oracle() -> str:
    from ..operators import text as T

    score = {
        lang: "len(list_filter(string_split(text, ' '), t -> t IN ({})))".format(
            ", ".join(f"'{w}'" for w in words)
        )
        for lang, words in T.LANG_KEYWORDS.items()
    }
    mx = "greatest({})".format(", ".join(score.values()))
    case = (
        "CASE "
        + " ".join(
            f"WHEN {score[lang]} = {mx} THEN '{lang}'" for lang in sorted(score)
        )
        + " END"
    )
    return f"""
    WITH pred AS (
      SELECT lang AS gold, {case} AS pred FROM documents
    ),
    n AS (SELECT count(*) AS n FROM pred),
    per AS (
      SELECT c.lang AS label,
             (SELECT count(*) FROM pred WHERE gold = c.lang) AS n_gold,
             (SELECT count(*) FROM pred WHERE pred = c.lang) AS n_pred,
             (SELECT count(*) FROM pred
              WHERE gold = c.lang AND pred = c.lang) AS n_correct
      FROM (SELECT DISTINCT lang FROM documents) c
    ),
    prf AS (
      SELECT label, CAST(n_gold AS BIGINT) AS n_gold,
             CAST(n_pred AS BIGINT) AS n_pred,
             CAST(n_correct AS BIGINT) AS n_correct,
             CASE WHEN n_pred = 0 THEN NULL
                  ELSE round(n_correct * 1.0 / n_pred, 6) END AS precision,
             CASE WHEN n_gold = 0 THEN NULL
                  ELSE round(n_correct * 1.0 / n_gold, 6) END AS recall,
             CASE WHEN n_pred = 0 OR n_gold = 0
                       OR n_correct * 1.0 / n_pred + n_correct * 1.0 / n_gold = 0
                  THEN NULL
                  ELSE round(2 * (n_correct * 1.0 / n_pred)
                             * (n_correct * 1.0 / n_gold)
                             / (n_correct * 1.0 / n_pred
                                + n_correct * 1.0 / n_gold), 6) END AS f1,
             CAST(NULL AS DOUBLE) AS kappa
      FROM per
    ),
    agg AS (
      SELECT sum(n_correct) * 1.0 / n.n AS po,
             sum((n_gold * 1.0 / n.n) * (n_pred * 1.0 / n.n)) AS pe,
             CAST(n.n AS BIGINT) AS total
      FROM per CROSS JOIN n GROUP BY n.n
    ),
    allrow AS (
      SELECT 'ALL' AS label, total AS n_gold, total AS n_pred,
             CAST(round(po * total) AS BIGINT) AS n_correct,
             round(po, 6) AS precision, round(po, 6) AS recall,
             round(po, 6) AS f1,
             round((po - pe) / (1 - pe), 6) AS kappa
      FROM agg
    )
    SELECT * FROM prf UNION ALL SELECT * FROM allrow
    """


@register("q164_annotator_agreement", oracle=_q164_oracle())
def q164_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import lang_id

    docs = load(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("gold"), lang_id(F.col("text")).alias("pred")
    )
    # ONE documents scan: the (gold, pred) confusion matrix (<= |classes|^2
    # rows) — every marginal below derives from it. The previous form ran
    # four separate aggregations plus an eager count() over pred,
    # recomputing the 5-HOF lang_id scoring ~6x (r7 review).
    conf = materialize(
        pred.groupBy("gold", "pred").agg(F.count("*").alias("c"))
    )
    labels = conf.select(F.col("gold").alias("label")).distinct()
    gold_m = conf.groupBy("gold").agg(F.sum("c").alias("n_gold"))
    pred_m = conf.groupBy("pred").agg(F.sum("c").alias("n_pred"))
    corr_m = conf.filter(F.col("gold") == F.col("pred")).select(
        F.col("gold").alias("label"), F.col("c").alias("n_correct")
    )
    per = (
        labels.join(gold_m, F.col("label") == F.col("gold"), "left")
        .drop("gold")
        .join(pred_m, F.col("label") == F.col("pred"), "left")
        .drop("pred")
        .join(corr_m, "label", "left")
        .select(
            "label",
            F.coalesce("n_gold", F.lit(0)).cast("bigint").alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).cast("bigint").alias("n_correct"),
        )
    )
    prec = F.when(
        F.col("n_pred") != 0, F.col("n_correct") * F.lit(1.0) / F.col("n_pred")
    )
    rec = F.when(
        F.col("n_gold") != 0, F.col("n_correct") * F.lit(1.0) / F.col("n_gold")
    )
    f1 = F.when(
        (F.col("n_pred") != 0) & (F.col("n_gold") != 0) & (prec + rec != 0),
        2 * prec * rec / (prec + rec),
    )
    prf = per.select(
        "label",
        "n_gold",
        "n_pred",
        "n_correct",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.lit(None).cast("double").alias("kappa"),
    )
    n = conf.agg(F.sum("c")).first()[0]  # total docs, off the tiny matrix
    agg = per.agg(
        (F.sum("n_correct") * F.lit(1.0) / n).alias("po"),
        F.sum(
            (F.col("n_gold") * F.lit(1.0) / n)
            * (F.col("n_pred") * F.lit(1.0) / n)
        ).alias("pe"),
    )
    allrow = agg.select(
        F.lit("ALL").alias("label"),
        F.lit(n).cast("bigint").alias("n_gold"),
        F.lit(n).cast("bigint").alias("n_pred"),
        F.round(F.col("po") * n).cast("bigint").alias("n_correct"),
        F.round("po", 6).alias("precision"),
        F.round("po", 6).alias("recall"),
        F.round("po", 6).alias("f1"),
        F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6).alias(
            "kappa"
        ),
    )
    return prf.unionAll(allrow)
