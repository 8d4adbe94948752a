"""VOC07 mAP@IoU-0.5 as DataFrame operators (SURVEY §2 A9).

Mirrors the reference's training-loop evaluation (train_yolov3.py:110 —
``VOC07MApMetric(iou_thresh=0.5)`` — and the epoch loop at 150-180) as a
distributed metric over detection/ground-truth DataFrames instead of a
driver-side accumulator:

1. :func:`voc_greedy_match` — the VOC matching rule. Detections are
   processed in confidence order; each takes its argmax-IoU ground-truth
   box; a detection is TP iff that IoU >= ``iou_thresh`` AND the GT box is
   not already claimed by a higher-confidence detection (no fallback to
   the second-best GT — a claimed GT makes the detection FP, exactly the
   VOC devkit / gluoncv semantics). Matching is independent per
   (image, class), so it runs as a cogrouped ``applyInPandas``: every
   group is one image's boxes for one class — bounded, embarrassingly
   parallel, no global state. At 100 TB the shuffle key (image, class)
   is high-cardinality and unskewed (images have tens of boxes, not
   millions). :func:`voc_match_declarative` is the same rule as a pure
   DataFrame plan with no Python (what q105 runs); the greedy walk is
   its reference in tests/test_map_metric.py.
2. :func:`voc07_average_precision` — per-class AP with the VOC2007
   11-point interpolation: rank matched detections per class by
   (confidence DESC, det_id ASC), cumulative TP gives precision/recall
   per detection, and AP = mean over r in {0.0,0.1,...,1.0} of
   max{precision at recall >= r} (0 when unreachable). The per-class
   rank window is the one sequential step — it parallelizes class-wide;
   for corpora where a single class has billions of detections, the
   at-scale rewrite is to pre-aggregate (class, conf) tie-groups first,
   which bounds the window input by the number of distinct confidence
   values (exact only when ties within a group are not split, so this
   module keeps the exact per-detection form).

Schemas (all coordinates are corner boxes, as produced by
functions/bbox.py:bbox_corners):
  detections: image_id bigint, class_id int, det_id bigint, conf double,
              x1..y2 double
  ground truth: image_id bigint, class_id int, gt_id bigint, x1..y2 double
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MATCH_SCHEMA = (
    "image_id bigint, class_id int, det_id bigint, conf double, tp int"
)


def _greedy_match_pdf(
    dets: pd.DataFrame, gts: pd.DataFrame, thresh: float
) -> pd.DataFrame:
    """The VOC rule for ONE (image, class) group, vectorized in numpy:
    sort dets by (-conf, det_id), IoU matrix against the group's GT
    boxes, greedy claim."""
    if dets.empty:
        return pd.DataFrame(
            {
                "image_id": pd.Series(dtype="int64"),
                "class_id": pd.Series(dtype="int32"),
                "det_id": pd.Series(dtype="int64"),
                "conf": pd.Series(dtype="float64"),
                "tp": pd.Series(dtype="int32"),
            }
        )
    dets = dets.sort_values(
        ["conf", "det_id"], ascending=[False, True]
    ).reset_index(drop=True)
    tp = np.zeros(len(dets), dtype=np.int32)
    if not gts.empty:
        db = dets[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        gb = gts[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float64)
        g_area = (gb[:, 2] - gb[:, 0]) * (gb[:, 3] - gb[:, 1])
        claimed = np.zeros(len(gts), dtype=bool)
        # IoU rows are computed in det BLOCKS, not as one n_det x n_gt
        # matrix: at sf1.0 the fixture packs ~10k dets x 3.3k GT into 60
        # groups, and the full matrix is ~1.3 GB per task x 32 tasks —
        # the memory spike (not the FLOPs) was what made q105's sf1.0
        # wall time swing 24 -> 556 s with host state (r10 control run).
        # Semantics are identical: the greedy claim still walks dets in
        # (conf DESC, det_id ASC) order row by row.
        block = 1024
        for s in range(0, len(db), block):
            dblk = db[s:s + block]
            iw = np.clip(
                np.minimum(dblk[:, None, 2], gb[None, :, 2])
                - np.maximum(dblk[:, None, 0], gb[None, :, 0]),
                0.0, None,
            )
            ih = np.clip(
                np.minimum(dblk[:, None, 3], gb[None, :, 3])
                - np.maximum(dblk[:, None, 1], gb[None, :, 1]),
                0.0, None,
            )
            inter = iw * ih
            d_area = (dblk[:, 2] - dblk[:, 0]) * (dblk[:, 3] - dblk[:, 1])
            union = d_area[:, None] + g_area[None, :] - inter
            ious = np.where(
                union > 0, inter / np.maximum(union, 1e-300), 0.0
            )
            for bi in range(len(dblk)):
                j = int(np.argmax(ious[bi]))
                if ious[bi, j] >= thresh and not claimed[j]:
                    claimed[j] = True
                    tp[s + bi] = 1
    out = dets[["image_id", "class_id", "det_id", "conf"]].copy()
    out["tp"] = tp
    return out


def voc_greedy_match(
    detections: DataFrame, ground_truth: DataFrame, iou_thresh: float = 0.5
) -> DataFrame:
    """VOC greedy TP/FP assignment, distributed per (image, class).

    Returns every detection row with a ``tp`` flag (1 = matched a GT box
    at IoU >= ``iou_thresh`` before any higher-confidence detection).
    """
    thresh = float(iou_thresh)  # captured by value; workers re-import the
    # module, so state must travel in the closure, not function attributes
    return (
        detections.groupBy("image_id", "class_id")
        .cogroup(ground_truth.groupBy("image_id", "class_id"))
        .applyInPandas(
            lambda d, g: _greedy_match_pdf(d, g, thresh), schema=_MATCH_SCHEMA
        )
    )


def voc_match_declarative(
    detections: DataFrame,
    ground_truth: DataFrame,
    iou_thresh: float = 0.5,
    gt_id_col: str = "gt_id",
    cell_size: float = 512.0,
) -> DataFrame:
    """The VOC matching rule as a PURE DataFrame plan — no Python
    cogroup, no per-group IoU matrix (the cogroup
    :func:`voc_greedy_match` is its reference in tests).

    The greedy claim walk reduces exactly to three declarative steps:

    1. candidate (det, gt) pairs via a GRID-BUCKET spatial join: each
       box explodes to the ``cell_size`` grid cells its corners span,
       pairs equi-join on (image, class, cell) — fan-out is bounded by
       boxes-per-cell, never n_det x n_gt. IoU is codegen arithmetic;
       pairs below ``iou_thresh`` are dropped (a detection whose global
       argmax IoU is below threshold never claims anything, so
       sub-threshold pairs cannot change any outcome).
    2. best edge per detection: max(struct(iou, -gt_id)) — each det's
       argmax-IoU ground truth (tie -> smallest gt id; the cogroup walk
       inherits numpy's first-row tie order instead, so on data with
       EXACT IoU ties between distinct GTs the two may differ — both
       are valid VOC tie rules, and tests/test_map_metric.py pins them
       equal on tie-free data).
    3. first-claimant window: a GT is claimed by the first (conf DESC,
       det_id ASC) detection whose best edge points at it — every
       later such detection is FP (VOC: no fallback to second-best),
       and detections never claim a non-argmax GT. The window
       partitions by (image, class, gt) — bounded groups.

    Equivalence to the sequential walk: tp[i]=1 iff iou(i, argmax_i)
    >= t and no earlier det shares that argmax with a qualifying edge —
    which is exactly rank-1 in step 3's partition.
    """
    t = float(iou_thresh)
    cs = float(cell_size)

    def cells(df: DataFrame, keep: list) -> DataFrame:
        return (
            df.withColumn(
                "__cx",
                F.explode(
                    F.sequence(
                        F.floor(F.col("x1") / cs).cast("int"),
                        F.floor(F.col("x2") / cs).cast("int"),
                    )
                ),
            )
            .withColumn(
                "__cy",
                F.explode(
                    F.sequence(
                        F.floor(F.col("y1") / cs).cast("int"),
                        F.floor(F.col("y2") / cs).cast("int"),
                    )
                ),
            )
            .select(*keep, "__cx", "__cy")
        )

    d = cells(
        detections,
        ["image_id", "class_id", "det_id", "conf", "x1", "y1", "x2", "y2"],
    )
    g = cells(
        ground_truth.select(
            "image_id", "class_id",
            F.col(gt_id_col).alias("__gt"), "x1", "y1", "x2", "y2",
        ),
        ["image_id", "class_id", "__gt", "x1", "y1", "x2", "y2"],
    ).select(
        "image_id", "class_id", "__gt",
        F.col("x1").alias("gx1"), F.col("y1").alias("gy1"),
        F.col("x2").alias("gx2"), F.col("y2").alias("gy2"),
        "__cx", "__cy",
    )
    iw = F.greatest(
        F.least(F.col("x2"), F.col("gx2"))
        - F.greatest(F.col("x1"), F.col("gx1")),
        F.lit(0.0),
    )
    ih = F.greatest(
        F.least(F.col("y2"), F.col("gy2"))
        - F.greatest(F.col("y1"), F.col("gy1")),
        F.lit(0.0),
    )
    inter = iw * ih
    union = (
        (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
        + (F.col("gx2") - F.col("gx1")) * (F.col("gy2") - F.col("gy1"))
        - inter
    )
    pairs = (
        d.join(g, ["image_id", "class_id", "__cx", "__cy"])
        .withColumn(
            "iou", F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        )
        .filter(F.col("iou") >= t)
        # a pair spanning k cells joins k times — same (det, gt, iou)
        .select("image_id", "class_id", "det_id", "conf", "__gt", "iou")
        .distinct()
    )
    best = pairs.groupBy("image_id", "class_id", "det_id", "conf").agg(
        F.max(
            F.struct(F.col("iou").alias("i"), (-F.col("__gt")).alias("ng"))
        ).alias("b")
    ).select(
        "image_id", "class_id", "det_id", "conf",
        (-F.col("b.ng")).alias("best_gt"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("image_id", "class_id", "best_gt").orderBy(
        F.desc("conf"), F.asc("det_id")
    )
    tp = best.withColumn(
        "tp", F.when(F.row_number().over(w) == 1, 1).otherwise(0)
    ).select("image_id", "class_id", "det_id", "tp")
    return (
        detections.select("image_id", "class_id", "det_id", "conf")
        .join(tp, ["image_id", "class_id", "det_id"], "left")
        .select(
            "image_id",
            "class_id",
            "det_id",
            "conf",
            F.coalesce("tp", F.lit(0)).cast("int").alias("tp"),
        )
    )


def voc07_average_precision(
    matched: DataFrame, ground_truth: DataFrame
) -> DataFrame:
    """Per-class VOC07 11-point AP over the output of either matcher.

    Classes are taken from ``ground_truth`` (a class with no GT boxes has
    undefined recall and is excluded, as in the VOC devkit). Returns
    (class_id, n_pos, n_det, ap) with ``ap`` unrounded.
    """
    from pyspark.sql import Window

    npos = ground_truth.groupBy("class_id").agg(
        F.count("*").alias("n_pos")
    )
    w = Window.partitionBy("class_id").orderBy(
        F.desc("conf"), F.asc("det_id")
    )
    cum = Window.partitionBy("class_id").orderBy(
        F.desc("conf"), F.asc("det_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pr = (
        matched.join(F.broadcast(npos), "class_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("ctp", F.sum("tp").over(cum))
        .select(
            "class_id",
            "n_pos",
            (F.col("ctp") / F.col("rn")).alias("prec"),
            (F.col("ctp") / F.col("n_pos")).alias("rec"),
        )
    )
    spark = matched.sparkSession
    grid = spark.range(11).select((F.col("id") / 10.0).alias("r"))
    classes = npos.join(
        matched.groupBy("class_id").agg(F.count("*").alias("n_det")),
        "class_id",
        "left",
    ).withColumn("n_det", F.coalesce("n_det", F.lit(0)))
    # max precision at recall >= r, per class per grid point; a grid point
    # no recall reaches contributes 0 (left join + coalesce)
    points = (
        classes.crossJoin(F.broadcast(grid))
        .join(
            pr.join(F.broadcast(grid), pr.rec >= F.col("r"))
            .groupBy("class_id", "r")
            .agg(F.max("prec").alias("mp")),
            ["class_id", "r"],
            "left",
        )
        .withColumn("mp", F.coalesce("mp", F.lit(0.0)))
    )
    return points.groupBy("class_id", "n_pos", "n_det").agg(
        (F.sum("mp") / 11.0).alias("ap")
    )


def voc07_map(ap_per_class: DataFrame) -> DataFrame:
    """Mean AP over classes (the single scalar train_yolov3.py logs per
    epoch)."""
    return ap_per_class.agg(F.avg("ap").alias("map"))
