"""Frame-table operators (reference service/app/bagstream.py + check_pngs.py).

The reference keeps a per-topic mutable counter (``conn['frame_count'] += 1``,
bagstream.py:180,253) to number frames and name PNGs
``<topic>-<isotime>-<%04d>.png`` (bagstream.py:251-252); its only
"consistency test" walks those names checking for index gaps
(check_pngs.py:1976-1997) and diffing two runs (:1994-2002). Re-expressed:
the counter is a window ``row_number``, the gap check is a ``lag`` window,
the run diff is a left-anti join — all single-shuffle operators partitioned
by topic/camera, which is exactly the partitioning the frame data already
arrives in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import iso_for_path


def with_frame_ids(
    frames: DataFrame, topic_col: str = "topic", ts_col: str = "ts", tiebreak: str | None = None
) -> DataFrame:
    """Zero-based per-topic frame ordinal (A3/W1: bagstream.py:253).

    Orders by event time with an optional deterministic tiebreaker column.
    One shuffle on topic; the sort is within-partition.
    """
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(topic_col).orderBy(*order)
    return frames.withColumn("frame_id", (F.row_number().over(w) - 1).cast("bigint"))


def with_frame_filenames(frames: DataFrame, topic_col: str = "topic", ts_col: str = "ts") -> DataFrame:
    """Render the reference's PNG name from the topic's last segment:
    ``/camera_rear/image_raw`` -> ``image_raw-<isotime>-<%04d>.png``
    (K2: bagstream.py:251-252, ':' already mapped to '_'; FIXTURES §B3).
    The name stays relative: the camera directory comes from the sink's
    per-topic subdirectory, not from the name."""
    return frames.withColumn(
        "img_file",
        F.format_string(
            "%s-%s-%04d.png",
            F.substring_index(F.col(topic_col), "/", -1),
            iso_for_path(F.col(ts_col)),
            F.col("frame_id"),
        ),
    )


def frame_gaps(frames: DataFrame, topic_col: str = "topic", idx_col: str = "frame_id") -> DataFrame:
    """Indices whose predecessor is not idx-1 (A7: check_pngs.py:1976-1997).

    Returns (topic, frame_id, prev_id, gap_size) for every discontinuity.
    The reference's counter starts at 0, so a topic whose indices START
    above 0 (head truncation — frames 0..k lost before landing) is also a
    gap: the topic's first row is checked against a virtual prev_id of -1
    and reported with that sentinel (r8 review — the previous
    ``prev_id IS NOT NULL`` filter silently passed head-truncated topics).
    """
    w = Window.partitionBy(topic_col).orderBy(idx_col)
    prev = F.coalesce(F.lag(idx_col).over(w), F.lit(-1).cast("bigint"))
    return (
        frames.select(topic_col, idx_col, prev.alias("prev_id"))
        .filter(F.col(idx_col) - F.col("prev_id") != 1)
        .withColumn("gap_size", (F.col(idx_col) - F.col("prev_id") - 1).cast("bigint"))
    )


def run_diff(run_a: DataFrame, run_b: DataFrame, key: str = "img_file") -> DataFrame:
    """Frames present in run A but missing from run B (J4/SO1:
    check_pngs.py:1994-2002) — left-anti join, no collected sets."""
    return run_a.join(run_b, key, "left_anti")
