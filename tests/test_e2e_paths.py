"""End-to-end entry-point tests (SURVEY §3): EP3 select+anonymize and EP4
manifest -> train-prep, on synthesized fixtures."""

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.images import (
    blur_regions,
    decode_frames,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources import (
    rosbag_fixtures as fx,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.topic_views import (
    image_view,
)


def test_ep3_select_anonymize(spark, read_bag):
    """EP3 (select-labelling-imgs): VRU gate -> blur -> curated write.

    The VRU predicate keeps only frames whose labels hit the
    person/wheeler sets (P6); qualifying frames get their boxes blurred
    (F20) and land in the curated zone.
    """
    frames = image_view(read_bag(fx.build_demo_bag(4)))
    # stub label docs: frames with even seq contain a Person instance
    labeled = frames.withColumn(
        "annotations",
        F.when(
            F.col("seq") % 2 == 0,
            F.array(F.struct(F.lit("Person").alias("Name"), F.lit(99.0).alias("Confidence"))),
        ).otherwise(
            F.array(F.struct(F.lit("Tree").alias("Name"), F.lit(88.0).alias("Confidence")))
        ),
    )
    vru = labeled.filter(
        F.exists("annotations", lambda a: a["Name"].isin("Person", "Bicycle", "Motorcycle"))
    )
    assert vru.count() == 2  # seq 0 and 2
    decoded = decode_frames(vru)
    # two boxes per frame — regression for the Arrow array-truthiness bug
    # (multi-element box arrays crashed `boxes or []`)
    boxed = decoded.withColumn(
        "boxes",
        F.array(
            F.struct(
                F.lit(1).alias("x1"), F.lit(1).alias("y1"), F.lit(4).alias("x2"), F.lit(4).alias("y2")
            ),
            F.struct(
                F.lit(5).alias("x1"), F.lit(2).alias("y1"), F.lit(7).alias("x2"), F.lit(5).alias("y2")
            ),
        ),
    )
    blurred = blur_regions(boxed)
    out = {r.seq: r.pixels for r in blurred.collect()}
    orig = {r.seq: r.pixels for r in decoded.collect()}
    assert set(out) == {0, 2}
    for seq in out:
        assert out[seq] != orig[seq]  # anonymization changed pixels
        assert len(out[seq]) == len(orig[seq])

    work = tempfile.mkdtemp(prefix="t_ep3_")
    try:
        blurred.write.mode("overwrite").parquet(f"{work}/curated")
        assert spark.read.parquet(f"{work}/curated").count() == 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_ep4_manifest_jsonl_trainprep(spark):
    """EP4 (Transfer-Learning.ipynb): Ground-Truth JSONL manifest ->
    spark.read.json -> positional zip -> normalized LST-style lines
    (S9/J3/F13-F15/K9)."""
    work = tempfile.mkdtemp(prefix="t_ep4_")
    try:
        lines = []
        for i in range(6):
            lines.append(
                json.dumps(
                    {
                        "source-ref": f"s3://bucket/img{i}.png",
                        "job": {
                            "image_size": [{"width": 800, "height": 600, "depth": 3}],
                            "annotations": [
                                {"class_id": 0, "left": 10.0 * i, "top": 5.0 * i,
                                 "width": 40.0, "height": 30.0}
                            ],
                        },
                        "job-metadata": {"objects": [{"confidence": round(0.5 + i / 20, 2)}]},
                    }
                )
            )
        with open(f"{work}/output.manifest", "w") as f:
            f.write("\n".join(lines))

        m = spark.read.json(f"{work}/output.manifest")  # JSONL is native (S9)
        boxes = m.select(
            "`source-ref`",
            F.element_at("job.image_size", 1).alias("sz"),
            F.posexplode(F.arrays_zip("job.annotations", "`job-metadata`.objects")).alias("pos", "z"),
        ).select(
            F.col("`source-ref`").alias("img"),
            F.col("z.annotations.class_id").alias("class_id"),
            (F.col("z.annotations.left") / F.col("sz.width")).alias("xmin"),
            (F.col("z.annotations.top") / F.col("sz.height")).alias("ymin"),
            ((F.col("z.annotations.left") + F.col("z.annotations.width")) / F.col("sz.width")).alias("xmax"),
            F.col("z.objects.confidence").alias("conf"),
        )
        rows = {r.img: r for r in boxes.collect()}
        assert len(rows) == 6
        r3 = rows["s3://bucket/img3.png"]
        assert r3.class_id == 0 and abs(r3.xmin - 30.0 / 800) < 1e-9 and r3.conf == 0.65

        # K9: LST-style TSV line rendering + deterministic split (A8)
        lst = boxes.select(
            F.concat_ws(
                "\t",
                F.monotonically_increasing_id().cast("string"),
                F.lit("4"), F.lit("5"),
                F.round("xmin", 4).cast("string"),
                F.round("ymin", 4).cast("string"),
                "img",
            ).alias("line")
        )
        assert lst.count() == 6
        train, val, test = boxes.randomSplit([0.6, 0.2, 0.2], seed=42)
        assert train.count() + val.count() + test.count() == 6
    finally:
        shutil.rmtree(work, ignore_errors=True)
