"""Sinks (SURVEY §2.2): per-topic tables, frames, detections.

The reference's sinks are hand-managed files and DynamoDB items; here
every sink is a partitioned columnar write whose layout IS the query
optimization:

- per-topic tables partitioned by ``topic`` -> partition pruning replaces
  the reference's one-CSV-per-connection bookkeeping (K1,
  bagstream.py:171-182)
- frames partitioned by ``(topic)`` with raw pixel buffers -> no per-frame
  PNG round-trip (K2); camera/day layout gives the enrich path a pruned
  incremental scan. :func:`write_png_files` is the reference-parity sink:
  real ``.png`` files (stdlib codec, functions/png.py), one per frame,
  written from the executors (bagstream.py:246-266's cv2.imwrite)
- detections partitioned by ``ts_key`` -> the wide table's natural query
  axis ("find frames with cars on day X", README.md:9-13)

video rendering (K3, main.py:47-66: one mp4 per camera directory via
ffmpeg): the container semantics are REAL via :func:`render_avi_videos` —
one uncompressed RIFF AVI per frame group, stdlib codec
(functions/avi.py), written from the executors. Only the libx264
*compression* step is missing (ffmpeg must be downloaded); an mp4
deployment swaps the per-group ``encode_avi`` call for an ffmpeg pipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _sanitize(group: str) -> str:
    """Topic/group -> filesystem-safe file stem (bagstream.py's key style)."""
    return group.strip("/").replace("/", "_")


def _check_sanitize_collisions(
    df: DataFrame, col: str, groups_src: DataFrame | None = None
) -> None:
    """Fail LOUDLY if two distinct groups sanitize to the same output
    stem ('/cam/front' and '/cam_front' both -> 'cam_front'): concurrent
    executor tasks would otherwise overwrite each other's files with no
    error. One tiny distinct-collect per sink call (|topics| rows).

    The distinct scans ``df`` — if that lineage contains a Python decode
    (mapInPandas), column pruning cannot skip it and the decode runs
    TWICE per sink call (r8 review). Pass ``groups_src`` (any cheap
    upstream frame carrying the same ``col`` universe, e.g. the raw
    pre-decode table) to run the check there instead, or persist the
    decoded frame before invoking the sink."""
    src = df if groups_src is None else groups_src
    groups = [r[0] for r in src.select(col).distinct().collect()]
    seen: dict[str, str] = {}
    for g in groups:
        s = _sanitize(str(g))
        if s in seen and seen[s] != g:
            raise ValueError(
                f"sink name collision: groups {seen[s]!r} and {g!r} both"
                f" sanitize to {s!r} — outputs would silently overwrite"
            )
        seen[s] = g


def write_topic_tables(records: DataFrame, root: str, fmt: str = "parquet") -> None:
    """K1: one logical table per topic via partitioned write. CSV is
    supported for reference parity; parquet is the real layout."""
    if fmt == "csv":
        # CSV cannot carry binary image payloads — mirror the reference,
        # which routes images to the PNG sink instead of the topic CSV
        (
            records.drop("img_data")
            .write.mode("overwrite")
            .partitionBy("topic")
            .option("header", True)
            .csv(root)
        )
    elif fmt == "parquet":
        records.write.mode("overwrite").partitionBy("topic").parquet(root)
    else:
        # no silent fallthrough: an unknown fmt must not quietly write
        # parquet a downstream CSV reader then chokes on
        raise ValueError(f"unsupported fmt {fmt!r}: expected 'csv' or 'parquet'")


def write_frames(frames: DataFrame, root: str) -> None:
    """K2: frame table with raw pixel/binary payloads, partitioned by
    topic; filenames (``img_file``) remain reference-compatible keys."""
    frames.write.mode("overwrite").partitionBy("topic").parquet(root)


def write_png_files(
    decoded: DataFrame,
    root: str,
    name_col: str = "img_file",
    groups_src: DataFrame | None = None,
) -> int:
    """K2 reference-parity sink: encode each decoded frame to a real PNG
    and write ``<root>/<topic-sanitized>/<img_file>`` from the executors —
    the distributed analog of bagstream.py:246-266's per-frame cv2.imwrite
    (at scale each task PUTs to the object store exactly like the
    reference's upload queue, K4). Returns the number of files written."""

    _check_sanitize_collisions(decoded, "topic", groups_src)

    def write_batches(batches):
        import os

        import pandas as pd

        from ..functions.png import encode_png

        n = 0
        for pdf in batches:
            for topic, name, pix, w, h in zip(
                pdf["topic"], pdf[name_col], pdf["pixels"], pdf["img_width"], pdf["img_height"]
            ):
                # a directory part would escape <root>/<topic>/
                if os.path.basename(name) != name:
                    raise ValueError(
                        f"frame {name!r} ({topic}): {name_col} must be a"
                        " bare file name, without a directory part"
                    )
                # input contract: decode_frames output (RGB-normalized,
                # exactly w*h*3). A raw img_data buffer fed here would be
                # SILENTLY truncated by the encoder (rgba -> scrambled
                # RGB) or crash it on mono — fail with a named frame
                if len(pix) != int(w) * int(h) * 3:
                    raise ValueError(
                        f"frame {name!r} ({topic}): buffer {len(pix)} bytes"
                        f" != {w}x{h}x3 — write_png_files consumes"
                        " decode_frames output, not raw img_data"
                    )
                d = os.path.join(root, _sanitize(topic))
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, name), "wb") as f:
                    f.write(encode_png(bytes(pix), int(w), int(h), 3))
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = decoded.mapInPandas(write_batches, schema="n bigint").collect()
    return sum(r["n"] for r in counts)


def write_detections(wide: DataFrame, root: str, partition_col: str = "ts_key") -> None:
    """K6 batch sink: idempotent overwrite-by-partition (dynamic partition
    overwrite = the batch analog of the streaming max-upsert MERGE)."""
    (
        wide.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(root)
    )


def render_avi_videos(
    frames: DataFrame,
    root: str,
    fps: int = 5,
    group_col: str = "topic",
    order_col: str = "frame_idx",
    groups_src: DataFrame | None = None,
) -> DataFrame:
    """K3 (reference main.py:47-66, one video per camera directory):
    group frames by ``group_col``, order by ``order_col`` within the
    group, pack into ONE uncompressed AVI (stdlib codec,
    functions/avi.py) and write ``<root>/<group>.avi`` from the executor
    that owns the group — the fps default mirrors the reference's
    ``-framerate 5``.

    Input needs (group_col, order_col, pixels, img_width, img_height) —
    the same decoded-frame shape write_png_files consumes. Returns one
    row per rendered video: (group, n_frames, avi_bytes). Each group must
    fit one task (a video's frames always did — the reference builds it
    from one directory listing); groups are independent, so rendering
    scales group-wide with no shuffle beyond the groupBy."""

    _check_sanitize_collisions(frames, group_col, groups_src)

    def render(pdf):
        import os

        import numpy as np
        import pandas as pd

        from ..functions.avi import encode_avi

        pdf = pdf.sort_values(order_col)
        group = str(pdf[group_col].iloc[0])
        # an AVI has ONE frame size: a group mixing resolutions (camera
        # reconfigured mid-recording) or carrying non-RGB buffers cannot
        # render — fail naming the group instead of a bare reshape error
        # that kills the whole job anonymously
        dims = {(int(w), int(h)) for w, h in zip(pdf["img_width"], pdf["img_height"])}
        if len(dims) != 1:
            raise ValueError(
                f"group {group!r}: mixed frame sizes {sorted(dims)} cannot"
                " pack into one AVI — split the group or normalize upstream"
            )
        ((w, h),) = dims
        bad = [len(p) for p in pdf["pixels"] if len(p) != w * h * 3]
        if bad:
            raise ValueError(
                f"group {group!r}: {len(bad)} frame buffers != {w}x{h}x3"
                " (e.g. {0} bytes) — render_avi_videos consumes"
                " decode_frames output, not raw img_data".format(bad[0])
            )
        stack = np.stack(
            [
                np.frombuffer(bytes(p), dtype=np.uint8).reshape(h, w, 3)
                for p in pdf["pixels"]
            ]
        )
        data = encode_avi(stack, fps=fps)
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, _sanitize(group) + ".avi")
        with open(path, "wb") as f:
            f.write(data)
        return pd.DataFrame(
            {"group": [group], "n_frames": [len(pdf)], "avi_bytes": [len(data)]}
        )

    return (
        frames.groupBy(group_col)
        .applyInPandas(render, schema="group string, n_frames bigint, avi_bytes bigint")
    )


def write_recordio_files(
    packed: DataFrame,
    root: str,
    split_col: str = "split",
    order_col: str = "rec_id",
    label_col: str = "labels",
    payload_col: str = "payload",
) -> DataFrame:
    """K10/S11 byte-format sink: one indexed RecordIO pair
    (``<split>.rec`` + ``<split>.idx``) per split group, records packed as
    IRHeader + float32 label vector + payload (functions/recordio.py —
    byte-identical to the reference's mx.recordio path, im2rec.py:194-221).

    Rows may arrive in any order (parallel upstream encode); each group
    sorts by ``order_col`` before writing — the reference's
    reorder-after-parallel-encode ``buf[count]`` loop (W6), here for free
    via the groupBy shuffle + an in-group sort. Returns one row per split:
    (split, n_records, rec_bytes, idx_records)."""

    def write(pdf):
        import os

        import pandas as pd

        from ..functions.recordio import pack_ir, write_indexed

        pdf = pdf.sort_values(order_col)
        records = [
            (int(rid), pack_ir([float(x) for x in labels], int(rid), bytes(pl)))
            for rid, labels, pl in zip(
                pdf[order_col], pdf[label_col], pdf[payload_col]
            )
        ]
        rec, idx = write_indexed(records)
        split = str(pdf[split_col].iloc[0])
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, f"{split}.rec"), "wb") as f:
            f.write(rec)
        with open(os.path.join(root, f"{split}.idx"), "w") as f:
            f.write(idx)
        return pd.DataFrame(
            {
                "split": [split],
                "n_records": [len(records)],
                "rec_bytes": [len(rec)],
                "idx_records": [len(idx.splitlines())],
            }
        )

    return packed.groupBy(split_col).applyInPandas(
        write,
        schema="split string, n_records bigint, rec_bytes bigint, idx_records bigint",
    )


def write_webdataset_shards(
    samples: DataFrame,
    root: str,
    shard_col: str = "shard",
    key_col: str = "key",
    text_col: str = "text",
    meta_col: str = "meta",
) -> DataFrame:
    """Training-set export as WebDataset tar shards (functions/wds.py).

    One ``shard-%06d.tar`` per ``shard_col`` group; each sample
    contributes ``<key>.txt`` (utf-8 text) and ``<key>.json`` (metadata
    string) members, emitted in ``key_col`` order — the same
    reorder-after-parallel-upstream contract as
    :func:`write_recordio_files` (W6). Returns one row per shard:
    (shard, n_samples, tar_bytes) where tar_bytes is the MEASURED length
    of the encoded archive (q112's oracle recomputes it arithmetically
    from the USTAR layout).

    Scale shape: one applyInPandas group per shard — shard count is the
    write parallelism, exactly how WebDataset exports run on real
    clusters (thousands of ~250 MB shards). Shard assignment upstream is
    a hash of the sample key, so groups are balanced; no global sort.
    """

    def write(pdf):
        import os

        import pandas as pd

        from ..functions.wds import encode_tar

        pdf = pdf.sort_values(key_col)
        members = []
        for key, text, meta in zip(pdf[key_col], pdf[text_col], pdf[meta_col]):
            members.append((f"{key}.txt", str(text).encode("utf-8")))
            members.append((f"{key}.json", str(meta).encode("utf-8")))
        buf = encode_tar(members)
        shard = int(pdf[shard_col].iloc[0])
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, f"shard-{shard:06d}.tar"), "wb") as f:
            f.write(buf)
        return pd.DataFrame(
            {"shard": [shard], "n_samples": [len(pdf)], "tar_bytes": [len(buf)]}
        )

    return samples.groupBy(shard_col).applyInPandas(
        write, schema="shard bigint, n_samples bigint, tar_bytes bigint"
    )
