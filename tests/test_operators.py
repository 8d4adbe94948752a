"""Operator-level tests: frames, detections idempotence, dedup properties,
split determinism (SURVEY §5 items 1/4)."""

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators import (
    dedup as D,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.detections import (
    detections_wide,
    explode_labels,
    stub_detector,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.frames import (
    frame_gaps,
    run_diff,
    with_frame_filenames,
    with_frame_ids,
)

SF_DIR = "/root/testdata/sf0.001"


def _frames(spark):
    rows = [
        ("front", "2020-12-16 23:32:19.969307"),
        ("front", "2020-12-16 23:32:20.036307"),
        ("front", "2020-12-16 23:32:20.103307"),
        ("rear", "2020-12-16 23:32:19.969307"),
        ("rear", "2020-12-16 23:32:20.036307"),
    ]
    return spark.createDataFrame(rows, "topic string, ts_s string").select(
        "topic", F.to_timestamp("ts_s").alias("ts")
    )


def test_frame_ids_and_filenames(spark):
    df = with_frame_filenames(with_frame_ids(_frames(spark)))
    rows = {(r.topic, r.frame_id): r.img_file for r in df.collect()}
    assert rows[("front", 0)] == "front-2020-12-16T23_32_19.969307-0000.png"
    assert rows[("front", 2)].endswith("-0002.png")
    assert rows[("rear", 1)].endswith("-0001.png")


def test_gap_detection(spark):
    df = spark.createDataFrame(
        [("front", i) for i in [0, 1, 2, 5, 6]] + [("rear", i) for i in [0, 1]],
        "topic string, frame_id bigint",
    )
    gaps = frame_gaps(df).collect()
    assert len(gaps) == 1
    g = gaps[0]
    assert g.topic == "front" and g.frame_id == 5 and g.prev_id == 2 and g.gap_size == 2


def test_gap_detection_head_truncation(spark):
    """A topic whose indices start above 0 lost its head frames — the
    reference counter starts at 0, so that IS a gap (r8 review): reported
    against the virtual prev_id -1 sentinel."""
    df = spark.createDataFrame(
        [("front", i) for i in [5, 6, 7]] + [("rear", i) for i in [0, 1]],
        "topic string, frame_id bigint",
    )
    gaps = frame_gaps(df).collect()
    assert len(gaps) == 1
    g = gaps[0]
    assert g.topic == "front" and g.frame_id == 5 and g.prev_id == -1 and g.gap_size == 5


def test_run_diff(spark):
    a = spark.createDataFrame([("f0.png",), ("f1.png",), ("f2.png",)], "img_file string")
    b = spark.createDataFrame([("f0.png",), ("f2.png",)], "img_file string")
    missing = run_diff(a, b).collect()
    assert [r.img_file for r in missing] == ["f1.png"]


def test_detections_idempotent_under_duplicate_delivery(spark):
    """ST2: re-delivered frames must not change the wide table (max is
    idempotent) — the property that made the reference's conditional
    update safe under SQS at-least-once."""
    ev = spark.createDataFrame(
        [(1, "front", 90.0), (2, "front", 80.0), (3, "rear", 70.0)],
        "event_id bigint, camera string, value double",
    ).select(
        F.lit("2024-01-01").alias("ts_key"),
        "camera",
        stub_detector(F.col("event_id"), F.col("value")).alias("labels"),
    )
    once = detections_wide(explode_labels(ev), ["Person", "Car", "Bicycle", "Truck", "Motorcycle"])
    twice = detections_wide(
        explode_labels(ev.unionAll(ev)),
        ["Person", "Car", "Bicycle", "Truck", "Motorcycle"],
    )
    def canon(df):
        cols = [c for c in df.columns if c not in ("ped_count", "wheeler_count")]
        return sorted(map(tuple, df.select(*cols).collect()))
    assert canon(once) == canon(twice)


def test_minhash_candidates_superset_includes_high_jaccard(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i k"),  # near-dup of 1
            (3, "z y x w v u t s r q"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and all(3 not in p for p in pairs)
    exact = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in exact


def test_exact_dedup_normalization(spark):
    docs = spark.createDataFrame(
        [(1, "hello  world"), (2, "hello world"), (3, "HELLO WORLD"), (4, "bye")],
        "doc_id bigint, text string",
    )
    out = {r.keeper_id: r.n_copies for r in D.exact_dedup(docs).collect()}
    assert out == {1: 3, 4: 1}


def test_stop_shingle_guard(spark):
    docs = spark.createDataFrame(
        [(i, "common common common common unique%d end end end" % i) for i in range(6)],
        "doc_id bigint, text string",
    )
    guarded = D.ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_freq=2)
    unguarded = D.ngram_jaccard_pairs(docs, threshold=0.0)
    assert guarded.count() <= unguarded.count()


def test_random_split_deterministic(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = docs.randomSplit([0.6, 0.2, 0.2], seed=42)
    b = docs.randomSplit([0.6, 0.2, 0.2], seed=42)
    for x, y in zip(a, b):
        assert sorted(r.doc_id for r in x.select("doc_id").collect()) == sorted(
            r.doc_id for r in y.select("doc_id").collect()
        )


def test_simhash_near_dup_fingerprints_close(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "q r s t u v w x")],
        "doc_id bigint, text string",
    )
    fp = {r.doc_id: r.sh for r in docs.select("doc_id", D.simhash32(F.col("text")).alias("sh")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_connected_components_chain_and_nonconvergence(spark):
    import pytest as _pytest

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.components import (
        connected_components,
    )

    # chain 0-1-2-...-7 plus isolated pair (10, 11)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)] + [(10, 11)], "id_a bigint, id_b bigint"
    )
    stats = {}
    comp = {r.node: r.cluster_id for r in connected_components(edges, _stats=stats).collect()}
    assert all(comp[i] == 0 for i in range(8))
    assert comp[10] == 10 and comp[11] == 10
    # two-phase star contraction: a diameter-7 chain resolves in O(log d)
    # rounds, far under the 7+ that plain min-label propagation needs
    assert stats["rounds"] <= 5
    # any graph still cannot converge in 1 iteration -> loud failure,
    # never silently-wrong clusters
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_connected_components_long_chain_log_rounds(spark):
    """The VERDICT r1 item-9 scenario: a high-diameter graph. A 64-node
    chain (diameter 63) must resolve in logarithmic rounds — plain
    propagation would need 63."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a bigint, id_b bigint"
    )
    stats = {}
    comp = {r.node: r.cluster_id for r in connected_components(edges, _stats=stats).collect()}
    assert len(comp) == 64 and set(comp.values()) == {0}
    assert stats["rounds"] <= 10


def test_reliable_checkpoint_paths_agree(spark, tmp_path):
    """checkpoint_dir switches the iterative ops from localCheckpoint to
    RELIABLE checkpoints (VERDICT r4 #6): results must be identical, and
    the reliable run must actually materialize RDDs under the dir."""
    import os

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.components import (
        connected_components,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.pagerank import (
        pagerank,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)] + [(10, 11)], "id_a bigint, id_b bigint"
    )
    ckdir = str(tmp_path / "reliable_ck")
    local = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    reli = {
        r.node: r.cluster_id
        for r in connected_components(edges, checkpoint_dir=ckdir).collect()
    }
    assert local == reli
    # reliable files really landed on shared storage
    ck_files = [
        os.path.join(d, f) for d, _, fs in os.walk(ckdir) for f in fs
    ]
    assert ck_files, "reliable checkpoint wrote nothing"

    sym = edges.unionAll(
        edges.selectExpr("id_b AS id_a", "id_a AS id_b")
    ).selectExpr("id_a AS src", "id_b AS dst")
    pr_local = {r.node: r.rank for r in pagerank(sym, iterations=2).collect()}
    pr_reli = {
        r.node: r.rank
        for r in pagerank(sym, iterations=2, checkpoint_dir=ckdir).collect()
    }
    assert pr_local == pr_reli


def test_simhash_implementations_agree(spark):
    """simhash32 (per-row HOF, q25) and simhash_table (explode+groupBy,
    q43) are two implementations of the same math — they must never
    diverge."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta{i % 3} epsilon zeta") for i in range(20)],
        "doc_id bigint, text string",
    )
    a = {r.doc_id: r.sh for r in docs.select("doc_id", D.simhash32(F.col("text")).alias("sh")).collect()}
    b = {r.doc_id: r.simhash for r in D.simhash_table(docs).collect()}
    assert a == b


def test_minhash_cross_join_no_self_pairs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i k"),
            (4, "a b c d e f g h i l"),
            (3, "z y x w v u t s r q"),
        ],
        "doc_id bigint, text string",
    )
    left = docs.filter(F.col("doc_id") % 2 == 0)   # 2, 4
    right = docs.filter(F.col("doc_id") % 2 == 1)  # 1, 3
    pairs = {(r.id_a, r.id_b): r.jaccard for r in D.minhash_lsh_join(left, right, 0.5).collect()}
    assert (2, 1) in pairs and (4, 1) in pairs
    assert all(b != 3 for (_, b) in pairs)  # dissimilar corpus doc absent
    assert all(a in (2, 4) and b in (1, 3) for (a, b) in pairs)  # strictly cross-side


def test_lsh_stop_bucket_cap(spark):
    """An adversarial template cluster floods every band bucket; the cap
    drops those buckets (bounded candidates) while distinct near-dup pairs
    outside the flood still surface. Exact dedup remains the tier that
    owns the flooded family."""
    import aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.dedup as D

    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template) for i in range(40)]  # identical: every band hot
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = D.minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=4)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in pairs                      # cold pair survives
    assert not any(a < 40 and b < 40 for a, b in pairs)  # flood suppressed
    # the flooded family is exact-dup territory: one keeper, 40 copies
    fam = D.exact_dedup(docs).filter("n_copies = 40").first()
    assert fam.keeper_id == 0
    D.release_caches()

    # cross-join cap: flood on the right side suppresses those buckets too
    left = spark.createDataFrame([(200, template)], "doc_id long, text string")
    right = docs.filter("doc_id < 40")
    cross = D.minhash_lsh_join(left, right, 0.5, max_bucket_size=4)
    assert cross.count() == 0
    D.release_caches()


def test_salted_band_join_equivalence_and_bound(spark):
    """The blocked (salted) band self-join is a pure physical rewrite:
    identical verified pairs to the plain bucket join, while an
    adversarial template cluster that floods a bucket gets spread across
    (block_a, block_b) join keys of at most block_size rows per side."""
    import aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.dedup as D
    from pyspark.sql import functions as F

    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template) for i in range(24)]  # one hot bucket per band
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    plain = D.minhash_lsh_pairs(docs, threshold=0.5)
    salted = D.minhash_lsh_pairs_salted(docs, threshold=0.5, block_size=4)
    assert {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in plain.collect()} == {
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in salted.collect()
    }
    D.release_caches()

    # the flood really is a hot bucket (24 docs share every band key)...
    bands = D.minhash_bands(docs.select("doc_id", "text"))
    hot = bands.groupBy("band", "band_key").count().agg(F.max("count")).first()[0]
    assert hot >= 24
    # ...yet after blocking, no (band, band_key, ba, bb) join key carries
    # more than block_size rows on the replicated left side
    w = D.Window.partitionBy("band", "band_key").orderBy("doc_id")
    wcnt = D.Window.partitionBy("band", "band_key")
    blocked = bands.select(
        "band",
        "band_key",
        ((F.row_number().over(w) - 1) / 4).cast("int").alias("ba"),
        F.ceil(F.count("*").over(wcnt) / 4).cast("int").alias("nblk"),
    ).select(
        "band", "band_key", "ba",
        F.explode(F.sequence(F.col("ba"), F.col("nblk") - 1)).alias("bb"),
    )
    per_key = blocked.groupBy("band", "band_key", "ba", "bb").count()
    assert per_key.agg(F.max("count")).first()[0] <= 4


def test_pagerank_ring_uniform_and_star_center(spark):
    """On a symmetrized ring every node keeps rank 1/N (uniform is the
    stationary distribution); on a star the center out-ranks the leaves."""
    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.pagerank import (
        pagerank,
    )

    n = 8
    ring = [(i, (i + 1) % n) for i in range(n)]
    edges = spark.createDataFrame(
        ring + [(b, a) for a, b in ring], "src long, dst long"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
    assert all(abs(v - 1.0 / n) < 1e-12 for v in ranks.values())

    star = [(0, i) for i in range(1, 5)]
    sedges = spark.createDataFrame(
        star + [(b, a) for a, b in star], "src long, dst long"
    )
    sranks = {r.node: r.rank for r in pagerank(sedges, iterations=4).collect()}
    assert sranks[0] > max(v for k, v in sranks.items() if k != 0)
    assert abs(sum(sranks.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_empty_graph_returns_empty(spark):
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.pagerank import (
        pagerank,
    )

    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(edges, iterations=2).count() == 0


def test_lsh_band_plan_midpoints(spark):
    """The tuning rule picks the divisor plan whose S-curve midpoint is
    nearest the threshold; the default 4x4 is what t~0.7 selects."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.dedup import (
        BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
        lsh_band_plan,
        minhash_bands,
        minhash_bands_param,
    )

    assert lsh_band_plan(0.7) == (BANDS, ROWS_PER_BAND)  # 4x4, mid ~0.707
    assert lsh_band_plan(0.35) == (8, 2)                 # mid ~0.354
    assert lsh_band_plan(0.05) == (16, 1)                # mid 0.0625
    assert lsh_band_plan(0.95) == (2, 8)                 # mid ~0.917
    for t in (0.05, 0.2, 0.35, 0.5, 0.7, 0.95):
        b, r = lsh_band_plan(t)
        assert b * r == NUM_HASHES
    # under the default plan the parameterized builder IS minhash_bands
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w q p")],
        "doc_id bigint, text string",
    )
    base = {tuple(r) for r in minhash_bands(docs).collect()}
    param = {
        tuple(r)
        for r in minhash_bands_param(docs, BANDS, ROWS_PER_BAND).collect()
    }
    assert base == param


def test_lsh_band_plan_adaptive_flood_fallback(spark):
    """The density probe keeps the S-curve-ideal plan on a healthy
    corpus and falls back one step to wider rows on a degenerate one
    (every doc identical -> every 8x2 band key is one over-cap bucket)."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.dedup import (
        _cached,
        band_flood_frac,
        bands_from_sig,
        compensated_cap,
        lsh_band_plan_adaptive,
        minhash_table,
        release_caches,
    )

    try:
        cap8 = compensated_cap(8)
        healthy = spark.createDataFrame(
            [(i, f"tok{i}a tok{i}b tok{i}c tok{i}d tok{i}e") for i in range(40)],
            "doc_id bigint, text string",
        )
        sig_h = _cached(minhash_table(healthy))
        assert band_flood_frac(bands_from_sig(sig_h, 8, 2), cap8) == 0.0
        assert lsh_band_plan_adaptive(sig_h, 0.35)[:3] == (8, 2, cap8)

        degen = spark.createDataFrame(
            [(i, "same text every single document carries here") for i in range(40)],
            "doc_id bigint, text string",
        )
        sig_d = _cached(minhash_table(degen))
        assert band_flood_frac(bands_from_sig(sig_d, 8, 2), cap8) == 1.0
        b, r, cap, frac, bands_df = lsh_band_plan_adaptive(sig_d, 0.35)
        assert (b, r, cap) == (4, 4, compensated_cap(4))
        assert frac == 1.0
        # the returned band table is the FALLBACK plan's cut
        assert bands_df.select("band").distinct().count() == 4
    finally:
        release_caches()


def test_q204_flood_probe_parity_with_subshingle_docs(spark, tmp_path):
    """Spark's flood probe never sees sub-shingle (<3-token) docs —
    minhash_table's explode drops them — so the DuckDB oracle must drop
    them too. Before the r7 sigs filter, each such doc contributed an
    all-NULL signature row whose NULL band keys pooled into one over-cap
    bucket per band: on this corpus (40% short docs) the oracle's probe
    would fire flood and pick 4x4 while Spark kept 8x2."""
    import duckdb
    import pandas as pd

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.dedup import (
        FLOOD_FRAC,
        lsh_band_plan_adaptive,
        minhash_table,
        release_caches,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.llm_ops import (
        Q204_THRESHOLD,
        minhash_pair_ctes_adaptive,
        q204_threshold_tuned_lsh,
    )

    rows = [
        {"doc_id": i, "text": f"alpha{i} beta{i} gamma{i} delta{i}"} for i in range(60)
    ] + [{"doc_id": 100 + i, "text": f"x{i}"} for i in range(40)]
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet")

    try:
        sig = minhash_table(spark.read.parquet(str(tmp_path / "documents.parquet")))
        b, r, _cap, frac, _bands = lsh_band_plan_adaptive(sig, Q204_THRESHOLD)
        assert frac <= FLOOD_FRAC and (b, r) == (8, 2)

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
        )
        ctes = minhash_pair_ctes_adaptive(Q204_THRESHOLD)
        flooded = con.execute(f"WITH {ctes} SELECT f FROM flood").fetchone()[0]
        assert bool(flooded) == (frac > FLOOD_FRAC)

        sp = {
            (x.id_a, x.id_b, x.jaccard)
            for x in q204_threshold_tuned_lsh(spark, str(tmp_path)).collect()
        }
        du = {
            (a, c, round(j, 6))
            for a, c, j in con.execute(
                f"WITH {ctes} SELECT id_a, id_b, round(jaccard, 6) FROM mh_pairs"
            ).fetchall()
        }
        assert sp == du
    finally:
        release_caches()


def test_incremental_cc_equals_full_recompute(spark):
    """q205's star theorem: CC(star(old assignment) ∪ new pairs) must
    equal CC(all pairs) — incremental cluster maintenance never diverges
    from the from-scratch clustering."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.components import (
        connected_components,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.2, max_bucket_size=D.DEFAULT_BUCKET_CAP
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    D.release_caches()
    full = {
        r.node: r.cluster_id for r in connected_components(pairs).collect()
    }
    old_pairs = pairs.filter((F.col("id_a") % 3 != 0) & (F.col("id_b") % 3 != 0))
    new_pairs = pairs.filter((F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0))
    old_comp = connected_components(old_pairs)
    star = old_comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    inc = {
        r.node: r.cluster_id
        for r in connected_components(star.unionAll(new_pairs)).collect()
    }
    assert inc == full
    assert len(full) > 0  # fixture has near-dups


def test_q51_zscore_null_on_degenerate_groups(spark, tmp_path):
    """Singleton and zero-variance label groups must yield NULL z (SQL
    stddev_samp / 0-division semantics), not pandas NaN — the r7 review's
    NaN-vs-NULL parity fix. The driver hash treats NULL and NaN
    differently, so the first fixture generation with a degenerate group
    would have broken the q51 gate without the mask."""
    import math

    import pandas as pd

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.grouped import (
        q51_grouped_zscore,
    )

    pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3, 4],
            "embedding": [[1.0], [3.0], [5.0], [2.0], [2.0]],
            "label": [1, 1, 2, 3, 3],
        }
    ).to_parquet(tmp_path / "embeddings.parquet")
    rows = q51_grouped_zscore(spark, str(tmp_path)).collect()
    zs = {r["vec_id"]: r["z"] for r in rows}
    # label 1 (two distinct values): finite +/- 1/sqrt(2) z-scores
    assert zs[0] == -0.7071 and zs[1] == 0.7071
    # label 2 (singleton, std undefined) and label 3 (zero variance, 0/0):
    # NULL, never NaN
    for vid in (2, 3, 4):
        assert zs[vid] is None, f"vec {vid}: expected NULL, got {zs[vid]}"
    assert not any(isinstance(z, float) and math.isnan(z) for z in zs.values())


def test_exact_kth_smallest_matches_sorted_rank(spark):
    """operators/selection.py: the bounded-histogram selection must return
    exactly sorted(values)[k-1] for every k, including duplicate-heavy
    multisets, and an empty frame out of range."""
    import random

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.selection import (
        exact_kth_smallest,
    )

    rng = random.Random(7)
    vals = [round(rng.uniform(-5, 5), 2) for _ in range(500)]
    vals += [vals[3]] * 40 + [vals[7]] * 25  # heavy ties
    df = spark.createDataFrame([(v,) for v in vals], "score double")
    ordered = sorted(vals)
    for k in (1, 2, 17, len(vals) // 2, len(vals) - 1, len(vals)):
        got = exact_kth_smallest(df, "score", k, buckets=16).collect()
        assert len(got) == 1 and got[0]["score"] == ordered[k - 1], k
    assert exact_kth_smallest(df, "score", 0).count() == 0
    assert exact_kth_smallest(df, "score", len(vals) + 1).count() == 0
    # degenerate all-equal column short-circuits
    const = spark.createDataFrame([(3.5,)] * 9, "score double")
    assert exact_kth_smallest(const, "score", 5).collect()[0]["score"] == 3.5


def test_q189_empty_replicates_keep_base_row(spark, tmp_path):
    """q189's CI joins must be LEFT joins: with zero purchase events every
    replicate dies on the sum(k) > 0 guard, lo/hi are empty, and the old
    crossJoin returned 0 rows while the oracle's scalar subqueries return
    one row with NULL CIs."""
    import pandas as pd

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.modeling import (
        q189_poisson_bootstrap,
    )

    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
            "user_id": [10, 11],
            "event_type": ["view", "click"],  # no purchases
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    ).to_parquet(tmp_path / "events.parquet")
    rows = q189_poisson_bootstrap(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["point"] is None and r["ci_lo"] is None and r["ci_hi"] is None
    assert r["n_replicates"] == 32


def test_default_banding_never_floods(spark):
    """The VERDICT-r7 #4 invariant pin: the adaptive planner's decision
    rule, applied to the DEFAULT 4x4 plan the fixed cluster consumers
    (q54/q157/q172/q197/q203) run on, chooses that plan — its over-cap
    bucket-mass fraction sits under FLOOD_FRAC on the documents corpus
    (0.0 measured at sf0.001-sf10). Also re-derives the contrast: at
    sf0.001 both plans are healthy, but 4-row keys carry strictly less
    over-cap mass than 2-row keys at EVERY probed SF (the 8x2 flood at
    sf10 is the adaptive fallback's reason to exist)."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators import (
        dedup as D,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sig = D.minhash_table(docs.select("doc_id", "text")).cache()
    try:
        frac44 = D.band_flood_frac(
            D.bands_from_sig(sig, D.BANDS, D.ROWS_PER_BAND), D.DEFAULT_BUCKET_CAP
        )
        assert frac44 <= D.FLOOD_FRAC, frac44  # probe keeps the default plan
        frac82 = D.band_flood_frac(
            D.bands_from_sig(sig, 8, 2), D.compensated_cap(8)
        )
        assert frac44 <= frac82  # longer keys never flood more
    finally:
        sig.unpersist()


def test_family_stage_cache_isolation(spark):
    """The shared cluster-family stage must serve per-sf_dir results: a
    repeat call serves the stored stage, another corpus gets its own,
    and the served components match a fresh uncached compute — a stale
    stage here would silently cluster the WRONG corpus for three
    registry queries (eviction rules: test_stage_cache_rules)."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators import (
        components as C,
    )

    a = C.family_components(spark, "/root/testdata/sf0.001")
    a1 = {(r.node, r.cluster_id) for r in a.collect()}
    # second call serves the stored stage
    assert C.family_components(spark, "/root/testdata/sf0.001") is a
    b = {
        (r.node, r.cluster_id)
        for r in C.family_components(spark, "/root/testdata/sf0.01").collect()
    }
    assert b != a1
    # fresh uncached compute agrees with what the cache served
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators import (
        dedup as DD,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.components import (
        connected_components,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.2, max_bucket_size=32)
    fresh = {(r.node, r.cluster_id) for r in connected_components(pairs).collect()}
    DD.release_caches()
    assert fresh == b


def test_family_signature_band_parity(spark):
    """Band keys recut from the session-shared signature table must equal
    the direct minhash_bands construction row-for-row — the r12 stage
    sharing (q68/q87/q89/q172/q204 and both pair families derive from
    family_signatures) rests on this identity."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators import (
        components as C,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators import (
        dedup as DD,
    )

    sf = "/root/testdata/sf0.001"
    shared = {
        (r.doc_id, r.band, r.band_key)
        for r in C.family_default_bands(spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    fresh = {
        (r.doc_id, r.band, r.band_key)
        for r in DD.minhash_bands(docs).collect()
    }
    assert shared == fresh and shared
    # wide shape parity too (q89 persists band_cols_from_sig output)
    wide_shared = {
        tuple(r) for r in DD.band_cols_from_sig(
            C.family_signatures(spark, sf)
        ).collect()
    }
    wide_fresh = {tuple(r) for r in DD.minhash_band_cols(docs).collect()}
    assert wide_shared == wide_fresh


def test_stage_cache_rules():
    """registry.stage keeps one corpus per application in flight: every
    (kind, params) of that corpus coexists (the r12 family cache's clear
    predicate compared params too, so each new kind's first miss wiped
    the others and shared stages rebuilt per consumer), while a corpus
    switch or a new application id evicts everything."""
    from types import SimpleNamespace

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.registry import (
        STAGE_LOG,
        stage,
    )

    def hit(app, sf_dir, kind, params=()):
        spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))
        value = stage(kind, spark, sf_dir, params, object)
        assert STAGE_LOG[-1][:2] == (kind, params)
        return STAGE_LOG[-1][2], value

    lookups = [("pairs", (0.2, 32)), ("pairs", (0.5, 32)), ("comp", (0.2, 32)), ("sig", ())]
    built = {}
    for kind, params in lookups:
        is_hit, built[kind, params] = hit("app-1", "/lake/a", kind, params)
        assert not is_hit
    # kinds and params of one corpus coexist, each served as built
    for kind, params in lookups:
        assert hit("app-1", "/lake/a", kind, params) == (True, built[kind, params])
    # a corpus switch evicts
    assert not hit("app-1", "/lake/b", "sig")[0]
    assert not hit("app-1", "/lake/a", "sig")[0]
    # a new application id evicts
    assert not hit("app-2", "/lake/a", "sig")[0]
    assert not hit("app-1", "/lake/a", "sig")[0]


def test_stage_sliced_parquet_matches_per_slice_filters(spark, tmp_path):
    """The one-job multi-slice staging (q65's fixture writer) must land
    the same row CONTENT per slice as the per-slice filter+write it
    replaced, exactly one file per slice, with pinned mtimes."""
    import os

    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.streaming.staging import (
        stage_sliced_parquet,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    dests = [(i, str(tmp_path / f"b{i}.parquet"), 1_700_000_000 + i) for i in range(3)]
    stage_sliced_parquet(docs, F.col("doc_id") % 3, dests)
    for i, dest, mtime in dests:
        assert os.path.isfile(dest)
        assert int(os.path.getmtime(dest)) == mtime
        got = {
            (r.doc_id, r.text) for r in spark.read.parquet(dest).collect()
        }
        want = {
            (r.doc_id, r.text)
            for r in docs.filter(F.col("doc_id") % 3 == i).collect()
        }
        assert got == want and got


def test_detections_wide_one_aggregation_keeps_null_keys(spark):
    """One groupBy computes every column (one Exchange), with the pivot's
    column names and order, and keeps a NULL-key group as the oracle's
    GROUP BY does."""
    long_df = spark.createDataFrame(
        [
            ("t1", "front", "Person", 0.91234, 2),
            ("t1", "front", "Car", 0.5, 1),
            ("t1", "front", "Person", 0.7, 1),
            ("t2", None, "Bicycle", 0.4, 3),
            ("t3", "rear", None, None, None),  # a frame with no detections
        ],
        "ts_key string, camera string, label string, confidence double, n_instances int",
    )
    wide = detections_wide(long_df, ["Person", "Car", "Bicycle"])
    # read before execution: an executed adaptive plan prints twice
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert wide.columns == ["ts_key", "camera", "Person", "Car", "Bicycle", "ped_count", "wheeler_count"]
    assert {tuple(r) for r in wide.collect()} == {
        ("t1", "front", 0.912, 0.5, None, 3, 0),
        ("t2", None, None, None, 0.4, 0, 3),
        ("t3", "rear", None, None, None, 0, 0),
    }
