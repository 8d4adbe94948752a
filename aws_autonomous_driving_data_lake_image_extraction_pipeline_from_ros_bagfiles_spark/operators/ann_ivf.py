"""Trained IVF (inverted-file) ANN: k-means coarse quantizer + multi-probe.

Replaces the label-as-bucket stand-in (similarity.bucketed_topk) with a
real trained quantizer, per ROADMAP item 3:

1. :func:`train_quantizer` — MLlib KMeans (seeded) over the embedding
   column produces B centroids.
2. :func:`assign_buckets` — each vector gets its nearest-centroid bucket
   id; at write time the corpus is stored ``partitionBy(bucket)``.
3. :func:`ivf_topk` — rank centroids by distance to the query, scan only
   the ``nprobe`` nearest buckets, exact cosine within them. With
   partitioned storage the non-probed buckets are pruned at the file
   index, so query cost is ~``nprobe/B`` of a full scan; recall is tuned
   by ``nprobe`` (the recall floor is asserted in tests against the
   brute-force baseline).

MLlib is used for the trainer only; search is plain DataFrame ops — the
trained model reduces to a centroid table usable by any engine.

Serving (assignment and probe ranking) runs no Python at any B and
switches on B (``_CODEGEN_MAX_B``): small B inlines centroids as codegen
literals; large B joins a broadcast (bucket, centroid) table and takes a
min-struct / sorted-collect aggregate, keeping plan size O(1) in B
(VERDICT r1 item 7 — literal trees blow up codegen at B≳1k). Both fold
the same sequential double distance, so they agree bucket for bucket.
Lloyd training (:func:`lloyd_assign`) assigns with one BLAS matmul per
Arrow batch against a broadcast (B, d) numpy matrix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _expr_cached
from .similarity import cosine

# Expression memo (dedup.py's `_expr_cached` policy) for the
# centroid-literal trees. A Column is an immutable unresolved expression
# holding no DataFrame/session reference, so one instance is reusable
# across any number of plans in the process; BUILDING one is not free —
# the small-B codegen argmin/probe trees are O(B·d) F.lit calls, i.e.
# thousands of Py4J round trips (~0.6 s per tree at B=8, d=64, r12 phase
# profile: 2.0 s of q70's 5.0 s warm wall was pure DataFrame
# construction). Keys are the free variables of each tree — column names
# plus the centroid VALUES (the caller recomputes those from the corpus
# every run; only the expression shape is memoized, so this caches
# planning work, never data or results). Within one lifecycle run the
# memo also folds the mem/loaded twin builds (the parquet roundtrip
# preserves doubles bit-exactly, so both sides key identically).


def _cent_key(centroids: list[list[float]]) -> tuple:
    return tuple(tuple(float(x) for x in c) for c in centroids)


def _is_missing_path(e: AnalysisException) -> bool:
    """True iff the AnalysisException is Spark's path-does-not-exist
    error — the one stats-read failure that legitimately means "no
    stats yet, rebuild" rather than a real fault to propagate."""
    cls = getattr(e, "getErrorClass", lambda: None)()
    if cls is not None:
        return cls == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)


def train_quantizer(
    corpus: DataFrame, n_buckets: int, vec_col: str = "embedding", seed: int = 42
) -> list[list[float]]:
    """Fit seeded KMeans; returns the centroid list (the whole "index").

    Two deliberate throughput choices (VERDICT r10 #1 — q103's job-chain
    fold; training is the chain's single largest phase):

    - ``initMode="random"`` (seeded, still deterministic): k-means||
      spends ``initSteps`` extra distributed passes — ~5 scheduler
      round-trips before the first Lloyd step — choosing a
      well-spread seed set. For an IVF COARSE quantizer the seeds are
      immediately refined by the Lloyd iterations and serving quality
      depends on bucket balance, not seed optimality, so the extra
      passes buy nothing the iterations don't redo.
    - the feature frame is persisted for the duration of the fit: MLlib
      re-evaluates its input once per init pass + iteration, and the
      array->vector conversion on top of a parquet scan is exactly the
      lineage that should not run ~11 times.
    """
    feats = corpus.select(array_to_vector(F.col(vec_col)).alias("features")).persist()
    try:
        model = KMeans(
            k=n_buckets, seed=seed, maxIter=10, initMode="random"
        ).fit(feats)
    finally:
        feats.unpersist()
    return [c.tolist() for c in model.clusterCenters()]


# Above this many centroids the codegen literal path stops being the right
# tool: each centroid inlines as a literal expression tree, so plan size and
# codegen time grow O(B·d). Past it, serving joins a broadcast centroid
# TABLE instead (:func:`_table_argmin` / :func:`probe_buckets_table`).
_CODEGEN_MAX_B = 32


def _sq_dist_expr(vec_col: str, centroid: list[float]):
    """Codegen squared-L2 fold to one literal centroid — THE distance
    expression for the small-B path, shared by bucket assignment and
    probe ordering so the two can never drift (r7 review)."""
    arr = F.array(*[F.lit(float(x)) for x in centroid])
    diff = F.zip_with(
        F.col(vec_col), arr, lambda x, y: (x.cast("double") - y) ** 2
    )
    return F.aggregate(diff, F.lit(0.0), lambda a, x: a + x)


def _nearest_centroid(vec_col: str, centroids: list[list[float]]):
    """Codegen argmin over squared L2 to each centroid (no model object on
    the executors — centroids inline as literals). Small-B path only.
    array_min over (distance, index) structs builds the O(B*d) literal
    array ONCE (the previous array_position(arr, array_min(arr)) form
    instantiated it twice, doubling the plan size the _CODEGEN_MAX_B cap
    bounds); struct comparison tie-breaks to the lower bucket id, same
    as array_position's first-match."""

    def build():
        structs = [
            F.struct(_sq_dist_expr(vec_col, c).alias("d"), F.lit(i).alias("i"))
            for i, c in enumerate(centroids)
        ]
        return F.array_min(F.array(*structs))["i"].cast("int")

    return _expr_cached(("nc", vec_col, _cent_key(centroids)), build)


def _sq_dists(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, d) x (B, d) -> (n, B) squared L2, one BLAS matmul."""
    return (
        (mat * mat).sum(axis=1, keepdims=True)
        - 2.0 * (mat @ cents.T)
        + (cents * cents).sum(axis=1)
    )


def assign_buckets(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid bucket per vector, with no Python at any B.
    B <= 32 is the literal-argmin projection (a pure map — measured
    faster than any join/agg shape at small B: sf1.0 q55 18.1 s table vs
    10.4 s literal); past the cap it is :func:`_table_argmin` against a
    broadcast centroid TABLE (VERDICT r10 #5): O(1) plan size, O(N)
    shuffle, same distance fold and tie-break.

    PRECONDITION past the cap (ADVICE r11): ``id_col`` values must be
    UNIQUE and NON-NULL. The table path's ``groupBy(id_col)`` would
    collapse duplicate ids to one row and the join-back drops NULL-id
    rows, whereas the literal projection preserves input multiplicity.
    Every engine caller satisfies this (vec_id is a key in all IVF
    corpora); pass the actual key via ``id_col`` if it is not named
    vec_id."""
    if len(centroids) <= _CODEGEN_MAX_B:
        return corpus.withColumn("bucket", _nearest_centroid(vec_col, centroids))
    # keep the withColumn-like contract (input columns + bucket):
    # joining the (id-less) assignment back needs the id_col key
    assigned = _table_argmin(
        corpus,
        _centroid_frame(corpus.sparkSession, centroids),
        _sq_dist_col(F.col(vec_col), F.col("centroid")),
        vec_col,
        id_col,
    )
    extra = [c for c in corpus.columns if c not in (id_col, vec_col)]
    if extra:
        return corpus.join(assigned.select(id_col, "bucket"), id_col)
    return assigned


def ivf_topk_batch(
    bucketed: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int,
    nprobe: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batched KNN: top-k corpus neighbors for EVERY query row.

    The production shape — one shuffle-join instead of a driver loop:
    each query ranks its nprobe nearest centroids, explodes to (query,
    bucket) probe rows, equi-joins the bucketed corpus on bucket, and
    takes per-query top-k with a rank window (WindowGroupLimit keeps a
    bounded heap per query). Probe-bucket fan-out bounds join input to
    ~nprobe/B of |queries| x |corpus|.

    The probe ranking runs no Python at any B: below the codegen cap it
    is a sorted (distance, bucket) literal-struct array, sliced; past
    the cap it is :func:`probe_buckets_table` (broadcast centroid table
    + sorted collect_list, no O(B·d) literal tree), which needs unique
    ``qid_col`` values. Both rank by the same distance fold and
    tie-break (lower bucket id).

    HARD LIMIT (ADVICE r12): the probe side (|queries| x nprobe rows of
    (qid, qvec, bucket)) is BROADCAST by :func:`_probe_topk` — the corpus
    is the unbounded side and is never shuffled by a query batch. Spark
    caps a broadcast relation at 8 GB / 512M rows, and the driver holds
    the built relation; a caller with a query batch anywhere near that
    (hundreds of millions of probe rows, or wide qvecs summing past
    driver memory) must chunk the batch into successive calls. Engine
    callers are collect-bounded (serving batches, k rows out per query),
    so no runtime count-guard is spent on the hot path.
    """
    if len(centroids) > _CODEGEN_MAX_B:
        probes = probe_buckets_table(
            queries, centroids, nprobe, qvec_col, qid_col
        ).select(qid_col, qvec_col, F.explode("probe_buckets").alias("bucket"))
        return _probe_topk(
            bucketed, probes, k, vec_col, id_col, qid_col, qvec_col
        )

    def build_probe():
        dists = [
            F.struct(
                _sq_dist_expr(qvec_col, c).alias("d"), F.lit(b).alias("bucket")
            )
            for b, c in enumerate(centroids)
        ]
        return F.transform(
            F.slice(F.array_sort(F.array(*dists)), 1, nprobe),
            lambda s: s["bucket"],
        )

    probe_buckets = _expr_cached(
        ("probe", qvec_col, nprobe, _cent_key(centroids)), build_probe
    )
    probes = queries.select(
        qid_col, qvec_col, F.explode(probe_buckets).alias("bucket")
    )
    return _probe_topk(bucketed, probes, k, vec_col, id_col, qid_col, qvec_col)


def _probe_topk(
    bucketed: DataFrame,
    probes: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    qid_col: str,
    qvec_col: str,
) -> DataFrame:
    """Shared probe-join + per-query top-k tail of all
    :func:`ivf_topk_batch` paths: equi-join (qid, qvec, bucket) probe
    rows with the bucketed corpus, rank by cosine with a
    WindowGroupLimit-bounded heap per query.

    The probe side is BROADCAST: it is |queries|·nprobe rows — the
    bounded side by construction (the corpus is the unbounded one and
    must never be shuffled by a query batch; the join key has only B
    distinct values, so a shuffle join would also funnel the whole
    corpus through at most B reducers). Spark's size estimate for the
    probe frame (a filter+explode over the corpus lineage) is far above
    its true size, so without the hint the planner shuffled both sides
    (measured: the q70 batch-search join, 15 probe rows vs a 2k-row
    corpus, planned 2 exchanges; with the hint the corpus-side exchange
    is gone). Query batches big enough to break a broadcast should be
    chunked by the caller — the per-query result is k rows, so batches
    are bounded by the collect budget anyway."""
    joined = F.broadcast(probes).join(bucketed, "bucket")
    sim = cosine(F.col(vec_col), F.col(qvec_col))
    from pyspark.sql import Window

    w = Window.partitionBy(qid_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        joined.select(qid_col, F.col(id_col), sim.alias("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(qid_col, id_col, "sim", "rk")
    )


# --- Deterministic (oracle-replayable) Lloyd training ---------------------
#
# MLlib KMeans is the trainer of q70/q103, but its centroids are float-
# order-dependent, so plans built on it can only be rows-only checked.
# The functions below are the replayable twin: plain Lloyd iterations
# whose cross-engine-divergent float steps are quantized to integer
# fixed-point (memory rule: int math where engines must agree
# bit-for-bit) —
#   * distances: sum of per-element floor((x-y)^2 * 1e12) — 64-bit exact,
#     so the argmin (tie -> lower bucket id) is identical in any engine
#     (the flat trainer assigns by float64 matmul instead, which agrees
#     except on pairs closer than the quantization step);
#   * means: per-component sum of floor(x * 1e9), divided back in ONE
#     deterministic double op chain — order-independent integer sums.
# Init is corpus-derived and seedless: the B vectors with the smallest
# md5(vec_id) (a uniform, engine-portable pseudo-shuffle). The result is
# reproducible training: the same corpus gives bit-identical centroids
# on Spark and DuckDB, which is what lets q184's SemDeDup plan be
# hash-gated end-to-end (VERDICT r7 #6) instead of rows-only.
_QUANT_C = 1_000_000_000  # centroid-mean fixed point (1e-9 resolution)
_QUANT_D = 1_000_000_000_000  # distance fixed point (1e-12 resolution)


def int_sq_dist(vec_col, cent_col):
    """Integer-quantized squared L2 between two array columns — exact
    (no float accumulation), hence engine-portable argmin. Elements are
    cast float->double BEFORE arithmetic (the repo's cross-engine float
    rule): an array<float> source would otherwise square in float32 on
    Spark while the oracle's embedding::DOUBLE[] squares in float64
    (r8 round-diff review)."""
    terms = F.zip_with(
        vec_col,
        cent_col,
        lambda x, y: F.floor(
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
            * F.lit(float(_QUANT_D))
        ).cast("bigint"),
    )
    return F.aggregate(terms, F.lit(0).cast("bigint"), lambda a, x: a + x)


def _sq_dist_col(vec_col, cent_col):
    """Plain-double squared L2 between two ARRAY COLUMNS — the serving
    distance past the codegen cap. Identical sequential fold (and hence
    bit-identical result) to :func:`_sq_dist_expr`'s literal path: cast
    to double, subtract, square, left-to-right aggregate. The centroids
    arrive as a broadcast FRAME instead of a literal tree, so plan size
    stays O(1) in B and no Python worker ever runs."""
    diff = F.zip_with(
        vec_col, cent_col, lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return F.aggregate(diff, F.lit(0.0), lambda a, x: a + x)


def _centroid_frame(spark, centroids: list[list[float]]) -> DataFrame:
    """(bucket, centroid) single-slice local frame from a centroid list
    — the broadcast side of the table path. Built per call: a DataFrame
    is session-bound, so it does not belong in the process-wide Column
    memo, and a B-row build costs tens of milliseconds."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "bucket int, centroid array<double>",
    )


def _table_argmin(
    corpus: DataFrame, cents: DataFrame, dist, vec_col: str, id_col: str
) -> DataFrame:
    """Argmin bucket per vector against a (bucket, centroid) frame under
    ``dist(vec, centroid)``: every vector meets every centroid through a
    broadcast crossJoin (the B-row side; a streamed in-memory loop per
    task), and a map-side-combinable ``min(struct(dist, bucket, vec))``
    aggregate collapses the B-way fan-out to one row per vector BEFORE
    the exchange, so the shuffle carries N rows (r11: the previous
    window-rank form shuffled all N·B rows to sort them). Ties -> lower
    bucket id (struct comparison falls through to the bucket field; the
    vec field is never reached — (dist, bucket) pairs are unique per
    vector). Returns (id, vec, bucket)."""
    best = (
        corpus.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(id_col, vec_col, "bucket", dist.alias("__d"))
        .groupBy(id_col)
        .agg(F.min(F.struct("__d", "bucket", vec_col)).alias("__b"))
    )
    return best.select(
        id_col,
        F.col(f"__b.{vec_col}").alias(vec_col),
        F.col("__b.bucket").alias("bucket"),
    )


def probe_buckets_table(
    queries: DataFrame,
    cents,
    nprobe: int,
    qvec_col: str = "qvec",
    qid_col: str = "qid",
) -> DataFrame:
    """Per-query probe ranking against a (bucket, centroid) TABLE: the
    ``nprobe`` nearest buckets per query row as one
    ``array_sort(collect_list(struct(d, bucket)))`` aggregate — no
    Python, no window, plan size O(1) in B. Each query keeps its vector
    (all replicas carry the same value, so ``first`` is
    value-deterministic). Ties -> lower bucket id, matching the codegen
    probe. Returns (qid, qvec, probe_buckets array)."""
    spark = queries.sparkSession
    if not isinstance(cents, DataFrame):
        cents = _centroid_frame(spark, cents)
    d = _sq_dist_col(F.col(qvec_col), F.col("centroid"))
    return (
        queries.select(qid_col, qvec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            qid_col,
            qvec_col,
            F.struct(d.alias("d"), F.col("bucket").alias("bucket")).alias("__s"),
        )
        .groupBy(qid_col)
        .agg(
            F.first(qvec_col).alias(qvec_col),
            F.transform(
                F.slice(F.array_sort(F.collect_list("__s")), 1, nprobe),
                lambda s: s["bucket"],
            ).alias("probe_buckets"),
        )
    )


def _assert_quant_domain(emb: DataFrame, vec_col: str) -> float:
    """Raise unless every |element| is small enough that int_sq_dist's
    bigint sum cannot overflow. Spark's non-ANSI double->long cast
    SATURATES silently while DuckDB promotes BIGINT sums to HUGEINT, so
    an out-of-domain corpus would silently diverge the argmin (and any
    hash gate built on it) instead of failing loudly (ADVICE r8). One
    column-pruned aggregate; returns the observed max |x|.

    Bound: with M = max|x|, a diff is at most 2M (centroids are means of
    in-domain points, so they stay inside [-M, M]); each quantized term
    is <= (2M)^2 * _QUANT_D and the sum over d elements must stay under
    2^63-1."""
    st = emb.select(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
        ).alias("mx"),
        F.size(vec_col).alias("d"),
    ).agg(F.max("mx").alias("mx"), F.max("d").alias("d")).first()
    if st["d"] is None:  # empty corpus — nothing to overflow
        return 0.0
    import math

    mx, d = float(st["mx"] or 0.0), int(st["d"])
    bound = ((2**63 - 1) / (max(d, 1) * float(_QUANT_D))) ** 0.5 / 2.0
    # NaN must fail too, not sail through a False comparison: Spark's
    # non-ANSI bigint cast of floor(NaN) yields NULL while DuckDB errors
    # — exactly the silent divergence this guard exists to block (r9
    # round-diff review)
    if math.isnan(mx) or mx > bound:
        raise ValueError(
            f"deterministic_lloyd domain error: max|{vec_col}| = {mx:.4g}"
            f" exceeds the int64-safe bound {bound:.4g} for d={d} at"
            f" quantization {_QUANT_D:g} (NaN elements also land here) —"
            " rescale/clean the embeddings (e.g. L2-normalize) before"
            " training, or the integer-quantized distances would overflow"
            " and silently diverge across engines"
        )
    return mx


def assign_buckets_exact(
    emb: DataFrame,
    cents: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Argmin bucket per vector against a (bucket, centroid) frame under
    :func:`int_sq_dist` (:func:`_table_argmin`'s shape); ties break to
    the lower bucket id. B grows with the corpus here (SemDeDup's
    B ∝ N), so assignment work is O(N·B·d) codegen; :func:`lloyd_assign`
    is the BLAS path for when bit-parity with an external replay is not
    required."""
    d = int_sq_dist(F.col(vec_col), F.col("centroid"))
    return _table_argmin(emb, cents, d, vec_col, id_col)


def centroid_list(cents: DataFrame) -> list[list[float]]:
    """(bucket, centroid) frame -> list ordered by bucket id, the form
    :func:`assign_buckets` and :func:`lloyd_assign` consume (list index
    == bucket id — deterministic_lloyd's buckets are contiguous
    0..B-1)."""
    return [list(r.centroid) for r in cents.orderBy("bucket").collect()]


def lloyd_assign(
    emb: DataFrame,
    cents: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment against a (bucket, centroid) frame for
    Lloyd training (VERDICT r8 #1): collect the B centroids, ship them
    once as a (B, d) numpy broadcast, and take the argmin per Arrow
    batch as one BLAS matmul — O(1) plan size, matmul throughput.
    Returns (id, vec, bucket).

    Ties go to the lower bucket id (np.argmin takes the first minimum),
    as in :func:`assign_buckets_exact`; float64 vs 1e-12-quantized
    distances can only disagree on pairs closer than the quantization
    step — tests/test_ann_ivf.py pins bucket-for-bucket agreement on the
    test corpus, and the hash gate replays the quantized argmin. The
    B-row collect is the standard IVF coarse-quantizer assumption (the
    centroid table fits the driver; corpora beyond that use the
    hierarchical tier — :func:`deterministic_lloyd_grouped` /
    :func:`assign_subbuckets_exact` — whose per-cell equi-join never
    materializes the global centroid set anywhere).

    Unlike :func:`assign_buckets` (which keeps B <= _CODEGEN_MAX_B in
    codegen because a SERVING plan compiles once and is reused), this
    path always vectorizes: training assignments are one-shot plans, so
    the O(B·d) literal tree's codegen COMPILE time is paid per call and
    dominates at B ~ 30 (measured r9: q184 at sf0.1 spent ~4 s/pass
    compiling 31x64-literal argmins; the Arrow argmin runs the same pass
    in well under a second)."""
    from pyspark.sql.functions import pandas_udf

    base = emb.select(id_col, vec_col)
    bc = base.sparkSession.sparkContext.broadcast(
        np.asarray(centroid_list(cents), dtype=np.float64)
    )

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(_sq_dists(mat, bc.value).argmin(axis=1).astype(np.int32))

    return base.withColumn("bucket", nearest(F.col(vec_col)))


def probe_buckets_exact(
    cents: DataFrame, query: DataFrame, nprobe: int, qvec_col: str = "qvec"
) -> DataFrame:
    """The ``nprobe`` nearest centroid buckets to a ONE-ROW query frame
    under :func:`int_sq_dist` (ties -> lower bucket id) — the
    bit-replayable twin of :func:`ivf_topk`'s numpy probe ranking, used
    where the probe set itself must be reproducible by an external
    engine (q55's hash gate; numpy's pairwise-summed float distances are
    the one non-sequential float fold in the serve path). B×1 rows: the
    'join' is a broadcast of the single query row."""
    d = int_sq_dist(F.col(qvec_col), F.col("centroid"))
    return (
        cents.crossJoin(F.broadcast(query.select(qvec_col)))
        .select("bucket", d.alias("__d"))
        .orderBy("__d", "bucket")
        .limit(nprobe)
        .select("bucket")
    )


def deterministic_lloyd(
    emb: DataFrame,
    n_buckets: int,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Seedless, engine-portable k-means: md5-smallest init, ``iters``
    Lloyd rounds with integer-quantized means, each round assigned by
    :func:`lloyd_assign`'s broadcast matmul. Returns the (bucket,
    centroid array<double>) frame. An empty bucket keeps its previous
    centroid (LEFT-join fold), so the bucket count is stable. An oracle
    replays training with :func:`int_sq_dist` argmins; where those agree
    with the matmul argmins (pinned on testdata), the centroids are
    bit-identical."""
    from pyspark.sql import Window

    # one column-pruned aggregate guarding the quantized bigint domain —
    # out-of-range corpora must fail loudly, not diverge (ADVICE r8)
    _assert_quant_domain(emb, vec_col)
    seed = (
        emb.select(
            F.md5(F.col(id_col).cast("string")).alias("__k"),
            id_col,
            # float sources cast up-front: centroids (and the means below)
            # must be float64 to match the oracle's ::DOUBLE[] (r8)
            F.col(vec_col).cast("array<double>").alias(vec_col),
        )
        .orderBy("__k", id_col)
        .limit(n_buckets)
    )
    # window over the LIMITed B-row frame only — never the corpus
    cents = seed.withColumn(
        "bucket", F.row_number().over(Window.orderBy("__k", id_col)) - 1
    ).select("bucket", F.col(vec_col).alias("centroid"))
    for _ in range(iters):
        assigned = lloyd_assign(emb, cents, vec_col, id_col)
        comp = (
            assigned.select(
                "bucket",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
            )
            .groupBy("bucket", "i")
            .agg(
                F.sum(
                    F.floor(F.col("x") * F.lit(float(_QUANT_C))).cast("bigint")
                ).alias("sx"),
                F.count("*").alias("n"),
            )
        )
        cval = (
            F.col("sx").cast("double") / F.col("n").cast("double")
        ) / F.lit(float(_QUANT_C))
        upd = (
            comp.select("bucket", "i", cval.alias("c"))
            .groupBy("bucket")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "c"))),
                    lambda s: s["c"],
                ).alias("centroid")
            )
        )
        cents = (
            cents.alias("p")
            .join(upd.alias("u"), "bucket", "left")
            .select(
                "bucket",
                F.coalesce(F.col("u.centroid"), F.col("p.centroid")).alias(
                    "centroid"
                ),
            )
        )
        # per-round materialization (the iterative-operator checkpoint
        # discipline of operators/components.py): round k's fold joins
        # the round k-1 FRAME, so without the barrier every later
        # consumer (and lloyd_assign's per-round centroid collect)
        # re-executes all prior rounds' full-corpus aggregates;
        # the frame is B rows. Values are unchanged — the oracle replays
        # the same arithmetic — and the plan audit still sees the round
        # plans (materialize is a no-op under the audit flag).
        from ..plans.registry import materialize as _materialize

        cents = _materialize(cents)
    return cents


def assign_subbuckets_exact(
    cells: DataFrame,
    cents: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    broadcast_cents: bool = False,
) -> DataFrame:
    """Per-cell argmin assignment against a (cell, sub, centroid) frame
    under :func:`int_sq_dist`; ties -> lower sub id. The join is an
    EQUI-join on the cell key — unlike the flat
    :func:`assign_buckets_exact`'s crossJoin(broadcast(B rows)), no
    centroid set is ever broadcast
    whole, so the plan survives B far beyond executor memory: each
    vector meets only its own cell's ~B/B1 sub-centroids.

    The argmin window is keyed (id, cell), not id alone: an id may
    legitimately appear in SEVERAL cells — product quantization (q223)
    feeds one row per (vec_id, subspace) and each subspace needs its own
    independent argmin. For the hierarchical-IVF shape (q222), where
    every id lives in exactly one cell, the extra key is a no-op.

    ``broadcast_cents`` marks the centroid side as broadcastable: right
    for PQ, whose codebook is a CONSTANT m·ks rows (the equi-key has
    only m distinct values, so a shuffle join would funnel the whole
    corpus through m reducers); wrong for the hierarchical tier, whose
    sub-centroid count grows ∝ N — there the default shuffle join on the
    high-cardinality cell key is the point."""
    from pyspark.sql import Window

    d = int_sq_dist(F.col(vec_col), F.col("centroid"))
    w = Window.partitionBy(id_col, cell_col).orderBy("__d", "sub")
    cside = F.broadcast(cents) if broadcast_cents else cents
    return (
        cells.select(id_col, vec_col, cell_col)
        .join(cside, cell_col)
        .withColumn("__d", d)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, vec_col, cell_col, "sub")
    )


def deterministic_lloyd_grouped(
    cells: DataFrame,
    target_block: int = 64,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    fixed_k: int | None = None,
) -> DataFrame:
    """Per-cell deterministic Lloyd: trains an independent seedless
    sub-quantizer INSIDE every level-1 cell, all cells in one
    distributed plan — the second level of a hierarchical IVF
    (two_level refs: this closes the 'corpora beyond a driver-collected
    B need a hierarchical quantizer' caveat on :func:`lloyd_assign`).
    Returns (cell, sub, centroid array<double>).

    Same engine-portable rules as :func:`deterministic_lloyd` so a SQL
    oracle can replay training end-to-end: per-cell b2 =
    greatest(1, n_cell // target_block); init = the b2 md5-smallest
    vec_ids of the cell; integer-quantized distances and means;
    empty-sub keep-prev. Every step is a groupBy/window keyed by cell —
    no per-cell driver loop, no collect, no broadcast of the (global)
    B-row centroid set.

    ``fixed_k`` overrides the corpus-scaled sizing with a CONSTANT
    per-cell codebook size b2 = least(fixed_k, n_cell) — product
    quantization (q223) wants ks codes per subspace regardless of N,
    where the hierarchical coarse quantizer (q222) wants b2 ∝ n_cell."""
    from pyspark.sql import Window

    _assert_quant_domain(cells, vec_col)
    base = cells.select(
        cell_col,
        id_col,
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    b2_expr = (
        F.least(F.lit(fixed_k), F.count("*"))
        if fixed_k is not None
        else F.greatest(F.lit(1), F.floor(F.count("*") / F.lit(target_block)))
    )
    b2 = base.groupBy(cell_col).agg(b2_expr.cast("int").alias("__b2"))
    # a fixed_k codebook is a bounded-constant frame (cells * fixed_k
    # rows, and PQ's cell count is m) — broadcast its assignment joins;
    # the corpus-scaled sizing grows ∝ N and must stay a shuffle join
    bcast = fixed_k is not None
    wk = Window.partitionBy(cell_col).orderBy("__k", id_col)
    cents = (
        base.withColumn("__k", F.md5(F.col(id_col).cast("string")))
        .withColumn("__rn", F.row_number().over(wk))
        .join(b2, cell_col)
        .filter(F.col("__rn") <= F.col("__b2"))
        .select(
            cell_col,
            (F.col("__rn") - 1).alias("sub"),
            F.col(vec_col).alias("centroid"),
        )
    )
    for _ in range(iters):
        assigned = assign_subbuckets_exact(
            base, cents, vec_col, id_col, cell_col, broadcast_cents=bcast
        )
        comp = (
            assigned.select(
                cell_col, "sub", F.posexplode(F.col(vec_col)).alias("i", "x")
            )
            .groupBy(cell_col, "sub", "i")
            .agg(
                F.sum(
                    F.floor(F.col("x") * F.lit(float(_QUANT_C))).cast("bigint")
                ).alias("sx"),
                F.count("*").alias("n"),
            )
        )
        cval = (
            F.col("sx").cast("double") / F.col("n").cast("double")
        ) / F.lit(float(_QUANT_C))
        upd = (
            comp.select(cell_col, "sub", "i", cval.alias("c"))
            .groupBy(cell_col, "sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "c"))),
                    lambda s: s["c"],
                ).alias("centroid")
            )
        )
        cents = (
            cents.alias("p")
            .join(upd.alias("u"), [cell_col, "sub"], "left")
            .select(
                cell_col,
                "sub",
                F.coalesce(F.col("u.centroid"), F.col("p.centroid")).alias(
                    "centroid"
                ),
            )
        )
    return cents


# --------------------------------------------------------------------------
# Product quantization (PQ / ADC — Jégou, Douze, Schmid, "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011; the Faiss IVFADC
# scan). Vectors are split into m contiguous subvectors; each subspace
# trains an independent ks-entry codebook; a vector's code is its m
# nearest sub-centroid ids (m·log2(ks) bits — 64-dim float64 compresses
# 64x at m=8, ks=16). Query-time asymmetric distance (ADC) precomputes an
# m×ks lookup table of query-subvector-to-centroid distances; a
# candidate's distance is then m table lookups + adds — no original
# vector is ever read at scan time, which is the property that lets a
# 100-TB corpus serve ANN from a codes table 1-2 orders of magnitude
# smaller than its embeddings. All pieces reuse the engine-portable
# integer-quantized Lloyd machinery, so the WHOLE path — training,
# encoding, LUT, ADC top-k — is bit-replayable by a SQL oracle.
# --------------------------------------------------------------------------


def pq_subvectors(
    emb: DataFrame,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_col: str = "subspace",
) -> DataFrame:
    """Explode each vector into its ``m`` contiguous subvectors:
    (id, subspace 0..m-1, subvector of d/m elements). One narrow
    projection + generator — no shuffle; d need not be known at plan
    time (slice bounds are computed from size(vec)/m per row). Float
    sources are cast to double BEFORE slicing (the repo's cross-engine
    float rule). A dimension not divisible by m raises instead of
    silently dropping the trailing d % m elements from every distance —
    the fail-loudly rule _assert_quant_domain enforces for magnitudes
    applies to shape too (an oracle truncating identically would let the
    corruption sail through the hash gate)."""
    v = F.col(vec_col).cast("array<double>")
    ds = F.when(
        F.size(v) % F.lit(m) == 0, (F.size(v) / F.lit(m)).cast("int")
    ).otherwise(
        (
            F.raise_error(
                F.format_string(
                    f"pq_subvectors: dim %s not divisible by m={m}"
                    " — the trailing elements would silently vanish from"
                    " every ADC distance; pad or re-chunk the embeddings",
                    F.size(v).cast("string"),
                )
            )
        ).cast("int")
    )
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(v, s * ds + 1, ds),
    )
    return emb.select(
        id_col, F.posexplode(subs).alias(sub_col, vec_col)
    )


def pq_train(
    subvecs: DataFrame,
    ks: int,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_col: str = "subspace",
) -> DataFrame:
    """Train the m independent per-subspace codebooks in ONE distributed
    plan: :func:`deterministic_lloyd_grouped` with the subspace id as the
    cell key and a FIXED per-cell size b2 = least(ks, n). Returns
    (subspace, sub, centroid) — `sub` is the code id 0..ks-1. Seedless
    md5-smallest init + integer-quantized rounds, so an external engine
    replays training bit-for-bit."""
    return deterministic_lloyd_grouped(
        subvecs,
        iters=iters,
        vec_col=vec_col,
        id_col=id_col,
        cell_col=sub_col,
        fixed_k=ks,
    )


def pq_encode(
    subvecs: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_col: str = "subspace",
) -> DataFrame:
    """Encode: per (id, subspace) argmin against that subspace's codebook
    under :func:`int_sq_dist` (ties -> lower code). Equi-join on the
    subspace key + per-(id, subspace) window — the codes table
    (id, subspace, code) is the ONLY thing the ADC scan reads."""
    return (
        assign_subbuckets_exact(
            subvecs,
            codebooks,
            vec_col=vec_col,
            id_col=id_col,
            cell_col=sub_col,
            broadcast_cents=True,  # PQ codebooks are a constant m·ks rows
        )
        .select(id_col, sub_col, F.col("sub").alias("code"))
    )


def pq_adc_lut(
    codebooks: DataFrame,
    query_subvecs: DataFrame,
    sub_col: str = "subspace",
    vec_col: str = "embedding",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """The m×ks asymmetric-distance lookup table: (subspace, code, dist)
    where dist is the integer-quantized squared L2 between the query's
    subvector and that code's centroid. ``key_cols`` names extra columns
    on the query side carried through (a query id for multi-query recall
    eval, a cell id for per-probed-cell residual LUTs) — the table stays
    |keys|·m·ks rows, broadcast-sized at any corpus scale. One
    construction shared by q223/q224/q226 so the LUT's distance and
    naming cannot drift between consumers."""
    keys = list(key_cols or [])
    return (
        codebooks.join(
            query_subvecs.select(*keys, sub_col, F.col(vec_col).alias("__q")),
            sub_col,
        )
        .select(
            *keys,
            sub_col,
            F.col("sub").alias("code"),
            int_sq_dist(F.col("__q"), F.col("centroid")).alias("dist"),
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    lut: DataFrame,
    k: int,
    id_col: str = "vec_id",
    sub_col: str = "subspace",
) -> DataFrame:
    """ADC scan: broadcast-join the codes table to the LUT on
    (subspace, code), sum the m per-subspace distances per id (an EXACT
    bigint sum — engine-portable), take the k smallest (ties -> lower
    id). The orderBy+limit plans as TakeOrderedAndProject: per-partition
    heap + driver merge of k rows, never a global sort. Returns
    (id, adc_dist)."""
    return (
        codes.join(F.broadcast(lut), [sub_col, "code"])
        .groupBy(id_col)
        .agg(F.sum("dist").alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def _assigned_sq_dist(
    frame: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "sq_dist",
) -> DataFrame:
    """Squared L2 to the ASSIGNED bucket's centroid — which IS the
    nearest-centroid distance, by definition of the assignment — as one
    broadcast equi-join on ``bucket`` + the declarative fold. No
    Python, no second argmin, O(N·d) at ANY B (r11: the previous form
    recomputed a full min-over-all-centroids per row, as a pandas UDF
    beyond B = 32, to obtain a value the bucket column already
    determines). ``frame`` must carry ``bucket``.

    :func:`assign_buckets` argmins this same sequential fold at every
    B (ADVICE r11), so the stored value IS the minimum distance."""
    cf = _centroid_frame(frame.sparkSession, centroids)
    return (
        frame.join(F.broadcast(cf), "bucket")
        .withColumn(out_col, _sq_dist_col(F.col(vec_col), F.col("centroid")))
        .drop("centroid")
    )


def _write_centroid_table(spark, centroids: list[list[float]], path: str) -> None:
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        # parallelize(rows, 1): a one-slice local relation writes as ONE
        # task with NO shuffle stage. The r8-measured 5 s stall was
        # specific to coalesce(1) over a multi-slice parallelized
        # relation (scheduler-side); a single-slice parallelize never
        # hits that shape, and it drops the repartition(1) exchange the
        # previous workaround paid per metadata write (VERDICT r10 #1).
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            "bucket int, centroid array<double>",
        )
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )


def save_ivf_index(
    bucketed: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the index as a parquet triple so it survives sessions.

    ``<path>/corpus`` is the bucket-assigned corpus written
    ``partitionBy(bucket)`` — on read, a probe's ``bucket IN (...)``
    predicate is a partition filter, so non-probed buckets are pruned at
    the file index and never read (scan cost ~nprobe/B of the corpus, the
    same property the in-memory path gets from a filter, but now durable).
    ``<path>/centroids`` is the tiny (bucket, centroid) table — the entire
    trained state of the quantizer, engine-portable. ``<path>/stats`` is
    one row (n, mean_sq_dist): the corpus's mean nearest-centroid squared
    distance — the baseline :func:`append_vectors`'s drift probe compares
    against, so the stale-quantizer check at append time is O(batch), not
    a corpus re-scan.
    """
    from pyspark.sql import Observation

    # (n, sum sq_dist) ride along the WRITE itself as observed metrics
    # (VERDICT r10 #1): the r10 shape re-read the just-written corpus
    # for this aggregate — column-pruned, but still a full directory
    # listing + one extra job per save. observe() collects the two
    # scalars from the exact rows the write pass streams, so the stats
    # cost zero additional passes at any corpus size.
    obs = Observation()
    (
        # co-locate each bucket before the partitioned write: without this,
        # every input partition opens a writer per bucket it touches
        # (O(tasks x B) small files); with it, each bucket lands as one
        # contiguous file set — the layout a 100 TB corpus needs anyway.
        # ``sq_dist`` (nearest-centroid squared distance) is computed in
        # the SAME pass and stored as a corpus column, so incremental
        # stats rebuilds read one pruned column (r10, VERDICT r9 #3);
        # it comes from a broadcast join on the assigned bucket — no
        # Python, no re-argmin (r11).
        _assigned_sq_dist(
            bucketed.select(id_col, vec_col, "bucket"), centroids, vec_col
        )
        .select(id_col, vec_col, "bucket", "sq_dist")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("sq_dist").alias("sum_sq"),
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/corpus")
    )
    spark = bucketed.sparkSession
    _write_centroid_table(spark, centroids, path)
    m = obs.get
    n = int(m["n"])
    mean = (float(m["sum_sq"]) / n) if n else 0.0
    _write_stats(spark, path, n, mean, has_sq=True)


def _write_stats(
    spark, path: str, n: int, mean_sq_dist: float, has_sq: bool = True
) -> None:
    """Stage-then-rename stats update: a crash during a plain overwrite
    (delete-then-write) could leave ``<path>/stats`` EMPTY, bricking
    every later append with an unnamed TypeError (r8 round-diff review).
    With the rename, a crash leaves either the old stats intact or —
    in the tiny window after the delete — no stats dir, which
    :func:`read_ivf_stats` reports with the rebuild recipe.

    The delete+rename goes through the Hadoop FileSystem resolved from
    the path itself (ADVICE r8: the previous driver-local
    shutil/os.replace silently no-opped or raised on any non-local path
    — hdfs://, s3a://, even file: URIs — while corpus/centroids went
    through Spark's Hadoop writer). On HDFS/local the rename is atomic;
    on S3A it is a copy (not atomic) — there the stats dir can be
    mid-copy visible, which read_ivf_stats surfaces as the
    rebuild-recipe error rather than wrong numbers.

    ``has_sq`` records the CORPUS LAYOUT (whether the stored files carry
    the per-row ``sq_dist`` column) so :func:`append_vectors` learns it
    from this one-row read instead of listing the whole corpus directory
    for a footer sample — the per-append filesystem round-trip VERDICT
    r10 #1 flagged. Indexes written before this column exist; readers
    treat a missing column as "unknown" and fall back to the footer."""
    stage = f"{path}/stats.staging"
    (
        # range(0,1,1,1) pins ONE partition at the source — a pure-JVM
        # one-task write with no repartition exchange and no Python
        # serialization (this row is written twice per index lifecycle
        # step; the old repartition(1) paid a shuffle stage each time)
        spark.range(0, 1, 1, 1)
        .select(
            F.lit(int(n)).cast("bigint").alias("n"),
            F.lit(float(mean_sq_dist)).alias("mean_sq_dist"),
            F.lit(bool(has_sq)).alias("has_sq"),
        )
        .write.mode("overwrite")
        .parquet(stage)
    )
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p_stage = jvm.org.apache.hadoop.fs.Path(stage)
    p_final = jvm.org.apache.hadoop.fs.Path(f"{path}/stats")
    fs = p_stage.getFileSystem(conf)
    fs.delete(p_final, True)  # recursive; False (absent) return is fine
    if not fs.rename(p_stage, p_final):
        raise IOError(
            f"IVF stats rename failed: {stage} -> {path}/stats — the old"
            " stats were deleted; run rebuild_ivf_stats(spark, path)"
        )


def read_ivf_stats(spark, path: str) -> tuple[int, float]:
    """(n, mean_sq_dist) baseline, or a NAMED error with the recovery
    recipe when the stats are missing/empty (pre-r8 index layout, or a
    crash inside a stats update)."""
    try:
        st = spark.read.parquet(f"{path}/stats").first()
    except AnalysisException as e:
        if not _is_missing_path(e):  # see _read_ivf_meta (ADVICE r11)
            raise
        st = None
    if st is None:
        raise ValueError(
            f"IVF index at {path} has no readable stats (pre-r8 layout or"
            " an interrupted update) — rebuild with"
            " rebuild_ivf_stats(spark, path), then retry the append"
        )
    return int(st["n"]), float(st["mean_sq_dist"])


def _read_ivf_meta(spark, path: str):
    """One Spark action for ALL of an index's metadata: centroids, the
    (n, mean_sq_dist) drift baseline, and the stored-layout flag
    (VERDICT r10 #1 — the append path previously paid one job for the
    stats row, one collect for the centroid table, and a full corpus
    directory listing for a schema probe, every batch). The two tiny
    parquet dirs are read as one unioned frame (allowMissingColumns
    tags each row's origin by which fields are NULL) and collected in a
    single job.

    Returns ``(centroids, n, mean_sq_dist, has_sq)`` where ``has_sq``
    is None when the stats predate the layout flag (pre-r11 index) —
    callers fall back to a corpus footer probe for those.
    Raises the same rebuild-recipe error as :func:`read_ivf_stats` when
    the stats are missing/empty."""
    cents_df = spark.read.parquet(f"{path}/centroids")
    try:
        stats_df = spark.read.parquet(f"{path}/stats")
    except AnalysisException as e:
        # only the missing-stats-dir case means "rebuild the stats";
        # corrupted footers / FS errors / permissions keep their real
        # message instead of prompting an unnecessary rebuild (ADVICE
        # r11)
        if not _is_missing_path(e):
            raise
        stats_df = None
    if stats_df is None:
        rows = None
    else:
        rows = (
            cents_df.unionByName(stats_df, allowMissingColumns=True)
            .collect()
        )
    srows = [r for r in (rows or []) if r["bucket"] is None]
    if not srows:
        raise ValueError(
            f"IVF index at {path} has no readable stats (pre-r8 layout or"
            " an interrupted update) — rebuild with"
            " rebuild_ivf_stats(spark, path), then retry the append"
        )
    crows = sorted(
        (r for r in rows if r["bucket"] is not None),
        key=lambda r: r["bucket"],
    )
    st = srows[0]
    has_sq = bool(st["has_sq"]) if "has_sq" in st.__fields__ else None
    return (
        [list(r["centroid"]) for r in crows],
        int(st["n"]),
        float(st["mean_sq_dist"]),
        has_sq,
    )


def rebuild_ivf_stats(spark, path: str) -> tuple[int, float]:
    """Recompute the drift baseline from the stored corpus + centroids —
    the recovery path for interrupted updates and pre-stats indexes.
    One corpus aggregate; safe to run any time (idempotent). New-layout
    corpora (r10+) carry the per-row ``sq_dist`` column, so the scan is
    one pruned column; pre-r10 layouts fall back to recomputing the
    distances from the vectors."""
    corpus, cents = load_ivf_index(spark, path)
    has_sq = "sq_dist" in corpus.columns
    frame = (
        corpus
        if has_sq
        else _assigned_sq_dist(corpus, cents, "embedding")
    )
    st = frame.agg(
        F.count("*").alias("n"),
        F.avg("sq_dist").alias("mean_sq_dist"),
    ).first()
    n, mean = int(st["n"]), float(st["mean_sq_dist"] or 0.0)
    # record the layout truthfully: a pre-r10 corpus stays sq_dist-less
    # after a stats rebuild, and appends must keep matching its schema
    _write_stats(spark, path, n, mean, has_sq=has_sq)
    return n, mean


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    """Just the trained quantizer state (B rows) — the append/serve paths
    that don't consume the corpus frame skip its file-index listing."""
    cents = spark.read.parquet(f"{path}/centroids").orderBy("bucket").collect()
    return [list(r.centroid) for r in cents]


def load_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """(bucketed corpus, centroids) back from :func:`save_ivf_index`.

    The corpus DataFrame carries ``bucket`` as a partition column; every
    search function in this module works on it unchanged."""
    corpus = spark.read.parquet(f"{path}/corpus")
    return corpus, load_ivf_centroids(spark, path)


def append_vectors(
    spark,
    path: str,
    delta: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_drift_ratio: float = 4.0,
) -> dict:
    """Incremental index maintenance as ONE cached plan per increment
    (VERDICT r7 #2 — the q65 treatment): assign the delta with the
    STORED centroids, probe quantizer drift with one map-combinable
    aggregate, and append into the partitioned layout — no retrain, no
    rewrite of existing partitions, no corpus scan.

    The drift probe compares the delta's mean nearest-centroid squared
    distance against the index's stored baseline (``<path>/stats``): a
    batch from the trained distribution lands near ratio 1.0; a shifted
    distribution (new domain, new encoder) inflates it. Ratio >
    ``max_drift_ratio`` means the stored centroids no longer describe
    the data — the append is REFUSED and the caller schedules the
    offline retrain (returns ``{"appended": False, "retrain": True}``);
    a per-batch automatic retrain is exactly the cost this path exists
    to avoid. Assignment + distance compute once into a persisted frame
    feeding both the probe aggregate and the append write (two actions,
    one computation); stats are folded forward so the NEXT batch's
    baseline reflects the grown corpus.

    SINGLE-WRITER assumption (ADVICE r8): the read-stats -> append ->
    write-stats sequence is not synchronized — two concurrent appenders
    would both fold from the same baseline and one batch's stats
    contribution would be lost (the corpus rows themselves are safe;
    only the drift baseline drifts). Serialize appends per index path,
    or run rebuild_ivf_stats() after a concurrent episode.
    """
    # one filesystem round-trip for ALL index metadata — centroids,
    # drift baseline, stored layout — instead of stats job + centroid
    # collect + corpus-directory footer listing per batch (VERDICT
    # r10 #1); pre-r11 stats lack the layout flag, only those pay the
    # footer probe
    cents, base_n, base_mean, has_sq = _read_ivf_meta(spark, path)
    if has_sq is None:
        has_sq = "sq_dist" in spark.read.parquet(f"{path}/corpus").columns
    assigned = _assigned_sq_dist(
        assign_buckets(delta, cents, vec_col, id_col),
        cents,
        vec_col,
        out_col="__sq",
    ).persist()
    try:
        d = assigned.agg(
            F.count("*").alias("n"), F.avg("__sq").alias("mean_sq_dist")
        ).first()
        delta_n, delta_mean = int(d["n"]), float(d["mean_sq_dist"] or 0.0)
        if delta_n == 0:
            return {"appended": False, "retrain": False, "drift_ratio": 0.0, "n": 0}
        # zero baseline (degenerate training corpus: every vector ON a
        # centroid) cannot be drifted AGAINST — any spread then reads as
        # drift, matching "these centroids carry no tolerance" semantics
        drift = delta_mean / base_mean if base_mean > 0 else (
            0.0 if delta_mean == 0 else float("inf")
        )
        if drift > max_drift_ratio:
            return {
                "appended": False, "retrain": True,
                "drift_ratio": drift, "n": delta_n,
            }
        # keep the delta's file schema IDENTICAL to the stored corpus:
        # new-layout indexes (save_ivf_index r10+) carry the sq_dist
        # column, pre-r10 ones don't — mixing schemas inside one corpus
        # dir would make plain (merge-less) reads schema-dependent on
        # which footer Spark samples. The layout flag came with the
        # stats row above (r11); only flag-less legacy indexes paid a
        # footer probe.
        out_cols = [id_col, vec_col, "bucket"] + (
            [F.col("__sq").alias("sq_dist")] if has_sq else []
        )
        (
            assigned.select(*out_cols)
            .repartition("bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(f"{path}/corpus")
        )
        # stats AFTER the corpus append (a crash between them leaves a
        # stale-but-valid baseline — recoverable via rebuild_ivf_stats;
        # the staged rename inside _write_stats keeps the file itself
        # readable through any crash, r8 round-diff review)
        new_n = base_n + delta_n
        new_mean = (base_mean * base_n + delta_mean * delta_n) / new_n
        _write_stats(spark, path, new_n, new_mean, has_sq=has_sq)
        return {
            "appended": True, "retrain": False,
            "drift_ratio": drift, "n": delta_n,
        }
    finally:
        assigned.unpersist()


def ivf_topk(
    bucketed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int,
    nprobe: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine scanning only the nprobe nearest buckets."""
    q = np.asarray(query_vec, dtype=np.float64).reshape(1, -1)
    # STABLE tie order, as the batch path's (distance, bucket) sort —
    # the default introsort could probe a different bucket set on
    # exactly-equal centroid distances (duplicate centroids from
    # k > distinct points), breaking batch/single equivalence (r7 review)
    cents = np.asarray(centroids, dtype=np.float64)
    order = np.argsort(_sq_dists(q, cents)[0], kind="stable")
    probe = [int(b) for b in order[:nprobe]]
    sim = _expr_cached(
        ("topk_sim", vec_col, tuple(float(x) for x in query_vec)),
        lambda: cosine(
            F.col(vec_col), F.array(*[F.lit(float(x)) for x in query_vec])
        ),
    )
    return (
        bucketed.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )
