"""Connected components over near-dup pair edges — the cluster-resolution
stage of dedup (pairs say "A~B"; curation needs "keep one doc per
cluster", which requires the transitive closure).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
published O(log n)-round method, entirely in DataFrame ops:

- **large-star**: per node u over the symmetric adjacency, m = min of
  the closed neighborhood; every *larger* neighbor v > u is re-pointed
  at m (emit (v, m)).
- **small-star**: per node u over big->small oriented edges, m = min
  neighbor; every smaller neighbor and u itself are pointed at m.

Each phase is one shuffle (groupBy u + join back); the pair of phases
contracts long chains exponentially, so rounds ~ O(log diameter)
instead of O(diameter) for plain min-label propagation (VERDICT r1
item 9 — a 10^6-long chain converges in ~20 rounds, not 10^6). At the
fixed point the edge set is exactly the star {(node, component_min)}.

The checkpoint-per-round truncates the lineage (an unbounded iterative
plan otherwise grows until analysis cost dominates) — standard practice
for iterative DataFrame algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import truncate_lineage


def _with_min(edges: DataFrame) -> DataFrame:
    """(u, v) -> (u, v, m) where m = min(closed neighborhood of u)."""
    mins = (
        edges.groupBy("u")
        .agg(F.min("v").alias("_mnv"))
        .select("u", F.least(F.col("u"), F.col("_mnv")).alias("m"))
    )
    return edges.join(mins, "u")


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (v, m) for every neighbor v > u. Input may be any orientation;
    operates on the symmetrized adjacency. Output is big->small oriented."""
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    return (
        _with_min(sym)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Input big->small oriented (u > v). Point u and all its smaller
    neighbors at the minimum neighbor m. Output stays big->small."""
    withm = _with_min(edges)
    nbrs = withm.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = withm.select("u", "m").distinct().select("u", F.col("m").alias("v"))
    return nbrs.unionAll(self_edges).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    _stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in the edge list;
    cluster_id = min node id of the component. ``_stats`` (when a dict is
    passed) receives {"rounds": n} for round-count assertions.

    ``checkpoint_dir=None`` truncates each round via localCheckpoint
    (executor storage — fast, not executor-loss-tolerant); pass a
    reliable dir to survive executor loss on long jobs — see
    operators/checkpointing.py."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # LAZY checkpoint: nodes is only consumed by the final join, so its
    # materialization folds into that action instead of costing a
    # dedicated up-front job (r9: the family is many-small-jobs bound)
    nodes = truncate_lineage(nodes, checkpoint_dir, eager=False)
    cur = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cur = truncate_lineage(cur, checkpoint_dir, eager=True)

    converged = False
    rounds = 0
    n_cur = cur.count()
    for _ in range(max_iter):
        rounds += 1
        # ONE job per round (r9 — was 2-3: eager checkpoint, count, and
        # an anti-join probe on count ties): the lazy checkpoint
        # materializes inside the same action that computes the
        # convergence stats, and the stats fold size + subset-test into
        # one aggregate. Both sides are distinct sets, so
        # (no row of new outside cur) + count-equal ⇒ equal.
        new = truncate_lineage(
            _small_star(_large_star(cur)), checkpoint_dir, eager=False
        )
        stf = (
            new.join(
                cur.withColumn("__old", F.lit(1)), ["u", "v"], "left"
            )
            .agg(
                F.count("*").alias("n"),
                F.count(F.when(F.col("__old").isNull(), 1)).alias("fresh"),
            )
        )
        # expose this round's real plan (large-star/small-star shuffles +
        # the convergence aggregate) to the plan audit — the loop's
        # checkpoints hide it from the registry-level explain (VERDICT r9)
        from ..plans.registry import audit_round

        audit_round("connected_components:round", stf)
        st = stf.first()
        n_new = st["n"]
        if st["fresh"] == 0 and n_new == n_cur:
            converged = True
            cur = new
            break
        cur, n_cur = new, n_new
    if not converged:
        # returning mid-contraction edges would silently split true
        # clusters (diameter beyond max_iter's reach) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "raise max_iter (component diameter exceeds it)"
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    stars = cur.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return nodes.join(stars, nodes.node == stars.u, "left").select(
        "node", F.coalesce("cluster_id", "node").alias("cluster_id")
    )


def attach_clusters(
    docs: DataFrame, comp: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """``docs`` plus a ``cluster_id`` column from a precomputed
    ``(node, cluster_id)`` components frame, with singleton closure (a
    doc in no pair is its own cluster). The Spark twin of
    llm_ops.closure_ctes()'s comp CTE plus the documents LEFT JOIN."""
    c = comp.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("__cid")
    )
    return (
        docs.join(c, id_col, "left")
        .withColumn("cluster_id", F.coalesce("__cid", F.col(id_col)))
        .drop("__cid")
    )


def assign_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`attach_clusters` over freshly-computed components — shared
    by q157 (survivor pick) and q203 (cluster-keyed split) so the two
    queries' cluster definitions cannot drift. Input columns ride along.
    Queries in the q54 family use :func:`family_components` instead so
    the CC stage is paid once per session."""
    return attach_clusters(docs, connected_components(pairs), id_col)


# --- Shared cluster-family stage (VERDICT r8 #2) ---------------------------
#
# q54/q157/q203/q205 all start from the SAME banded-minhash pair table
# (threshold 0.2, stop-bucket capped) and three of them run the SAME
# connected components over it, so both are session stages.


def family_signatures(spark, sf_dir: str) -> DataFrame:
    """Session-memoized minhash SIGNATURE table (doc_id, s0..s15) over
    ``documents`` — the q89 persisted-index shape. Every banding plan is
    a narrow recut of these 16 columns (dedup.bands_from_sig /
    band_cols_from_sig), so the corpus is tokenized + shingle-hashed
    ONCE per session instead of once per LSH query; this is exactly the
    stored-signature-index contract the operators already document
    ("switching thresholds is a band-key recut, not a corpus pass").
    Consumers: both pair families below, q68/q87/q89/q172/q204."""
    from ..plans.registry import audit_round, stage
    from ..tables import load
    from . import dedup as DD

    def build():
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).repartition(spark.sparkContext.defaultParallelism)
        gen = DD.minhash_table(docs)
        audit_round("family_signatures:gen", gen)
        return gen.localCheckpoint(eager=True)

    return stage("family/signatures", spark, sf_dir, (), build)


def family_default_bands(spark, sf_dir: str) -> DataFrame:
    """Default-plan (id, band, band_key) long band table cut from
    :func:`family_signatures` — identical keys to dedup.minhash_bands,
    zero hashing."""
    from . import dedup as DD

    return DD.bands_from_sig(
        family_signatures(spark, sf_dir), DD.BANDS, DD.ROWS_PER_BAND
    )


def family_pairs(
    spark, sf_dir: str, threshold: float = 0.2, cap: int | None = None
) -> DataFrame:
    """Session-memoized verified near-dup pair table (id_a, id_b) over
    ``documents`` — the q24-recipe banded generator, checkpointed so
    every family member (and the CC stage) reads stored blocks."""
    from ..plans.registry import audit_round, stage
    from ..tables import load
    from . import dedup as DD

    cap = DD.DEFAULT_BUCKET_CAP if cap is None else cap

    def build():
        gen = DD.minhash_lsh_pairs(
            load(spark, sf_dir, "documents"),
            threshold=threshold,
            max_bucket_size=cap,
            bands=family_default_bands(spark, sf_dir),
        ).select("id_a", "id_b")
        # the pair-gen plan is hidden behind this checkpoint from every
        # family member's registry-level explain — capture it for the
        # plan audit (whichever member builds the stage carries it)
        audit_round("family_pairs:gen", gen)
        pairs = gen.localCheckpoint(eager=True)
        DD.release_caches()
        return pairs

    return stage("family/pairs", spark, sf_dir, (threshold, cap), build)


def family_pairs_uncapped(
    spark, sf_dir: str, threshold: float = 0.2
) -> DataFrame:
    """Session-memoized UNCAPPED verified near-dup pair table
    (id_a, id_b, jaccard) over ``documents`` — q24's exact output shape,
    reused by q91 (PageRank over the near-dup graph) and q201 (recall
    eval of the same banding). All three ran the identical banded-LSH +
    exact-Jaccard pipeline per query; the pair table is the natural
    materialized intermediate. :func:`family_pairs` serves the CAPPED
    table to the q54 family — a different result set, hence a separate
    stage kind."""
    from ..plans.registry import audit_round, stage
    from ..tables import load
    from . import dedup as DD

    def build():
        gen = DD.minhash_lsh_pairs(
            load(spark, sf_dir, "documents"),
            threshold=threshold,
            bands=family_default_bands(spark, sf_dir),
        ).select("id_a", "id_b", "jaccard")
        audit_round("family_pairs_uncapped:gen", gen)
        pairs = gen.localCheckpoint(eager=True)
        DD.release_caches()
        return pairs

    return stage("family/pairs_uncapped", spark, sf_dir, (threshold,), build)


def family_components(
    spark, sf_dir: str, threshold: float = 0.2, cap: int | None = None
) -> DataFrame:
    """Session-memoized ``(node, cluster_id)`` components over
    :func:`family_pairs` — q54's exact output, reused by q157/q203."""
    from ..plans.registry import audit_round, stage
    from . import dedup as DD

    cap = DD.DEFAULT_BUCKET_CAP if cap is None else cap

    def build():
        comp = connected_components(family_pairs(spark, sf_dir, threshold, cap))
        audit_round("family_components:final_join", comp)
        return comp.localCheckpoint(eager=True)

    return stage("family/comp", spark, sf_dir, (threshold, cap), build)
