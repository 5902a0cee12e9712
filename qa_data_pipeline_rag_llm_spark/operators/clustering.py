"""Clustering-adjacent operators: similar-items self-join (J3/M3) + M2 paths.

The reference computes, per post, the other posts of its HDBSCAN cluster
(cap 20; noise cluster −1 → empty) with a driver-side dict
(``/root/reference/PLATFORM-contextual-Chunking.py:97-113``). Here it is a
groupBy + rejoin on the cluster key — one shuffle, no driver state.

Distributed HDBSCAN does not exist in Spark ML (SURVEY.md §4 'custom-rule
assessment'), so M2 ships two stand-ins behind the same column contract:

  * :func:`kmeans_assign` — the engine's one k-means, the exact
    fixed-point Lloyd loop of ``operators/ivf.py`` (documented
    divergence: fixed k, never emits −1; deterministic, smallest-id
    init);
  * :func:`density_cluster` — deterministic DBSCAN-style density
    clustering over SRP-LSH buckets that DOES reproduce the reference's
    noise semantics (sparse region → label −1) and is fully
    oracle-checkable: dense signature-buckets (≥ min_pts members) become
    clusters labeled by their minimum member id; everything else is noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.operators.ivf import (
    lloyd_assign,
    lloyd_centroids_v6,
)
from qa_data_pipeline_rag_llm_spark.operators.similarity import srp_signatures

# Lloyd rounds behind kmeans_assign: each round is one collect of the
# k × dims centroid table (2 Spark jobs), so 3 rounds build in 8 jobs
KMEANS_ITERS = 3


def similar_items(
    df: DataFrame,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    cap: int = 20,
    noise_label: int = -1,
    out_col: str = "similar_ids",
) -> DataFrame:
    """Per row: ids of the other members of its cluster, sorted, first
    ``cap``; noise rows get an empty array."""
    members = df.groupBy(cluster_col).agg(
        F.sort_array(F.collect_list(id_col)).alias("__members")
    )
    return (
        df.join(members, cluster_col)
        .select(
            id_col,
            F.col(cluster_col),
            F.when(F.col(cluster_col) == noise_label, F.array().cast("array<string>"))
            .otherwise(
                F.slice(
                    F.array_remove(
                        F.col("__members").cast("array<string>"),
                        F.col(id_col).cast("string"),
                    ),
                    1,
                    cap,
                )
            )
            .alias(out_col),
        )
    )


def density_cluster(
    df: DataFrame,
    planes: int = 8,
    min_pts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Deterministic density clustering with HDBSCAN-parity NOISE labels
    (M2; reference: ``PLATFORM-contextual-Chunking.py:83-94``,
    min_cluster_size=5, label −1 = noise).

    Fixed-epsilon density via LSH geometry: an SRP signature over
    ``planes`` hyperplanes partitions the sphere into 2^planes angular
    cells; vectors sharing a cell are mutual neighbors within the cell's
    angular epsilon. A cell with ≥ ``min_pts`` members is a dense region
    → cluster, labeled by its minimum member id (deterministic, no RNG);
    sparser cells are noise → label −1. Unlike KMeans this needs no k,
    produces −1, and every step (projection folds, count, min) is
    oracle-replayable SQL.

    Scale: signatures are a zero-shuffle projection; the bucket
    aggregation is one map-side-combinable groupBy on ≤ 2^planes keys;
    the label join broadcasts the tiny bucket table. Returns (id, label).
    """
    sig = srp_signatures(df, planes, id_col, vec_col, dims=dims)
    buckets = sig.groupBy("sig").agg(
        F.count("*").alias("__n"), F.min(id_col).alias("__cid")
    )
    return sig.join(F.broadcast(buckets), "sig").select(
        id_col,
        F.when(F.col("__n") >= min_pts, F.col("__cid"))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("label"),
    )


def density_cluster_graph(
    df: DataFrame,
    reps: int = 4,
    planes_per_rep: int = 8,
    tau: float = 0.5,
    min_cluster_size: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    kernel: str = "fold",
) -> DataFrame:
    """High-fidelity M2 stand-in: verified-pair-graph density clustering
    (reference: ``PLATFORM-contextual-Chunking.py:83-94``,
    HDBSCAN(min_cluster_size=5)).

    :func:`density_cluster`'s single-cell rule is exactly replayable but
    brittle on real cluster geometry: ONE uncertain hyperplane splits a
    true cluster across two cells, so its agreement with exact HDBSCAN*
    measured only ARI 0.19–0.51 on planted unit-norm clusters
    (tests/test_hdbscan_parity.py, r11). This operator fixes the shatter
    with the same machinery the dedup family already trusts:

      1. ``reps`` independent SRP blockings (``planes_per_rep`` planes
         each, disjoint slices of one deterministic md5 hyperplane
         family — one zero-shuffle signature projection);
      2. candidate pairs = co-cell in ANY repetition (a cluster split by
         one rep's uncertain plane stays together in another);
      3. exact cosine verification at ``tau`` (index-order fold, the
         oracle-exact kernel — false collisions die here);
      4. connected components over verified pairs
         (:func:`operators.graph.connected_components`, two-star,
         O(log n) rounds);
      5. components with ≥ ``min_cluster_size`` members become clusters
         labeled by their minimum member id; everything else is −1.

    Measured agreement with exact HDBSCAN* on planted geometry: ARI
    0.88–0.92, noise-set Jaccard 0.82–0.87, vs planted truth ARI
    0.92–1.0 (test_hdbscan_parity.py pins these).

    Scale: stage 0 collapses EXACT-duplicate vectors to their min-id
    representative first — connectivity-exact (identical vectors always
    pass ``tau`` against each other, so they can never land in different
    components) and it is what keeps a duplicate-heavy corpus from
    quadratic pair blowup: the replica probe corpus holds every vector
    10×, which would densify candidate pairs 100× (≈300M cosines at
    sf≈1) without the collapse and costs one array-keyed groupBy with
    it. Candidate pairs over representatives are bounded per cell like
    the SRP dedup path (cells should track distinct-corpus size via
    ``planes_per_rep``); the verification is one broadcast-free pair
    join; CC rounds shrink the edge set monotonically; component sizes
    are re-expanded multiplicities, so ``min_cluster_size`` counts ROWS,
    not distinct vectors. Nothing collects to the driver.
    """
    from qa_data_pipeline_rag_llm_spark.functions.vectors import cosine
    from qa_data_pipeline_rag_llm_spark.operators.graph import (
        connected_components,
    )

    # stage 0: exact-dup collapse (vec → min-id representative + count).
    # Materialized once (r11): five downstream branches reference this
    # frame (signatures, both pair sides, the label join, the final
    # re-expansion) and would each re-run the array-keyed groupBy over
    # the raw input lazily — the checkpoint is O(distinct vectors), the
    # same bound the whole operator already lives on.
    groups = df.groupBy(F.col(vec_col)).agg(
        F.min(id_col).alias("__rep"), F.count("*").alias("__cnt")
    )
    rep_vecs = groups.select(
        F.col("__rep"), F.col(vec_col), F.col("__cnt")
    ).localCheckpoint(eager=True)

    sig = srp_signatures(
        rep_vecs, reps * planes_per_rep, "__rep", vec_col, dims=dims
    )
    mask = (1 << planes_per_rep) - 1
    cells = sig.select(
        F.col("__rep"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rep"),
                        F.shiftrightunsigned(
                            F.col("sig"), r * planes_per_rep
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("cell"),
                    )
                    for r in range(reps)
                ]
            )
        ).alias("rc"),
    ).select(
        F.col("__rep"), F.col("rc.rep").alias("rep"), F.col("rc.cell").alias("cell")
    )
    a = cells.select(F.col("rep"), F.col("cell"), F.col("__rep").alias("id_a"))
    b = cells.select(F.col("rep"), F.col("cell"), F.col("__rep").alias("id_b"))
    cand = (
        a.join(b, ["rep", "cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = rep_vecs.select(F.col("__rep").alias("id_a"), F.col(vec_col).alias("__va"))
    vb = rep_vecs.select(F.col("__rep").alias("id_b"), F.col(vec_col).alias("__vb"))
    if kernel == "arrow":
        # production verification kernel (same contract as
        # embedding_near_dup's kernel switch: ~11x on pair-heavy corpora,
        # verdict-equal but not ulp-identical to the fold — registry
        # oracles stay on the fold)
        from qa_data_pipeline_rag_llm_spark.functions.vectors import (
            arrow_cosine_udf,
        )

        cos_expr = F.round(
            arrow_cosine_udf()(F.col("__va"), F.col("__vb")), 6
        )
    else:
        cos_expr = F.round(cosine("__va", "__vb"), 6)
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(cos_expr >= F.lit(tau))
        .select("id_a", "id_b")
    )
    comp = connected_components(verified, "id_a", "id_b")
    rep_lbl = rep_vecs.join(comp, rep_vecs["__rep"] == comp.id, "left").select(
        F.col("__rep"),
        F.col(vec_col),
        F.col("__cnt"),
        F.coalesce("label", F.col("__rep")).alias("__comp"),
    )
    from pyspark.sql import Window

    # component size counts EXPANDED rows (sum of multiplicities)
    w = Window.partitionBy("__comp")
    rep_out = rep_lbl.select(
        F.col(vec_col),
        F.when(F.sum("__cnt").over(w) >= min_cluster_size, F.col("__comp"))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("label"),
    )
    # expand back to every input row via the same array-equality key
    # (null-safe: a NULL-embedding row must keep its noise label, not
    # silently drop from an equi-join)
    lhs = df.select(F.col(id_col), F.col(vec_col).alias("__lv"))
    rhs = rep_out.select(F.col(vec_col).alias("__rv"), F.col("label"))
    return lhs.join(
        rhs, F.col("__lv").eqNullSafe(F.col("__rv"))
    ).select(F.col(id_col), F.col("label"))


def kmeans_assign(
    df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign k-means cluster labels in [0, k) to an ``array<float>``
    column (M2 stand-in; semantics diverge from the reference's HDBSCAN —
    no noise label, fixed k). ``KMEANS_ITERS`` rounds of
    ``ivf.lloyd_centroids_v6``, then ``ivf.lloyd_assign``: deterministic
    (init = the k smallest-id vectors) and exact integer arithmetic.
    Returns (id, cluster); an empty cluster drops out, so a label can go
    unused; a zero-row input returns zero rows."""
    cents = lloyd_centroids_v6(df, k, KMEANS_ITERS, id_col, vec_col)
    # the trainer's cluster ids are its seeds' vector ids; renumbering in
    # cid order keeps labels in [0, k) and argmin's smaller-id tie-break
    return lloyd_assign(
        df, [(i, c6) for i, (_, c6) in enumerate(cents)], id_col, vec_col
    )
