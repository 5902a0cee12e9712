"""IVF (inverted-file) approximate nearest-neighbor search.

The second scale path for M4 next to SRP-LSH (operators/similarity.py),
mirroring FAISS's IndexIVFFlat with METRIC_INNER_PRODUCT: a tiny coarse
quantizer partitions vectors into cells; a probe searches only its
``nprobe`` best cells, then exact-reranks within the candidates.

Spark-first shape, and why it survives 100 TB:

* Cell assignment is a ZERO-SHUFFLE projection. The coarse centroids are
  a bounded literal list (here: deterministic seed vectors; production
  would train them offline with KMeans and broadcast), so the argmax over
  ``k`` inner products inlines into whole-stage codegen — no window, no
  groupBy, no cross join against a centroid table.
* Probing broadcasts the (probe → cell) map; the only shuffle in the
  whole query is the final per-probe top-k rank.
* The candidate set shrinks by ~nprobe/n_cells versus the brute-force
  scan — the linear-scan rerank is on cells, not the corpus.

Determinism contract: inner products are index-order double folds
(bit-identical to DuckDB ``list_dot_product`` over ``DOUBLE[]`` casts —
probed 2026-08-13, see plans/queries_vector.py), argmax breaks ties
toward the smaller cell id (strict ``>`` fold in cid order), so the
whole IVF pipeline is oracle-checkable — unlike LSH-parameter recall,
nothing here is left to chance.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.functions.vectors import dot, norm, safe_denom


def _dot_lit_sql(vec_col: str, weights: Sequence[float]) -> str:
    """SQL text for the index-order double fold of vec · literal-array.

    r12: built as ONE parser call instead of dims × F.lit + two Python
    lambdas — each of those is a py4j round trip, and the old per-element
    construction dominated the IVF queries' wall-clock (~3.5 s of DRIVER
    time per ann_ivf_topk build at 16 cells × 64 dims; the parsed tree is
    the same Catalyst expression, repr'd doubles round-trip exactly, so
    results are bit-identical)."""
    arr = (
        "array("
        + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in weights)
        + ")"
    )
    return (
        f"aggregate(zip_with(`{vec_col}`, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v)"
    )


def _dot_lit(vec_col: str, weights: Sequence[float]) -> Column:
    """Index-order double fold of vec · literal-array (codegen'd, no UDF).
    ``vec_col`` is the COLUMN NAME (the fold is one parsed expression)."""
    return F.expr(_dot_lit_sql(vec_col, weights))


def seed_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the vectors with the ``n_cells``
    smallest ids. Driver-side collect of a bounded tiny set (same pattern
    as similarity.hyperplane_weights); ``train_centroids_lloyd`` below is
    the offline-trained alternative for production scale — the plan
    shape downstream is unchanged (``ann_recall_ivf_trained`` measures
    the recall delta between the two)."""
    rows = (
        # orderBy+limit, not a value filter: `id < n_cells` returns zero
        # centroids (AttributeError downstream) for any id space that is
        # not dense-from-zero (review r03)
        vectors.orderBy(id_col)
        .limit(n_cells)
        .select(id_col, vec_col)
        .collect()
    )
    return sorted((r[0], list(r[1])) for r in rows)


def train_centroids_lloyd(
    vectors: DataFrame,
    n_cells: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The offline-trained coarse quantizer ``seed_centroids``'s
    docstring promised (VERDICT r09 ask #6) — deterministic fixed-point
    Lloyd's, the same arithmetic as ``kmeans_fixedpoint_embeddings``
    (``plans/queries_graph_profile.py``) so the ENTIRE trainer stays
    DuckDB-twin-able: components translate to nonnegative integers
    ``v6 = round((v+1)·1e6)`` (translation preserves distances but keeps
    floor-division identical across engines), init = the ``n_cells``
    smallest-id vectors, per round an exact-integer squared-L2 argmin
    (ties → smaller cluster id) then an integer floor-average centroid
    update. Returns float centroids ``c6/1e6 − 1`` — identical IEEE
    doubles from identical integers in any engine.

    Scale shape (r13, VERDICT r12 ask #4): the r12 trainer ran one
    pos-join + TWO corpus-sized shuffles per round (the flattened
    (vid, pos, v6) frame through groupBy(vid, cluster) then a re-join);
    this one assigns with ONE parsed SQL expression — an exact-integer
    squared-L2 argmin over literal centroid arrays (the k × dims
    centroid table collects to the driver each round: bounded state,
    the same bound ``seed_centroids`` lives on) — so assignment is a
    zero-shuffle projection and the only exchange per round is the
    map-side-combined groupBy(cluster, pos) update (output bounded at
    k × dims rows per task). Re-adjudicated at sf≈1 where shuffle bytes
    dominate (interleaved A/B, SCALING.md): 10.4–11.7 s → 1.65–2.06 s
    per train call (6.3×), and 1.40 → 1.03 s at sf0.1 — centroid lists
    EXACTLY equal at both scales (same v6 translation, same
    lexicographic (dist, cid) tie-break, same floor average; pinned by
    tests/test_similarity.py::test_lloyd_trainer_matches_reference).
    An empty cluster simply drops out of the floor-average (GROUP BY
    semantics, mirrored by the SQL twin) and the index serves fewer
    cells."""
    v6f = (
        vectors.select(
            F.col(id_col).alias("vid"),
            F.expr(
                f"transform(`{vec_col}`, x -> CAST(round((CAST(x AS "
                "DOUBLE) + 1.0) * 1000000) AS BIGINT))"
            ).alias("v6"),
        )
        # the integer translation feeds every round AND the seed collect;
        # one materialization. unpersist() cannot release a checkpoint:
        # its blocks go when the ContextCleaner collects v6f after return
        .localCheckpoint(eager=True)
    )
    seeds = v6f.orderBy("vid").limit(n_cells).collect()
    cents: list[tuple[int, list[int]]] = sorted(
        (int(r["vid"]), list(r["v6"])) for r in seeds
    )
    if not cents:  # zero-row input: no centroids, an empty index
        return []

    def argmin_sql(cs: list[tuple[int, list[int]]]) -> str:
        # exact integer squared-L2 per centroid; least() over
        # (dist, cid) structs is the lexicographic min — the same
        # tie-break as the r12 trainer's F.min(struct(dist, cluster))
        terms = []
        for cid, c6 in cs:
            arr = (
                "array(" + ", ".join(f"{int(x)}L" for x in c6) + ")"
            )
            d = (
                f"aggregate(zip_with(v6, {arr}, "
                "(x, y) -> (x - y) * (x - y)), 0L, "
                "(acc, v) -> acc + v)"
            )
            terms.append(
                f"named_struct('dist', {d}, 'cluster', {int(cid)})"
            )
        if len(terms) == 1:
            return f"{terms[0]}.cluster"
        return f"least({', '.join(terms)}).cluster"

    for _ in range(iters):
        rows = (
            v6f.select(
                F.expr(argmin_sql(cents)).alias("cluster"), "v6"
            )
            .select("cluster", F.posexplode("v6").alias("pos0", "val"))
            .groupBy("cluster", "pos0")
            .agg(F.expr("sum(val) div count(*)").cast("long").alias("c6"))
            .collect()
        )
        by_c: dict[int, dict[int, int]] = {}
        for r in rows:
            by_c.setdefault(int(r["cluster"]), {})[int(r["pos0"])] = int(
                r["c6"]
            )
        cents = sorted(
            (cid, [d[p] for p in sorted(d)]) for cid, d in by_c.items()
        )
    return sorted(
        (cid, [x / 1_000_000.0 - 1.0 for x in c6]) for cid, c6 in cents
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): each vector goes to the centroid with the highest inner
    product (ties → smaller cell id). Pure projection — no shuffle.

    The ``n_cells`` dot products are materialized as columns FIRST, then the
    argmax folds over column references — keeping the expression tree linear
    in ``n_cells`` (folding over the raw dot expressions doubles the tree per
    step: 2^n nodes by 16 centroids, which stalls analysis/codegen).

    r12: the input is spread across cores first (guide §2.5 input skew —
    a single-file parquet scan plans as ONE task, and with no shuffle in
    this projection the n_cells × dims interpreted fold per row would
    all run on one core; measured 3.0 → 0.9 s on the sf0.1 seeded-IVF
    query).

    No centroids (a zero-row corpus seeds none) means no cells: every
    vector gets a NULL ``cell``, which joins no probe cell."""
    from qa_data_pipeline_rag_llm_spark.operators.util import (
        ensure_parallelism,
    )

    if not centroids:
        return vectors.select(
            F.col(id_col), F.col(vec_col), F.lit(None).cast("int").alias("cell")
        )

    vectors = ensure_parallelism(vectors)
    dps = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        *[_dot_lit(vec_col, w).alias(f"_dp{cid}") for cid, w in centroids],
    )
    best_dp: Column | None = None
    best_cid: Column | None = None
    for cid, _ in centroids:  # increasing cid; strict > keeps the earliest
        dp = F.col(f"_dp{cid}")
        if best_dp is None:
            best_dp, best_cid = dp, F.lit(cid)
        else:
            best_cid = F.when(dp > best_dp, F.lit(cid)).otherwise(best_cid)
            best_dp = F.greatest(dp, best_dp)
    return dps.select(
        F.col(id_col), F.col(vec_col), best_cid.alias("cell")
    )


def ivf_probe_cells(
    probes: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    nprobe: int,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
) -> DataFrame:
    """(probe_id, cell): the ``nprobe`` best cells per probe. The probe set
    is small by contract; the explode + rank touches probes × n_cells rows.
    No centroids means no cells to probe: an empty frame."""
    if not centroids:
        return probes.select(
            F.col(probe_id), F.lit(None).cast("int").alias("cell")
        ).limit(0)
    pairs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('cid', {int(cid)}, "
            f"'dp', {_dot_lit_sql(probe_vec, w)})"
            for cid, w in centroids
        )
        + ")"
    )
    exploded = probes.select(
        probe_id, F.explode(pairs).alias("c")
    ).select(probe_id, F.col("c.cid").alias("cell"), F.col("c.dp").alias("dp"))
    w_rank = Window.partitionBy(probe_id).orderBy(F.desc("dp"), F.col("cell"))
    return (
        exploded.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= nprobe)
        .select(probe_id, "cell")
    )


def ann_ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    centroids: Sequence[tuple[int, Sequence[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k: scan only the probe's ``nprobe`` cells, exact
    cosine rerank within the candidates. ``centroids`` injects a
    trained coarse quantizer (``train_centroids_lloyd``); None keeps
    the cheap deterministic seeding."""
    if centroids is None:
        centroids = seed_centroids(vectors, n_cells, id_col, vec_col)
    assigned = ivf_assign(vectors, centroids, id_col, vec_col).withColumn(
        "_vn", norm(vec_col)
    )
    cells = ivf_probe_cells(probes, centroids, nprobe, probe_id, probe_vec)
    probe_full = probes.join(cells, probe_id).withColumn(
        "_pn", norm(probe_vec)
    )
    cand = assigned.join(
        F.broadcast(probe_full),
        (assigned["cell"] == probe_full["cell"])
        & (F.col(id_col) != F.col(probe_id)),
    )
    scored = cand.select(
        probe_id,
        id_col,
        F.round(
            dot(vec_col, probe_vec) / safe_denom(F.col("_vn") * F.col("_pn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy(probe_id).orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id, id_col, "sim", "rank")
    )
