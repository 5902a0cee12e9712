"""Similarity/clustering invariants not expressible as SQL oracles."""

from __future__ import annotations

import pyspark.sql.functions as F

from qa_data_pipeline_rag_llm_spark.operators.clustering import kmeans_assign
from qa_data_pipeline_rag_llm_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
)
from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY
from tests.conftest import SF_DIR


def _probes(tables):
    return tables["embeddings"].filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def test_lsh_recall_vs_bruteforce(spark, tables):
    """Approximate top-k must (a) only return true candidates with correct
    sims, (b) reach reasonable recall of the exact top-k on this corpus."""
    emb = tables["embeddings"]
    k = 5
    exact = cosine_topk(emb, _probes(tables), k=k).collect()
    approx = ann_lsh_topk(emb, _probes(tables), k=k, planes=16).collect()
    exact_pairs = {(r["probe_id"], r["vec_id"]): r["sim"] for r in exact}
    approx_pairs = {(r["probe_id"], r["vec_id"]): r["sim"] for r in approx}
    # sims for overlapping pairs are identical (same scoring expression)
    for p, s in approx_pairs.items():
        if p in exact_pairs:
            assert s == exact_pairs[p], p
    recall = len(set(approx_pairs) & set(exact_pairs)) / len(exact_pairs)
    assert recall >= 0.5, f"LSH recall {recall} too low"


def test_topk_never_exceeds_k(spark, tables):
    out = cosine_topk(tables["embeddings"], _probes(tables), k=3)
    per_probe = out.groupBy("probe_id").count().collect()
    assert all(r["count"] <= 3 for r in per_probe)


def test_kmeans_deterministic_with_seed(spark, tables):
    a = kmeans_assign(tables["embeddings"], k=5, seed=7).collect()
    b = kmeans_assign(tables["embeddings"], k=5, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len({r["cluster"] for r in a}) == 5


def test_ivf_recall_vs_bruteforce(spark, tables):
    """IVF top-k: scores exact for returned pairs; decent recall at
    nprobe/n_cells = 4/16 on this corpus; never exceeds k per probe."""
    from qa_data_pipeline_rag_llm_spark.operators.ivf import ann_ivf_topk

    emb = tables["embeddings"]
    k = 5
    exact = cosine_topk(emb, _probes(tables), k=k).collect()
    approx = ann_ivf_topk(emb, _probes(tables), k=k, n_cells=16, nprobe=4).collect()
    exact_pairs = {(r["probe_id"], r["vec_id"]): r["sim"] for r in exact}
    approx_pairs = {(r["probe_id"], r["vec_id"]): r["sim"] for r in approx}
    for p, s in approx_pairs.items():
        if p in exact_pairs:
            assert s == exact_pairs[p], p
    recall = len(set(approx_pairs) & set(exact_pairs)) / len(exact_pairs)
    assert recall >= 0.3, f"IVF recall {recall} too low"

    per_probe = {}
    for r in approx:
        per_probe[r["probe_id"]] = per_probe.get(r["probe_id"], 0) + 1
    assert all(v <= k for v in per_probe.values())


def test_sq8_refine_recall_vs_exact(spark, tables):
    """Two-stage SQ8 serving: refined top-k must substantially agree with
    the exact brute-force top-k (5× over-fetch at 64 dims keeps recall
    high), and its scores are exact cosines, so any shared (probe,
    neighbor) pair has the identical sim."""
    exact = REGISTRY["cosine_topk_embeddings"].spark(spark, SF_DIR).collect()
    sq8 = REGISTRY["ann_sq8_refine_topk"].spark(spark, SF_DIR).collect()
    exact_pairs = {(r.probe_id, r.vec_id): r.sim for r in exact}
    sq8_pairs = {(r.probe_id, r.vec_id): r.sim for r in sq8}
    assert len(sq8_pairs) == len(exact_pairs)
    hits = set(exact_pairs) & set(sq8_pairs)
    recall = len(hits) / len(exact_pairs)
    assert recall >= 0.6, f"recall@5 {recall:.2f}"
    for pair in hits:
        assert sq8_pairs[pair] == exact_pairs[pair]


def test_sq8_index_materializes_and_serves_identically(spark, tmp_path):
    """Index-build / serve separation: the quantized vector table written
    to parquet and read back (the materialized ANN index a serving
    cluster would scan) yields bit-identical qvecs — so the coarse stage
    can run from the index file with no recompute."""
    direct = REGISTRY["quantize_embeddings_int8"].spark(spark, SF_DIR)
    path = str(tmp_path / "qvec_index")
    direct.write.mode("overwrite").parquet(path)
    served = spark.read.parquet(path)
    a = {r.vec_id: list(r.qvec) for r in direct.collect()}
    b = {r.vec_id: list(r.qvec) for r in served.collect()}
    assert a == b


def test_zero_norm_vector_never_ranks_first(spark):
    """A zero embedding has no defined cosine: it must NOT appear above
    genuine neighbors (NaN/Inf sort FIRST under DESC — the pre-r03 bug
    parked a zero vector at rank 1 of every probe). The guard maps the
    undefined sim to NULL, which sorts last."""
    from qa_data_pipeline_rag_llm_spark.operators.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero-norm: undefined cosine
        (3, [0.5, 0.5, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = (
        vecs.filter("vec_id = 0")
        .selectExpr("vec_id AS probe_id", "embedding AS probe_vec")
    )
    got = cosine_topk(vecs, probes, k=2).collect()
    ranked_ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ranked_ids == [1, 3]  # genuine neighbors, zero vector displaced
    assert all(r["sim"] == r["sim"] for r in got)  # no NaN in output


def test_arrow_kernel_verdicts_match_fold(spark, tables):
    """kernel='arrow' (the production verification kernel — Spark never
    codegens HOF folds, ~11x at sf1, r10 A/B) must produce the same
    near-dup PAIRS and the same semantic_dedup keep/drop VERDICTS as
    the oracle-exact fold on the test corpus. Sim values may differ in
    the last ulp (pairwise vs sequential summation), so the assertion
    is on verdicts and pair identity, not raw sims."""
    from qa_data_pipeline_rag_llm_spark.operators.similarity import (
        embedding_near_dup,
        semantic_dedup,
    )

    emb = tables["embeddings"]
    fold_pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(emb, planes=4, cosine_threshold=0.3,
                                    dims=64, kernel="fold").collect()
    }
    arrow_pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(emb, planes=4, cosine_threshold=0.3,
                                    dims=64, kernel="arrow").collect()
    }
    assert fold_pairs == arrow_pairs and len(fold_pairs) > 0
    fold_v = sorted(map(tuple, semantic_dedup(
        emb, planes=4, cosine_threshold=0.3, dims=64, kernel="fold"
    ).collect()))
    arrow_v = sorted(map(tuple, semantic_dedup(
        emb, planes=4, cosine_threshold=0.3, dims=64, kernel="arrow"
    ).collect()))
    assert fold_v == arrow_v


def test_arrow_kernel_degenerate_batches(spark):
    """ADVICE r10: the arrow kernel must yield NULL — matching the fold's
    safe_denom semantics — on NULL embeddings, ragged lengths, and
    zero-norm rows, and must not crash on an empty batch (1-D asarray
    would raise AxisError on the axis=1 reductions)."""
    from pyspark.sql import functions as F

    from qa_data_pipeline_rag_llm_spark.functions.vectors import (
        arrow_cosine_udf,
        cosine,
    )

    rows = [
        (0, [1.0, 0.0], [1.0, 0.0]),   # sim 1.0
        (1, None, [1.0, 0.0]),         # NULL left
        (2, [1.0, 0.0], [1.0]),        # ragged
        (3, [0.0, 0.0], [1.0, 0.0]),   # zero norm
        (4, [0.0, 1.0], [1.0, 0.0]),   # sim 0.0
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    arrow = {
        r["id"]: r["s"]
        for r in df.select("id", arrow_cosine_udf()("a", "b").alias("s")).collect()
    }
    fold = {
        r["id"]: r["s"]
        for r in df.select("id", cosine(F.col("a"), F.col("b")).alias("s")).collect()
    }
    assert arrow[0] == 1.0 and arrow[4] == 0.0
    for i in (1, 3):  # NULL-for-undefined parity with the fold kernel
        assert arrow[i] is None and fold[i] is None
    assert arrow[2] is None  # ragged: undefined → NULL (fold errors by type)
    # empty batch: filter everything out, kernel must not crash
    assert (
        df.filter("id < 0")
        .select(arrow_cosine_udf()("a", "b").alias("s"))
        .count()
        == 0
    )


def test_lloyd_trainer_matches_reference(spark, tables):
    """The r12 zero-shuffle Lloyd trainer (literal-centroid argmin
    projection) must produce BIT-IDENTICAL centroids to a plain-Python
    fixed-point reference implementing the documented recursion:
    v6 = round((v+1)*1e6) as int, exact squared-L2 argmin with ties to
    the smaller cluster id, integer floor-average update, empty
    clusters dropping out."""
    from qa_data_pipeline_rag_llm_spark.operators.ivf import (
        train_centroids_lloyd,
    )

    emb = tables["embeddings"].filter(F.col("vec_id") < 200)
    got = train_centroids_lloyd(emb, n_cells=8, iters=3)

    # plain-Python reference over the collected vectors
    rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.select("vec_id", "embedding").collect()
    )

    def _v6(vec):
        # Catalyst Round(double) = BigDecimal.valueOf(d) (shortest decimal
        # repr, same as Python repr) setScale(0, HALF_UP)
        from decimal import ROUND_HALF_UP, Decimal

        out = []
        for v in vec:
            x = (float(v) + 1.0) * 1_000_000.0
            out.append(
                int(
                    Decimal(repr(x)).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
            )
        return out

    pts = [(vid, _v6(vec)) for vid, vec in rows]
    cents = sorted((vid, v6) for vid, v6 in pts[:8])
    for _ in range(3):
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for _vid, v6 in pts:
            best_c, best_d = None, None
            for cid, c6 in cents:  # increasing cid; strict < keeps first
                d = sum((x - y) * (x - y) for x, y in zip(v6, c6))
                if best_d is None or d < best_d:
                    best_d, best_c = d, cid
            acc = sums.setdefault(best_c, [0] * len(v6))
            for i, x in enumerate(v6):
                acc[i] += x
            counts[best_c] = counts.get(best_c, 0) + 1
        cents = sorted(
            (cid, [s // counts[cid] for s in acc])
            for cid, acc in sums.items()
        )
    want = sorted(
        (cid, [c / 1_000_000.0 - 1.0 for c in c6]) for cid, c6 in cents
    )
    assert got == want


def test_lloyd_trainer_zero_rows_returns_no_centroids(spark, tables):
    """A zero-row corpus trains an empty index instead of building a
    malformed ``least()`` argmin over no centroids."""
    from qa_data_pipeline_rag_llm_spark.operators.ivf import (
        train_centroids_lloyd,
    )

    emb = tables["embeddings"].filter(F.col("vec_id") < 0)
    assert train_centroids_lloyd(emb, n_cells=8, iters=3) == []


def test_dot_norm_name_path_bit_identical(spark, tables):
    """r13: dot/norm built from column NAMES parse to the same Catalyst
    expression as the Column-lambda twins — results must be bit-identical
    (the one-expr construction is a driver-time optimization only)."""
    from qa_data_pipeline_rag_llm_spark.functions.vectors import dot, norm

    emb = tables["embeddings"]
    pairs = (
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        .join(
            emb.select(
                F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
            ),
            F.col("ia") == F.col("ib") - 1,
        )
    )
    got = pairs.select(
        "ia",
        dot("va", "vb").alias("d"),
        norm("va").alias("n"),
    ).collect()
    want = pairs.select(
        "ia",
        dot(F.col("va"), F.col("vb")).alias("d"),
        norm(F.col("va")).alias("n"),
    ).collect()
    assert sorted((r["ia"], repr(r["d"]), repr(r["n"])) for r in got) == sorted(
        (r["ia"], repr(r["d"]), repr(r["n"])) for r in want
    )


def test_dot_name_path_qualified_alias(spark, tables):
    """Alias-qualified names ('a.embedding') must resolve through the
    part-wise backtick quoting."""
    from qa_data_pipeline_rag_llm_spark.functions.vectors import dot

    emb = tables["embeddings"].select("vec_id", "embedding")
    pairs = (
        emb.alias("a")
        .join(
            emb.alias("b"),
            F.col("a.vec_id") == F.col("b.vec_id") - 1,
        )
    )
    got = pairs.select(
        F.col("a.vec_id").alias("i"),
        dot("a.embedding", "b.embedding").alias("d"),
    ).collect()
    want = pairs.select(
        F.col("a.vec_id").alias("i"),
        dot(F.col("a.embedding"), F.col("b.embedding")).alias("d"),
    ).collect()
    assert sorted((r["i"], repr(r["d"])) for r in got) == sorted(
        (r["i"], repr(r["d"])) for r in want
    )
