"""Public facade: what a user of the reference calls after switching.

The reference exposes three entry points (SURVEY.md §3): the 7-script
batch ETL, the embed/cluster index build, and the per-chat-message RAG
serving flow (``/root/reference/app2.py:133-247`` — reload CSVs, embed
the question, Qdrant top-1, pandas point lookups + isin filters, prompt
Ollama). This module is that surface as a handful of composable
functions over DataFrames — each a thin parameterized veneer over the
operator library, so everything here inherits the oracle-checked
semantics of the underlying registry queries.

Determinism note: :func:`ask` runs with whatever embed/LLM backends are
configured (``functions/embed.py`` / ``functions/llm.py`` seams); the
defaults are the deterministic fakes, so tests can assert exact output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

# Re-exported pipeline stages (entry point 1: clean → rank → join → merge)
from qa_data_pipeline_rag_llm_spark.operators.clustering import (  # noqa: F401
    density_cluster,
    kmeans_assign,
    similar_items,
)
from qa_data_pipeline_rag_llm_spark.operators.joins import (  # noqa: F401
    enrich_with_child_ids,
)
from qa_data_pipeline_rag_llm_spark.operators.merge import (  # noqa: F401
    dedup_first,
    union_corpus,
)
from qa_data_pipeline_rag_llm_spark.operators.normalize import (  # noqa: F401
    normalize_reddit_comments,
    normalize_reddit_posts,
    normalize_stack_answers,
    normalize_stack_questions,
)
from qa_data_pipeline_rag_llm_spark.operators.ranking import (  # noqa: F401
    top_k_per_group,
)
from qa_data_pipeline_rag_llm_spark.operators.similarity import (
    cosine_topk_one_probe,
)


def embed_corpus(
    df: DataFrame, text_col: str = "text", out_col: str = "embedding"
) -> DataFrame:
    """Entry point 2, step 1: add an embedding column via the configured
    backend (Arrow-batched; deterministic fake unless injected)."""
    from qa_data_pipeline_rag_llm_spark.functions.embed import embed_text

    return df.withColumn(out_col, embed_text(F.col(text_col)))


def retrieve(
    vectors: DataFrame,
    query_vector: list[float],
    k: int = 5,
    threshold: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Parameterized similarity retrieval (S7/M4): exact cosine top-k of an
    ARBITRARY query vector against the corpus, thresholded — app2.py:32-45
    without the fixed probe the registry demo uses. Returns (id, sim,
    rank), ranked by sim desc then id, the rows and ranks of the
    registry's ``cosine_topk``. The query vector rides as a one-row
    broadcast probe, and a single probe ranks with one ordered take
    (``similarity.cosine_topk_one_probe``), not the multi-probe
    two-shuffle top-k."""
    spark = vectors.sparkSession
    # probe_id = -1: the scoring step excludes id collisions (self-match
    # when probing with a corpus row); an external query vector must
    # exclude nothing, and corpus ids are non-negative
    probe = spark.createDataFrame(
        [(-1, [float(x) for x in query_vector])],
        "probe_id int, probe_vec array<double>",
    )
    out = cosine_topk_one_probe(vectors, probe, k=k, id_col=id_col, vec_col=vec_col)
    return out.filter(F.col("sim") >= threshold).drop("probe_id")


def ask(
    spark: SparkSession,
    question: str,
    documents: DataFrame,
    k: int = 5,
    threshold: float = 0.0,
) -> DataFrame:
    """Entry point 3 as ONE plan (app2.py:133-247 per-message flow):
    embed the corpus AND the question with the same configured backend
    (one vector space — mixing a pre-built index from a different model
    with a fresh question embedding is the classic serving bug) →
    cosine top-k ≥ threshold → join context docs → rank-ordered
    grounded prompt → batched generation. Returns (n_docs,
    prompt_chars, answer). The question is the one probe, so the top-k
    is one ordered take, as in :func:`retrieve`. The corpus is embedded
    on every call; for a pre-computed index from the SAME backend, use
    :func:`retrieve` + your own prompt assembly."""
    from qa_data_pipeline_rag_llm_spark.functions.embed import embed_text
    from qa_data_pipeline_rag_llm_spark.functions.llm import generate_text

    vectors = documents.select(
        F.col("doc_id").alias("vec_id"), embed_text(F.col("text")).alias("embedding")
    )
    q = spark.createDataFrame([(question,)], "q string").select(
        F.lit(-1).alias("probe_id"), embed_text(F.col("q")).alias("probe_vec")
    )
    top = (
        cosine_topk_one_probe(vectors, q, k=k)
        .filter(F.col("sim") >= threshold)
        .select("vec_id", "rank")
    )
    assembled = (
        top.join(documents.select("doc_id", "text"), top.vec_id == F.col("doc_id"))
        .groupBy()
        .agg(
            F.count("*").alias("n_docs"),
            F.concat(
                F.lit("Answer from context.\nContext:\n"),
                F.concat_ws(
                    "\n\n",
                    F.array_sort(F.collect_list(F.struct("rank", "text"))).text,
                ),
            ).alias("prompt"),
        )
    )
    return assembled.select(
        "n_docs",
        F.length("prompt").cast("long").alias("prompt_chars"),
        generate_text(F.col("prompt")).alias("answer"),
    )


def approx_distinct(
    df: DataFrame, col: str, by: list[str] | None = None
) -> DataFrame:
    """Deterministic-HLL distinct count per group (operators/hll.py).

    The facade for the mergeable-summary layer: same register algebra
    the registry's hll_* queries verify cross-engine, exposed the way
    Spark's own approx_count_distinct is — but reproducible bit-for-bit
    across engines and runs. Returns (by..., v, est).
    """
    from pyspark.sql import functions as F  # local: keep facade thin

    from qa_data_pipeline_rag_llm_spark.operators import hll

    by = list(by or [])
    regs = (
        df.where(F.col(col).isNotNull())
        .select(*by, *hll.register_cols(col))
        .groupBy(*by, "bucket")
        .agg(F.max("r").alias("m_reg"))
    )
    if not by:
        regs = regs.select(F.lit(1).alias("__g"), "bucket", "m_reg")
        return hll.estimate(regs, ["__g"]).drop("__g")
    return hll.estimate(regs, by)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    by: str,
    key_col: str | None = None,
    validate: bool = True,
) -> DataFrame:
    """A-ExpJ weighted reservoir per group (the registry's
    weighted_reservoir_documents as a parameterized facade): top-k rows
    by ln(u)/weight with u a deterministic md5 uniform of ``key_col``.

    ``key_col`` must uniquely identify rows — duplicate keys share u, so
    their selection probabilities would silently correlate (ADVICE r05).
    Passing key_col explicitly asserts uniqueness (no extra scan); when
    it is omitted and the first column is used by convention, that
    column IS validated (``dedup.has_duplicate_keys``) so a non-unique
    positional key raises instead of silently distorting the sample.
    That safety pass runs an EAGER Spark job at call time; callers who
    need the pre-r6 single-scan laziness can pass ``validate=False``
    (or, better, an explicit unique ``key_col`` — no extra scan either
    way) and own the uniqueness guarantee themselves (ADVICE r06)."""
    from pyspark.sql import functions as F

    from qa_data_pipeline_rag_llm_spark.operators import dedup, hll
    from qa_data_pipeline_rag_llm_spark.operators.ranking import (
        salted_top_k,
    )

    key = key_col or df.columns[0]
    if key not in df.columns:
        raise ValueError(f"key_col {key!r} not in {df.columns}")
    if key_col is None and validate and dedup.has_duplicate_keys(df, key):
        raise ValueError(
            f"weighted_sample positional key {key!r} is not unique: "
            "duplicate keys share the deterministic uniform u and "
            "distort selection probabilities — pass a unique row id "
            "as key_col"
        )
    u_num = F.expr(hll.spark_w_sql(key)) + 1
    score = F.log(u_num.cast("double") / F.lit(float(1 << 60))) / F.col(
        weight_col
    )
    return salted_top_k(
        df.where(F.col(weight_col) > 0).withColumn("__res_key", score),
        [by],
        [F.col("__res_key").desc(), F.col(key)],
        k,
        salt_col=key,
        rank_col="rank",
    ).drop("__res_key")


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    validate: bool = True,
) -> DataFrame:
    """Curation verdicts for ANY documents-shaped frame — the
    parameterized facade over the registry's oracle-checked
    curation_decisions pipeline: the Gopher hard-rule gate plus the
    MinHash-LSH → connected-component near-dup prune, composed into one
    (rule_keep, dedup_kept, keep, reason) row per doc. The prune keeps
    the minimum id among each cluster's RULE-PASSING members (falling
    back to the cluster's global min when none pass), so a duplicate
    cluster survives whenever ANY copy clears the quality gate. A NULL
    id is no document: its row gets no verdict.

    ``id_col`` must uniquely identify rows and be totally ordered (the
    survivor choice needs a deterministic order); ``validate=True``
    raises ``ValueError`` at call time on duplicate ids (two NULL ids
    count as a duplicate), on both paths below.

    Scale shape: (doc_id, rule_keep, distinct shingle set) is
    materialized ONCE (an eager ``localCheckpoint``, which also counts
    its rows and its sets' bytes as observed metrics), so the caller's
    lineage (a CSV read, windows, joins), the Gopher gate and the
    shingle UDF each run once per document. Then one of two paths:

    * at most ``graph.LOCAL_FINISH_ROWS`` documents whose sets fit the
      session's ``spark.sql.autoBroadcastJoinThreshold`` (the
      verification below broadcasts every set): the driver collects
      (doc_id, rule_keep, LSH band keys), checks id uniqueness on those
      rows, pairs the docs whose band keys are equal and, at most
      ``LOCAL_FINISH_ROWS`` candidate pairs, hands them back as a local
      frame to ``dedup._verify_jaccard`` (the Jaccard and its rounding
      stay Spark's), union-finds the verified edges
      (``graph.union_find``) and picks each cluster's survivor. The
      verdicts come back as an Arrow ``LocalTableScan``: collecting them
      starts no job. Eager: 4 jobs — the checkpoint, the collect, and
      the verification's broadcast and collect.
    * above any of those bounds (or with duplicate ids and
      ``validate=False``): the distributed plan over the checkpoint —
      the unique-id guard (one eager aggregate, with ``validate``; none
      after a candidate-pair overflow, whose collect already proved the
      ids unique), the banded near-dup pipeline (never O(n²); after an
      overflow it recomputes the band keys that collect held),
      two-star components on the pair graph
      (eager; on the driver at ≤ ``LOCAL_FINISH_ROWS`` edges, else
      O(log n) rounds), and 1:1 doc_id joins, returned lazily.
    """
    from qa_data_pipeline_rag_llm_spark.functions.text import word_shingles
    from qa_data_pipeline_rag_llm_spark.operators import graph
    from qa_data_pipeline_rag_llm_spark.operators.dedup import (
        _assert_unique_ids,
        set_lsh_pairs,
    )
    from qa_data_pipeline_rag_llm_spark.operators.util import (
        ensure_parallelism,
    )
    from qa_data_pipeline_rag_llm_spark.plans.queries_curation import (
        gopher_verdict,
    )

    # the checkpoint job counts its rows and the bytes of its shingle
    # sets as it runs (observed metrics), so the driver-finish decision
    # costs no job of its own. The bytes are about what a broadcast of
    # the sets holds: each string's UTF-8 bytes plus its 8-byte
    # offset-and-length word (UnsafeArrayData)
    seen = Observation()
    base = (
        gopher_verdict(
            df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            carry=("text",),
        )
        .select(
            "doc_id",
            F.col("keep").alias("rule_keep"),
            F.array_distinct(word_shingles("text", shingle_n)).alias("shset"),
        )
        .observe(
            seen,
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.aggregate(
                    "shset",
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + F.octet_length(s) + 8,
                )
            ).alias("set_bytes"),
        )
        .localCheckpoint(eager=True)
    )
    sets = base.select(F.col("doc_id").alias("doc"), "shset")
    ids_checked = False
    if seen.get["n"] <= graph.LOCAL_FINISH_ROWS and (
        seen.get["set_bytes"] or 0
    ) <= _broadcast_threshold(base.sparkSession):
        local = _curate_locally(
            base, sets, num_perm, bands, jaccard_threshold, validate
        )
        if local is not None:
            return local
        # with validate, a repeated id has raised in there: only the
        # candidate-pair bound gets here, over ids it proved unique
        ids_checked = True
    if validate and not ids_checked:
        _assert_unique_ids(base, "doc_id")
    pairs = set_lsh_pairs(
        ensure_parallelism(sets), num_perm, bands, jaccard_threshold
    )
    labels = graph.connected_components(pairs, src="doc_a", dst="doc_b")
    clusters = base.select("doc_id").join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    )
    # isolated docs are their own cluster -> trivially kept
    clusters = clusters.select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
    )
    # Dedup survivor = min id among the cluster's RULE-PASSING members
    # (advice r09: keeping the global min unconditionally dropped whole
    # clusters whenever the min-id copy happened to fail the Gopher
    # gate, losing recoverable content a passing duplicate carried).
    # A cluster with no passing member falls back to the global min so
    # dedup_kept stays defined — every copy drops as 'quality' anyway.
    # _curate_locally applies this survivor, keep and reason policy in
    # Python: a change here is a change there.
    w = Window.partitionBy("cluster_id")
    merged = base.select("doc_id", "rule_keep").join(clusters, "doc_id")
    survivor = F.coalesce(
        F.min(F.when(F.col("rule_keep"), F.col("doc_id"))).over(w),
        F.min("doc_id").over(w),
    )
    joined = merged.withColumn("dedup_kept", F.col("doc_id") == survivor)
    reason = (
        F.when(~F.col("rule_keep"), "quality")
        .when(~F.col("dedup_kept"), "near_dup")
        .otherwise("keep")
    )
    return joined.select(
        "doc_id",
        "cluster_id",
        "rule_keep",
        "dedup_kept",
        (F.col("rule_keep") & F.col("dedup_kept")).alias("keep"),
        reason.alias("reason"),
    )


def _broadcast_threshold(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (-1, broadcasts off, stays -1); Spark's byte-string suffixes
    (``10m``, ``64MB``, ``1g``) read as powers of 1024."""
    import re

    m = re.fullmatch(
        r"\s*(-?\d+)\s*([kmgtp]?)b?\s*",
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold").lower(),
    )
    return int(m[1]) << 10 * "_kmgtp".index(m[2] or "_")


def _curate_locally(
    base: DataFrame,
    sets: DataFrame,
    num_perm: int,
    bands: int,
    jaccard_threshold: float,
    validate: bool,
) -> DataFrame | None:
    """:func:`curate`'s verdicts finished on the driver from one collect
    of the checkpoint's (doc, rule_keep, band keys) rows — the caller
    has counted at most ``graph.LOCAL_FINISH_ROWS`` of them — or None
    when their band collisions give more than that many candidate
    pairs, or (with ``validate=False``) an id repeats: the distributed
    plan's answer to duplicates is its own. With ``validate=True`` a
    repeated id raises, so a None then means the ids are unique. Rows,
    types and SQL three-valued logic (a NULL ``rule_keep`` passes no
    gate and fails none) are the distributed plan's."""
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    from qa_data_pipeline_rag_llm_spark.operators import graph
    from qa_data_pipeline_rag_llm_spark.operators.dedup import (
        _duplicate_ids,
        _verify_jaccard,
        band_keys,
        shingle_signatures,
    )

    bound = graph.LOCAL_FINISH_ROWS
    keyed = shingle_signatures(
        base.select(F.col("doc_id").alias("doc"), "rule_keep", "shset"),
        num_perm,
        carry=("rule_keep",),
    ).select("doc", "rule_keep", F.array(*band_keys(num_perm, bands)).alias("keys"))
    rows = keyed.collect()
    if len({r["doc"] for r in rows}) < len(rows):
        if not validate:
            return None
        raise _duplicate_ids("doc_id")
    rows = [r for r in rows if r["doc"] is not None]
    buckets: dict = {}
    for r in rows:
        for b, key in enumerate(r["keys"]):
            buckets.setdefault((b, key), []).append(r["doc"])
    cand: set = set()
    for docs in buckets.values():
        for i, x in enumerate(docs):
            for y in docs[i + 1 :]:
                cand.add((x, y) if x < y else (y, x))
                if len(cand) > bound:
                    return None
    spark = base.sparkSession
    id_type = base.schema["doc_id"].dataType
    edges = []
    if cand:
        pairs = graph.local_frame(
            spark,
            StructType(
                [StructField("doc_a", id_type), StructField("doc_b", id_type)]
            ),
            list(cand),
        )
        # the sets ride as one broadcast both verification joins reuse:
        # one job builds it and one collects the edges, whatever size
        # statistics the caller's frame carried into the checkpoint (an
        # unknown size plans sort-merge joins, and AQE then spends four
        # jobs). Restricting it to the candidates' sets would cost a job
        # of its own (a semi-join's local broadcast) or a py4j call per
        # id (a literal IN list), so it ships every set — which curate
        # allows only when their observed bytes fit the session's
        # autoBroadcastJoinThreshold, the size Spark broadcasts itself.
        edges = [
            tuple(e)
            for e in _verify_jaccard(pairs, F.broadcast(sets), jaccard_threshold)
            .select("doc_a", "doc_b")
            .collect()
        ]
    labels = graph.union_find(edges)
    cluster = {r["doc"]: labels.get(r["doc"], r["doc"]) for r in rows}
    members: dict = {}
    for r in rows:
        members.setdefault(cluster[r["doc"]], []).append(r)
    # curate's Spark survivor, keep and reason expressions, in Python:
    # a change there is a change here
    survivor = {
        c: min(
            (r["doc"] for r in ms if r["rule_keep"]),
            default=min(r["doc"] for r in ms),
        )
        for c, ms in members.items()
    }
    verdicts = []
    for r in rows:
        doc, rule = r["doc"], r["rule_keep"]
        kept = doc == survivor[cluster[doc]]
        verdicts.append((
            doc,
            cluster[doc],
            rule,
            kept,
            # SQL AND: False wins over NULL
            False if rule is False or not kept else rule,
            "quality" if rule is False else "keep" if kept else "near_dup",
        ))
    return graph.local_frame(
        spark,
        StructType(
            [
                StructField("doc_id", id_type),
                StructField("cluster_id", id_type),
                StructField("rule_keep", BooleanType()),
                StructField("dedup_kept", BooleanType()),
                StructField("keep", BooleanType()),
                StructField("reason", StringType()),
            ]
        ),
        verdicts,
    )
