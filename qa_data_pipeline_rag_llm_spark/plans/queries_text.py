"""Registry entries: text analysis + deduplication over ``documents``.

Extension surface for training-data pipelines (task brief; the reference
dedups only by id at ingest — SURVEY.md §2.5 A3). Oracle SQL is composed
from :mod:`plans.oracle_fragments` so each DuckDB query replays the engine
expressions exactly.

Scale notes: text_stats is a shuffle-free codegen'd projection; the dedup
families shuffle once on (doc) for signatures and once on band keys for
candidates — candidate generation is LSH-bounded, never O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.functions.text import (
    LANG_STOPWORDS,
    bpe_token_count,
    lang_id,
    o_bpe_token_count,
)
from qa_data_pipeline_rag_llm_spark.operators.dedup import (
    dedup_exact,
    minhash_incremental_pairs,
    minhash_lsh_pairs,
    containment_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_pairs,
)
from qa_data_pipeline_rag_llm_spark.functions.hashing import (
    duckdb_hex_literal_int,
)
from qa_data_pipeline_rag_llm_spark.operators.textstats import text_stats
from qa_data_pipeline_rag_llm_spark.plans import oracle_fragments as O
from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY, _t, register

# MinHash/SimHash knobs — shared by the Spark plan and its oracle twin.
NUM_PERM = 16
BANDS = 4
SHINGLE_N = 3
JACCARD_T = 0.2
SIMHASH_N = 2
MAX_HAMMING = 3  # = bands-1: the 4-band blocking's guaranteed-recall radius (pigeonhole, review r03)
NGRAM_MAX_DF = 20
CONTAINMENT_T = 0.5


def _quality_sql(select_ids: str) -> str:
    """Oracle twin of functions.text.quality_score + text_stats columns."""
    hits = {lang: O.stopword_hits("text", lang) for lang in LANG_STOPWORDS}
    return f"""
    WITH s AS (
      SELECT {select_ids}, text,
             {hits["de"]} AS s_de, {hits["en"]} AS s_en,
             {hits["es"]} AS s_es, {hits["fr"]} AS s_fr,
             {O.token_count("text")} AS n_tokens,
             len(coalesce(text, '')) AS raw_len,
             len(regexp_replace(lower(coalesce(text, '')), '[^a-z]', '', 'g')) AS alpha,
             len({O.norm("text")}) AS norm_len
      FROM documents)
    SELECT {select_ids},
      {O.lang_id({lang: f"s_{lang}" for lang in LANG_STOPWORDS})} AS lang_pred,
      n_tokens,
      round(0.3 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0 ELSE 0.0 END)
          + 0.3 * (CASE WHEN raw_len > 0 THEN alpha / raw_len ELSE 0.0 END)
          + 0.2 * (CASE WHEN n_tokens > 0 AND (norm_len / n_tokens) >= 2.5
                         AND (norm_len / n_tokens) <= 12.0 THEN 1.0 ELSE 0.0 END)
          + 0.2 * (CASE WHEN n_tokens > 0
                        THEN least((s_en + s_fr) / n_tokens * 10.0, 1.0)
                        ELSE 0.0 END), 6) AS quality,
      {O.fingerprint("text")} AS fingerprint
    FROM s
    """


@register(
    "text_stats_documents",
    _quality_sql("doc_id"),
    bench=True,
    doc="Language-ID + token count + quality score + fingerprint per doc "
    "(training-data extension; one shuffle-free projection).",
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_t(spark, sf_dir, "documents"))


@register(
    "langid_confusion",
    f"""
    WITH pred AS (
      SELECT lang, {O.lang_id({lang: O.stopword_hits("text", lang)
                               for lang in LANG_STOPWORDS})} AS lang_pred
      FROM documents)
    SELECT lang, lang_pred, COUNT(*) AS n
    FROM pred GROUP BY lang, lang_pred
    """,
    doc="Labeled-vs-predicted language confusion counts.",
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("lang", lang_id("text").alias("lang_pred")).groupBy(
        "lang", "lang_pred"
    ).agg(F.count("*").alias("n"))


@register(
    "bpe_token_budget_documents",
    f"""
    WITH per_doc AS (
      SELECT doc_id, source,
             {O.token_count("text")} AS n_ws_tokens,
             {o_bpe_token_count("text")} AS n_bpe_tokens
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws_tokens) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS bpe_tokens,
           CAST(MAX(n_bpe_tokens) AS INTEGER) AS max_doc_bpe
    FROM per_doc GROUP BY source
    """,
    doc="Per-source token BUDGET (SURVEY extension list: whitespace + "
    "BPE-ish regex counting): the GPT-2-style pre-tokenizer pattern "
    "counts subword-visible tokens (contractions, punctuation, digit "
    "runs) that whitespace counting underestimates — the numbers a "
    "training-mix planner actually budgets with. Pure codegen'd "
    "projection + one map-side-combinable aggregate.",
)
def bpe_token_budget_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        token_count("text").alias("n_ws_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws_tokens").alias("ws_tokens"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
        F.max("n_bpe_tokens").alias("max_doc_bpe"),
    )


@register(
    "tokenizer_fertility_by_lang",
    f"""
    WITH per_doc AS (
      SELECT lang,
             {O.token_count("text")} AS ws,
             {o_bpe_token_count("text")} AS bpe,
             len(coalesce(text, '')) AS chars
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           round(SUM(bpe) * 1.0 / SUM(ws), 6) AS fertility,
           round(SUM(chars) * 1.0 / SUM(bpe), 6) AS chars_per_token
    FROM per_doc WHERE ws > 0
    GROUP BY lang
    """,
    doc="Tokenizer fertility per language: BPE-visible tokens per "
    "whitespace word and characters per BPE token — THE cross-lingual "
    "tokenizer-equity metric (a language with outlier fertility pays "
    "more compute per content word and needs vocab rebalancing). "
    "Exact integer sums, one ratio per group; single "
    "map-side-combinable aggregate over a codegen'd projection.",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        token_count("text").alias("ws"),
        bpe_token_count("text").alias("bpe"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("chars"),
    ).filter(F.col("ws") > 0)
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        F.round(F.sum("bpe") * 1.0 / F.sum("ws"), 6).alias("fertility"),
        F.round(F.sum("chars") * 1.0 / F.sum("bpe"), 6).alias(
            "chars_per_token"
        ),
    )


FUZZY_PREFIX = 8     # block key: first chars of the normalized title
FUZZY_MAX_LEV = 2    # verified edit-distance threshold
FUZZY_MAX_BLOCK = 50  # skip degenerate blocks (the max_df analogue)


@register(
    "fuzzy_title_pairs_documents",
    f"""
    WITH t AS (
      SELECT doc_id, substr({O.norm("text")}, 1, 40) AS title
      FROM documents),
    keyed AS (
      SELECT doc_id, title, substr(title, 1, {FUZZY_PREFIX}) AS blk
      FROM t WHERE len(title) >= {FUZZY_PREFIX}),
    ok_blocks AS (
      SELECT blk FROM keyed GROUP BY blk
      HAVING COUNT(*) BETWEEN 2 AND {FUZZY_MAX_BLOCK}),
    b AS (SELECT k.* FROM keyed k JOIN ok_blocks USING (blk))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS lev
    FROM b a JOIN b b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= {FUZZY_MAX_LEV}
    """,
    doc=f"Fuzzy key matching: near-identical normalized titles found by "
    f"{FUZZY_PREFIX}-char-prefix blocking + verified Levenshtein ≤ "
    f"{FUZZY_MAX_LEV} — the curation join for typo-level duplicates that "
    "hash equality misses and shingle Jaccard over-fragments. Blocking "
    f"bounds candidates (blocks over {FUZZY_MAX_BLOCK} members skipped, "
    "the max_df analogue); the documented recall trade-off is that edits "
    "inside the first prefix chars are missed — the standard blocked-"
    "fuzzy-join contract.",
)
def fuzzy_title_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.text import normalize_text

    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.substring(normalize_text("text"), 1, 40).alias("title")
    )
    keyed = t.filter(F.length("title") >= FUZZY_PREFIX).withColumn(
        "blk", F.substring("title", 1, FUZZY_PREFIX)
    )
    ok = (
        keyed.groupBy("blk")
        .agg(F.count("*").alias("__n"))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= FUZZY_MAX_BLOCK))
        .select("blk")
    )
    b = keyed.join(F.broadcast(ok), "blk")
    return (
        b.alias("a")
        .join(b.alias("b"), "blk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.title"), F.col("b.title")).alias("lev"),
        )
        .filter(F.col("lev") <= FUZZY_MAX_LEV)
    )


WINNOW_K = 8   # char k-gram length
WINNOW_W = 4   # winnowing window (consecutive k-gram hashes)


@register(
    "winnow_fingerprints_documents",
    f"""
    WITH base AS (SELECT doc_id, {O.norm("text")} AS n FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(n) >= {WINNOW_K}
                  THEN list_transform(range(1, len(n) - {WINNOW_K} + 2),
                                      i -> {O.stable_int32(f"substr(n, i, {WINNOW_K})")})
                  ELSE [] END AS hs
      FROM base),
    w AS (
      SELECT doc_id, hs,
             CASE WHEN len(hs) >= {WINNOW_W}
                  THEN list_distinct(list_transform(
                         range(1, len(hs) - {WINNOW_W} + 2),
                         j -> list_min(hs[j:j+{WINNOW_W - 1}])))
                  WHEN len(hs) >= 1 THEN [list_min(hs)]
                  ELSE [] END AS fps
      FROM g)
    SELECT doc_id,
           CAST(len(hs) AS INTEGER) AS n_grams,
           CAST(len(fps) AS INTEGER) AS n_fingerprints,
           list_min(fps) AS min_fp
    FROM w
    """,
    doc=f"Document fingerprinting by WINNOWING (Schleimer et al. 2003, the "
    "MOSS rolling-hash scheme; SURVEY extension list): hash every "
    f"{WINNOW_K}-char gram of the normalized text, keep the minimum of "
    f"each {WINNOW_W}-window of consecutive hashes, dedup — a position-"
    "robust fingerprint set guaranteeing any shared run ≥ k+w−1 chars "
    "yields a shared fingerprint. Pure higher-order projection, zero "
    "shuffles, zero Python.",
)
def winnow_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.hashing import stable_int32
    from qa_data_pipeline_rag_llm_spark.functions.text import normalize_text
    from qa_data_pipeline_rag_llm_spark.operators.util import (
        ensure_parallelism,
    )

    # r12: map-only plan (zero shuffles) + single-file scan = ONE task
    # computing ~5M per-gram md5s on one core; spread the scan first
    # (guide §2.5). 3.5 → 0.6 s at sf0.1.
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    n = normalize_text("text")
    base = d.select("doc_id", n.alias("n"))
    hs = F.when(
        F.length("n") >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), F.length("n") - WINNOW_K + 1),
            lambda i: stable_int32(F.substring(F.col("n"), i, WINNOW_K)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    g = base.select("doc_id", hs.alias("hs"))
    fps = (
        F.when(
            F.size("hs") >= WINNOW_W,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - WINNOW_W + 1),
                    lambda j: F.array_min(F.slice("hs", j, WINNOW_W)),
                )
            ),
        )
        .when(F.size("hs") >= 1, F.array(F.array_min("hs")))
        .otherwise(F.array().cast("array<long>"))
    )
    # materialize fps ONCE: referenced twice below, and higher-order
    # functions run interpreted (no codegen subexpression elimination),
    # so inlining would compute the window-min transform per reference
    w = g.select("doc_id", F.size("hs").alias("n_grams"), fps.alias("fps"))
    return w.select(
        "doc_id",
        "n_grams",
        F.size("fps").alias("n_fingerprints"),
        F.array_min("fps").alias("min_fp"),
    )


@register(
    "dedup_exact_documents",
    f"""
    SELECT {O.fingerprint("text")} AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup groups on normalized-text fingerprint (hash groupBy; "
    "single shuffle with map-side partial agg).",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_t(spark, sf_dir, "documents"))


def _sh_cte(n: int) -> str:
    return (
        "sh AS (SELECT DISTINCT doc, shingle FROM "
        f"(SELECT doc_id AS doc, unnest({O.shingles('text', n)}) AS shingle "
        "FROM documents))"
    )


def _sh_cte_h(n: int) -> str:
    """Int60-hashed twin of :func:`_sh_cte` (r12): replays
    operators.dedup._doc_shingles_h — DISTINCT over the hashed values,
    so a within-doc collision merges identically in both engines."""
    from qa_data_pipeline_rag_llm_spark.functions.hashing import (
        duckdb_hex_literal_int,
    )

    return (
        "sh AS (SELECT DISTINCT doc, "
        f"{duckdb_hex_literal_int('shingle')} AS shingle FROM "
        f"(SELECT doc_id AS doc, unnest({O.shingles('text', n)}) AS shingle "
        "FROM documents))"
    )


def _sig_cte(num_perm: int) -> str:
    """Oracle twin of operators.dedup.minhash_signatures (affine family):
    h = md5-int(shingle) mod p, mh_i = min((a_i·h + b_i) mod p)."""
    from qa_data_pipeline_rag_llm_spark.functions.hashing import (
        MINHASH_P,
        minhash_coeffs,
    )

    mins = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_perm))
    )
    return (
        f"hsh AS (SELECT doc, {O.stable_int32('shingle')} % {MINHASH_P} AS h "
        "FROM sh), "
        f"sig AS (SELECT doc, {mins} FROM hsh GROUP BY doc)"
    )


@register(
    "minhash_signatures_documents",
    f"""
    WITH {_sh_cte(SHINGLE_N)}, {_sig_cte(NUM_PERM)}
    SELECT * FROM sig
    """,
    bench=True,
    doc=f"MinHash signatures ({NUM_PERM} perms, {SHINGLE_N}-shingles): one "
    "explode + one k-column min aggregation — no per-perm row blowup.",
)
def minhash_signatures_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(
        _t(spark, sf_dir, "documents"), num_perm=NUM_PERM, shingle_n=SHINGLE_N
    ).withColumnRenamed("doc_id", "doc")


def _jaccard_tail(threshold: float) -> str:
    """cand(doc_a, doc_b) + sh → verified jaccard pairs (oracle twin of
    operators.dedup._verify_jaccard)."""
    return f"""
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON c.doc_a = sa.doc
      JOIN sh sb ON c.doc_b = sb.doc AND sa.shingle = sb.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter / (na.n + nb.n - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes na ON i.doc_a = na.doc
    JOIN sizes nb ON i.doc_b = nb.doc
    WHERE round(i.n_inter / (na.n + nb.n - i.n_inter), 6) >= {threshold}
    """


_BAND_ROWS = NUM_PERM // BANDS


def _band_key_exprs() -> str:
    """ONE builder for the LSH band-key layout (md5 over '|'-joined row
    hashes): the batch minhash oracles and minhash_side_sql (streaming
    gate, incremental dedup) must compose from the same source or a
    layout change silently splits the oracle families (review r03)."""
    return ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS))
        + f")) AS band{b}"
        for b in range(BANDS)
    )


def _band_union(src: str) -> str:
    """Unpivot band0..bandN-1 of ``src`` to (doc, band_id, band_key)."""
    return " UNION ALL ".join(
        f"SELECT doc, {b} AS band_id, band{b} AS band_key FROM {src}"
        for b in range(BANDS)
    )


_BAND_KEYS = _band_key_exprs()
_BANDED_UNION = _band_union("bands")


@register(
    "minhash_near_dups",
    f"""
    WITH {_sh_cte(SHINGLE_N)}, {_sig_cte(NUM_PERM)},
    bands AS (SELECT doc, {_BAND_KEYS} FROM sig),
    banded AS ({_BANDED_UNION}),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc < b.doc),
    {_jaccard_tail(JACCARD_T)}
    """,
    doc=f"MinHash-LSH near-dup pairs ({BANDS} bands × {_BAND_ROWS} rows), "
    "verified with exact Jaccard — only band-colliding docs are compared.",
)
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_perm=NUM_PERM,
        bands=BANDS,
        shingle_n=SHINGLE_N,
        jaccard_threshold=JACCARD_T,
    )


@register(
    "ngram_jaccard_near_dups",
    f"""
    WITH {_sh_cte_h(SHINGLE_N)},
    rare AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) > 1 AND COUNT(*) <= {NGRAM_MAX_DF}),
    blocked AS (SELECT sh.doc, sh.shingle FROM sh JOIN rare USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM blocked a JOIN blocked b
        ON a.shingle = b.shingle AND a.doc < b.doc),
    {_jaccard_tail(JACCARD_T)}
    """,
    doc=f"Exact n-gram-Jaccard near-dups blocked through shingles with "
    f"document frequency ≤ {NGRAM_MAX_DF} (stopword-shingle pruning keeps "
    "candidates near-linear).",
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_n=SHINGLE_N,
        max_df=NGRAM_MAX_DF,
        threshold=JACCARD_T,
    )


def _simhash_ctes(nbits: int, shingle_n: int) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(nbits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(nbits)
    )
    return f"""
    hsh AS (SELECT doc, {O.stable_int32("shingle")} AS h FROM sh),
    sums AS (SELECT doc, {sums} FROM hsh GROUP BY doc),
    fp AS (SELECT doc, CAST({fp} AS BIGINT) AS simhash FROM sums)
    """


@register(
    "simhash_documents",
    f"""
    WITH {_sh_cte(SIMHASH_N)}, {_simhash_ctes(32, SIMHASH_N)}
    SELECT doc, simhash FROM fp
    """,
    doc="32-bit SimHash fingerprints over word 2-shingles (partial-agg "
    "friendly conditional-sum formulation).",
)
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(
        _t(spark, sf_dir, "documents"), shingle_n=SIMHASH_N
    )


@register(
    "simhash_near_dups",
    f"""
    WITH {_sh_cte(SIMHASH_N)}, {_simhash_ctes(32, SIMHASH_N)},
    banded AS (
      SELECT doc, simhash, t.b AS band_id,
             (simhash >> CAST(t.b * 8 AS INTEGER)) & 255 AS band_key
      FROM fp CROSS JOIN range(4) t(b)),
    pairs AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
             bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc < b.doc)
    SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
    FROM pairs WHERE hamming <= {MAX_HAMMING}
    """,
    doc=f"SimHash near-dups (hamming ≤ {MAX_HAMMING}), candidate-blocked by "
    "8-bit band collisions.",
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_n=SIMHASH_N,
        max_hamming=MAX_HAMMING,
    ).withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "dedup_clusters_minhash",
    None,  # oracle injected below: recursive-CTE transitive closure
    doc="Near-dup pairs → duplicate CLUSTERS via connected components "
    "(operators/graph.py: union-find on the driver for small pair graphs, "
    "else large-star/small-star rounds). The keep-one-per-cluster "
    "decision needs the transitive grouping LSH pairs alone don't give; "
    "oracle is a DuckDB recursive CTE over the same verified pairs.",
)
def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs,
        num_perm=NUM_PERM,
        bands=BANDS,
        shingle_n=SHINGLE_N,
        jaccard_threshold=JACCARD_T,
    ).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    full = docs.select("doc_id").join(
        labels, docs.doc_id == labels.id, "left"
    ).select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return full.select(
        "doc_id", "cluster_id", F.count("*").over(w).alias("cluster_size")
    )


@register(
    "incremental_dedup_new_batch",
    f"""
    SELECT doc_a AS doc_id,
           COUNT(*) AS n_hist_dups,
           MAX(jaccard) AS max_jaccard
    FROM (
      WITH {_sh_cte(SHINGLE_N)}, {_sig_cte(NUM_PERM)},
      bands AS (SELECT doc, {_BAND_KEYS} FROM sig),
      banded AS ({_BANDED_UNION}),
      flags AS (SELECT doc_id AS doc,
                       (CAST(substr(source, 4) AS INTEGER) % 2 = 1) AS isnew
                FROM documents),
      cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM banded a
        JOIN flags fa ON fa.doc = a.doc AND fa.isnew
        JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
        JOIN flags fb ON fb.doc = b.doc AND NOT fb.isnew),
      {_jaccard_tail(JACCARD_T)}
    ) GROUP BY doc_a
    """,
    doc="Incremental dedup — each NEW-batch doc (odd-numbered sources "
    "stand in for the arriving batch) LSH-checked against the HISTORICAL "
    "corpus only (never new×new or hist×hist): the production ingest "
    "shape where candidate cost scales with the batch, not the corpus. "
    "Per colliding new doc: historical-match count and best Jaccard.",
)
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_incremental_pairs(
        _t(spark, sf_dir, "documents"),
        new_pred=F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"),
        num_perm=NUM_PERM,
        bands=BANDS,
        shingle_n=SHINGLE_N,
        jaccard_threshold=JACCARD_T,
    )
    return pairs.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("n_hist_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )


@register(
    "near_dup_prune_documents",
    None,  # oracle injected below (builds on the clusters' recursive CTE)
    doc="The end-to-end near-dup PRUNE decision: connected-component "
    "duplicate clusters → keep exactly the minimum doc_id per cluster. "
    "This is the step that actually shrinks a training corpus; "
    "dedup_clusters_minhash supplies the transitive grouping.",
)
def near_dup_prune_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = REGISTRY["dedup_clusters_minhash"].spark(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("kept"),
    )


REGISTRY["dedup_clusters_minhash"].oracle = f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({REGISTRY["minhash_near_dups"].oracle})),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lbl AS (SELECT a AS doc, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
    full_lbl AS (
      SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM full_lbl
"""

REGISTRY["near_dup_prune_documents"].oracle = f"""
    SELECT doc_id, cluster_id,
           doc_id = MIN(doc_id) OVER (PARTITION BY cluster_id) AS kept
    FROM ({REGISTRY["dedup_clusters_minhash"].oracle})
"""


@register(
    "dedup_clusters_twostar",
    None,  # oracle injected below: identical to dedup_clusters_minhash
    doc="The same plan as dedup_clusters_minhash under its own name: "
    "the one connected-components operator, whose distributed path is "
    "the large-star/small-star alternation (Kiveris et al. 2014, "
    "operators/graph.py) — O(log n) rounds on ANY topology and a "
    "monotonically SHRINKING edge set. Hash-matches the same "
    "recursive-CTE oracle.",
)
def dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REGISTRY["dedup_clusters_minhash"].spark(spark, sf_dir)


REGISTRY["dedup_clusters_twostar"].oracle = REGISTRY[
    "dedup_clusters_minhash"
].oracle


@register(
    "containment_pairs_documents",
    f"""
    WITH {_sh_cte_h(SHINGLE_N)},
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) > 1 AND COUNT(*) <= {NGRAM_MAX_DF}),
    blocked AS (SELECT doc, shingle FROM sh JOIN rare USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM blocked a JOIN blocked b USING (shingle)
      WHERE a.doc != b.doc),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON c.doc_a = sa.doc
      JOIN sh sb ON c.doc_b = sb.doc AND sa.shingle = sb.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter / na.n, 6) AS containment
    FROM inter i JOIN sizes na ON i.doc_a = na.doc
    WHERE round(i.n_inter / na.n, 6) >= {CONTAINMENT_T}
    """,
    doc="DIRECTED containment near-dups: |sh(a)∩sh(b)| / |sh(a)| — the "
    "asymmetric measure Jaccard misses (a short doc quoted inside a "
    "long one). Same rare-shingle blocking as ngram_jaccard_near_dups; "
    "both directions emitted (operators/dedup.containment_pairs).",
)
def containment_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_n=SHINGLE_N,
        max_df=NGRAM_MAX_DF,
        threshold=CONTAINMENT_T,
    )


def minhash_side_sql(al: str, pred: str) -> str:
    """Reusable oracle CTE chain ``sh_{al} → hsh_{al} → sig_{al} →
    keys_{al} → bands_{al}`` for one predicate-filtered side of documents,
    built from THE SAME constants (NUM_PERM/BANDS/SHINGLE_N) and fragment
    builders as the batch minhash oracles — so a layout change here
    re-layouts every consumer (queries_streaming's near-dup gate
    included) instead of silently diverging."""
    from qa_data_pipeline_rag_llm_spark.functions.hashing import (
        MINHASH_P,
        minhash_coeffs,
    )

    mins = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_coeffs(NUM_PERM))
    )
    band_keys = _band_key_exprs()
    union = _band_union(f"keys_{al}")
    return f"""
    sh_{al} AS (SELECT doc_id AS doc, unnest({O.shingles("text", SHINGLE_N)}) AS shingle
                FROM documents WHERE {pred}),
    hsh_{al} AS (SELECT doc, {O.stable_int32("shingle")} % {MINHASH_P} AS h
                 FROM sh_{al}),
    sig_{al} AS (SELECT doc, {mins} FROM hsh_{al} GROUP BY doc),
    keys_{al} AS (SELECT doc, {band_keys} FROM sig_{al}),
    bands_{al} AS ({union})"""


@register(
    "dataset_card_documents",
    f"""
    WITH q AS ({_quality_sql("doc_id")})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT q.fingerprint) AS BIGINT) AS n_unique_docs,
           CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           round(100.0 * SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)
                 / COUNT(*), 4) AS pct_en,
           CAST(SUM(q.n_tokens) AS BIGINT) AS ws_tokens,
           CAST(SUM({o_bpe_token_count("d.text")}) AS BIGINT) AS bpe_tokens,
           round(CAST(SUM(CAST(round(q.quality * 1000000) AS DECIMAL(38,0)))
                      AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS avg_quality,
           round(SUM(d.n_chars) * 1.0 / COUNT(*), 4) AS avg_n_chars
    FROM q JOIN documents d ON q.doc_id = d.doc_id
    """,
    doc="The one-row DATASET CARD: corpus size, exact-dup-unique count "
    "(distinct content fingerprints), source/language diversity, token "
    "budgets (whitespace + BPE-ish), exact average quality, and mean "
    "length — the summary block a dataset release ships. One combinable "
    "aggregation pass over the per-doc stats projection; the quality "
    "average accumulates 6-dp-scaled decimals (order-independent).",
)
def dataset_card_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.text import (
        fingerprint,
        quality_score,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    # one projection carrying stats expressions next to the raw columns —
    # joining text_stats(d) back to d would scan+shuffle documents twice
    per = d.select(
        "source",
        "lang",
        "n_chars",
        "text",
        token_count("text").alias("n_tokens"),
        quality_score("text").alias("quality"),
        fingerprint("text").alias("fingerprint"),
    )
    return per.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            100.0
            * F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            / F.count("*"),
            4,
        ).alias("pct_en"),
        F.sum("n_tokens").alias("ws_tokens"),
        F.sum(bpe_token_count("text")).alias("bpe_tokens"),
        F.round(
            F.sum(
                F.round(F.col("quality") * 1000000)
                .cast("long")
                .cast("decimal(38,0)")
            ).cast("double")
            / 1000000.0
            / F.count("*"),
            6,
        ).alias("avg_quality"),
        F.round(F.sum("n_chars") * 1.0 / F.count("*"), 4).alias("avg_n_chars"),
    )


@register(
    "near_dup_rate_by_source",
    None,  # injected below (builds on the prune decision's oracle)
    doc="Per-source near-duplicate PRUNE RATE: how much of each source "
    "the dedup decision removes — the provider-quality scorecard that "
    "feeds acquisition decisions. Composes near_dup_prune_documents "
    "with the source dimension; one combinable aggregate.",
)
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    pruned = REGISTRY["near_dup_prune_documents"].spark(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pruned.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_pruned"),
            F.round(
                F.sum(F.when(~F.col("kept"), 1).otherwise(0))
                * 1.0
                / F.count("*"),
                6,
            ).alias("prune_rate"),
        )
    )


REGISTRY["near_dup_rate_by_source"].oracle = f"""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT p.kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned,
           round(SUM(CASE WHEN NOT p.kept THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS prune_rate
    FROM ({REGISTRY["near_dup_prune_documents"].oracle}) p
    JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.source
"""


VOCAB_COVERAGE_TARGET = 0.95
OOV_VOCAB_K = 200


@register(
    "vocab_coverage_documents",
    f"""
    WITH occ AS (
      SELECT unnest({O.toks("text")}) AS token FROM documents
      WHERE len({O.norm("text")}) > 0),
    counts AS (SELECT token, COUNT(*) AS n FROM occ GROUP BY token),
    ranked AS (
      SELECT token, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token) AS vocab_rank,
             SUM(n) OVER (ORDER BY n DESC, token
                          ROWS UNBOUNDED PRECEDING) AS cum_n,
             SUM(n) OVER () AS total_n
      FROM counts)
    SELECT token, CAST(n AS BIGINT) AS n,
           CAST(vocab_rank AS INTEGER) AS vocab_rank,
           round(cum_n * 1.0 / total_n, 6) AS cum_share
    FROM ranked
    WHERE cum_n - n < total_n * {VOCAB_COVERAGE_TARGET}
    """,
    doc="Tokenizer-planning metric: the smallest frequency-ranked "
    "vocabulary covering 95% of token occurrences (each kept row is a "
    "vocab entry with its cumulative share — the last row crosses the "
    "target). One token-count aggregate; rank + running sum over the "
    "token-TYPE frame use the two-pass partition-offset pattern "
    "(operators/cumulative.py) since vocabulary size grows with the "
    "corpus. The keep predicate is exact integer math (cum_n - n < "
    "total*t), immune to double rounding at the boundary.",
)
def vocab_coverage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.text import (
        normalize_text,
        tokens,
    )

    d = _t(spark, sf_dir, "documents")
    occ = d.filter(F.length(normalize_text("text")) > 0).select(
        F.explode(tokens("text")).alias("token")
    )
    from qa_data_pipeline_rag_llm_spark.operators.cumulative import (
        rank_cumsum,
    )

    counts = occ.groupBy("token").agg(F.count("*").alias("n"))
    # The token-TYPE frame grows with the corpus (tens of millions of
    # types at 100 TB) — rank + running sum go through the two-pass
    # partition-offset pattern, total via one-row aggregate broadcast
    # (VERDICT r02 #1).
    total = counts.agg(F.sum("n").alias("total_n"))
    ranked = (
        rank_cumsum(
            counts,
            [F.desc("n"), F.col("token")],
            "n",
            rank_col="vocab_rank",
            cumsum_col="cum_n",
            bucket_col="n",
            descending=True,
        )
        .withColumn("vocab_rank", F.col("vocab_rank").cast("int"))
        .crossJoin(F.broadcast(total))
    )
    return ranked.filter(
        F.col("cum_n") - F.col("n")
        < F.col("total_n") * VOCAB_COVERAGE_TARGET
    ).select(
        "token",
        "n",
        "vocab_rank",
        F.round(F.col("cum_n") * 1.0 / F.col("total_n"), 6).alias("cum_share"),
    )


@register(
    "oov_rate_by_source",
    f"""
    WITH counts_st AS (
      SELECT source, token, COUNT(*) AS cnt FROM (
        SELECT source, unnest({O.toks("text")}) AS token FROM documents
        WHERE len({O.norm("text")}) > 0)
      GROUP BY source, token),
    vocab AS (
      SELECT token FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, token)
                 AS r
        FROM counts_st GROUP BY token) WHERE r <= {OOV_VOCAB_K})
    SELECT c.source,
           CAST(SUM(c.cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN c.cnt ELSE 0 END)
                AS BIGINT) AS n_oov,
           round(SUM(CASE WHEN v.token IS NULL THEN c.cnt ELSE 0 END) * 1.0
                 / SUM(c.cnt), 6) AS oov_rate
    FROM counts_st c LEFT JOIN vocab v ON c.token = v.token
    GROUP BY c.source
    """,
    doc="Domain-shift metric: per-source rate of token occurrences "
    "outside the global top-K vocabulary — a source whose OOV rate "
    "spikes needs its own tokenizer budget or gets fragmented. The "
    "vocab is a bounded top-K (broadcast into the probe join); the "
    "occurrence side streams through one left join + combinable agg.",
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.text import (
        normalize_text,
        tokens,
    )

    d = _t(spark, sf_dir, "documents")
    # ONE tokenize/explode pass: aggregate to (source, token, cnt) first;
    # both the vocab ranking and the probe join consume the SAME plan
    # subtree, so ReuseExchange computes the explode+agg shuffle once —
    # no persist() needed (a registry query can't unpersist after the
    # caller executes it; VERDICT r02 #9 leak class).
    counts_st = (
        d.filter(F.length(normalize_text("text")) > 0)
        .select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    # top-K vocab membership needs no rank column → orderBy+limit
    # compiles to TakeOrderedAndProject (per-partition top-K + driver
    # merge), not a token-type-sized single-task rank window (VERDICT
    # r02 #1).
    vocab = (
        counts_st.groupBy("token")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(OOV_VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    oov_cnt = F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(0)
    return (
        counts_st.join(F.broadcast(vocab), "token", "left_outer")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(oov_cnt).alias("n_oov"),
            F.round(F.sum(oov_cnt) * 1.0 / F.sum("cnt"), 6).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Banding-quality eval: precision/recall of the RAW MinHash-LSH candidate
# stage against exact-Jaccard ground truth. This is the measurement that
# justifies a (bands, rows) choice before a 100 TB dedup run — the S-curve
# in numbers, on this corpus, not from the formula.

@register(
    "lsh_band_eval_documents",
    f"""
    WITH {_sh_cte(SHINGLE_N)}, {_sig_cte(NUM_PERM)},
    shh AS (SELECT DISTINCT doc,
                   {duckdb_hex_literal_int('shingle')} AS shingle
            FROM (SELECT doc_id AS doc,
                         unnest({O.shingles('text', SHINGLE_N)}) AS shingle
                  FROM documents)),
    bands AS (SELECT doc, {_BAND_KEYS} FROM sig),
    banded AS ({_BANDED_UNION}),
    pred AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc < b.doc),
    tcand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc < b.doc),
    sizes AS (SELECT doc, COUNT(*) AS n FROM shh GROUP BY doc),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM tcand c
      JOIN shh sa ON c.doc_a = sa.doc
      JOIN shh sb ON c.doc_b = sb.doc AND sa.shingle = sb.shingle
      GROUP BY c.doc_a, c.doc_b),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes na ON i.doc_a = na.doc
      JOIN sizes nb ON i.doc_b = nb.doc
      WHERE round(i.n_inter / (na.n + nb.n - i.n_inter), 6) >= {JACCARD_T}),
    m AS (
      SELECT CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_pred,
             CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
      FROM pred p FULL OUTER JOIN truth t
        ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b)
    SELECT CAST(SUM(in_pred) AS BIGINT) AS n_pred,
           CAST(SUM(in_truth) AS BIGINT) AS n_truth,
           CAST(SUM(in_pred * in_truth) AS BIGINT) AS n_hit,
           round(SUM(in_pred * in_truth)
                 / nullif(CAST(SUM(in_pred) AS DOUBLE), 0), 6) AS prec,
           round(SUM(in_pred * in_truth)
                 / nullif(CAST(SUM(in_truth) AS DOUBLE), 0), 6) AS rec
    FROM m
    """,
    doc=f"LSH banding quality eval ({BANDS} bands x {NUM_PERM // BANDS} "
    f"rows vs exact Jaccard >= {JACCARD_T}): precision/recall of the RAW "
    "band-collision candidate set against ground truth — the measured "
    "S-curve that picks (bands, rows) before a corpus-scale dedup run. "
    "Truth pairs block through SHARED shingles (a pair with Jaccard > 0 "
    "must share one), exact for the threshold; at 100 TB this truth arm "
    "is the quadratic piece and runs on a sample — the banding arm "
    "itself stays production-shaped (map-only signatures, band-key "
    "equi-join, no all-pairs).",
)
def lsh_band_eval_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_band_eval(_t(spark, sf_dir, "documents"))


def _lsh_band_eval(d: DataFrame) -> DataFrame:
    # r12: the TRUTH arm (shared-shingle pair join + exact-Jaccard
    # verification — the pair-quadratic piece) runs on int60-hashed
    # shingles (guide §2.3 "narrower types"): 8-byte longs shuffle and
    # intersect instead of variable-width strings, the same change the
    # jaccard/containment families shipped earlier this round. The
    # banding arm keeps string shingles (its signatures already hash
    # per-shingle once). Oracle replays the identical md5-prefix hash
    # (shh CTE), so within-doc collisions merge the same in both
    # engines; output bit-identical at sf0.01/sf0.1 (A/B'd directly).
    from qa_data_pipeline_rag_llm_spark.operators.dedup import (
        _doc_shingle_sets_h,
        _doc_shingles_h,
        _verify_jaccard,
        minhash_bands,
    )

    sh = _doc_shingles_h(d, "text", "doc_id", SHINGLE_N)
    sets = _doc_shingle_sets_h(d, "text", "doc_id", SHINGLE_N)
    banded = minhash_bands(
        minhash_signatures(d, num_perm=NUM_PERM, shingle_n=SHINGLE_N),
        num_perm=NUM_PERM,
        bands=BANDS,
    )
    pred = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_id", "band_key"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
        .withColumn("in_pred", F.lit(1))
    )
    tcand = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    truth = (
        _verify_jaccard(tcand, sets, JACCARD_T)
        .select("doc_a", "doc_b")
        .withColumn("in_truth", F.lit(1))
    )
    m = (
        pred.join(truth, ["doc_a", "doc_b"], "full_outer")
        .select(
            F.coalesce("in_pred", F.lit(0)).alias("in_pred"),
            F.coalesce("in_truth", F.lit(0)).alias("in_truth"),
        )
    )
    agg = m.agg(
        F.sum("in_pred").alias("n_pred"),
        F.sum("in_truth").alias("n_truth"),
        F.sum(F.col("in_pred") * F.col("in_truth")).alias("n_hit"),
    )
    return agg.select(
        "n_pred",
        "n_truth",
        "n_hit",
        F.round(
            F.col("n_hit") / F.expr("nullif(CAST(n_pred AS DOUBLE), 0)"), 6
        ).alias("prec"),
        F.round(
            F.col("n_hit") / F.expr("nullif(CAST(n_truth AS DOUBLE), 0)"), 6
        ).alias("rec"),
    )


# Deterministic md5 doc bucket for the sampled band eval (the
# queries_sampling discipline: identical hex in Spark and DuckDB, stable
# under repartitioning/retries). 64/256 of docs → ~1/16 of pairs.
_EVAL_SAMPLE_BUCKETS = 64
_EVAL_SPARK_BUCKET = (
    "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS INT)"
)
_EVAL_DUCK_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER)"
)


@register(
    "lsh_band_eval_sampled_documents",
    None,  # injected below: the full eval's oracle over a shadowed sample CTE
    doc=f"Sampled LSH banding eval (VERDICT r11 ask #6): the full "
    f"precision/recall measurement restricted to a deterministic "
    f"{_EVAL_SAMPLE_BUCKETS}/256 md5 doc-bucket sample — both the "
    "banding arm and the quadratic truth arm run only on sampled docs, "
    "so pair volume falls ~16x per run and stays ~flat across corpus "
    "decades at fixed sample rate. This is how a production band-tuning "
    "job actually evaluates: the S-curve estimate needs pair statistics, "
    "not the full corpus. Exact-replay oracle: DuckDB shadows the "
    "documents view with the identically-bucketed sample CTE and runs "
    "the UNSAMPLED query text verbatim (the capped-index pattern).",
)
def lsh_band_eval_sampled_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(
        F.expr(_EVAL_SPARK_BUCKET) < _EVAL_SAMPLE_BUCKETS
    )
    return _lsh_band_eval(d)


# Exact-replay oracle injection: shadow the `documents` view with the
# identically-bucketed sample CTE (schema-qualified main.documents —
# DuckDB treats an unqualified self-reference inside a CTE as circular)
# and reuse the full eval's oracle text verbatim after its WITH keyword.
from qa_data_pipeline_rag_llm_spark.plans.queries import (  # noqa: E402
    REGISTRY as _REG,
)

_FULL_EVAL_ORACLE = _REG["lsh_band_eval_documents"].oracle
assert _FULL_EVAL_ORACLE.lstrip().startswith("WITH")
_REG["lsh_band_eval_sampled_documents"].oracle = (
    "WITH documents AS (SELECT * FROM main.documents WHERE "
    f"{_EVAL_DUCK_BUCKET} < {_EVAL_SAMPLE_BUCKETS}),\n"
    + _FULL_EVAL_ORACLE.lstrip()[len("WITH"):].lstrip()
)


# Zipf regression window: ranks past ~100 leave the power-law head and
# only add noise to the fit; 100 also bounds the per-source frame.
ZIPF_K = 100
#: ln() terms are rounded to 1e-9-scaled longs before the moment sums
#: (the token_entropy_by_source discipline) so sums are order-free.
_LN9 = 1_000_000_000


@register(
    "zipf_slope_by_source",
    f"""
    WITH tok AS (SELECT source, unnest({O.toks("text")}) AS w
                 FROM documents),
    tc AS (SELECT source, w, COUNT(*) AS c FROM tok WHERE w != ''
           GROUP BY source, w),
    ranked AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, w) AS rank
      FROM tc),
    terms AS (
      SELECT source,
             CAST(round(ln(CAST(rank AS DOUBLE)) * {_LN9}) AS BIGINT)
               AS x9,
             CAST(round(ln(CAST(c AS DOUBLE)) * {_LN9}) AS BIGINT)
               AS y9
      FROM ranked WHERE rank <= {ZIPF_K}),
    mom AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(x9 AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y9 AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x9 AS DECIMAL(38,0))
                           * CAST(y9 AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(x9 AS DECIMAL(38,0))
                           * CAST(x9 AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS DOUBLE) AS sxx
      FROM terms GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_ranks,
           round(((n * sxy) - (sx * sy))
                 / nullif((n * sxx) - (sx * sx), 0), 6) AS zipf_slope
    FROM mom
    """,
    doc=f"Zipf's-law slope per source: least-squares fit of ln(tf) "
    f"against ln(rank) over each source's top-{ZIPF_K} tokens — the "
    "corpus-health scalar (natural text sits near -1; templated or "
    "boilerplate-heavy sources drift shallow). Each ln term is rounded "
    "to a 1e-9-scaled long BEFORE the moment sums (the "
    "token_entropy_by_source / cuped_ab_events exact-decimal "
    "discipline), so the aggregation is order-independent and the "
    "slope is a fixed double-op sequence both engines replay "
    "identically; a nullif guards the single-rank degenerate fit. "
    "Per-source ranking runs through salted_top_k (sources are "
    "few -> one window per source would be one task per source over "
    "the whole vocab); the corpus-sized work is one (source, token) "
    "partial-agg shuffle.",
)
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.text import tokens
    from qa_data_pipeline_rag_llm_spark.operators.ranking import salted_top_k

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens("text")).alias("w")
    ).filter(F.col("w") != "")
    tc = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    ranked = salted_top_k(
        tc, ["source"], [F.desc("c"), F.asc("w")], ZIPF_K, salt_col="w"
    )
    terms = ranked.select(
        "source",
        F.round(F.log(F.col("rank").cast("double")) * _LN9)
        .cast("long")
        .alias("x9"),
        F.round(F.log(F.col("c").cast("double")) * _LN9)
        .cast("long")
        .alias("y9"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = terms.groupBy("source").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec("x9")).cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum(dec("y9")).cast("decimal(38,0)").cast("double").alias("sy"),
        F.sum(dec("x9") * dec("y9"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxy"),
        F.sum(dec("x9") * dec("x9"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy")) - (F.col("sx") * F.col("sy"))
    return mom.select(
        "source",
        F.col("n").cast("long").alias("n_ranks"),
        F.round(num / F.expr("nullif((n * sxx) - (sx * sx), 0)"), 6).alias(
            "zipf_slope"
        ),
    )
