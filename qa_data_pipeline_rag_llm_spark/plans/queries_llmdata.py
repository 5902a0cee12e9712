"""Registry entries: LLM-training-data curation over ``documents``.

Extension surface beyond the reference (its curation stops at id-dedup and
bot regexes — SURVEY.md §2 A3/P4): PII redaction, benchmark
decontamination, repetition filtering, TF-IDF keyword retrieval. Each
query's oracle replays the engine expression exactly (fragments from
:mod:`plans.oracle_fragments`).

The testdata corpus contains no PII, so the redaction query first augments
``text`` with deterministic synthetic contact strings (same construction on
both engines) — the regex semantics are what is under test, and every
modular branch makes the counts vary by row.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from qa_data_pipeline_rag_llm_spark.operators import graph
from qa_data_pipeline_rag_llm_spark.operators.llmdata import (
    decontaminate,
    pii_redact,
    repetition_stats,
    tfidf_topk,
)
from qa_data_pipeline_rag_llm_spark.plans import oracle_fragments as O
from qa_data_pipeline_rag_llm_spark.plans.queries import _t, register

DECON_N = 3          # decontamination word-n-gram size
EVAL_MOD = 97        # eval split: doc_id % EVAL_MOD == 0
TFIDF_TERMS = ("join", "window", "scan")
TFIDF_K = 20
MASK_PCT = 15        # MLM masking rate (percent of token positions)


@register(
    "mask_tokens_documents",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({O.toks("coalesce(text, '')")}) AS w,
             unnest(generate_series(0, len({O.toks("coalesce(text, '')")}) - 1)) AS i
      FROM documents
    ), m AS (
      SELECT doc_id, i,
             CASE WHEN {O.stable_int32("doc_id || ':' || i")} % 100 < {MASK_PCT}
                  THEN '[MASK]' ELSE w END AS w
      FROM tok)
    SELECT doc_id,
           string_agg(w, ' ' ORDER BY i) AS masked,
           CAST(COUNT(*) FILTER (WHERE w = '[MASK]') AS INTEGER) AS n_masked
    FROM m GROUP BY doc_id
    """,
    doc=f"MLM training-data prep: deterministic {MASK_PCT}% token masking — "
    "each position masks iff md5(doc_id:position) lands under the rate, so "
    "the 'random' mask is reproducible across runs, engines, and restarts "
    "(no RNG stream to seed-synchronize at 100 TB). Spark side is one "
    "shuffle-free higher-order transform over the token array; normalized "
    "tokens are bracket-free, so '[MASK]' cannot collide with data.",
)
def mask_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qa_data_pipeline_rag_llm_spark.functions.hashing import stable_int32
    from qa_data_pipeline_rag_llm_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    t = tokens(F.coalesce(F.col("text"), F.lit("")))

    def mask(tok: F.Column, i: F.Column) -> F.Column:
        h = stable_int32(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string"))
        )
        return F.when(h % 100 < MASK_PCT, F.lit("[MASK]")).otherwise(tok)

    masked_arr = F.transform(t, mask)
    return d.select(
        "doc_id",
        F.array_join(masked_arr, " ").alias("masked"),
        F.size(F.filter(masked_arr, lambda x: x == "[MASK]")).alias("n_masked"),
    )


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + synthetic contact strings (see module docstring)."""
    d = _t(spark, sf_dir, "documents")
    email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
    )
    phone = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit("call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return d.select(
        "doc_id", F.concat_ws(" ", F.col("text"), email, phone).alias("text")
    )


_O_AUG = """
    aug AS (
      SELECT doc_id,
             concat_ws(' ', text,
               CASE WHEN doc_id % 3 = 0
                    THEN concat('user', CAST(doc_id AS VARCHAR), '@example.com') END,
               CASE WHEN doc_id % 5 = 0
                    THEN concat('call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) END
             ) AS text
      FROM documents)
"""

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b\\d{3}-\\d{4}\\b"


@register(
    "pii_redact_documents",
    f"""
    WITH {_O_AUG}
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM aug
    """,
    doc="PII redaction (emails, phone-like tokens) with removal counts — "
    "shuffle-free codegen'd regex projection; dialect-portable patterns.",
)
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_redact(_augmented(spark, sf_dir))


def _o_sh(src: str, n: int) -> str:
    """DISTINCT (doc_id, g) word n-gram shingles of ``src`` (oracle twin of
    functions.text.word_shingles over a table with doc_id/text)."""
    return (
        f"(SELECT DISTINCT doc_id, g FROM (SELECT doc_id, "
        f"unnest({O.shingles('text', n)}) AS g FROM {src}))"
    )


@register(
    "decontaminate_documents",
    f"""
    WITH sh AS (SELECT * FROM {_o_sh("documents", DECON_N)}),
    ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % {EVAL_MOD} = 0)
    SELECT t.doc_id, COUNT(*) AS n_overlap_grams
    FROM sh t JOIN ev ON t.g = ev.g
    WHERE t.doc_id % {EVAL_MOD} != 0
    GROUP BY t.doc_id
    """,
    doc=f"Benchmark decontamination: training docs sharing a word "
    f"{DECON_N}-gram with the eval split (doc_id % {EVAL_MOD} = 0) — "
    "GPT-3-style overlap check; eval shingles broadcast, one count shuffle.",
)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return decontaminate(
        d.filter(F.col("doc_id") % EVAL_MOD != 0),
        d.filter(F.col("doc_id") % EVAL_MOD == 0),
        shingle_n=DECON_N,
    )


@register(
    "repetition_stats_documents",
    f"""
    WITH toks AS (
      SELECT doc_id, {O.token_count("text")} AS n_tokens,
             CAST(len(list_distinct({O.toks("text")})) AS INTEGER) AS n_distinct
      FROM documents),
    grams AS (SELECT doc_id, g, COUNT(*) AS c FROM
      (SELECT doc_id, unnest({O.shingles("text", 2)}) AS g FROM documents)
      GROUP BY doc_id, g),
    top AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM grams GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens, t.n_distinct,
           round(CASE WHEN t.n_tokens > 0
                      THEN 1.0 - t.n_distinct / t.n_tokens ELSE 0.0 END, 6)
             AS dup_ratio,
           top.top_bigram_n,
           round(CASE WHEN t.n_tokens > 0
                      THEN 2.0 * top.top_bigram_n / t.n_tokens ELSE 0.0 END, 6)
             AS top_bigram_frac
    FROM toks t JOIN top USING (doc_id)
    """,
    doc="Gopher-style repetition measures per doc: duplicate-token ratio + "
    "top-bigram coverage (explode + two-level partial agg, no cross-doc "
    "traffic).",
)
def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(_t(spark, sf_dir, "documents"))


def _o_tfidf() -> str:
    toks = O.toks("text")
    dfs = ", ".join(
        f"CAST(SUM(CASE WHEN list_contains({toks}, '{t}') THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i, t in enumerate(TFIDF_TERMS)
    )
    score = " + ".join(
        f"CASE WHEN s.df{i} > 0 THEN CAST(len(list_filter({toks}, x -> x = '{t}')) AS DOUBLE) * ln(s.n / s.df{i}) ELSE 0.0 END"
        for i, t in enumerate(TFIDF_TERMS)
    )
    return f"""
    WITH s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, {dfs} FROM documents),
    scored AS (
      SELECT d.doc_id, round(0.0 + {score}, 6) AS score
      FROM documents d CROSS JOIN s)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
           doc_id, score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {TFIDF_K}
    """


@register(
    "tfidf_topk_documents",
    _o_tfidf(),
    doc=f"TF·IDF keyword retrieval for {TFIDF_TERMS}: corpus stats are one "
    "1-row aggregate broadcast back; scoring is a projection; "
    "TakeOrderedAndProject top-k — no global sort shuffle.",
)
def tfidf_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_topk(
        _t(spark, sf_dir, "documents"), list(TFIDF_TERMS), k=TFIDF_K
    )


# ---------------------------------------------------------------------------
# BPE merge learning (Sennrich et al. 2016): the tokenizer-TRAINING step of
# a corpus pipeline, with a full-loop recursive-CTE oracle (the
# pagerank/kmeans discipline applied to subword vocabulary induction). The
# corpus pass is distributed; the merges run on the driver over the
# word-type vocabulary. No counterpart exists in the reference (its
# tokenization is whatever the SentenceTransformer ships —
# PLATFORM-contextual-Chunking.py:52-77); a 100 TB pipeline trains its own.
#
# Symbol strings carry a '·' marker BEFORE every token ("·l·o·w·_"): a merge
# is then plain `replace(sym, '·a·b', '·ab')`, which Python, Spark and
# DuckDB all apply leftmost-non-overlapping, and the shared middle marker
# makes overlapping matches consume correctly ("·a·a·a" + (a,a) -> "·aa·a",
# the BPE scan order). The pattern's START sits on a token boundary, its
# END does not: '·a·b' also matches the head of a longer token 'bc'
# ("·a·bc" -> "·abc"). The oracle replays the same replace, so the rows
# agree; a token-list merge would not.

BPE_K = 8           # merges to learn
BPE_MIN_FREQ = 5    # word-type frequency floor (both engines replay it)
BPE_WLEN_LO, BPE_WLEN_HI = 2, 10

# adjacent-pair extraction from a marker string, DuckDB dialect; {src} is
# the state relation to count over
_BPE_PAIRS_DUCK = """
    SELECT s2.it, pr.a, pr.b, SUM(s2.freq) AS cnt
    FROM {src} s2, LATERAL (
      SELECT toks[i] AS a, toks[i+1] AS b
      FROM (SELECT list_filter(string_split(s2.sym, '·'), x -> x <> '') AS toks),
           LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i)
    ) pr
    GROUP BY s2.it, pr.a, pr.b
"""


def _o_bpe() -> str:
    return f"""
    WITH RECURSIVE
    words AS (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
            FROM documents WHERE text IS NOT NULL) u
      WHERE len(t) BETWEEN {BPE_WLEN_LO} AND {BPE_WLEN_HI}
      GROUP BY t HAVING COUNT(*) >= {BPE_MIN_FREQ}),
    state AS (
      SELECT 0 AS it, word, freq,
             '·' || list_aggr(string_split(word, ''), 'string_agg', '·')
                 || '·_' AS sym
      FROM words
      UNION ALL
      SELECT s.it + 1, s.word, s.freq,
             replace(s.sym, '·' || p.a || '·' || p.b, '·' || p.a || p.b)
      FROM state s
      JOIN (
        SELECT it, a, b FROM ({_BPE_PAIRS_DUCK.format(src='state')})
        QUALIFY ROW_NUMBER() OVER (PARTITION BY it
                                   ORDER BY cnt DESC, a, b) = 1
      ) p ON p.it = s.it
      WHERE s.it < {BPE_K})
    SELECT CAST(it + 1 AS INTEGER) AS merge_rank, a AS left_sym,
           b AS right_sym, CAST(cnt AS BIGINT) AS pair_count
    FROM ({_BPE_PAIRS_DUCK.format(src='state')})
    WHERE it < {BPE_K}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY it ORDER BY cnt DESC, a, b) = 1
    ORDER BY merge_rank
    """


@register(
    "bpe_learn_merges_documents",
    _o_bpe(),
    doc=f"BPE merge learning (top-{BPE_K} merges, Sennrich et al. 2016) "
    "over the documents corpus — tokenizer TRAINING, hash-matched against "
    "a DuckDB recursive CTE that replays every round (argmax ties broken "
    "by (count desc, pair lexicographic)). Corpus-sized work happens "
    "exactly once: one map-side-combinable tokenize+groupBy(word) shuffle "
    "down to the word-TYPE vocabulary (Heaps-law bounded), collected once "
    "by graph.collect_bounded (more than graph.LOCAL_FINISH_ROWS word "
    "types raise). The merges run on the driver over the (freq, symbols) "
    "pairs and return as a local table, so no Spark job runs per merge.",
)
def bpe_learn_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .where(F.length("word").between(BPE_WLEN_LO, BPE_WLEN_HI))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= BPE_MIN_FREQ)
    )
    vocab = graph.collect_bounded(words.select("freq", "word"))
    if vocab is None:
        raise ValueError(
            "BPE training finishes on the driver over at most "
            f"{graph.LOCAL_FINISH_ROWS} word types (LOCAL_FINISH_ROWS)"
        )
    syms = [(freq, "·" + "·".join(word) + "·_") for freq, word in vocab]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, BPE_K + 1):
        counts: Counter = Counter()
        for freq, sym in syms:
            toks = [t for t in sym.split("·") if t]
            for pair in zip(toks, toks[1:]):
                counts[pair] += freq
        if not counts:  # no symbol pair left: keep the merges learned so far
            break
        # count desc, then (a, b) ascending: on [a-z_] symbols Python's
        # code-point order is Spark's and DuckDB's binary string order
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, cnt))
        syms = [(freq, sym.replace(f"·{a}·{b}", f"·{a}{b}")) for freq, sym in syms]
    schema = StructType.fromDDL(
        "merge_rank int, left_sym string, right_sym string, pair_count long"
    )
    return graph.local_frame(spark, schema, merges)
