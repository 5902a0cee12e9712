"""Registry entries: label & preference QUALITY over ``documents``.

SFT/RLHF data prep produces labels (keep/drop verdicts) and preferences
(chosen/rejected pairs); this module audits whether those signals are
trustworthy BEFORE a reward model trains on them — the step the
reference pipeline lacks entirely (its quality gating is fixed scalar
thresholds applied blind, ``/root/reference/STACK-Ingestion.py:30``):

  * Cohen's kappa between the two independent quality raters the engine
    already ships (Gopher hard rules vs the weighted quality score) —
    agreement beyond chance, overall and per source. Low kappa on a
    source means the filters disagree there and a human should look.
  * Bradley–Terry strength per source from stratified pairwise duels —
    the principled aggregation of "which source wins head-to-heads",
    in exact fixed-point arithmetic so the MM iteration is
    bit-reproducible and replayable as unrolled DuckDB CTEs.
  * Preference-cycle audit: the rate of intransitive triples
    (A≻B≻C≻A) in the majority-win tournament — cyclic preference data
    puts a ceiling on any reward model fit to it.

Scale notes (100 TB): the ONLY corpus-sized work is one shuffle-free
rater projection + one partial-agg shuffle to (lang, source) or
(source) grain. The duel table is |sources|²-bounded: both tournament
queries take one bounded collect of it and finish on the driver in exact
Python integers, raising ``ValueError`` above ``graph.LOCAL_FINISH_ROWS``
duel rows (~316 sources). Kappa's counts are exact longs and every
n²-scale product (kappa's pe terms, the duels' q6·n cross-multiplications)
widens to DECIMAL(38,0) via (19,0) factor casts (r09, advice r08) —
BIGINT products overflow 2^63 around 3×10^9 rows per cell, three decades
inside a 100 TB corpus.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from qa_data_pipeline_rag_llm_spark.functions.text import quality_score
from qa_data_pipeline_rag_llm_spark.operators import graph
from qa_data_pipeline_rag_llm_spark.plans import oracle_fragments as O
from qa_data_pipeline_rag_llm_spark.plans.queries import _t, register
from qa_data_pipeline_rag_llm_spark.plans.queries_curation import (
    G_MAX_MEAN_LEN,
    G_MAX_SYMBOL_FRAC,
    G_MAX_WORDS,
    G_MIN_ALPHA_FRAC,
    G_MIN_MEAN_LEN,
    G_MIN_STOP_HITS,
    G_MIN_WORDS,
    gopher_verdict,
)
from qa_data_pipeline_rag_llm_spark.plans.queries_text import _quality_sql

# Rater B threshold on the weighted quality score. NOT the SFT gate's
# 0.5: this corpus' scores sit in [0.75, 0.90] (5th-95th pct), so 0.5
# keeps 100% and a constant rater makes kappa degenerate-zero by
# construction. 0.8 splits near the median (~49% keep, vs the Gopher
# rules' ~45%) — the regime where chance-corrected agreement is
# informative.
K_QUAL_T = 0.8

# Bradley–Terry fixed point: strength 1.0 ≡ 10^6; every MM step is
# integer floor-div so Python and DuckDB replay identical iterates
# (the pagerank_cust_supp discipline, queries_graph_profile.py).
BT_S = 1_000_000
BT_S2 = BT_S * BT_S
BT_ITERS = 3
# Exclusion-peeling rounds (advice r08): a player is retained only if it
# has ≥1 win AND ≥1 loss WITHIN the retained set, so exclusion must
# iterate — dropping D can strand a player whose only loss was to D.
# Each round removes ≥1 player or is the fixed point, so K rounds
# converge for every tournament whose peel chain is ≤ K deep (a deeper
# chain needs ≥ K+2 sources arranged in a strictly nested peel — far
# past this corpus' source count, and the SQL twin unrolls the same K
# so both engines replay the identical retained set bit-for-bit).
BT_EXCL_ITERS = 6

# Exact-integer products throughout this module widen to DECIMAL(38,0)
# via (19,0) factor casts — BIGINT n² terms overflow 2^63 around
# 3×10^9 rows per cell, three decades inside a 100 TB corpus. The
# decimal product is exact while factors stay under 10^19 (n < 10^13
# docs per slice). Parses identically in Spark SQL and DuckDB.
_D19 = "DECIMAL(19,0)"


def _gopher_keep_sql() -> str:
    """DuckDB twin of queries_curation.gopher_verdict's ``keep`` column
    (same fragments/thresholds as the gopher_quality_documents oracle):
    ``SELECT doc_id, keep FROM ...`` over ``documents``."""
    return f"""
    SELECT doc_id,
           (n_tokens BETWEEN {G_MIN_WORDS} AND {G_MAX_WORDS})
             AND (mean_word_len BETWEEN {G_MIN_MEAN_LEN} AND {G_MAX_MEAN_LEN})
             AND symbol_frac < {G_MAX_SYMBOL_FRAC}
             AND alpha_word_frac >= {G_MIN_ALPHA_FRAC}
             AND stop_hits >= {G_MIN_STOP_HITS} AS keep
    FROM (
      SELECT doc_id, n_tokens, stop_hits,
             CASE WHEN n_tokens > 0
                  THEN round(sum_len * 1.0 / n_tokens, 6) ELSE 0.0 END
               AS mean_word_len,
             CASE WHEN raw_len > 0
                  THEN round((raw_len - kept_len) * 1.0 / raw_len, 6)
                  ELSE 0.0 END AS symbol_frac,
             CASE WHEN n_tokens > 0
                  THEN round(alpha_words * 1.0 / n_tokens, 6) ELSE 0.0 END
               AS alpha_word_frac
      FROM (
        SELECT doc_id,
               {O.token_count("text")} AS n_tokens,
               coalesce(list_aggregate(
                 list_transform({O.toks("text")}, x -> len(x)), 'sum'), 0)
                 AS sum_len,
               len(coalesce(text, '')) AS raw_len,
               len(regexp_replace(lower(coalesce(text, '')),
                                  '[^a-z0-9 ]', '', 'g')) AS kept_len,
               len(list_filter({O.toks("text")},
                               x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
               {O.stopword_hits("text", "en")} AS stop_hits
        FROM documents))
    """


# Shared CTE prefix: per-doc rater verdicts (a = Gopher rules,
# b = quality >= threshold) with source carried through.
_RATERS_SQL = f"""
    raters AS (
      SELECT q.source, g.keep AS ra, q.quality >= {K_QUAL_T} AS rb
      FROM ({_gopher_keep_sql()}) g
      JOIN (SELECT doc_id, source, quality
            FROM ({_quality_sql("doc_id, source")})) q USING (doc_id))
"""

_KAPPA_SQL = """
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS gopher_keep,
      CAST(SUM(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS quality_keep,
      CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
      CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT)
        AS both_drop
"""

# kappa from the five exact counts; NULL when chance agreement is total
# (pe = 1 makes the denominator 0 — a degenerate slice, not agreement).
# The n² products run in DECIMAL via (19,0) factor casts (r09, closing
# the docstring's deferred upgrade alongside the duels fix): BIGINT
# n_docs² overflows 2^63 at n ≈ 3×10^9 docs per slice — real at 100 TB.
# The counts stay exact longs; only the products widen, and both engines
# convert the identical exact integer to double at the final division
# (< 2^53 at every test scale → bit-identical hashes).
_K_N = f"CAST(n_docs AS {_D19})"
_K_GK = f"CAST(gopher_keep AS {_D19})"
_K_QK = f"CAST(quality_keep AS {_D19})"
_K_PE = f"({_K_GK} * {_K_QK} + ({_K_N} - {_K_GK}) * ({_K_N} - {_K_QK}))"
_KAPPA_EXPR = f"""
      CASE WHEN {_K_N} * {_K_N} - {_K_PE} = 0
           THEN NULL
           ELSE round(
             ((CAST(both_keep AS {_D19}) + both_drop) * {_K_N}
              - {_K_PE}) * 1.0
             / ({_K_N} * {_K_N} - {_K_PE}), 6)
      END AS kappa
"""


def _rater_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, ra, rb) per document in ONE shuffle-free projection:
    gopher_verdict carries source and the quality score through, so no
    doc_id re-join touches the corpus twice."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", quality_score("text").alias("__q")
    )
    v = gopher_verdict(d, carry=("source", "__q"))
    return v.select(
        "source",
        F.col("keep").alias("ra"),
        (F.col("__q") >= K_QUAL_T).alias("rb"),
    )


def _kappa_agg(g) -> DataFrame:
    counts = g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("ra").cast("long")).alias("gopher_keep"),
        F.sum(F.col("rb").cast("long")).alias("quality_keep"),
        F.sum((F.col("ra") & F.col("rb")).cast("long")).alias("both_keep"),
        F.sum((~F.col("ra") & ~F.col("rb")).cast("long")).alias("both_drop"),
    )
    d19 = "decimal(19,0)"
    n = F.col("n_docs").cast(d19)
    gk = F.col("gopher_keep").cast(d19)
    qk = F.col("quality_keep").cast(d19)
    pe_num = gk * qk + (n - gk) * (n - qk)
    denom = n * n - pe_num
    po_num = (F.col("both_keep").cast(d19) + F.col("both_drop")) * n
    return counts.withColumn(
        "kappa",
        F.when(denom == 0, F.lit(None).cast("double")).otherwise(
            F.round((po_num - pe_num) * 1.0 / denom, 6)
        ),
    )


@register(
    "filter_agreement_kappa",
    f"""
    WITH {_RATERS_SQL}
    SELECT n_docs, gopher_keep, quality_keep, both_keep, both_drop,
           {_KAPPA_EXPR}
    FROM (SELECT {_KAPPA_SQL} FROM raters)
    """,
    doc="Cohen's kappa between the engine's two independent quality "
    "raters (Gopher hard rules vs weighted quality score >= "
    f"{K_QUAL_T}) over the whole corpus: chance-corrected agreement "
    "from five exact long counts, one chance-division at the end. "
    "Kappa near 0 means the cheap score is NOT a proxy for the rule "
    "filter and curation verdicts built on either are rater-specific. "
    "One shuffle-free dual-rater projection (gopher_verdict carries "
    "the score through — the corpus is scanned ONCE) + a single "
    "map-side-combined global aggregate.",
)
def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kappa_agg(_rater_frame(spark, sf_dir).groupBy())


@register(
    "filter_agreement_by_source",
    f"""
    WITH {_RATERS_SQL}
    SELECT source, n_docs, gopher_keep, quality_keep, both_keep, both_drop,
           {_KAPPA_EXPR}
    FROM (SELECT source, {_KAPPA_SQL} FROM raters GROUP BY source)
    """,
    doc="filter_agreement_kappa at source grain: the slice view that "
    "localizes WHERE the two quality raters disagree (kappa is NULL "
    "for a degenerate slice where chance agreement is total). A "
    "curator reads this as a triage list — sources with low kappa get "
    "human review before their verdicts feed training. Same "
    "single-scan projection, one partial-agg shuffle to source grain.",
)
def filter_agreement_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kappa_agg(_rater_frame(spark, sf_dir).groupBy("source"))


# Shared duel CTEs: per-(lang, source) exact integer quality mass, then
# head-to-head duels per language stratum decided by cross-multiplied
# mean comparison (q6_a * n_b vs q6_b * n_a — no division, no ties kept).
# The cross-products run in DECIMAL(38,0) via (19,0) factor casts
# (advice r08: BIGINT q6·n overflows 2^63 near n ≈ 3×10^6 docs per
# (lang, source) cell — three decades before kappa's own n² limit; the
# decimal product is exact up to 10^19-digit factors, i.e. n < 10^13
# docs per cell, comfortably past a 100 TB corpus).
_DUELS_SQL = f"""
    q AS (SELECT doc_id, source, lang, quality
          FROM ({_quality_sql("doc_id, source, lang")})),
    agg AS (
      SELECT lang, source,
             CAST(SUM(CAST(round(quality * 1000000) AS BIGINT)) AS BIGINT)
               AS q6,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q GROUP BY lang, source),
    duels AS (
      SELECT CASE WHEN CAST(a.q6 AS {_D19}) * CAST(b.n AS {_D19})
                       > CAST(b.q6 AS {_D19}) * CAST(a.n AS {_D19})
                  THEN a.source ELSE b.source END AS win_s,
             CASE WHEN CAST(a.q6 AS {_D19}) * CAST(b.n AS {_D19})
                       > CAST(b.q6 AS {_D19}) * CAST(a.n AS {_D19})
                  THEN b.source ELSE a.source END AS lose_s
      FROM agg a JOIN agg b ON a.lang = b.lang AND a.source < b.source
      WHERE CAST(a.q6 AS {_D19}) * CAST(b.n AS {_D19})
            <> CAST(b.q6 AS {_D19}) * CAST(a.n AS {_D19})),
    pw AS MATERIALIZED (SELECT win_s, lose_s, CAST(COUNT(*) AS BIGINT) AS w
           FROM duels GROUP BY win_s, lose_s)
"""
# ``AS MATERIALIZED``: DuckDB inlines plain CTEs once PER REFERENCE, so
# the BT peel rounds (each referencing the previous round ~5×) would
# re-expand the corpus scan 5^K times without it. The oracle strings run
# only in DuckDB (the Spark side is the DataFrame builder), so the
# DuckDB-specific hint is safe; it pins evaluate-once semantics, as the
# Spark side's one collect of the duel table does.


def _duel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(win_s, lose_s, w) directed duel counts between sources; one
    corpus pass to (lang, source) grain, then a |sources|²-bounded
    self-join per language stratum. Lazy: each consumer collects it
    once."""
    d = _t(spark, sf_dir, "documents")
    q = d.select("lang", "source", quality_score("text").alias("q"))
    agg = q.groupBy("lang", "source").agg(
        F.expr("CAST(sum(CAST(round(q * 1000000) AS BIGINT)) AS BIGINT)").alias(
            "q6"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    a = agg.select(
        F.col("lang"),
        F.col("source").alias("sa"),
        F.col("q6").alias("qa"),
        F.col("n").alias("na"),
    )
    b = agg.select(
        F.col("lang"),
        F.col("source").alias("sb"),
        F.col("q6").alias("qb"),
        F.col("n").alias("nb"),
    )
    # DECIMAL(19,0) factors → exact DECIMAL(38,0) cross-products; BIGINT
    # q6·n overflows near n ≈ 3×10^6 docs per cell (advice r08)
    d19 = "decimal(19,0)"
    qa, na = F.col("qa").cast(d19), F.col("na").cast(d19)
    qb, nb = F.col("qb").cast(d19), F.col("nb").cast(d19)
    a_wins = qa * nb > qb * na
    duels = (
        a.join(b, "lang")
        .where(F.col("sa") < F.col("sb"))
        .where(qa * nb != qb * na)
        .select(
            F.when(a_wins, F.col("sa")).otherwise(F.col("sb")).alias("win_s"),
            F.when(a_wins, F.col("sb")).otherwise(F.col("sa")).alias("lose_s"),
        )
    )
    return duels.groupBy("win_s", "lose_s").agg(F.count(F.lit(1)).alias("w"))


def _bt_iter_sql(prev: str, out: str) -> str:
    """One unrolled MM iteration as a CTE (the recursive-CTE form is
    unavailable: the update references the strength table TWICE)."""
    return f"""
    {out} AS (
      SELECT pl.source,
             CAST((pl.wins * {BT_S2}) //
                  greatest(SUM((pr.n * {BT_S2}) // (pa.p + pb.p)), 1)
                  AS BIGINT) AS p
      FROM players pl
      JOIN pairs pr ON pr.s = pl.source
      JOIN {prev} pa ON pa.source = pr.s
      JOIN {prev} pb ON pb.source = pr.o
      GROUP BY pl.source, pl.wins)
"""


def _bt_peel_sql(i: int) -> str:
    """One exclusion-peeling round as CTEs: recompute wins/losses from
    the surviving duel set, keep players with both, restrict the duel
    set to them (advice r08 — exclusion must iterate AND the retained
    wins must be recomputed from retained duels only)."""
    prev = f"pw{i - 1}"
    return f"""
    wl{i} AS MATERIALIZED (
              SELECT s, SUM(w_cnt) AS wins, SUM(l_cnt) AS losses
              FROM (SELECT win_s AS s, w AS w_cnt, 0 AS l_cnt FROM {prev}
                    UNION ALL
                    SELECT lose_s AS s, 0 AS w_cnt, w AS l_cnt FROM {prev})
              GROUP BY s),
    k{i} AS MATERIALIZED (
              SELECT s FROM wl{i} WHERE wins > 0 AND losses > 0),
    pw{i} AS MATERIALIZED (
              SELECT win_s, lose_s, w FROM {prev}
              WHERE win_s IN (SELECT s FROM k{i})
                AND lose_s IN (SELECT s FROM k{i}))
"""


_PW_FINAL = f"pw{BT_EXCL_ITERS}"


@register(
    "bradley_terry_source_strengths",
    f"""
    WITH {_DUELS_SQL},
    pw0 AS MATERIALIZED (SELECT win_s, lose_s, w FROM pw),
    {",".join(_bt_peel_sql(i) for i in range(1, BT_EXCL_ITERS + 1))},
    wl AS (SELECT s AS source, SUM(w_cnt) AS wins, SUM(l_cnt) AS losses
           FROM (SELECT win_s AS s, w AS w_cnt, 0 AS l_cnt FROM {_PW_FINAL}
                 UNION ALL
                 SELECT lose_s AS s, 0 AS w_cnt, w AS l_cnt FROM {_PW_FINAL})
           GROUP BY s),
    players AS (SELECT source, CAST(wins AS BIGINT) AS wins,
                       CAST(losses AS BIGINT) AS losses
                FROM wl WHERE wins > 0 AND losses > 0),
    pairs AS (
      SELECT s, o, CAST(SUM(w) AS BIGINT) AS n FROM (
        SELECT win_s AS s, lose_s AS o, w FROM {_PW_FINAL}
        UNION ALL SELECT lose_s AS s, win_s AS o, w FROM {_PW_FINAL})
      WHERE s IN (SELECT source FROM players)
        AND o IN (SELECT source FROM players)
      GROUP BY s, o),
    p0 AS (SELECT source, CAST({BT_S} AS BIGINT) AS p FROM players),
    {_bt_iter_sql("p0", "p1")},
    {_bt_iter_sql("p1", "p2")},
    {_bt_iter_sql("p2", "p3")}
    SELECT pl.source, pl.wins, pl.losses, p3.p AS strength_e6
    FROM players pl JOIN p3 USING (source)
    """,
    doc=f"Bradley–Terry strength per source ({BT_ITERS} MM iterations, "
    f"1.0 ≡ 10^{len(str(BT_S)) - 1} fixed-point) over head-to-head "
    "duels: within each language stratum every source pair is decided "
    "by cross-multiplied exact mean quality (no division, ties "
    "dropped), and the win matrix is aggregated across strata. The "
    "principled version of source_temperature_weights' heuristic: "
    "strengths are the MLE of P(i beats j) = p_i/(p_i+p_j), the model "
    "reward-data mixing actually assumes. Every MM step is integer "
    "floor-div (the pagerank_cust_supp discipline) so DuckDB replays "
    "identical iterates as unrolled CTEs. One corpus pass to (lang, "
    "source) grain and one bounded collect of the |sources|²-sized duel "
    "table; the peel and the MM iterations run on the driver in exact "
    "Python integers (more than graph.LOCAL_FINISH_ROWS duel rows "
    "raise). Sources without both a win and a loss WITHIN THE RETAINED "
    "SET are excluded (their MLE diverges to 0/∞): exclusion peels "
    f"iteratively ({BT_EXCL_ITERS} unrolled rounds — dropping a source "
    "can strand one whose only loss was to it), and the reported "
    "wins/losses and MM numerators are recomputed from the retained "
    "duel set only, so the strengths are the true MLE of the retained "
    "tournament (advice r08: counting wins farmed off excluded sources "
    "while the pair denominator drops those duels inflated strengths "
    "and could invert head-to-head order).",
)
def bradley_terry_source_strengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return bt_strengths(_duel_counts(spark, sf_dir))


def _duel_rows(pw: DataFrame) -> list:
    """The (win_s, lose_s, w) rows of ``pw`` by one
    :func:`graph.collect_bounded`, the only Spark action of either
    tournament query; ``ValueError`` above the bound."""
    rows = graph.collect_bounded(pw.select("win_s", "lose_s", "w"))
    if rows is None:
        raise ValueError(
            "the source tournament finishes on the driver over at most "
            f"{graph.LOCAL_FINISH_ROWS} duel rows (LOCAL_FINISH_ROWS)"
        )
    return rows


def _players(rows) -> dict:
    """{source: [wins, losses]} over (win_s, lose_s, w) rows, for the
    sources with ≥1 of each. A NULL source matches no key of the SQL
    twin's joins, so it is never one."""
    wl: dict = defaultdict(lambda: [0, 0])
    for win, lose, w in rows:
        wl[win][0] += w
        wl[lose][1] += w
    return {s: v for s, v in wl.items() if s is not None and min(v) > 0}


def bt_strengths(pw: DataFrame) -> DataFrame:
    """Bradley–Terry MM fixed point over a directed duel-count frame
    (win_s, lose_s, w) → (source, wins, losses, strength_e6). Separated
    from the registry builder so property tests can feed synthetic
    tournaments (transitive chains, rock-paper-scissors, nested peel
    chains) directly.

    Exclusion peels iteratively (advice r08): a retained player must
    have ≥1 win and ≥1 loss against OTHER RETAINED players, and the
    reported wins/losses — the MM numerators — are recomputed from the
    retained duel set, never from duels against excluded sources. The
    SQL twin unrolls BT_EXCL_ITERS peel rounds (a round that drops
    nothing is the fixed point, so the rest are skipped here), then
    BT_ITERS MM rounds. Both run on the driver over :func:`_duel_rows`
    in Python integers: every operand is non-negative, so ``//`` is
    Spark's ``div``."""
    cur = _duel_rows(pw)
    for _ in range(BT_EXCL_ITERS):
        keep = _players(cur)
        kept = [r for r in cur if r[0] in keep and r[1] in keep]
        if len(kept) == len(cur):
            break
        cur = kept
    players = _players(cur)
    n: Counter = Counter()
    for win, lose, w in cur:
        n[win, lose] += w
        n[lose, win] += w
    p = dict.fromkeys(players, BT_S)
    for _ in range(BT_ITERS):
        # the SQL twin's inner joins: a pair needs both strengths, and a
        # player left without a pair has no denominator and drops
        d: Counter = Counter()
        for (s, o), n_so in n.items():
            if s in p and o in p:
                d[s] += n_so * BT_S2 // (p[s] + p[o])
        p = {s: players[s][0] * BT_S2 // max(v, 1) for s, v in d.items()}
    cols = [StructField("source", pw.schema["win_s"].dataType)] + [
        StructField(c, LongType()) for c in ("wins", "losses", "strength_e6")
    ]
    return graph.local_frame(
        pw.sparkSession,
        StructType(cols),
        [(s, *players[s], p[s]) for s in sorted(p)],
    )


@register(
    "preference_cycle_audit",
    f"""
    WITH {_DUELS_SQL},
    net AS (
      SELECT least(win_s, lose_s) AS x, greatest(win_s, lose_s) AS y,
             SUM(CASE WHEN win_s < lose_s THEN w ELSE -w END) AS net
      FROM pw GROUP BY least(win_s, lose_s), greatest(win_s, lose_s)),
    edges AS (
      SELECT CASE WHEN net > 0 THEN x ELSE y END AS src,
             CASE WHEN net > 0 THEN y ELSE x END AS dst
      FROM net WHERE net <> 0),
    und AS (SELECT x AS a, y AS b FROM net WHERE net <> 0),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM und u1 JOIN und u2 ON u2.a = u1.b
      JOIN und u3 ON u3.a = u1.a AND u3.b = u2.b),
    cyc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cycles
      FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
      JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
      WHERE e1.src < e2.src AND e1.src < e3.src)
    SELECT (SELECT CAST(COUNT(DISTINCT s) AS BIGINT)
            FROM (SELECT a AS s FROM und
                  UNION ALL SELECT b AS s FROM und)) AS n_nodes_raw,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           tri.n_triangles, cyc.n_cycles,
           CASE WHEN tri.n_triangles = 0 THEN NULL
                ELSE round(cyc.n_cycles * 1.0 / tri.n_triangles, 6)
           END AS cycle_rate
    FROM tri, cyc
    """,
    doc="Intransitivity audit of the majority-win source tournament: "
    "the fraction of decided triangles (all three pairs have a net "
    "majority direction) that form a preference CYCLE (A≻B≻C≻A). "
    "Cyclic preference data has no consistent total order — a reward "
    "model fit to it trades off contradictions, so this rate is the "
    "ceiling check to run BEFORE bradley_terry_source_strengths is "
    "trusted. Each directed 3-cycle is counted once (anchored at its "
    "least-named source). The triangles and cycles are counted on the "
    "driver over one bounded collect of the |sources|²-sized duel table "
    "(more than graph.LOCAL_FINISH_ROWS duel rows raise); the corpus is "
    "touched once, in the shared duel pass.",
)
def preference_cycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tournament_cycles(_duel_counts(spark, sf_dir))


def tournament_cycles(pw: DataFrame) -> DataFrame:
    """Majority-win tournament + intransitivity rate over a NULL-free
    directed duel-count frame (win_s, lose_s, w) → one row (n_nodes_raw,
    n_edges, n_triangles, n_cycles, cycle_rate). Separated from the
    registry builder for direct property testing (a rock-paper-scissors
    duel frame must rate 1.0; any transitive tournament 0.0).

    The four counts are the SQL twin's joins, counted on the driver over
    :func:`_duel_rows`; ``cycle_rate`` stays Spark's ``round``, a
    projection over the one-row local frame."""
    net: Counter = Counter()
    for win, lose, w in _duel_rows(pw):
        net[min(win, lose), max(win, lose)] += w if win < lose else -w
    und = {xy for xy, v in net.items() if v}
    edges = {(x, y) if net[x, y] > 0 else (y, x) for x, y in und}
    up, succ = defaultdict(set), defaultdict(set)
    for x, y in und:
        up[x].add(y)
    for x, y in edges:
        succ[x].add(y)
    # u1 = (a, b), u2 = (b, c), u3 = (a, c): each triangle once, a < b < c
    n_triangles = sum(len(up[a] & up[b]) for a, b in und)
    # e1 = (a, b), e2 = (b, c), e3 = (c, a), anchored at its least source
    n_cycles = sum(
        a < min(b, c) and a in succ[c] for a, b in edges for c in succ[b]
    )
    counts = ("n_nodes_raw", "n_edges", "n_triangles", "n_cycles")
    out = graph.local_frame(
        pw.sparkSession,
        StructType([StructField(c, LongType()) for c in counts]),
        [(len(set().union(*und)), len(edges), n_triangles, n_cycles)],
    )
    return out.select(
        *counts,
        F.when(F.col("n_triangles") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("n_cycles") * 1.0 / F.col("n_triangles"), 6))
        .alias("cycle_rate"),
    )
