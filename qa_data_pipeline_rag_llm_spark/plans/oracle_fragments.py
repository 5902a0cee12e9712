"""DuckDB SQL fragment builders mirroring :mod:`functions.text` / `hashing`.

Every fragment is the exact DuckDB replay of one engine Column expression,
so oracle SQL for the text/dedup/similarity families can be composed instead
of hand-maintained. Cross-engine contract (probed, 2026-08-13):

  * ``regexp_replace(..., 'g')``     ≡ Spark ``regexp_replace`` (global)
  * ``string_split``                 ≡ Spark ``split`` (non-overlapping, no
    trailing-empty trim when the Spark side passes limit=-1)
  * ``md5``                          ≡ Spark ``md5`` (hex string)
  * list slice ``xs[i:j]`` 1-based inclusive ≡ Spark ``slice(xs, i, n)``
  * ``>>``/``&``/``xor``/``bit_count`` on BIGINT ≡ Spark bitwise ops
"""

from __future__ import annotations

from qa_data_pipeline_rag_llm_spark.functions.hashing import duckdb_hex_to_int
from qa_data_pipeline_rag_llm_spark.functions.text import LANG_STOPWORDS


def norm(c: str) -> str:
    """functions.text.normalize_text — strip non-ASCII-alnum BEFORE
    lower(): JVM and DuckDB lower() disagree on special-casing letters
    (U+0130 İ → 'i'+U+0307 vs 'i'), so casing must only ever see ASCII
    (probed 2026-08-14, tests/test_fragment_parity.py)."""
    return f"trim(lower(regexp_replace({c}, '[\\W_]+', ' ', 'g')))"


def toks(c: str) -> str:
    """functions.text.tokens"""
    return f"string_split({norm(c)}, ' ')"


def token_count(c: str) -> str:
    """functions.text.token_count (Spark F.size → INT; cast to match)"""
    return (
        f"CASE WHEN len({norm(c)}) = 0 THEN 0 "
        f"ELSE CAST(len({toks(c)}) AS INTEGER) END"
    )


def shingles(c: str, n: int) -> str:
    """functions.text.word_shingles

    NULL-text parity: Spark's short-doc branch is ``concat_ws`` over the
    token array, and concat_ws(NULL) = '' — so a NULL text yields ['']
    there. array_to_string(NULL, ' ') is NULL in DuckDB; the coalesce
    replays the Spark semantics (probed 2026-08-14)."""
    t = toks(c)
    return (
        f"CASE WHEN len({t}) >= {n} THEN "
        f"list_transform(range(1, len({t}) - {n} + 2), "
        f"i -> array_to_string(({t})[i:i+{n - 1}], ' ')) "
        f"ELSE [coalesce(array_to_string({t}, ' '), '')] END"
    )


def stable_int32(expr: str) -> str:
    """functions.hashing.stable_int32"""
    return duckdb_hex_to_int(f"md5({expr})", 8)


def stopword_hits(c: str, lang: str) -> str:
    """functions.text.stopword_hits (token membership filter — counts
    every token equal to a stopword, adjacent repeats included)"""
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"CAST(len(list_filter({toks(c)}, x -> x IN ({words}))) AS INTEGER)"


def lang_id(score_col: dict[str, str], default: str = "und") -> str:
    """functions.text.lang_id — replays the fold literally: iterate langs
    FORWARD in code order; strict '>' so the alphabetically earliest code
    wins ties (the documented contract). ``score_col`` maps lang → SQL
    column holding that language's stopword hits."""
    best_lang = f"'{default}'"
    best_score = "0"
    for lang in sorted(score_col):
        s = score_col[lang]
        best_lang = f"CASE WHEN {s} > ({best_score}) THEN '{lang}' ELSE {best_lang} END"
        best_score = f"greatest({s}, {best_score})"
    return best_lang


def fingerprint(c: str) -> str:
    """functions.text.fingerprint"""
    return f"md5({norm(c)})"


# Full-log SCD2 recompute over `events` — shared by the batch build, the
# incremental merge, and the streaming closed-version emitter (their
# oracles must be ONE text; lives here, a leaf module, so the streaming
# plans module can compose it at register time without importing
# queries_temporal mid-initialization — that import was a circular-
# import crash when queries_temporal was the first plans module loaded
# (review r03).
O_SCD2_FULL = """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN ROW_NUMBER()
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                    OR event_type IS DISTINCT FROM LAG(event_type)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ), v AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM o
    ), grp AS (
      SELECT user_id, CAST(version AS INTEGER) AS version,
             MIN(event_type) AS state, MIN(ts) AS vfrom
      FROM v GROUP BY user_id, version
    )
    SELECT user_id, version, state,
           epoch_us(vfrom) AS valid_from_us,
           LEAD(epoch_us(vfrom))
             OVER (PARTITION BY user_id ORDER BY version) AS valid_to_us,
           (LEAD(vfrom) OVER (PARTITION BY user_id ORDER BY version)
            IS NULL) AS is_current
    FROM grp
"""


def lloyd_ctes(k: int, iters: int) -> str:
    """operators.ivf.lloyd_centroids_v6 over ``embeddings`` — the body of
    a ``WITH RECURSIVE`` list defining ``flat`` (vec_id, pos, v6),
    ``seeds`` (the ``k`` smallest vec_ids) and ``cents`` (cluster, pos,
    c6, it); the trained centroids are ``cents WHERE it = {iters}``.
    Same v6 translation, (dist, cluster) tie-break, integer floor
    average and dropped empty clusters as the Spark loop."""
    return f"""
    flat AS (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) AS pos,
             CAST(round((CAST(unnest(embedding) AS DOUBLE) + 1.0) * 1000000)
                  AS BIGINT) AS v6
      FROM embeddings
    ), seeds AS (
      SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}
    ), cents AS (
      SELECT CAST(f.vec_id AS INTEGER) AS cluster, f.pos, f.v6 AS c6, 0 AS it
      FROM flat f JOIN seeds s ON s.vec_id = f.vec_id
      UNION ALL
      SELECT asg.cluster, f.pos,
             CAST(SUM(f.v6) // COUNT(*) AS BIGINT) AS c6,
             asg.it + 1 AS it
      FROM (
        SELECT d.vec_id, d.it,
               MIN(d.cluster) FILTER (WHERE d.dist = md.min_dist) AS cluster
        FROM (
          SELECT f.vec_id, c.cluster, c.it,
                 SUM((f.v6 - c.c6) * (f.v6 - c.c6)) AS dist
          FROM flat f JOIN cents c ON c.pos = f.pos
          GROUP BY f.vec_id, c.cluster, c.it
        ) d
        JOIN (
          SELECT vec_id, MIN(dist) AS min_dist FROM (
            SELECT f.vec_id, c.cluster,
                   SUM((f.v6 - c.c6) * (f.v6 - c.c6)) AS dist
            FROM flat f JOIN cents c ON c.pos = f.pos
            GROUP BY f.vec_id, c.cluster
          ) GROUP BY vec_id
        ) md ON md.vec_id = d.vec_id
        GROUP BY d.vec_id, d.it
      ) asg
      JOIN flat f ON f.vec_id = asg.vec_id
      WHERE asg.it < {iters}
      GROUP BY asg.cluster, f.pos, asg.it
    )"""
