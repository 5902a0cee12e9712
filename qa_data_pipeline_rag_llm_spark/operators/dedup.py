"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Extension surface for training-data pipelines (task brief; the reference
only dedups by id at ingest — SURVEY.md §2.5 A3). Every variant is pure
DataFrame ops on md5-based hashes (functions.hashing) so the DuckDB oracle
replays them exactly.

Scale design notes (these run over the full corpus at 100 TB):
  * Exact: one hash-groupBy — map-side partial agg, single shuffle.
  * MinHash: signatures via ONE aggregation (k min-columns, no k× row
    blowup); LSH banding shuffles (band_id, band_key) — candidate pairs
    only ever co-group docs that collide, never O(n²).
  * Blocked Jaccard: joins docs only through shingles with document
    frequency ≤ max_df (stopword-shingle pruning bounds the blowup).
  * SimHash: explode+agg with 32 conditional-sum columns — partial-agg
    friendly; near-pairs via 4×8-bit band collision + bit_count verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qa_data_pipeline_rag_llm_spark.functions.hashing import (
    MINHASH_P,
    minhash_coeffs,
    shingle_int_hash,
    stable_int32,
)
from qa_data_pipeline_rag_llm_spark.functions.text import normalize_text, word_shingles
from qa_data_pipeline_rag_llm_spark.operators.util import ensure_parallelism


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups on normalized text: (fingerprint, canonical id,
    n_dups). Groups of size 1 included so output is total."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _assert_unique_ids(df: DataFrame, id_col: str) -> None:
    """Fail-loud one-row-per-doc precondition check (advice r07).

    Shingle sets are built PER ROW (``array_distinct``); a caller
    passing duplicate ``id_col`` rows (e.g. a history+batch union that
    forgot to key) corrupts the pair output — each duplicate row joins
    the verification independently, yielding repeated pair rows (and,
    when the texts under one id diverge, CONFLICTING similarity values
    for the same pair key), where the pre-r7 global ``.distinct()`` was
    immune. One eager aggregate (groupBy-count-limit-1), opt-in via the
    entry points' ``validate=True`` so the hot path stays job-free, same
    contract shape as ``api.weighted_sample``."""
    dup = (
        df.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise _duplicate_ids(id_col)


def _duplicate_ids(id_col: str) -> ValueError:
    """The error of the one-row-per-doc precondition, wherever it is
    checked."""
    return ValueError(
        f"dedup: id column {id_col!r} has duplicate rows — shingle "
        "sets are built per-row (array_distinct), so duplicated ids "
        "produce repeated or conflicting pair rows. Reduce to one "
        "row per document id first."
    )


def _doc_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingle) pairs, distinct — the set representation used by both
    MinHash and exact Jaccard.

    Dedup happens per-doc with ``array_distinct`` BEFORE the explode:
    duplicate (doc, shingle) pairs can only come from repeats WITHIN one
    document (callers pass one row per doc), so the global ``.distinct()``
    this replaces was a full-corpus shuffle spent re-proving a map-side
    fact. Zero shuffles now — the set representation materializes inside
    the scan stage of every downstream verification join."""
    df = ensure_parallelism(df)
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias(
            "shingle"
        ),
    )


def _doc_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc, shset) — the per-doc distinct-shingle set as an ARRAY, a
    pure map-side projection (the r7 ``array_distinct`` argument one
    level up: sizes AND intersections are per-row facts once both sets
    sit in one row, so verification needs no exploded stream at all —
    see ``_pair_intersections``). ``word_shingles`` is total (even empty
    text yields one shingle), so every doc gets a non-empty set."""
    df = ensure_parallelism(df)
    return df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(word_shingles(text_col, n)).alias("shset"),
    )


def _doc_shingles_h(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc, shingle) exploded stream with shingles as 60-bit ints
    (functions.hashing.stable_int60) — the pair-verification families'
    hot-path twin of :func:`_doc_shingles`: 8-byte longs shuffle and
    compare instead of variable-width strings (1.7× on
    ngram_jaccard_near_dups at sf0.1, r12). Distinct is taken over the
    HASHED values; the oracle hashes with the same md5 prefix, so a
    within-doc collision (P ≈ 2⁻⁶⁰ per pair) merges identically in both
    engines."""
    from qa_data_pipeline_rag_llm_spark.functions.hashing import stable_int60

    df = ensure_parallelism(df)
    hs = F.array_distinct(
        F.transform(word_shingles(text_col, n), stable_int60)
    )
    return df.select(
        F.col(id_col).alias("doc"), F.explode(hs).alias("shingle")
    )


def _doc_shingle_sets_h(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc, shset) with the per-doc distinct-shingle set as an
    array<long> — int twin of :func:`_doc_shingle_sets`, same contract."""
    from qa_data_pipeline_rag_llm_spark.functions.hashing import stable_int60

    df = ensure_parallelism(df)
    return df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(
            F.transform(word_shingles(text_col, n), stable_int60)
        ).alias("shset"),
    )


def shingle_signatures(
    sets: DataFrame, num_perm: int = 16, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-doc MinHash signature of a (doc, shset) frame whose ``shset``
    is the doc's shingle array: (doc, *carry, mh0..mh{k-1}), each the MIN
    of the i-th affine permutation (a_i·h + b_i) mod 2^31−1 over the
    shingle hashes (functions.hashing.minhash_coeffs). Duplicate
    shingles cannot change a min, so a raw shingle array and its
    ``array_distinct`` set give the same signature — the one code path
    for :func:`minhash_signatures` (shingles from text) and callers that
    already hold the set (``api.curate``'s checkpoint).

    A pure per-row projection — each shingle is hashed ONCE (one md5),
    then every permutation is an ``array_min`` over an integer
    ``transform``. No explode, no distinct, no shuffle: at 100 TB this is
    map-only over the scan. Measured at sf0.1: ~10× faster than
    explode+groupBy, ~4× faster than one-md5-per-permutation.
    """
    base = sets.select(
        "doc", *carry, F.transform("shset", shingle_int_hash).alias("__hs")
    )

    def mh(i: int, a: int, b: int) -> F.Column:
        # one parsed expression per permutation (r12): the lambda form
        # cost a py4j-bound ~40 ms per permutation of DRIVER time at
        # every plan build; the parsed tree is the same integer
        # multiply-add-mod transform, so signatures are bit-identical
        return F.expr(
            f"array_min(transform(`__hs`, "
            f"h -> ({a} * h + {b}) % {MINHASH_P}))"
        ).alias(f"mh{i}")

    coeffs = minhash_coeffs(num_perm)
    return base.select(
        "doc", *carry, *[mh(i, a, b) for i, (a, b) in enumerate(coeffs)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature of each row's text: (doc, mh0..mh{k-1})
    by :func:`shingle_signatures` over the row's word shingles."""
    df = ensure_parallelism(df)
    return shingle_signatures(
        df.select(
            F.col(id_col).alias("doc"),
            word_shingles(text_col, shingle_n).alias("shset"),
        ),
        num_perm,
    )


def band_keys(num_perm: int = 16, bands: int = 4) -> list[F.Column]:
    """The LSH band keys of a signature row, ``band0..band{bands-1}``:
    one md5 per ``num_perm/bands`` consecutive signature slots. Two docs
    are a candidate pair when any band key of the same index is equal."""
    rows = num_perm // bands
    return [
        F.md5(F.concat_ws("|", *[f"mh{b * rows + r}" for r in range(rows)])).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]


def minhash_bands(
    sig: DataFrame, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """Signature frame (doc, mh0..mh{k-1}) → LSH band rows
    (doc, band_id, band_key), one per :func:`band_keys` column. Stateless
    projection + generator — safe in batch AND in a streaming plan (no
    shuffle, no state)."""
    return (
        sig.select("doc", *band_keys(num_perm, bands))
        .select(
            "doc",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band{b}").alias("band_key"),
                    )
                    for b in range(bands)
                ])
            ).alias("bk"),
        )
        .select("doc", "bk.band_id", "bk.band_key")
    )


def set_lsh_pairs(
    sets: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-duplicate pairs of a (doc, shset)
    frame of per-doc distinct shingle sets: band collisions of the
    sets' signatures, verified by :func:`_verify_jaccard` over the same
    sets."""
    banded = minhash_bands(shingle_signatures(sets, num_perm), num_perm, bands)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_id", "band_key"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(cand, sets, jaccard_threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    validate: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH banding, verified with exact
    Jaccard over the shingle sets: (doc_a, doc_b, jaccard) — one
    shingle-set projection feeds both the signatures and the
    verification (:func:`set_lsh_pairs`).

    ``df`` must carry ONE row per ``id_col`` (shingle sets are per-row;
    duplicate ids corrupt the pair output — see ``_assert_unique_ids``).
    Pass ``validate=True`` to enforce it with one eager aggregate."""
    if validate:
        _assert_unique_ids(df, id_col)
    return set_lsh_pairs(
        _doc_shingle_sets(df, text_col, id_col, shingle_n),
        num_perm,
        bands,
        jaccard_threshold,
    )


def minhash_incremental_pairs(
    df: DataFrame,
    new_pred: F.Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    validate: bool = False,
) -> DataFrame:
    """Incremental dedup: NEW-batch docs (rows where ``new_pred``) checked
    against the HISTORICAL corpus (the rest) — the production shape where
    each ingest batch dedups against everything already accepted without
    re-pairing the whole corpus.

    Same banding as :func:`minhash_lsh_pairs`, but candidates are only
    new×historical band collisions (never new×new or hist×hist), so the
    join cost scales with the BATCH, not the corpus: at 100 TB the
    historical banded table is a bucketed/partitioned-by-band_key table
    the small new-batch side shuffles into. Returns verified
    (doc_a=new, doc_b=historical, jaccard) pairs.

    ``df`` must carry ONE row per ``id_col`` across history AND batch
    combined — the exact union-without-keying shape this function
    invites is the one that breaks the precondition, so
    ``validate=True`` is the recommended first-run setting.
    """
    if validate:
        _assert_unique_ids(df, id_col)
    sig = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    flags = df.select(F.col(id_col).alias("doc"), new_pred.alias("__new"))
    banded = (
        minhash_bands(sig, num_perm, bands)
        .join(flags, "doc")
    )
    cand = (
        banded.filter(F.col("__new"))
        .alias("a")
        .join(
            banded.filter(~F.col("__new")).alias("b"),
            ["band_id", "band_key"],
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(
        cand,
        _doc_shingle_sets(df, text_col, id_col, shingle_n),
        jaccard_threshold,
    )


def _pair_intersections(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, na, nb) for candidate pairs, via TWO
    doc-id joins against the per-doc shingle-ARRAY frame and a per-pair
    ``array_intersect`` (r8). The previous shape exploded the shingle
    sets and joined pairs through (doc, shingle) equality — a
    |pairs| × |shingles(doc)| row blowup plus a groupBy re-shuffle just
    to count matches; the array form ships each set once per pair side
    and counts map-side (1.6× at sf0.1, output bit-identical). Pairs
    with an EMPTY intersection are dropped, matching the old inner
    join's semantics (banding candidates can collide without sharing a
    single shingle)."""
    return (
        pairs.join(
            sets.select(
                F.col("doc").alias("doc_a"), F.col("shset").alias("__sa")
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc").alias("doc_b"), F.col("shset").alias("__sb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_inter"),
            F.size("__sa").alias("na"),
            F.size("__sb").alias("nb"),
        )
        .filter(F.col("n_inter") > 0)
    )


def _verify_jaccard(
    pairs: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate pairs from per-doc shingle-set arrays
    (``_doc_shingle_sets``): intersection and both sizes come out of one
    ``_pair_intersections`` pass — no exploded-stream join, no separate
    sizes frame."""
    j = _pair_intersections(pairs, sets)
    return (
        j.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int = 20,
    threshold: float = 0.2,
    validate: bool = False,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs, blocked through shared shingles.

    Docs are only compared if they share a shingle whose document frequency
    is ≤ ``max_df`` — the standard stopword-shingle pruning that keeps the
    candidate set near-linear at corpus scale. ``df`` must carry ONE row
    per ``id_col`` (``validate=True`` enforces it, one eager aggregate).
    """
    if validate:
        _assert_unique_ids(df, id_col)
    # int60-hashed shingles end to end (r12): blocking keys, candidate
    # joins, and set intersections all operate on longs — the oracle
    # hashes with the same md5 prefix, outputs bit-identical
    sh = _doc_shingles_h(df, text_col, id_col, shingle_n)
    cand = _blocked_candidates(sh, max_df)
    return _verify_jaccard(
        cand, _doc_shingle_sets_h(df, text_col, id_col, shingle_n), threshold
    )


def _blocked_candidates(sh: DataFrame, max_df: int) -> DataFrame:
    """Candidate unordered (doc_a < doc_b) pairs sharing a rare shingle
    (df in (1, max_df]). Shared by the Jaccard and containment families
    so the blocking policy cannot silently diverge between them; the
    containment caller projects its directed rows AFTER the symmetric
    verification."""
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") > 1) & (F.col("df") <= max_df))
        .select("shingle")
    )
    blocked = sh.join(rare, "shingle")
    return (
        blocked.alias("a")
        .join(blocked.alias("b"), "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int = 20,
    threshold: float = 0.5,
    validate: bool = False,
) -> DataFrame:
    """DIRECTED containment near-dups: C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|.

    Jaccard misses asymmetric duplication — a short doc quoted verbatim
    inside a much longer one scores low Jaccard (union is large) but
    containment ≈ 1. This is the measure that catches quote-farms and
    wrapper pages in a training corpus. Same shared-rare-shingle blocking
    as :func:`ngram_jaccard_pairs` (df ≤ max_df), so candidates stay
    near-linear; both directions of each surviving pair are emitted
    because containment is not symmetric — but the INTERSECTION is, so
    the verification runs once per unordered pair
    (``_pair_intersections`` — both set sizes come out of the same
    array pass) and the two directed rows are a pure projection of its
    result. ``df`` must carry ONE row per ``id_col`` (``validate=True``
    enforces it, one eager aggregate).
    """
    if validate:
        _assert_unique_ids(df, id_col)
    # int60-hashed shingles, same trade as ngram_jaccard_pairs (r12)
    sh = _doc_shingles_h(df, text_col, id_col, shingle_n)
    cand = _blocked_candidates(sh, max_df)
    j = _pair_intersections(
        cand, _doc_shingle_sets_h(df, text_col, id_col, shingle_n)
    )
    both = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"),
                    F.col("na").alias("n_src"),
                ),
                F.struct(
                    F.col("doc_b").alias("src"),
                    F.col("doc_a").alias("dst"),
                    F.col("nb").alias("n_src"),
                ),
            )
        ).alias("d"),
        "n_inter",
    )
    return (
        both.select(
            F.col("d.src").alias("doc_a"),
            F.col("d.dst").alias("doc_b"),
            F.round(F.col("n_inter") / F.col("d.n_src"), 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    nbits: int = 32,
) -> DataFrame:
    """Per-doc ``nbits``-bit SimHash over word shingles: (doc, simhash).

    Bit b of the fingerprint = sign of Σ_shingles (±1 by bit b of the
    shingle's stable 32-bit hash). Ties (sum == 0) resolve to 0.
    """
    sh = _doc_shingles(df, text_col, id_col, shingle_n).withColumn(
        "h", stable_int32(F.col("shingle"))
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{b}")
        for b in range(nbits)
    ]
    sums = sh.groupBy("doc").agg(*bit_aggs)
    fp = sums.select(
        "doc",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
                for b in range(nbits)
            ],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return fp


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    max_hamming: int = 3,
    validate: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``max_hamming``,
    candidate-blocked by collision on any of four 8-bit bands.

    ``df`` must carry ONE row per ``id_col`` (duplicate ids double bit
    votes AND produce self-colliding band rows; ``validate=True``
    enforces the precondition with one eager aggregate).

    Pigeonhole recall contract: 4 bands guarantee a collision only for
    pairs within hamming 3 (d differing bits can straddle at most d
    bands, so d+1 bands are needed for guaranteed recall at distance d).
    The pre-r03 default of 6 advertised a recall the blocking cannot
    deliver — pairs differing by 4-6 bits spread one-per-band were
    silently absent. Callers wanting a larger radius must raise the band
    count, not just this threshold."""
    if validate:
        _assert_unique_ids(df, id_col)
    fp = simhash_fingerprints(df, text_col, id_col, shingle_n)
    banded = fp.select(
        "doc",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright(F.col("simhash"), b * 8)
                    .bitwiseAND(F.lit(255))
                    .alias("band_key"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("doc", "simhash", "bk.band_id", "bk.band_key")
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band_id", "band_key"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
