"""Cross-engine-stable hashing primitives.

Spark's ``hash()``/``xxhash64()`` and DuckDB's ``hash()`` are different
algorithms, so every hash the oracle must replay is built on ``md5`` hex
strings — bit-identical in both engines. Conventions:

  * stable_int32(col): first 8 md5 hex chars → int via base-16 conv.
    DuckDB replays it with a per-hex-char ``strpos('0123456789abcdef', c)``
    polynomial (no ``conv`` there) — same value.
  * MinHash "permutation" i  ≡  (a_i · h + b_i) mod (2^31 − 1) with
    h = stable_int32(shingle) mod (2^31 − 1): one md5 per shingle, the
    affine family below.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_hex(col: Column | str, nchars: int = 8) -> Column:
    """First ``nchars`` of md5 hex — a stable string hash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c), 1, nchars)


def stable_int32(col: Column | str) -> Column:
    """Stable non-negative 32-bit integer hash (as LongType)."""
    return F.conv(stable_hex(col, 8), 16, 10).cast("long")


def duckdb_hex_to_int(hex_expr: str, nchars: int = 8) -> str:
    """DuckDB SQL fragment: parse ``nchars`` hex chars to a BIGINT.

    Horner-form polynomial over strpos-decoded chars; used by oracle SQL to
    replay :func:`stable_int32`.
    """
    acc = "0"
    for i in range(1, nchars + 1):
        acc = (
            f"({acc}) * 16 + (strpos('0123456789abcdef', "
            f"substr({hex_expr}, {i}, 1)) - 1)"
        )
    return f"CAST({acc} AS BIGINT)"


# ------------------------- affine (universal-hash) minhash permutations
# Classic Carter-Wegman family over the Mersenne prime 2^31−1:
#   key_i(shingle) = (a_i · h + b_i) mod p,   h = stable_int32(shingle) mod p
# One md5 per shingle; the 16 permutations are integer multiply-add-mod in
# whole-stage codegen. p = 2^31−1 keeps every product < 2^62, so the same
# arithmetic is exact BIGINT in DuckDB (no Java-wrap / overflow divergence).
# The mod must actually wrap (it does, ~2^31 times) — a larger prime would
# leave the map monotone in h and every permutation would pick the SAME
# argmin shingle, silently destroying minhash independence.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i ≥ 1, both < p, derived from md5
    so the oracle replays them as literals."""
    import hashlib

    def c(tag: str, i: int) -> int:
        return int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16) % MINHASH_P

    return [(c("a", i) or 1, c("b", i)) for i in range(num_perm)]


def shingle_int_hash(col: Column) -> Column:
    """Shingle → integer in [0, p): md5-derived, oracle-replayable."""
    return stable_int32(col) % F.lit(MINHASH_P)


def stable_int60(col: Column | str) -> Column:
    """Stable positive 60-bit integer hash (15 md5 hex chars → LongType).

    Purpose-built for replacing shingle STRINGS with fixed-width ints in
    pair-heavy SET operations (jaccard/containment verification): the
    shuffle payload drops from ~20+ B per shingle to 8 B and array
    intersections compare longs instead of strings (measured 1.7× on
    ngram_jaccard_near_dups at sf0.1). 60 bits keeps the value positive
    in a BIGINT in BOTH engines; the oracle replays it with
    :func:`duckdb_hex_literal_int`, so any within-doc hash collision
    (P ≈ 2⁻⁶⁰ per pair) merges the same shingles in both engines —
    outputs stay bit-identical by construction, like every other
    md5-derived hash here."""
    return F.conv(stable_hex(col, 15), 16, 10).cast("long")


def duckdb_hex_literal_int(expr: str, nchars: int = 15) -> str:
    """DuckDB twin of :func:`stable_int60`: hex-literal cast, no
    polynomial needed (BIGINT holds 15 hex chars = 60 bits)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {nchars})) AS BIGINT)"
