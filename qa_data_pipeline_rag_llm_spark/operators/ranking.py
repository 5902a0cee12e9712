"""Top-k-per-group ranking (W1/O1) with deterministic tie-breaking.

The reference ranks comments per post with
``Window.partitionBy("parent_post_id").orderBy(col("score").desc())`` and
keeps rank ≤ 20 (``/root/reference/REDDIT-Nettoyage-Comms.py:63-67``,
``STACK-Nettoyage-Comms.py:95-99``). Ties on score make that
nondeterministic; this engine appends unique tie-break columns so results
are reproducible and oracle-hashable (SURVEY.md §2.6).

Scale note: row_number over a partitioned window is a single hash shuffle
on the group key plus a per-partition sort — the same cost shape at 100 TB,
with AQE handling skewed group keys. No driver involvement. A single
ranked list (one group) is :func:`ordered_take` instead: no window over
the input, and only ≤ k rows a partition move.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the top ``k`` rows per group. ``order_by`` must be a total order
    (pass a unique column last) for deterministic output."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def ordered_take(
    df: DataFrame,
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """The top ``k`` rows of ``df`` under ``order_by``, numbered 1..k in
    ``rank_col``. ``order_by`` must be a total order (pass a unique
    column last) for deterministic output.

    One ordered take — ``orderBy(...).limit(k)``, Spark's TakeOrdered: a
    local top-k per partition, then one merge of ≤ k rows a partition —
    and a row number over the ≤ k survivors, never a window over the
    input. The take's output is ONE partition, so the row number's
    window is partitioned by ``spark_partition_id()``, constant there and
    not foldable: a literal key is optimized away, and an unpartitioned
    window logs Spark's "No Partition Defined" WARN each time it plans."""
    w = Window.partitionBy(F.spark_partition_id()).orderBy(*order_by)
    return (
        df.orderBy(*order_by)
        .limit(k)
        .withColumn(rank_col, F.row_number().over(w))
    )


def salted_top_k(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    salt_col: str,
    num_salts: int = 16,
    rank_col: str = "rank",
) -> DataFrame:
    """Two-phase top-k per group for LOW-cardinality groups.

    ``top_k_per_group`` is the right shape when groups are many (the
    shuffle spreads them); with a handful of groups — one probe vector,
    three batch queries — each group's window frame is the WHOLE input
    through one task (the VERDICT r02 #1 scale killer). Phase 1 ranks
    within (group, salt) where salt = xxhash64(salt_col) % num_salts —
    a pure function of the data, never the physical partition (the AQE
    repartition pitfall) — and keeps each salt's local top-k; phase 2
    re-ranks the ≤ k·num_salts survivors per group. The true top-k
    survives phase 1 (global rank ≥ within-salt rank), so the result is
    value-identical to the one-window form. ``order_by`` must be a total
    order for deterministic output.
    """
    # pmod alone is already non-negative for negative hashes; a leading
    # abs() would throw ARITHMETIC_OVERFLOW under ANSI on the one hash
    # value equal to Long.MIN_VALUE (advice r03)
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(num_salts))
    w_local = Window.partitionBy(*group_by, "__topk_salt").orderBy(*order_by)
    survivors = (
        df.withColumn("__topk_salt", salt)
        .withColumn("__topk_lrank", F.row_number().over(w_local))
        .filter(F.col("__topk_lrank") <= k)
        .drop("__topk_salt", "__topk_lrank")
    )
    # phase 2 IS a plain per-group top-k — over ≤ k·num_salts rows
    return top_k_per_group(
        survivors, group_by, order_by, k, rank_col=rank_col, keep_rank=True
    )
