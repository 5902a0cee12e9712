"""Connected components: near-dup PAIRS → duplicate CLUSTERS.

LSH emits pairwise matches; real corpus dedup must group them
transitively (A~B, B~C ⇒ {A,B,C} keep one). That is connected
components, and union-find does not distribute, so above a size bound
the graph runs the large-star / small-star alternation (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014): O(log n) rounds
on ANY topology, and an edge set that SHRINKS every round toward one
star per component, so per-round cost falls as the graph collapses.
Round count is the cost that matters in this model (PAPERS.md,
"Approximation Algorithms for Large Scale Data Analysis"); a
propagation loop would need O(diameter) rounds and fail on long chains.

Small graphs finish on the driver: the operator checkpoints its
canonical edge frame once, takes at most ``LOCAL_FINISH_ROWS`` + 1 of
its rows in one collect, and when the whole frame fits runs union-find
there (root = minimum id, so labels are the rounds' labels by
construction) — every round pays Spark's fixed per-job cost however few
edges are left, and a near-dup pair graph is often a few dozen edges.
The distributed rounds run only above the bound.

Three driver-side helpers serve these finishes (here, in ``api.curate``,
in the source-tournament queries and in BPE merge learning), under the
one bound ``LOCAL_FINISH_ROWS``: :func:`collect_bounded`, the one bounded
collect; :func:`union_find` (Python id order, root = minimum id); and
:func:`local_frame`, the one builder of an Arrow-backed result frame,
whose ``LocalTableScan`` costs no job to collect.

Scale notes: each round's edge frame is checkpointed (lazily, then
materialized by the convergence aggregate), so lineage stays O(1)
instead of growing by one star pass per round. The per-round
convergence check is a two-scalar signature aggregate, never a collect
of edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge rows at or below which a graph finishes on the driver, likewise
# api.curate's documents and candidate pairs, the source tournament's
# duel rows and BPE's word types (a bound, not an option: 10^5 id pairs
# are a few MB of driver memory; curate's shingle sets, which are not,
# must also fit the session's broadcast threshold).
LOCAL_FINISH_ROWS = 100_000
# Two-star rounds before the distributed loop gives up: O(log n) rounds
# reach the fixpoint on any topology, plus one no-change round to see it.
MAX_ROUNDS = 30


def union_find(edges) -> dict:
    """{vertex: label} over the endpoints of the ``(x, y)`` pairs in
    ``edges`` by union-find on the driver; label = the minimum id of the
    vertex's component, the fixpoint the distributed rounds reach. Ids
    compare as Python values, which order ints and strings as Spark's
    ``least`` does. The one union-find of the engine: connected
    components and ``api.curate`` both finish through it."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in edges:
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {v: find(v) for v in parent}


def local_frame(spark, schema: StructType, rows: list) -> DataFrame:
    """``rows`` (tuples of Python values in ``schema``'s field order) as
    an Arrow-backed frame. An Arrow table becomes a ``LocalTableScan``:
    collecting it starts no job, and no Python worker task
    re-serializes the rows each time a plan scans them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return spark.createDataFrame(
        pa.table(
            {
                f.name: pa.array(
                    [r[i] for r in rows], type=to_arrow_type(f.dataType)
                )
                for i, f in enumerate(schema)
            }
        ),
        schema,
    )


def collect_bounded(df: DataFrame) -> list | None:
    """The rows of ``df``, or None when it holds more than
    ``LOCAL_FINISH_ROWS`` of them: one collect of at most one row past
    the bound decides, so an oversized frame is never pulled whole."""
    rows = df.limit(LOCAL_FINISH_ROWS + 1).collect()
    return None if len(rows) > LOCAL_FINISH_ROWS else rows


def _large_star(e_canon: DataFrame) -> DataFrame:
    """Kiveris et al. large-star over a CANONICAL (u > v, distinct) edge
    set: connect every strictly-LARGER neighbor of u to
    m = min({u} ∪ Γ(u)).

    r13 shape: the symmetrization is a plain union of the two
    orientations — for a canonical distinct input the orientations are
    disjoint, so the old ``_sym`` distinct (one full exchange) is
    provably a no-op and is gone. The neighborhood min is a WINDOW over
    u instead of groupBy + self-join (two exchanges → one), and the
    output is NOT deduplicated here: duplicate (v, m) rows cannot change
    small-star's min and the round's final distinct removes them — the
    same edge SET flows, one fewer exchange per round.

    Hub-skew trade-off: a window over u has no map-side combine, so ALL
    of a hub's edges shuffle to ONE task, which buffers the whole
    partition (spilling past ``spark.sql.windowExec.buffer.spill.threshold``)
    — a degree-d hub costs one task O(d) rows. The r12 groupBy form
    pre-aggregated the min map-side (one row per map task and u) but
    paid a second exchange to join it back to every edge, where AQE's
    skew-join split can break the hub's partition up. Near-dup graphs
    are small blobs, so the window form wins here; a power-law graph
    with million-degree hubs is where the groupBy form would be
    measured against it (not measured yet)."""
    sym = e_canon.union(
        e_canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w_u = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.min("v").over(w_u), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(lt: DataFrame) -> DataFrame:
    """Kiveris et al. small-star: connect u and every strictly-SMALLER
    neighbor to m = min of that set.

    r13 shape: the input is large-star's output directly — every
    large-star edge already has u > v, so the old ``_sym`` +
    ``filter(v < u)`` pair reconstructed exactly the frame it was handed
    (one redundant union + distinct exchange per round, now gone). The
    min is a window over u; neighbor and self edges are emitted in one
    pass via explode; the single distinct both dedups and restores the
    canonical invariant for the next round. Same hub-skew trade-off as
    ``_large_star``: every edge of a hub u lands in one window task."""
    w_u = Window.partitionBy("u")
    return (
        lt.withColumn("m", F.min("v").over(w_u))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(src, dst) undirected edges → (id, label), one row per vertex.

    Contract: every non-NULL endpoint appears, labelled with the minimum
    id of its component; a vertex whose only edge is a self-loop (or
    whose other endpoint is NULL) appears labelled itself. NULL
    endpoints are dropped: a NULL id is no vertex. Vertices absent from
    ``edges`` do not appear; callers join them back with label = own id.

    At most ``LOCAL_FINISH_ROWS`` canonical edges finish on the driver
    (module docstring); above that bound the large-star / small-star
    rounds run, and ``MAX_ROUNDS`` caps them.

    Convergence detection: a (count, xor-of-pair-hashes) signature of
    the canonical directed edge set — two scalar aggregates, no
    driver-side edge materialization. Signature-based detection needs
    one extra NO-CHANGE round to observe the fixpoint, so ``MAX_ROUNDS``
    must be at least (rounds-to-converge + 1); 30 leaves ample headroom
    over the O(log n) bound.
    """
    # materialize the edge input FIRST (r11): the caller's edge subtree
    # is often expensive (e.g. density_cluster_graph's cosine-verified
    # pairs) and feeds both the vertex set and round 1.
    # Canonical at entry (u >= v, distinct): the invariant both star
    # passes rely on to skip a per-round re-symmetrization distinct.
    # greatest/least skip a NULL, so (NULL, x) becomes the self-loop
    # (x, x) and only an all-NULL edge has a NULL u.
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    rows = collect_bounded(e)
    if rows is not None:  # every endpoint is a vertex, typed like u
        dtype = e.schema["u"].dataType
        schema = StructType([StructField(c, dtype) for c in ("id", "label")])
        return local_frame(e.sparkSession, schema, list(union_find(rows).items()))
    # verts is consumed exactly once (the final label join) and derives
    # from the checkpointed e, so it needs no checkpoint of its own;
    # self-loops count here and nowhere after
    verts = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )
    e = e.filter(F.col("u") != F.col("v"))

    def signature(d: DataFrame):
        # order-independent, partial-aggregatable, overflow-free: exact
        # decimal sum of per-edge hashes + count (both must match; a
        # colliding same-count different-edge-set sum is vanishingly
        # unlikely, and a false match only costs one extra round since
        # star operations are idempotent at fixpoint)
        row = d.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = None
    converged = False
    for _ in range(MAX_ROUNDS):
        # one materialization per round (r11), and as of r13 one JOB per
        # round: the checkpoint is LAZY and the signature aggregate is
        # the action that materializes it — the eager-checkpoint +
        # separate-collect pair launched two jobs over the same rows.
        # Both star passes are window-min shapes over the canonical edge
        # set (3 exchanges per round where r12's groupBy+join+_sym chain
        # had ~8); per-round edge SETS are unchanged, so signatures,
        # round counts and final labels are identical.
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig = signature(e)
        if sig == prev:
            converged = True
            break
        prev = sig
    if not converged:
        # exhausting the budget without a fixpoint means e is NOT yet a
        # star forest: a vertex can still hold several non-minimal parent
        # edges, and the join below would emit multiple wrong rows per
        # vertex. A silently corrupt labeling poisons every downstream
        # dedup decision (review r03), so fail loud.
        raise RuntimeError(
            f"two-star did not detect a fixpoint in MAX_ROUNDS={MAX_ROUNDS} "
            "rounds (O(log n)+1 rounds suffice for any topology — "
            "detection costs one extra no-change round)"
        )
    # converged: e is (node → component-min). Roots and isolated vertices
    # label themselves.
    return verts.join(e, verts.id == e.u, "left").select(
        "id", F.coalesce(F.col("v"), F.col("id")).alias("label")
    )
