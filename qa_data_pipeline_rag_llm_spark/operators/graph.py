"""Connected components: near-dup PAIRS → duplicate CLUSTERS.

LSH emits pairwise matches; real corpus dedup must group them
transitively (A~B, B~C ⇒ {A,B,C} keep one). That is connected
components — union-find does not distribute, so this is iterative
min-label propagation: every vertex repeatedly adopts the smallest label
in its neighborhood until fixpoint, converging in O(graph diameter)
rounds. Near-dup graphs are unions of small dense blobs, so the
diameter — and the round count — is tiny regardless of corpus size.

Small graphs finish on the driver: both operators checkpoint their
canonical edge frame once, take at most ``LOCAL_FINISH_ROWS`` + 1 of
its rows in one collect, and when the whole frame fits run union-find
there (root = minimum id, so labels are the rounds' labels by
construction) — every round pays Spark's fixed per-job cost however few
edges are left, and a near-dup pair graph is often a few dozen edges.
The distributed rounds below run only above the bound.

Scale notes: the symmetrized edge list is checkpointed once and reused
every round; labels are re-checkpointed per round so lineage stays O(1)
instead of growing by one join per iteration (the classic iterative-
Spark failure mode). The per-round convergence check is a scalar
``count()`` — an action, not a data collect. For planet-scale graphs
swap the loop body for the large-star/small-star variant (Kiveris et
al., "Connected Components in MapReduce and Beyond") — same contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge rows at or below which a graph finishes on the driver (a bound,
# not an option: 10^5 id pairs are a few MB of driver memory).
LOCAL_FINISH_ROWS = 100_000


def _finish_locally(e: DataFrame, a: str, b: str) -> DataFrame | None:
    """(id, label) of the edge frame ``e`` by union-find on the driver,
    or None when ``e`` holds more than ``LOCAL_FINISH_ROWS`` rows (one
    bounded collect decides). Every endpoint is a vertex; label = the
    minimum id of its component, the fixpoint both distributed loops
    reach. A NULL endpoint is a vertex labelled NULL that joins nothing
    (a NULL never equals in the rounds' joins either). Ids compare as
    Python values, which order ints and strings as Spark's ``min``
    does. Both columns are typed like the edge columns."""
    rows = e.limit(LOCAL_FINISH_ROWS + 1).collect()
    if len(rows) > LOCAL_FINISH_ROWS:
        return None
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in ((r[a], r[b]) for r in rows):
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        if x is not None and y is not None:
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    # an Arrow table becomes a LocalTableScan: no Python worker task
    # re-serializes the rows each time the labels are scanned
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    dtype = e.schema[a].dataType
    t = to_arrow_type(dtype)
    ids = list(parent)
    return e.sparkSession.createDataFrame(
        pa.table(
            {
                "id": pa.array(ids, type=t),
                "label": pa.array([find(v) for v in ids], type=t),
            }
        ),
        StructType([StructField("id", dtype), StructField("label", dtype)]),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(src, dst) undirected edges → (id, label) with label = min vertex
    id reachable. Only vertices present in edges appear; callers join
    isolated vertices back with label = own id. At most
    ``LOCAL_FINISH_ROWS`` symmetrized edges finish on the driver."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    e = e.localCheckpoint(eager=True)  # scanned every round — cut lineage once
    local = _finish_locally(e, "a", "b")
    if local is not None:
        return local
    labels = (
        e.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        # r13: the change flag is computed INSIDE the label-update
        # projection (new < old ⇔ a neighbor label undercut ours), so the
        # convergence check needs no second join against the old labels —
        # and the LAZY localCheckpoint is materialized by the count()
        # itself: one job per round where r12 launched two (the eager
        # checkpoint, then a join+count). Labels are identical rows; only
        # the job cadence changes.
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.a, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_min", F.col("label")) < F.col("label")).alias(
                    "_chg"
                ),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("_chg").count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            return labels
    # a silently-truncated labeling merges nothing visibly wrong into
    # downstream keep/drop decisions — fail loud instead. Near-dup blob
    # graphs converge in a handful of rounds; a high-diameter graph
    # (long chains) needs connected_components_twostar, which converges
    # in O(log n) rounds on any topology.
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter); use "
        "connected_components_twostar for high-diameter graphs"
    )


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


def connected_components_twostar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(src, dst) undirected edges → (id, label): the large-star /
    small-star alternation (Kiveris et al., "Connected Components in
    MapReduce and Beyond", 2014) — the planet-scale twin of
    :func:`connected_components`.

    Min-label propagation converges in O(diameter) rounds, which is fine
    for near-dup blobs but not for long-chained graphs; two-star
    converges in O(log n) rounds on ANY topology and, crucially, its
    edge multiset SHRINKS monotonically toward one star per component —
    per-round cost decreases instead of rescanning the full frame.
    Same contract as connected_components: only vertices present in the
    input appear; label = component minimum.

    At most ``LOCAL_FINISH_ROWS`` canonical edges finish on the driver
    (module docstring); the rounds below run only above that bound.

    Convergence detection: a (count, xor-of-pair-hashes) signature of
    the canonical directed edge set — two scalar aggregates, no
    driver-side edge materialization. Signature-based detection needs
    one extra NO-CHANGE round to observe the fixpoint, so ``max_iter``
    must be at least (rounds-to-converge + 1); the default 30 leaves
    ample headroom over the O(log n) bound.
    """
    # materialize the edge input FIRST (r11): the caller's edge subtree
    # is often expensive (e.g. density_cluster_graph's cosine-verified
    # pairs) and was computed twice — once for verts, once for round 1.
    # The loop checkpoints every round anyway, so this only moves the
    # first materialization ahead of the fan-out.
    # r13: canonicalized at entry (u > v, self-loops dropped, distinct) —
    # the invariant both star passes now rely on to skip the per-round
    # re-symmetrization distinct. Same edge SET the old first _sym built.
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    local = _finish_locally(e, "u", "v")
    if local is not None:
        return local
    # verts is consumed exactly once (the final label join) and derives
    # from the checkpointed e, so eagerly checkpointing it was one whole
    # wasted job per call (r13; it predated the entry checkpoint of e).
    verts = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )

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
    for _ in range(max_iter):
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
        # vertex. Same fail-loud contract as connected_components — a
        # silently corrupt labeling poisons every downstream dedup
        # decision (review r03).
        raise RuntimeError(
            f"two-star did not detect a fixpoint in max_iter={max_iter} "
            "rounds; raise max_iter (O(log n)+1 rounds suffice for any "
            "topology — detection costs one extra no-change round)"
        )
    # converged: e is (node → component-min). Roots and isolated vertices
    # label themselves.
    return verts.join(e, verts.id == e.u, "left").select(
        "id", F.coalesce(F.col("v"), F.col("id")).alias("label")
    )
