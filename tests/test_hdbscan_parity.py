"""Quantified HDBSCAN parity for the M2 density stand-in (VERDICT r10 ask #5).

The reference clusters embeddings with ``hdbscan.HDBSCAN(min_cluster_size=5)``
(``/root/reference/PLATFORM-contextual-Chunking.py:83-94``). The engine's
distributed stand-in (``operators/clustering.density_cluster``) reproduces the
noise-label SEMANTICS (−1, no fixed k, deterministic) via SRP angular cells,
but until r11 its agreement with exact HDBSCAN was asserted qualitatively.

This test pins the number. ``_exact_hdbscan`` is a driver-side,
from-the-paper implementation of HDBSCAN* (Campello, Moulavi, Sander 2013:
core distances → mutual-reachability MST → single-linkage hierarchy →
condensed tree at min_cluster_size → Excess-of-Mass cluster extraction),
following the reference library's conventions (core distance = distance to
the min_samples-th nearest neighbor counting self; EOM with the root
excluded, i.e. allow_single_cluster=False). O(n²) — the "tiny driver-side
exact HDBSCAN" the verdict asked for.

FIXTURE FINDING (measured r11, documented so nobody repeats the attempt):
the driver testdata's ``embeddings.label`` column is NOT geometrically
planted — within-cluster and between-cluster euclidean distances are
identical (mean 1.412 vs 1.412 at sf0.001), i.e. the vectors are uniform
on the sphere with arbitrary labels. Exact HDBSCAN scores ARI ≈ 0.0
against it at every parameter setting, and so must any density method.
Parity is therefore measured on a deterministic planted-geometry fixture
(8 seeded directions in 64-d, angular noise, 60 uniform noise points,
all unit-norm — the same shape as real sentence embeddings).

Measured r11 on that fixture (n=260, min_cluster_size=5, cluster noise
sigma 0.08/0.05/0.03):

  * exact HDBSCAN vs planted truth:            ARI 0.88–0.92
  * density_cluster (single SRP cell, the M2 oracle path) vs exact
    HDBSCAN:                                   ARI 0.19–0.51 — one
    uncertain hyperplane shatters a true cluster across cells; this is
    the quantified divergence VERDICT r10 asked for.
  * density_cluster_graph (r11, verified-pair-graph: 4 SRP blockings ×
    8 planes → co-cell candidates → exact cosine ≥ 0.5 → connected
    components) vs exact HDBSCAN:              ARI 0.88–0.91
    vs planted truth:                          ARI 0.92–1.00
    noise-set Jaccard vs exact HDBSCAN:        0.82–0.87

r12 (ADVICE r11): the reference configures ``cluster_selection_method=
"leaf"`` — ``_exact_hdbscan`` now implements BOTH extractions; on this
fixture leaf ≡ EOM exactly (ARI 1.000 at every noise level), so the
numbers above hold for the reference's real configuration, and a nested-
density fixture pins the case where the two genuinely differ.

Assertion thresholds sit under the measured values with margin; an
agreement collapse (ARI ≤ 0.5 for the graph variant) would mean the
stand-in stopped tracking density structure, which is the regression
this test exists to catch. The single-cell variant stays pinned only
by ORDER (strictly worse than the graph variant) — its value is exact
replayability, not geometry.
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------- exact HDBSCAN*


def _mst_prim(mr: np.ndarray) -> list[tuple[float, int, int]]:
    """Minimum spanning tree of the complete mutual-reachability graph.
    Returns (weight, a, b) edges, unsorted. O(n^2)."""
    n = mr.shape[0]
    in_tree = np.zeros(n, dtype=bool)
    best = np.full(n, np.inf)
    best_from = np.zeros(n, dtype=np.int64)
    in_tree[0] = True
    np.minimum(best, mr[0], out=best)
    best_from[:] = 0
    best[0] = np.inf
    edges = []
    for _ in range(n - 1):
        j = int(np.argmin(np.where(in_tree, np.inf, best)))
        edges.append((float(best[j]), int(best_from[j]), j))
        in_tree[j] = True
        upd = mr[j] < best
        best_from[upd] = j
        np.minimum(best, mr[j], out=best)
    return edges


def _single_linkage(edges: list[tuple[float, int, int]], n: int):
    """Union-find agglomeration of the sorted MST edges into a dendrogram.
    Returns (children, dist, size) per internal node n..2n-2."""
    parent = list(range(2 * n - 1))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    node_of = list(range(n))  # current dendrogram node of each component root
    sizes = [1] * n + [0] * (n - 1)
    children: list[tuple[int, int]] = []
    dists: list[float] = []
    nxt = n
    for w, a, b in sorted(edges):
        ra, rb = find(a), find(b)
        na, nb = node_of[ra], node_of[rb]
        children.append((na, nb))
        dists.append(w)
        sizes[nxt] = sizes[na] + sizes[nb]
        parent[ra] = rb
        node_of[find(rb)] = nxt
        nxt += 1
    return children, dists, sizes


def _exact_hdbscan(
    x: np.ndarray,
    min_cluster_size: int = 5,
    min_samples: int | None = None,
    cluster_selection_method: str = "eom",
) -> np.ndarray:
    """HDBSCAN* labels (−1 = noise) via condensed tree + cluster
    extraction: ``eom`` (Excess-of-Mass, the library default) or ``leaf``
    (condensed-tree leaves — what the reference actually configures at
    ``PLATFORM-contextual-Chunking.py:92``; finer, more numerous clusters
    on nested density structure). ADVICE r11: parity is measured against
    BOTH so the quoted agreement matches the reference's configuration,
    not just the default."""
    if min_samples is None:
        min_samples = min_cluster_size
    n = len(x)
    d2 = np.maximum(
        np.sum(x * x, 1)[:, None] + np.sum(x * x, 1)[None, :] - 2 * (x @ x.T),
        0.0,
    )
    dist = np.sqrt(d2)
    # core distance: min_samples-th NN counting the point itself (library
    # convention — row includes self at distance 0)
    core = np.sort(dist, axis=1)[:, min_samples - 1]
    mr = np.maximum(dist, np.maximum(core[:, None], core[None, :]))
    np.fill_diagonal(mr, np.inf)
    children, dists, sizes = _single_linkage(_mst_prim(mr), n)

    def node_children(v: int) -> tuple[int, int]:
        return children[v - n]

    def leaves(v: int) -> list[int]:
        out, stack = [], [v]
        while stack:
            u = stack.pop()
            if u < n:
                out.append(u)
            else:
                stack.extend(node_children(u))
        return out

    # ------- condense: clusters get ids >= n; points fall out with a lambda
    root = 2 * n - 2
    rows: list[tuple[int, int, float, int]] = []  # (parent, child, lam, size)
    relabel = {root: n}
    next_label = n + 1
    stack = [root]
    while stack:
        v = stack.pop()
        if v < n:
            continue
        lam = 1.0 / max(dists[v - n], 1e-12)
        left, right = node_children(v)
        ls = sizes[left] if left >= n else 1
        rs = sizes[right] if right >= n else 1
        cur = relabel[v]
        if ls >= min_cluster_size and rs >= min_cluster_size:
            for ch, sz in ((left, ls), (right, rs)):
                relabel[ch] = next_label
                rows.append((cur, next_label, lam, sz))
                next_label += 1
                stack.append(ch)
        elif ls < min_cluster_size and rs < min_cluster_size:
            for ch in (left, right):
                for p in leaves(ch):
                    rows.append((cur, p, lam, 1))
        else:
            big, small = (left, right) if ls >= min_cluster_size else (right, left)
            for p in leaves(small):
                rows.append((cur, p, lam, 1))
            relabel[big] = cur
            stack.append(big)

    # ------- stability + Excess-of-Mass selection
    clusters = sorted({c for _, c, _, _ in rows if c >= n} | {n})
    birth = {n: 0.0}
    kids: dict[int, list[int]] = {c: [] for c in clusters}
    for par, ch, lam, _ in rows:
        if ch >= n:
            birth[ch] = lam
            kids[par].append(ch)
    stability = {c: 0.0 for c in clusters}
    for par, _, lam, sz in rows:
        stability[par] += (lam - birth[par]) * sz
    selected: set[int] = set()
    if cluster_selection_method == "leaf":
        # leaf extraction: every condensed-tree node with no cluster
        # children is selected (root excluded, allow_single_cluster=False)
        selected = {c for c in clusters if c != n and not kids[c]}
        return _labels_for(rows, selected, n)
    for c in sorted(clusters, reverse=True):  # children before parents
        if c == n:
            # the root is never an EOM candidate (allow_single_cluster=
            # False): it must not compete with — and swallow — its
            # children, which would leave an empty selection
            continue
        if not kids[c]:
            selected.add(c)
            continue
        child_sum = sum(stability[k] for k in kids[c])
        if child_sum > stability[c]:
            stability[c] = child_sum
        else:
            # deselect the whole subtree, select c
            drop, q = set(), list(kids[c])
            while q:
                u = q.pop()
                drop.add(u)
                q.extend(kids[u])
            selected -= drop
            selected.add(c)

    return _labels_for(rows, selected, n)


def _labels_for(
    rows: list[tuple[int, int, float, int]], selected: set[int], n: int
) -> np.ndarray:
    """Labels from a selected-cluster set: walk each point's
    condensed-ancestor chain to its nearest selected ancestor."""
    par_of = {ch: par for par, ch, _, _ in rows if ch >= n}
    point_parent = {ch: par for par, ch, _, _ in rows if ch < n}
    labels = np.full(n, -1, dtype=np.int64)
    ids = {c: i for i, c in enumerate(sorted(selected))}
    for p in range(n):
        c = point_parent.get(p, n)
        while c is not None:
            if c in selected:
                labels[p] = ids[c]
                break
            c = par_of.get(c)
    return labels


def _ari(a: np.ndarray, b: np.ndarray) -> float:
    """Adjusted Rand Index (Hubert & Arabie 1985), contingency form."""
    ua, ia = np.unique(a, return_inverse=True)
    ub, ib = np.unique(b, return_inverse=True)
    m = np.zeros((len(ua), len(ub)), dtype=np.int64)
    np.add.at(m, (ia, ib), 1)
    comb = lambda v: v * (v - 1) / 2.0  # noqa: E731
    sum_ij = comb(m).sum()
    sum_a = comb(m.sum(1)).sum()
    sum_b = comb(m.sum(0)).sum()
    total = comb(len(a))
    exp = sum_a * sum_b / total
    mx = (sum_a + sum_b) / 2.0
    return float((sum_ij - exp) / (mx - exp)) if mx != exp else 1.0


# ------------------------------------------------------- planted-geometry data


def _planted(
    n_clusters: int = 8,
    per: int = 25,
    n_noise: int = 60,
    dims: int = 64,
    sigma: float = 0.08,
):
    """Deterministic unit-norm planted-cluster fixture: ``n_clusters``
    orthonormal directions (QR of a seeded gaussian), ``per`` members each
    with gaussian angular noise ``sigma``, plus uniform-sphere noise
    points. The shape real sentence embeddings have — which the driver
    testdata's embeddings do NOT (see module docstring)."""
    rng = np.random.RandomState(1234)
    q, _ = np.linalg.qr(rng.randn(dims, n_clusters))
    pts, truth = [], []
    for c in range(n_clusters):
        v = q[:, c][None, :] + sigma * rng.randn(per, dims)
        pts.append(v)
        truth.extend([c] * per)
    noise = rng.randn(n_noise, dims)
    pts.append(noise)
    truth.extend([-1] * n_noise)
    x = np.vstack(pts)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float64), np.asarray(truth)


# ------------------------------------------------------------------- the pins


def _spark_df(spark, x):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)], schema
    )


def test_leaf_extraction_matches_eom_on_parity_fixture():
    """ADVICE r11: the reference configures cluster_selection_method=
    'leaf' (PLATFORM-contextual-Chunking.py:92), while the parity numbers
    were quoted against EOM. Measured: on the planted parity fixture the
    two extractions produce IDENTICAL labels at every noise level
    (ARI(leaf, eom) = 1.000 for sigma 0.08/0.05/0.03 — no nested density
    structure, so condensed-tree leaves ARE the EOM winners), hence the
    quoted ARI 0.88–0.92 agreement holds unchanged for the reference's
    actual configuration."""
    for sigma in (0.08, 0.05, 0.03):
        x, truth = _planted(sigma=sigma)
        eom = _exact_hdbscan(x, 5)
        leaf = _exact_hdbscan(x, 5, cluster_selection_method="leaf")
        assert _ari(leaf, eom) == 1.0
        assert _ari(leaf, truth) > 0.85


def test_leaf_extraction_splits_nested_density():
    """Leaf is a real implementation, not an EOM alias: on two tight
    sub-lobes sharing a parent direction (nested density), EOM selects
    the stable parent (2 clusters incl. the far one) while leaf selects
    the condensed-tree leaves (3) — the configuration difference the
    r11 advice flagged, demonstrated where it actually bites."""
    rng = np.random.RandomState(7)
    d = 16
    base = rng.randn(d)
    base /= np.linalg.norm(base)
    perp = rng.randn(d)
    perp -= perp @ base * base
    perp /= np.linalg.norm(perp)
    pts = []
    for v in (base + 0.1 * perp, base - 0.1 * perp):
        pts.append(v[None, :] + 0.05 * rng.randn(25, d))
    far = rng.randn(d)
    far /= np.linalg.norm(far)
    pts.append(far[None, :] + 0.05 * rng.randn(20, d))
    pts.append(rng.randn(30, d))
    x = np.vstack(pts)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    eom = _exact_hdbscan(x, 5)
    leaf = _exact_hdbscan(x, 5, cluster_selection_method="leaf")
    assert len(set(eom[eom >= 0])) == 2  # parent swallowed the lobes
    assert len(set(leaf[leaf >= 0])) == 3  # leaves split them


def test_exact_hdbscan_recovers_planted_geometry():
    """The reference implementation must be credible before it can
    adjudicate the stand-ins: on planted geometry it recovers the
    cluster count and most of the noise set (measured ARI 0.921)."""
    x, truth = _planted()
    h = _exact_hdbscan(x, min_cluster_size=5)
    assert _ari(h, truth) > 0.85
    assert len(set(h[h >= 0])) == 8
    assert (h == -1).sum() >= 40  # finds a substantial noise set


def test_density_cluster_graph_agreement_with_exact_hdbscan(spark):
    """The quantified M2 parity claim for the r11 pair-graph operator
    (measured: ARI(graph, exact) 0.88–0.91 across noise levels,
    ARI(graph, truth) 0.92–1.00, noise Jaccard 0.82–0.87)."""
    from qa_data_pipeline_rag_llm_spark.operators.clustering import (
        density_cluster_graph,
    )
    from qa_data_pipeline_rag_llm_spark.plans.queries_vector import (
        DG_MIN_CLUSTER,
        DG_PLANES_PER_REP,
        DG_REPS,
        DG_TAU,
    )

    x, truth = _planted()
    h = _exact_hdbscan(x, min_cluster_size=5)
    lab = (
        density_cluster_graph(
            _spark_df(spark, x),
            reps=DG_REPS,
            planes_per_rep=DG_PLANES_PER_REP,
            tau=DG_TAU,
            min_cluster_size=DG_MIN_CLUSTER,
            dims=x.shape[1],
        )
        .orderBy("vec_id")
        .toPandas()
    )
    dlab = lab["label"].to_numpy()

    ari_exact = _ari(dlab, h)
    ari_truth = _ari(dlab, truth)
    noise_d = set(np.where(dlab == -1)[0])
    noise_h = set(np.where(h == -1)[0])
    jac = (
        len(noise_d & noise_h) / len(noise_d | noise_h)
        if noise_d | noise_h
        else 1.0
    )
    print(
        f"ARI(graph, exact)={ari_exact:.3f} ARI(graph, truth)="
        f"{ari_truth:.3f} noiseJaccard={jac:.3f} "
        f"noise sizes d={len(noise_d)} h={len(noise_h)}"
    )
    assert ari_exact > 0.8, f"graph/HDBSCAN agreement collapsed: {ari_exact:.3f}"
    assert ari_truth > 0.85
    assert jac > 0.7, f"noise sets diverged: Jaccard={jac:.3f}"
    # and against the reference's ACTUAL extraction config (leaf —
    # ADVICE r11); identical to EOM on this fixture, asserted explicitly
    leaf = _exact_hdbscan(x, 5, cluster_selection_method="leaf")
    assert _ari(dlab, leaf) > 0.8


def test_dup_collapse_is_connectivity_exact(spark):
    """The operator's stage-0 exact-dup collapse (what keeps replica-
    densified corpora from quadratic pair blowup) must be invisible in
    the labels: duplicating every vector 3× yields each copy the same
    cluster as the original, and a lone vector duplicated ≥min_cluster_
    size times becomes its own cluster (copies always co-cluster)."""
    from qa_data_pipeline_rag_llm_spark.operators.clustering import (
        density_cluster_graph,
    )

    x, _ = _planted(n_clusters=3, per=10, n_noise=10, dims=16)
    base = density_cluster_graph(
        _spark_df(spark, x), dims=16
    ).toPandas().set_index("vec_id")["label"]

    n = len(x)
    x3 = np.vstack([x, x, x])
    dup = density_cluster_graph(
        _spark_df(spark, x3), dims=16
    ).toPandas().set_index("vec_id")["label"]
    for i in range(n):
        # copies agree with each other
        assert dup[i] == dup[i + n] == dup[i + 2 * n]
        if base[i] >= 0:
            # an original cluster keeps its min-id label under duplication
            assert dup[i] == base[i]
        else:
            # a noise point triplicated is STILL < min_cluster_size=5
            # alone, but may join a cluster via its copies only if it had
            # near neighbors — with exact copies only, 3 < 5 keeps noise
            # unless the point was borderline-attached; assert it never
            # invents a brand-new label below the originals
            assert dup[i] == -1 or dup[i] == base[i] or dup[i] < n


def test_graph_cluster_arrow_kernel_label_parity(spark):
    """kernel='arrow' (production verification) must produce the same
    LABELS as the oracle-exact fold on the planted fixture — the same
    verdict-parity contract embedding_near_dup pins for its kernels."""
    from qa_data_pipeline_rag_llm_spark.operators.clustering import (
        density_cluster_graph,
    )

    x, _ = _planted(n_clusters=4, per=12, n_noise=20, dims=32)
    df = _spark_df(spark, x)
    fold = (
        density_cluster_graph(df, dims=32, kernel="fold")
        .orderBy("vec_id")
        .toPandas()["label"]
        .tolist()
    )
    arrow = (
        density_cluster_graph(df, dims=32, kernel="arrow")
        .orderBy("vec_id")
        .toPandas()["label"]
        .tolist()
    )
    assert fold == arrow
    assert len(set(fold) - {-1}) == 4  # and the labels are non-trivial


def test_single_cell_variant_is_strictly_coarser(spark):
    """Document (with a number, not prose) the single-cell stand-in's
    divergence: measured ARI(cell, exact HDBSCAN) = 0.19 at sigma 0.08 —
    a true cluster shatters across SRP cells. The pin is the ORDERING
    (graph variant strictly better), which holds at every noise level,
    not the absolute value."""
    from qa_data_pipeline_rag_llm_spark.operators.clustering import (
        density_cluster,
        density_cluster_graph,
    )
    from qa_data_pipeline_rag_llm_spark.plans.queries_vector import (
        DENSITY_MIN_PTS,
        DENSITY_PLANES,
    )

    x, _ = _planted()
    h = _exact_hdbscan(x, min_cluster_size=5)
    df = _spark_df(spark, x)
    cell = (
        density_cluster(
            df, planes=DENSITY_PLANES, min_pts=DENSITY_MIN_PTS, dims=x.shape[1]
        )
        .orderBy("vec_id")
        .toPandas()["label"]
        .to_numpy()
    )
    graph = (
        density_cluster_graph(df, dims=x.shape[1])
        .orderBy("vec_id")
        .toPandas()["label"]
        .to_numpy()
    )
    ari_cell, ari_graph = _ari(cell, h), _ari(graph, h)
    print(f"ARI(cell, exact)={ari_cell:.3f} ARI(graph, exact)={ari_graph:.3f}")
    assert ari_graph > ari_cell + 0.2


def test_driver_fixture_labels_are_not_geometric():
    """Pin the fixture finding so the 'why not the embeddings table'
    question stays answered with a number: on the driver testdata the
    within-label and between-label distance distributions coincide, so
    exact HDBSCAN (any parameters) cannot beat chance against `label`."""
    import duckdb

    from tests.conftest import SF_DIR

    rows = duckdb.sql(
        f"SELECT embedding, label FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    t = np.asarray([r[1] for r in rows])
    d = np.sqrt(
        np.maximum(
            np.sum(x * x, 1)[:, None]
            + np.sum(x * x, 1)[None, :]
            - 2 * (x @ x.T),
            0.0,
        )
    )
    same = t[:, None] == t[None, :]
    iu = np.triu_indices(len(x), 1)
    within = d[iu][same[iu]].mean()
    between = d[iu][~same[iu]].mean()
    assert abs(within - between) < 0.05  # no geometric signal
    h = _exact_hdbscan(x, min_cluster_size=5)
    assert _ari(h, t) < 0.1  # and HDBSCAN accordingly scores ~0 on it
