"""Connected components vs a Python union-find over the same edges.

Both physical strategies are pinned: the single-task union-find fast path
(default at this size) and the distributed min-label + pointer-jumping
loop (forced with CC_LOCAL_MAX_EDGES = 0) must agree with each other and with
the reference union-find.
"""

from __future__ import annotations

import random

import pytest

from geostore_spark.operators import graph
from geostore_spark.operators.graph import connected_components

# chain 1-2-3-4 (diameter 3, forces multi-round propagation),
# triangle 10-11-12 plus pendant 13, isolated pair 20-21
EDGES = [
    (2, 1),
    (2, 3),
    (4, 3),
    (10, 11),
    (11, 12),
    (10, 12),
    (12, 13),
    (20, 21),
]


def _union_find(edges) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("threshold", [10_000_000, 0], ids=["local", "distributed"])
def test_connected_components_match_union_find(spark, threshold, monkeypatch):
    monkeypatch.setattr(graph, "CC_LOCAL_MAX_EDGES", threshold)
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["v"]: r["label"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == _union_find(EDGES)
    # the chain's far end reached the minimum despite no direct edge
    assert got[4] == 1 and got[13] == 10


@pytest.mark.parametrize("threshold", [10_000_000, 0], ids=["local", "distributed"])
def test_connected_components_converges_on_single_edge(spark, threshold, monkeypatch):
    monkeypatch.setattr(graph, "CC_LOCAL_MAX_EDGES", threshold)
    edges = spark.createDataFrame([(7, 5)], "src long, dst long")
    rows = (
        connected_components(edges, "src", "dst")
        .orderBy("v")
        .collect()
    )
    assert [(r["v"], r["label"]) for r in rows] == [(5, 5), (7, 5)]


def _pagerank_reference(edges, iters: int) -> dict[int, int]:
    """Pure-Python twin of the operator's integer arithmetic."""
    import math

    from geostore_spark.operators.graph import PR_SCALE

    out: dict[int, list[int]] = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    n = len(out)
    r = {v: int(math.floor(PR_SCALE / n)) for v in out}
    base = int(math.floor((15.0 * PR_SCALE) / (100.0 * n)))
    for _ in range(iters):
        s: dict[int, int] = {v: 0 for v in out}
        for u, nbrs in out.items():
            c = int(math.floor(r[u] / len(nbrs)))
            for v in nbrs:
                s[v] += c
        r = {v: base + int(math.floor((s[v] * 85) / 100.0)) for v in out}
    return r


@pytest.mark.parametrize("threshold", [10_000_000, 0], ids=["local", "distributed"])
def test_pagerank_matches_python_reference(spark, threshold, monkeypatch):
    from geostore_spark.operators.graph import pagerank

    monkeypatch.setattr(graph, "PR_KERNEL_MAX_EDGES", threshold)
    # symmetric star (hub 1) + chain tail: hub must out-rank leaves
    raw = [(1, 2), (1, 3), (1, 4), (4, 5)]
    edges = [(a, b) for a, b in raw] + [(b, a) for a, b in raw]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["r"]
        for r in pagerank(df, "src", "dst", iters=3).collect()
    }
    assert got == _pagerank_reference(edges, 3)
    assert got[1] == max(got.values())


def test_strategies_agree_on_random_graph(spark, monkeypatch):
    rng = random.Random(17)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {
        r["v"]: r["label"]
        for r in connected_components(df, "src", "dst").collect()
    }
    monkeypatch.setattr(graph, "CC_LOCAL_MAX_EDGES", 0)
    loop = {
        r["v"]: r["label"]
        for r in connected_components(df, "src", "dst").collect()
    }
    assert fast == loop == _union_find(edges)


def test_triangle_strategies_agree_at_volume(spark, monkeypatch):
    """r4 verdict #7: the above-budget sort-merge closure path was only
    ever exercised on a 7-edge toy. Run BOTH physical strategies on the
    real sf0.1 part co-purchase graph (~1.2 M deduped edges) and assert
    they produce identical (n_edges, n_wedges, n_triangles) — the
    property the runtime dispatch silently relies on at 100 TB."""
    from pyspark.sql import functions as F

    from geostore_spark.operators.graph import triangle_counts_from_edges
    from geostore_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.1").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    kernel = triangle_counts_from_edges(edges).collect()[0]  # CSR kernel
    monkeypatch.setattr(graph, "TRIANGLE_KERNEL_MAX_EDGES", 0)
    fused = triangle_counts_from_edges(edges).collect()[0]  # broadcast-fusion join tier
    monkeypatch.setattr(graph, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
    middle = triangle_counts_from_edges(edges).collect()[0]  # closing-broadcast tier
    monkeypatch.setattr(graph, "TRIANGLE_CLOSING_BROADCAST_MAX_EDGES", 0)
    spilled = triangle_counts_from_edges(edges).collect()[0]  # full sort-merge tier
    assert kernel == fused == middle == spilled
    assert fused["n_edges"] > 1_000_000  # really the at-volume graph
    assert fused["n_triangles"] > 0


@pytest.mark.parametrize(
    "threshold", [10_000_000, 0], ids=["packed-kernel", "distributed"]
)
def test_pagerank_kernel_symmetrize_matches_presymmetrized(
    spark, threshold, monkeypatch
):
    """kernel_symmetrize feeds DIRECTED deduped pairs and must produce
    exactly the ranks of the explicitly symmetrized graph, on both the
    packed single-task kernel and the distributed loop."""
    from geostore_spark.operators.graph import pagerank

    raw = [(1, 2), (1, 3), (1, 4), (4, 5), (2, 3)]
    directed = spark.createDataFrame(raw, "src long, dst long")
    sym = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    want = {
        r["id"]: r["r"]
        for r in pagerank(sym, "src", "dst", iters=3).collect()
    }
    monkeypatch.setattr(graph, "PR_KERNEL_MAX_EDGES", threshold)
    got = {
        r["id"]: r["r"]
        for r in pagerank(
            directed,
            "src",
            "dst",
            iters=3,
            pre_deduped=True,
            kernel_symmetrize=True,
        ).collect()
    }
    assert got == want


def test_pagerank_sparse_ids_match_dense(spark):
    """The kernel's dense raw-id bincount path and the np.unique
    factorization fallback must agree: the same graph shape under a
    huge-id relabeling (forcing the sparse path) must produce the same
    ranks per relabeled vertex."""
    from geostore_spark.operators.graph import pagerank

    raw = [(1, 2), (1, 3), (1, 4), (4, 5)]
    edges = raw + [(b, a) for a, b in raw]
    BIG = 10_000_000_000  # max_id >> 8x|E| → sparse fallback
    relabeled = [(a * BIG, b * BIG) for a, b in edges]
    dense = {
        r["id"]: r["r"]
        for r in pagerank(
            spark.createDataFrame(edges, "src long, dst long"),
            "src", "dst", iters=3,
        ).collect()
    }
    sparse = {
        r["id"]: r["r"]
        for r in pagerank(
            spark.createDataFrame(relabeled, "src long, dst long"),
            "src", "dst", iters=3,
        ).collect()
    }
    assert sparse == {k * BIG: v for k, v in dense.items()}


def test_pagerank_sink_nodes_sparse_vs_dense_vs_distributed(spark, monkeypatch):
    """A dst-only (sink) node must not credit its contribution to any
    other vertex: the sparse np.unique fallback, the dense bincount
    path, and the distributed left-join loop must produce identical
    ranks for the DIRECTED graph 1->2, 1->3, 3->1 (node 2 is a sink),
    under both id regimes (advisor repro: searchsorted previously
    mapped the absent dst to an insertion index)."""
    from geostore_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (3, 1)]
    BIG = 10_000_000_000  # forces the sparse factorization path

    def ranks(pairs, threshold):
        monkeypatch.setattr(graph, "PR_KERNEL_MAX_EDGES", threshold)
        return {
            r["id"]: r["r"]
            for r in pagerank(
                spark.createDataFrame(pairs, "src long, dst long"),
                "src", "dst", iters=3,
            ).collect()
        }

    dense = ranks(edges, 10_000_000)
    sparse = ranks([(a * BIG, b * BIG) for a, b in edges], 10_000_000)
    distributed = ranks(edges, 0)
    assert dense == distributed
    assert sparse == {k * BIG: v for k, v in dense.items()}


def test_pagerank_kernel_symmetrize_guards_wide_ids(spark):
    """The packed kernel_symmetrize path must fail LOUD (not corrupt)
    when ids escape [0, 2^31)."""
    import pytest as _pytest

    from geostore_spark.operators.graph import pagerank

    wide = spark.createDataFrame(
        [(1 << 32, 2), (2, 3)], "src long, dst long"
    )
    with _pytest.raises(Exception, match="2\\^31"):
        pagerank(
            wide, "src", "dst", iters=2,
            pre_deduped=True, kernel_symmetrize=True,
        ).collect()


def test_packed_pair_guard_tolerates_empty_sets(spark):
    """An all-NULL-key basket collapses to an EMPTY collect_set array;
    the packed-pair bounds assert must let it emit zero pairs rather
    than raising on element_at's NULL."""
    from pyspark.sql import functions as F

    sets_ = spark.createDataFrame(
        [([],), ([1, 2],)], "ps array<bigint>"
    )
    guarded = F.when(
        F.assert_true(
            (F.size("ps") == 0)
            | (
                (F.element_at("ps", 1) >= 0)
                & (F.element_at("ps", -1) < F.lit(1 << 31))
            ),
            F.lit("bounds"),
        ).isNull(),
        F.col("ps"),
    )
    rows = (
        sets_.select("ps", F.posexplode(guarded).alias("i", "x"))
        .select("x", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("y"))
        .collect()
    )
    assert [(r["x"], r["y"]) for r in rows] == [(1, 2)]


def test_pagerank_scaffold_rounds_match_kernel_path(spark, monkeypatch):
    """q_pagerank's distributed regime (session-scaffolded dst-clustered
    graph + _pr_rounds) engages only past the kernel break-even, which
    sf0.01 never reaches — force it and require bit-identical ranks to
    the packed-kernel path the oracle already pins."""
    from geostore_spark.operators import graph

    sf = "/root/testdata/sf0.01"
    via_kernel = [tuple(r) for r in graph.q_pagerank(spark, sf).collect()]
    monkeypatch.setattr(graph, "PR_KERNEL_MAX_EDGES", -1)
    via_rounds = [tuple(r) for r in graph.q_pagerank(spark, sf).collect()]
    assert via_rounds == via_kernel


def test_pagerank_scaffold_pin_budget_falls_back(spark, monkeypatch):
    """Above the sym-dst pin budget q_pagerank must NOT pin the
    edge-sized scaffold — it falls back to the generic per-query path
    with identical ranks and leaves no supply_sym_dst memo entry."""
    from geostore_spark.operators import graph, util

    sf = "/root/testdata/sf0.01"
    want = [tuple(r) for r in graph.q_pagerank(spark, sf).collect()]
    monkeypatch.setattr(graph, "PR_KERNEL_MAX_EDGES", -1)
    monkeypatch.setattr(graph, "SUPPLY_SYM_DST_PIN_MAX_EDGES", -1)
    app = spark.sparkContext.applicationId
    with util._SESSION_CKPT_LOCK:
        for k in [
            k
            for k in util._SESSION_CKPT
            if k[0] == app and ("supply_sym_dst" in k or "supply_nodes" in k)
        ]:
            util._SESSION_CKPT.pop(k, None)
    got = [tuple(r) for r in graph.q_pagerank(spark, sf).collect()]
    assert got == want
    with util._SESSION_CKPT_LOCK:
        assert not any(
            "supply_sym_dst" in k for k in util._SESSION_CKPT if k[0] == app
        )


def test_kcore_kernel_matches_distributed(spark, monkeypatch):
    """r12 two-tier dispatch: the local numpy peel and the distributed
    per-round loop must produce identical (round, n_nodes, n_edges)
    rows — forced both ways on the same fixture graph."""
    from geostore_spark.operators.graph import q_kcore

    sf = "/root/testdata/sf0.01"
    kernel = sorted(tuple(r) for r in q_kcore(spark, sf).collect())
    monkeypatch.setattr(graph, "GRAPH_LOCAL_KERNEL_MAX_EDGES", 0)
    dist = sorted(tuple(r) for r in q_kcore(spark, sf).collect())
    assert kernel == dist
    assert len(kernel) == 3


def test_bfs_kernel_matches_distributed(spark, monkeypatch):
    """Same tier-equality pin for the BFS layer profile."""
    from geostore_spark.operators.graph import q_bfs_layers

    sf = "/root/testdata/sf0.01"
    kernel = sorted(tuple(r) for r in q_bfs_layers(spark, sf).collect())
    monkeypatch.setattr(graph, "GRAPH_LOCAL_KERNEL_MAX_EDGES", 0)
    dist = sorted(tuple(r) for r in q_bfs_layers(spark, sf).collect())
    assert kernel == dist
    assert len(kernel) == 4
    assert kernel[0][1] > 0  # seeds exist at this SF


def test_triangle_kernel_wide_ids_no_packed_key_collision(spark):
    """r12 review: raw node ids >= 2^32 could alias in the packed
    closing key (src*2^32+dst) and overcount triangles. The kernel now
    compacts ids first (_compact_ids), so this triangle-free graph —
    constructed so a wedge's packed key collides with an oriented
    edge's under raw-id packing — must count zero, matching the
    sort-merge tier (which shuffles on the raw columns and has no
    packing at its join keys' width here)."""
    W = 1 << 32
    edges_rows = [
        (0, 6), (0, W + 9), (6, W + 50), (W + 9, W + 60),
        (7, 9), (7, W + 70), (9, W + 80), (9, W + 90),
    ]
    from geostore_spark.operators.graph import triangle_counts_from_edges

    edges = spark.createDataFrame(
        edges_rows, "u long, v long"
    ).localCheckpoint()
    kernel = triangle_counts_from_edges(edges).collect()[0]
    assert kernel["n_triangles"] == 0
    assert kernel["n_edges"] == len(edges_rows)


def test_triangle_kernel_empty_collect_returns_zero_row(spark):
    """The kernel trusts its own collect over the caller's dispatch
    count, so an edge plan that yields no rows there must give the zero
    row instead of failing on the max of an empty array."""
    from geostore_spark.operators.graph import _triangle_csr_kernel_counts

    empty = spark.createDataFrame([], "u long, v long")
    [row] = _triangle_csr_kernel_counts(empty).collect()
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (0, 0, 0)


def test_compact_ids_sends_negative_ids_to_factorization(spark, monkeypatch):
    """Negative ids would pass the dense-path size check and break the
    bincount downstream; they must be factorized instead, keeping the
    id order, and the kernel must count their triangle like the join
    tier does."""
    import numpy as np

    from geostore_spark.operators.graph import _compact_ids, triangle_counts_from_edges

    u = np.array([-3, -2, -3], dtype=np.int64)
    v = np.array([-2, -1, -1], dtype=np.int64)
    ui, vi, width = _compact_ids(u, v)
    assert width == 3
    assert ui.tolist() == [0, 1, 0] and vi.tolist() == [1, 2, 2]

    edges = spark.createDataFrame(
        list(zip(u.tolist(), v.tolist())), "u long, v long"
    ).localCheckpoint()
    kernel = triangle_counts_from_edges(edges).collect()[0]
    monkeypatch.setattr(graph, "TRIANGLE_KERNEL_MAX_EDGES", 0)
    joined = triangle_counts_from_edges(edges).collect()[0]
    assert kernel["n_triangles"] == joined["n_triangles"] == 1
    assert kernel["n_wedges"] == joined["n_wedges"]
