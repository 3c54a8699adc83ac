"""Integer PageRank: hand-computed tiny graph + invariants on fixtures."""

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators import graph
from streamlit_projet_spark_streaming_spark.operators.graph import (
    SCALE,
    copurchase_edges,
    pagerank_integer,
)
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_SMOKE


def _pagerank_reference(edges, iters):
    """Pure-Python replication of the exact integer recurrence."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    n = len(nodes)
    pr = {v: SCALE // n for v in nodes}
    for _ in range(iters):
        insum = {v: 0 for v in nodes}
        for s, d, w in edges:
            insum[d] += (pr[s] * w) // outw[s]
        pr = {
            v: (15 * SCALE) // (100 * n) + (85 * insum[v]) // 100
            for v in nodes
        }
    return pr


def test_pagerank_matches_reference_on_tiny_graph(spark):
    # Directed triangle with asymmetric weights plus a spur; every node
    # has out-degree (the copurchase construction guarantees this).
    edges = [
        (1, 2, 3),
        (2, 1, 3),
        (1, 3, 1),
        (3, 1, 1),
        (2, 3, 2),
        (3, 2, 2),
        (3, 4, 1),
        (4, 3, 1),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r["part"]: r["pr_scaled"]
        for r in pagerank_integer(df).collect()
    }
    assert got == _pagerank_reference(edges, 3)


def test_pagerank_ranks_sink_nodes(spark, monkeypatch):
    """A directed graph with a sink (dst never a src): the sink is
    ranked (nodes = src ∪ dst), accumulates in-mass + teleport, and
    matches the pure-Python recurrence."""
    edges = [(1, 2, 1), (1, 3, 1), (3, 1, 2)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 2)
    got = {r["part"]: r["pr_scaled"] for r in pagerank_integer(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got == _pagerank_reference(edges, 2)
    assert got[2] > (15 * SCALE) // (100 * 3)  # sink got in-mass too


def test_pagerank_fixture_invariants(spark, monkeypatch):
    li = load_table(spark, "lineitem", SF_SMOKE)
    edges = copurchase_edges(li)
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 2)
    pr = pagerank_integer(edges)
    rows = pr.collect()
    n = len(rows)
    assert n > 0
    total = sum(r["pr_scaled"] for r in rows)
    n_edges = edges.count()
    # Mass conservation up to floor loss: each of the 2 rounds drops
    # < 1 unit per edge (contribution floor) + 1 per node (damping
    # floors) + n for the teleport floor.
    loss_bound = 2 * (n_edges + 2 * n + n)
    assert SCALE - loss_bound <= total <= SCALE
    # Teleport floor is a hard per-node lower bound.
    floor = (15 * SCALE) // (100 * n)
    assert all(r["pr_scaled"] >= floor for r in rows)


def test_copurchase_edges_symmetric_and_selfloop_free(spark):
    li = load_table(spark, "lineitem", SF_SMOKE)
    edges = copurchase_edges(li)
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0
    a = {(r["src"], r["dst"], r["w"]) for r in edges.collect()}
    assert {(d, s, w) for s, d, w in a} == a


def _edges_df(spark, pairs):
    """The undirected edge set in the form the graph operators take:
    distinct ``(src, dst)`` pairs with ``src < dst``."""
    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    return spark.createDataFrame(canon, "src long, dst long")


def _tri_row(spark, pairs):
    from streamlit_projet_spark_streaming_spark.operators.graph import (
        triangle_stats,
    )

    return triangle_stats(_edges_df(spark, pairs)).collect()[0]


def test_triangle_stats_k4(spark):
    # K4: 4 nodes, 6 edges, C(4,3)=4 triangles, every deg=3 →
    # wedges = 4·3·2/2 = 12, clustering = 3·4/12 = 1.0.
    pairs = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    r = _tri_row(spark, pairs)
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.global_clustering == 1.0


def test_triangle_stats_path_graph(spark):
    # Path 1-2-3-4: no triangles, wedges = 2 (at nodes 2 and 3).
    r = _tri_row(spark, [(1, 2), (2, 3), (3, 4)])
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 3, 2, 0)
    assert r.global_clustering == 0.0


def test_triangle_stats_hub_plus_triangle(spark):
    # A star hub (node 1 → 2..6) plus one triangle (2,3) closing: the
    # degree-ordered orientation must count exactly 1 triangle rooted
    # at its lowest-DEGREE vertex, not explode wedges at the hub.
    pairs = [(1, k) for k in range(2, 7)] + [(2, 3)]
    r = _tri_row(spark, pairs)
    assert r.n_triangles == 1
    # wedges: deg(1)=5, deg(2)=deg(3)=2, deg(4..6)=1 → 10 + 1 + 1 = 12
    assert r.n_wedges == 12


def test_kcore_multi_round_peel(spark):
    """Clique K4 + a path tail, at k=2: the tail genuinely peels one
    node per round from the far end inward (deg(12)=1 → gone, THEN
    deg(11) drops to 1 → gone, THEN deg(10)) — three rounds that each
    depend on the previous round's re-filtered edge set — leaving
    exactly the clique with in-core degree 3. (At k=3 the whole tail
    would fall below k simultaneously and peel in ONE round, which
    would not exercise the iterative re-peel path.)"""
    from streamlit_projet_spark_streaming_spark.operators.graph import kcore

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    tail = [(4, 10), (10, 11), (11, 12)]
    out = kcore(_edges_df(spark, clique + tail), 2).collect()
    assert {(r.node, r.core_degree) for r in out} == {
        (1, 3),
        (2, 3),
        (3, 3),
        (4, 3),
    }


def test_kcore_empty_core(spark):
    """A tree has no 2-core: everything peels, output is empty."""
    from streamlit_projet_spark_streaming_spark.operators.graph import kcore

    tree = [(1, 2), (1, 3), (2, 4), (2, 5)]
    assert kcore(_edges_df(spark, tree), 2).count() == 0


def test_kcore_raises_past_round_budget(spark):
    """A path at k=2 peels one node per END per round, so a 20-node
    path needs 11 rounds to reach its (empty) fixpoint: past the
    ``KCORE_MAX_ROUNDS`` budget, kcore must raise rather than emit a
    partial core (the oracle-divergence guard)."""
    import pytest as _pytest

    from streamlit_projet_spark_streaming_spark.operators.graph import (
        KCORE_MAX_ROUNDS,
        kcore,
    )

    path = [(i, i + 1) for i in range(1, 20)]
    assert len(path) + 1 > 2 * (KCORE_MAX_ROUNDS + 1)
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore(_edges_df(spark, path), 2)


def test_link_prediction_hub_cap_drops_hub_wedges(spark, monkeypatch):
    """Hub 0 — {1..5}, plus 1-2, 1-6, 1-7: with the cap below the
    hub's degree 5 only middles of degree <= 4 (node 1, degree 4, nbrs
    {0, 2, 6, 7}) enumerate wedges, so capped candidates like (2, 6)
    and (6, 7) SURVIVE (non-empty — the r8 review found the previous
    star-only graph left the capped result empty and every capped-side
    assertion vacuous), while hub-middled pairs like (3, 4) disappear;
    capped_middles reports 1 on every surviving row."""
    from streamlit_projet_spark_streaming_spark.operators.graph import (
        link_prediction_cn,
    )

    edges = _edges_df(
        spark,
        [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (1, 2), (1, 6), (1, 7)],
    )
    full = link_prediction_cn(edges).collect()
    assert full and all(r.capped_middles == 0 for r in full)
    assert len(full) < graph.LP_TOP_K  # every candidate, not a top-k cut
    # hub 0 has degree 5; node 1 has degree 4; the rest <= 2
    monkeypatch.setattr(graph, "LP_MAX_MIDDLE_DEGREE", 4)
    capped = link_prediction_cn(edges).collect()
    assert capped, "capped candidate list must be NON-empty"
    assert all(r.capped_middles == 1 for r in capped)
    full_pairs = {(r.part_a, r.part_b) for r in full}
    capped_pairs = {(r.part_a, r.part_b) for r in capped}
    assert capped_pairs, "subset check needs surviving pairs"
    assert capped_pairs < full_pairs  # hub wedges actually dropped
    assert (6, 7) in capped_pairs  # wedge through middle 1 survives
    assert (3, 4) not in capped_pairs  # hub-0-middled pair dropped
    # the surviving candidates' counts never exceed their uncapped cn
    full_cn = {(r.part_a, r.part_b): r.common_neighbors for r in full}
    for r in capped:
        assert r.common_neighbors <= full_cn[(r.part_a, r.part_b)]


def test_link_prediction_rejects_out_of_range_ids(spark):
    """The packed-key guard must fire for NEGATIVE ids even when they
    appear only on the u side (the r7 advice hole: u < w bounds u's
    upper end via w, not its lower)."""
    import pytest as _pytest

    from streamlit_projet_spark_streaming_spark.operators.graph import (
        link_prediction_cn,
    )

    edges = _edges_df(spark, [(-3, 1), (1, 2), (-3, 2)])
    with _pytest.raises(Exception, match="node ids must be in"):
        link_prediction_cn(edges).collect()


def _ppr_reference(edges, seeds, iters):
    """Pure-Python replication of the personalized recurrence: teleport
    mass only to seeds (split equally), nodes = src ∪ dst ∪ seeds."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges} | set(seeds))
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    ns = len(set(seeds))
    pr = {v: (SCALE // ns if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        insum = {v: 0 for v in nodes}
        for s, d, w in edges:
            insum[d] += (pr[s] * w) // outw[s]
        pr = {
            v: ((15 * SCALE) // (100 * ns) if v in seeds else 0)
            + (85 * insum[v]) // 100
            for v in nodes
        }
    return pr


def test_ppr_matches_reference_on_tiny_graph(spark):
    """Seed in the graph + a seed OUTSIDE the edge set (holds teleport
    mass, propagates nothing) + non-seed nodes reached only by walks."""
    from streamlit_projet_spark_streaming_spark.operators.graph import ppr_integer

    edges = [
        (1, 2, 3),
        (2, 1, 3),
        (1, 3, 1),
        (3, 1, 1),
        (2, 3, 2),
        (3, 2, 2),
        (3, 4, 1),
        (4, 3, 1),
    ]
    seeds = [1, 99]  # 99 is not in the edge set
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    sdf = spark.createDataFrame([(s,) for s in seeds], ["part"])
    rows = ppr_integer(df, sdf).collect()
    got = {r["part"]: r["ppr_scaled"] for r in rows}
    flags = {r["part"]: r["is_seed"] for r in rows}
    assert got == _ppr_reference(edges, seeds, 3)
    assert flags == {1: 1, 2: 0, 3: 0, 4: 0, 99: 1}
    # the isolated seed keeps exactly its teleport share
    assert got[99] == (15 * SCALE) // (100 * 2)
    # proximity semantics: the seed's direct heavy neighbor outranks the spur
    assert got[2] > got[4]


def test_ppr_zero_mass_without_seed_inflow(spark):
    """A node unreachable from the seed set scores 0 — personalization
    concentrates all mass on the seed component."""
    from streamlit_projet_spark_streaming_spark.operators.graph import ppr_integer

    edges = [(1, 2, 1), (2, 1, 1), (3, 4, 1), (4, 3, 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    sdf = spark.createDataFrame([(1,)], ["part"])
    got = {r["part"]: r["ppr_scaled"] for r in ppr_integer(df, sdf).collect()}
    assert got == _ppr_reference(edges, [1], 3)
    assert got[3] == 0 and got[4] == 0
    assert got[1] > 0 and got[2] > 0
