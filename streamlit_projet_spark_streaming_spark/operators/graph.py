"""Iterative graph algorithms in DataFrame space.

Deterministic integer PageRank: every quantity is an exact integer
(scores in 1e-12-scale units, floor division for the damping and the
per-edge contribution), so a fixed iteration count is bit-identical
across engines and replayable as unrolled SQL CTEs — a float PageRank
would accumulate neighbor sums in nondeterministic order and could
never be hash-checked cross-engine.

Scale notes (100 TB): the edge table shuffles once per iteration on its
join key; the score table is |nodes| rows and is lazily
``localCheckpoint``-ed per round (it has two consumers per iteration —
the contribution join and the next round's left join — and an unbounded
lineage otherwise, the connected-components lesson in
``operators/dedup.py``). ``SCALE * max_edge_weight`` must stay under
2^63 (~9e18): with SCALE=1e12 that allows per-edge weights up to ~9e6
co-occurrences; corpora beyond that lower SCALE one decade per decade
of weight.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Integer score scale: total teleport mass = SCALE units.
SCALE = 10**12

#: Damped iterations of :func:`pagerank_integer` and :func:`ppr_integer`;
#: the registry's unrolled-CTE oracles unroll exactly this many.
PAGERANK_ITERS = 3


def _idiv(a: Column, b: Column | int) -> Column:
    """Exact floor division of non-negative integer columns.

    ``(a - a mod b) / b`` in DECIMAL(38,0) space — exactly divisible by
    construction, so Spark's decimal division yields the exact integer
    (the ``ratio_round`` trick); a double division would lose precision
    past 2^53.
    """
    if isinstance(b, int):
        b = F.lit(b)
    ad = a.cast("decimal(38,0)")
    bd = b.cast("decimal(38,0)")
    return ((ad - ad % bd) / bd).cast("long")


def _order_parts(lineitem: DataFrame) -> tuple[int, DataFrame]:
    """The distinct (order, part) pairs both co-purchase self-joins
    read, behind ONE pinned keyed repartition by ``l_orderkey`` that
    serves the dedup and the self-join alike. Returns the pinned
    partition count with the pairs."""
    par = lineitem.sparkSession.sparkContext.defaultParallelism
    lp = (
        lineitem.select("l_orderkey", "l_partkey")
        .repartition(par, "l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    return par, lp


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed co-purchase edges between parts appearing in the same
    order: ``(src, dst, w)`` with w = number of co-occurring orders.

    The self-join fans out per-order pairs — bounded by the square of
    the order's distinct-part count (single-digit in TPC-H-shaped data),
    NOT by table size. Both directions are emitted, so every node with
    an edge has out-degree > 0 (no dangling-mass redistribution needed).

    Plan shape (r10 opt — the r9 ``copurchase_pairs`` idiom applied to
    the weighted variant): ONE pinned keyed repartition by
    ``l_orderkey`` serves both the (order, part) dedup and the
    self-join (subset-clustering satisfaction, final-only dedup, no
    join re-exchange), and ONE pinned repartition by ``src`` makes the
    near-unique-key (src, dst) count final-only (its map-side partial
    reduced almost nothing — w is 1–2 for most pairs) while leaving the
    output hash(src)-partitioned, which ``pagerank_integer``'s out-
    weight aggregate and ew join consume with no further exchange.
    2 exchanges where the r9 form paid 4–5. Interleaved A/B ×3 at
    sf0.1: ppr_expansion 6.20 → 5.00 s (0.81×), copurchase_topk
    4.08 → 3.37 s (0.83×), pagerank 6.66 → 6.24 s (0.94×), outputs
    identical.
    """
    par, lp = _order_parts(lineitem)
    a = lp.alias("a")
    b = lp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .repartition(par, "src")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank_integer(edges: DataFrame) -> DataFrame:
    """Weighted PageRank (damping 0.85) in exact integer arithmetic:
    :func:`ppr_integer` with every node of ``src`` ∪ ``dst`` as a seed.
    With n seeds = n nodes, pr₀ = SCALE div n on every node and the
    teleport is (15·SCALE) div (100·n) on every node, so per iteration
    pr'(v) = (15·SCALE) div (100·N) + (85·in(v)) div 100 — the classic
    recurrence. Floor drops ≤ 1 unit of mass per edge per round
    (≤ |E|·PAGERANK_ITERS·1e-12 of total), the price of exactness.

    Sink nodes (dst never appearing as src — impossible for
    :func:`copurchase_edges`' symmetric output, possible for arbitrary
    directed inputs) are ranked and receive teleport + in-mass; like
    classic PageRank without dangling-mass redistribution, the mass
    they hold simply stops propagating.

    The seeds come from the edges as checkpointed here, so the node
    union never replays the edge producer.

    Returns ``(part, pr_scaled)`` — scores in SCALE units.
    """
    edges = edges.localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("part")).union(
        edges.select(F.col("dst").alias("part"))
    )
    return _ppr(edges, nodes).select(
        "part", F.col("ppr_scaled").alias("pr_scaled")
    )


def ppr_integer(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Personalized PageRank (damping 0.85) in exact integer arithmetic
    — the seed-set expansion primitive behind curated-corpus growth
    ("start from known-good items, walk the co-occurrence graph"):
    teleport mass goes ONLY to the seed set, split equally, so scores
    measure proximity to the seeds instead of global centrality.

    Per iteration: contribution(u→v) = (pr(u)·w(u,v)) div out_w(u)
    (floor), in(v) = Σ contributions. pr₀ puts SCALE div n_seeds on
    each seed and 0 elsewhere; per iteration pr'(v) = [v ∈ seeds:
    (15·SCALE) div (100·n_seeds)] + (85·in(v)) div 100. All floor
    divisions of non-negative integers — deterministic,
    order-independent, engine-portable, fully oracle-able as unrolled
    CTEs. Nodes are src ∪ dst ∪ seeds — a seed outside the edge set
    still holds its teleport mass, it simply doesn't propagate.

    Scale shape: per round one |edges|-row hash join +
    map-side-combined contribution aggregate; the node-sized score
    table is checkpointed per round (truncates the iteration lineage);
    the seed-flagged node spine (one aggregate over src ∪ dst ∪ seeds)
    and the 1-row seed count are checkpointed at the producer (each
    feeds every round).

    ``seeds``: one column ``part``. Returns
    ``(part, ppr_scaled, is_seed)``.
    """
    return _ppr(edges.localCheckpoint(eager=False), seeds)


def _ppr(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """The :func:`ppr_integer` loop over already checkpointed ``edges``."""
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    ew = edges.join(outw, "src").localCheckpoint(eager=False)
    # node spine with the seed flag in ONE aggregate over
    # (src, 0) ∪ (dst, 0) ∪ (seed, 1): the seed count, pr0 and every
    # iteration read it
    flagged = (
        edges.select(F.col("src").alias("part"), F.lit(0).alias("is_seed"))
        .union(edges.select(F.col("dst").alias("part"), F.lit(0).alias("is_seed")))
        .union(seeds.select("part", F.lit(1).alias("is_seed")))
        .groupBy("part")
        .agg(F.max("is_seed").alias("is_seed"))
        .localCheckpoint(eager=False)
    )
    nseeds = flagged.agg(F.sum("is_seed").alias("ns")).localCheckpoint(
        eager=False
    )
    teleport = F.when(
        F.col("is_seed") == 1, _idiv(F.lit(15 * SCALE), F.col("ns") * 100)
    ).otherwise(F.lit(0))
    # pr0 has one reader, the first round: not checkpointed
    pr = flagged.crossJoin(F.broadcast(nseeds)).select(
        "part",
        "is_seed",
        F.when(F.col("is_seed") == 1, _idiv(F.lit(SCALE), F.col("ns")))
        .otherwise(F.lit(0))
        .alias("pr"),
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ew.join(pr, ew["src"] == pr["part"])
            # Hot path (|edges| rows/round): plain BIGINT `div`, not the
            # DECIMAL _idiv — the oracle's `//` is BIGINT too, so DECIMAL
            # here was slower WITHOUT widening the real overflow bound
            # (SCALE·max_w < 2^63, module docstring).
            .select(
                F.col("dst"),
                F.expr("(pr * w) div outw").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("insum"))
        )
        pr = (
            flagged.join(contrib, flagged["part"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(nseeds))
            .select(
                "part",
                "is_seed",
                (
                    teleport
                    + _idiv(
                        F.coalesce(F.col("insum"), F.lit(0)) * 85, F.lit(100)
                    )
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select("part", F.col("pr").alias("ppr_scaled"), "is_seed")


def copurchase_pairs(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase part pairs ``(src < dst)``, DISTINCT and
    canonically oriented — the weight-free half of
    :func:`copurchase_edges` for consumers (the triangle census, link
    prediction) that need the edge SET only: half the self-join fan and
    no count aggregation.

    Plan shape (r9): ONE pinned keyed repartition by ``l_orderkey``
    serves both the (order, part) dedup AND the self-join —
    ``HashPartitioning(l_orderkey)`` satisfies the dropDuplicates'
    ClusteredDistribution(orderkey, partkey) (subset clustering) and the
    equi-join's requirement, so Catalyst plans final-only dedup + join
    with NO further exchange, and the pinned count keeps AQE from
    byte-coalescing the CPU-bound pair-generation stage to ~1 task
    (lineitem at bench scale is a 3-split scan whose post-distinct
    output is ~5 MB — the CLAUDE.md byte-small trap; this stage was the
    serialized ~2.5 s floor of the r8 graph family)."""
    _, lp = _order_parts(lineitem)
    a, b = lp.alias("a"), lp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


def _und_deg(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Undirected edge set + node degrees — the front of every
    whole-graph statistic here. Both tables are lazily checkpointed:
    each has multiple consumers downstream (the multi-consumer-subplan
    rule) and the co-purchase self-join that usually feeds ``edges`` is
    expensive to replay.

    Precondition: ``edges`` is already DISTINCT with ``src < dst``
    (:func:`copurchase_pairs` output), so it is used as the undirected
    edge set as is — no orientation filter, no re-distinct shuffle."""
    und = edges.select("src", "dst").localCheckpoint(eager=False)
    deg = (
        und.select(F.col("src").alias("node"))
        .union(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    return und, deg


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    graph, one row: the Pearson correlation of endpoint degrees over
    all ORDERED edge endpoint pairs (each undirected edge contributes
    both (dx, dy) and (dy, dx)).

    Exactness: with both orientations included the marginals coincide
    (Σx = Σy, Σx² = Σy²), so the usual sqrt denominator collapses and
    r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) is ONE exact integer ratio
    (M = 2·|edges|) — ``ratio_round``, no float moment anywhere. NULL
    when every degree is equal (zero variance).

    Scale shape: degrees join onto the edge table (shuffle on the node
    key; AQE skew handles hub nodes), then a single map-side-combined
    global aggregate. Per-row products stay BIGINT (dx·dy < 2^63 needs
    only degree < 3e9); the SUMS and the final num/den products run in
    DECIMAL(38,0), because sx = Σ_edges(dx+dy) = Σ_nodes d², so sx·sx
    overflows BIGINT as soon as Σd² exceeds ~3e9 — a long-space final
    product would silently wrap while the HUGEINT oracle stays exact.
    Safe up to Σd² ≈ 1e19 (sx² ≈ 1e38, the DECIMAL ceiling).
    """
    from .numeric import ratio_round

    und, deg = _und_deg(edges)
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("dy"))
    ed = und.join(du, "src").join(dv, "dst")
    dec = "decimal(38,0)"
    st = ed.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum((F.col("dx") + F.col("dy")).cast(dec)).alias("sx"),
        F.sum(
            (F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")).cast(dec)
        ).alias("sxx"),
        F.sum((2 * F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    num = 2 * F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = 2 * F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return st.crossJoin(F.broadcast(nn)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("m").cast("long").alias("n_edges"),
        F.when(den > 0, ratio_round(num, den, 6)).alias("assortativity"),
    )


#: Peel-round budget shared by :func:`kcore` and its unrolled SQL twin —
#: the oracle unrolls exactly this many rounds, so the Spark side must
#: raise (not emit a partial core) if the fixpoint is further away.
KCORE_MAX_ROUNDS = 8


def kcore(edges: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core (maximal induced subgraph with min degree
    ≥ k) with their in-core degrees, by iterative peeling: drop every
    node of degree < k, recompute degrees on the induced subgraph,
    repeat to fixpoint.

    Convergence is detected by the surviving-node COUNT: the keep set
    only shrinks (edges only disappear), so an unchanged count means an
    unchanged set, which means the induced subgraph is stable and every
    remaining node has in-core degree ≥ k. Exceeding ``KCORE_MAX_ROUNDS``
    raises instead of emitting a partial core (the connected-components
    precedent) — the SQL twin unrolls exactly that many peels and
    relies on fixpoint idempotence for the slack rounds.

    Scale notes: each round is one degree aggregation (map-side
    combine) + two left-semi joins, all shuffling |current edges| rows;
    the edge table is ``localCheckpoint``-ed per round (unbounded
    lineage otherwise) and the convergence probe is a single scalar
    ``count()``, never a row collect. Rounds are data-dependent but
    bounded by the peeling depth of the degeneracy ordering, typically
    single digits on heavy-tailed graphs.
    """
    # round 1 peels by the whole graph's degrees
    cur, deg = _und_deg(edges)
    prev: int | None = None
    for _ in range(KCORE_MAX_ROUNDS + 1):
        keep = deg.filter(F.col("d") >= k)
        n = keep.count()
        if n == prev:
            return keep.select(
                "node", F.col("d").cast("long").alias("core_degree")
            ).orderBy("node")
        prev = n
        cur = (
            cur.join(
                keep.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .join(
                keep.select(F.col("node").alias("dst")), "dst", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
        deg = (
            cur.select(F.col("src").alias("node"))
            .union(cur.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=False)  # probe + keep joins + output
        )
    raise RuntimeError(
        f"k-core peeling did not converge within {KCORE_MAX_ROUNDS} rounds; "
        "raise KCORE_MAX_ROUNDS (the oracle unrolls the same depth)"
    )


def _oriented_wedges(
    edges: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Degree-ordered edge orientation + wedge enumeration — the shared
    core of :func:`triangle_stats` and :func:`local_clustering`.

    Returns ``(und, deg, o, wedges)``: the undirected edge set, node
    degrees, oriented edges ``a → b`` (from the lower-(degree, id)
    endpoint), and wedges ``(a, wb, wc)`` rooted at ``a`` with
    ord(wb) < ord(wc). Each upstream table is lazily checkpointed for
    its multiple consumers (the multi-consumer-subplan rule; the
    co-purchase self-join that usually feeds ``edges`` is expensive).
    """
    und, deg = _und_deg(edges)
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("d_src"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("d_dst"))
    ed = und.join(du, "src").join(dv, "dst")
    src_first = (F.col("d_src") < F.col("d_dst")) | (
        (F.col("d_src") == F.col("d_dst")) & (F.col("src") < F.col("dst"))
    )
    # Oriented edge (a → b), carrying b's degree for the wedge ordering.
    o = ed.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(src_first, F.col("d_dst")).otherwise(F.col("d_src")).alias("db"),
    ).localCheckpoint(eager=False)

    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(
        y,
        (F.col("x.a") == F.col("y.a"))
        & (
            (F.col("x.db") < F.col("y.db"))
            | (
                (F.col("x.db") == F.col("y.db"))
                & (F.col("x.b") < F.col("y.b"))
            )
        ),
    ).select(
        F.col("x.a").alias("a"),
        F.col("x.b").alias("wb"),
        F.col("y.b").alias("wc"),
    )
    return und, deg, o, wedges


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient: lcc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) for every node with degree ≥ 2.

    Per-node triangle counts come from the same degree-ordered wedge
    join as :func:`triangle_stats` (each triangle found once, rooted at
    its lowest-ordered vertex ``a``) — the closed wedge rows
    ``(a, wb, wc)`` fan out to their three member nodes and aggregate
    with a map-side combine, so a hub node's count never funnels raw
    wedges into one task. Exact integer counts; the coefficient rounds
    via ``ratio_round``.
    """
    from .numeric import ratio_round

    und, deg, o, wedges = _oriented_wedges(edges)
    closing = o.select(F.col("a").alias("wb"), F.col("b").alias("wc"))
    tri = wedges.join(closing, ["wb", "wc"], "left_semi")
    member = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("wb").alias("node")))
        .union(tri.select(F.col("wc").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(member, "node", "left")
        .select(
            "node",
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            ratio_round(
                2 * F.coalesce(F.col("t"), F.lit(0)),
                F.col("d") * (F.col("d") - 1),
                4,
            ).alias("lcc"),
        )
        .orderBy("node")
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph: node/edge/wedge/
    triangle counts + the global clustering coefficient, as one row.

    Input is the undirected edge set as distinct ``src < dst`` pairs
    (:func:`copurchase_pairs` output; see :func:`_und_deg`).

    Algorithm — degree-ordered edge orientation (the MapReduce triangle
    scheme of Suri & Vassilvitskii 2011): orient every undirected edge
    from its lower-(degree, id) endpoint to the higher one. The oriented
    out-degree of any node is O(sqrt(m)), so the wedge self-join
    generates O(m^1.5) candidates worst-case instead of Σ deg² — a
    celebrity hub with 10⁸ neighbors contributes ZERO wedges from its
    own fan-out (every edge points INTO it). Each triangle {x,y,z} is
    counted exactly once, rooted at its lowest-ordered vertex.

    Everything is exact integer arithmetic; the clustering coefficient
    3·T / W (W = Σ deg·(deg−1)/2 = closed+open wedges) rounds via
    ``ratio_round`` as 6·T / Σ deg·(deg−1).

    Scale notes: the oriented edge table is lazily checkpointed — it
    has three consumers (both wedge-join sides and the closing-edge
    probe) and each would otherwise replay the degree join. The wedge
    join and the closing join both shuffle |wedges| rows; AQE skew
    handling applies to the closing join key (b, c).
    """
    from .numeric import ratio_round

    und, deg, o, wedges = _oriented_wedges(edges)
    # ord(wb) < ord(wc), so a closing undirected edge {wb, wc} is
    # oriented exactly wb → wc: one equi-join probe, no OR condition.
    closing = o.select(F.col("a").alias("wb"), F.col("b").alias("wc"))
    tri = wedges.join(closing, ["wb", "wc"], "left_semi")

    n_nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("degdeg"),
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges_closed = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    row = (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges_closed))
    )
    return row.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        # W = Σ deg·(deg−1)/2: deg·(deg−1) is even, the halving is exact.
        _idiv(F.col("degdeg"), 2).alias("n_wedges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        ratio_round(
            6 * F.col("n_triangles"), F.col("degdeg"), 4
        ).alias("global_clustering"),
    )


def hits_bipartite(edges: DataFrame) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores on a bipartite weighted
    edge list ``(hub, auth, w)``, in exact integer arithmetic.

    Start from uniform hub mass (SCALE total); per iteration,
    authority(p) = Σ hub(c)·w and hub(c) = Σ authority(p)·w, each side
    L1-renormalized back to SCALE units by exact floor division —
    L1 instead of the textbook L2 because sqrt leaves integer space
    (ranking is normalization-invariant). Deterministic and replayable
    as unrolled SQL CTEs, like :func:`pagerank_integer`.

    Returns ``(role, id, score_scaled)`` for every node. Overflow
    bound: per-node raw mass ≤ SCALE·(Σw of one node) must stay under
    2^63 → Σw per node < ~9e6, the module-docstring PageRank bound;
    the renormalization products run in DECIMAL(38,0)/HUGEINT.

    Scale notes: each half-iteration is one |edges|-row join + a
    map-side-combined aggregate; score tables are localCheckpoint-ed
    per round (two consumers: the next half-iteration and the final
    output — plus unbounded lineage otherwise). The L1 total rides a
    lazy broadcast crossJoin, never a driver collect.
    """
    iters = 3
    edges = edges.localCheckpoint(eager=False)
    hubs = edges.select("hub").distinct()
    nh = hubs.agg(F.count(F.lit(1)).alias("n"))
    h = (
        hubs.crossJoin(F.broadcast(nh))
        .select("hub", _idiv(F.lit(SCALE), F.col("n")).alias("s"))
        .localCheckpoint(eager=False)
    )
    a = None
    for _ in range(iters):
        a_raw = (
            edges.join(h, "hub")
            .select("auth", (F.col("s") * F.col("w")).alias("c"))
            .groupBy("auth")
            .agg(F.sum("c").alias("raw"))
        )
        a_tot = a_raw.agg(F.sum("raw").alias("tot"))
        a = (
            a_raw.crossJoin(F.broadcast(a_tot))
            .select(
                "auth",
                _idiv(
                    F.col("raw").cast("decimal(38,0)") * F.lit(SCALE),
                    F.col("tot"),
                ).alias("s"),
            )
            .localCheckpoint(eager=False)
        )
        h_raw = (
            edges.join(a, "auth")
            .select("hub", (F.col("s") * F.col("w")).alias("c"))
            .groupBy("hub")
            .agg(F.sum("c").alias("raw"))
        )
        h_tot = h_raw.agg(F.sum("raw").alias("tot"))
        h = (
            h_raw.crossJoin(F.broadcast(h_tot))
            .select(
                "hub",
                _idiv(
                    F.col("raw").cast("decimal(38,0)") * F.lit(SCALE),
                    F.col("tot"),
                ).alias("s"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        h.select(
            F.lit("hub").alias("role"),
            F.col("hub").alias("id"),
            F.col("s").cast("long").alias("score_scaled"),
        ).union(
            a.select(
                F.lit("authority").alias("role"),
                F.col("auth").alias("id"),
                F.col("s").cast("long").alias("score_scaled"),
            )
        )
    )


#: Candidates :func:`link_prediction_cn` returns.
LP_TOP_K = 20

#: Hub cap of :func:`link_prediction_cn`: middles of higher degree
#: enumerate no wedges (a no-op on the fixtures).
LP_MAX_MIDDLE_DEGREE = 1 << 20


def link_prediction_cn(edges: DataFrame) -> DataFrame:
    """Common-neighbors link prediction over an undirected graph: the
    top-``LP_TOP_K`` NON-edges ranked by shared-neighbor count
    (Liben-Nowell & Kleinberg 2003's strongest simple baseline), with the Jaccard
    variant (cn / (d_u + d_w − cn)) carried alongside — the candidate
    generator for GNN/link-prediction training pairs (the positive-pair
    complement of ``graph_negative_samples``' uniform negatives).

    Exactness: counts are integers; the Jaccard score is one exact
    integer ratio; the top-k order carries the full (cn DESC, u, w)
    tie-break.

    Scale shape: wedges enumerate by MIDDLE node (bi-adjacency
    self-join, Σ C(deg, 2) rows — NOT the census's degree-ordered
    orientation, which only roots wedges at their min-order endpoint
    and under-counts common neighbors whose middle ranks higher; r7
    oracle catch). Σ C(deg, 2) is the inherent cost of exact common
    neighbors; ``LP_MAX_MIDDLE_DEGREE`` is the production skew knob —
    middles with degree above the cap are dropped from wedge
    enumeration BEFORE the self-join (broadcast anti-join against the
    tiny hub set, ~free at the no-op default of 2^20), bounding the
    per-middle wedge fan-out at C(cap, 2). Sizing argument: on a
    power-law graph the top hub alone contributes C(d_max, 2) wedges —
    at 100× data a 10^6-degree hub is 5·10^11 rows from ONE middle;
    capping at ~10^4 bounds every middle at 5·10^7 while dropping only
    candidates whose shared neighbor is a hub that connects to
    everything anyway (the classic CN noise term — Liben-Nowell &
    Kleinberg's motivation for Adamic-Adar's 1/log(d) hub discount).
    The emitted ``capped_middles`` column (same value every row) audits
    how many middles the cap removed — 0 at the default.
    Candidate scoring is a FINAL-ONLY aggregate behind an explicit
    keyed repartition — on near-unique pair keys a map-side partial
    aggregate reduces nothing and spills (see the inline comment); the
    existing-edge anti-join runs on the full candidate table, the
    degree joins on the k survivors; the final top-k is a
    TakeOrderedAndProject (map-side top-k, no global sort).
    """
    und, deg = _und_deg(edges)
    # Hub cap on the MIDDLE: the hub set is power-law-tiny, so the
    # anti-join broadcasts; n_capped is a 1-row audit aggregate riding
    # into the k-row result via a broadcast cross join.
    hot = deg.filter(F.col("d") > F.lit(LP_MAX_MIDDLE_DEGREE)).select("node")
    n_capped = hot.agg(
        F.count(F.lit(1)).cast("long").alias("capped_middles")
    )
    # PINNED repartition by middle BEFORE the wedge self-join: the
    # bi-adjacency table is byte-small (2|E| packed ints ≈ 12 MB at
    # bench scale), so its plain exchange AQE-byte-coalesces to ~1
    # task — which serialized the WEDGE-GENERATION join itself (the
    # 15M-row producer; the r7 fix spread only the pair AGGREGATION
    # downstream of it — r9 profile caught the producer stage).
    # HashPartitioning("m") at a pinned count satisfies both join
    # sides' requirement (ReuseExchange ships one shuffle), so the
    # join runs at full width with no further exchange.
    par = edges.sparkSession.sparkContext.defaultParallelism
    bi = (
        und.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .unionByName(
            und.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
        )
        .join(F.broadcast(hot), "node", "left_anti")
        .repartition(par, "node")
    )
    b1 = bi.select(F.col("node").alias("m"), F.col("nbr").alias("u"))
    b2 = bi.select(F.col("node").alias("m"), F.col("nbr").alias("w"))
    # Pack the pair into ONE long key (ids < 2^31, so u·2^32 + w is
    # exact and collision-free) and REPARTITION BY KEY BEFORE the
    # count: the wedge table is near-unique on the pair, so a plain
    # groupBy's map-side partial aggregation is pure overhead — each
    # map task builds a ~|wedges|/tasks-entry hash map that reduces
    # nothing, thrashes, and spills (measured 15.7 s vs 4.7 s for the
    # explicit repartition + final-only aggregate on the 15M-wedge
    # fixture graph, r7). The repartition pays the same one shuffle the
    # aggregate needed anyway; Catalyst sees the child partitioning and
    # skips the partial stage.
    # Guard the packing precondition (ids in [0, 2^31)): a caller with
    # hashed 64-bit or negative node ids would silently merge distinct
    # pairs into one pk and sign-extend garbage back out — fail loudly
    # instead (the rh_signatures width-guard pattern). u < w bounds u's
    # UPPER end via w, but not its lower (a negative minimum id can
    # appear only on the u side), so guard both columns.
    def _guarded(col: str):
        return F.when(
            (F.col(col) < 0) | (F.col(col) >= F.lit(2_147_483_648)),
            F.raise_error(
                F.lit("link_prediction_cn: node ids must be in [0, 2^31)")
            ).cast("long"),
        ).otherwise(F.col(col))

    pairs = (
        b1.join(b2, "m")
        .filter(F.col("u") < F.col("w"))
        .select(
            (F.shiftleft(_guarded("u"), 32) + _guarded("w")).alias("pk")
        )
    )
    # EXPLICIT partition count: a keyed repartition without one is
    # AQE-coalescible by BYTES (15M packed longs ≈ 120 MB → ~2 tasks),
    # serializing the CPU-bound count — the CLAUDE.md conditional-spread
    # trap. With the count pinned, AQE leaves the exchange alone.
    cn = (
        pairs.repartition(par, F.col("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cn"))
        .select(
            F.shiftright(F.col("pk"), 32).alias("u"),
            F.col("pk").bitwiseAND(F.lit(4294967295)).alias("w"),
            "cn",
        )
    )
    cand = cn.join(
        und,
        (cn["u"] == und["src"]) & (cn["w"] == und["dst"]),
        "left_anti",
    )
    # Top-k FIRST, degree joins on the k survivors: the candidate-pair
    # table is near-|wedges|-sized (mostly unique pairs), so joining
    # degrees before the limit would shuffle it twice more — measured
    # 18 s → 6 s at sf0.1 by deferring (r7). The anti-join stays on the
    # full table (required for correctness); AQE broadcasts the edge
    # side when it is small.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("d_u"))
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("d_w"))
    from .numeric import ratio_round

    return (
        cand.orderBy(F.desc("cn"), F.asc("u"), F.asc("w"))
        .limit(LP_TOP_K)
        .join(du, "u")
        .join(dw, "w")
        .crossJoin(F.broadcast(n_capped))
        .orderBy(F.desc("cn"), F.asc("u"), F.asc("w"))
        .select(
            F.col("u").alias("part_a"),
            F.col("w").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("d_u").cast("long").alias("d_a"),
            F.col("d_w").cast("long").alias("d_b"),
            ratio_round(
                F.col("cn"), F.col("d_u") + F.col("d_w") - F.col("cn"), 4
            ).alias("jaccard"),
            F.col("capped_middles"),
        )
    )
