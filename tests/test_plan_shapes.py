"""Executed-plan shape asserts for scale-critical operators.

These pin plan PROPERTIES, not plan text: a refactor that silently
reintroduces a skew-prone shape (hot-key count window, lost partial
aggregation) fails here long before it shows up at 100 TB.
"""

import pytest

from streamlit_projet_spark_streaming_spark.operators import dedup as _dedup
from streamlit_projet_spark_streaming_spark.operators import text as _text
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "build",
    [
        lambda docs: _dedup.span_dup_profile(docs),
        lambda docs: _text.remove_dup_spans(docs),
    ],
    ids=["span_dup_profile", "remove_dup_spans"],
)
def test_span_docfreq_has_no_window(spark, build):
    """Span doc-frequency must be a map-side-combined groupBy + join-back.

    A COUNT window over partitionBy(span) does no partial aggregation:
    every row of a Zipf-hot boilerplate span funnels into ONE task at
    100 TB (VERDICT r5 'What's wrong #2'). The groupBy form collapses
    each span to one row per map task before its shuffle.
    """
    docs = load_table(spark, "documents", SF)
    plan = _executed_plan(build(docs))
    assert "Window" not in plan, "skew-prone count window reintroduced"
    # partial (map-side) aggregation present somewhere on the span hash
    assert "partial_count" in plan, "lost map-side combine for span docfreq"


@pytest.mark.parametrize(
    "name",
    [
        "v_price_bucket_preferences",
        "v_status_preferences",
        "v_segment_preferences",
    ],
)
def test_preference_views_scan_orders_once(spark, name):
    """The window-rewritten preference views read the fact table ONCE
    (PLANS.md 'Preference views'): both the stats branch and the top-1
    branch derive from the same dimension-sized aggregate. The reference
    scans its fact table once per branch; a refactor reintroducing the
    double scan doubles the dominant cost at 100 TB."""
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF)
    plan = _executed_plan(df)
    assert plan.count("orders.parquet") == 1, (
        f"{name}: fact table scanned {plan.count('orders.parquet')}x"
    )


def test_age_preferences_computes_each_window_sum_once(spark):
    """``v_age_preferences`` needs five per-age-bucket window sums: the
    order count, and a sum and a count per average. Each use of an inline
    window sum inside ``ratio_round`` used to become its own window
    aggregate (25 of them)."""
    import re

    from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
    from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV

    from .shopping_fixture import raw_df

    df = SV.v_age_preferences(enrich(raw_df(spark, 100)))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    sums = re.findall(r"sum\([^()]*\) windowspecdefinition", plan)
    assert 0 < len(sums) <= 5, sums


def test_quantize_has_no_data_sized_shuffle(spark):
    """embedding_quantize_int8's only exchanges are the D-row stats
    aggregation pair, the single-row stats broadcast, and (at fixture
    scale) the conditional input spread — the corpus itself must reach
    the Arrow map stage without a groupBy/join re-assembly shuffle
    (PLANS.md 'Round-6 additions')."""
    from streamlit_projet_spark_streaming_spark.operators import quantize as Q

    emb = load_table(spark, "embeddings", SF)
    plan = _executed_plan(Q.quantize_embeddings(emb))
    assert "MapInPandas" in plan
    # The checkpointed stats row appears as a broadcast ExistingRDD scan —
    # its aggregation ran once at checkpoint time; assert the map-side
    # combine on the stats leg itself.
    stats_plan = _executed_plan(Q.dim_stats(emb))
    assert "partial_min" in stats_plan and "partial_max" in stats_plan
    # No data-sized aggregation in the main plan: the vec_id re-assembly
    # groupBy of the SQL-only alternative must not appear.
    assert "HashAggregate" not in plan, "re-assembly aggregate above map stage"


def test_event_transitions_partial_aggregates_pairs(spark):
    """The (type, next) pair counts must partially aggregate before their
    exchange — a window-only form would funnel hot event types into
    single tasks at scale."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel

    ev = load_table(spark, "events", SF)
    plan = _executed_plan(rel._transition_pairs(ev))
    assert "partial_count" in plan, "lost map-side combine for pair counts"


def test_basket_affinity_reuses_items_exchange(spark, monkeypatch):
    """Both sides of the within-order self-join are the same items
    subplan; the executed plan must ship ONE shuffle for it
    (ReusedExchange), not two."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel

    li = load_table(spark, "lineitem", SF)
    part = load_table(spark, "part", SF)
    monkeypatch.setattr(rel, "BASKET_MIN_SUPPORT", 1)
    df = rel.basket_affinity(li, part)
    # AQE resolves exchange reuse during execution — read the FINAL plan.
    df.collect()
    plan = _executed_plan(df)
    assert "ReusedExchange" in plan, (
        "items self-join sides no longer share one exchange"
    )


def test_rfm_scans_orders_once(spark):
    """The corpus max date derives from the checkpointed customer-dim
    aggregate (max of per-group maxes) — a second scalar pass over the
    fact table must not reappear."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel

    orders = load_table(spark, "orders", SF)
    df = rel.rfm_segments(orders)
    df.collect()
    plan = _executed_plan(df)
    # The checkpointed customer-dim aggregate hides ITS orders scan
    # behind a LogicalRDD, so the correct plan shows ZERO visible
    # orders scans; a reintroduced second scalar pass (the regression
    # this guards) would surface as a visible FileScan — assert == 0,
    # not <= 1 (review caught the <= 1 form as vacuous).
    assert plan.count("orders.parquet") == 0, (
        f"visible orders scan reintroduced ({plan.count('orders.parquet')}x)"
    )


def test_ivf_assign_is_agg_only(spark):
    """The coarse quantizer must be an agg-only argmax (partial min_by,
    map-side |C|-to-1 combine) — not a ROW_NUMBER window that ships all
    |C| scored rows per vector through the shuffle."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    plan = _executed_plan(sim.ivf_assign(emb, sim._modulus_centroids(emb)))
    assert "Window" not in plan, "window argmax reintroduced"
    assert "partial_min_by" in plan or "partial_minby" in plan.lower(), (
        "lost map-side combine in the quantizer argmax"
    )


def test_forecast_revenue_change_is_scan_only(spark):
    """Q6 shape: all predicates reach the parquet scan and the plan has
    ZERO exchanges besides the single-partition gather of the global
    aggregate — the canonical pushdown probe. A lost pushdown (e.g. a
    filter trapped behind a non-deterministic projection) would show up
    as a post-scan Filter over unpruned columns."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    df = REGISTRY["forecast_revenue_change"].builder(spark, SF)
    plan = _executed_plan(df)
    assert "Exchange hashpartitioning" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan.split("DataFilters")[1], "date filter not pushed"
    # column pruning: the scan reads exactly the 4 query columns plus
    # the catalog boundary's l_orderkey identity filter (the documented
    # PLANS.md boundary cost; l_shipdate is both a query column and the
    # boundary ts column)
    read_cols = {
        c.strip().split("#")[0]
        for c in scan.split("FileScan parquet [")[1].split("]")[0].split(",")
    }
    assert read_cols == {
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_shipdate",
    }, read_cols


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("nation_year_revenue", 1),
        ("promo_revenue_share", 1),
        ("disjunctive_brand_revenue", 1),
        ("small_qty_revenue", 2),
        ("dormant_rich_customers", 1),
    ],
)
def test_tpch_batch_shuffle_budget(spark, name, max_shuffles):
    """The r6 TPC-H batch pins its shuffle budgets: dims broadcast, one
    map-side-combined aggregate shuffle (two for Q17's per-part stats +
    join-back), and — for the avg-threshold queries — NO Window and no
    float average anywhere (the comparisons run as integer
    inequalities)."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(REGISTRY[name].builder(spark, SF))
    n = plan.count("Exchange hashpartitioning")
    assert n <= max_shuffles, f"{name}: {n} hash exchanges (budget {max_shuffles})"
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_dim_covariance_shuffle_is_partial_gram_sized(spark):
    """The covariance shuffle must move per-batch PARTIAL rows
    (O(batches·D²)), never corpus components: the aggregate's input is
    the mapInPandas output (grouped i/j partial sums), so the plan has
    a partial_sum HashAggregate directly above the Arrow stage and NO
    per-component posexplode feeding an exchange."""
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        gram_partial_totals,
    )

    emb = load_table(spark, "embeddings", SF)
    plan = _executed_plan(gram_partial_totals(emb))
    assert "MapInPandas" in plan
    assert "partial_sum" in plan, "lost map-side combine over partial Gram"
    assert "Generate" not in plan, (
        "per-component explode appeared - the shuffle would be "
        "corpus-component-sized"
    )


def test_pagerank_iteration_lineage_is_truncated(spark, monkeypatch):
    """Each PageRank round must consume the CHECKPOINTED score table:
    without truncation round k replans rounds 1..k-1 (and the edge
    self-join) once per consumer — the connected-components lesson.
    The executed plan of the final scores therefore contains no
    lineitem scan and no self-join, only the checkpoint scan."""
    from streamlit_projet_spark_streaming_spark.operators import graph

    li = load_table(spark, "lineitem", SF)
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 2)
    pr = graph.pagerank_integer(graph.copurchase_edges(li))
    plan = _executed_plan(pr)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "parquet" not in plan.lower(), (
        "final scores replay the raw lineitem scan - checkpoint lost"
    )


def test_triangle_census_wedge_join_has_no_window_or_cartesian(spark):
    """The triangle census must stay in equi-join + aggregate space:
    no Window (the census is agg-only) and no CartesianProduct (the
    wedge join keys on the shared root, the closing probe on (b, c))."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(
        REGISTRY["graph_triangle_census"].builder(spark, SF)
    )
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_hll_overlap_single_scan_partial_max(spark):
    """HLL set algebra: ONE events scan (A/B/union registers fold from
    one conditional-max table) with map-side partial_max before the
    <= 64-row shuffle."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(REGISTRY["users_hll_overlap"].builder(spark, SF))
    assert "partial_max" in plan, "lost map-side combine on registers"
    # one file scan of events only (A/B/union fold from one pass)
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")


def test_adaptive_quality_filter_no_per_doc_window(spark):
    """The per-source cutoff must come from score-bucket counts, never
    a per-document rank window: the Window in the plan may only run
    over the aggregated (source, score) table — assert the window's
    child contains an aggregate, by requiring partial_count BEFORE any
    Window in the plan string."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(
        REGISTRY["docs_adaptive_quality_filter"].builder(spark, SF)
    )
    assert "partial_count" in plan, "lost map-side combine on score buckets"
    # The bucket-cumulative form needs NO rank function at all; a
    # per-document rewrite would reintroduce row_number over doc rows.
    assert "row_number" not in plan, "per-document rank window reintroduced"


def test_label_outliers_no_pair_join(spark):
    """Embedding outlier screen is aggregate-only over |corpus|*D rows:
    no BroadcastNestedLoopJoin / CartesianProduct (an accidental
    vector-pair formulation would be O(n^2))."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(
        REGISTRY["embedding_label_outliers"].builder(spark, SF)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_front_is_window_only(spark):
    """Skyline must be the sort-filter rewrite: one Window, zero
    pair joins beyond the dimension join to customer."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(REGISTRY["orders_pareto_front"].builder(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_ordered_dense_index_not_single_partition(spark, monkeypatch):
    """The dense node index (graph_negative_samples' index builder) must
    use the bucket-offset idiom: its only single-partition exchange is
    the one feeding the BOUNDED bucket-count cumulative window (VERDICT
    r6: the global ROW_NUMBER() OVER (ORDER BY node) was the round's one
    scale-killer). The data-sized ROW_NUMBER must partition by the
    bucket key, and the values must equal the global row number."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel

    part = load_table(spark, "part", SF)
    nodes = part.select(part.p_partkey.alias("node")).distinct()
    monkeypatch.setattr(rel, "DENSE_INDEX_BUCKET", 64)
    idx = rel.ordered_dense_index(nodes, "node")
    plan = _executed_plan(idx)
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "windowspecdefinition(bkt" in plan, (
        "index row_number no longer partitioned by bucket"
    )
    rows = sorted((r["node"], r["idx"]) for r in idx.collect())
    assert [i for _, i in rows] == list(range(len(rows)))


def test_grid_kmeans_assignment_is_map_stage(spark):
    """grid_kmeans' corpus work must be Arrow map stages over the scan —
    never a data-sized join/shuffle of the corpus. The only joins in the
    assignment plan are the broadcast one-row codebook crossJoins; the
    centroid-update partials aggregate with a map-side combine."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    assigned, cb_row = sim.grid_kmeans(emb)
    plan = _executed_plan(assigned)
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan, "corpus-sized join in assignment"
    assert "Window" not in plan
    # the codebook is one row of k vectors of D units whatever the corpus
    cb = cb_row.collect()
    assert len(cb) == 1
    assert len(cb[0]["cb"]) == 8
    assert {len(v) for v in cb[0]["cb"]} == {64}


def test_maintenance_report_action_plan_is_cell_sized(spark):
    """The maintenance report's final action must read ONLY checkpointed
    inputs: both corpus passes (the applier's relabel + split
    quantization) run once, at the sufficient-statistics checkpoint
    materialization — a FileScan or MapInPandas in the action plan means
    a consumer is re-running corpus work (the r6 multi-consumer bug
    class). No windows either: every aggregate is a map-side-combined
    groupBy over cell-sized rows."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    _, cb_row = sim.grid_kmeans(emb)
    plan_df = sim.ivf_cell_split_plan(sim.ivf_cell_stats(emb, cb_row), cb_row)
    report = sim.maintenance_report(emb, cb_row, plan_df)
    report.collect()
    plan = _executed_plan(report)
    assert "FileScan" not in plan, "corpus re-scan in a report consumer"
    assert "MapInPandas" not in plan, "corpus Arrow pass re-run per consumer"
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# Logical nodes that need an exchange or a Python worker: a plan with
# none of them is narrow, so checkpointing it over an existing
# checkpoint only copies blocks that are already materialized.
_WIDE_NODES = {
    "Aggregate", "Join", "Window", "WindowGroupLimit", "Sort", "Repartition",
    "RepartitionByExpression", "RebalancePartitions", "Distinct",
    "Deduplicate", "GlobalLimit", "LocalLimit", "Offset", "Tail",
}


def _plan_nodes(node):
    yield node.nodeName()
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _copies_a_checkpoint(df) -> bool:
    names = list(_plan_nodes(df._jdf.queryExecution().optimizedPlan()))
    wide = [
        n for n in names
        if n in _WIDE_NODES or any(p in n for p in ("Python", "Pandas", "Arrow"))
    ]
    return not wide and "LogicalRDD" in names


def test_no_checkpoint_copies_a_checkpoint(spark, monkeypatch):
    """A checkpoint a producer returns is the producer's: no consumer
    re-checkpoints it or a narrow projection of it. Builds
    (without collecting) the entries whose consumers used to copy a
    checkpoint (the IVF maintenance chain, the co-purchase BFS edges,
    the duplicate-aware weights' clusters) and fails on any
    ``localCheckpoint`` of a narrow plan over a ``LogicalRDD`` leaf.
    The patch is on the classic class: ``pyspark.sql.DataFrame`` is an
    abstract base in PySpark 4.1, so patching it would see nothing."""
    import traceback

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    original = ClassicDataFrame.localCheckpoint
    copies = []

    def checked(self, *args, **kwargs):
        if _copies_a_checkpoint(self):
            caller = traceback.extract_stack(limit=2)[0]
            copies.append(f"{caller.filename}:{caller.lineno}")
        return original(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", checked)
    for name in (
        "ivf_cell_stats",
        "ivf_cell_split_plan",
        "ivf_apply_cell_plan",
        "ivf_post_apply_codebook",
        "ivf_maintenance_report",
        "part_copurchase_hops",
        "dedup_aware_sample_weights",
    ):
        REGISTRY[name].builder(spark, SF)
    assert not copies, f"checkpoints of narrow plans over checkpoints: {copies}"


def _checkpoint_reads(df) -> list[int]:
    """RDD ids of the checkpoint (``LogicalRDD``) leaves of ``df``'s
    plan, one per leaf: a self-join reads its checkpoint twice."""
    ids = []

    def walk(node):
        children = node.children()
        if children.size() == 0 and node.nodeName() == "LogicalRDD":
            ids.append(node.rdd().id())
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().logical())
    return ids


def test_every_checkpoint_is_read_twice_or_cuts_a_loop(spark, monkeypatch):
    """A checkpoint earns its place by being read at least twice (by
    later checkpoint inputs, build-time actions or ``.rdd`` probes, and
    the returned plan) or by cutting an iterative lineage (its call site
    fires more than once per build). Builds (without collecting) the
    entries whose single-reader checkpoints were deleted and fails on
    any call site that fires once and is read fewer than twice. The
    patches are on the classic class: ``pyspark.sql.DataFrame`` is an
    abstract base in PySpark 4.1, so patching it would see nothing."""
    import traceback
    from collections import Counter

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    reads = Counter()
    calls = []  # (call site, rdd id) per checkpoint call
    depth = [0]  # only the outermost action reads (head -> take -> collect)

    def wrap_action(original):
        def action(self, *args, **kwargs):
            if depth[0] == 0:
                reads.update(_checkpoint_reads(self))
            depth[0] += 1
            try:
                return original(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return action

    for name in ("collect", "count", "first", "take", "head", "toPandas"):
        monkeypatch.setattr(
            ClassicDataFrame, name, wrap_action(getattr(ClassicDataFrame, name))
        )
    rdd = ClassicDataFrame.__dict__["rdd"].func
    monkeypatch.setattr(
        ClassicDataFrame, "rdd", property(wrap_action(lambda self: rdd(self)))
    )
    checkpoint = ClassicDataFrame.localCheckpoint

    def counted(self, *args, **kwargs):
        reads.update(_checkpoint_reads(self))
        caller = traceback.extract_stack(limit=2)[0]
        out = checkpoint(self, *args, **kwargs)
        calls.append((f"{caller.filename}:{caller.lineno}", _checkpoint_reads(out)[0]))
        return out

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counted)
    unread = []
    for name in (
        "part_copurchase_pagerank",
        "part_copurchase_ppr_expansion",
        "dedup_method_agreement",
        "orders_winsorized_stats",
        "events_seasonal_decompose",
        "graph_kcore",
    ):
        reads.clear()
        calls.clear()
        reads.update(_checkpoint_reads(REGISTRY[name].builder(spark, SF)))
        fired = Counter(site for site, _ in calls)
        unread += [
            f"{name}: {site} read {reads[rid]}x"
            for site, rid in calls
            if fired[site] == 1 and reads[rid] < 2
        ]
    assert not unread, f"checkpoints read fewer than twice: {unread}"


def test_bitext_margin_rank_pushdown(spark):
    """All four margin-mining rank filters (two normalizer top-k, the
    forward and backward top-1) must plan as WindowGroupLimit (rank
    pushdown — never a full sort-materialize of the pair table), the
    pair scoring must not re-run per consumer (no FileScan in the
    action plan; the cosine folds live at the pairs checkpoint), and
    the |S|x|T| loop must never degrade to a CartesianProduct."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    out = sim.bitext_margin_pairs(emb)
    out.collect()
    plan = _executed_plan(out)
    assert plan.count("WindowGroupLimit") >= 4
    assert "FileScan" not in plan, "pair scoring re-run in a consumer"
    assert "CartesianProduct" not in plan
