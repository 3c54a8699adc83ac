"""Invariants for the round-2 relational additions: the banded interval
join must equal the naive range join exactly AND plan as equi-joins (no
nested-loop), and sequence features must satisfy per-key invariants."""

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators import relational as rel
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_CORRECT, jobs_in_group


def test_bucketed_interval_join_equals_naive_range_join(spark):
    ev = load_table(spark, "events", SF_CORRECT)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    banded = rel.bucketed_interval_join(
        clicks,
        purchases.select(
            F.col("p_user").alias("user_id"), F.col("p_ts").alias("ts2"),
            "p_id",
        ).withColumnRenamed("ts2", "ts_r"),
        on="user_id",
        left_ts="ts",
        right_ts="ts_r",
        window_seconds=3600,
        right_vals=["p_id"],
    )
    got = {(r.event_id, r.p_id) for r in banded.collect()}
    naive = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("ts"))
        & (
            F.unix_micros("p_ts") < F.unix_micros("ts") + 3600 * 1_000_000
        ),
    )
    expect = {(r.event_id, r.p_id) for r in naive.collect()}
    assert got == expect
    assert len(expect) > 0


def test_bucketed_interval_join_plans_as_equi_join(spark):
    """The whole point of banding: the physical plan must be a hash-
    partitionable equi-join, not a BroadcastNestedLoopJoin/cartesian."""
    ev = load_table(spark, "events", SF_CORRECT)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ts_r"), "value"
    )
    plan = (
        rel.bucketed_interval_join(
            clicks, purchases, "user_id", "ts", "ts_r", 3600, ["value"]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_identical_to_plain_and_plans_shuffle_hash(spark):
    """Salting must not change a single row, and the plan must actually
    be the salted shuffle-hash join (key includes __salt), else the demo
    proves nothing."""
    orders = load_table(spark, "orders", SF_CORRECT).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, "customer", SF_CORRECT).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    salted = rel.salted_join(orders, cust, on="o_custkey", salt_from="o_orderkey")
    plain = orders.join(cust, "o_custkey")
    got = sorted(
        (r.o_orderkey, r.c_mktsegment) for r in salted.collect()
    )
    expect = sorted(
        (r.o_orderkey, r.c_mktsegment) for r in plain.collect()
    )
    assert got == expect and len(got) > 0
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "__salt" in plan


def test_approx_distinct_error_bound(spark):
    """HLL++ estimate per group within 3x the configured rsd (0.02) of
    the exact distinct count — the pytest bound backing the rows-only
    registry entry approx_distinct_users_per_type."""
    ev = load_table(spark, "events", SF_CORRECT)
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n"))
        .collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        rel_err = abs(approx[k] - exact[k]) / exact[k]
        assert rel_err <= 0.06, f"{k}: {approx[k]} vs {exact[k]} ({rel_err:.3f})"


def test_approx_percentile_error_bound(spark):
    """t-digest approximate percentiles per group within 2% relative
    error of the exact interpolated percentiles — the bound backing the
    rows-only entry price_percentiles_approx."""
    orders = load_table(spark, "orders", SF_CORRECT)
    exact = {
        r.o_orderstatus: (r.p50, r.p90)
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }
    approx = {
        r.o_orderstatus: (r.p50, r.p90)
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("p50"),
            F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias("p90"),
        )
        .collect()
    }
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            assert abs(a - e) / e <= 0.02, f"{k}: {a} vs {e}"


def test_gather_if_small_is_jobless_and_follows_broadcast_threshold(spark, tmp_path):
    """A small scan-rooted frame is gathered into one partition, and the
    size check fires no job; a threshold of -1 turns the gather off."""
    path = str(tmp_path / "three_files")
    spark.range(300).repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 3

    out = []
    assert jobs_in_group(spark, "gather_if_small", lambda: out.append(rel.gather_if_small(df))) == 0
    assert out[0].rdd.getNumPartitions() == 1
    assert sorted(r.id for r in out[0].collect()) == list(range(300))

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert rel.gather_if_small(df) is df
    finally:
        spark.conf.set(key, old)


def test_aggonly_top1_matches_window_form(spark):
    """The agg-only argmax (max of struct) must agree with the window
    formulation on orders/avg and on top_priority wherever the count is
    uniquely maximal (the two forms differ only in tie direction)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    aggonly = {
        r.o_orderstatus: r
        for r in REGISTRY["v_status_preferences_aggonly"]
        .builder(spark, SF_CORRECT)
        .collect()
    }
    window = {
        r.o_orderstatus: r
        for r in REGISTRY["v_status_preferences"].builder(spark, SF_CORRECT).collect()
    }
    counts = (
        load_table(spark, "orders", SF_CORRECT)
        .groupBy("o_orderstatus", "o_orderpriority")
        .count()
        .collect()
    )
    from collections import defaultdict

    per_status = defaultdict(list)
    for r in counts:
        per_status[r.o_orderstatus].append(r["count"])
    assert set(aggonly) == set(window)
    for k in aggonly:
        assert aggonly[k].orders == window[k].orders
        assert aggonly[k].avg_price == window[k].avg_price
        top = sorted(per_status[k], reverse=True)
        if len(top) < 2 or top[0] != top[1]:  # unique max ⇒ same answer
            assert aggonly[k].top_priority == window[k].top_priority


def test_sequence_features_invariants(spark):
    ev = load_table(spark, "events", SF_CORRECT)
    feats = rel.sequence_features(
        ev, key="user_id", ts_col="ts", value_col="value",
        type_col="event_type", id_col="event_id",
    )
    rows = feats.filter(F.col("user_id") == 1).orderBy("seq").collect()
    assert [r.seq for r in rows] == list(range(1, len(rows) + 1))
    assert rows[0].gap_us is None and rows[0].prev_type is None
    assert rows[-1].next_type is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.gap_us == cur.ts_us - prev.ts_us
        assert cur.gap_us >= 0
        assert cur.prev_type == ev.filter(
            (F.col("user_id") == 1) & (F.unix_micros("ts") == prev.ts_us)
        ).filter(F.col("event_id") == prev.event_id).first().event_type


def test_salted_join_spreads_a_hot_key(spark):
    """On a HOT-KEY fixture (90% of big rows share one key) the salted
    join actually SPREADS the hot key across multiple shuffle tasks —
    the runtime effect the plan assert above can't show."""
    n = 20_000
    big = spark.range(n).select(
        F.col("id").alias("row_id"),
        # 90% of rows pile on key 0; the rest spread over 100 keys
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % 100)
        .alias("k"),
    )
    small = spark.createDataFrame([(i,) for i in range(0, 100, 2)], ["k"])
    # runtime spread: the hot key's rows land in >1 shuffle partition
    # after the salted join (plain join puts them all in exactly one).
    # AQE's byte-based coalescing would merge these kilobyte partitions
    # back into one task (fixture-size artifact — at real scale the hot
    # partition is the gigabyte one AQE can't split for a shuffle-hash
    # build), so it is disabled for the spread measurement only.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    try:
        spark.conf.set(coalesce_key, "false")
        salted = rel.salted_join(big, small, on="k", salt_from="row_id")
        spread = (
            salted.filter(F.col("k") == 0)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        plain_spread = (
            big.join(small.hint("SHUFFLE_HASH"), "k")
            .filter(F.col("k") == 0)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set(coalesce_key, prev)
    assert plain_spread == 1
    assert spread >= 3  # 8 salts hashed over the 4 test-session partitions


def test_retention_cohorts_triangle_invariants(spark):
    ev = load_table(spark, "events", SF_CORRECT)
    out = rel.retention_cohorts(ev).toPandas()
    # Offset 0 is everyone's first day: retention exactly 1.0, actives
    # equal the cohort size.
    d0 = out[out.offset_d == 0]
    assert (d0.active_users == d0.cohort_users).all()
    assert (d0.retention == 1.0).all()
    # Later offsets never exceed the cohort; offsets are non-negative.
    assert (out.active_users <= out.cohort_users).all()
    assert (out.offset_d >= 0).all()
    # Every cohort has its offset-0 row.
    assert set(out.cohort_ts.unique()) == set(d0.cohort_ts.unique())


def test_vocab_stats_bounds(spark):
    from streamlit_projet_spark_streaming_spark.operators import text as t

    docs = load_table(spark, "documents", SF_CORRECT)
    out = t.vocab_stats(docs).toPandas()
    assert (out.hapax <= out.vocab).all()
    assert (out.vocab <= out.total_tokens).all()
    assert ((out.ttr > 0) & (out.ttr <= 1)).all()
    # Cross-check one stratum against a driver-side recount.
    import collections

    src = out.source.iloc[0]
    rows = docs.filter(F.col("source") == src).select("text").collect()
    cnt = collections.Counter(
        w for r in rows for w in r["text"].lower().split() if w
    )
    row = out[out.source == src].iloc[0]
    assert row.vocab == len(cnt)
    assert row.total_tokens == sum(cnt.values())
    assert row.hapax == sum(1 for v in cnt.values() if v == 1)


def test_basket_affinity_planted_lift(spark):
    # 10 orders: brands A and B always co-occur; C appears alone in 10
    # other orders. lift(A,B) = N*n_ab/(n_a*n_b) = 20*10/(10*10) = 2.
    rows = [(o, p) for o in range(10) for p in (1, 2)] + [
        (o, 3) for o in range(10, 20)
    ]
    li = spark.createDataFrame(
        [(o, p) for o, p in rows], "l_orderkey long, l_partkey long"
    )
    part = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "p_partkey long, p_brand string"
    )
    out = rel.basket_affinity(li, part).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["n_ab"]) == ("A", "B", 10)
    assert r["lift"] == 2.0 and r["support"] == 0.5


def test_basket_affinity_dedups_repeated_parts(spark, monkeypatch):
    # The same brand twice in one order counts once (DISTINCT basket).
    li = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 2)], "l_orderkey long, l_partkey long"
    )
    part = spark.createDataFrame(
        [(1, "A"), (2, "B")], "p_partkey long, p_brand string"
    )
    monkeypatch.setattr(rel, "BASKET_MIN_SUPPORT", 1)
    out = rel.basket_affinity(li, part).collect()
    assert len(out) == 1 and out[0]["n_ab"] == 1


def test_rfm_segments_score_consistency(spark):
    orders = load_table(spark, "orders", SF_CORRECT)
    out = rel.rfm_segments(orders).toPandas()
    assert (out.rfm_score == 100 * out.r_score + 10 * out.f_score + out.m_score).all()
    # Priority chain: every 333 is champion; every champion is 333.
    champs = out[out.segment == "champion"]
    assert (champs.rfm_score == 333).all()
    assert set(out[out.rfm_score == 333].segment) == {"champion"}
    # All five segments appear and scores stay in range.
    assert set(out.segment) == {"champion", "loyal", "big_spender", "at_risk", "regular"}
    assert out.recency_days.min() >= 0
    # Monetary is an exact cents re-sum for a spot customer.
    cust = out.o_custkey.iloc[0]
    spend = (
        orders.filter(F.col("o_custkey") == cust)
        .agg(F.round(F.sum("o_totalprice"), 2))
        .collect()[0][0]
    )
    assert out[out.o_custkey == cust].monetary_cents.iloc[0] == round(spend * 100)


def test_event_transitions_rows_are_distributions(spark):
    ev = load_table(spark, "events", SF_CORRECT)
    out = rel.event_transitions(ev).toPandas()
    g = out.groupby("event_type")
    # Counts partition the row total exactly.
    assert (g.n_pair.sum() == g.n_from.first()).all()
    # Probabilities are a distribution on the 1e-4 grid.
    assert ((out.p > 0) & (out.p <= 1)).all()
    assert (abs(g.p.sum() - 1.0) <= 1e-3).all()


def test_hourly_anomaly_flags_planted_spike(spark):
    # 30 quiet hours at ~10 events, then one 100-event hour: must flag
    # exactly that hour; cold-start hours (<12 trailing) never flag.
    import datetime

    rows = []
    eid = 0
    base = datetime.datetime(2026, 1, 1)
    for h in range(30):
        n = 10 + (h % 2)  # 10/11 alternating — nonzero variance
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(hours=h), 1))
            eid += 1
    for _ in range(100):
        rows.append((eid, base + datetime.timedelta(hours=30), 1))
        eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = rel.hourly_anomaly_flags(ev).toPandas().sort_values("hour_ts")
    assert len(out) == 31
    assert not out.iloc[:12].spike.any(), "cold start must not flag"
    spikes = out[out.spike]
    assert len(spikes) == 1
    assert spikes.iloc[0].n_events == 100
    # Trailing mean of the spike hour reflects the quiet baseline.
    assert 10 <= spikes.iloc[0].trailing_mean <= 11


def test_funnel_latency_profile_planted(spark, monkeypatch):
    # One user clicks at minute 0 of hour 9 and buys 60s and 300s later:
    # only the FIRST purchase counts (latency 60). A second user clicks
    # in hour 9 and buys 120s later -> p50 of {60, 120} = 90.
    import datetime

    import streamlit_projet_spark_streaming_spark.registry as R

    base = datetime.datetime(2026, 1, 1, 9, 0, 0)
    rows = [
        (1, base, 1, "click"),
        (2, base + datetime.timedelta(seconds=60), 1, "purchase"),
        (3, base + datetime.timedelta(seconds=300), 1, "purchase"),
        (4, base + datetime.timedelta(minutes=10), 2, "click"),
        (5, base + datetime.timedelta(minutes=12), 2, "purchase"),
        (6, base + datetime.timedelta(hours=3), 3, "click"),  # no purchase
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    monkeypatch.setattr(
        R, "_t", lambda spark_, sf_, name: ev if name == "events" else None
    )
    out = {r["click_hour"]: r for r in R._funnel_latency_profile(spark, "unused").collect()}
    assert set(out) == {9}
    r = out[9]
    assert r["n_converted"] == 2
    assert r["p50_s"] == 90.0 and r["p99_s"] < 120.0 + 1e-9


def test_active_user_counts_invariants_and_planted(spark):
    import datetime

    # User 1 active days 0 and 8; user 2 active day 8 only.
    base = datetime.datetime(2026, 3, 1)
    rows = [
        (1, base, 1),
        (2, base + datetime.timedelta(days=8), 1),
        (3, base + datetime.timedelta(days=8), 2),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r["day_ts"]: r for r in rel.active_user_counts(ev).collect()}
    d0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
    d8 = d0 + 8 * 86400
    assert out[d0]["dau"] == 1 and out[d0]["wau"] == 1 and out[d0]["mau"] == 1
    # Day 8: both users active that day; user 1's day-0 visit is outside
    # the 7-day window but inside the 30-day window — MAU == WAU == 2
    # (distinct users, not visits).
    assert out[d8]["dau"] == 2 and out[d8]["wau"] == 2 and out[d8]["mau"] == 2
    # Fixture-wide invariants: dau <= wau <= mau.
    big = rel.active_user_counts(
        load_table(spark, "events", SF_CORRECT)
    ).toPandas()
    assert (big.dau <= big.wau).all() and (big.wau <= big.mau).all()


def test_burst_user_flags_planted(spark, monkeypatch):
    import datetime

    base = datetime.datetime(2026, 4, 1, 12, 0, 0)
    rows = (
        # user 1: 6 events inside one minute -> burst
        [(i, base + datetime.timedelta(seconds=5 * i), 1) for i in range(6)]
        # user 2: 6 events one per hour -> no burst
        + [(10 + i, base + datetime.timedelta(hours=i), 2) for i in range(6)]
    )
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    monkeypatch.setattr(rel, "BURST_THRESHOLD", 5)
    out = {r["user_id"]: r for r in rel.burst_user_flags(ev).collect()}
    assert out[1]["burst_flag"] and out[1]["peak_minute_events"] == 6
    assert not out[2]["burst_flag"] and out[2]["peak_minute_events"] == 1
    assert out[1]["total_events"] == out[2]["total_events"] == 6
    assert out[2]["active_minutes"] == 6 and out[1]["active_minutes"] == 1


def test_orders_open_backlog_matches_naive_count(spark):
    """Sweep-line backlog equals the naive per-day interval count on the
    fixture: for sampled days, open = orders with
    start <= day < last_ship (same-day-shipped orders net zero)."""
    import __spark_entry__ as entry

    out = {
        r["day_ts"]: r["open_orders"]
        for r in entry.queries()["orders_open_backlog"](
            spark, SF_CORRECT
        ).collect()
    }
    orders = load_table(spark, "orders", SF_CORRECT)
    li = load_table(spark, "lineitem", SF_CORRECT)
    spans = (
        orders.join(
            li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("ls")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.unix_timestamp(F.date_trunc("day", "o_orderdate")).alias("s"),
            F.unix_timestamp(F.date_trunc("day", "ls")).alias("e"),
        )
        .collect()
    )
    days = sorted(out)
    for day in days[:: max(1, len(days) // 7)]:
        naive = sum(1 for r in spans if r["s"] <= day < max(r["s"], r["e"]))
        assert out[day] == naive, (day, out[day], naive)


def test_salted_topk_equals_one_level_window(spark, monkeypatch):
    """top_k_per_group_salted is EXACTLY the one-level window top-k,
    including on a pathologically skewed group (one key holding ~90% of
    rows) and across tie-heavy orderings."""
    from pyspark.sql import functions as F

    from streamlit_projet_spark_streaming_spark.operators.relational import (
        TOP_K_PER_GROUP,
        top_k_per_group,
        top_k_per_group_salted,
    )

    rows = [("hot", i, i % 7) for i in range(900)] + [
        ("cold", i, i % 3) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    order = [F.desc("v"), F.asc("id")]
    monkeypatch.setattr(rel, "SALTED_TOP_K", TOP_K_PER_GROUP)
    salted = top_k_per_group_salted(df, ["g"], order, salt_src=F.col("id")).select(
        "g", "id", "v", "rnk"
    )
    plain = top_k_per_group(df, ["g"], order).select("g", "id", "v", "rnk")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_xyz_class_boundaries(spark):
    """xyz_class_col on synthetic (num, den, total) pairs: exercises the
    X and Y branches the sparse fixture never reaches, plus the exact
    boundary semantics (cv2 == 0.25 is Y, == 1 is Z) and zero-demand."""
    from pyspark.sql import functions as F

    from streamlit_projet_spark_streaming_spark.operators.relational import xyz_class_col

    rows = [
        # (num, den, total, expected): cv2 = num/den
        (0, 100, 10, "X"),      # cv2 = 0 -> steady
        (24, 100, 10, "X"),     # just under 0.25
        (25, 100, 10, "Y"),     # exactly 0.25 -> Y (strict <)
        (99, 100, 10, "Y"),     # just under 1
        (100, 100, 10, "Z"),    # exactly 1 -> Z
        (500, 100, 10, "Z"),
        (0, 0, 0, "Z"),         # zero demand, no division
    ]
    df = spark.createDataFrame(
        [(n, d, t, e) for n, d, t, e in rows],
        "num long, den long, total long, expected string",
    )
    got = df.select(
        "expected",
        xyz_class_col(F.col("num"), F.col("den"), F.col("total")).alias("c"),
    ).collect()
    assert all(r.expected == r.c for r in got), got
