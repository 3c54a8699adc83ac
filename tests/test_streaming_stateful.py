"""H8 streaming extension tests: watermarked dedup, session windows, and
the applyInPandasWithState running-totals operator — each checked for
stream/batch parity (SURVEY.md §5.3 strategy applied to §2.H8)."""

import os

import pytest
from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
from streamlit_projet_spark_streaming_spark.sources.shopping import generate_raw_orders
from streamlit_projet_spark_streaming_spark.streaming import consumer as C
from streamlit_projet_spark_streaming_spark.streaming import stateful as S

from .oracle_harness import canonical_rows
from .shopping_fixture import raw_df, write_json_chunks

N_ROWS = 2000


@pytest.fixture(scope="module")
def silver_dir(spark, tmp_path_factory):
    """Silver parquet with deliberate DUPLICATE rows: the fixture chunks are
    written twice (same content, different files), so every logical order
    arrives exactly twice within the watermark delay."""
    base = tmp_path_factory.mktemp("stateful")
    input_dir, silver, ckpt = (
        str(base / "input"),
        str(base / "silver"),
        str(base / "ckpt"),
    )
    os.makedirs(input_dir, exist_ok=True)
    rows = generate_raw_orders(N_ROWS, seed=42)
    paths = write_json_chunks(rows, input_dir, n_chunks=4)
    # second copy under distinct names → byte-exact duplicates in the stream
    import shutil

    for i, p in enumerate(paths):
        shutil.copy(p, os.path.join(input_dir, f"dup_{i:04d}.json"))
    q = C.start_ingest(
        spark, input_dir, silver, ckpt, max_files_per_trigger=3, available_now=True
    )
    q.awaitTermination(120)
    assert not q.isActive
    return silver


def _silver_stream(spark, silver_dir):
    return spark.readStream.schema(C.enrich_schema(spark)).parquet(silver_dir)


def test_dedup_stream_matches_batch(spark, silver_dir):
    """Stream dedup (watermark-bounded state) == batch dropDuplicates over
    the same keys, because every duplicate arrives within the delay."""
    keys = ["customer_id", "processed_time", "item_purchased"]
    deduped = S.dedup_stream(_silver_stream(spark, silver_dir), keys)
    q = (
        deduped.select(*keys)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_out")
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(silver_dir)
    expect = silver.select(*keys).dropDuplicates(keys)
    # sanity: the file-copy really duplicated the stream (the fixture also
    # has a few natural key collisions, so expect < N_ROWS)
    assert silver.count() == 2 * N_ROWS
    assert expect.count() <= N_ROWS
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_session_window_stream_matches_batch(spark, silver_dir):
    """Streaming session windows (complete drain) == the same
    session_window aggregation run as a batch query."""
    agg = S.session_window_stats(_silver_stream(spark, silver_dir), gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions_out")
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(silver_dir)
    expect = S.session_window_stats(silver, gap="30 minutes", watermark=None)
    assert got.count() > 0
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_running_totals_state_matches_batch(spark, silver_dir):
    """applyInPandasWithState running totals: the LAST update emitted per
    customer equals the batch groupBy count+sum over the whole stream."""
    totals = S.customer_running_totals(_silver_stream(spark, silver_dir))
    q = (
        totals.writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per (customer, batch); running totals are
    # monotone in n_orders, so the final state is the max-n row per key
    got = (
        spark.sql("SELECT * FROM totals_out")
        .groupBy("customer_id")
        .agg(
            F.max(F.struct("n_orders", "total_spend")).alias("last")
        )
        .select(
            "customer_id",
            F.col("last.n_orders").alias("n_orders"),
            F.round(F.col("last.total_spend"), 2).alias("total_spend"),
        )
    )
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(silver_dir)
    expect = silver.groupBy("customer_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("final_amount_usd"), 2).alias("total_spend"),
    )
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermark-bounded state) == the same
    time-range join run as a batch query over identical inputs."""
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    ev = load_table(spark, "events", SF_CORRECT).select(
        "event_id", "user_id", "ts", "event_type"
    )
    clicks_dir, buys_dir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    buys = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks.write.parquet(clicks_dir)
    buys.write.parquet(buys_dir)

    cs = spark.readStream.schema(clicks.schema).parquet(clicks_dir)
    bs = spark.readStream.schema(buys.schema).parquet(buys_dir)
    joined = S.interval_join_stream(cs, bs, max_gap="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssj_out")
    expect = S.interval_join_stream(clicks, buys, max_gap="1 hour", watermark=None)
    assert got.count() > 0
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_screen_stream_against_corpus_matches_batch(spark, tmp_path):
    """Stream-static anti join == the batch exact screen over the same
    documents: corpus docs (and their normalized variants) are dropped
    from the stream, novel docs survive."""
    import json

    corpus_rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "one two three four five"),
    ]
    stream_rows = [
        {"doc_id": 10, "text": "ALPHA BETA GAMMA DELTA EPSILON"},  # dup (case)
        {"doc_id": 11, "text": "one two three four five"},          # dup exact
        {"doc_id": 12, "text": "novel content number twelve"},
        {"doc_id": 13, "text": "another novel document thirteen"},
    ]
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    with open(os.path.join(input_dir, "batch0.json"), "w") as f:
        for r in stream_rows:
            f.write(json.dumps(r) + "\n")

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    from streamlit_projet_spark_streaming_spark.operators.text import fingerprints

    corpus_fps = fingerprints(corpus).select(F.col("fingerprint").alias("fp"))

    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(input_dir)
    survivors = S.screen_stream_against_corpus(stream, corpus_fps)
    q = (
        survivors.select("doc_id")
        .writeStream.format("memory")
        .queryName("screen_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(r["doc_id"] for r in spark.sql("select * from screen_out").collect())
    assert got == [12, 13]


def test_quantize_stream_matches_batch(spark, tmp_path):
    """Streaming quantize+PQ against static index parameters produces
    bit-identical codes to the batch path over the same vectors."""
    import json

    from streamlit_projet_spark_streaming_spark.operators import quantize as Q
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    rows = emb.select("vec_id", "embedding").collect()
    input_dir = str(tmp_path / "emb_in")
    os.makedirs(input_dir)
    with open(os.path.join(input_dir, "batch0.json"), "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {"vec_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}
                )
                + "\n"
            )

    _, _, codebook, stats = Q._codes_and_codebook(emb, n_centroids=16, levels=256)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(
        input_dir
    )
    out = S.quantize_embedding_stream(stream, stats, codebook)
    q = (
        out.writeStream.format("memory")
        .queryName("quant_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM quant_stream_out")
    expect = Q.pq_codes(emb)
    assert got.count() == len(rows)
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_assign_cluster_stream_matches_batch(spark, tmp_path):
    """Streaming grid-kmeans assignment against the frozen trained
    codebook is bit-identical to the batch assignment over the same
    vectors (the online routing half of a streaming ANN/SemDeDup
    ingest)."""
    import json

    from streamlit_projet_spark_streaming_spark.operators import similarity as sim
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    rows = emb.select("vec_id", "embedding").collect()
    input_dir = str(tmp_path / "emb_in_km")
    os.makedirs(input_dir)
    # two chunks -> two micro-batches
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(os.path.join(input_dir, f"batch{i}.json"), "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "vec_id": r["vec_id"],
                            "embedding": [float(x) for x in r["embedding"]],
                        }
                    )
                    + "\n"
                )

    assigned, cent_rows = sim.grid_kmeans(emb, n_clusters=8, n_iter=2)
    cb_row = sim.kmeans_codebook_row(cent_rows)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(
        input_dir
    )
    out = S.assign_cluster_stream(stream, cb_row)
    q = (
        out.select("vec_id", "centroid_id")
        .writeStream.format("memory")
        .queryName("km_assign_out")
        .outputMode("append")
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.sql("SELECT * FROM km_assign_out").collect()
    }
    expect = {
        r["vec_id"]: r["centroid_id"]
        for r in assigned.select("vec_id", "centroid_id").collect()
    }
    assert got == expect
    assert len(set(got.values())) > 1, "fixture should use several clusters"


def _write_events_json_utc(spark, ev, input_dir: str) -> None:
    """Serialize events to JSON via Spark's date_format (UTC session tz)
    — collect()-based serialization would shift timestamps into the
    HOST timezone and break hour/minute buckets on non-UTC machines."""
    ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
    ).coalesce(1).write.json(input_dir)


def test_streaming_hourly_anomaly_matches_batch(spark, tmp_path):
    """Anomaly flags computed from a STREAM-maintained hourly snapshot
    (windowed complete-mode aggregation) equal the batch operator over
    the same events — the alerting block runs unchanged on live gold."""
    import json

    from streamlit_projet_spark_streaming_spark.operators import relational as rel
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    input_dir = str(tmp_path / "ev_in")
    _write_events_json_utc(spark, ev, input_dir)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .json(input_dir)
    )
    hourly_stream = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_ts"), "n_events"
        )
    )
    gold = str(tmp_path / "hourly_gold")

    def _emit(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(gold)

    q = (
        hourly_stream.writeStream.foreachBatch(_emit)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = rel.anomaly_from_hourly(spark.read.parquet(gold))
    expect = rel.hourly_anomaly_flags(ev)
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_streaming_burst_flags_match_batch(spark, tmp_path):
    """Burst flags from a stream-maintained per-minute count table equal
    the batch operator — the bot filter runs unchanged on live gold."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    input_dir = str(tmp_path / "burst_in")
    _write_events_json_utc(spark, ev, input_dir)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .json(input_dir)
    )
    per_min_stream = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.col("user_id").alias("u"),
            F.window("ts", "1 minute"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("u", F.unix_timestamp(F.col("window.start")).alias("m"), "cnt")
    )
    gold = str(tmp_path / "minute_gold")

    def _emit(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(gold)

    q = (
        per_min_stream.writeStream.foreachBatch(_emit)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "burst_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = rel.burst_from_minute_counts(spark.read.parquet(gold))
    expect = rel.burst_user_flags(ev)
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_heavy_hitters_stream_guarantee(spark, tmp_path):
    """Streaming Misra-Gries: after the stream drains, the final summary
    per shard (max-n_seen rows) satisfies the MG bound against exact
    batch counts — est <= true, and every key with true count above its
    shard's N_shard/(k+1) threshold survives with est >= true - thresh.
    Multiple micro-batches (maxFilesPerTrigger=1 over chunked parquet)
    exercise the carry-fold-prune path, not just one batch."""
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    K, SHARDS = 20, 4
    ev = load_table(spark, "events", SF_CORRECT).select("user_id")
    src = str(tmp_path / "ev_src")
    ev.repartition(5).write.parquet(src)  # 5 files -> 5 micro-batches

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = S.heavy_hitters_stream(stream, "user_id", k=K, n_shards=SHARDS)
    q = (
        out.writeStream.format("memory")
        .queryName("mg_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    rows = spark.sql(
        """
        SELECT shard, key, est FROM (
          SELECT *, MAX(n_seen) OVER (PARTITION BY shard) AS mx
          FROM mg_out
        ) WHERE n_seen = mx
        """
    ).collect()
    got = {(r["shard"], r["key"]): r["est"] for r in rows}

    exact = {
        (r["user_id"] % SHARDS, r["user_id"]): r["c"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    shard_n = {}
    for (sh, _), c in exact.items():
        shard_n[sh] = shard_n.get(sh, 0) + c
    for sk, est in got.items():
        assert est <= exact[sk], (sk, est, exact[sk])
    for (sh, kk), true in exact.items():
        thresh = shard_n[sh] / (K + 1)
        if true > thresh:
            assert (sh, kk) in got, f"hitter {kk} (count {true}) dropped from shard {sh}"
            assert got[(sh, kk)] >= true - thresh - 1e-9


def test_ewma_stream_matches_batch(spark, tmp_path):
    """Streaming EWMA (deque state per type) is bit-identical to the
    batch events_ewma_hourly entry over the same hourly series. The
    series splits into 3 time-ordered micro-batches (mtime-ordered
    files + maxFilesPerTrigger=1) so the state carry across batches is
    exercised, not just the in-batch fold."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE
    from .oracle_harness import canonical_rows

    ev = load_table(spark, "events", SF_SMOKE)
    hourly = (
        ev.groupBy(
            F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
        .select("event_type", F.unix_millis("h").alias("hour_ms"), "cents")
        .orderBy("hour_ms")
    )
    pdf = hourly.toPandas()
    src = str(tmp_path / "hourly_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    for i in range(3):
        chunk = pdf.iloc[cut[i] : cut[i + 1]]
        path = _os.path.join(src, f"chunk_{i}.parquet")
        chunk.to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema("event_type string, hour_ms long, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = S.ewma_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = spark.sql("SELECT * FROM ewma_out")
    expect = REGISTRY["events_ewma_hourly"].builder(spark, SF_SMOKE)
    assert got.count() == expect.count()
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_trending_stream_matches_simulation(spark, tmp_path):
    """Decayed trending top-k: the final per-shard state equals a
    pure-Python replay of the halve-then-add fold over the same
    micro-batch sequence (mtime-ordered files, one file per batch)."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    K, SHARDS = 5, 2
    ev = load_table(spark, "events", SF_SMOKE).select("user_id").orderBy(
        "user_id"
    )
    pdf = ev.toPandas()
    src = str(tmp_path / "trend_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    batches = []
    for i in range(3):
        chunk = pdf.iloc[cut[i] : cut[i + 1]]
        batches.append([int(x) for x in chunk["user_id"]])
        path = _os.path.join(src, f"b{i}.parquet")
        chunk.to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = S.trending_stream(stream, "user_id", k=K, n_shards=SHARDS)
    q = (
        out.writeStream.format("memory")
        .queryName("trend_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        """
        SELECT shard, key, score FROM (
          SELECT *, MAX(n_batches) OVER (PARTITION BY shard) AS mx
          FROM trend_out
        ) WHERE n_batches = mx
        """
    ).collect()
    got = {(r["shard"], r["key"]): r["score"] for r in rows}

    # pure-Python replay
    state = {sh: {} for sh in range(SHARDS)}
    for batch in batches:
        counts = {sh: {} for sh in range(SHARDS)}
        for u in batch:
            sh = u % SHARDS
            counts[sh][u] = counts[sh].get(u, 0) + 1
        for sh in range(SHARDS):
            tracked = {kk: s // 2 for kk, s in state[sh].items()}
            for kk, c in counts[sh].items():
                tracked[kk] = tracked.get(kk, 0) + c
            survivors = sorted(
                ((kk, s) for kk, s in tracked.items() if s > 0),
                key=lambda t: (-t[1], t[0]),
            )[:K]
            state[sh] = dict(survivors)
    expect = {
        (sh, kk): s for sh, d in state.items() for kk, s in d.items()
    }
    assert got == expect


def test_hll_stream_matches_batch(spark, tmp_path):
    """Streaming HLL (registers as keyed state) over 3 micro-batches:
    the FINAL per-type (s_scaled, v_zero) register fold is bit-identical
    to the batch users_hll_estimate entry over the same rows, and the
    running estimates match the batch operator run over each prefix."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.operators.sketch import (
        hll_distinct_estimate,
    )
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    ev = (
        load_table(spark, "events", SF_SMOKE)
        .select("event_type", "user_id", F.unix_millis("ts").alias("ts_ms"))
        .orderBy("ts_ms")
    )
    pdf = ev.toPandas()
    src = str(tmp_path / "hll_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    for i in range(3):
        chunk = pdf.iloc[cut[i] : cut[i + 1]]
        path = _os.path.join(src, f"chunk_{i}.parquet")
        chunk.to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema("event_type string, user_id long, ts_ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        S.hll_stream(stream)
        .writeStream.format("memory")
        .queryName("hll_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = spark.sql("SELECT * FROM hll_out").toPandas()
    # one emitted row per (type, micro-batch that contained the type)
    assert (got.groupby("event_type").size() <= 3).all()

    # final state vs the batch operator over ALL rows — exact integers
    final = got.sort_values("n_seen").groupby("event_type").last()
    batch = {
        r["grp"]: r
        for r in hll_distinct_estimate(
            load_table(spark, "events", SF_SMOKE),
            F.col("user_id"),
            F.col("event_type"),
        ).collect()
    }
    assert set(final.index) == set(batch)
    for et, row in final.iterrows():
        b = batch[et]
        assert int(row["s_scaled"]) == b["s_scaled"], et
        assert int(row["v_zero"]) == b["v_zero"], et
        assert abs(row["est_distinct"] - b["est_distinct"]) < 1e-9, et

    # prefix parity: after micro-batch 1 the state equals the batch
    # operator over the first third of the rows
    prefix = spark.createDataFrame(pdf.iloc[: cut[1]])
    pb = {
        r["grp"]: r
        for r in hll_distinct_estimate(
            prefix, F.col("user_id"), F.col("event_type")
        ).collect()
    }
    first = got.sort_values("n_seen").groupby("event_type").first()
    for et, row in first.iterrows():
        if et in pb and int(row["n_seen"]) == int(
            (pdf.iloc[: cut[1]]["event_type"] == et).sum()
        ):
            assert int(row["s_scaled"]) == pb[et]["s_scaled"], et


def test_scd2_stream_matches_batch_closed_intervals(spark, tmp_path):
    """Streaming SCD2 (CDC shape: closed intervals emitted on change,
    open interval in state) over 3 time-ordered micro-batches emits
    exactly the batch entry's closed intervals."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE
    from .oracle_harness import canonical_rows

    ev = (
        load_table(spark, "events", SF_SMOKE)
        .select(
            "user_id",
            "event_type",
            F.unix_millis("ts").alias("ts_ms"),
            "event_id",
        )
        .orderBy("ts_ms", "event_id")
    )
    pdf = ev.toPandas()
    src = str(tmp_path / "scd2_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    for i in range(3):
        path = _os.path.join(src, f"chunk_{i}.parquet")
        pdf.iloc[cut[i] : cut[i + 1]].to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_ms long, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        S.scd2_stream(stream)
        .writeStream.format("memory")
        .queryName("scd2_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = spark.sql("SELECT * FROM scd2_out")
    expect = REGISTRY["user_scd2_intervals"].builder(spark, SF_SMOKE).filter(
        F.col("valid_to_ms").isNotNull()
    )
    assert got.count() == expect.count()
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_scd2_stream_null_event_type_matches_batch(spark, tmp_path):
    """NULL event_type three-valued-logic parity: a null extends the
    run, the row after a null opens a new version — exactly the batch
    lag predicate."""
    import os as _os

    from streamlit_projet_spark_streaming_spark.operators import relational  # noqa: F401
    from .oracle_harness import canonical_rows

    rows = [
        # user 1: a, NULL, a  -> runs [a+NULL](closed), [a](open)
        (1, "a", 1000, 1),
        (1, None, 2000, 2),
        (1, "a", 3000, 3),
        # user 2: NULL, b     -> runs [NULL](closed), [b](open)
        (2, None, 1000, 4),
        (2, "b", 2000, 5),
        # user 3: b, b, c     -> runs [b,b](closed), [c](open)
        (3, "b", 1000, 6),
        (3, "b", 2000, 7),
        (3, "c", 3000, 8),
    ]
    pdf = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_ms long, event_id long"
    ).toPandas()
    src = str(tmp_path / "scd2_null_src")
    _os.makedirs(src)
    pdf.to_parquet(_os.path.join(src, "all.parquet"))

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_ms long, event_id long"
        )
        .parquet(src)
    )
    q = (
        S.scd2_stream(stream)
        .writeStream.format("memory")
        .queryName("scd2_null_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["version"]): (
            r["event_type"],
            r["valid_from_ms"],
            r["valid_to_ms"],
            r["n_events"],
        )
        for r in spark.sql("SELECT * FROM scd2_null_out").collect()
    }
    assert got == {
        (1, 1): ("a", 1000, 3000, 2),
        (2, 1): (None, 1000, 2000, 1),
        (3, 1): ("b", 1000, 3000, 2),
    }


def test_funnel_stream_matches_batch(spark, tmp_path):
    """Streaming funnel levels (running-maxima state) equal the batch
    windowFunnel entry's per-user levels after a 3-micro-batch replay."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    ev = (
        load_table(spark, "events", SF_SMOKE)
        .select(
            "user_id", "event_type",
            F.unix_millis("ts").alias("ts_ms"), "event_id",
        )
        .orderBy("ts_ms", "event_id")
    )
    pdf = ev.toPandas()
    src = str(tmp_path / "funnel_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    for i in range(3):
        path = _os.path.join(src, f"chunk_{i}.parquet")
        pdf.iloc[cut[i] : cut[i + 1]].to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_ms long, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        S.funnel_stream(stream)
        .writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("SELECT * FROM funnel_out")
        .toPandas()
        .groupby("user_id")["level"]
        .max()  # level is monotone across batches; max = final
    )
    # batch per-user levels: re-derive from the registry entry's level
    # counts is aggregate-only, so recompute per-user flags directly
    from pyspark.sql import Window as _W

    w = _W.partitionBy("user_id").orderBy("ts_ms", "event_id").rowsBetween(
        _W.unboundedPreceding, -1
    )
    base = spark.createDataFrame(pdf)
    lvd = base.withColumn(
        "lv",
        F.max(F.when(F.col("event_type") == "view", F.col("ts_ms"))).over(w),
    )
    md = lvd.withColumn(
        "m",
        F.max(F.when(F.col("event_type") == "click", F.col("lv"))).over(w),
    )
    wm = 86400000
    per_user = (
        md.groupBy("user_id")
        .agg(
            (
                F.max((F.col("event_type") == "view").cast("int"))
                + F.max(
                    (
                        (F.col("event_type") == "click")
                        & F.col("lv").isNotNull()
                        & (F.col("ts_ms") - F.col("lv") <= wm)
                    ).cast("int")
                )
                + F.max(
                    (
                        (F.col("event_type") == "purchase")
                        & F.col("m").isNotNull()
                        & (F.col("ts_ms") - F.col("m") <= wm)
                    ).cast("int")
                )
            ).alias("level")
        )
        .collect()
    )
    expect = {r["user_id"]: r["level"] for r in per_user}
    assert dict(got) == expect


def test_near_dup_screen_stream_matches_batch(spark, tmp_path):
    """Streaming SimHash near-dup screen (foreachBatch) keeps exactly
    the docs the batch banded screen keeps: corpus = first 100 fixture
    docs; stream = 60 docs where half are verbatim corpus duplicates."""
    import os as _os

    from streamlit_projet_spark_streaming_spark.operators.dedup import (
        hamming_band_chunks,
        simhash_signatures,
    )
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    corpus_sigs = simhash_signatures(corpus)

    dups = (
        corpus.filter(F.col("doc_id") < 30)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    fresh = docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 230)
    )
    stream_docs = dups.unionByName(fresh).toPandas()

    src = str(tmp_path / "nd_src")
    _os.makedirs(src)
    stream_docs.to_parquet(_os.path.join(src, "batch.parquet"))
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = S.start_near_dup_screen(stream, corpus_sigs, out, ckpt)
    q.awaitTermination(120)

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # batch equivalent
    b_sigs = simhash_signatures(spark.createDataFrame(stream_docs))
    bc = b_sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*hamming_band_chunks("simhash", 60, 6))).alias("ch"),
    ).select("doc_id", "simhash", "ch.ci", "ch.cv")
    cc = corpus_sigs.select(
        F.col("doc_id").alias("c_id"), F.col("simhash").alias("c_sig")
    ).select(
        "c_id", "c_sig",
        F.explode(F.array(*hamming_band_chunks("c_sig", 60, 6))).alias("ch"),
    ).select("c_id", "c_sig", "ch.ci", "ch.cv")
    hits = (
        bc.join(cc, ["ci", "cv"])
        .filter(F.bit_count(F.col("simhash").bitwiseXOR(F.col("c_sig"))) <= 6)
        .select("doc_id").distinct()
    )
    expect = {
        r["doc_id"]
        for r in spark.createDataFrame(stream_docs)
        .join(hits, "doc_id", "left_anti")
        .collect()
    }
    assert kept == expect
    # the 30 verbatim duplicates are all screened out
    assert all(d >= 200 for d in kept)


def test_checksum_stream_matches_batch(spark, tmp_path):
    """Streaming per-day checksums (commutative SUM/XOR md5 lanes as
    keyed state) over 3 micro-batches: the FINAL per-day rows are
    bit-identical — all four hash lanes — to the batch
    events_partition_checksums entry over the same rows."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    ev = (
        load_table(spark, "events", SF_SMOKE)
        .select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            "props",
        )
        .orderBy("ts_ms")
    )
    pdf = ev.toPandas()
    src = str(tmp_path / "ck_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    for i in range(3):
        path = _os.path.join(src, f"chunk_{i}.parquet")
        pdf.iloc[cut[i] : cut[i + 1]].to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts_ms long, user_id long, "
            "event_type string, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        S.checksum_stream(stream)
        .writeStream.format("memory")
        .queryName("ck_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = spark.sql("SELECT * FROM ck_out").toPandas()
    final = (
        got.sort_values("n_rows").groupby("day_id").last().reset_index()
    )
    batch = {
        r["day_id"]: r
        for r in REGISTRY["events_partition_checksums"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    assert set(final.day_id) == set(batch)
    for row in final.itertuples(index=False):
        b = batch[row.day_id]
        assert (
            row.n_rows,
            row.sum_h1,
            row.sum_h2,
            row.xor_h1,
            row.xor_h2,
        ) == (
            b["n_rows"],
            b["sum_h1"],
            b["sum_h2"],
            b["xor_h1"],
            b["xor_h2"],
        ), f"day {row.day_id} diverged from the batch checksum"


def test_debounce_stream_matches_batch(spark, tmp_path):
    """Streaming debounce (one-integer TTL state per fine key) over 3
    in-order micro-batches: per-type kept/total counts equal the batch
    events_idempotent_dedup entry over the same rows."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    ev = (
        load_table(spark, "events", SF_SMOKE)
        .filter(F.col("user_id") % 7 == 0)
        .select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            "props",
        )
        .orderBy("ts_ms", "event_id")
    )
    pdf = ev.toPandas()
    src = str(tmp_path / "db_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    for i in range(3):
        path = _os.path.join(src, f"chunk_{i}.parquet")
        pdf.iloc[cut[i] : cut[i + 1]].to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts_ms long, user_id long, "
            "event_type string, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        S.debounce_stream(stream)
        .writeStream.format("memory")
        .queryName("db_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    got = (
        spark.sql(
            "SELECT event_type, SUM(n_events) AS n_events, "
            "SUM(n_kept) AS n_kept FROM db_out GROUP BY 1"
        )
        .collect()
    )
    # inline batch twin over the same subset: the registry entry's exact
    # lag-window predicate (its builder is fixed to the full table)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type", "props").orderBy(
        "ts_ms", "event_id"
    )
    prev = F.lag("ts_ms").over(w)
    keep = (prev.isNull() | (F.col("ts_ms") - prev > 600000)).cast("long")
    batch = {
        r["event_type"]: r
        for r in ev.withColumn("keep", keep)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("keep").alias("n_kept"),
        )
        .collect()
    }
    assert {r["event_type"] for r in got} == set(batch)
    for r in got:
        b = batch[r["event_type"]]
        assert (r["n_events"], r["n_kept"]) == (
            b["n_events"],
            b["n_kept"],
        ), f"type {r['event_type']} diverged from batch debounce"


def test_debounce_stream_ttl_eviction(spark, tmp_path):
    """Drive the event-time-timeout path: key A goes idle, a later
    chunk advances the watermark past A's TTL (firing its timer and
    the state-removal branch), then A re-appears and is correctly
    counted as a new burst head — the same decision batch makes for a
    gap > ttl."""
    import os as _os
    import time as _time

    import pandas as pd

    src = str(tmp_path / "ttl_src")
    _os.makedirs(src)
    hour = 3_600_000
    t0 = 1_700_000_000_000  # realistic epoch; ts=0 would sit ON the
    # initial watermark and get late-filtered
    chunks = [
        # A's burst: head + re-delivery inside the gap
        pd.DataFrame(
            {
                "event_id": [1, 2],
                "ts_ms": [t0, t0 + 1_000],
                "user_id": [1, 1],
                "event_type": ["a", "a"],
                "props": ["x", "x"],
            }
        ),
        # B far in the future: watermark jumps toward A's ttl timer
        pd.DataFrame(
            {
                "event_id": [3],
                "ts_ms": [t0 + 10 * hour],
                "user_id": [2],
                "event_type": ["b"],
                "props": ["y"],
            }
        ),
        # B again, further out: THIS A-less trigger carries a watermark
        # past A's timer (t0+1s+ttl), so A's hasTimedOut/state.remove
        # branch actually executes here
        pd.DataFrame(
            {
                "event_id": [4],
                "ts_ms": [t0 + 20 * hour],
                "user_id": [2],
                "event_type": ["b"],
                "props": ["y"],
            }
        ),
        # A re-appears after the idle period (state already evicted)
        pd.DataFrame(
            {
                "event_id": [5],
                "ts_ms": [t0 + 20 * hour + 1_000],
                "user_id": [1],
                "event_type": ["a"],
                "props": ["x"],
            }
        ),
    ]
    now = _time.time()
    for i, c in enumerate(chunks):
        path = _os.path.join(src, f"c{i}.parquet")
        c.to_parquet(path)
        _os.utime(path, (now + i, now + i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts_ms long, user_id long, "
            "event_type string, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        S.debounce_stream(stream)
        .writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None

    rows = spark.sql(
        "SELECT user_id, SUM(n_events) AS e, SUM(n_kept) AS k "
        "FROM ttl_out GROUP BY 1"
    ).collect()
    got = {r["user_id"]: (r["e"], r["k"]) for r in rows}
    # A: 3 events, kept = head + post-idle head (re-delivery debounced);
    # B: two events 10h apart, both kept
    assert got[1] == (3, 2)
    assert got[2] == (2, 2)


def test_interval_join_stream_left_outer_matches_batch(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: matched pairs emit
    promptly; each unmatched left row emits with NULL right columns
    once the combined watermark proves it unmatchable. Two future
    sentinel chunks on BOTH streams push the combined watermark past
    every real row (null emission happens in the batch AFTER the one
    whose data advanced the watermark), so the streamed result equals
    the batch left-outer join over the real rows exactly."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT
    from .oracle_harness import canonical_rows

    ev = load_table(spark, "events", SF_CORRECT).select(
        "event_id", "user_id", F.unix_millis("ts").alias("ts_ms"), "event_type"
    )
    clicks_ms = ev.filter(F.col("event_type") == "click").drop("event_type")
    buys_ms = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = clicks_ms.withColumn("ts", F.timestamp_millis("ts_ms")).drop("ts_ms")
    buys = buys_ms.withColumn("ts", F.timestamp_millis("ts_ms")).drop("ts_ms")
    max_ts = ev.agg(F.max("ts_ms")).collect()[0][0]

    now = _time.time()
    dirs = {}
    for name, df in (("clicks", clicks_ms), ("buys", buys_ms)):
        d = str(tmp_path / name)
        _os.makedirs(d)
        pdf = df.toPandas()
        pdf.to_parquet(_os.path.join(d, "chunk_0.parquet"))
        _os.utime(_os.path.join(d, "chunk_0.parquet"), (now, now))
        # sentinel rows (user -1, matches nothing) far in the future,
        # one per later chunk, to drag the watermark past all real rows
        for i, hours in ((1, 100), (2, 200)):
            sent = pdf.iloc[:1].copy()
            sent["event_id"] = -(10 + i)
            sent["user_id"] = -1
            sent["ts_ms"] = max_ts + hours * 3600 * 1000
            p = _os.path.join(d, f"chunk_{i}.parquet")
            sent.to_parquet(p)
            _os.utime(p, (now + i, now + i))
        dirs[name] = d

    def _stream(d):
        return (
            spark.readStream.schema("event_id long, user_id long, ts_ms long")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withColumn("ts", F.timestamp_millis("ts_ms"))
            .drop("ts_ms")
        )

    cs = _stream(dirs["clicks"])
    bs = _stream(dirs["buys"])
    joined = S.interval_join_stream(cs, bs, max_gap="1 hour", how="leftOuter")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssj_outer_out").filter(
        F.col("user_id") >= 0
    )
    expect = S.interval_join_stream(
        clicks, buys, max_gap="1 hour", watermark=None, how="leftOuter"
    )
    n_unmatched = expect.filter(F.col("right_id").isNull()).count()
    assert n_unmatched > 0, "fixture must contain unmatched clicks"
    assert got.filter(F.col("right_id").isNull()).count() == n_unmatched
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_psi_monitor_stream_matches_batch(spark, tmp_path):
    """Streaming PSI drift monitor: each micro-batch's (n_rows, psi) row
    equals the batch psi_against_reference score of the same chunk —
    parity is structural (foreachBatch reuses the batch operator), this
    pins the orchestration (chunking, epoch ids, append sink)."""
    import os as _os
    import time as _time

    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    ev = load_table(spark, "events", SF_SMOKE).select("event_id", "value")
    pdf = ev.orderBy("event_id").toPandas()
    src = str(tmp_path / "psi_src")
    _os.makedirs(src)
    cut = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    now = _time.time()
    chunks = []
    for i in range(3):
        part = pdf.iloc[cut[i] : cut[i + 1]]
        chunks.append(part)
        path = _os.path.join(src, f"chunk_{i}.parquet")
        part.to_parquet(path)
        _os.utime(path, (now + i, now + i))

    ref = S.psi_value_buckets(ev).localCheckpoint(eager=False)
    out_dir = str(tmp_path / "psi_out")
    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = S.start_psi_monitor(
        stream, ref, out_dir, str(tmp_path / "psi_ckpt")
    )
    q.awaitTermination(120)

    got = sorted(
        (r.n_rows, r.psi) for r in spark.read.parquet(out_dir).collect()
    )
    assert len(got) == 3
    expect = sorted(
        tuple(
            S.psi_against_reference(spark.createDataFrame(part), ref)
            .collect()[0]
        )
        for part in chunks
    )
    assert got == expect
    # the full fixture against itself is (near-)zero drift; a chunk is not
    full = S.psi_against_reference(ev, ref).collect()[0]
    assert abs(full.psi) <= 1e-5
