"""H8 streaming extension operators (SURVEY.md §2.H8 — absent from the
reference, provided as first-class engine capabilities): watermarked
stream deduplication, session windows, and arbitrary stateful
aggregation via ``applyInPandasWithState``.

Scale stance: every operator here keeps bounded state —
- dedup state is purged past the watermark (keys older than the delay
  are dropped from the state store);
- session windows close (and release state) once the watermark passes
  the session gap;
- the custom stateful operator keys state by customer and stores two
  scalars per key, so state size is O(|active keys|), never O(|rows|).
All state lives in the executor-local state store, partitioned by the
grouping key — the standard Structured Streaming scale-out model.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "processed_time",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with bounded state
    (``dropDuplicatesWithinWatermark``): a duplicate arriving within
    ``delay`` of the first occurrence is dropped; state for keys older
    than the watermark is purged, so state size is bounded by the key
    arrival rate × delay (not by stream length — the batch
    ``dropDuplicates`` equivalent would keep every key forever)."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def session_window_stats(
    stream: DataFrame,
    key: str = "customer_id",
    ts_col: str = "processed_time",
    gap: str = "30 minutes",
    amount_col: str = "final_amount_usd",
    watermark: str | None = "1 hour",
    count_alias: str = "n_orders",
    sum_alias: str = "session_spend",
) -> DataFrame:
    """Per-key session windows (gap-based, ``F.session_window``): consecutive
    events closer than ``gap`` merge into one session; output one row per
    (key, session) with count + spend.

    Works identically on batch DataFrames (session_window is a batch
    function too), which is what the parity test exploits. ``watermark=None``
    skips the watermark for batch use."""
    src = stream.withWatermark(ts_col, watermark) if watermark else stream
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key)
        )
        .agg(
            F.count(F.lit(1)).alias(count_alias),
            F.round(F.sum(amount_col), 4).alias(sum_alias),
        )
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            count_alias,
            sum_alias,
        )
    )


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("customer_id", StringType(), False),
        StructField("n_orders", LongType(), False),
        StructField("total_spend", DoubleType(), False),
    ]
)

_RUNNING_STATE_SCHEMA = StructType(
    [StructField("n", LongType(), False), StructField("s", DoubleType(), False)]
)


def customer_running_totals(silver_stream: DataFrame) -> DataFrame:
    """Arbitrary stateful operator [H8]: per-customer running order count +
    spend via ``applyInPandasWithState`` — the template for custom
    streaming operators Spark lacks natively (running CLV, fraud
    counters, per-entity rate limits).

    Emits the updated running totals for every customer seen in each
    micro-batch (output mode "update"). State is two scalars per
    customer, partitioned by key across executors; NoTimeout because the
    running total is a lifetime aggregate by definition — swap in
    ProcessingTimeTimeout to expire idle keys when the key universe is
    unbounded."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,  # Iterator[pd.DataFrame]
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["final_amount_usd"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"customer_id": [key[0]], "n_orders": [n], "total_spend": [s]}
        )

    return silver_stream.groupBy("customer_id").applyInPandasWithState(
        _update,
        RUNNING_TOTALS_SCHEMA,
        _RUNNING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    left_id: str = "event_id",
    right_id: str = "event_id",
    max_gap: str = "1 hour",
    watermark: str | None = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval (time-range) join [H8]: pair each left event
    with right events of the same key whose timestamp falls in
    [left_ts, left_ts + max_gap] — e.g. purchases within an hour of a
    click.

    Structured Streaming buffers both sides in keyed state; the time-range
    condition plus the two watermarks BOUND that state (rows older than
    watermark + gap are provably unmatchable and get purged) — without
    them a stream-stream join would buffer forever. ``watermark=None``
    yields the identical batch join (the parity test's oracle).

    ``how="leftOuter"`` additionally emits each unmatched left row with
    NULL right columns — but only once the COMBINED watermark (the min
    of both sides') has passed ``left_ts + max_gap``, i.e. once the row
    is provably unmatchable; matched rows still emit promptly. Left
    rows near the end of a bounded run therefore stay in state and
    never produce their null row unless something later advances both
    watermarks past them (the parity test appends future sentinel
    chunks to both streams for exactly this).
    """
    l, r = left.alias("l"), right.alias("r")
    if watermark is not None:
        l = left.withWatermark(left_ts, watermark).alias("l")
        r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond, how).select(
        F.col(f"l.{on}").alias(on),
        F.col(f"l.{left_id}").alias("left_id"),
        F.col(f"l.{left_ts}").alias("left_ts"),
        F.col(f"r.{right_id}").alias("right_id"),
        F.col(f"r.{right_ts}").alias("right_ts"),
    )


def screen_stream_against_corpus(
    doc_stream: DataFrame, corpus_fps: DataFrame
) -> DataFrame:
    """Stream-STATIC anti join: drop streaming documents whose normalized-
    text fingerprint already exists in a static corpus index — the
    streaming twin of ``operators.dedup.incremental_dedup``'s exact layer
    (each arriving crawl shard is screened against everything already
    ingested, without stopping the stream).

    ``corpus_fps`` is a static DataFrame carrying an ``fp`` column (md5 of
    normalized text — build it with ``operators.text.fingerprints`` or
    reuse the persisted dedup index). Stream-static joins are STATELESS:
    the static side is joined fresh per micro-batch (Spark re-plans it
    each trigger, so an updated index parquet is picked up on the next
    batch), and no streaming state accumulates — unlike stream-stream
    joins there is no watermark requirement. At scale the static side is
    a bucketed fingerprint table; the per-batch join is
    batch-sized ⋈ index, exactly the incremental-dedup shape.
    """
    from ..operators.dedup import _norm

    fp = F.md5(_norm(F.col("text")))
    return doc_stream.withColumn("fp", fp).join(
        corpus_fps.select("fp").distinct(), "fp", "left_anti"
    )


def quantize_embedding_stream(
    emb_stream: DataFrame,
    stats_row: DataFrame,
    codebook_row: DataFrame | None = None,
    n_sub: int = 8,
    levels: int = 256,
) -> DataFrame:
    """Streaming twin of the embedding-compression path: quantize arriving
    vectors against a STATIC corpus codebook — the online half of an ANN
    index (new vectors are coded with the frozen index parameters; the
    index itself retrains offline).

    ``stats_row`` (one row: ``mins``/``maxs``) and optionally
    ``codebook_row`` (one row: the PQ codebook) come from the batch side
    (``operators.quantize._stats_row`` / ``pq_codes``'s front half, or a
    persisted parameters table). The stream-static equi-join on a
    constant key is STATELESS and re-planned per micro-batch, so a
    refreshed parameters parquet is picked up on the next trigger — same
    semantics as ``screen_stream_against_corpus``. The Arrow
    ``mapInPandas`` stages are stateless row transforms, fully supported
    inside Structured Streaming; batch/stream outputs are identical
    bit-for-bit (pytest parity).

    Returns codes (``QUANT_SCHEMA``) when no codebook is given, else PQ
    codes (``PQ_SCHEMA``).
    """
    from ..operators.quantize import (
        PQ_SCHEMA,
        QUANT_SCHEMA,
        _pq_mapper,
        _quantize_mapper,
    )

    s = stats_row.select(F.lit(1).alias("_one"), "mins", "maxs")
    codes = (
        emb_stream.select(F.lit(1).alias("_one"), "vec_id", "embedding")
        .join(s, "_one")
        .mapInPandas(_quantize_mapper(levels), QUANT_SCHEMA)
    )
    if codebook_row is None:
        return codes
    cb = codebook_row.select(F.lit(1).alias("_one"), "codebook")
    return (
        codes.withColumn("_one", F.lit(1))
        .join(cb, "_one")
        .mapInPandas(_pq_mapper(n_sub), PQ_SCHEMA)
    )


def assign_cluster_stream(
    emb_stream: DataFrame, codebook_row: DataFrame
) -> DataFrame:
    """Streaming twin of ``similarity.grid_kmeans``'s assignment pass:
    arriving vectors are assigned to the STATIC trained integer-grid
    centroids — online inference against a frozen coarse quantizer (the
    routing step of a streaming ANN/SemDeDup ingest; the quantizer
    itself retrains offline, exactly like ``quantize_embedding_stream``'s
    frozen stats/codebook).

    ``codebook_row`` is one row (``cb``: array over j of the integer-unit
    centroid vector as doubles) from the batch trainer — see
    ``similarity.kmeans_codebook_row``. NOTE: that handoff row is
    localCheckpoint-pinned by construction, so THIS codebook is frozen
    for the life of the query — deliberate for reproducible routing.
    To pick up offline retrains without a restart, pass a codebook_row
    read from a parameters parquet instead (an un-pinned stream-static
    join on the constant key is re-planned per trigger, the
    ``screen_stream_against_corpus`` semantics). The Arrow map stage is
    a stateless row transform, so batch/stream assignments are
    identical bit-for-bit (pytest parity).
    """
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.similarity import _gk_assign_mapper

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("centroid_id", IntegerType()),
        ]
    )
    cb = codebook_row.select(F.lit(1).alias("_one"), "cb")
    return (
        emb_stream.select(F.lit(1).alias("_one"), "vec_id", "embedding")
        .join(cb, "_one")
        .mapInPandas(_gk_assign_mapper(), schema)
    )


#: Output of the streaming IVF cell-maintenance report.
IVF_CELL_SCHEMA = StructType(
    [
        StructField("centroid_id", IntegerType()),
        StructField("n_assigned", LongType()),
        StructField("drift_d2", LongType()),
    ]
)

#: State per cell: running vector count + per-dim integer-unit sums.
_IVF_CELL_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("sums", ArrayType(LongType())),
    ]
)


def ivf_cell_stats_stream(
    emb_stream: DataFrame, codebook_row: DataFrame
) -> DataFrame:
    """Streaming IVF index maintenance: per-cell running occupancy +
    centroid drift as vectors arrive — the online half of
    ``similarity.ivf_cell_stats`` (r8 verdict item 7 roadmap:
    "incremental IVF cell reassignment under drift", built on the
    ``assign_cluster_stream``/``quantize_embedding_stream`` frozen-
    parameters pattern).

    Per micro-batch: arriving vectors route to their nearest frozen
    grid centroid inside the SAME ≤k-partials-per-Arrow-batch map stage
    the batch Lloyd update uses (never a data-sized shuffle), then
    ``applyInPandasWithState`` keyed by cell accumulates (n, per-dim
    unit sums) and re-emits the cell's updated ``drift_d2`` — the exact
    integer squared grid distance between the frozen centroid and the
    half-away-rounded running mean, the number an index operator
    watches to trigger offline cell re-training. After any prefix of
    micro-batches, an updated cell's row is bit-identical to the batch
    ``ivf_cell_stats`` over the union of those batches (pytest parity).

    The codebook is collected ONCE at operator build into the update
    closure — a k·D integer handoff (dimension-sized, the histogram-
    bounds class, NOT a data collect); state is O(D) per cell, k cells
    total. NoTimeout: cell statistics are lifetime aggregates.
    """
    from ..operators.numeric import ratio_round_int
    from ..operators.similarity import _gk_partials_mapper

    partial_schema = StructType(
        [
            StructField("j", IntegerType()),
            StructField("cnt", LongType()),
            StructField("sums", ArrayType(LongType())),
        ]
    )
    # dimension-sized frozen-parameters handoff (k × D integer units)
    cb_units = [
        [int(x) for x in c] for c in codebook_row.select("cb").first()["cb"]
    ]

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,  # Iterator[pd.DataFrame]
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        j = int(key[0])
        n, sums = state.get if state.exists else (0, None)
        for pdf in pdfs:
            for cnt, s in zip(pdf["cnt"], pdf["sums"]):
                n += int(cnt)
                if sums is None:
                    sums = [int(x) for x in s]
                else:
                    sums = [a + int(b) for a, b in zip(sums, s)]
        state.update((n, sums))
        c = cb_units[j]
        # same audited half-away integer mean as the batch op/Lloyd
        # update (ratio_round at scale 0 — integer-valued float, exact)
        drift = sum(
            (int(ratio_round_int(s, n, 0)) - cj) ** 2
            for s, cj in zip(sums, c)
        )
        yield pd.DataFrame(
            {
                "centroid_id": [j],
                "n_assigned": [n],
                "drift_d2": [drift],
            }
        )

    cb = codebook_row.select(F.lit(1).alias("_one"), "cb")
    partials = (
        emb_stream.select(F.lit(1).alias("_one"), "vec_id", "embedding")
        .join(cb, "_one")
        .mapInPandas(_gk_partials_mapper(), partial_schema)
    )
    return partials.groupBy("j").applyInPandasWithState(
        _update,
        IVF_CELL_SCHEMA,
        _IVF_CELL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def start_cell_plan_maintenance(
    emb_stream: DataFrame,
    codebook_row: DataFrame,
    centroid_rows: DataFrame,
    plan_dir: str,
    checkpoint_dir: str,
    hot_num: int = 2,
    hot_den: int = 1,
    cold_num: int = 1,
    cold_den: int = 2,
    drift_threshold: int = 1_500_000_000,
    available_now: bool = True,
    processing_time: str = "30 seconds",
):
    """Streaming IVF maintenance pipeline: keep a continuously updated
    split/merge/re-train plan as vectors arrive — the online twin of
    ``similarity.ivf_cell_split_plan`` (r9 verdict item 7: the decision
    step over the maintenance pair, streaming side).

    Composition, not re-derivation: the cell statistics come from
    :func:`ivf_cell_stats_stream` (already bit-exact to the batch op
    after any micro-batch prefix), and a ``foreachBatch`` consumer folds
    each batch's updated cells into a k-row latest-stats table
    (``<plan_dir>_state``), reassembles the full codebook spine
    (never-seen cells surface as n=0 / drift NULL, exactly as the batch
    report), and rewrites the plan table at ``plan_dir`` with the SAME
    batch planner. After any prefix of micro-batches the plan table is
    therefore bit-identical to ``ivf_cell_split_plan`` over the union
    of those batches (pytest parity) — by construction, since both
    sides run one deterministic integer function over bit-identical
    stats.

    State is k rows on disk + k·D in the stats stream's store — never
    data-sized; the per-trigger plan recompute is k²·D integer work.
    The static ``centroid_rows`` is lazily checkpointed HERE, outside
    the closure, so each trigger reuses the materialized k·D rows
    instead of replaying the quantizer training (the r6 foreachBatch
    static-plan pitfall).
    """
    import os

    from ..operators.similarity import ivf_cell_split_plan

    centroid_rows = centroid_rows.localCheckpoint(eager=False)
    spine = centroid_rows.select("centroid_id").distinct().localCheckpoint(
        eager=False
    )
    state_dir = plan_dir.rstrip("/") + "_state"
    stats_stream = ivf_cell_stats_stream(emb_stream, codebook_row)

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        updates = batch_df.select("centroid_id", "n_assigned", "drift_d2")
        if os.path.exists(state_dir):
            prior = spark.read.parquet(state_dir)
            merged = updates.unionByName(
                prior.join(updates.select("centroid_id"), "centroid_id", "left_anti")
            )
        else:
            merged = updates
        # eager: the state table is read above and overwritten below
        # (self-overwrite lineage), and fans out to the plan below; k rows
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(state_dir)
        stats = (
            spine.join(merged, "centroid_id", "left")
            .select(
                F.col("centroid_id").cast("int").alias("centroid_id"),
                F.coalesce(F.col("n_assigned"), F.lit(0))
                .cast("long")
                .alias("n_assigned"),
                F.col("drift_d2").cast("long").alias("drift_d2"),
            )
        )
        plan = ivf_cell_split_plan(
            stats,
            centroid_rows,
            hot_num=hot_num,
            hot_den=hot_den,
            cold_num=cold_num,
            cold_den=cold_den,
            drift_threshold=drift_threshold,
        )
        plan.write.mode("overwrite").parquet(plan_dir)

    writer = (
        stats_stream.writeStream.foreachBatch(_refresh)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


#: Output of the streaming Misra-Gries summary: current counters per shard.
MG_STREAM_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("key", LongType()),
        StructField("est", LongType()),
        StructField("n_seen", LongType()),
    ]
)

#: State per shard: parallel key/estimate arrays (≤ k entries).
_MG_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(LongType())),
        StructField("ests", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)


def heavy_hitters_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    k: int = 50,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: per key-shard, a bounded
    ≤ ``k``-counter summary maintained across micro-batches with
    ``applyInPandasWithState`` — the online form of
    ``operators.sketch.heavy_hitters``.

    Keys hash to ``n_shards`` state groups, so state is O(n_shards · k)
    TOTAL no matter how many distinct keys the stream carries — the
    property that lets a heavy-hitter dashboard survive an unbounded key
    universe where a per-key running counter (``customer_running_totals``)
    would grow without limit. Because sharding partitions the KEYS (not
    the rows arbitrarily), each key's full mass lands in one summary and
    the per-key MG bound holds against that shard's row count:
    true − N_shard/(k+1) ≤ est ≤ true (pytest-pinned vs exact batch
    counts; union the shard summaries for the global top-k).

    Each batch folds exact in-batch counts into the carried counters,
    then applies the MG decrement to ≤ k survivors. Output mode
    "update": the shard's current counters after each batch, stamped
    with the shard's monotone row count ``n_seen`` — the live summary is
    the max-``n_seen`` row set per shard (est itself is NOT monotone: the
    decrement can lower it between batches). NoTimeout — the summary is a
    lifetime aggregate; swap ProcessingTimeTimeout for sliding-window
    variants.
    """

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,  # Iterator[pd.DataFrame]
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        if state.exists:
            keys, ests, n_seen = state.get
            counts = dict(zip(keys, ests))
        else:
            counts, n_seen = {}, 0
        for pdf in pdfs:
            n_seen += len(pdf)
            for kk, c in pdf["key"].value_counts().items():
                counts[kk] = counts.get(kk, 0) + int(c)
        if len(counts) > k:
            ordered = sorted(counts.values(), reverse=True)
            d = ordered[k]
            counts = {kk: v - d for kk, v in counts.items() if v - d > 0}
        state.update((list(counts), list(counts.values()), n_seen))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(counts),
                "key": list(counts),
                "est": list(counts.values()),
                "n_seen": [n_seen] * len(counts),
            }
        )

    keyed = stream.select(
        (F.col(key_col).cast("long") % n_shards).alias("shard"),
        F.col(key_col).cast("long").alias("key"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _update,
        MG_STREAM_SCHEMA,
        _MG_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


#: Output schema of :func:`ewma_stream` — mirrors the batch
#: ``events_ewma_hourly`` registry entry column-for-column.
EWMA_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("hour_ms", LongType()),
        StructField("hourly_value", DoubleType()),
        StructField("ewma_value", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [StructField("cents", ArrayType(LongType()))]
)


def ewma_stream(hourly_points: DataFrame, window: int = 6) -> DataFrame:
    """Streaming twin of the batch ``events_ewma_hourly`` operator:
    per-type EWMA (alpha=1/2, trailing ``window`` observed points) over
    a stream of hourly ``(event_type, hour_ms, cents)`` points.

    State per key is the deque of the last ``window`` cents values —
    O(|event types| · window), bounded regardless of stream
    length. The recurrence is the SAME exact integer ratio as the batch
    entry (binary 2^k weights, half-away integer rounding replicated in
    Python int arithmetic), so replaying the batch hourly series
    through this operator is bit-identical to the batch output —
    pytest-pinned. Points must arrive in hour order across micro-batches
    (the replay/backfill contract); within a batch they are sorted.
    """

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        from ..operators.numeric import ratio_round_int

        (cents,) = state.get if state.exists else ([],)
        cents = list(cents)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("hour_ms")
        out_h, out_raw, out_ewma = [], [], []
        for h, c in zip(rows["hour_ms"], rows["cents"]):
            h, c = int(h), int(c)
            cents.append(c)
            if len(cents) > window + 1:
                cents.pop(0)
            num = sum(
                cc * (2 ** (window - k))
                for k, cc in enumerate(reversed(cents))
            )
            den = sum(
                2 ** (window - k) for k in range(len(cents))
            ) * 100
            out_h.append(h)
            out_raw.append(c / 100.0)
            out_ewma.append(ratio_round_int(num, den, 4))
        state.update((cents,))
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "hour_ms": out_h,
                "hourly_value": out_raw,
                "ewma_value": out_ewma,
            }
        )

    return hourly_points.groupBy("event_type").applyInPandasWithState(
        _update,
        EWMA_SCHEMA,
        _EWMA_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


TRENDING_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("key", LongType()),
        StructField("score", LongType()),
        StructField("n_batches", LongType()),
    ]
)

_TRENDING_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(LongType())),
        StructField("scores", ArrayType(LongType())),
        StructField("n_batches", LongType()),
    ]
)


def trending_stream(
    stream: DataFrame, key_col: str, k: int = 10, n_shards: int = 4
) -> DataFrame:
    """Streaming TRENDING keys: per micro-batch, every tracked score
    halves (integer floor — deterministic, engine-free) and the batch's
    counts add on; scores that decay to 0 are pruned, and only the
    top-``k`` per shard survive — so a key must keep arriving to stay
    ranked (recency, which the plain Misra-Gries heavy hitters
    deliberately lacks). State is O(shards·k) forever.

    Halving decay = exponential half-life of one micro-batch; scores
    are exact integers, so a replay is bit-identical (pytest pins the
    fold against a pure-Python simulation). The top-k cut breaks ties
    on key asc. Like ``heavy_hitters_stream``, keys shard across
    ``applyInPandasWithState`` groups so no single task owns the
    stream.
    """

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        if state.exists:
            keys, scores, n_batches = state.get
            tracked = dict(zip(keys, scores))
        else:
            tracked, n_batches = {}, 0
        batch_counts: dict[int, int] = {}
        for pdf in pdfs:
            for kk, c in pdf.groupby("key").size().items():
                batch_counts[int(kk)] = batch_counts.get(int(kk), 0) + int(c)
        tracked = {kk: s // 2 for kk, s in tracked.items()}
        for kk, c in batch_counts.items():
            tracked[kk] = tracked.get(kk, 0) + c
        survivors = sorted(
            ((kk, s) for kk, s in tracked.items() if s > 0),
            key=lambda t: (-t[1], t[0]),
        )[:k]
        n_batches += 1
        state.update(
            (
                [kk for kk, _ in survivors],
                [s for _, s in survivors],
                n_batches,
            )
        )
        yield pd.DataFrame(
            {
                "shard": key[0],
                "key": [kk for kk, _ in survivors],
                "score": [s for _, s in survivors],
                "n_batches": n_batches,
            }
        )

    keyed = stream.select(
        (F.col(key_col) % n_shards).alias("shard"),
        F.col(key_col).alias("key"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _update,
        TRENDING_SCHEMA,
        _TRENDING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


HLL_STREAM_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_seen", LongType()),
        StructField("s_scaled", LongType()),
        StructField("v_zero", LongType()),
        StructField("est_distinct", DoubleType()),
    ]
)

_HLL_STATE_SCHEMA = StructType(
    [
        StructField("regs", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)


def hll_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``users_hll_estimate`` operator:
    per-event-type distinct-user HLL, registers held as keyed state —
    the canonical streaming sketch (state is O(m) = 64 longs per key
    forever, merge is per-bucket max, no retraction needed).

    Uses the identical md5 register construction as
    ``operators/sketch.py::hll_distinct_estimate`` (hashlib md5 hex ==
    Spark/DuckDB ``md5``), so after any prefix of the stream the
    register STATE is bit-identical to the batch operator run over the
    same rows — the parity test asserts the exact integer
    (s_scaled, v_zero) pair and the rounded estimate per micro-batch.
    Emits the running estimate each micro-batch (append mode).
    """

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,
        state: GroupState,
    ) -> Iterator:
        import hashlib
        import math

        import pandas as pd

        from ..operators.sketch import HLL_ALPHA_M2, HLL_M, HLL_RHO_CAP

        if state.exists:
            regs_list, n_seen = state.get
            regs = list(regs_list)
        else:
            regs, n_seen = [0] * HLL_M, 0
        for pdf in pdfs:
            # NULL keys are skipped (a null contributes no register in the
            # batch operator either — md5(NULL) is NULL); int(NaN) would
            # otherwise kill the whole streaming query.
            for uid in pdf["user_id"].dropna():
                h = hashlib.md5(f"hll:{int(uid)}".encode()).hexdigest()
                b = int(h[0:7], 16) % HLL_M
                w = int(h[7:14], 16)
                rho = HLL_RHO_CAP if w == 0 else HLL_RHO_CAP - w.bit_length()
                if rho > regs[b]:
                    regs[b] = rho
                n_seen += 1
        state.update((regs, n_seen))
        # Fold exactly as the batch operator: empty registers (M_j = 0)
        # contribute 2^RHO_CAP each; present ones 2^(RHO_CAP - M_j).
        s_total = sum(1 << (HLL_RHO_CAP - m) for m in regs)
        v_zero = sum(1 for m in regs if m == 0)
        est_raw = HLL_ALPHA_M2 * float(1 << HLL_RHO_CAP) / float(s_total)
        if est_raw <= 2.5 * HLL_M and v_zero > 0:
            est = float(HLL_M) * math.log(HLL_M / float(v_zero))
        else:
            est = est_raw
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n_seen],
                "s_scaled": [s_total],
                "v_zero": [v_zero],
                "est_distinct": [round(est, 4)],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        _update,
        HLL_STREAM_SCHEMA,
        _HLL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


SCD2_STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("version", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from_ms", LongType()),
        StructField("valid_to_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)

_SCD2_STATE_SCHEMA = StructType(
    [
        StructField("cur_type", StringType()),
        StructField("prev_type", StringType()),
        StructField("has_prev", LongType()),
        StructField("version", LongType()),
        StructField("valid_from_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``user_scd2_intervals`` entry — the
    CDC shape: per-user SCD type-2 intervals where a CLOSED interval is
    emitted the moment the tracked attribute (event_type) changes, and
    the OPEN interval lives in keyed state (O(1) per user) until its
    closing event arrives.

    Append-mode contract: emitted rows are exactly the batch operator's
    closed intervals (valid_to_ms IS NOT NULL) over the same prefix —
    pytest-pinned; the open tail per user is state, not output (a
    streaming sink cannot retract an emitted open row). Events must
    arrive per-user time-ordered across micro-batches (the replay
    contract, cf. ewma_stream); within a batch they are sorted.

    NULL event_type replicates the batch lag predicate
    ``lag IS NULL OR lag <> event_type`` under SQL three-valued logic
    exactly: a null row EXTENDS the current run (both disjuncts false),
    but the row AFTER a null always opens a new version (lag IS NULL),
    and a run's label is its min non-null type — so the state carries
    the raw previous type separately from the run label."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        if state.exists:
            cur_type, prev_et, has_prev, version, valid_from, n_ev = (
                state.get
            )
        else:
            cur_type, prev_et, has_prev, version, valid_from, n_ev = (
                None,
                None,
                0,
                0,
                0,
                0,
            )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_ms", "event_id"])
        out = []
        for et, ts in zip(rows["event_type"], rows["ts_ms"]):
            et = None if pd.isna(et) else str(et)
            ts = int(ts)
            chg = (
                not has_prev
                or prev_et is None
                or (et is not None and prev_et != et)
            )
            if chg:
                if version > 0:
                    out.append(
                        (key[0], version, cur_type, valid_from, ts, n_ev)
                    )
                cur_type, valid_from, n_ev = et, ts, 1
                version += 1
            else:
                # only reachable with prev_et non-null (see chg), so the
                # run label cur_type is already set: just extend.
                n_ev += 1
            prev_et, has_prev = et, 1
        state.update(
            (cur_type, prev_et, has_prev, version, valid_from, n_ev)
        )
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "version",
                "event_type",
                "valid_from_ms",
                "valid_to_ms",
                "n_events",
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        SCD2_STREAM_SCHEMA,
        _SCD2_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


FUNNEL_STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("level", LongType()),
    ]
)

_FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("lv", LongType()),
        StructField("m", LongType()),
        StructField("l1", LongType()),
        StructField("l2", LongType()),
        StructField("l3", LongType()),
    ]
)


def funnel_stream(events: DataFrame, window_ms: int = 86400000) -> DataFrame:
    """Streaming twin of the batch ``events_window_funnel`` entry: the
    two cascaded running maxima (lv = latest view, m = best
    latest-view-before-a-click) ARE per-user streaming state — O(2
    longs + 3 flags) per user forever, updated per event — so funnel
    levels stream with no retraction and no sequence buffer. Emits each
    user's current level per micro-batch (update-style append; the
    final row per user equals the batch operator's level — pytest
    parity). Events must arrive per-user time-ordered across
    micro-batches (the replay contract); within a batch they sort."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        if state.exists:
            lv, m, l1, l2, l3 = state.get
        else:
            lv, m, l1, l2, l3 = None, None, 0, 0, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts_ms", "event_id"])
        for et, ts in zip(rows["event_type"], rows["ts_ms"]):
            et, ts = str(et), int(ts)
            # evaluate flags against state BEFORE this event (strictly
            # preceding frame), then fold the event in — mirrors the
            # batch window's UNBOUNDED PRECEDING .. -1 frame exactly.
            if et == "view":
                l1 = 1
                lv = ts if lv is None else max(lv, ts)
            elif et == "click":
                if lv is not None and ts - lv <= window_ms:
                    l2 = 1
                if lv is not None:
                    m = lv if m is None else max(m, lv)
            elif et == "purchase":
                if m is not None and ts - m <= window_ms:
                    l3 = 1
        state.update((lv, m, l1, l2, l3))
        yield pd.DataFrame(
            {"user_id": [key[0]], "level": [l1 + l2 + l3]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        FUNNEL_STREAM_SCHEMA,
        _FUNNEL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def start_near_dup_screen(
    doc_stream: DataFrame,
    corpus_sigs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 6,
    nbits: int = 60,
    cache_index: bool = True,
):
    """Streaming NEAR-dup screen: each micro-batch of documents is
    SimHash-signed and banded against a static corpus signature index;
    docs within Hamming ≤ ``max_hamming`` of any corpus doc are dropped,
    survivors append to ``out_dir`` — the near-dup upgrade of the exact
    fingerprint screen (``screen_stream_against_corpus``), i.e. the
    "is this crawl shard already (almost) in the corpus?" gate run
    without stopping the stream.

    Runs via ``foreachBatch`` — signature construction is a per-doc
    aggregation, which a single streaming DAG can't chain ahead of a
    join + anti-join; foreachBatch reuses the BATCH operators verbatim
    per trigger (the standard escape hatch), so stream and batch
    decisions are definitionally identical (pytest parity). Per-batch
    work is batch-size ⋈ banded-index, the incremental-dedup shape.

    ``cache_index`` (default True) persists the exploded corpus index
    once: the foreachBatch closure holds a LAZY DataFrame, so without it
    every trigger re-executes the full corpus plan — if ``corpus_sigs``
    is computed (e.g. ``simhash_signatures`` over raw text), that is a
    corpus-sized signature aggregation PER MICRO-BATCH, defeating the
    batch-sized shape. Pass ``cache_index=False`` only when
    ``corpus_sigs`` is a plain parquet scan that must re-plan per
    trigger to pick up an updated signature file. Requires each
    document to arrive whole in one micro-batch (the file-drop
    contract, as everywhere in this module).
    """
    from ..operators.dedup import hamming_band_chunks, simhash_signatures

    corpus_chunks = (
        corpus_sigs.select(
            F.col("doc_id").alias("c_id"),
            F.col("simhash").alias("c_sig"),
        )
        .select(
            "c_id",
            "c_sig",
            F.explode(
                F.array(*hamming_band_chunks("c_sig", nbits, max_hamming))
            ).alias("ch"),
        )
        .select("c_id", "c_sig", "ch.ci", "ch.cv")
    )
    if cache_index:
        corpus_chunks = corpus_chunks.persist()

    def _screen(batch_df, _epoch):
        sigs = simhash_signatures(batch_df, nbits=nbits)
        b_chunks = sigs.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(*hamming_band_chunks("simhash", nbits, max_hamming))
            ).alias("ch"),
        ).select("doc_id", "simhash", "ch.ci", "ch.cv")
        hits = (
            b_chunks.join(corpus_chunks, ["ci", "cv"])
            .filter(
                F.bit_count(
                    F.col("simhash").bitwiseXOR(F.col("c_sig"))
                )
                <= max_hamming
            )
            .select("doc_id")
            .distinct()
        )
        batch_df.join(hits, "doc_id", "left_anti").write.mode(
            "append"
        ).parquet(out_dir)

    return (
        doc_stream.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


CHECKSUM_STREAM_SCHEMA = StructType(
    [
        StructField("day_id", LongType()),
        StructField("n_rows", LongType()),
        StructField("sum_h1", LongType()),
        StructField("sum_h2", LongType()),
        StructField("xor_h1", LongType()),
        StructField("xor_h2", LongType()),
    ]
)

_CHECKSUM_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s1", LongType()),
        StructField("s2", LongType()),
        StructField("x1", LongType()),
        StructField("x2", LongType()),
    ]
)


def checksum_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_partition_checksums`` entry:
    per-day commutative (SUM, XOR) md5 checksums maintained as keyed
    state, re-emitted each micro-batch a day's partition grows — the
    continuous-ingestion side of partition-level replica verification
    (the batch side recomputes a replica's checksums; this side keeps
    the live table's checksums current without rescanning history).

    Serialization, hashing and day bucketing all happen JVM-side in the
    SHARED ``dedup.event_checksum_pieces`` helper (the same expressions
    the batch entry compiles), so the twins cannot drift: Python only
    accumulates the 28-bit integer pieces — exact in int64 (and even in
    a pandas float64 column). State is 5 integers per day key, forever —
    O(|days|); every lane is commutative and associative, so after any
    prefix of the stream the per-day state is bit-identical to the batch
    operator over the same rows (the parity test asserts all four hash
    lanes exactly).

    Expects the silver projection ``event_id, ts_ms, user_id,
    event_type, props``.
    """

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,
        state: GroupState,
    ) -> Iterator:
        import numpy as np
        import pandas as pd

        if state.exists:
            n, s1, s2, x1, x2 = state.get
        else:
            n, s1, s2, x1, x2 = 0, 0, 0, 0, 0
        for pdf in pdfs:
            a1 = pdf["x1"].to_numpy(dtype="int64")
            a2 = pdf["x2"].to_numpy(dtype="int64")
            if len(a1):
                n += len(a1)
                s1 += int(a1.sum())
                s2 += int(a2.sum())
                x1 ^= int(np.bitwise_xor.reduce(a1))
                x2 ^= int(np.bitwise_xor.reduce(a2))
        state.update((n, s1, s2, x1, x2))
        yield pd.DataFrame(
            {
                "day_id": [key[0]],
                "n_rows": [n],
                "sum_h1": [s1],
                "sum_h2": [s2],
                "xor_h1": [x1],
                "xor_h2": [x2],
            }
        )

    from ..operators.dedup import event_checksum_pieces

    keyed = event_checksum_pieces(events, F.col("ts_ms"))
    return keyed.groupBy("day_id").applyInPandasWithState(
        _update,
        CHECKSUM_STREAM_SCHEMA,
        _CHECKSUM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


DEBOUNCE_STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("props", StringType()),
        StructField("n_events", LongType()),
        StructField("n_kept", LongType()),
    ]
)

_DEBOUNCE_STATE_SCHEMA = StructType([StructField("last_ts", LongType())])


def debounce_stream(
    events: DataFrame,
    gap_ms: int = 600_000,
    ttl_ms: int = 3_600_000,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of the batch ``events_idempotent_dedup`` entry:
    at-least-once re-deliveries of the same logical (user, type,
    payload) event within ``gap_ms`` of the PREVIOUS occurrence chain
    into one burst and only the head survives. State per fine key is
    ONE integer (the last seen event time) — and, unlike the other
    stateful twins, it carries an EVENT-TIME TTL
    (``GroupStateTimeout.EventTimeTimeout`` + watermark): keys idle
    past ``ttl_ms`` of event time are EVICTED, bounding state to
    recently-active keys instead of every key ever seen — the
    state-hygiene pattern an unbounded (user, type, payload) universe
    requires at 100 TB.

    Eviction is EXACT, not approximate: a key is evicted only once the
    watermark passes last_ts + ttl, so any later in-watermark event
    for it has gap > ttl − watermark_delay; with
    ttl − delay > gap_ms (default 3600 − 600 > 600 s) the batch
    operator would have kept that event as a burst head anyway —
    identical decisions. (Processing-time TTL was rejected: pending
    processing timers keep an availableNow query alive forever.)

    Rows within a micro-batch are processed in (ts_ms, event_id)
    order — the batch entry's window order — so parity is exact for
    in-order replays. Emits per-key (n_events, n_kept) deltas per
    micro-batch. Expects ``event_id, ts_ms, user_id, event_type,
    props``."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator,
        state: GroupState,
    ) -> Iterator:
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        last = state.get[0] if state.exists else None
        n_events = n_kept = 0
        # one concat + ONE global sort: a group larger than the Arrow
        # batch size arrives as several pdfs, and chunk-local sorting
        # would break the (ts_ms, event_id) processing order the batch
        # twin's lag window defines (cf. ewma/holt above).
        chunks = list(pdfs)
        if chunks:
            allpdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            for row in allpdf.sort_values(["ts_ms", "event_id"]).itertuples(
                index=False
            ):
                ts = int(row.ts_ms)
                n_events += 1
                if last is None or ts - last > gap_ms:
                    n_kept += 1
                last = ts
        if last is not None:
            state.update((last,))
            state.setTimeoutTimestamp(
                max(last + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        if n_events:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "props": [key[2]],
                    "n_events": [n_events],
                    "n_kept": [n_kept],
                }
            )

    keyed = events.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("ts", watermark)
    return keyed.groupBy("user_id", "event_type", "props").applyInPandasWithState(
        _update,
        DEBOUNCE_STREAM_SCHEMA,
        _DEBOUNCE_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


#: Fixed cents-bucket geometry of the PSI monitor — shared by the
#: reference builder, the per-batch monitor, and the parity test.
PSI_MONITOR_WIDTH_CENTS = 2500
PSI_MONITOR_MAX_BUCKET = 19


def psi_value_buckets(df: DataFrame) -> DataFrame:
    """(bucket, n) counts of `value` on the monitor's fixed cents-bucket
    grid — used for BOTH the static reference and each micro-batch, so
    the two sides can never disagree on geometry."""
    # NaN -> NULL first: a live stream bypasses the catalog boundary
    # that nulls NaN measurements for batch reads, and round(NaN*100)
    # ::BIGINT raises CAST_OVERFLOW under ANSI (r8 NaN probe). NULL
    # values fall into the NULL bucket group, matching the batch scorer.
    v = F.when(~F.isnan("value"), F.col("value"))
    b = F.least(
        F.lit(PSI_MONITOR_MAX_BUCKET),
        F.greatest(
            F.lit(0),
            F.floor(
                F.round(v * 100).cast("long")
                / F.lit(PSI_MONITOR_WIDTH_CENTS)
            ),
        ),
    ).cast("long")
    return df.select(b.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def psi_against_reference(cur: DataFrame, ref_counts: DataFrame) -> DataFrame:
    """One-row PSI of a batch of `value` rows against a static reference
    bucket table — the shared core of :func:`start_psi_monitor` and its
    batch parity twin (stream/batch parity is structural, not tested
    into existence).

    Same exactness scheme as the batch ``embedding_psi_drift`` entry:
    add-1 smoothing over the union bucket grid, each term rounded to
    1e-6 integer units BEFORE the exact sum. All windows run over the
    ≤20-row bucket grid."""
    from pyspark.sql import Window

    grid = (
        psi_value_buckets(cur)
        .withColumnRenamed("n", "n_cur")
        .join(
            ref_counts.withColumnRenamed("n", "n_ref"), "bucket", "full_outer"
        )
        .select(
            "bucket",
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = grid.select(
        "n_cur",
        "n_ref",
        F.sum("n_cur").over(w).alias("t_cur"),
        F.sum("n_ref").over(w).alias("t_ref"),
        F.count(F.lit(1)).over(w).alias("nb"),
    )
    p_ref = (F.col("n_ref") + 1) / (F.col("t_ref") + F.col("nb"))
    p_cur = (F.col("n_cur") + 1) / (F.col("t_cur") + F.col("nb"))
    term_units = F.round(
        (p_cur - p_ref) * F.log(p_cur / p_ref) * 1e6
    ).cast("long")
    return tot.select("t_cur", term_units.alias("u")).groupBy("t_cur").agg(
        (F.sum("u").cast("double") / F.lit(1e6)).alias("psi")
    ).select(F.col("t_cur").cast("long").alias("n_rows"), "psi")


def start_psi_monitor(
    value_stream: DataFrame,
    ref_counts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming distribution-drift monitor [H5/H8 family]: every
    micro-batch of `value` rows is scored with
    :func:`psi_against_reference` against the static training-time
    bucket table and ONE (batch_id, n_rows, psi) row appends to
    ``out_dir`` — the "alert when serving drifts from training" loop.

    foreachBatch (the near-dup screen's pattern): the PSI computation
    is an aggregation + tiny-grid join that reuses the BATCH operator
    verbatim per trigger, so stream and batch scores are identical by
    construction. State is zero — the reference is materialized ONCE
    here (lazy localCheckpoint, the near-dup screen's cache_index
    precedent) so each trigger re-broadcasts the ≤20-row table instead
    of re-running the training-table aggregation behind it."""
    ref_counts = ref_counts.localCheckpoint(eager=False)

    def _monitor(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        (
            psi_against_reference(batch_df, ref_counts)
            .withColumn("batch_id", F.lit(int(epoch_id)).cast("long"))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        value_stream.writeStream.foreachBatch(_monitor)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
