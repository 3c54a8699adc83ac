"""Deterministic sampling / splitting operators (extension layer): the
dataset-assembly steps of a training-data pipeline — train/val/test
splits and per-stratum downsampling.

Both operators are HASH-based, not RNG-based, on purpose:
- **Reproducible anywhere**: the assignment is a pure function of the row
  id (md5, the engine-portable digest — see ``dedup.md5_hash_pieces``),
  so Spark, DuckDB, and any future engine agree row-for-row; the driver
  oracle checks the split itself.
- **Stable under growth**: re-running after the corpus grows never moves
  an old row between splits (no RNG state, no row ordering dependence) —
  the property that prevents train/test leakage across dataset versions.
- **Scale-shape**: a per-row projection (md5 + modulo + CASE), fully
  codegen'd, pipelined into the scan; zero shuffles.

Bucket construction: the first 7 hex chars of ``md5(salt || id)`` as an
integer, modulo ``n_buckets`` (default 10,000 ⇒ 0.01% split
granularity). 28 bits ≫ 10,000 buckets keeps the modulo bias ≤ 4e-5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .numeric import ratio_round

#: Split-bucket granularity (0.01%).
N_BUCKETS = 10_000


def hash_bucket(
    id_col: Column, salt: str = "split", n_buckets: int | Column = N_BUCKETS
) -> Column:
    """Deterministic bucket in [0, n_buckets) from an id column — the ONE
    audited md5/substr/conv construction (A/B arms, shard assignment and
    the split buckets all derive from it; hand-rolled copies are how
    salt/slice drift between an operator and its oracle twin creeps in).

    DuckDB twin: ``('0x' || substr(md5('<salt>:' || id), 1, 7))::BIGINT
    % n_buckets`` — bit-identical (same md5, same hex slice). A Column
    modulus (per-row bucket counts, e.g. shard plans) is allowed.
    """
    h = F.md5(F.concat(F.lit(f"{salt}:"), id_col.cast("string")))
    if isinstance(n_buckets, int):
        n_buckets = F.lit(n_buckets)
    return F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % n_buckets


#: Named splits of :func:`hash_split` and their weights (sum 1.0).
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}

#: Token budget per pack and hash buckets of :func:`greedy_pack`; the
#: budget is also :func:`shard_merge_plan`'s target pack size.
PACK_BUDGET = 256
PACK_BUCKETS = 32

#: Kept fraction of strata :func:`stratified_sample` is given no
#: fraction for.
STRATIFIED_DEFAULT_FRACTION = 0.05


def hash_split(df: DataFrame, id_col: str) -> DataFrame:
    """Assign every row to a named split by hashed id: train/val/test =
    90/5/5 (``SPLITS``). Adds ``bucket`` and ``split`` columns.

    Thresholds are cumulative over the insertion order of ``SPLITS``
    (±1 bucket of rounding goes to the last split).
    """
    salt = "split"
    bucket = hash_bucket(F.col(id_col), salt)
    out = df.withColumn("bucket", bucket)
    expr, acc = None, 0.0
    names = list(SPLITS)
    for name in names[:-1]:
        acc += SPLITS[name]
        cond = F.col("bucket") < int(round(acc * N_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return out.withColumn("split", expr.otherwise(names[-1]))


def greedy_pack(df: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """Context-window packing for pretraining: assign each document to a
    (bucket, pack) slot so that consecutive documents fill
    ~``PACK_BUDGET`` tokens per pack — the batch-assembly step between curation and
    tokenized training shards.

    Chunked-fill semantics (deterministic, engine-portable): documents
    shard into ``PACK_BUCKETS`` by hashed id, are laid out in id order
    within their bucket, and a document belongs to the pack its FIRST
    token lands in (``floor(running_prefix / PACK_BUDGET)``). A document may
    straddle a boundary — it is counted where it starts, the exact
    semantics of fixed-stride sequence packing where the tokenizer
    splits at the context edge.

    Scale shape: one shuffle on ``bucket`` (``PACK_BUCKETS`` is a
    parallelism knob, not a semantic one), then a single running-sum
    window per bucket. No global ordering, no driver-side state; packs
    stream out in bucket-local order, which is what a shard writer
    wants. Hash sharding also keeps pack contents stable under corpus
    growth *within* a bucket prefix — unlike a global row_number, which
    reshuffles every pack when one document is inserted.
    """
    salt = "pack"
    bucket = (hash_bucket(F.col(id_col), salt) % PACK_BUCKETS).alias("bucket")
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col(token_col)).over(w)
    prefix = running - F.col(token_col)
    return (
        df.select(id_col, token_col, bucket)
        # `div` is exact bigint integral division (prefix >= 0, so it IS
        # floor). `F.floor(prefix / budget)` would route through double —
        # exact only below 2^53 token-prefix, a silent boundary misassign
        # above it (ADVICE r9).
        .withColumn("_prefix", prefix)
        .withColumn("pack_ix", F.expr(f"_prefix div {PACK_BUDGET}"))
        .drop("_prefix")
    )


def shard_merge_plan(packs: DataFrame, token_col: str) -> DataFrame:
    """Merge planner for packed training shards (the layout of
    :func:`greedy_pack`): after curation/dedup removes documents,
    previously full packs shrink — this plans which UNDER-filled packs
    to coalesce into target-sized merged packs, per bucket, without
    touching packs that are still at budget.

    Input: ``greedy_pack``-shaped per-doc rows (``bucket``, ``pack_ix``,
    ``token_col``; any column subset containing these). Output, one row
    per (bucket, pack): ``bucket``, ``pack_ix``, ``pack_tokens``,
    ``action`` ('keep' for packs ≥ budget and for under-filled packs
    alone in their merge group, 'merge' otherwise), ``merged_pack_ix``
    (NULL for keeps — merge group index within the bucket),
    ``merged_tokens`` (projected size of the merge group, NULL for
    keeps). A shard rewriter then streams ONLY the merge rows — keeps
    are never rewritten (the point of planning instead of re-packing
    the corpus).

    Semantics (deterministic, SQL-expressible — the chunked-fill idiom
    of ``greedy_pack`` itself): within a bucket, under-filled packs lay
    out in (tokens DESC, pack_ix ASC) order and a pack belongs to the
    merge group its first token lands in (exact integral
    ``prefix div budget``). Biggest-first ordering keeps groups near
    budget; groups may overrun by at most one pack's tail, exactly like
    fixed-stride packing. A merge group containing a SINGLE pack is
    reclassified as a keep — merging one pack with itself changes
    nothing, and without this rule every rerun would re-label lone
    under-filled packs with fresh ids and re-churn their buckets
    forever (ADVICE r9): with it, a converged layout plans to all-keeps
    and the applier is a no-op (idempotent consolidation).

    Convergence: one pass is not always maximal — ``prefix div budget``
    can isolate mid-sequence packs into singleton groups that a later
    pass would pair (e.g. totals [90, 80, 70, 60] at budget 100 group
    as {90, 80}, {70}, {60}). But the two LARGEST under-filled packs in
    a bucket always share group 0 (the second pack's prefix is the
    first pack's size < budget), so whenever a bucket holds ≥ 2
    under-filled packs the plan emits at least one merge, every merge
    strictly reduces the bucket's under-filled pack count, and repeated
    plan→apply passes reach the fixed point (≤ 1 under-filled pack per
    bucket) in O(log packs) passes — after which the plan is all-keeps
    forever.

    Scale shape: one map-side-combined groupBy((bucket, pack)) over the
    doc rows, then a running-sum window PER BUCKET over pack-level rows
    (bounded: packs-per-bucket, never corpus rows), then a merge-group
    rollup join. No global ordering, no driver state.

    The target pack size is ``PACK_BUDGET``.
    """
    budget = PACK_BUDGET
    totals = (
        packs.groupBy("bucket", "pack_ix")
        .agg(F.sum(F.col(token_col)).cast("long").alias("pack_tokens"))
        # PACK-level rows (small), consumed by under/keep and every
        # union branch below — without this the whole upstream chain
        # (scan + tokenize + pack window in the registry entry) executes
        # once per branch (measured 4 FileScans in the executed plan)
        .localCheckpoint(eager=False)
    )
    under = totals.filter(F.col("pack_tokens") < budget)
    keep = totals.filter(F.col("pack_tokens") >= budget)
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("pack_tokens"), F.asc("pack_ix"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = F.sum("pack_tokens").over(w) - F.col("pack_tokens")
    planned = (
        under.withColumn("_prefix", prefix)
        # exact bigint integral division (see greedy_pack: the double
        # route misassigns above 2^53 — ADVICE r9)
        .withColumn("merged_pack_ix", F.expr(f"_prefix div {int(budget)}"))
        .drop("_prefix")
        # consumed by merged_totals AND the grouped join below
        .localCheckpoint(eager=False)
    )
    merged_totals = planned.groupBy("bucket", "merged_pack_ix").agg(
        F.sum("pack_tokens").cast("long").alias("merged_tokens"),
        F.count(F.lit(1)).alias("_n_packs"),
    )
    grouped = planned.join(merged_totals, ["bucket", "merged_pack_ix"])
    # singleton groups: nothing to coalesce -> keep (idempotency)
    merge_rows = grouped.filter(F.col("_n_packs") >= 2).select(
        "bucket",
        "pack_ix",
        "pack_tokens",
        F.lit("merge").alias("action"),
        "merged_pack_ix",
        "merged_tokens",
    )
    lone_rows = grouped.filter(F.col("_n_packs") < 2).select(
        "bucket", "pack_ix", "pack_tokens"
    )
    keep_rows = keep.select("bucket", "pack_ix", "pack_tokens").unionByName(
        lone_rows
    ).select(
        "bucket",
        "pack_ix",
        "pack_tokens",
        F.lit("keep").alias("action"),
        F.lit(None).cast("long").alias("merged_pack_ix"),
        F.lit(None).cast("long").alias("merged_tokens"),
    )
    return merge_rows.unionByName(keep_rows)


def source_cap(df: DataFrame, stratum_col: str, id_col: str, cap: int) -> DataFrame:
    """Per-source document cap (domain rebalancing): keep at most ``cap``
    rows per stratum (source/domain/host), chosen by deterministic hash
    order — the step that stops a handful of over-crawled domains from
    dominating a web corpus (RefinedWeb/C4-style URL/host downsampling,
    keyed here by the ``source`` column).

    Hash order ≈ uniform random sample of each source, but reproducible:
    rank = ROW_NUMBER over (stratum, ORDER BY md5(salt:id), id). Output
    keeps every row with its rank and a ``kept`` flag so the caller can
    either filter or audit the cut.

    Scale shape: ONE shuffle on the stratum + a per-partition sort
    (WindowExec). Per-stratum data need not fit in memory — Spark's
    window sort spills — but for pathological strata (one domain = 10%
    of the corpus) rank-then-cap does sort that stratum on one executor
    chain; the cheap pre-pass is ``stratified_sample`` with a rough
    per-stratum fraction to knock the giant down to ~cap×2 rows first,
    then this exact cap — same final determinism, bounded sort.
    """
    salt = "cap"
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    return df.select(
        id_col,
        stratum_col,
        F.row_number().over(w).cast("long").alias("rnk"),
    ).withColumn("kept", F.col("rnk") <= cap)


def temperature_weights(df: DataFrame, stratum_col: str) -> DataFrame:
    """Temperature-based sampling weights per stratum (language/source):
    w_s ∝ p_s^alpha, the multilingual rebalancing rule from the XLM-R /
    mBERT lineage — alpha < 1 up-samples rare languages, alpha = 1 keeps
    natural proportions. Output per stratum: row count, natural share
    ``p``, temperature share ``w_temp``, and ``boost`` = w/p (the per-doc
    repetition factor an epoch sampler applies).

    Determinism across engines: alpha is 0.5, computed with ``sqrt`` —
    IEEE-754 *correctly rounded*, unlike ``pow`` — and the normalizing
    sum runs over 4-decimal DECIMAL values, so it is exact and
    order-independent (float sums are neither, and Spark's partial
    aggregation order differs from DuckDB's).

    Scale shape: one groupBy(stratum) over the corpus (map-side
    combined), then arithmetic over the tiny stratum table with its two
    scalar totals broadcast-crossed in — no windows, no second pass over
    the data.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n_docs"))
    powed = F.sqrt(F.col("n_docs").cast("double"))
    # round each stratum's p^alpha to a 4-decimal grid and sum as
    # DECIMAL: exact, associativity-free — both engines get the same
    # normalizer no matter their aggregation order.
    counts = counts.withColumn(
        "powed", F.round(powed, 4).cast("decimal(28, 4)")
    )
    totals = counts.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("powed").alias("total_powed"),
    )
    # All three outputs are grid quotients over exact integers (doc
    # counts, and the DECIMAL powed values in 1e-4 units), so each rounds
    # in exact integer space (numeric.ratio_round — the grid-quotient
    # rule). boost = (powed/total_powed)/(n/total) cross-multiplied into
    # one integer ratio, so no intermediate float division at all.
    pu = (F.col("powed") * 10_000).cast("decimal(38,0)")
    tpu = (F.col("total_powed") * 10_000).cast("decimal(38,0)")
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            stratum_col,
            "n_docs",
            ratio_round(F.col("n_docs"), F.col("total_docs"), 4).alias("p"),
            ratio_round(pu, tpu, 4).alias("w_temp"),
            ratio_round(pu * F.col("total_docs"), tpu * F.col("n_docs"), 4).alias(
                "boost"
            ),
        )
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    id_col: str,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash
    bucket falls below its stratum's threshold — e.g. keep 100% of rare
    languages and 10% of the dominant one (the classic rebalancing step
    before training).

    Unlike ``DataFrame.sampleBy`` (RNG per partition, non-reproducible
    across engines/partitionings), the kept set is a pure function of
    (id, stratum) — oracle-checkable and stable across runs.
    """
    salt = "sample"
    bucket = hash_bucket(F.col(id_col), salt)
    thresh = None
    for value, frac in fractions.items():
        cond = F.col(stratum_col) == value
        t = F.lit(int(round(frac * N_BUCKETS)))
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    thresh = thresh.otherwise(int(round(STRATIFIED_DEFAULT_FRACTION * N_BUCKETS)))
    return df.filter(bucket < thresh)


# --------------------------------------------------------------------------
# DSIR importance weights (data selection via importance resampling)
# --------------------------------------------------------------------------

#: Hashed n-gram feature dimensionality (Xie et al. 2302.03169 use 10k;
#: 4096 keeps bucket counts dense at fixture scale — the plan is identical).
DSIR_BUCKETS = 4096


def dsir_importance_weights(
    documents: DataFrame,
    target: Column,
    score_docs: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al. 2023, arXiv:2302.03169): score every raw document by how
    target-domain-like it is under hashed-n-gram bag-of-words language
    models, for selection/resampling before pretraining.

    log w(doc) = Σ_g  n_g(doc) · ln( p̂_target(bucket(g)) / p̂_raw(bucket(g)) )

    with add-1-smoothed bucket unigram models over hashed word UNI+BI-grams
    (``bucket(g)`` = first-28-bits-of-md5 mod ``buckets``), the target
    distribution estimated from the rows matching ``target`` and the raw
    distribution from the whole input.

    Determinism: per-bucket log-ratios round to a 6-decimal grid; per-doc
    contributions (integer count × gridded ratio) sum as DECIMAL — exact
    and order-independent, same idiom as ``text.unigram_logprob``.

    ``score_docs`` (optional) restricts SCORING to a subset while the
    model is still estimated from all of ``documents`` — e.g. weight only
    a new batch against corpus-wide target/raw distributions without
    paying the per-doc aggregation for the other 90%+ of the corpus.

    Scale shape: one explode pass emits uni+bi-grams with the doc's target
    flag attached (no second scan, no doc⋈flag join); per-(doc, bucket)
    counts shuffle once content-keyed; the bucket model is ≤``buckets``
    rows and BROADCASTS back; totals are a 1-row broadcast. No UDFs, no
    windows, no HOFs — at 100 TB the corpus is touched once for the
    model (plus one pass over the scored subset when ``score_docs`` is
    given).
    """
    from .dedup import _norm

    # NULL-robust flag: cast(NULL boolean as int) is NULL, which would
    # poison SUM(n_occ * is_target) for any bucket fed by NULL-predicate
    # docs (and diverge from the oracle's CASE ... ELSE 0). Three-valued
    # logic folds to an explicit 0.
    flag = F.when(target, 1).otherwise(0).alias("is_target")

    def _doc_buckets(docs: DataFrame, with_flag: bool) -> DataFrame:
        cols = ["doc_id", flag] if with_flag else ["doc_id"]
        key = ["doc_id", "is_target"] if with_flag else ["doc_id"]
        norm = docs.select(*cols, F.split(_norm(F.col("text")), " ").alias("w"))
        uni = norm.select(*key, F.explode("w").alias("sh")).filter(
            F.length("sh") > 0
        )
        bi = (
            norm.filter(F.size("w") >= 2)
            .select(
                *key,
                F.explode(F.sequence(F.lit(1), F.size("w") - 1)).alias("i"),
                "w",
            )
            .select(
                *key,
                F.expr(
                    "concat_ws(' ', element_at(w, i), element_at(w, i + 1))"
                ).alias("sh"),
            )
        )
        bucket = (
            F.conv(F.substring(F.md5("sh"), 1, 7), 16, 10).cast("long") % DSIR_BUCKETS
        ).alias("bucket")
        return (
            uni.unionByName(bi)
            .select(*key, bucket)
            .groupBy(*key, "bucket")
            .agg(F.count(F.lit(1)).alias("n_occ"))
        )

    model_buckets = _doc_buckets(documents, with_flag=True)
    doc_bucket = (
        model_buckets.drop("is_target")
        if score_docs is None
        else _doc_buckets(score_docs, with_flag=False)
    )
    bucket_stats = model_buckets.groupBy("bucket").agg(
        F.sum("n_occ").alias("raw_ct"),
        F.sum(F.col("n_occ") * F.col("is_target")).alias("tgt_ct"),
    )
    totals = bucket_stats.agg(
        F.sum("raw_ct").alias("raw_total"), F.sum("tgt_ct").alias("tgt_total")
    )
    log_ratio = F.round(
        F.log(
            ((F.col("tgt_ct") + 1.0) / (F.col("tgt_total") + DSIR_BUCKETS))
            / ((F.col("raw_ct") + 1.0) / (F.col("raw_total") + DSIR_BUCKETS))
        ),
        6,
    ).cast("decimal(18, 6)")
    ratios = bucket_stats.crossJoin(F.broadcast(totals)).select(
        "bucket", log_ratio.alias("lr")
    )
    # Buckets unseen by the model (possible only when score_docs brings
    # grams absent from `documents`) get the add-1-smoothed zero-count
    # ratio ln((raw_total+B)/(tgt_total+B)) instead of being silently
    # dropped from n_grams and the weight (ADVICE r5). For the default
    # score_docs=None path the LEFT join is exactly the old inner join:
    # doc buckets are a subset of model buckets by construction.
    default_lr = F.round(
        F.log(
            (F.lit(1.0) / (F.col("tgt_total") + DSIR_BUCKETS))
            / (F.lit(1.0) / (F.col("raw_total") + DSIR_BUCKETS))
        ),
        6,
    ).cast("decimal(18, 6)")
    return (
        doc_bucket.join(F.broadcast(ratios), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("lr", F.coalesce(F.col("lr"), default_lr))
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_grams"),
            F.sum(F.col("n_occ") * F.col("lr")).alias("lw"),
        )
        .select(
            "doc_id",
            "n_grams",
            # Round in DECIMAL space, THEN cast: lw lies exactly on the
            # 1e-6 grid, so x.xxxx50 ties at the 4th decimal are COMMON
            # (~1 in 100 docs) — ROUND(double) tie-breaks diverge between
            # engines after the lossy cast (caught at sf0.1: 2/5000 docs
            # off by 1e-4), while decimal rounding is exact half-away on
            # both.
            F.round(F.col("lw"), 4).cast("double").alias("log_weight"),
        )
    )


#: The mixing policy :func:`mixing_epochs` and :func:`epoch_plan` share
#: (their oracles replay the same numbers): strata are sources, the
#: budget is 3x the corpus tokens, and a stratum repeats at most 3.0
#: epochs (in 1e-4 epoch units).
MIX_STRATUM = "source"
MIX_BUDGET_MULT = 3
MIX_MAX_EPOCHS_UNITS = 30_000


def _mixing_units(documents: DataFrame) -> DataFrame:
    """Shared exact-integer core of the mixing policy: the per-stratum
    table with ``capped_u`` (1e-4 epoch units, EXACT long) plus every
    intermediate. ``epoch_plan`` consumes ``capped_u`` directly —
    deriving it back from the double ``epochs`` output would couple the
    Bernoulli thresholds to a lossy representation (review finding)."""
    from .dedup import _norm

    toks = F.size(F.split(_norm(F.col("text")), " ")).cast("long")
    counts = documents.groupBy(MIX_STRATUM).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(toks).alias("tokens")
    )
    # |strata| rows, two consumers (the totals aggregate and the final
    # crossJoin) — without the lazy checkpoint each consumer would re-run
    # the corpus-sized tokenize + groupBy pass.
    counts = counts.withColumn(
        "powed", F.round(F.sqrt(F.col("tokens").cast("double")), 4).cast("decimal(28, 4)")
    ).localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("tokens").alias("total_tokens"),
        F.sum("powed").alias("total_powed"),
    )
    pu = (F.col("powed") * 10_000).cast("decimal(38,0)")
    tpu = (F.col("total_powed") * 10_000).cast("decimal(38,0)")
    budget = F.col("total_tokens").cast("decimal(38,0)") * F.lit(MIX_BUDGET_MULT)
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("pu", pu)
        .withColumn("tpu", tpu)
        .withColumn(
            "target_tokens", ratio_round(F.col("pu") * budget, F.col("tpu"), 0).cast("long")
        )
        .withColumn(
            "epochs_u",
            ratio_round(F.col("target_tokens") * F.lit(10_000), F.col("tokens"), 0).cast(
                "long"
            ),
        )
        .withColumn("capped_u", F.least(F.col("epochs_u"), F.lit(MIX_MAX_EPOCHS_UNITS)))
    )


def mixing_epochs(documents: DataFrame) -> DataFrame:
    """Token-budget corpus mixing: per-stratum repeat factors ("epochs").

    The dataset-assembly step after curation: given a total training-token
    budget ``B = MIX_BUDGET_MULT * total_tokens``, allocate it across strata
    (sources/languages) by temperature weights ``w_s ∝ sqrt(tokens_s)``
    (the XLM-R/Llama rebalancing rule on TOKEN mass, not doc counts), then
    convert each stratum's allocation into the repeat factor an epoch
    sampler applies, capped at ``MIX_MAX_EPOCHS_UNITS / 10^4`` epochs (the
    "don't repeat data too often" rule from scaling-law practice; capped
    strata release budget that a second pass could redistribute — kept
    single-pass here, as in practice: the cap is a hard data-repetition
    limit, not a budget-filling knob).

    Exactness: every output is derived in exact integer space —
    ``sqrt(tokens)`` (IEEE correctly-rounded, engine-portable) is snapped
    to a 1e-4 grid and summed as DECIMAL; target tokens, epoch units, and
    effective tokens are half-away integer ratio roundings
    (:func:`numeric.ratio_round` at scale 0); the cap compares integer
    units. The ONLY double ops are the final exact-integer→double casts
    and one division by 10^4 (identical bits on both engines).

    Scale shape: one map-side-combined ``groupBy(stratum)`` over the
    corpus, then arithmetic on the dimension-sized stratum table with its
    two scalar totals broadcast-crossed in. Output is |strata| rows at any
    corpus scale; no windows, no second data pass.
    """
    return _mixing_units(documents).select(
        MIX_STRATUM,
        "n_docs",
        "tokens",
        ratio_round(F.col("tokens"), F.col("total_tokens"), 4).alias("token_share"),
        ratio_round(F.col("pu"), F.col("tpu"), 4).alias("w_temp"),
        "target_tokens",
        (F.col("capped_u").cast("double") / F.lit(10_000.0)).alias("epochs"),
        ratio_round(F.col("capped_u") * F.col("tokens"), F.lit(10_000), 0)
        .cast("long")
        .alias("effective_tokens"),
    )


def epoch_plan(documents: DataFrame) -> DataFrame:
    """Materialize :func:`mixing_epochs` into the physical training plan:
    one output row per (document, repeat) with a deterministic global
    shuffle key — the table a data loader actually reads.

    Fractional epochs become per-document Bernoulli repeats decided by
    the hash bucket (``hash_bucket(doc_id, salt) < frac_units`` — the
    same md5 bucket family as the splits, so the decision is exact,
    engine-portable, and stable under corpus growth): a stratum with
    epochs 2.3 repeats every doc twice and a deterministic 30% of docs a
    third time, landing the stratum's total within one doc of
    ``epochs · n_docs``. ``order_key = md5('ord:<r>:<doc_id>')`` gives a
    reproducible global shuffle — consumers range-sort on it (Spark
    range-partitions global sorts; no single-task stage).

    Scale shape: the |strata| epochs table broadcasts into the document
    scan; the explode is output-proportional; no shuffle at all in this
    operator.
    """
    salt = "rep"
    mix = _mixing_units(documents).select(MIX_STRATUM, "capped_u")
    full = (F.col("capped_u") / 10_000).cast("long")
    frac = F.col("capped_u") % 10_000
    extra = F.when(
        hash_bucket(F.col("doc_id"), salt) < frac, F.lit(1)
    ).otherwise(F.lit(0))
    planned = (
        documents.select("doc_id", MIX_STRATUM)
        .join(F.broadcast(mix), MIX_STRATUM)
        .withColumn("n_rep", full + extra)
        .filter(F.col("n_rep") > 0)
    )
    rep = F.explode(F.sequence(F.lit(0), F.col("n_rep").cast("int") - 1)).alias(
        "repeat_idx"
    )
    return planned.select("doc_id", MIX_STRATUM, rep).select(
        "doc_id",
        MIX_STRATUM,
        F.col("repeat_idx").cast("int").alias("repeat_idx"),
        F.md5(
            F.concat_ws(":", F.lit("ord"), F.col("repeat_idx"), F.col("doc_id"))
        ).alias("order_key"),
    )


def weighted_sample_topk(df: DataFrame, id_col: str, weight_col: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis,
    IPL 2006): each row draws key = u^(1/w); the k largest keys are a
    weight-proportional sample. Ranking by ln(u)/w is order-equivalent
    and overflow-free.

    Determinism: u = (m + 0.5)/2^28 with m the first-28-bits md5 bucket
    of (salt:id) — an exact dyadic rational both engines construct
    bit-identically. ln(u)/w can diverge by libm ULPs across hosts
    (JVM Math.log vs the oracle host's libm — this flipped a ROUND(·,6)
    half-grid digit on the r7 driver host), so the transcendental key
    is used ONLY for SELECTION, never emitted: the output surface is
    the exact integers (id, weight, m md5-units). Selection is
    ulp-stable because the relative key gap at the rank-k boundary is
    ~1% on the fixtures (≈1e13 ulps; pinned by
    tests/test_sampling_boundary.py's gap guard), and exact-equal keys
    (identical u AND w) tie-break on id. Per-partition top-k
    (TakeOrderedAndProject) — no global sort, no shuffle of the corpus.

    Rows with ``weight_col`` <= 0 (or NULL) are FILTERED, not an error:
    E-S gives them sampling probability 0, and the raw ln(u)/w would be
    a DIVIDE_BY_ZERO under Spark 4's ANSI default the moment a
    regenerated fixture ships an empty document (r8 degenerate-fixture
    audit catch).
    """
    k = 50
    salt = "ws"
    df = df.filter(F.col(weight_col) > 0)
    m = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
            1,
            7,
        ),
        16,
        10,
    ).cast("long")
    u = (m.cast("double") + 0.5) / F.lit(float(1 << 28))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col),
            m.alias("m_units"),
            key.alias("_es_key"),
        )
        .orderBy(F.desc("_es_key"), F.asc(id_col))
        .limit(k)
        .drop("_es_key")
    )
