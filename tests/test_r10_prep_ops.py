"""IVF index maintenance + packed-shard consolidation operators (built
as r9's r10-prep pair, registered with full DuckDB oracles in r10):
cell stats (batch + streaming), the cell split/merge/re-train planner
(batch + the foreachBatch maintenance pipeline), the shard merge
planner, and the staging-swap consolidation applier."""

import json
import os

import pytest

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators.similarity import (
    grid_kmeans,
    ivf_cell_stats,
    kmeans_codebook_row,
)
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _codebook(spark):
    emb = load_table(spark, "embeddings", SF)
    _, centroid_rows = grid_kmeans(emb, n_clusters=8, n_iter=2)
    return emb, kmeans_codebook_row(centroid_rows).localCheckpoint(eager=False)


def test_ivf_cell_stats_spine_counts_drift(spark):
    emb, cb_row = _codebook(spark)
    stats = ivf_cell_stats(emb, cb_row)
    rows = {r["centroid_id"]: r for r in stats.collect()}
    # codebook spine: all 8 cells present exactly once, empty cells 0/NULL
    assert sorted(rows) == list(range(8))
    assert sum(r["n_assigned"] for r in rows.values()) == emb.count()
    for r in rows.values():
        if r["n_assigned"] == 0:
            assert r["drift_d2"] is None
        else:
            assert r["drift_d2"] >= 0
    # occupancy cross-check against the audited assignment pass
    from streamlit_projet_spark_streaming_spark.streaming.stateful import (
        assign_cluster_stream,  # noqa: F401  (import sanity only)
    )

    assigned, _ = grid_kmeans(emb, n_clusters=8, n_iter=2)
    expect = {
        r["centroid_id"]: r["n"]
        for r in assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for j, r in rows.items():
        assert r["n_assigned"] == expect.get(j, 0), j


def test_ivf_cell_stats_stream_matches_batch(spark, tmp_path):
    """After all micro-batches, each cell's LAST update-mode emission is
    bit-identical to the batch op over the union of the batches — the
    incremental index-maintenance contract."""
    from streamlit_projet_spark_streaming_spark.streaming.stateful import ivf_cell_stats_stream

    emb, cb_row = _codebook(spark)
    rows = emb.select("vec_id", "embedding").collect()
    input_dir = str(tmp_path / "emb_in")
    os.makedirs(input_dir)
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
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)  # force >1 micro-batch
        .json(input_dir)
    )
    out = ivf_cell_stats_stream(stream, cb_row)
    q = (
        out.writeStream.format("memory")
        .queryName("ivf_cell_stream_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_pdf = spark.sql("SELECT * FROM ivf_cell_stream_out").toPandas()
    # final state per cell = the emission with the largest n_assigned
    # (occupancy is monotone across updates)
    final = (
        got_pdf.sort_values(["centroid_id", "n_assigned"])
        .groupby("centroid_id")
        .tail(1)
    )
    got = {
        int(r.centroid_id): (int(r.n_assigned), int(r.drift_d2))
        for r in final.itertuples()
    }
    expect = {
        r["centroid_id"]: (r["n_assigned"], r["drift_d2"])
        for r in ivf_cell_stats(emb, cb_row).collect()
        if r["n_assigned"] > 0
    }
    assert got == expect


def test_shard_merge_plan_exact_groups(spark):
    """Hand-built pack table: bucket 0 has totals {60 (keep), 45, 30, 10}
    at budget 50 → biggest-first chunked fill puts 45+30 in merge group
    0 (prefix 0 and 45); 10 lands alone in group 1 (prefix 75), and a
    SINGLE-pack merge group coalesces nothing, so it plans as a keep
    (idempotency — ADVICE r9). Same for the lone under-filled pack in
    bucket 1."""
    from streamlit_projet_spark_streaming_spark.operators.sampling import shard_merge_plan

    rows = [
        # (bucket, pack_ix, n_tokens) — several docs per pack to prove
        # the per-pack rollup
        (0, 0, 40), (0, 0, 20),   # pack 0: 60 -> keep
        (0, 1, 45),               # pack 1: 45 -> merge g0
        (0, 2, 30),               # pack 2: 30 -> merge g0
        (0, 3, 10),               # pack 3: 10 -> singleton group -> keep
        (1, 0, 5),                # lone under-filled pack in bucket 1 -> keep
    ]
    df = spark.createDataFrame(rows, "bucket long, pack_ix long, n_tokens long")
    plan = {
        (r["bucket"], r["pack_ix"]): r
        for r in shard_merge_plan(df, "n_tokens", budget=50).collect()
    }
    assert len(plan) == 5
    assert plan[(0, 0)]["action"] == "keep"
    assert plan[(0, 0)]["merged_pack_ix"] is None
    assert plan[(0, 1)]["action"] == "merge"
    assert plan[(0, 1)]["merged_pack_ix"] == 0
    assert plan[(0, 2)]["merged_pack_ix"] == 0
    assert plan[(0, 1)]["merged_tokens"] == 75
    assert plan[(0, 3)]["action"] == "keep"
    assert plan[(0, 3)]["merged_pack_ix"] is None
    assert plan[(1, 0)]["action"] == "keep"
    assert plan[(1, 0)]["merged_pack_ix"] is None


def test_shard_merge_plan_on_greedy_pack_after_dedup(spark):
    """End-to-end: pack the documents table, drop a third of the docs
    (simulated dedup), and check the plan's invariants: total coverage,
    keeps >= budget, merges < budget, group totals consistent,
    deterministic across runs."""
    from streamlit_projet_spark_streaming_spark.operators.sampling import (
        greedy_pack,
        shard_merge_plan,
    )

    docs = load_table(spark, "documents", SF).select(
        "doc_id", (F.length("text") / 4).cast("long").alias("n_tokens")
    )
    packs = greedy_pack(docs, "doc_id", "n_tokens", budget=200, n_buckets=4)
    shrunk = packs.filter(F.col("doc_id") % 3 != 0)
    plan = shard_merge_plan(shrunk, "n_tokens", budget=200)
    pdf = plan.toPandas()
    n_packs = shrunk.select("bucket", "pack_ix").distinct().count()
    assert len(pdf) == n_packs
    keeps = pdf[pdf.action == "keep"]
    merges = pdf[pdf.action == "merge"]
    # keeps are at-budget packs OR under-filled packs alone in their
    # merge group (nothing to coalesce); merges are under-filled and
    # every merge group has >= 2 packs
    assert (merges.pack_tokens < 200).all()
    assert (
        merges.groupby(["bucket", "merged_pack_ix"]).size() >= 2
    ).all()
    assert keeps.merged_pack_ix.isna().all()
    grp = merges.groupby(["bucket", "merged_pack_ix"]).pack_tokens.sum()
    for (b, g), tot in grp.items():
        sub = merges[(merges.bucket == b) & (merges.merged_pack_ix == g)]
        assert (sub.merged_tokens == tot).all()
    pdf2 = shard_merge_plan(shrunk, "n_tokens", budget=200).toPandas()
    key = ["bucket", "pack_ix"]
    assert pdf.sort_values(key).reset_index(drop=True).equals(
        pdf2.sort_values(key).reset_index(drop=True)
    )


@pytest.mark.parametrize("strategy", ["staging", "inplace"])
def test_merge_packed_shards_applier(spark, tmp_path, strategy):
    """Consolidation applier (both strategies): shards written at budget
    200 then merged at budget 400 — under-filled packs coalesce to fresh
    per-bucket ids, keeps stay byte-stable, untouched bucket dirs are
    not rewritten, and no document is lost."""
    import os as _os

    from streamlit_projet_spark_streaming_spark.sinks.writer import (
        merge_packed_shards,
        write_packed_shards,
    )

    docs = load_table(spark, "documents", SF).select(
        "doc_id", (F.length("text") / 4).cast("long").alias("n_tokens")
    )
    path = str(tmp_path / "shards")
    write_packed_shards(docs, path, "n_tokens", budget=200, n_buckets=4)
    before = spark.read.parquet(path).select("doc_id", "bucket", "pack_ix")
    before_rows = {r["doc_id"]: (r["bucket"], r["pack_ix"]) for r in before.collect()}
    mtime_before = {
        d: _os.path.getmtime(_os.path.join(path, d))
        for d in _os.listdir(path)
        if d.startswith("bucket=")
    }

    plan = merge_packed_shards(spark, path, "n_tokens", budget=400, strategy=strategy)
    plan_rows = plan.collect()
    after = spark.read.parquet(path).select("doc_id", "bucket", "pack_ix")
    after_rows = {r["doc_id"]: (r["bucket"], r["pack_ix"]) for r in after.collect()}

    # no document lost or duplicated
    assert set(after_rows) == set(before_rows)
    merges = [r for r in plan_rows if r["action"] == "merge"]
    assert merges, "budget doubling must under-fill some packs"
    offsets = {}
    for r in plan_rows:
        b = r["bucket"]
        offsets[b] = max(offsets.get(b, -1), r["pack_ix"])
    merge_map = {
        (r["bucket"], r["pack_ix"]): offsets[r["bucket"]] + 1 + r["merged_pack_ix"]
        for r in merges
    }
    affected_buckets = {b for b, _ in merge_map}
    for doc_id, (b, old_pack) in before_rows.items():
        nb, new_pack = after_rows[doc_id]
        assert nb == b  # bucket membership never changes
        if (b, old_pack) in merge_map:
            assert new_pack == merge_map[(b, old_pack)], (doc_id, b, old_pack)
        else:
            assert new_pack == old_pack, (doc_id, b, old_pack)
    # dynamic overwrite: bucket dirs with no merge rows were not touched
    for d, t in mtime_before.items():
        b = int(d.split("=")[1])
        if b not in affected_buckets:
            assert _os.path.getmtime(_os.path.join(path, d)) == t, d


def _pack_docs(spark):
    return load_table(spark, "documents", SF).select(
        "doc_id", (F.length("text") / 4).cast("long").alias("n_tokens")
    )


def test_merge_packed_shards_converges_then_noop(spark, tmp_path):
    """Repeated plan→apply passes strictly shrink each bucket's
    under-filled pack count (the two largest under-filled packs always
    share group 0) and reach a fixed point — ≤ 1 under-filled pack per
    bucket — in a few passes. At the fixed point the plan is all-keeps
    and the applier is a no-op: nothing rewritten (directory mtimes
    stable), layout identical — the ADVICE r9 churn fix."""
    import os as _os

    from streamlit_projet_spark_streaming_spark.sinks.writer import (
        merge_packed_shards,
        write_packed_shards,
    )

    path = str(tmp_path / "shards")
    write_packed_shards(_pack_docs(spark), path, "n_tokens", budget=200, n_buckets=4)
    budget = 400
    for _pass in range(8):  # O(log packs) bound; 8 ≫ log2(packs/bucket)
        plan = merge_packed_shards(spark, path, "n_tokens", budget=budget)
        if not [r for r in plan.collect() if r["action"] == "merge"]:
            break
    else:
        raise AssertionError("consolidation did not converge in 8 passes")
    # fixed point: <= 1 under-filled pack per bucket
    pdf = plan.toPandas()
    under = pdf[pdf.pack_tokens < budget]
    assert (under.groupby("bucket").size() <= 1).all()

    layout1 = {
        r["doc_id"]: (r["bucket"], r["pack_ix"])
        for r in spark.read.parquet(path).select("doc_id", "bucket", "pack_ix").collect()
    }
    mtimes = {
        d: _os.path.getmtime(_os.path.join(path, d))
        for d in _os.listdir(path)
        if d.startswith("bucket=")
    }
    plan2 = merge_packed_shards(spark, path, "n_tokens", budget=budget)
    assert [r for r in plan2.collect() if r["action"] == "merge"] == []
    layout2 = {
        r["doc_id"]: (r["bucket"], r["pack_ix"])
        for r in spark.read.parquet(path).select("doc_id", "bucket", "pack_ix").collect()
    }
    assert layout2 == layout1
    for d, t in mtimes.items():
        assert _os.path.getmtime(_os.path.join(path, d)) == t, d


def test_merge_packed_shards_crash_windows(spark, tmp_path, monkeypatch):
    """Staging durability: (a) a kill after some bucket swaps leaves
    every bucket either fully old or fully new — the corpus stays
    readable and complete; (b) a kill BETWEEN the two renames of one
    bucket is restored by _recover_backups on the next run; the rerun
    then converges with no document lost."""
    import os as _os

    from streamlit_projet_spark_streaming_spark.sinks import writer
    from streamlit_projet_spark_streaming_spark.sinks.writer import (
        merge_packed_shards,
        write_packed_shards,
    )

    path = str(tmp_path / "shards")
    write_packed_shards(_pack_docs(spark), path, "n_tokens", budget=200, n_buckets=4)
    before = {
        r["doc_id"]: (r["bucket"], r["pack_ix"])
        for r in spark.read.parquet(path).select("doc_id", "bucket", "pack_ix").collect()
    }

    # (a) crash after the first bucket swap
    real_swap = writer._swap_bucket_dir
    swapped = []

    def dying_swap(p, staging, bucket):
        if len(swapped) == 1:
            raise RuntimeError("injected crash between bucket swaps")
        real_swap(p, staging, bucket)
        swapped.append(bucket)

    monkeypatch.setattr(writer, "_swap_bucket_dir", dying_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_packed_shards(spark, path, "n_tokens", budget=400)
    monkeypatch.setattr(writer, "_swap_bucket_dir", real_swap)

    mid = {
        r["doc_id"]: (r["bucket"], r["pack_ix"])
        for r in spark.read.parquet(path).select("doc_id", "bucket", "pack_ix").collect()
    }
    # complete and consistent: every doc present exactly once; the
    # swapped bucket is fully new (ids above the old max), the others
    # fully old
    assert set(mid) == set(before)
    (new_b,) = swapped
    for doc_id, (b, p) in mid.items():
        if b != new_b:
            assert (b, p) == before[doc_id]

    # (b) simulate a kill between the two renames of one untouched
    # bucket: old dir moved to backup, staged rename never happened
    other = next(b for (_, (b, _p)) in mid.items() if b != new_b)
    final = _os.path.join(path, f"bucket={other}")
    backup = _os.path.join(path, f"{writer._BACKUP_PREFIX}{other}")
    _os.rename(final, backup)
    assert not _os.path.exists(final)

    # next run recovers the backup; iterate to the fixed point
    for _pass in range(8):
        plan = merge_packed_shards(spark, path, "n_tokens", budget=400)
        if not [r for r in plan.collect() if r["action"] == "merge"]:
            break
    else:
        raise AssertionError("post-recovery consolidation did not converge")
    after = {
        r["doc_id"]: (r["bucket"], r["pack_ix"])
        for r in spark.read.parquet(path).select("doc_id", "bucket", "pack_ix").collect()
    }
    assert set(after) == set(before)
    assert not any(
        d.startswith(writer._BACKUP_PREFIX) or d == writer._STAGING_DIR
        for d in _os.listdir(path)
    )


def _split_plan_inputs(spark):
    emb = load_table(spark, "embeddings", SF)
    _, centroid_rows = grid_kmeans(emb, n_clusters=8, n_iter=2)
    centroid_rows = centroid_rows.localCheckpoint(eager=False)
    cb_row = kmeans_codebook_row(centroid_rows).localCheckpoint(eager=False)
    return emb, centroid_rows, cb_row


def test_ivf_cell_split_plan_invariants(spark):
    """Python recompute of every plan decision from the stats report:
    action precedence, exact ceil for n_subcells, nearest non-cold
    merge target with smaller-id tie-break."""
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        ivf_cell_split_plan,
    )

    emb, centroid_rows, cb_row = _split_plan_inputs(spark)
    stats = ivf_cell_stats(emb, cb_row).localCheckpoint(eager=False)
    kw = dict(hot_num=17, hot_den=16, cold_num=15, cold_den=16,
              drift_threshold=1_500_000_000)
    plan = {r["centroid_id"]: r for r in
            ivf_cell_split_plan(stats, centroid_rows, **kw).collect()}
    srows = {r["centroid_id"]: r for r in stats.collect()}
    cents: dict[int, dict[int, int]] = {}
    for r in centroid_rows.collect():
        cents.setdefault(r["centroid_id"], {})[r["dim"]] = r["c"]
    total = sum(r["n_assigned"] for r in srows.values())
    k = len(srows)
    assert set(plan) == set(srows)

    def expected_action(r):
        if r["n_assigned"] * k * 16 > 17 * total:
            return "split"
        if r["n_assigned"] * k * 16 < 15 * total:
            return "merge"
        if r["drift_d2"] is not None and r["drift_d2"] > 1_500_000_000:
            return "retrain"
        return "keep"

    non_cold = {j for j, r in srows.items() if expected_action(r) != "merge"}
    for j, p in plan.items():
        r = srows[j]
        act = expected_action(r)
        assert p["action"] == act, (j, act)
        if act == "split":
            n = r["n_assigned"]
            assert p["n_subcells"] == -(-n * k // total)  # exact ceil
            assert p["merge_into"] is None
        elif act == "merge":
            assert p["n_subcells"] is None
            if non_cold:
                d2 = {
                    t: sum((cents[j][d] - cents[t][d]) ** 2 for d in cents[j])
                    for t in non_cold
                }
                best = min(d2, key=lambda t: (d2[t], t))
                assert p["merge_into"] == best, (j, best, d2)
            else:
                assert p["merge_into"] is None
        else:
            assert p["n_subcells"] is None and p["merge_into"] is None


def test_cell_plan_maintenance_stream_parity(spark, tmp_path):
    """After all micro-batches the maintained plan table is bit-identical
    to the batch planner over the union — composition parity on top of
    the already-proven stats-stream parity."""
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        ivf_cell_split_plan,
    )
    from streamlit_projet_spark_streaming_spark.streaming.stateful import (
        start_cell_plan_maintenance,
    )

    emb, centroid_rows, cb_row = _split_plan_inputs(spark)
    rows = emb.select("vec_id", "embedding").collect()
    input_dir = str(tmp_path / "emb_in")
    os.makedirs(input_dir)
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
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)  # force >1 micro-batch
        .json(input_dir)
    )
    plan_dir = str(tmp_path / "plan")
    q = start_cell_plan_maintenance(
        stream,
        cb_row,
        centroid_rows,
        plan_dir,
        str(tmp_path / "ckpt"),
        hot_num=17,
        hot_den=16,
        cold_num=15,
        cold_den=16,
        drift_threshold=1_500_000_000,
    )
    q.awaitTermination(180)
    got = {
        r["centroid_id"]: (
            r["n_assigned"], r["drift_d2"], r["action"],
            r["n_subcells"], r["merge_into"],
        )
        for r in spark.read.parquet(plan_dir).collect()
    }
    stats = ivf_cell_stats(emb, cb_row).localCheckpoint(eager=False)
    expect = {
        r["centroid_id"]: (
            r["n_assigned"], r["drift_d2"], r["action"],
            r["n_subcells"], r["merge_into"],
        )
        for r in ivf_cell_split_plan(
            stats, centroid_rows, hot_num=17, hot_den=16,
            cold_num=15, cold_den=16, drift_threshold=1_500_000_000,
        ).collect()
    }
    assert got == expect


def test_apply_cell_plan_invariants(spark):
    """Python recompute of the applier semantics: coverage (one row per
    vector), merge relabels to the plan target, keeps/retrains keep
    their label, split cells partition into n_subcells anchor-seeded
    subcells with exact nearest-anchor assignment and collision-free
    renumbering above k."""
    import hashlib
    import math

    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        GRID_KMEANS_UNIT,
        apply_cell_plan,
        ivf_cell_split_plan,
    )

    emb, centroid_rows, cb_row = _split_plan_inputs(spark)
    stats = ivf_cell_stats(emb, cb_row).localCheckpoint(eager=False)
    kw = dict(hot_num=17, hot_den=16, cold_num=15, cold_den=16,
              drift_threshold=1_500_000_000)
    plan_df = ivf_cell_split_plan(stats, centroid_rows, **kw).localCheckpoint(
        eager=False
    )
    plan = {r["centroid_id"]: r for r in plan_df.collect()}
    k = len(plan)
    out = {r["vec_id"]: r for r in apply_cell_plan(emb, cb_row, plan_df).collect()}

    # exact reference assignment + units in Python
    vecs = {
        r["vec_id"]: [
            math.floor(float(x) * GRID_KMEANS_UNIT) for x in r["embedding"]
        ]
        for r in emb.select("vec_id", "embedding").collect()
    }
    cents: dict[int, dict[int, int]] = {}
    for r in centroid_rows.collect():
        cents.setdefault(r["centroid_id"], {})[r["dim"]] = r["c"]

    def assign(u):
        best = min(
            cents,
            key=lambda j: (
                sum((u[d] - cents[j][d]) ** 2 for d in range(len(u))),
                j,
            ),
        )
        return best

    members: dict[int, list[int]] = {}
    for v, u in vecs.items():
        members.setdefault(assign(u), []).append(v)

    assert set(out) == set(vecs)  # one row per vector

    # new-id bases for split cells: exclusive running sum over id order
    split_cells = sorted(j for j, p in plan.items() if p["action"] == "split")
    base, prior = {}, 0
    for j in split_cells:
        base[j] = k + prior
        prior += plan[j]["n_subcells"]

    for j, vlist in members.items():
        p = plan[j]
        if p["action"] == "split":
            ranked = sorted(
                vlist,
                key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v),
            )
            anchors = ranked[: p["n_subcells"]]
            for v in vlist:
                u = vecs[v]
                d2 = [
                    sum((u[d] - vecs[a][d]) ** 2 for d in range(len(u)))
                    for a in anchors
                ]
                arank = min(range(len(anchors)), key=lambda i: (d2[i], i))
                r = out[v]
                assert r["action"] == "split"
                assert r["old_centroid_id"] == j
                assert r["new_centroid_id"] == base[j] + arank, (v, j)
        else:
            expect_new = (
                p["merge_into"]
                if p["action"] == "merge" and p["merge_into"] is not None
                else j
            )
            for v in vlist:
                r = out[v]
                assert r["action"] == p["action"]
                assert r["old_centroid_id"] == j
                assert r["new_centroid_id"] == expect_new, (v, j)


def test_post_apply_codebook_is_exact_member_mean(spark):
    """The post-apply codebook is the half-away integer unit mean of
    each new cell's members (recomputed in Python from the applier
    output), with dead cells absent and counts summing to the corpus."""
    import math

    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        GRID_KMEANS_UNIT,
        apply_cell_plan,
        ivf_cell_split_plan,
        post_apply_codebook,
    )
    from streamlit_projet_spark_streaming_spark.operators.numeric import ratio_round_int

    emb, centroid_rows, cb_row = _split_plan_inputs(spark)
    stats = ivf_cell_stats(emb, cb_row).localCheckpoint(eager=False)
    plan_df = ivf_cell_split_plan(
        stats, centroid_rows, hot_num=17, hot_den=16, cold_num=15,
        cold_den=16, drift_threshold=1_500_000_000,
    ).localCheckpoint(eager=False)
    labels = {
        r["vec_id"]: r["new_centroid_id"]
        for r in apply_cell_plan(emb, cb_row, plan_df).collect()
    }
    vecs = {
        r["vec_id"]: [
            math.floor(float(x) * GRID_KMEANS_UNIT) for x in r["embedding"]
        ]
        for r in emb.select("vec_id", "embedding").collect()
    }
    got = {
        (r["centroid_id"], r["dim"]): (r["c"], r["n_members"])
        for r in post_apply_codebook(emb, cb_row, plan_df).collect()
    }
    members: dict[int, list[int]] = {}
    for v, c in labels.items():
        members.setdefault(c, []).append(v)
    ndims = len(next(iter(vecs.values())))
    expect = {}
    for c, vlist in members.items():
        for d in range(ndims):
            s = sum(vecs[v][d] for v in vlist)
            expect[(c, d)] = (int(ratio_round_int(s, len(vlist), 0)), len(vlist))
    assert got == expect
    # counts cover the corpus exactly once per dim
    assert sum(n for (c, d), (_, n) in got.items() if d == 0) == len(vecs)


def test_maintenance_report_python_recompute(spark):
    """Full Python recompute of the before/after distortion report:
    per action class, the exact integer SSE of member vectors to their
    old centroid vs to the post-apply re-trained centroid of their new
    cell, counts, and the ratio_round quotient — plus the structural
    invariants (vectors partition across classes; split drops SSE)."""
    import math

    from streamlit_projet_spark_streaming_spark.operators.numeric import ratio_round_int
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        GRID_KMEANS_UNIT,
        apply_cell_plan,
        ivf_cell_split_plan,
        maintenance_report,
    )

    emb, centroid_rows, cb_row = _split_plan_inputs(spark)
    stats = ivf_cell_stats(emb, cb_row).localCheckpoint(eager=False)
    plan_df = ivf_cell_split_plan(
        stats, centroid_rows, hot_num=17, hot_den=16, cold_num=15,
        cold_den=16, drift_threshold=1_500_000_000,
    ).localCheckpoint(eager=False)
    got = {r["action"]: r for r in maintenance_report(emb, cb_row, plan_df).collect()}

    plan = {r["centroid_id"]: r for r in plan_df.collect()}
    vecs = {
        r["vec_id"]: [
            math.floor(float(x) * GRID_KMEANS_UNIT) for x in r["embedding"]
        ]
        for r in emb.select("vec_id", "embedding").collect()
    }
    cents: dict[int, dict[int, int]] = {}
    for r in centroid_rows.collect():
        cents.setdefault(r["centroid_id"], {})[r["dim"]] = r["c"]
    applied = {
        r["vec_id"]: r
        for r in apply_cell_plan(emb, cb_row, plan_df).collect()
    }

    def d2(u, c):
        return sum((u[d] - c[d]) ** 2 for d in range(len(u)))

    # post-apply re-trained codebook: half-away integer mean per new cell
    members: dict[int, list[int]] = {}
    for v, r in applied.items():
        members.setdefault(r["new_centroid_id"], []).append(v)
    ndims = len(next(iter(vecs.values())))
    cb1 = {
        c: {
            d: int(ratio_round_int(sum(vecs[v][d] for v in vlist), len(vlist), 0))
            for d in range(ndims)
        }
        for c, vlist in members.items()
    }

    expect: dict[str, dict] = {
        p["action"]: {"n_cells": 0, "n_vectors": 0, "sse_before": 0, "sse_after": 0}
        for p in plan.values()
    }
    for p in plan.values():
        expect[p["action"]]["n_cells"] += 1
    for v, r in applied.items():
        e = expect[r["action"]]
        e["n_vectors"] += 1
        e["sse_before"] += d2(vecs[v], cents[r["old_centroid_id"]])
        e["sse_after"] += d2(vecs[v], cb1[r["new_centroid_id"]])

    assert set(got) == set(expect)
    for action, e in expect.items():
        g = got[action]
        for k in ("n_cells", "n_vectors", "sse_before", "sse_after"):
            assert g[k] == e[k], (action, k)
        if e["sse_before"] > 0:
            assert g["sse_ratio"] == ratio_round_int(
                e["sse_after"], e["sse_before"], 4
            ), action
        else:
            assert g["sse_ratio"] is None, action
    # vectors partition exactly once across classes
    assert sum(e["n_vectors"] for e in expect.values()) == len(vecs)
    # split cells' anchor-seeded re-train must reduce their class SSE
    if "split" in expect and expect["split"]["sse_before"] > 0:
        assert expect["split"]["sse_after"] < expect["split"]["sse_before"]


def test_bitext_margin_python_recompute(spark):
    """Full Python recompute of the margin-mining surface at sf0.001:
    floored-unit cosines, order-free integer top-k normalizers, the
    exact ratio_round margin, forward/backward picks with id
    tie-breaks, and the mutual flag."""
    import math

    from streamlit_projet_spark_streaming_spark.operators.numeric import ratio_round_int
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        bitext_margin_pairs,
    )

    emb = load_table(spark, "embeddings", SF)
    k = 4
    got = {
        r["src_id"]: r
        for r in bitext_margin_pairs(emb, src_label=0, tgt_label=1, k=k).collect()
    }

    rows = emb.select("vec_id", "embedding", "label").collect()
    S = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows if r["label"] == 0}
    T = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows if r["label"] == 1}
    assert S and T

    def cos_e6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return math.floor(d / (na * nb) * 1000000.0)

    ce = {(x, y): cos_e6(S[x], T[y]) for x in S for y in T}
    axs = {
        x: sum(
            c
            for c, _ in sorted(
                ((ce[(x, y)], y) for y in T), key=lambda t: (-t[0], t[1])
            )[:k]
        )
        for x in S
    }
    ays = {
        y: sum(
            c
            for c, _ in sorted(
                ((ce[(x, y)], x) for x in S), key=lambda t: (-t[0], t[1])
            )[:k]
        )
        for y in T
    }
    margin = {
        (x, y): ratio_round_int(2 * k * ce[(x, y)], axs[x] + ays[y], 4)
        for x in S
        for y in T
        if axs[x] + ays[y] > 0
    }
    # deterministic pick: max margin, then smallest tgt id
    fwd = {
        x: min(
            ((y, m) for (xx, y), m in margin.items() if xx == x),
            key=lambda t: (-t[1], t[0]),
        )
        for x in S
        if any(xx == x for (xx, _) in margin)
    }
    bwd = {
        y: min(
            ((x, m) for (xx, yy), m in margin.items() if yy == y for x in [xx]),
            key=lambda t: (-t[1], t[0]),
        )[0]
        for y in T
        if any(yy == y for (_, yy) in margin)
    }

    assert set(got) == set(fwd)
    for x, (y, m) in fwd.items():
        g = got[x]
        assert g["tgt_id"] == y, x
        assert g["cos_e6"] == ce[(x, y)], x
        assert g["margin"] == m, x
        assert g["mutual"] == (1 if bwd.get(y) == x else 0), x


def test_ldiversity_python_recompute(spark):
    """Python recompute of the distinct l-diversity audit: group sizes,
    distinct-sensitive counts, below-l flags, and the modal share."""
    from collections import Counter

    from streamlit_projet_spark_streaming_spark.operators.numeric import ratio_round_int
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    got = {
        (r["c_nationkey"], r["bal_bucket"]): r
        for r in REGISTRY["customer_ldiversity_audit"].builder(spark, SF).collect()
    }
    rows = load_table(spark, "customer", SF).select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    groups: dict[tuple, Counter] = {}
    for r in rows:
        bucket = int(round(float(r["c_acctbal"]) * 100)) // 100000
        groups.setdefault((r["c_nationkey"], bucket), Counter())[
            r["c_mktsegment"]
        ] += 1
    assert set(got) == set(groups)
    for key, cnt in groups.items():
        g = got[key]
        size = sum(cnt.values())
        assert g["group_size"] == size, key
        assert g["l_distinct"] == len(cnt), key
        assert g["below_l"] == (len(cnt) < 3), key
        assert g["top_share_bps"] == ratio_round_int(
            max(cnt.values()) * 10000, size, 4
        ), key


def test_grid_kmeans_partials_rejects_ragged_batch():
    """Embeddings whose dimension differs from the codebook's raise
    ValueError, which survives ``python -O`` (a bare assert would not)."""
    import pandas as pd

    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        _gk_partials_mapper,
    )

    cb = [[0.0, 0.0], [1.0, 1.0]]
    pdf = pd.DataFrame({"cb": [cb, cb], "embedding": [[0.1, 0.2, 0.3], [0.4, 0.5, 0.6]]})
    with pytest.raises(ValueError, match="embedding dim 3 != codebook dim 2"):
        next(_gk_partials_mapper()(iter([pdf])))
