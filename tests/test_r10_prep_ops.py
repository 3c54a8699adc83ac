"""IVF index maintenance + packed-shard consolidation operators (built
as r9's r10-prep pair, registered with full DuckDB oracles in r10):
cell stats, the cell split/merge/re-train planner and the shard merge
planner."""

import pytest

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators.similarity import (
    grid_kmeans,
    ivf_cell_stats,
)
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _codebook(spark):
    emb = load_table(spark, "embeddings", SF)
    _, cb_row = grid_kmeans(emb)
    return emb, cb_row


def _centroids(cb_row) -> dict[int, dict[int, int]]:
    """The trained codebook as {centroid_id: {dim: grid units}}."""
    return {
        j: {d: int(c) for d, c in enumerate(v)}
        for j, v in enumerate(cb_row.first()["cb"])
    }


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
    assigned, _ = grid_kmeans(emb)
    expect = {
        r["centroid_id"]: r["n"]
        for r in assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for j, r in rows.items():
        assert r["n_assigned"] == expect.get(j, 0), j


def test_shard_merge_plan_exact_groups(spark, monkeypatch):
    """Hand-built pack table: bucket 0 has totals {60 (keep), 45, 30, 10}
    at budget 50 → biggest-first chunked fill puts 45+30 in merge group
    0 (prefix 0 and 45); 10 lands alone in group 1 (prefix 75), and a
    SINGLE-pack merge group coalesces nothing, so it plans as a keep
    (idempotency — ADVICE r9). Same for the lone under-filled pack in
    bucket 1."""
    from streamlit_projet_spark_streaming_spark.operators import sampling
    from streamlit_projet_spark_streaming_spark.operators.sampling import shard_merge_plan

    monkeypatch.setattr(sampling, "PACK_BUDGET", 50)
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
        for r in shard_merge_plan(df, "n_tokens").collect()
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
        PACK_BUDGET,
        greedy_pack,
        shard_merge_plan,
    )

    docs = load_table(spark, "documents", SF).select(
        "doc_id", (F.length("text") / 4).cast("long").alias("n_tokens")
    )
    packs = greedy_pack(docs, "doc_id", "n_tokens")
    shrunk = packs.filter(F.col("doc_id") % 3 != 0)
    plan = shard_merge_plan(shrunk, "n_tokens")
    pdf = plan.toPandas()
    n_packs = shrunk.select("bucket", "pack_ix").distinct().count()
    assert len(pdf) == n_packs
    keeps = pdf[pdf.action == "keep"]
    merges = pdf[pdf.action == "merge"]
    # keeps are at-budget packs OR under-filled packs alone in their
    # merge group (nothing to coalesce); merges are under-filled and
    # every merge group has >= 2 packs
    assert (merges.pack_tokens < PACK_BUDGET).all()
    assert (
        merges.groupby(["bucket", "merged_pack_ix"]).size() >= 2
    ).all()
    assert keeps.merged_pack_ix.isna().all()
    grp = merges.groupby(["bucket", "merged_pack_ix"]).pack_tokens.sum()
    for (b, g), tot in grp.items():
        sub = merges[(merges.bucket == b) & (merges.merged_pack_ix == g)]
        assert (sub.merged_tokens == tot).all()
    pdf2 = shard_merge_plan(shrunk, "n_tokens").toPandas()
    key = ["bucket", "pack_ix"]
    assert pdf.sort_values(key).reset_index(drop=True).equals(
        pdf2.sort_values(key).reset_index(drop=True)
    )


def test_ivf_cell_split_plan_invariants(spark):
    """Python recompute of every plan decision from the stats report:
    action precedence, exact ceil for n_subcells, nearest non-cold
    merge target with smaller-id tie-break."""
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        ivf_cell_split_plan,
    )

    emb, cb_row = _codebook(spark)
    stats = ivf_cell_stats(emb, cb_row)
    plan = {r["centroid_id"]: r for r in
            ivf_cell_split_plan(stats, cb_row).collect()}
    srows = {r["centroid_id"]: r for r in stats.collect()}
    cents = _centroids(cb_row)
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

    emb, cb_row = _codebook(spark)
    plan_df = ivf_cell_split_plan(ivf_cell_stats(emb, cb_row), cb_row)
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
    cents = _centroids(cb_row)

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

    emb, cb_row = _codebook(spark)
    plan_df = ivf_cell_split_plan(ivf_cell_stats(emb, cb_row), cb_row)
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

    emb, cb_row = _codebook(spark)
    plan_df = ivf_cell_split_plan(ivf_cell_stats(emb, cb_row), cb_row)
    got = {r["action"]: r for r in maintenance_report(emb, cb_row, plan_df).collect()}

    plan = {r["centroid_id"]: r for r in plan_df.collect()}
    vecs = {
        r["vec_id"]: [
            math.floor(float(x) * GRID_KMEANS_UNIT) for x in r["embedding"]
        ]
        for r in emb.select("vec_id", "embedding").collect()
    }
    cents = _centroids(cb_row)
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
        BITEXT_MARGIN_K,
        bitext_margin_pairs,
    )

    emb = load_table(spark, "embeddings", SF)
    k = BITEXT_MARGIN_K
    got = {r["src_id"]: r for r in bitext_margin_pairs(emb).collect()}

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


def test_grid_kmeans_assign_routes_zero_vector():
    """A raw zero vector (the catalog boundary filters these, a caller
    routing uncatalogued rows does not) is assigned like any other
    vector: exact integer squared distances, ties to the smaller
    centroid id, no NaN."""
    import pandas as pd

    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        _gk_assign_mapper,
    )

    cb = [[1e6, 0.0], [-1e6, 0.0], [0.0, 3e6]]
    pdf = pd.DataFrame(
        {
            "cb": [cb] * 3,
            "vec_id": [1, 2, 3],
            "embedding": [[0.0, 0.0], [-0.9, 0.0], [0.0, 2.0]],
        }
    )
    out = next(_gk_assign_mapper(with_d2=True)(iter([pdf])))
    assert out["centroid_id"].tolist() == [0, 1, 2]
    assert out["d2"].tolist() == [10**12, 10**10, 10**12]
