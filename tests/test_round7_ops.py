"""Round-7 operator invariants: longest-common-run substring dedup and
label-propagation communities (their value correctness is oracle-checked
in test_correctness; these pin the algorithmic guarantees)."""

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.registry import REGISTRY, _LCR_K
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_CORRECT


def _norm_tokens(text: str) -> list[str]:
    # EXACT mirror of dedup._norm (trim + lower + whitespace collapse —
    # punctuation is KEPT, review catch: an alnum-only "mirror" would
    # tokenize differently the day the fixture gains punctuation) then
    # the same single-space split the operators use.
    import re

    return [
        t
        for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        if t
    ]


def _longest_common_token_run(a: list[str], b: list[str]) -> int:
    """O(|a|·|b|) DP ground truth for the longest common contiguous
    token run."""
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


def test_lcr_matches_dp_ground_truth(spark):
    """Every reported run must be a REAL common run (reported <= DP
    truth), and — hot-gram cap aside, which can only split a run — the
    vast majority must be exact."""
    out = (
        REGISTRY["dedup_longest_common_run"].builder(spark, SF_CORRECT).collect()
    )
    assert out, "fixture should yield shared-run pairs"
    texts = {
        r["doc_id"]: _norm_tokens(r["text"] or "")
        for r in load_table(spark, "documents", SF_CORRECT)
        .select("doc_id", "text")
        .collect()
    }
    exact = 0
    for r in out:
        truth = _longest_common_token_run(texts[r["doc_a"]], texts[r["doc_b"]])
        assert r["longest_token_run"] <= truth, (tuple(r), truth)
        exact += r["longest_token_run"] == truth
    assert exact >= len(out) * 0.8, (exact, len(out))


def test_lcr_runs_never_exceed_doc_length(spark):
    docs = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, "documents", SF_CORRECT)
        .select(
            "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n")
        )
        .collect()
    }
    for r in (
        REGISTRY["dedup_longest_common_run"].builder(spark, SF_CORRECT).collect()
    ):
        cap = max(docs[r["doc_a"]], docs[r["doc_b"]]) + 2
        assert r["longest_token_run"] <= cap, tuple(r)
        assert r["longest_token_run"] >= 8


def test_lpa_partitions_the_node_set(spark):
    """Community sizes sum to |V|; community ids are node ids; the
    output is deterministic across two plan builds."""
    out = REGISTRY["graph_lpa_communities"].builder(spark, SF_CORRECT)
    rows = out.collect()
    again = REGISTRY["graph_lpa_communities"].builder(spark, SF_CORRECT).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]

    li = load_table(spark, "lineitem", SF_CORRECT).filter(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    nodes = {
        r["n"]
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("n"))
        .distinct()
        .collect()
    }
    assert sum(r["n_members"] for r in rows) == len(nodes)
    assert all(r["community"] in nodes for r in rows)
    assert all(r["min_node"] in nodes for r in rows)


def _python_bpe(spark, rounds=3):
    """From-scratch Python BPE on the normalized fixture vocabulary
    (greedy max-count, lexicographic tie-break, left-to-right
    non-overlapping rewrite). Returns (merges, final word→symbols map,
    word frequencies) — shared by the trainer and apply references."""
    from collections import Counter

    docs = load_table(spark, "documents", SF_CORRECT).select("text").collect()
    vocab = Counter()
    for r in docs:
        for w in _norm_tokens(r["text"] or ""):
            if len(w) >= 2:
                vocab[w] += 1
    seqs = {w: list(w) for w in vocab}
    expected = []
    for _ in range(rounds):
        counts = Counter()
        for w, syms in seqs.items():
            f = vocab[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((a, b, cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return expected, seqs, vocab


def test_bpe_trainer_matches_pure_python_reference(spark):
    expected, _, _ = _python_bpe(spark)
    got = [
        (r["a"], r["b"], r["pair_count"])
        for r in REGISTRY["text_bpe_trainer"].builder(spark, SF_CORRECT).collect()
    ]
    assert got == expected, (got, expected)


def test_bpe_apply_matches_pure_python_reference(spark):
    """Per-doc encode statistics must equal a Python re-encode of every
    document with the final merged vocabulary."""
    _, seqs, _ = _python_bpe(spark)
    docs = load_table(spark, "documents", SF_CORRECT).select(
        "doc_id", "text"
    ).collect()
    expected = {}
    for r in docs:
        words = [w for w in _norm_tokens(r["text"] or "") if len(w) >= 2]
        if not words:
            continue
        expected[r["doc_id"]] = (
            len(words),
            sum(len(w) for w in words),
            sum(len(seqs[w]) for w in words),
        )
    rows = REGISTRY["text_bpe_apply"].builder(spark, SF_CORRECT).collect()
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_tokens"]) for r in rows
    }
    assert got == expected
    for r in rows:
        assert 0.0 < r["tokens_per_char"] <= 1.0


def test_recall_sweep_is_monotone_in_nprobe(spark):
    rows = sorted(
        (
            (r["nprobe"], r["hits"], r["possible"], r["recall_at_5"])
            for r in REGISTRY["retrieval_recall_sweep"]
            .builder(spark, SF_CORRECT)
            .collect()
        )
    )
    assert [n for n, *_ in rows] == [1, 2, 4]
    hits = [h for _, h, _, _ in rows]
    assert hits == sorted(hits), "recall must be monotone in nprobe"
    assert all(p == rows[0][2] for _, _, p, _ in rows)
    assert all(0 <= rec <= 1 for *_, rec in rows)


def test_ivf_full_probe_is_exact(spark):
    """Probing every cell makes IVF score every corpus vector with the
    brute-force cosine and tie-break, so ``ivf_topk`` returns exactly
    ``brute_force_topk``'s rows: the probe -> cell scorer -> rank spine
    end to end."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF_CORRECT)
    pred = F.col("vec_id") < 10
    n_cells = sim._modulus_centroids(emb).count()
    ivf = set(map(tuple, sim.ivf_topk(emb, pred, nprobe=n_cells).collect()))
    exact = set(map(tuple, sim.brute_force_topk(emb, pred).collect()))
    assert len(exact) == 50
    assert ivf == exact
    one = set(map(tuple, sim.ivf_topk(emb, pred, nprobe=1).collect()))
    assert one != exact


def test_dp_noisy_counts_match_python_mechanism(spark):
    """The DP release must equal true count + (lz(x1) − lz(x2)) where
    x1/x2 are the two 28-bit md5 lanes of 'dp:<key>' — a from-scratch
    Python replay of the seeded two-sided-geometric mechanism."""
    import hashlib

    from pyspark.sql import functions as F

    true = {
        r["event_type"]: r["n"]
        for r in load_table(spark, "events", SF_CORRECT)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = REGISTRY["events_dp_noisy_counts"].builder(spark, SF_CORRECT).collect()
    assert {r["event_type"] for r in rows} == set(true)
    for r in rows:
        d = hashlib.md5(f"dp:{r['event_type']}".encode()).hexdigest()
        x1, x2 = int(d[0:7], 16), int(d[7:14], 16)

        def lz(w):
            return 28 if w == 0 else 28 - w.bit_length()

        assert r["noisy_count"] == true[r["event_type"]] + lz(x1) - lz(x2)
        assert abs(r["noisy_count"] - true[r["event_type"]]) <= 56
        assert r["epsilon"] == 0.693147


def test_rolling_value_quantiles_match_brute_force(spark):
    """Each day's p50/p95 must equal the ceil(p*n)-th order statistic of
    the raw cents values in its trailing 7-day window."""
    import math
    from collections import defaultdict

    ev = (
        load_table(spark, "events", SF_CORRECT)
        .select(
            F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000))
            .cast("long")
            .alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("u"),
        )
        .collect()
    )
    by_day = defaultdict(list)
    for r in ev:
        by_day[r["d"]].append(r["u"])
    rows = (
        REGISTRY["events_rolling_value_quantiles"]
        .builder(spark, SF_CORRECT)
        .collect()
    )
    assert {r["day_id"] for r in rows} == set(by_day)
    for r in rows:
        vals = sorted(
            u
            for d in range(r["day_id"] - 6, r["day_id"] + 1)
            for u in by_day.get(d, [])
        )
        n = len(vals)
        assert r["n_7d"] == n
        assert r["p50_cents"] == vals[math.ceil(0.5 * n) - 1]
        assert r["p95_cents"] == vals[math.ceil(0.95 * n) - 1]


def test_semantic_clusters_are_valid_components(spark):
    """Every cluster is labeled by its min member, members are disjoint
    across clusters, and each planted duplicate that semantic_dedup
    dropped appears in the same cluster as its dup_of partner."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY as R

    rows = R["embedding_semantic_clusters"].builder(spark, SF_CORRECT).collect()
    assert rows
    seen = set()
    by_member = {}
    for r in rows:
        members = [int(m) for m in r["members"].split(" ")]
        assert r["n_members"] == len(members) >= 2
        assert r["cluster_id"] == min(members)
        assert not (set(members) & seen), "clusters must be disjoint"
        seen |= set(members)
        for m in members:
            by_member[m] = r["cluster_id"]
    dedup_rows = (
        R["embedding_semantic_dedup"].builder(spark, SF_CORRECT).collect()
    )
    for r in dedup_rows:
        if r["dup_of"] is not None:
            assert by_member[r["vec_id"]] == by_member[r["dup_of"]]


def test_link_prediction_matches_brute_force(spark):
    """Top-20 predicted links must equal a Python brute-force common-
    neighbors ranking over the same co-purchase graph (non-edges only,
    (cn DESC, u, w) tie-break), with consistent degrees and Jaccard
    denominators."""
    from collections import defaultdict

    li = load_table(spark, "lineitem", SF_CORRECT).filter(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    lp = li.select("l_orderkey", "l_partkey").distinct().collect()
    by_order = defaultdict(set)
    for r in lp:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    cn = defaultdict(int)
    for m, ns in nbrs.items():
        ns = sorted(ns)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cn[(ns[i], ns[j])] += 1
    cand = [
        (c, u, w) for (u, w), c in cn.items() if (u, w) not in edges
    ]
    cand.sort(key=lambda t: (-t[0], t[1], t[2]))
    expected = [(u, w, c) for c, u, w in cand[:20]]
    rows = (
        REGISTRY["graph_link_prediction_cn"].builder(spark, SF_CORRECT).collect()
    )
    got = [(r["part_a"], r["part_b"], r["common_neighbors"]) for r in rows]
    assert got == expected
    for r in rows:
        assert r["d_a"] == len(nbrs[r["part_a"]])
        assert r["d_b"] == len(nbrs[r["part_b"]])
        assert r["common_neighbors"] <= min(r["d_a"], r["d_b"])


def test_hashed_features_match_python_replay(spark):
    """Feature vectors must equal a Python replay of the signed hashing
    trick (md5 bucket + sign lanes) over the normalized words."""
    import hashlib
    from collections import defaultdict

    docs = load_table(spark, "documents", SF_CORRECT).select(
        "doc_id", "text"
    ).collect()
    expected = {}
    for r in docs:
        vec = defaultdict(int)
        for w in _norm_tokens(r["text"] or ""):
            d = hashlib.md5(f"hf:{w}".encode()).hexdigest()
            b = int(d[0:7], 16) % 16
            s = 1 if int(d[7:14], 16) % 2 == 0 else -1
            vec[b] += s
        expected[r["doc_id"]] = " ".join(str(vec[b]) for b in range(16))
    rows = REGISTRY["text_hashed_features"].builder(spark, SF_CORRECT).collect()
    got = {r["doc_id"]: r["features"] for r in rows}
    assert got == expected


def test_simhash_clusters_cover_pairs(spark):
    """Every SimHash near-dup pair lands in one cluster; clusters are
    disjoint, min-labeled, and at least pair-sized."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY as R

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in R["dedup_simhash"].builder(spark, SF_CORRECT).collect()
    ]
    rows = R["dedup_simhash_clusters"].builder(spark, SF_CORRECT).collect()
    by_member = {}
    seen = set()
    for r in rows:
        members = [int(m) for m in r["docs"].split(" ")]
        assert r["n_docs"] == len(members) >= 2
        assert r["cluster_id"] == min(members)
        assert not (set(members) & seen)
        seen |= set(members)
        for m in members:
            by_member[m] = r["cluster_id"]
    assert pairs, "fixture should have simhash pairs"
    for a, b in pairs:
        assert by_member[a] == by_member[b]


def test_perceptron_trainer_matches_python_replay(spark):
    """The per-epoch weight trajectory must equal a from-scratch Python
    batch perceptron over the same hashed features and labels."""
    import hashlib
    from collections import defaultdict

    docs = load_table(spark, "documents", SF_CORRECT).select(
        "doc_id", "text", "lang"
    ).collect()
    feats, labels = {}, {}
    for r in docs:
        vec = defaultdict(int)
        for w in _norm_tokens(r["text"] or ""):
            d = hashlib.md5(f"hf:{w}".encode()).hexdigest()
            b = int(d[0:7], 16) % 16
            vec[b] += 1 if int(d[7:14], 16) % 2 == 0 else -1
        feats[r["doc_id"]] = {b: v for b, v in vec.items() if v != 0}
        labels[r["doc_id"]] = 1 if r["lang"] == "en" else -1
    w = [0] * 16
    traj = []
    for _ in range(3):
        delta = [0] * 16
        for did, x in feats.items():
            m = sum(w[b] * v for b, v in x.items())
            y = labels[did]
            if (y == 1 and m <= 0) or (y == -1 and m > 0):
                for b, v in x.items():
                    delta[b] += y * v
        w = [w[b] + delta[b] for b in range(16)]
        traj.append(list(w))
    rows = (
        REGISTRY["text_perceptron_trainer"].builder(spark, SF_CORRECT).collect()
    )
    got = {r["b"]: (r["w_epoch1"], r["w_epoch2"], r["w_epoch3"]) for r in rows}
    expected = {b: (traj[0][b], traj[1][b], traj[2][b]) for b in range(16)}
    assert got == expected


def test_perceptron_eval_consistent_with_trainer(spark):
    """Confusion cells must sum to the doc count, agree with a Python
    scoring pass using the trainer's final weights, and the accuracy
    ratio must match the cells."""
    rows = (
        REGISTRY["classifier_perceptron_eval"].builder(spark, SF_CORRECT).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == r["n_docs"]
    assert 0.0 <= r["accuracy"] <= 1.0
    w = {
        x["b"]: x["w_epoch3"]
        for x in REGISTRY["text_perceptron_trainer"]
        .builder(spark, SF_CORRECT)
        .collect()
    }
    import hashlib
    from collections import defaultdict

    docs = load_table(spark, "documents", SF_CORRECT).select(
        "doc_id", "text", "lang"
    ).collect()
    tp = fp = fn = tn = 0
    for d in docs:
        vec = defaultdict(int)
        for t in _norm_tokens(d["text"] or ""):
            h = hashlib.md5(f"hf:{t}".encode()).hexdigest()
            vec[int(h[0:7], 16) % 16] += 1 if int(h[7:14], 16) % 2 == 0 else -1
        m = sum(w[b] * v for b, v in vec.items())
        y = 1 if d["lang"] == "en" else -1
        if y == 1 and m > 0:
            tp += 1
        elif y == -1 and m > 0:
            fp += 1
        elif y == 1:
            fn += 1
        else:
            tn += 1
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn)


def test_dedup_safe_split_keeps_clusters_together(spark):
    """Near-duplicate pairs must land in the SAME split (the property
    the plain hashed-doc split lacks), every doc gets exactly one
    assignment, and fractions are near 90/5/5."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY as R

    rows = R["dataset_dedup_safe_split"].builder(spark, SF_CORRECT).collect()
    split_of = {r["doc_id"]: r["split"] for r in rows}
    n_docs = load_table(spark, "documents", SF_CORRECT).count()
    assert len(rows) == n_docs  # exactly one ROW per doc, not just one key
    assert len(split_of) == n_docs
    pairs = R["dedup_minhash_lsh"].builder(spark, SF_CORRECT).collect()
    assert pairs, "fixture should have near-dup pairs"
    for p in pairs:
        assert split_of[p["doc_a"]] == split_of[p["doc_b"]], (
            p["doc_a"],
            p["doc_b"],
        )
    frac_train = sum(1 for s in split_of.values() if s == "train") / n_docs
    assert 0.8 < frac_train < 0.97


def test_knn_graph_matches_brute_force_within_cells(spark):
    """Each vector's reported neighbor must be its true cosine argmax
    within its cluster (ties to smallest id), and every multi-member
    cell must contribute all its members."""
    import math
    from collections import defaultdict

    from streamlit_projet_spark_streaming_spark.operators import similarity as sim
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY as R

    emb = load_table(spark, "embeddings", SF_CORRECT)
    assigned, _ = sim.grid_kmeans(emb)
    rows = assigned.select("vec_id", "embedding", "centroid_id").collect()
    cells = defaultdict(list)
    for r in rows:
        cells[r["centroid_id"]].append(
            (r["vec_id"], [float(x) for x in r["embedding"]])
        )

    def _fold(vals):
        # EXPLICIT left-to-right accumulation: CPython 3.12+ sum() uses
        # Neumaier compensated summation, which can differ from Spark's
        # sequential IEEE fold by 1 ulp on non-tied values (review catch).
        acc = 0.0
        for v in vals:
            acc = acc + v
        return acc

    def cos(a, b):
        d = _fold([x * y for x, y in zip(a, b)])
        return d / (
            math.sqrt(_fold([x * x for x in a]))
            * math.sqrt(_fold([y * y for y in b]))
        )

    expected = {}
    for members in cells.values():
        for vid, v in members:
            best = None
            for nid, nv in members:
                if nid == vid:
                    continue
                c = cos(v, nv)
                key = (-c, nid)
                if best is None or key < best[0]:
                    best = (key, nid)
            if best is not None:
                expected[vid] = best[1]
    got = {
        r["vec_id"]: r["nn_id"]
        for r in R["embedding_knn_graph"].builder(spark, SF_CORRECT).collect()
    }
    assert set(got) == set(expected)
    diffs = [v for v in expected if got[v] != expected[v]]
    # float64-vs-python cosine summation order can flip exact ties only;
    # the fixture has no exact ties, so demand equality.
    assert not diffs, diffs[:5]


def test_fano_burstiness_matches_python(spark):
    """Fano = var/mean over observed hourly counts, replayed exactly in
    Fraction arithmetic (half-away rounding at 1e-4)."""
    from collections import Counter, defaultdict
    from fractions import Fraction

    ev = (
        load_table(spark, "events", SF_CORRECT)
        .select("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .collect()
    )
    counts = Counter((r["event_type"], r["h"]) for r in ev)
    by_type = defaultdict(list)
    for (et, _), c in counts.items():
        by_type[et].append(c)
    rows = (
        REGISTRY["events_fano_burstiness"].builder(spark, SF_CORRECT).collect()
    )
    assert {r["event_type"] for r in rows} == set(by_type)
    for r in rows:
        cs = by_type[r["event_type"]]
        n, s, q = len(cs), sum(cs), sum(c * c for c in cs)
        assert r["n_hours"] == n and r["n_events"] == s
        if n < 2:
            assert r["fano"] is None
            continue
        f = Fraction(n * q - s * s, (n - 1) * s)
        # half-away rounding at 1e-4, matching ratio_round
        units = (abs(f.numerator) * 20000 + f.denominator) // (
            2 * f.denominator
        )
        expected = (units if f >= 0 else -units) / 10000
        assert r["fano"] == expected, (r["event_type"], r["fano"], expected)


def test_source_lang_entropy_matches_python(spark):
    """Entropy must equal the unit-rounded-term construction replayed in
    Python, and sit in [0, ln(n_langs)]."""
    import math
    from collections import Counter

    docs = load_table(spark, "documents", SF_CORRECT).select(
        "source", "lang"
    ).collect()
    counts = Counter((r["source"], r["lang"]) for r in docs)
    by_src = Counter()
    for (src, _), c in counts.items():
        by_src[src] += c
    rows = REGISTRY["source_lang_entropy"].builder(spark, SF_CORRECT).collect()
    assert {r["source"] for r in rows} == set(by_src)
    for r in rows:
        n = by_src[r["source"]]
        cs = [c for (s2, _), c in counts.items() if s2 == r["source"]]
        assert r["n_docs"] == n and r["n_langs"] == len(cs)
        su = sum(c * round(math.log(n / c) * 1_000_000) for c in cs)
        units = (abs(su) * 20000 + n * 1_000_000) // (2 * n * 1_000_000)
        assert r["lang_entropy"] == units / 10000
        assert 0.0 <= r["lang_entropy"] <= math.log(len(cs)) + 1e-4
