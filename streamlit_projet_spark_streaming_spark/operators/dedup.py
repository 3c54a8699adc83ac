"""Deduplication operators for large-scale text corpora (extension layer).

No reference counterpart (SURVEY.md §7 Phase 4) — these are the operators a
100 TB training-data pipeline needs. All are pure DataFrame compositions;
the only shuffles are on content-derived keys (normalized text, shingles,
band hashes), which distribute uniformly by construction.

Scale ladder (each step is the scale path for the previous one):
  exact hash-groupBy  →  n-gram Jaccard (quadratic in bucket, exact)
  →  MinHash + LSH banding (near-linear candidate generation, then exact
     verification only on candidates)  →  SimHash (constant-size signature).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .numeric import ratio_round

#: ASCII-only case fold. Full Unicode ``lower()`` DIVERGES between the
#: engines (measured r8): Spark/JVM uses FULL case mapping (İ → i+U+0307,
#: context-sensitive final sigma, ß → SS on upper), DuckDB/utf8proc uses
#: SIMPLE mapping (İ → i, Σ → σ everywhere, length-preserving) — so any
#: hashed surface that lowercases text flips the moment a fixture regen
#: (or a real multilingual corpus) ships a divergent codepoint. A
#: ``translate`` over the 26 ASCII letters is a pure codepoint map,
#: bit-identical on both engines and locale-free; non-ASCII cased
#: letters pass through unfolded (the documented, portable semantics).
_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col: F.Column) -> F.Column:
    return F.translate(col, _ASCII_UP, _ASCII_LO)


#: SQL twin of ``ascii_lower`` for DuckDB oracles.
ASCII_LOWER_SQL = "translate({col}, '" + _ASCII_UP + "', '" + _ASCII_LO + "')"


#: Explicit ASCII-whitespace class — the exact set Java's ``\s`` matches.
#: ``\s`` itself DIVERGES between the engines (measured r8): Java includes
#: vertical tab U+000B, RE2/DuckDB does not — so a VT-bearing document
#: tokenizes differently under ``\s+`` on the two engines. Spelling the
#: class out keeps Spark behavior bit-identical to Java ``\s`` and makes
#: DuckDB match it. Both regex dialects accept the ``\xHH`` escapes.
WS_CLASS = r"[ \t\n\r\f\x0B]+"


#: Normalized text: ASCII-case-folded, whitespace collapsed, trimmed.
def _norm(col: F.Column) -> F.Column:
    return F.trim(ascii_lower(F.regexp_replace(col, WS_CLASS, " ")))


#: SQL twin of ``_norm`` for DuckDB oracles (needs the 'g' flag). The
#: explicit ``, ' '`` pins DuckDB's trim to ASCII space: one-arg DuckDB
#: trim strips UNICODE whitespace (NBSP, U+3000) while Spark's strips
#: space only — a leading NBSP would otherwise diverge (measured r8).
NORM_SQL = (
    "trim("
    + ASCII_LOWER_SQL.format(
        col="regexp_replace({col}, '" + WS_CLASS + "', ' ', 'g')"
    )
    + ", ' ')"
)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text.

    Returns one row per distinct normalized text: the representative
    (min doc_id) and the duplicate count. Single shuffle — on the 64-bit
    ``xxhash64`` of the normalized text, not the string itself, so the
    shuffle carries 8-byte keys instead of document-sized ones (the output
    never needs the text back). Same result as grouping by the string,
    collision odds ~2⁻⁶⁴ per pair; the DuckDB oracle groups by the string.
    """
    return (
        documents.select(
            F.col("doc_id"), F.xxhash64(_norm(F.col("text"))).alias("h")
        )
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def prefix_fingerprint_dups(documents: DataFrame) -> DataFrame:
    """Fingerprint-based duplicate groups: md5 of the normalized prefix.

    A cheap document-fingerprint dedup (same shape as URL/host dedup in web
    corpora): groups sharing a fingerprint with >1 member are duplicate
    clusters. md5 is engine-portable (DuckDB computes the identical digest).
    """
    prefix_len = 40
    fp = F.md5(F.substring(_norm(F.col("text")), 1, prefix_len))
    return (
        documents.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("fingerprint", "keep_doc_id", "n_copies")
    )


def _grams(documents: DataFrame, n: int, unit: str) -> DataFrame:
    """Raw (doc_id, sh) n-gram rows, WITH duplicates — explode(sequence)
    + builtin string expressions only.

    Deliberately NOT array-valued higher-order functions: ``transform`` /
    ``aggregate`` / array lambdas are CodegenFallback in Spark (evaluated
    interpreted, per row), which measured ~50× slower than this fully
    codegen'd Generate + concat_ws pipeline. Explode-then-aggregate beats
    build-arrays-in-place on this engine.
    """
    if unit not in ("char", "word"):
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    # Deliberately NO conditional spread here (r9 measured): at bench
    # scale the whole fused explode/concat chain costs ~0.5 s in ONE
    # task, and inserting a spread exchange DOUBLES it (0.47 → 1.10 s
    # warm) — the work is too small for the shuffle to pay. At 100 TB
    # the scan has thousands of splits and a spread would be a no-op
    # anyway; per-stage fusion is the right shape at both scales.
    norm = documents.filter(F.col("doc_id").isNotNull()).select(
        F.col("doc_id"), _norm(F.col("text")).alias("t")
    )
    if unit == "char":
        return (
            norm.filter(F.length("t") >= n)
            .select(
                "doc_id",
                F.explode(F.sequence(F.lit(1), F.length("t") - (n - 1))).alias("i"),
                "t",
            )
            .select("doc_id", F.expr(f"substring(t, i, {n})").alias("sh"))
        )
    gram = ", ".join(f"element_at(w, i + {j})" for j in range(n))
    return (
        norm.select("doc_id", F.split(F.col("t"), " ").alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i"),
            "w",
        )
        .select("doc_id", F.expr(f"concat_ws(' ', {gram})").alias("sh"))
    )


def shingles(
    documents: DataFrame,
    n: int = 3,
    unit: str = "word",
    grams: DataFrame | None = None,
) -> DataFrame:
    """Distinct n-gram shingle set per document. Output: (doc_id, sh).

    ``unit="word"`` (default): word n-grams — the standard dedup shingle.
    Discriminative even over small vocabularies (universe = vocab^n), which
    keeps the similarity-join pair graph sparse; char-grams over a small
    vocab make *every* shingle hot and the join quadratic.
    ``unit="char"``: character n-grams (substring windows).

    ``grams``: optional precomputed ``_grams(documents, n, unit)``
    output (typically lazily checkpointed by a caller running SEVERAL
    gram consumers over one corpus — the method-agreement audit); must
    match ``(documents, n, unit)`` or the result is silently wrong.
    """
    if unit not in ("char", "word"):
        # keep the _grams validation even on the precomputed path — a
        # typo'd unit must fail loudly, not silently return whatever
        # the caller's grams table contains (r9 review)
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    return (grams if grams is not None else _grams(documents, n, unit)).distinct()


def span_dup_profile(documents: DataFrame) -> DataFrame:
    """Per-document duplicated-span signal (the document-level summary of
    Lee et al.'s substring dedup, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): for each doc, how many of
    its distinct word ``n``-gram spans also occur in at least one OTHER
    document, and the shared fraction. High shared_span_frac = the doc is
    largely assembled from text that exists elsewhere in the corpus —
    remove or down-weight before training even when no whole-doc dedup
    fires.

    Scale shape: distinct (doc, span) pairs → span docfreq via a
    map-side-combined groupBy(span) joined back onto the pairs → one
    groupBy(doc_id). NOT a COUNT window over partitionBy(span): a window
    aggregate has no partial aggregation, so every row of a Zipf-hot
    boilerplate span (10^8 documents at 100 TB) would land in a single
    task; the groupBy collapses each span to one row before its shuffle
    and the join-back is an sh-keyed equi-join AQE can skew-split. Docs
    too short for any span (< n words) surface with 0 spans via the LEFT
    join from the id spine, not silently dropped.
    """
    n = 5
    pairs = shingles(documents, n, "word")
    span_df = pairs.groupBy("sh").agg(F.count(F.lit(1)).alias("span_df"))
    spans = pairs.join(span_df, "sh")
    prof = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("span_df") >= 2).cast("long")).alias("n_shared_spans"),
    )
    return (
        documents.select("doc_id")
        .join(prof, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_shared_spans", F.lit(0)).alias("n_shared_spans"),
            # exact-integer rounding of the shared fraction (grid
            # quotient); 0-span docs read 0.0 via a 0/1 ratio
            ratio_round(
                F.coalesce("n_shared_spans", F.lit(0)),
                F.greatest(F.coalesce("n_spans", F.lit(0)), F.lit(1)),
                4,
            ).alias("shared_span_frac"),
        )
    )


def shingle_arrays(documents: DataFrame) -> DataFrame:
    """Distinct character-3-gram set per doc as an ARRAY column:
    (doc_id, shs array<string>, n_sh). One shuffle: collect_set dedups
    inside the aggregation, so no separate distinct pass."""
    return (
        _grams(documents, 3, "char")
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("shs"))
        .withColumn("n_sh", F.size("shs"))
    )


#: Word n-gram size, benchmark share (buckets of ``sampling.N_BUCKETS``)
#: and flag threshold of :func:`benchmark_contamination`; its oracle
#: prints the same three.
CONTAM_NGRAM = 5
CONTAM_BENCH_BUCKETS = 500
CONTAM_THRESHOLD = 0.2


def benchmark_contamination(documents: DataFrame) -> DataFrame:
    """Train/eval decontamination: per corpus document, how much of its
    word n-gram shingle set also appears in a held-out benchmark set —
    the overlap check every serious pretraining pipeline runs so that
    evaluation data does not leak into training data.

    The benchmark membership is the deterministic hash split
    (``sampling.hash_bucket``, bucket < ``CONTAM_BENCH_BUCKETS`` of
    10,000 — 5%), standing in for a real eval suite; swap in any
    (doc_id-keyed) benchmark table without changing the plan shape.

    Scale shape (the part that matters at 100 TB): the benchmark side is
    TINY relative to the corpus — its distinct shingle set is built once
    and **broadcast**, so the corpus side is a single scan → explode →
    per-doc distinct (one shuffle on (doc_id, shingle), map-side-deduped,
    content-keyed and uniform) → broadcast LEFT join → one
    groupBy(doc_id). The JOIN itself never shuffles the corpus — no
    shingle-keyed corpus shuffle feeds a join, which is what kills naive
    overlap checks.

    Output: one row per corpus doc with ≥ ``CONTAM_NGRAM`` words — docs
    too short to shingle have nothing to leak. ``contamination_ratio``
    is an exact int/int division (both engines bit-identical),
    ``flagged`` compares the UNrounded ratio against
    ``CONTAM_THRESHOLD``.
    """
    from .sampling import hash_bucket

    salt = "bench"
    bucketed = documents.withColumn(
        "__bucket", hash_bucket(F.col("doc_id"), salt)
    )
    is_bench = F.col("__bucket") < CONTAM_BENCH_BUCKETS
    bench_sh = (
        shingles(bucketed.filter(is_bench), CONTAM_NGRAM)
        .select("sh")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus_sh = shingles(bucketed.filter(~is_bench), CONTAM_NGRAM)
    agg = (
        corpus_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            # count of non-null hits (the join is 1:≤1 after the two
            # distincts) — COUNT on both engines, so the oracle's type
            # matches (DuckDB SUM(int) would widen to HUGEINT)
            F.count("__hit").alias("n_contaminated"),
        )
    )
    ratio = F.col("n_contaminated") / F.col("n_shingles").cast("double")
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        # reported ratio rounds in exact integer space (grid quotient);
        # the flag compares the UNROUNDED ratio — identical-int division
        # is bit-identical on both engines, no rounding involved
        ratio_round(F.col("n_contaminated"), F.col("n_shingles"), 4).alias(
            "contamination_ratio"
        ),
        (ratio >= CONTAM_THRESHOLD).alias("flagged"),
    )


def _rarity_docsets(sh: DataFrame) -> DataFrame:
    """(doc_id, shs rarity-ordered array, n_sh) — the shared core of the
    prefix-filtered similarity joins (Jaccard and containment).

    Document frequency per shingle via a COUNT window over
    partitionBy(sh) — one shuffle on ``sh`` produces (doc_id, sh, df)
    directly, where a groupBy(sh)+equi-join formulation would pay that
    shuffle TWICE (aggregate + probe-side re-distribution); unlike a
    docfreq broadcast this stays scale-safe at any vocabulary size
    (measured: docsets subplan 5→3 exchanges). One aggregation folds
    each doc into a rarity-sorted array (sort_array of (df, sh) structs
    = df asc, sh asc — the prefix order); every downstream consumer
    (prefix explode, both verify-join sides) derives from THIS one
    grouped plan, deduplicated by ReuseExchange — data-sized, so the
    SMALL-result checkpoint rule deliberately does NOT apply. Field
    extraction is GetArrayStructFields (codegen), not a transform
    lambda (CodegenFallback, ~50× slower).
    """
    from pyspark.sql import Window as _W

    docfreq_w = _W.partitionBy("sh")
    return (
        sh.withColumn("df", F.count(F.lit(1)).over(docfreq_w))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "sh"))).alias("arr"))
        .select(
            "doc_id",
            F.col("arr").getField("sh").alias("shs"),
            F.size("arr").alias("n_sh"),
        )
    )


def _prefix_explode(docsets: DataFrame, prefix_len) -> DataFrame:
    """Explode each doc's first ``prefix_len`` rarity-ordered shingles
    with 1-based positions → (doc_id, n_sh, pos, sh). Pass
    ``F.col("n_sh")`` as the length to index the FULL shingle set."""
    return docsets.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.slice("shs", F.lit(1), prefix_len.cast("int"))).alias(
            "pos0", "sh"
        ),
    ).select("doc_id", "n_sh", (F.col("pos0") + 1).alias("pos"), "sh")


def _pair_overlap(pairs: DataFrame, docsets: DataFrame) -> DataFrame:
    """Join both docs' shingle arrays onto each candidate pair and size
    the overlap (``array_intersect``, JVM-side) → adds n_a, n_b,
    n_inter. No pair-expansion explode, no per-pair groupBy shuffle;
    cost is |pairs| × avg shingle count inside one codegen stage.

    The intersect stage is CPU-bound, not byte-bound: candidate rows
    are skinny, so AQE's byte-based coalescing would serialize the
    heavy per-pair set intersection into a handful of tasks — the
    explicit repartition pins parallelism AND doubles as the second
    join's required distribution (no extra shuffle).
    """
    a = docsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = docsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    par = pairs.sparkSession.sparkContext.defaultParallelism
    return (
        pairs.join(a, "doc_a")
        .repartition(par, "doc_b")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")))
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    grams: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs (doc_a < doc_b, J ≥ τ),
    via prefix filtering (AllPairs/PPJoin family) — same result set as the
    naive all-shingle self-join, radically cheaper.

    Filters (both are lossless for J ≥ τ):
    - **Prefix filter**: order each doc's shingles by global rarity
      (document frequency asc, shingle asc). If J(A,B) ≥ τ, then with the
      length filter below the overlap is ≥ ⌈τ·|A|⌉, so A and B must share
      at least one shingle among each one's first |X| − ⌈τ·|X|⌉ + 1
      shingles (pigeonhole). Candidates come from a prefix×prefix join —
      hot shingles (high df) land at the END of the order and mostly drop
      out of candidate generation, which is what kills the quadratic
      blowup of the naive join.
    - **Length filter**: τ·|A| ≤ |B| ≤ |A|/τ.

    Verification computes J only for candidates
    (``_jaccard_for_pairs_sets`` over the per-doc shingle arrays).

    Scale: candidate generation shuffles on prefix shingles (rare by
    construction → uniform buckets); verification is linear in candidate
    count. At 100 TB pair the corpus down first with ``minhash_lsh_pairs``
    or raise τ; the semantics stay identical.
    """
    unit = "word"
    sh = shingles(documents, n, unit, grams=grams)
    docsets = _rarity_docsets(sh)
    # floor (not ceil) keeps the prefix conservatively LONG under float
    # rounding of τ·n — never drops a true pair, only admits extras
    prefix_len = F.col("n_sh") - F.floor(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = _prefix_explode(docsets, prefix_len)
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (lossless): J ≥ τ requires overlap
    # α = ⌈τ/(1+τ)·(|A|+|B|)⌉; a shared token at prefix positions
    # (pa, pb) caps the achievable overlap at 1 + min(|A|−pa, |B|−pb).
    # A true pair always survives via its FIRST shared token in the
    # global order, so filtering rows (before distinct) drops no pair.
    # The 1e-9 slack keeps α conservative under double rounding: when
    # τ/(1+τ)·(n_a+n_b) is within a few ulps ABOVE an integer, a bare
    # ceil would overestimate the exact α by 1 and silently drop a true
    # pair with exactly that overlap (e.g. τ=0.57, |A|+|B|=157). Erring
    # low only admits extra candidates — same stance as the floor-based
    # prefix length above.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n_sh") + F.col("b.n_sh"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    candidates = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: τ|A| ≤ |B| ≤ |A|/τ — same 1e-9 slack as α:
            # for thresholds whose double rounds ABOVE the decimal value
            # (e.g. 0.1), a true pair sitting exactly on the τ|A| = |B|
            # boundary must not be dropped by float rounding; erring low
            # only admits extra candidates, which verification removes.
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh") - F.lit(1e-9))
            & (F.col("b.n_sh") * threshold <= F.col("a.n_sh") + F.lit(1e-9))
            & (ubound >= alpha),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verify against the rarity-sorted arrays (array_intersect is
    # order-agnostic) — same docsets plan as the prefix side, so the
    # whole shingle pipeline materializes once via ReuseExchange.
    return _jaccard_for_pairs_sets(candidates, docsets, threshold)


#: Modulus for the portable (engine-reproducible) MinHash family:
#: 2³¹ − 1, a Mersenne prime. With 28-bit md5 pieces and <p coefficients
#: every intermediate stays under 2⁶⁰ — BIGINT-safe in both Spark and
#: DuckDB, so the two engines compute bit-identical signatures.
MINHASH_P = 2_147_483_647

#: Default MinHash-LSH geometry. Single source of truth for BOTH the Spark
#: builders below AND the generated DuckDB oracle SQL in ``registry.py`` —
#: change one of these and the signature aggregates, the banding layout,
#: and the oracle's replay all move together (they used to be hardcoded
#: independently, which could silently desync the oracle).
MINHASH_NGRAM = 3
MINHASH_NUM_HASHES = 32
MINHASH_BANDS = 8
MINHASH_ROWS_PER_BAND = MINHASH_NUM_HASHES // MINHASH_BANDS


def minhash_constants(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic Carter–Wegman coefficients (Aᵢ, Bᵢ, Cᵢ) for the
    portable MinHash family hᵢ(x₁,x₂) = (Aᵢ·x₁ + Bᵢ·x₂ + Cᵢ) mod p.

    Generated from a FIXED seed so the Spark builders and the DuckDB
    oracle SQL (generated from this same list in ``registry.py``) always
    agree — the whole point of the portable family is that LSH candidate
    generation becomes SQL-reproducible instead of rows-only-checked.
    """
    rng = random.Random(0x5EED)
    return [
        (
            rng.randrange(1, MINHASH_P),
            rng.randrange(1, MINHASH_P),
            rng.randrange(MINHASH_P),
        )
        for _ in range(num_hashes)
    ]


#: Canonical NULL sentinel for checksum row serialization (the actual
#: U+2400 SYMBOL-FOR-NULL character). Shared by the checksum entries
#: and their DuckDB oracles — one constant, zero drift.
CHECKSUM_NULL = "\u2400"


def md5_hash_pieces(col: Column) -> tuple[Column, Column]:
    """Two 28-bit integers from one md5 digest — the portable per-shingle
    randomness source. md5 is the one hash both Spark and DuckDB compute
    identically (``dedup_prefix_fingerprint`` proves it in CI); hex→int is
    ``conv(hex,16,10)`` on Spark and ``('0x'||hex)::BIGINT`` on DuckDB.

    One md5 per shingle (NOT one per hash function): the ``num_hashes``
    signature lanes derive from these two pieces via cheap codegen'd
    integer arithmetic, so widening the signature does not multiply the
    cryptographic-hash cost.
    """
    d = F.md5(col)
    x1 = F.conv(F.substring(d, 1, 7), 16, 10).cast("long")
    x2 = F.conv(F.substring(d, 8, 7), 16, 10).cast("long")
    return x1, x2


def event_checksum_pieces(df: DataFrame, ts_ms: Column) -> DataFrame:
    """Canonical event serialization → ``(day_id, x1, x2)`` md5 pieces for
    the ``events_partition_checksums`` entry. The hash computes JVM-side
    from the canonical bytes (a Python re-implementation would see
    pandas' lossy float64 for nullable int64 columns and could silently
    diverge past 2^53). ``day_id`` is FLOOR division of epoch
    millis — pre-epoch timestamps bucket to the correct (negative) day,
    matching ``date_trunc('day')`` semantics on both engines."""
    nul = F.lit(CHECKSUM_NULL)
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col("event_id").cast("string"), nul),
        F.coalesce(ts_ms.cast("string"), nul),
        F.coalesce(F.col("user_id").cast("string"), nul),
        F.coalesce(F.col("event_type"), nul),
        F.coalesce(F.col("props"), nul),
    )
    x1, x2 = md5_hash_pieces(row_str)
    return df.select(
        F.floor(ts_ms / F.lit(86400000)).cast("long").alias("day_id"),
        x1.alias("x1"),
        x2.alias("x2"),
    )


def minhash_signatures(
    documents: DataFrame,
    grams: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    hᵢ(shingle).

    hᵢ = (Aᵢ·x₁ + Bᵢ·x₂ + Cᵢ) mod 2³¹−1 over
    two 28-bit md5 pieces of the shingle — a Carter–Wegman universal
    family whose values are bit-identical in DuckDB, so the driver oracle
    checks candidate generation itself (not just rows). The mod-p
    wraparound decorrelates the lanes (without it, every lane is a
    positive linear combination of (x₁,x₂) and tiny-x shingles win most
    lanes at once, which would inflate band collisions).

    One groupBy computes all ``num_hashes`` minima as parallel codegen'd
    aggregates — a single shuffle regardless of signature width. min() is
    duplicate-insensitive, so the raw gram rows feed it directly (no
    distinct pass). An array_min(transform(...)) formulation would be
    shuffle-free but runs interpreted (higher-order functions are
    CodegenFallback) — measured far slower than this one.
    """
    unit = "word"
    if grams is None:
        grams = _grams(documents, MINHASH_NGRAM, unit)
    x1, x2 = md5_hash_pieces(F.col("sh"))
    hashed = grams.select("doc_id", x1.alias("x1"), x2.alias("x2"))
    aggs = [
        F.min(
            (F.lit(a) * F.col("x1") + F.lit(b) * F.col("x2") + F.lit(c))
            % F.lit(MINHASH_P)
        ).alias(f"h{i}")
        for i, (a, b, c) in enumerate(minhash_constants(MINHASH_NUM_HASHES))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """LSH bucket rows (doc_id, band_id, band_hash) from a signature frame.

    Band digest = md5 of the comma-joined decimal lane minima — DuckDB:
    md5(h0::VARCHAR || ',' || h1::VARCHAR || ...). Long→string renders
    identically in both engines (no sign/zero-pad drift)."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, exact-verified.

    Pipeline: signatures → band hashes (bands × rows layout) → bucket join
    on (band_id, band_hash) → candidate pairs → exact Jaccard verification
    (join back to shingle sets) → pairs ≥ threshold.

    This is the 100 TB dedup path: candidate generation is near-linear
    (each doc emits ``bands`` bucket rows; only same-bucket docs pair), and
    the quadratic exact check runs only on candidates. With 32 hashes / 8
    bands / 4 rows the S-curve crosses ~0.5 Jaccard, so recall at the 0.6
    threshold is high but not guaranteed — the LSH step stays
    probabilistic. That is no longer an oracle obstacle: the whole pipeline — md5-seeded signatures
    (``minhash_signatures``), md5 band digests, bucket join, exact
    verification — is deterministic and engine-reproducible, so the DuckDB
    oracle replays candidate generation EXACTLY (the driver checks the
    approximation itself, like ``similarity_topk_ivf`` does for IVF). The
    test suite additionally asserts candidates ⊆ exact pairs + a recall
    bound vs ``ngram_jaccard_pairs``.
    """
    candidates = minhash_candidates(documents).localCheckpoint(eager=False)
    return _verify_candidate_pairs(documents, candidates, MINHASH_NGRAM, "word", 0.6)


def minhash_candidates(
    documents: DataFrame,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Raw LSH band-collision candidate pairs (doc_a < doc_b, distinct) —
    the pre-verification half of :func:`minhash_lsh_pairs`, exposed so
    the quality audit (`lsh_quality_report`) can count candidates without
    replaying the pipeline. Callers should lazily checkpoint the result
    if consuming it more than once."""
    sig = minhash_signatures(documents, grams=grams)
    buckets = _band_buckets(sig, MINHASH_NUM_HASHES, MINHASH_BANDS)

    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _verify_candidate_pairs(
    documents: DataFrame,
    candidates: DataFrame,
    n: int,
    unit: str,
    threshold: float,
    grams: DataFrame | None = None,
) -> DataFrame:
    # exact verification on CANDIDATES ONLY — this is the whole point of
    # LSH: the quadratic Jaccard join never runs on non-candidate pairs.
    # The shingle-set aggregation itself is also semi-join-pruned to docs
    # that appear in some candidate (typically a tiny fraction of the
    # corpus), so re-shingling for verification is proportional to the
    # near-dup population, not the corpus. Callers pass candidates
    # already lazily checkpointed: three consumers (verify pairs + two
    # id-union branches) would otherwise each recompute the full
    # corpus-sized LSH pipeline.
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docsets = (
        (grams if grams is not None else _grams(documents, n, unit))
        .join(cand_ids, "doc_id", "leftsemi")
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("shs"))
        .withColumn("n_sh", F.size("shs"))
    )
    return _jaccard_for_pairs_sets(candidates, docsets, threshold)


def _jaccard_for_pairs_sets(
    pairs: DataFrame, docsets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for the given pairs, given per-doc shingle ARRAYS
    (``docsets``: doc_id, shs array<string> of distinct shingles, n_sh).

    Overlap machinery shared with the containment join — see
    :func:`_pair_overlap`.
    """
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        _pair_overlap(pairs, docsets)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        # |∩|/|∪| is a grid quotient (union = 32 makes 1/32 = 0.03125 an
        # exact 4th-decimal tie): round in exact integer space. The
        # threshold filter above compares the UNROUNDED division of
        # identical ints — bit-identical cross-engine.
        .select("doc_a", "doc_b", ratio_round(F.col("n_inter"), union, 4).alias("jaccard"))
    )


def incremental_dedup(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the continual-
    pretraining update path (each crawl snapshot is screened against
    everything already ingested, not re-deduped monolithically).

    Per batch doc: ``is_exact_dup`` (normalized-text md5 matches some
    corpus doc), ``is_near_dup`` (MinHash-LSH candidate vs some corpus
    doc with exact Jaccard ≥ ``threshold``), ``keep`` (neither).
    Within-batch duplicates are NOT decided here (run the regular dedup
    ops over the batch for that) — the contract is batch-vs-corpus only,
    so verdicts don't depend on batch iteration order.

    Scale shape: the corpus side's signatures/band buckets are exactly
    the rows ``minhash_lsh_pairs`` computes — in production they are a
    PERSISTED index (bucketed by band_hash), appended to as batches are
    accepted; only the (small) batch side is hashed fresh, and the
    bucket join ships batch rows to the index partitioning. Direction is
    fixed corpus→batch, so no self-join and no ``doc_id <`` dance. The
    exact layer is a broadcast-able fingerprint anti-join. Verification
    re-shingles only candidate docs (leftsemi-pruned), proportional to
    the near-dup population.

    Corpus and batch doc_ids may OVERLAP (e.g. a snapshot re-ingesting an
    id): all near-dup plumbing runs on side-tagged keys (``c#id`` /
    ``b#id``), so a shared id can never merge two different documents'
    shingle sets in the union→groupBy below (ADVICE r5).
    """
    threshold = 0.6
    unit = "word"
    fp_of = lambda df: df.select(  # noqa: E731 — two-use local shorthand
        "doc_id", F.md5(_norm(F.col("text"))).alias("fp")
    )
    exact_ids = (
        fp_of(batch)
        .join(fp_of(corpus).select("fp").distinct(), "fp", "leftsemi")
        .select("doc_id")
    )

    id_type = batch.schema["doc_id"].dataType
    tag = lambda df, side: df.select(  # noqa: E731 — two-use local shorthand
        F.concat_ws("#", F.lit(side), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        "text",
    )
    c_tag, b_tag = tag(corpus, "c"), tag(batch, "b")
    sig_c = minhash_signatures(c_tag)
    sig_b = minhash_signatures(b_tag)
    bc = _band_buckets(sig_c, MINHASH_NUM_HASHES, MINHASH_BANDS).alias("a")
    bb = _band_buckets(sig_b, MINHASH_NUM_HASHES, MINHASH_BANDS).alias("b")
    candidates = (
        bc.join(
            bb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    both = c_tag.unionByName(b_tag)
    docsets = (
        _grams(both, MINHASH_NGRAM, unit)
        .join(cand_ids, "doc_id", "leftsemi")
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("shs"))
        .withColumn("n_sh", F.size("shs"))
    )
    near_ids = (
        _jaccard_for_pairs_sets(candidates, docsets, threshold)
        .select(F.expr("substring(doc_b, 3)").cast(id_type).alias("doc_id"))
        .distinct()
    )

    return (
        batch.select("doc_id")
        .join(exact_ids.withColumn("e", F.lit(True)), "doc_id", "left")
        .join(near_ids.withColumn("nd", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("e", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("nd", F.lit(False)).alias("is_near_dup"),
            (~(F.coalesce("e", F.lit(False)) | F.coalesce("nd", F.lit(False)))).alias(
                "keep"
            ),
        )
    )


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-dup pair graph: every document in
    ``pairs`` (doc_a, doc_b) gets the MIN doc_id of its component as
    ``cluster_id`` — the canonical "keep one per duplicate cluster" step
    that follows pair generation in a dedup pipeline (pairs alone
    over-delete: {A,B},{B,C} must collapse to ONE cluster {A,B,C}, not two
    independent pair decisions).

    Iterative min-label propagation (the standard Spark shape for
    components, cf. GraphX/GraphFrames): each round every node takes the
    min of its own label and its neighbors' labels; converged when NO
    label changed in the round (a changed-row count, so the probe is
    type-agnostic — doc_ids can be ints, strings, anything orderable).
    Rounds needed = graph diameter — near-dup clusters are shallow
    (duplicates of a common source), so this is a handful of small
    self-joins, each shuffling |edges| rows.

    Driver-side control flow is ONE scalar aggregate per round (the
    convergence probe) — no ``collect()`` of row data; per-round
    ``localCheckpoint`` truncates the lineage so round k does not replan
    rounds 1..k-1 (and bounds the plan for Catalyst). Raises
    ``RuntimeError`` if ``max_iter`` rounds pass without reaching the
    fixpoint (silently returning half-propagated labels would emit wrong
    clusters).
    """
    max_iter = 25
    # Checkpoint the PAIRS first: both direction branches of the
    # undirected adjacency derive from them, and their projections differ
    # (a,b vs b,a) so ReuseExchange cannot dedupe the subplans — without
    # this the (expensive) pair-generation pipeline runs twice (measured
    # ~2× on the PPJoin input at sf0.1).
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # PINNED repartition by the per-round join key before the
    # loop-invariant checkpoint (r10 opt — the LPA bi-adjacency idiom):
    # every round joins adj on "b", so partitioning it once lets each
    # round move only the node-sized label table instead of re-exchanging
    # the |2E| adjacency. Honest measurement: NEUTRAL at bench scale
    # (interleaved A/B ×5 on dedup_connected_components: 4.31 → 4.25 s,
    # 0.985 — per-stage overhead floors byte-small rounds); kept because
    # at 100 TB the per-round adjacency re-exchange is data-sized and
    # this removes it.
    par = pairs.sparkSession.sparkContext.defaultParallelism
    adj = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(par, "b")
        .localCheckpoint(eager=False)
    )
    labels = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_iter):
        neigh_min = adj.join(
            labels, adj["b"] == labels["node"]
        ).groupBy("a").agg(F.min("label").alias("nl"))
        labels = (
            labels.join(neigh_min, labels["node"] == neigh_min["a"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"),
                # label strictly improved this round? (min-labels are
                # monotone non-increasing, so "changed" ⇔ nl < label)
                F.coalesce(F.col("nl") < F.col("label"), F.lit(False)).alias(
                    "__changed"
                ),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = labels.agg(
            F.sum(F.col("__changed").cast("long"))
        ).first()[0]
        labels = labels.drop("__changed")
        if not n_changed:  # no label moved ⇒ fixpoint
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds; "
            "the pair graph has a longer path than max_iter — raise it"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def hamming_band_chunks(sig_col: str, nbits: int, max_hamming: int):
    """Disjoint chunk layout for lossless Hamming banding (pigeonhole):
    ``max_hamming + 1`` chunks covering all ``nbits`` bits — any pair
    within Hamming ≤ max_hamming agrees exactly on ≥ 1 chunk. Returns the
    list of (chunk_idx, chunk_value) struct columns to explode.

    Shared by ``simhash_pairs`` (text) and ``similarity.rh_near_dup_pairs``
    (embeddings); `test_simhash_banding_is_lossless` asserts the scheme.
    """
    n_chunks = max_hamming + 1
    base, extra = divmod(nbits, n_chunks)
    cols, offset = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        mask = (1 << width) - 1
        cols.append(
            F.struct(
                F.lit(c).alias("ci"),
                F.shiftright(F.col(sig_col), offset)
                .bitwiseAND(F.lit(mask))
                .alias("cv"),
            )
        )
        offset += width
    return cols


#: SimHash signature width: the word hash is the first 60 bits of
#: md5(word) (15 hex chars keep the value BIGINT-positive on both
#: engines), one signature bit per hash bit.
SIMHASH_BITS = 60

#: Hamming radius of :func:`simhash_pairs`.
SIMHASH_MAX_HAMMING = 6


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) signatures — the signature subplan of
    :func:`simhash_pairs`, factored out so per-micro-batch consumers
    (the streaming near-dup screen) and the pair join share ONE
    construction. See simhash_pairs for the portability contract."""
    word_hash = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    # NOTE (r9 perf audit): a (doc_id, w, cnt) pre-aggregation before
    # hashing — fewer md5s, weighted ±cnt bit sums — measured SLOWER
    # (2.1 vs 1.74 s interleaved A/B): the extra exchange outweighs the
    # saved string hashing. Per-occurrence hashing at scan speed is
    # also the right 100 TB shape (embarrassingly parallel, no added
    # shuffle), so this stays occurrence-wise on purpose.
    words = (
        documents.select(F.col("doc_id"), _norm(F.col("text")).alias("t"))
        .select("doc_id", F.explode(F.split(F.col("t"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .withColumn("h", word_hash)
    )
    # r10 opt: plain bit sums instead of 60 CASE-WHEN ±1 aggregates —
    # sum(±1) > 0 ⟺ 2·Σbit_i − n_words > 0, so the signature bits are
    # IDENTICAL (asserted row-for-row in the A/B) while the per-row
    # aggregate expression drops the 60 conditional branches. Warm
    # runtime is neutral (interleaved ×5: 1.01/0.94); the win is
    # codegen/JIT: fresh-session second runs 5.9–10.1 s → 4.0–4.8 s on
    # dedup_simhash (the 60-branch form was the slowest-warming operator
    # in the bench), and the smaller generated method is strictly less
    # driver codegen at any scale.
    bit_aggs = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_bit = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"), *bit_aggs)
    sig_expr = None
    for i in range(SIMHASH_BITS):
        bit = F.when(
            F.lit(2) * F.col(f"s{i}") > F.col("nw"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig_expr = term if sig_expr is None else sig_expr.bitwiseOR(term)
    return per_bit.select("doc_id", sig_expr.alias("simhash"))


def simhash_pairs(documents: DataFrame) -> DataFrame:
    """SimHash near-dup pairs: ``SIMHASH_BITS``-bit signature, Hamming ≤
    ``SIMHASH_MAX_HAMMING``.

    Signature: per word-hash, each bit contributes ±1; the sign of the
    per-bit sum is the signature bit. Computed as one bit-sum
    codegen'd aggregates in one groupBy (single shuffle; a per-row
    ``F.aggregate`` fold would avoid the shuffle, but higher-order
    functions are CodegenFallback — interpreted, far slower).

    The word hash is the first 60 bits of md5(word) (hex→int, same
    construction as ``md5_hash_pieces``), which DuckDB reproduces
    bit-for-bit — so signatures, banding, and the Hamming verification
    are all oracle-checkable.

    Pairing is the LOSSLESS banded chunk join (Manku et al.'s
    multi-index scheme): the signature splits into
    ``SIMHASH_MAX_HAMMING + 1`` disjoint chunks covering every bit, so any pair
    within Hamming ≤ k agrees exactly on ≥ 1 chunk (pigeonhole).
    Candidates come from equi-joins on (chunk_idx, chunk_value) — hash-
    partitionable, near-linear for signature-random corpora — and only
    candidates pay the ``bit_count(XOR)`` verification. Identical result
    set to the naive all-pairs crossJoin at any scale.
    """
    max_hamming = SIMHASH_MAX_HAMMING
    sigs = simhash_signatures(documents)

    chunk_cols = hamming_band_chunks("simhash", SIMHASH_BITS, max_hamming)
    chunks = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_cols)).alias("ch")
    ).select("doc_id", "simhash", "ch.ci", "ch.cv")

    a, b = chunks.alias("a"), chunks.alias("b")
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
        .distinct()
    )


def cross_source_dup_matrix(documents: DataFrame) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every source pair, how
    many distinct fingerprints (md5 of the normalized ``prefix``-char
    text prefix, the same key as :func:`prefix_fingerprint_dups`) appear
    in BOTH — the audit table that catches one crawl re-ingesting
    another (and train/eval source leakage) before mixing weights are
    assigned.

    Scale shape: fingerprint + source deduplicate with one map-side-
    combined distinct; the fingerprint self-join is bounded per
    fingerprint by the number of sources carrying it (≤ |sources|, a
    dimension — never corpus-squared), and both sides are the same
    subplan (ReuseExchange ships one shuffle); pair counts aggregate
    map-side. Output is at most |sources|² rows at any corpus scale.
    """
    prefix = 40
    fp = (
        documents.select(
            F.md5(F.substring(_norm(F.col("text")), 1, prefix)).alias("fp"),
            F.col("source"),
        )
        .distinct()
    )
    a = fp.select("fp", F.col("source").alias("source_a"))
    b = fp.select("fp", F.col("source").alias("source_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_texts"))
    )


def lsh_quality_report(documents: DataFrame) -> DataFrame:
    """One-row quality audit of the MinHash-LSH approximation against
    exact ground truth: raw band-collision candidates, verified pairs
    (candidates whose EXACT Jaccard ≥ threshold — by construction the
    true positives), the exact all-pairs count, and the derived candidate
    precision and recall. The table that justifies the sketch's band
    geometry before it gates a 100 TB dedup run.

    Both sides use the same word-3-gram shingles and threshold, so
    ``verified ⊆ exact`` and recall = verified/exact exactly. Exact
    pairs come from the PPJoin-filtered :func:`ngram_jaccard_pairs` —
    candidate-bounded, not all-pairs. Ratios round as exact integer
    quotients; zero denominators yield NULL on both engines.

    Scale note: this audit is the SMALL-sample validation step (run on a
    fixture-sized sample, not the corpus — the exact side is the cost);
    the LSH path itself never needs it in production.
    """
    threshold = 0.6
    # r10 opt: ONE lazily-checkpointed grams table threads all three
    # pipelines (LSH candidates, candidate verification, exact PPJoin) —
    # the r9 method-agreement fix applied to this audit too; without it
    # each pipeline re-ran the corpus tokenize+gram pass.
    grams = _grams(documents, MINHASH_NGRAM, "word").localCheckpoint(
        eager=False
    )
    cand = minhash_candidates(documents, grams=grams).localCheckpoint(
        eager=False
    )
    verified = _verify_candidate_pairs(
        documents, cand, MINHASH_NGRAM, "word", threshold, grams=grams
    )
    exact = ngram_jaccard_pairs(
        documents, n=MINHASH_NGRAM, threshold=threshold, grams=grams
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    n_true = exact.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    row = n_cand.crossJoin(n_ver).crossJoin(n_true)
    prec = F.when(
        F.col("n_candidates") > 0,
        ratio_round(F.col("n_verified"), F.col("n_candidates"), 4),
    )
    rec = F.when(
        F.col("n_true_pairs") > 0,
        ratio_round(F.col("n_verified"), F.col("n_true_pairs"), 4),
    )
    return row.select(
        "n_candidates",
        "n_verified",
        "n_true_pairs",
        prec.alias("candidate_precision"),
        rec.alias("recall"),
    )


#: Containment threshold τ of :func:`containment_pairs`.
CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(documents: DataFrame) -> DataFrame:
    """EXACT directed shingle-containment pairs: C(A→B) =
    |S_A ∩ S_B| / |S_A| ≥ τ = ``CONTAINMENT_THRESHOLD`` with A ≠ B — the
    ASYMMETRIC near-dup relation Jaccard misses (a quote, a subsumed chunk, a doc embedded
    in a larger one scores high containment but low Jaccard; Broder's
    original resemblance/containment pair, "On the resemblance and
    containment of documents", SEQUENCES 1997).

    Lossless candidate filters (same family as
    :func:`ngram_jaccard_pairs`, adapted to the one-sided bound):

    - **A-prefix filter**: C ≥ τ ⟹ overlap ≥ ⌈τ·|A|⌉, so A shares a
      shingle within its first |A| − ⌈τ·|A|⌉ + 1 rarity-ordered
      shingles (pigeonhole). The containee side explodes ONLY that
      prefix — rare shingles by construction.
    - **B side has no |B|-relative overlap bound** (that asymmetry IS
      containment), so it indexes all its shingles; the join fan stays
      bounded because the join KEYS are A's rare prefix shingles.
    - **Length filter**: |B| ≥ τ·|A| (overlap ≤ |B|).
    - **Positional filter**: a true pair survives via its FIRST shared
      shingle in the global rarity order, where overlap ≤ 1 +
      min(|A|−pa, |B|−pb) must reach ⌈τ·|A|⌉.

    Verification is exact (`array_intersect` over the per-doc arrays);
    the containment ratio rounds in exact integer space. Both
    directions of an asymmetric pair can appear — by design.
    """
    threshold = CONTAINMENT_THRESHOLD
    n = 3
    unit = "word"
    sh = shingles(documents, n, unit)
    # Shared machinery with ngram_jaccard_pairs; like there, docsets is
    # data-sized → ReuseExchange dedupes its consumers, NO checkpoint.
    docsets = _rarity_docsets(sh)
    # Conservative (floor) prefix — never drops a true pair.
    prefix_len = F.col("n_sh") - F.floor(F.lit(threshold) * F.col("n_sh")) + 1
    prefix_a = _prefix_explode(docsets, prefix_len)
    full_b = _prefix_explode(docsets, F.col("n_sh"))
    a, b = prefix_a.alias("a"), full_b.alias("b")
    alpha = F.ceil(
        F.lit(threshold) * F.col("a.n_sh") - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    candidates = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh") - F.lit(1e-9))
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return (
        _pair_overlap(candidates, docsets)
        # Unrounded division of identical ints — bit-identical filter.
        .filter(F.col("n_inter") / F.col("n_a") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            ratio_round(F.col("n_inter"), F.col("n_a"), 4).alias(
                "containment"
            ),
        )
    )
