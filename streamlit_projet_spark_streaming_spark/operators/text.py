"""Text-analysis operators (extension layer): language ID, quality scoring,
token counting, document fingerprinting.

All pure builtin expressions (no UDFs) so they pipeline into the document
scan — at 100 TB these run at parquet-scan speed with zero extra shuffles
(each is a per-row map followed by at most one small aggregate).

Every operator is deterministic and engine-portable: the DuckDB oracles
compute the same formulas, so even the *heuristics* are oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _norm
from .numeric import ratio_round, ratio_round_ge

#: Marker stopwords per language for the n-gram language-ID heuristic.
#: Counting is done with non-overlapping replace() arithmetic — identical
#: semantics in Spark and DuckDB (no regex dialect drift).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of "),
    "fr": (" le ", " la ", " et "),
    "de": (" der ", " und ", " die "),
    "es": (" el ", " los ", " y "),
}


def _occurrences(t: Column, needle: str) -> Column:
    """# of non-overlapping occurrences via length arithmetic."""
    return (
        (F.length(t) - F.length(F.replace(t, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def _lang_score(t: Column, lang: str) -> Column:
    total = None
    for m in LANG_MARKERS[lang]:
        occ = _occurrences(t, m)
        total = occ if total is None else total + occ
    return total


def _lang_pred(t: Column) -> Column:
    """Predicted-language CASE chain over a PADDED normalized text column
    — a pure per-row expression, so consumers (lang_id, lang_confusion)
    can project it straight off the scan with no join."""
    scores = {lang: _lang_score(t, lang) for lang in LANG_MARKERS}
    # chained CASE in priority order: each lang claims the row iff its score
    # is positive and >= every other score (earlier case wins ties)
    pred = None
    for lang in LANG_MARKERS:
        cond = scores[lang] > F.lit(0)
        for other in LANG_MARKERS:
            if other != lang:
                cond = cond & (scores[lang] >= scores[other])
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return pred.otherwise(F.lit("unknown"))


def lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of marker-stopword counts.

    Tie/zero policy (deterministic): highest score wins; ties resolve in
    the fixed order en > fr > de > es (via strictly-greater chain); all-zero
    → 'unknown'.
    """
    # pad so edge words match the ' word ' markers
    t = F.concat(F.lit(" "), _norm(F.col("text")), F.lit(" "))
    scores = {lang: _lang_score(t, lang) for lang in LANG_MARKERS}
    return documents.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        _lang_pred(t).alias("pred_lang"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count.

    BPE-ish: runs of letters, runs of digits, or single other non-space
    chars — the classic pre-tokenizer shape. ``regexp_extract_all`` is
    JVM-side; counts are exact and engine-portable for this ASCII-safe
    pattern.
    """
    t = _norm(F.col("text"))
    return documents.select(
        "doc_id",
        ws_token_count(t).alias("ws_tokens"),
        bpe_token_count(t).alias("bpe_tokens"),
        F.length(t).alias("n_chars_norm"),
    )


def ws_token_count(t: Column) -> Column:
    """Whitespace token count of a normalized text column."""
    return F.size(F.split(t, " "))


def bpe_token_count(t: Column) -> Column:
    """BPE-ish pre-tokenizer token count of a normalized text column."""
    return F.size(
        F.regexp_extract_all(t, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    )


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Fertility (BPE-ish tokens per whitespace word) per key group in
    ONE corpus scan: the token-count expressions evaluate inside the
    scan stage and partial-aggregate straight into the small key grid —
    no per-doc intermediate, no doc_id join-back. The ratio itself is
    exact-integer (``ratio_round``: integer-sum quotients can land on
    the half-grid)."""
    from .numeric import ratio_round

    keys = ("lang", "source")
    t = _norm(F.col("text"))
    per_doc = documents.select(
        *keys,
        ws_token_count(t).alias("ws"),
        bpe_token_count(t).alias("bpe"),
    )
    return per_doc.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("ws_total"),
        F.sum("bpe").alias("bpe_total"),
        ratio_round(F.sum("bpe"), F.sum("ws"), 4).alias("fertility"),
    )


def _quality_score_num(words: Column, letters: Column, stops: Column) -> Column:
    """The quality score's numerator over its common denominator
    1000·words (see :func:`quality_scores`): the letters-per-word
    bracket is the exact integer test letters ∈ [3w, 9w]."""
    ind = (letters >= 3 * words) & (letters <= 9 * words)
    return (
        5 * words * F.least(words, F.lit(100))
        + F.when(ind, F.lit(300)).otherwise(F.lit(0)) * words
        + 200 * F.least(10 * stops, words)
    )


def quality_scores(
    documents: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Document quality scoring: length, word stats, stopword ratio → score.

    Formula (deterministic, both-engine-exact):
      score = 0.5·min(words,100)/100 + 0.3·[3 ≤ avg_word_len ≤ 9]
              + 0.2·min(stopword_ratio·10, 1)

    ``extra_cols`` names passthrough columns (e.g. ``source``) carried
    alongside — lets group-keyed consumers stay one-scan instead of
    joining back to ``documents`` on doc_id.
    """
    t = _norm(F.col("text"))
    padded = F.concat(F.lit(" "), t, F.lit(" "))
    # Every output is a ratio of exact integers; round in exact integer
    # space (numeric.ratio_round — the grid-quotient rule), never via
    # ROUND(double). The score's common denominator is 1000·words:
    #   score = min(w,100)/200 + 0.3·[3 ≤ letters/w ≤ 9] + min(10s, w)/(5w)
    # and the bracket is the exact integer test letters ∈ [3w, 9w].
    #
    # TWO projections, deliberately: ratio_round expands its num/den
    # trees several times, and `stops` is the expensive marker-count
    # expression chain — materializing the integers first makes every
    # duplicate a cheap attribute ref. CollapseProject will NOT merge
    # the projections back (its non-cheap-multi-reference guard), which
    # a 3× bench regression on the quality pipelines confirmed the hard
    # way when this was one select.
    base = documents.select(
        "doc_id",
        *extra_cols,
        F.length(t).alias("n_chars_norm"),
        F.size(F.split(t, " ")).alias("n_words"),
        F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("long").alias("lets"),
        _lang_score(padded, "en").cast("long").alias("stops"),
    )
    words = F.col("n_words").cast("long")
    letters, stops = F.col("lets"), F.col("stops")
    score_num = _quality_score_num(words, letters, stops)
    return base.select(
        "doc_id",
        *extra_cols,
        "n_chars_norm",
        "n_words",
        ratio_round(letters, words, 4).alias("avg_word_len"),
        ratio_round(stops, words, 4).alias("stopword_ratio"),
        ratio_round(score_num, 1000 * words, 4).alias("quality_score"),
    )


def structure_signals(documents: DataFrame) -> DataFrame:
    """Structural/character-class quality signals over the RAW text — the
    Gopher/MassiveText symbol-rule family (docs dominated by symbols,
    digits, or SHOUTING case are low-quality training data; normalized
    text can't see any of this because ``_norm`` casefolds and strips).

    Per doc: raw char count, letter/upper/digit/symbol counts, and three
    exact integer ratios — symbol-to-word, digit-char fraction,
    upper-letter fraction. Character classes are explicit ASCII sets so
    Spark's java.util.regex and DuckDB's RE2 count identically (the
    ``PII_PATTERNS`` portability rule).

    Scale shape: one projection over the scan — zero shuffles, zero UDFs;
    at 100 TB this is scan-speed, the cheapest filter family in the
    pipeline.
    """
    raw = F.col("text")
    # Regex counts materialize in a first projection so ratio_round's
    # num/den duplication only copies attribute refs, never the regexes
    # (see the quality_scores comment on CollapseProject's guard).
    base = documents.select(
        "doc_id",
        F.length(raw).alias("n_chars_raw"),
        F.length(F.regexp_replace(raw, "[^A-Za-z]", "")).alias("n_letters"),
        F.length(F.regexp_replace(raw, "[^A-Z]", "")).alias("n_upper"),
        F.length(F.regexp_replace(raw, "[^0-9]", "")).alias("n_digits"),
        F.length(F.regexp_replace(raw, "[A-Za-z0-9 ]", "")).alias("n_symbols"),
        F.size(F.split(_norm(raw), " ")).cast("long").alias("w"),
    )
    return base.select(
        "doc_id",
        "n_chars_raw",
        "n_letters",
        "n_upper",
        "n_digits",
        "n_symbols",
        ratio_round(F.col("n_symbols"), F.col("w"), 4).alias("symbol_word_ratio"),
        ratio_round(
            F.col("n_digits"), F.greatest(F.col("n_chars_raw"), F.lit(1)), 4
        ).alias("digit_frac"),
        ratio_round(
            F.col("n_upper"), F.greatest(F.col("n_letters"), F.lit(1)), 4
        ).alias("upper_frac"),
    )


def source_quality_profile(documents: DataFrame) -> DataFrame:
    """Per-source (domain/host) corpus profile — the RefinedWeb/C4-style
    domain curation table: which sources are worth keeping, capping, or
    dropping. Per source: doc count, distinct-content count, exact-dup
    fraction, mean whitespace-token count, and mean quality score.

    Every reported ratio is exact-integer rounded: the per-doc quality
    score lies on the 1e-4 grid by construction (``quality_scores``), so
    its per-source mean is a grid-sum/count quotient — summed as exact
    1e-4 units, rounded via ``numeric.ratio_round``.

    Scale shape: fingerprint + token count + quality integers all ride
    ONE projection over the scan, then a single groupBy(source) (the
    distinct-fp count adds the standard two-level distinct aggregation —
    partial per (source, fp), final per source). Output is
    |sources|-sized: a dimension table at any corpus scale.
    """
    t = _norm(F.col("text"))
    padded = F.concat(F.lit(" "), t, F.lit(" "))
    # Heavy string expressions materialize first (see the quality_scores
    # comment on ratio_round duplication × CollapseProject's guard).
    base = documents.select(
        "source",
        F.md5(t).alias("fp"),
        F.size(F.split(t, " ")).cast("long").alias("w"),
        F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("long").alias("lets"),
        _lang_score(padded, "en").cast("long").alias("stops"),
    )
    words, letters, stops = F.col("w"), F.col("lets"), F.col("stops")
    score_num = _quality_score_num(words, letters, stops)
    # quality_score = score_num/(1000·w) rounded to 1e-4 — recover the
    # exact integer units so the per-source mean stays on the grid
    q_units = F.round(ratio_round(score_num, 1000 * words, 4) * 10_000).cast("long")
    per_doc = base.select(
        "source",
        "fp",
        "w",
        q_units.alias("qu"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fp").alias("n_unique"),
            F.sum("w").alias("total_tokens"),
            F.sum("qu").alias("q_units"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            ratio_round(
                F.col("n_docs") - F.col("n_unique"), F.col("n_docs"), 4
            ).alias("dup_frac"),
            ratio_round(F.col("total_tokens"), F.col("n_docs"), 4).alias(
                "avg_tokens"
            ),
            ratio_round(F.col("q_units"), F.col("n_docs") * 10_000, 4).alias(
                "avg_quality"
            ),
        )
    )


def quality_keep(documents: DataFrame, tau: float = 0.45) -> DataFrame:
    """doc_ids passing the quality filter — EXACTLY the set
    ``quality_scores(docs).filter(quality_score >= tau).select("doc_id")``
    (pytest-pinned identity), but filter-pushdown-safe.

    Filtering the rounded score column collapses the full (duplicated)
    ratio_round expression tree into the scan predicate — Catalyst
    inlines aliases through Filter pushdown with no cost guard, so the
    heavy marker-count chain runs 3-6× per row (measured 4× at sf0.1).
    Here the threshold moves into ONE exact integer comparison
    (``numeric.ratio_round_ge``): score_num·2·10⁴ ≥ (2T−1)·1000·w — the
    regex chain is referenced once and no DECIMAL appears in the
    predicate.
    """
    t = _norm(F.col("text"))
    padded = F.concat(F.lit(" "), t, F.lit(" "))
    words = F.size(F.split(t, " ")).cast("long")
    letters = F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("long")
    stops = _lang_score(padded, "en").cast("long")
    score_num = _quality_score_num(words, letters, stops)
    return documents.filter(ratio_round_ge(score_num, 1000 * words, tau, 4)).select(
        "doc_id"
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of the normalized text (portable digest)."""
    t = _norm(F.col("text"))
    return documents.select(
        "doc_id",
        F.md5(t).alias("fingerprint"),
        F.length(t).alias("n_chars_norm"),
    )


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText rule
    family: repetitious documents are low-quality training data): per
    document, the duplicate-word fraction, the most-frequent-word
    fraction, and duplicate 2-gram / 3-gram fractions.

    Three content-keyed aggregations (words, 2-grams, 3-grams), each one
    shuffle on (doc_id, token) then one on doc_id, LEFT-joined back —
    documents too short to have n-grams get fraction 0.0. All builtin
    expressions; fractions are exact integer ratios so both engines
    round identically.
    """
    from .dedup import _grams

    words = documents.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") > 0)
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    wstats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )

    def gram_stats(n: int, prefix: str) -> DataFrame:
        g = _grams(documents, n, "word").groupBy("doc_id", "sh").agg(
            F.count(F.lit(1)).alias("c")
        )
        return g.groupBy("doc_id").agg(
            F.sum("c").alias(f"{prefix}_total"),
            F.count(F.lit(1)).alias(f"{prefix}_distinct"),
        )

    # Every fraction is a ratio of exact integers; round in exact integer
    # space (numeric.ratio_round — the grid-quotient rule). Docs too short
    # for n-grams (NULL totals from the LEFT join) surface as 0.0 via a
    # 0/1 ratio.
    def dup_frac(prefix: str) -> Column:
        return ratio_round(
            F.coalesce(
                F.col(f"{prefix}_total") - F.col(f"{prefix}_distinct"), F.lit(0)
            ),
            F.coalesce(F.col(f"{prefix}_total"), F.lit(1)),
            4,
        )

    return (
        wstats.join(gram_stats(2, "g2"), "doc_id", "left")
        .join(gram_stats(3, "g3"), "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            ratio_round(
                F.col("n_words") - F.col("n_distinct"), F.col("n_words"), 4
            ).alias("dup_word_frac"),
            ratio_round(F.col("top_c"), F.col("n_words"), 4).alias("top_word_frac"),
            dup_frac("g2").alias("dup_2gram_frac"),
            dup_frac("g3").alias("dup_3gram_frac"),
        )
    )


#: PII detector patterns: name -> (regex, redaction token). Patterns are
#: deliberately restricted to the regex subset where java.util.regex
#: (Spark, backtracking leftmost-greedy) and RE2 (DuckDB,
#: leftmost-longest) find IDENTICAL match sets: no alternation whose
#: branches overlap, no lookaround, no backrefs — so even the redaction
#: output is oracle-checkable byte-for-byte. Applied to *normalized*
#: (lowercased) text; replacement order is dict order (email first, so
#: an address is gone before the looser numeric patterns run).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    "ipv4": (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    "phone": (r"\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
}


def pii_scan(documents: DataFrame) -> DataFrame:
    """PII detection + redaction over the document corpus: per-pattern
    match counts, an any-hit flag, and the fingerprint of the fully
    redacted text (so the scrub RESULT is verified, not just the counts).

    Pure builtin regexp expressions — pipelines into the scan like the
    rest of the text family; zero shuffles, zero UDFs. The redacted text
    itself crosses the comparison boundary as an md5 (document-sized
    strings add nothing to the check and bloat the hash input).
    """
    t = _norm(F.col("text"))
    counts = {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        for name, (pat, _) in PII_PATTERNS.items()
    }
    red = t
    for pat, token in PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, token)
    has = None
    for c in counts.values():
        has = (c > 0) if has is None else has | (c > 0)
    return documents.select(
        "doc_id",
        *[counts[name].alias(f"n_{name}") for name in PII_PATTERNS],
        has.alias("has_pii"),
        F.md5(red).alias("redacted_fp"),
    )


#: Phrases :func:`boilerplate_phrases` returns, and the fewest distinct
#: documents a phrase must appear in.
BOILERPLATE_K = 100
BOILERPLATE_MIN_DOCS = 5


def boilerplate_phrases(documents: DataFrame) -> DataFrame:
    """Corpus-level boilerplate phrase mining: the top-``BOILERPLATE_K``
    word ``n``-grams that appear in at least ``BOILERPLATE_MIN_DOCS``
    DISTINCT documents —
    the phrase table a web-corpus cleaner subtracts before training
    (header/footer/disclaimer boilerplate; the phrase-level form of C4's
    repeated-line removal, which needs line structure this corpus lacks).

    Scale shape: distinct (doc, shingle) pairs (one content-keyed
    shuffle, map-side-deduped) → one groupBy(shingle) count → global
    top-k via **orderBy + limit**, which Spark executes as
    TakeOrderedAndProject — each task keeps a k-row heap and the driver
    merges heaps, so there is NO global sort and no single-partition
    window regardless of corpus size. Deterministic: ties on doc-count
    break by phrase text.
    """
    from .dedup import shingles

    n = 3
    return (
        shingles(documents, n, "word")
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.asc("sh"))
        .limit(BOILERPLATE_K)
        .select(F.col("sh").alias("phrase"), "n_docs")
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Unigram language-model fit: per-document average negative log
    probability under the corpus's own unigram distribution — the
    cheap, trainable-nowhere proxy for the perplexity-based quality
    filters of the CCNet/KenLM lineage (docs whose words are globally
    rare score HIGH = out-of-distribution; boilerplate scores LOW).

    avg_nll(doc) = Σ_w tf(w,doc) · (−ln(count(w)/total_tokens)) / n_tokens(doc)

    Determinism across engines: each (doc, term) contribution is rounded
    to a 6-decimal grid and summed as DECIMAL — exact and
    order-independent, so Spark's partial-aggregate order and DuckDB's
    agree bit-for-bit (the ``stable_avg`` idiom from NOTES.md; ln itself
    is within 1 ulp on both engines, far inside the 6-decimal grid).

    Scale shape: explode words → per-(doc, term) counts (one
    content-keyed shuffle) → vocab counts (one shuffle over the MUCH
    smaller tf table) → equi-join tf⋈vocab on term (AQE broadcasts the
    vocab side when it fits — normalized-word vocabularies are ≪ corpus
    even at 100 TB) + a 1-row broadcast total → one groupBy(doc_id).
    No UDFs, no windows.
    """
    words = documents.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("term_count"))
    total = vocab.agg(F.sum("term_count").alias("total_tokens"))
    contrib = F.round(
        F.col("tf") * -F.log(F.col("term_count") / F.col("total_tokens")), 6
    ).cast("decimal(28, 6)")
    return (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum("contrib").alias("nll_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # grid-sum/count quotient → exact integer rounding (1e-6
            # units of the DECIMAL sum over tokens·1e6)
            ratio_round(
                (F.col("nll_sum") * 1_000_000).cast("decimal(38,0)"),
                F.col("n_tokens") * 1_000_000,
                4,
            ).alias("avg_nll"),
        )
    )


def tfidf_top_terms(documents: DataFrame) -> DataFrame:
    """Top-k terms per document by TF-IDF (tf × ln(N/df)), the classic
    keyword/feature extractor for corpus analysis.

    All-builtin pipeline: explode words → per-(doc, term) counts (tf) →
    per-term doc frequency (df, one count over the already-distinct tf
    pairs) → score + ROW_NUMBER top-k with a term tie-break. N (corpus
    size) joins in as a broadcast 1-row aggregate — no driver action, no
    collect. Shuffles: words by (doc, term), tf by term, rank by doc —
    all content-keyed and uniform.
    """
    from pyspark.sql import Window

    k = 3
    words = (
        documents.select(
            "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("term")
        )
        .filter(F.length("term") > 0)
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            "term",
            F.round("tfidf", 4).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-shape scoring plumbing)
# --------------------------------------------------------------------------

#: Hashed-feature dimensionality of the stub classifier. Real deployments
#: train ~1e6 buckets; 256 keeps the oracle SQL and fixtures readable while
#: exercising the identical plan shape.
CLF_BUCKETS = 256
#: Knuth multiplicative constant — derives a deterministic pseudo-weight
#: per bucket so both engines agree without shipping a weight table.
CLF_MULT = 2_654_435_761


def quality_classifier(documents: DataFrame) -> DataFrame:
    """Linear text classifier over hashed bag-of-words — the plan shape of
    a fastText-style quality filter (CCNet / LLaMA-lineage pipelines score
    every document with one; here the weights are a deterministic stub).

    score(doc) = softsign-prob( Σ_w weight[bucket(w)] / n_words ),
    softsign-prob(m) = (1 + m/(1+|m|)) / 2 — exact-rational squashing
    (see the inline comment for why not the logistic)

    - bucket(w) = first-28-bits-of-md5(w) mod ``CLF_BUCKETS`` (the
      portable digest idiom, see ``dedup.md5_hash_pieces``).
    - weight[b] = ((b·CLF_MULT) mod 2001 − 1000) / 1000 ∈ [−1, 1] — a
      pure expression, so scoring needs NO weight-table join; a trained
      model swaps this for a broadcast join against ≤1e6 (bucket, weight)
      rows, leaving the rest of the plan untouched.
    - The pre-squash margin is summed as INTEGER millis (exact,
      order-independent); the squash itself is an exact integer ratio
      (no float ever enters the hashed surface). ``keep``
      is decided on the integer margin sign — bit-exact on both engines.
    - The reported 6-decimal margin is a *grid quotient*
      (``margin_milli / (1000·n_terms)``), which lands exactly on the
      ``x.xxxxxx5`` half-grid whenever the denominator's 2s/5s cancel the
      grid (any ``n_terms`` = 16, 32, …) — and ``ROUND(double)``
      tie-breaks diverge between Spark and DuckDB (CORRECTNESS_r05 red
      row). So the rounding happens in exact integer space: ``margin6 =
      sign · ((|margin_milli|·2·10⁶ + 1000·n_terms) div (2000·n_terms))``
      half-away-from-zero on BIGINTs, identical on both engines; the
      double ``margin`` and the sigmoid input both derive from it.

    Scale shape: explode words → per-doc integer sum. ONE content-keyed
    shuffle, no UDFs, no windows; at 100 TB this runs at scan speed.
    """
    words = documents.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") > 0)
    bucket = F.conv(F.substring(F.md5("w"), 1, 7), 16, 10).cast("long") % CLF_BUCKETS
    w_milli = (bucket * F.lit(CLF_MULT)) % 2001 - 1000
    per_doc = words.select("doc_id", w_milli.alias("wm")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("wm").alias("margin_milli"),
    )
    # Half-away-from-zero rounding of margin_milli/(1000*n_terms) to the
    # 1e-6 grid, done entirely on BIGINTs (`div` is exact integral
    # division); both operands stay well under 2^53.
    sign = F.when(F.col("margin_milli") < 0, F.lit(-1)).otherwise(F.lit(1))
    margin6 = sign * F.expr(
        "(abs(margin_milli) * 2000000 + n_terms * 1000) div (n_terms * 2000)"
    )
    margin = margin6.cast("double") / F.lit(1_000_000.0)
    # Softsign squashing, NOT the logistic: p = (1 + m/(1+|m|)) / 2
    # (Glorot & Bengio 2010's softsign) is an EXACT INTEGER RATIO of
    # the exact margin6 — ratio_round makes it bit-identical
    # cross-host. The logistic is ulp-FRAGILE here by construction:
    # sigmoid is locally linear at 0 with slope 1/4, so the 1e-6
    # margin grid maps onto a 2.5e-7 value grid that CONTAINS the
    # 4-decimal half-grid points, displaced only by the cubic term
    # (m³/48 ≈ 1.7e-13 at m = 2e-4) — any doc with |margin| ≈ k·2e-4
    # puts ROUND(sigmoid, 4) within libm noise of flipping (caught by
    # tools/libm_audit.py at sf0.1, r8; the same mechanism class as
    # the r7 driver red). No ROUND precision escapes: the slope-1/4
    # map reaches every decimal half-grid from the margin grid.
    softsign_num = F.lit(1_000_000) + F.abs(margin6) + margin6
    softsign_den = F.lit(2) * (F.lit(1_000_000) + F.abs(margin6))
    return per_doc.select(
        "doc_id",
        "n_terms",
        margin.alias("margin"),
        ratio_round(softsign_num, softsign_den, 4).alias("clf_prob"),
        (F.col("margin_milli") >= 0).alias("keep"),
    )


# --------------------------------------------------------------------------
# BM25 keyword retrieval
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


#: Documents :func:`bm25_topk` returns.
BM25_K = 20


def bm25_topk(documents: DataFrame) -> DataFrame:
    """Top-``BM25_K`` documents by BM25 against a fixed query-term set — the
    classic sparse-retrieval scorer (used in pipelines both for corpus
    search and for benchmark-decontamination retrieval).

    score(d) = Σ_{q∈Q} ln(1 + (N−df+0.5)/(df+0.5))
               · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Determinism: per-(doc, term) contributions round to a 6-decimal grid
    and sum as DECIMAL (the ``stable_avg`` idiom); avgdl = Σdl/N is a
    single division of two exact integers, IEEE-identical on both
    engines. Final order is (score DESC, doc_id) — deterministic at the
    k boundary.

    Scale shape: tf is filtered to the query terms BEFORE any shuffle, so
    the scored relation is ~|Q|·|matching docs|, not the corpus; df
    (≤|Q| rows) and the N/Σdl totals broadcast. The top-k is
    orderBy+limit = TakeOrderedAndProject (per-task heaps, no global
    sort). dl (per-doc length) is the only corpus-wide aggregate and
    shuffles by doc_id once.
    """
    query_terms = ("spark", "join", "vector")
    words = documents.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") > 0)
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        words.filter(F.col("w").isin(*query_terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    contrib = F.round(idf * tf_part, 6).cast("decimal(18, 6)")
    scores = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("s"))
        # decimal-space round before the double cast: s is on the 1e-6
        # grid, so 4th-decimal ties are common and ROUND(double)
        # tie-breaking is engine-divergent (see dsir_importance_weights).
        .select("doc_id", F.round(F.col("s"), 4).cast("double").alias("bm25"))
    )
    return scores.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_K)


# --------------------------------------------------------------------------
# Quality-aware dedup representative selection
# --------------------------------------------------------------------------


def best_copy_per_group(documents: DataFrame) -> DataFrame:
    """Duplicate-group representative selection: among exact copies (same
    normalized-text fingerprint), keep the copy with the most intact
    casing instead of the arbitrary min-id one — dedup as curation.

    Copies in a group differ ONLY in case/whitespace (the group key is
    the casefolded, whitespace-collapsed fingerprint), so the score must
    come from the RAW text — any normalized-text formula is identical
    across the group and degenerates to min-id. The discriminator is the
    lowercase-letter ratio of the raw text: a properly-cased copy
    out-scores a SHOUTING or RaNsOm-cased one; 0.0 when the text has no
    letters.

    Plan: fingerprint + score computed in ONE projection over the scan,
    then a single groupBy(fingerprint) with an argmax-of-struct
    (max(score, −doc_id)) — the agg-only top-1 idiom
    (``v_status_preferences_aggonly``), no window, no join, one shuffle.
    Tie policy: equal score → smallest doc_id (via the negated id in
    the struct max).
    """
    t = _norm(F.col("text"))
    lower = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    letters = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    score = F.when(
        letters > 0, lower.cast("double") / letters
    ).otherwise(F.lit(0.0))
    # The struct carries the raw integer counts (lo, le) past the argmax
    # so the reported ratio can round in exact integer space — lower/
    # letters is a grid quotient and ROUND(double) tie-breaks are
    # engine-divergent. Comparison is still decided by (q, neg_id): neg_id
    # is unique, so lo/le never participate in the ordering.
    return (
        documents.select(
            F.md5(t).alias("fingerprint"),
            F.struct(
                score.alias("q"),
                (-F.col("doc_id")).alias("neg_id"),
                # NULL text counts as letterless (lo = le = 0 -> ratio
                # 0.0), matching the score's otherwise(0.0) branch and
                # the oracle's CASE ELSE - unguarded, the NULL counts
                # made lc_ratio NULL on Spark only (r8 NULL-injection
                # audit).
                F.coalesce(lower, F.lit(0)).alias("lo"),
                F.coalesce(letters, F.lit(0)).alias("le"),
            ).alias("cand"),
        )
        .groupBy("fingerprint")
        .agg(
            F.max("cand").alias("best"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "fingerprint",
            (-F.col("best.neg_id")).alias("keep_doc_id"),
            "n_copies",
            ratio_round(
                F.col("best.lo"), F.greatest(F.col("best.le"), F.lit(1)), 4
            ).alias("lc_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Duplicated-span removal (the transform twin of dedup.span_dup_profile)
# --------------------------------------------------------------------------


def remove_dup_spans(documents: DataFrame) -> DataFrame:
    """Cut globally-duplicated spans OUT of the text — the removal twin of
    ``dedup.span_dup_profile`` (Lee et al. 2107.06499 deduplicate the
    repeated substrings themselves, not whole documents). A word is
    removed iff it is covered by some word ``n``-gram appearing in ≥ 2
    documents; the cleaned text is the remaining words in order.
    (Simplification vs the paper: ALL copies of a duplicated span are
    removed, not all-but-one — acceptable for boilerplate, where every
    copy is noise.)

    Plan: positions ride the explode (no second scan); span doc-frequency
    is a map-side-combined groupBy(span) joined back onto the distinct
    (doc, span) pairs — NOT a COUNT window, which would funnel every row
    of a Zipf-hot span into one task (see the inline comment); covered
    word positions
    explode only from DUPLICATED span starts (blowup ∝ dup mass, not
    corpus); assembly is a doc-keyed anti-join + ordered concat, with the
    order restored INSIDE the aggregate (position-prefixed sort_array —
    see the inline comment on why sortWithinPartitions→collect_list is
    not sound).
    """
    n = 5
    norm = documents.select(
        "doc_id", F.split(_norm(F.col("text")), " ").alias("w")
    )
    words = norm.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("w"))).alias("j"),
        "w",
    ).select("doc_id", "j", F.expr("element_at(w, j)").alias("word"))
    gram = ", ".join(f"element_at(w, i + {d})" for d in range(n))
    spans = (
        norm.filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i"),
            "w",
        )
        .select("doc_id", "i", F.expr(f"concat_ws(' ', {gram})").alias("sh"))
    )
    dd = spans.select("doc_id", "sh").distinct()
    # Span doc-frequency via groupBy + join-back, NOT a COUNT window over
    # partitionBy(sh): a window aggregate does no partial aggregation, so
    # every row of a hot key lands in ONE task — and duplicated spans in a
    # web corpus are Zipf-distributed (a boilerplate span in 10^8 docs
    # would put 10^8 rows in a single partition at 100 TB). The groupBy
    # map-side-combines to one row per span before the shuffle, and the
    # join-back is an sh-keyed equi-join AQE can skew-split.
    dup_spans = (
        dd.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 1)
        .select("sh")
    )
    dup_doc_spans = dd.join(dup_spans, "sh").select("doc_id", "sh")
    covered = (
        spans.join(dup_doc_spans, ["doc_id", "sh"])
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("j"),
        )
        .distinct()
    )
    kept = words.join(covered, ["doc_id", "j"], "left_anti")
    # Order-pinned assembly WITHOUT relying on aggregation input order:
    # Catalyst's EliminateSorts legally drops a local sort under an
    # aggregate (collect_list's order-sensitivity is not modeled), so a
    # sortWithinPartitions→collect_list pipeline is plan-dependent.
    # Instead each word carries a FIXED-WIDTH zero-padded position prefix,
    # sort_array restores document order INSIDE the aggregate, and one
    # regexp strips the prefixes. The strip is ANCHORED to element starts
    # (string start or the joining space) and consumes exactly 10 digits,
    # so it can never eat into word content — words containing or starting
    # with digit runs survive intact (spaces only occur as element
    # boundaries, and every element starts with exactly the 10-digit
    # prefix).
    tagged = F.format_string("%010d%s", F.col("j"), F.col("word"))
    assembled = (
        kept.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(tagged)).alias("arr"))
        .select(
            "doc_id",
            F.size("arr").alias("n_kept"),
            F.regexp_replace(
                F.array_join(F.col("arr"), " "), "(^| )\\d{10}", "$1"
            ).alias("cleaned_text"),
        )
    )
    spine = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    return (
        spine.join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def vocab_stats(documents: DataFrame) -> DataFrame:
    """Per-stratum vocabulary statistics: total tokens, vocabulary size,
    hapax count (words occurring once), type-token ratio, hapax fraction —
    the lexical-diversity block of a dataset card (low TTR flags
    boilerplate/templated sources; high hapax flags OCR noise).

    Scale shape: explode → groupBy(stratum, word) with map-side combine
    (the shuffle carries vocabulary-bounded partial counts, not tokens),
    then a second dimension-sized aggregation per stratum. Ratios round
    as exact integer quotients (grid rule).
    """
    stratum_col = "source"
    w = F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    wc = (
        documents.select(F.col(stratum_col), w)
        .groupBy(stratum_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        wc.groupBy(stratum_col)
        .agg(
            F.sum("cnt").alias("total_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("hapax"),
        )
        .select(
            stratum_col,
            "total_tokens",
            "vocab",
            "hapax",
            ratio_round(F.col("vocab"), F.col("total_tokens"), 4).alias("ttr"),
            ratio_round(F.col("hapax"), F.col("vocab"), 4).alias("hapax_frac"),
        )
    )


def chunk_documents(documents: DataFrame) -> DataFrame:
    """Split each document into fixed-size token chunks with overlap —
    the context-window reshape every pretraining/RAG pipeline runs
    before packing: chunk ``i`` covers words ``[i·stride, i·stride +
    chunk_tokens)``; the last chunk may be short; chunks exist while
    ``i·stride < n_words`` (so every word lands in ≥1 chunk and overlap
    = ``chunk_tokens - stride``).

    All builtin array expressions (split → sequence → posexplode →
    slice → concat_ws), fully codegen'd: the explode is proportional to
    the OUTPUT (n/stride chunks per doc), attributes-only (no
    recomputed array per output row — the words array materializes in
    the projection below the Generate), and there is no shuffle at all:
    chunking is a per-row map, embarrassingly parallel at any corpus
    size.
    """
    chunk_tokens = 16
    stride = 12
    words = F.split(_norm(F.col("text")), " ")
    n_chunks = F.ceil(F.size(F.col("words")) / F.lit(stride)).cast("int")
    # A NULL-text document has no chunks (filtered on BOTH engines):
    # unfiltered, Spark's concat_ws coerced the NULL slice to '' while
    # DuckDB's array_to_string kept NULL (r8 NULL-injection audit).
    base = documents.filter(F.col("text").isNotNull()).select(
        "doc_id", words.alias("words")
    ).select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1)
        ).alias("chunk_idx"),
    )
    piece = F.slice(F.col("words"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return base.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Confusion matrix of declared ``lang`` vs the heuristic's predicted
    language — the audit that tells you WHERE the language filter is
    unreliable before it gates a corpus (e.g. the marker heuristic only
    knows 4 languages, so zh rows concentrate in 'unknown').

    One per-row prediction projected straight off the scan (NO doc_id
    self-join — the prediction is a pure expression, so attaching it via
    a join would shuffle the corpus to deliver a per-row value; caught
    by review) + one map-side-combined two-key count; row shares are
    exact integer ratios over the checkpointed |langs|² table. Output
    ≤ |langs|·(|langs|+1) rows.
    """
    t = F.concat(F.lit(" "), _norm(F.col("text")), F.lit(" "))
    joined = documents.select("lang", _lang_pred(t).alias("pred_lang"))
    counts = (
        joined.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    return counts.join(F.broadcast(totals), "lang").select(
        "lang",
        "pred_lang",
        "n",
        "n_lang",
        ratio_round(F.col("n"), F.col("n_lang"), 4).alias("share"),
    )


def bpe_merge_stats(documents: DataFrame) -> DataFrame:
    """First-round BPE merge statistics: the corpus-wide frequency of
    every adjacent CHARACTER pair inside words, weighted by word
    frequency — exactly the pair counts the first byte-pair-encoding
    merge (Sennrich et al. 2016) maximizes over when inducing a
    tokenizer vocabulary from a training corpus.

    Scale shape: the corpus collapses to its word-frequency VOCABULARY
    first (one content-keyed shuffle with map-side combine); pair
    generation then explodes positions over vocabulary TYPES, not corpus
    tokens — at 100 TB the vocab is millions of rows while the corpus is
    trillions, so the expensive explode runs on the small table. All
    counts are exact integers; top-k ties break on the pair string.
    """
    top_k = 30
    words = documents.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") > 0)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = (
        vocab.filter(F.length("w") >= 2)
        .select(
            "w",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(F.expr("substring(w, i, 2)").alias("pair"), "freq")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_k)
    )


def doc_bigrams(documents: DataFrame) -> DataFrame:
    """(doc_id, x, y) adjacent word bigrams via slice+arrays_zip
    (builtin, codegen) — the ONE bigram construction shared by the PMI
    collocations, the bigram LM and the keyphrase extractor, so their
    phrase keys can never drift apart."""
    w = F.split(_norm(F.col("text")), " ")
    arr = documents.select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    return arr.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("w", F.lit(1), F.size("w") - 1),
                F.slice("w", F.lit(2), F.size("w") - 1),
            )
        ).alias("p"),
    ).select(
        "doc_id", F.col("p")["0"].alias("x"), F.col("p")["1"].alias("y")
    )


def word_pmi_pairs(documents: DataFrame, top_k: int | None = 40) -> DataFrame:
    """Pointwise mutual information of adjacent word bigrams — the
    classic collocation / phrase-mining signal (Church & Hanks 1990;
    the phrase-induction step of word2vec-style pipelines):

        pmi(x,y) = ln( (c_xy/N_bi) / ((c_x/N_uni)·(c_y/N_uni)) )

    computed as ln(((c_xy·N_uni)·N_uni) / ((N_bi·c_x)·c_y)) with the
    SAME left-associated operation order on both engines (bit-identical
    doubles in, ln within 1 ulp, 6-decimal round far outside ulp noise —
    the transcendental-rounding rule from NOTES.md).

    Scale shape: bigrams explode via slice+arrays_zip (builtin, codegen);
    one shuffle each for bigram and unigram counts (both map-side
    combined); marginals attach by joining the VOCAB-sized unigram table
    twice (AQE broadcasts it); scalar totals ride a 1-row broadcast.
    min_count prunes the bigram tail BEFORE the joins. The bigram and
    unigram count tables are lazily checkpointed — each has 2-3
    consumers (its scalar total plus the marginal joins), and an
    un-checkpointed consumer would replay the corpus tokenize/explode
    per branch (the multi-consumer rule: these are exactly "pair
    counts" / vocab tables, far smaller than the corpus).
    """
    min_count = 5
    bi = doc_bigrams(documents).select("x", "y")
    cxy = (
        bi.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    uni = (
        documents.select(
            F.explode(F.split(_norm(F.col("text")), " ")).alias("t")
        )
        .filter(F.length("t") > 0)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    n_bi = cxy.agg(F.sum("c_xy").alias("n_bi"))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    arg = (
        (F.col("c_xy").cast("double") * F.col("n_uni")) * F.col("n_uni")
    ) / ((F.col("n_bi").cast("double") * F.col("c_x")) * F.col("c_y"))
    scored = (
        cxy.filter(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("t").alias("x"), F.col("c").alias("c_x")), "x")
        .join(uni.select(F.col("t").alias("y"), F.col("c").alias("c_y")), "y")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "x",
            "y",
            "c_xy",
            # Integer-unit emission (micro-nats): int64 crosses every
            # canonicalizer/format pathway bit-exactly, unlike a ROUNDed
            # double (the r7 weighted-sample driver red — libm-audit
            # notes, NOTES.md r8). Same 1e-6 grid, same tie behavior.
            F.round(F.log(arg) * 1e6).cast("long").alias("pmi_e6"),
        )
    )
    if top_k is None:
        # full collocation table for downstream joins (keyphrases) —
        # no global TakeOrdered over the vocab-sized result
        return scored
    return scored.orderBy(F.desc("pmi_e6"), F.asc("x"), F.asc("y")).limit(top_k)


def char_entropy(documents: DataFrame) -> DataFrame:
    """Per-document character-unigram entropy (nats) over the normalized
    text — a cheap compressibility/diversity signal: runs of one symbol
    score near 0, uniform alphabets score ln(|alphabet|); degenerate
    low-entropy docs are a standard pre-training removal target.

    entropy = Σ_ch (c/n)·ln(n/c), each term rounded to the 1e-6 grid and
    summed as DECIMAL (exact, order-independent — the unigram_logprob
    idiom); c = n gives ln(1) = 0.0 exactly on both engines, so
    single-symbol docs are tie-free zeros.

    Scale shape: explode positions → one (doc_id, ch)-keyed shuffle with
    map-side combine → one groupBy(doc_id). Alphabet-bounded state per
    group.
    """
    norm = documents.select("doc_id", _norm(F.col("text")).alias("t")).filter(
        F.length("t") > 0
    )
    chars = norm.select(
        "doc_id",
        F.length("t").alias("n"),
        F.explode(F.sequence(F.lit(1), F.length("t"))).alias("i"),
        "t",
    ).select("doc_id", "n", F.expr("substring(t, i, 1)").alias("ch"))
    cc = chars.groupBy("doc_id", "n", "ch").agg(F.count(F.lit(1)).alias("c"))
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log(F.col("n").cast("double") / F.col("c")),
        6,
    ).cast("decimal(28,6)")
    return (
        cc.withColumn("term", term)
        .groupBy("doc_id")
        .agg(
            F.first("n").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.sum("term").cast("double").alias("entropy"),
        )
    )


def ngram_novelty(documents: DataFrame) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the document's
    DISTINCT word n-grams whose first corpus appearance (minimum doc_id)
    is this document — the curve dataset curators watch to decide when
    more scraping stops adding new content (novelty ~1 early, decays as
    the corpus saturates).

    The fraction is an exact integer ratio → ratio_round (the grid-
    quotient rule). Scale shape: the distinct gram stream feeds TWO
    map-side-combined aggregates — per-doc totals and the per-gram
    min(doc_id) type table, whose novel counts are a second (tiny)
    groupBy — then the two DOC-keyed small tables join. No data-sized
    join-back at all (unlike span_dup_profile, which needs per-row
    docfreq, novelty only needs counts); the gram stream is re-derived
    per consumer (two corpus passes — the same accepted rescan tradeoff
    as the shingle pipeline; a persisted gram index amortizes it at
    100 TB). No windows, no driver state.
    """
    from .dedup import _grams

    n = 3
    grams = _grams(documents, n, "word").distinct()
    totals = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    first = grams.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy("first_doc").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        totals.join(
            novel, F.col("doc_id") == F.col("first_doc"), "left"
        )
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            ratio_round(
                F.coalesce(F.col("n_novel"), F.lit(0)),
                F.col("n_grams"),
                6,
            ).alias("novelty"),
        )
    )


def tfidf_knn(documents: DataFrame, query_pred: Column) -> DataFrame:
    """Sparse TF-IDF cosine top-k over an inverted index — the classic
    IR retrieval shape (Salton's vector space model) and the sparse
    complement to the dense `operators.similarity` family: documents
    meet ONLY through shared terms, so candidate generation is the
    term-keyed join of an inverted index, never an all-pairs product.

    Cross-engine exactness: term weights round to the 1e-6 grid
    (``round(tf·ln(N/df), 6)`` — the transcendental rule) and every sum
    of weights/products runs as DECIMAL on exact grids (w² and w_q·w_d
    lie on the 1e-12 grid), so dots and squared norms are bit-identical;
    cosine = exact-grid dot / (sqrt·sqrt) is a transcendental of
    identical inputs (ULP-only), ranked unrounded with a neighbor_id
    tie-break.

    Scale shape: the weight table (doc, term, w) is the TF-IDF INDEX —
    lazily checkpointed because three consumers need it (corpus side,
    query side, norms); in production this table is persisted and
    amortized across query batches, which is exactly what the
    checkpoint stands in for. Scoring joins query terms to the index on
    term (df-bounded fan-out), partial-aggregates pair dots before the
    one (query, doc) shuffle, and ranks per query over candidate sets
    bounded by shared-term document frequency.
    """
    k = 5
    words = documents.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    # DECIMAL(18,6): products of two (18,6) values are DECIMAL(37,12) —
    # inside the 38-digit cap, so Spark's multiply NEVER triggers its
    # precision-loss scale reduction (a (28,6)x(28,6) product would).
    w = F.round(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
    ).cast("decimal(18,6)")
    weights = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", w.alias("w"))
        .localCheckpoint(eager=False)
    )
    # norms has two join consumers (query-side broadcast + doc side) —
    # checkpoint so the sum-of-squares aggregate over the weight index
    # runs once (the multi-consumer rule, one level above the weights
    # checkpoint).
    norms = weights.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.col("w") * F.col("w")).cast("double")
        ).alias("norm")
    ).localCheckpoint(eager=False)
    q_w = weights.join(
        F.broadcast(
            documents.filter(query_pred).select(
                F.col("doc_id").alias("query_id")
            )
        ),
        F.col("doc_id") == F.col("query_id"),
    ).select("query_id", "term", F.col("w").alias("qw"))
    dots = (
        weights.join(F.broadcast(q_w), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qw") * F.col("w")).cast("double").alias("dot"))
    )
    scored = (
        dots.join(
            F.broadcast(
                norms.select(
                    F.col("doc_id").alias("query_id"),
                    F.col("norm").alias("q_norm"),
                )
            ),
            "query_id",
        )
        .join(norms, "doc_id")
        .withColumn("cos", F.col("dot") / (F.col("q_norm") * F.col("norm")))
    )
    win = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.round("cos", 4).alias("cosine"),
            "rnk",
        )
    )


def compression_signals(documents: DataFrame) -> DataFrame:
    """zlib compressibility per document — the Gopher-family quality
    signal a SQL engine cannot express (no DuckDB twin; registry entry
    is rows-only with pytest bounds instead of an oracle).

    ``ratio = compressed_bytes / raw_bytes`` of the UTF-8 text at a
    fixed zlib level: boilerplate/repetitive documents compress far
    below prose; near-random strings push past 1.0 (zlib framing
    overhead). The ratio rounds half-away in exact Python integer
    space (the ``ratio_round`` semantics), and the repetition flag
    compares raw integers (2·compressed < raw), so output is
    deterministic run-to-run for a pinned zlib build.

    Arrow ``mapInPandas`` map stage over the conditionally-spread scan:
    zero shuffles, O(bytes) CPU, embarrassingly parallel at 100 TB.
    """
    from collections.abc import Iterator

    level = 6
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from .relational import spread_if_few_splits

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("raw_bytes", LongType()),
            StructField("compressed_bytes", LongType()),
            StructField("compression_ratio", DoubleType()),
            StructField("repetitive", BooleanType()),
        ]
    )

    def _compress(batches: Iterator) -> Iterator:
        import zlib

        import pandas as pd

        from .numeric import ratio_round_int

        for pdf in batches:
            if len(pdf) == 0:
                continue
            raws, comps, ratios, flags = [], [], [], []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8")
                c = len(zlib.compress(b, level))
                n = max(len(b), 1)
                raws.append(len(b))
                comps.append(c)
                ratios.append(ratio_round_int(c, n, 4))
                flags.append(2 * c < n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "raw_bytes": raws,
                    "compressed_bytes": comps,
                    "compression_ratio": ratios,
                    "repetitive": flags,
                }
            )

    base = spread_if_few_splits(documents.select("doc_id", "text"))
    return base.mapInPandas(_compress, schema)


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Bigram language-model fit: per-document average negative log
    probability of each word given its predecessor, under the corpus's
    own add-1-smoothed bigram distribution — the conditional upgrade of
    :func:`unigram_logprob` (KenLM-lineage perplexity filtering scores
    n-gram context, not just global rarity):

        p(y|x) = (c_xy + 1) / (ctx_x + V)

    with ctx_x = Σ_y c_xy (bigram-context count) and V = |unigram
    vocabulary|. avg_nll = Σ n·ln((ctx_x + V)/(c_xy + 1)) / n_bigrams.

    Determinism: each (doc, bigram) contribution rounds to the 1e-6
    grid and sums as DECIMAL (order-independent — the unigram_logprob
    idiom); the final average is a grid-sum/count quotient →
    ratio_round in exact integer space.

    Scale shape: bigrams explode via slice+arrays_zip (codegen, the PMI
    idiom); the (doc, bigram) tf table is the ONE corpus-sized shuffle
    and is lazily checkpointed (two consumers: the corpus bigram counts
    derive FROM it — map-side combined — and the scoring join reads
    it); corpus bigram counts checkpoint too (context marginals + the
    scoring join). The smoothing vocabulary is the unigram vocab (one
    more corpus pass — the accepted rescan tradeoff, cf. ngram
    pipelines); everything joins at vocab scale after that.
    """
    bi = doc_bigrams(documents)
    dtf = (
        bi.groupBy("doc_id", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cxy = (
        dtf.groupBy("x", "y")
        .agg(F.sum("n").alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    ctx = cxy.groupBy("x").agg(F.sum("c_xy").alias("ctx_x"))
    vocab_n = (
        documents.select(
            F.explode(F.split(_norm(F.col("text")), " ")).alias("t")
        )
        .filter(F.length("t") > 0)
        .agg(F.countDistinct("t").alias("v"))
    )
    contrib = F.round(
        F.col("n")
        * F.log(
            (F.col("ctx_x") + F.col("v")).cast("double")
            / (F.col("c_xy") + 1).cast("double")
        ),
        6,
    ).cast("decimal(28, 6)")
    return (
        dtf.join(cxy, ["x", "y"])
        .join(ctx, "x")
        .crossJoin(F.broadcast(vocab_n))
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum("contrib").alias("nll_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            ratio_round(
                (F.col("nll_sum") * 1_000_000).cast("decimal(38,0)"),
                (F.col("n_bigrams") * 1_000_000).cast("decimal(38,0)"),
                4,
            ).alias("avg_nll"),
        )
    )
