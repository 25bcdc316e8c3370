"""Text-analysis operators for the LLM-data-pipeline surface.

These extend the reference's capability set per the repo charter
(BASELINE.json "north_star"): language ID, quality scoring, token counting,
document fingerprinting — all over a ``documents(doc_id, text, lang, source,
n_chars)`` table.

Scale design: every function here is pure Column expressions (whole-stage
codegen, zero Python in the hot path).  At 100 TB the text column dominates
I/O — all operators project only the columns they need so parquet column
pruning kicks in, and none shuffles unless a groupBy is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram language heuristic.
# Public knowledge (common function words); deliberately small and
# deterministic so the oracle SQL can replicate them.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def tokenize(text: Column) -> Column:
    """Whitespace tokenizer shared by TF-IDF and BM25 (and their oracle
    SQL): trim → collapse whitespace → lower → split, empties dropped.
    ONE definition on purpose — retrieval and tf-idf scores de-sync
    silently if their tokenizations drift apart."""
    return F.filter(
        F.split(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")), " "),
        lambda t: t != "",
    )


def token_count(text: Column) -> Column:
    """Whitespace token count.  ``size(split(trim(text), '\\s+'))`` with the
    empty-string guard (empty text → 0 tokens)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def word_like_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count word pieces and standalone
    punctuation/digit runs — ``regexp_count`` over a word/punct alternation."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def _char_count(text: Column, chars: str) -> Column:
    """How many characters of ``text`` are in ``chars``: the length lost
    when ``translate`` deletes them, a per-character table lookup where a
    negated-class ``regexp_replace`` ran the regex engine."""
    return F.length(text) - F.length(F.translate(text, chars, ""))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    n = F.length(text)
    p = _char_count(text, ".,;:!?'\"()[]{}-")
    return F.when(n == 0, F.lit(0.0)).otherwise(p / n)


def uppercase_ratio(text: Column) -> Column:
    n = F.length(text)
    u = _char_count(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
    return F.when(n == 0, F.lit(0.0)).otherwise(u / n)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are language stopwords (en markers)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    markers = [F.lit(w) for w in _LANG_MARKERS[lang]]
    hits = F.size(F.filter(words, lambda w: w.isin([m for m in _LANG_MARKERS[lang]])))
    total = F.size(words)
    return F.when(total == 0, F.lit(0.0)).otherwise(hits / total)


def mean_word_length(text: Column) -> Column:
    t = F.trim(text)
    words = F.split(t, r"\s+")
    total_len = F.length(F.regexp_replace(t, r"\s+", ""))
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        total_len / F.size(words)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, extreme
    punctuation, and shouting.  Deterministic arithmetic only — the DuckDB
    oracle reproduces it exactly (see queries.py::text_quality)."""
    n_tokens = token_count(text).cast("double")
    len_score = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    punct_pen = F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    upper_pen = F.least(uppercase_ratio(text) * 4.0, F.lit(1.0))
    return F.round(len_score * (1.0 - 0.5 * punct_pen) * (1.0 - 0.5 * upper_pen), 6)


def detect_language(text: Column) -> Column:
    """N-gram/function-word language heuristic.

    Counts marker-word hits per language over the lowercased token array and
    returns the argmax language ('und' when no marker hits).  Pure expression
    — at scale this is a linear scan per doc with no shuffle.
    """
    words = F.split(F.lower(F.trim(text)), r"[^a-z]+")
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        hits = F.size(F.filter(words, lambda w: w.isin(markers)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized,
    lowercased text.  md5 is available in both Spark and DuckDB, so the
    fingerprint is oracle-checkable; xxhash64 would be faster Spark-side but
    is not portable."""
    t = text
    if normalize:
        t = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(t)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_distinct_frac: float = 0.3,
    max_top_bigram_share: float = 0.2,
) -> DataFrame:
    """Gopher-style repetition quality filter (Rae et al. 2021, public):
    docs dominated by repeated phrases carry little training signal.

    Per doc: ``distinct_word_frac`` = |distinct words| / |words| (low ⇒
    looping text) and ``top_bigram_share`` = occurrences of the most common
    word bigram / (|words|-1) (high ⇒ one phrase dominates).  ``keep_doc``
    applies both thresholds.  Ties on bigram count break by bigram string
    ascending — deterministic on both engines; fractions rounded to 6 so the
    threshold boundary is engine-stable.

    Plan shape: one explode of word bigrams → groupBy(doc, bigram) count
    (map-side partial combine absorbs the repetition itself) → ranking
    window per doc on the counted frame (shuffle carries (doc, bigram,
    count), never text) → broadcast-friendly join back to the per-doc base
    stats.  An r11 zero-shuffle variant (per-row run-length scan over the
    sorted bigram array via ``F.aggregate``) was A/B-measured 4x SLOWER at
    sf0.1 (1.8 s → 7.7 s): higher-order-function lambdas are
    CodegenFallback, so the per-element interpreted struct scan loses to
    the codegen'd hash aggregate despite the extra exchanges — kept the
    relational form (guide §1.1: the "ideal" plan lost empirically).
    Complements ``quality_score`` (length/punct/stopword signals —
    `navmesh_injector.py`-style threshold classification analog).
    """
    t = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    words = F.split(t, " ")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).alias("total_words"),
        F.round(F.size(F.array_distinct(words)) / F.size(words), 6).alias(
            "distinct_word_frac"
        ),
        words.alias("__w"),
    )
    # sequence(0, -1) would count BACKWARDS for 1-word docs — guard to empty
    idx = F.when(
        F.size(F.col("__w")) >= 2,
        F.sequence(F.lit(0), F.size(F.col("__w")) - 2),
    ).otherwise(F.array().cast("array<int>"))
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.get(F.col("__w"), i), F.get(F.col("__w"), i + 1)
                ),
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("bigram").asc()
    )
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("bigram").alias("top_bigram"), F.col("c"))
    )
    out = (
        base.drop("__w")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "total_words",
            "distinct_word_frac",
            F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
            F.coalesce(F.col("c"), F.lit(0)).alias("top_bigram_count"),
            F.when(
                F.col("total_words") > 1,
                F.round(
                    F.coalesce(F.col("c"), F.lit(0))
                    / (F.col("total_words") - 1),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_share"),
        )
        .withColumn(
            "keep_doc",
            (F.col("distinct_word_frac") >= min_distinct_frac)
            & (F.col("top_bigram_share") <= max_top_bigram_share),
        )
    )
    return out


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    word_len_bounds: tuple[float, float] = (3.0, 10.0),
) -> DataFrame:
    """The remaining Gopher document-quality rules (Rae et al. 2021 §A1.1,
    public) not covered by ``repetition_stats``: duplicate-LINE fraction,
    bullet-point and ellipsis line ratios, alphabetic-word fraction, and
    mean-word-length bounds — the standard pretraining heuristics for
    machine-generated or boilerplate text.

    All signals are pure Catalyst expressions over one split of the text
    (lines) and one split (words): no shuffle at all — the per-doc flags
    are computed inside the scan's projection, so at 100 TB this is a pure
    map stage that fuses with whatever filter consumes ``keep_doc``.
    Fractions round to 6 so threshold boundaries are engine-stable.
    """
    raw = F.col(text_col)
    # pseudo-lines: the corpus is single-line text, so sentences (". ")
    # stand in for newline-delimited lines; both engines split identically
    lines = F.filter(
        F.split(raw, r"\. "), lambda s: F.length(F.trim(s)) > 0
    )
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    bullet = F.size(
        F.filter(lines, lambda s: F.trim(s).rlike(r"^[-*•]"))
    )
    ellipsis = F.size(F.filter(lines, lambda s: s.rlike(r"\.\.\.$")))
    words = F.split(F.lower(F.regexp_replace(F.trim(raw), r"\s+", " ")), " ")
    n_words = F.size(words)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    mean_wlen = F.round(
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        )
        / n_words,
        6,
    )
    lo, hi = word_len_bounds
    def per_line(num):
        # ANSI-safe: an all-whitespace doc has zero lines; its ratios are 0
        return F.when(n_lines > 0, F.round(num / n_lines, 6)).otherwise(
            F.lit(0.0)
        )

    out = df.select(
        F.col(id_col).alias("doc_id"),
        n_lines.alias("n_lines"),
        per_line(dup_lines).alias("dup_line_frac"),
        per_line(bullet).alias("bullet_ratio"),
        per_line(ellipsis).alias("ellipsis_ratio"),
        F.round(alpha_words / n_words, 6).alias("alpha_word_frac"),
        mean_wlen.alias("mean_word_len"),
    )
    return out.withColumn(
        "keep_doc",
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("mean_word_len") >= lo)
        & (F.col("mean_word_len") <= hi),
    )


def profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full text profile: one row per doc with every text metric."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_measured"),
        token_count(t).alias("n_tokens"),
        word_like_token_count(t).alias("n_word_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(uppercase_ratio(t), 6).alias("upper_ratio"),
        F.round(mean_word_length(t), 6).alias("mean_word_len"),
        quality_score(t).alias("quality"),
        detect_language(t).alias("lang_detected"),
        fingerprint(t).alias("fingerprint"),
    )


def tfidf_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-(doc, term) TF-IDF over the corpus — the tokenize/TF-IDF step of
    the LLM-pipeline surface (SURVEY.md §7 step 10).

    All relational: explode tokens → tf = count per (doc, term); df = count
    over each term's WINDOW of the tf frame (r11: the previous
    groupBy(term) + join-back derived the tokenize → explode → tf lineage
    TWICE — two full corpus passes — where the window form derives it once
    and pays the same term-keyed exchange the join needed anyway, guide
    §2.4); idf = ln(N/df) with N from a 1-row broadcast aggregate.  Two
    shuffles total (by (doc, term) and by term); the corpus text never
    shuffles — only (doc_id, term) pairs do.
    Returns (id, term, tf, tfidf).
    """
    from pyspark.sql import Window

    tokens = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    )
    tf = tokens.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.countDistinct(id_col).alias("n_docs"))
    return (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            "tf",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )


# PII patterns shared by redact_pii and its oracle SQL — kept to the regex
# subset Java (Spark) and RE2 (DuckDB) interpret identically.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "PHONE": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}",
}


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4 addresses, and +CC-prefixed phone numbers with
    typed placeholder tokens (``<EMAIL>``/``<IP>``/``<PHONE>``).

    Standard LLM-training-data hygiene pass.  Pure ``regexp_replace`` chain —
    JVM-side, codegen'd, no UDF; order matters (emails first so the IP rule
    cannot fire inside an already-redacted domain).  At 100 TB this is a pure
    map over the corpus — scales linearly, no shuffle.
    """
    out = text
    for token, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{token}>")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-type PII match counts (``regexp_count``) — the audit metric next
    to the redaction."""
    return {t.lower() + "_hits": F.regexp_count(text, F.lit(p)) for t, p in PII_PATTERNS.items()}


def unigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    token-level analog of the char-entropy scorer and the cheap stand-in
    for CCNet/RedPajama perplexity filtering (Wenzek et al. 2020 buckets a
    corpus into head/middle/tail by LM perplexity; a self-trained unigram
    model is deterministic, dependency-free, and flags the same tails:
    boilerplate floods score low, token soup scores high).

    Relational plan: explode tokens → per-(doc, term) counts → corpus term
    frequencies (shuffle by term — the vocabulary is NOT broadcast: at
    corpus scale unigram vocab is unbounded, unlike the char alphabet) →
    per-doc bits = Σ c·(−log2(cc/N)) summed as DECIMAL(28,12) so summation
    order cannot move the hash across engines.  The corpus text itself
    never shuffles — only (doc_id, term) pairs do.

    Returns (id, n_tokens, bits_per_token) — bucketing into perplexity
    tertiles is a separate ntile step (see q_unigram_lm_perplexity) so this
    core stays shuffle-minimal for pipeline composition.
    """
    tokens = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    )
    dt = tokens.groupBy("id", "term").agg(F.count(F.lit(1)).alias("c"))
    freq = dt.groupBy("term").agg(F.sum("c").alias("cc"))
    tot = freq.agg(F.sum("cc").alias("t"))
    return (
        dt.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(
            F.sum(
                (F.col("c") * -F.log2(F.col("cc") / F.col("t"))).cast(
                    "decimal(28,12)"
                )
            ).alias("bits"),
            F.sum("c").alias("n_tokens"),
        )
        .select(
            "id",
            "n_tokens",
            F.round(
                F.col("bits").cast("double") / F.col("n_tokens"), 6
            ).alias("bits_per_token"),
        )
    )


def dsir_logweights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169) log importance weights: score every raw document by
    how much more likely its hashed-unigram bag is under the TARGET
    distribution than under the RAW distribution, log w(x) =
    Σ_b c_x[b]·(log2 p_target[b] − log2 p_raw[b]) with Laplace-smoothed
    bucket probabilities.  Downstream selection samples ∝ exp(w) — the
    existing `weighted_sample_wor` operator composes directly.

    Feature hashing uses the repo's portable md5 idiom
    (conv(substr(md5(term),1,8),16,10) % n_buckets) so the oracle SQL can
    restate it bit-for-bit; Spark's native hash() would be faster but is
    not cross-engine checkable (swap it in production, the plan shape is
    identical).  The bucket ratio table is n_buckets rows — broadcast back
    to the per-doc counts, so the only shuffles are the two groupBys on
    (doc, bucket): the text never moves.  Per-doc sums ride DECIMAL(28,12)
    (order-independent summation, verify-skill float rule).
    """
    tokens = df.select(
        F.col(id_col).alias("id"),
        target_pred.alias("is_target"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % n_buckets,
    ).filter(F.col("b").isNotNull())
    # ONE pass over the text: per-(doc, bucket) counts with the doc's
    # target flag folded into the GROUPING KEY (constant per doc, so the
    # groups are identical to (id, b)).  A grouping key cannot be
    # column-pruned away, so the ratio branch and the per-doc branch see
    # byte-identical aggregate subtrees and ReuseExchange computes the
    # explode once — the corpus is scanned a single time.  (Carrying the
    # flag as max(is_target) instead lets pruning specialize the two
    # subtrees and the scan runs per branch; caught via the plan audit.)
    dc = tokens.groupBy("id", "b", "is_target").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = dc.groupBy("b").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0)).alias("ct"),
    )
    sums = totals.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    ratio = totals.crossJoin(F.broadcast(sums)).select(
        "b",
        (
            F.log2((F.col("ct") + 1) / (F.col("nt") + n_buckets))
            - F.log2((F.col("cr") + 1) / (F.col("nr") + n_buckets))
        ).alias("lr"),
    )
    return (
        dc.join(F.broadcast(ratio), "b")
        .groupBy("id")
        .agg(
            F.sum((F.col("c") * F.col("lr")).cast("decimal(28,12)")).alias(
                "lw"
            ),
            F.sum("c").alias("n_tokens"),
        )
        .select(
            "id",
            "n_tokens",
            F.round(F.col("lw").cast("double"), 6).alias("log2_weight"),
        )
    )
