"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting. All pure Catalyst expressions."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_words

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

# marker words per language for the n-gram/stopword heuristic;
# checked in deterministic priority order on ties.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "los", "de"),
    "fr": ("le", "les", "et", "une"),
    "de": ("der", "die", "und", "nicht"),
}
_PUNCT_CLASS = r"[.,!?;:]"


def _count_in(words: Column, vocab: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def quality_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", ndigits: int = 4
) -> DataFrame:
    """Length/word/stopword/punctuation quality features per doc."""
    t = F.col(text_col)
    words = normalized_words(t)
    n_words = F.size(words)
    stop_hits = _count_in(words, STOPWORDS)
    punct = F.length(t) - F.length(F.regexp_replace(t, _PUNCT_CLASS, ""))
    return docs.select(
        F.col(id_col),
        F.length(t).cast("bigint").alias("n_chars"),
        n_words.cast("bigint").alias("n_words"),
        F.round(
            (F.length(F.regexp_replace(t, r"\s", "")) / n_words), ndigits
        ).alias("avg_word_len"),
        F.round(stop_hits / n_words, ndigits).alias("stopword_ratio"),
        punct.cast("bigint").alias("n_punct"),
        (
            (n_words >= 5) & (stop_hits / n_words >= 0.05) & (F.length(t) >= 64)
        ).alias("quality_ok"),
    )


def _lang_pred(langs) -> Column:
    """The shared best-marker-score CASE (previously triplicated across
    language_id/curate/doc_features — divergence risk). Zero marker
    hits in EVERY language is 'und', not the first language in CASE
    order: the old tie-at-0 fell through to 'en', so Russian/Korean/
    all-digit text was labeled English and sailed through any
    pred_lang='en' curation filter."""
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(F.col("_has_cjk"), F.lit("zh"))
    pred = pred.when(best == 0, F.lit("und"))
    for lang in langs:  # first max wins — same CASE order in the oracle
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return pred.otherwise(F.lit("und"))


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language scoring; deterministic priority on ties.

    Two-stage projection: the word-split and per-language filters
    materialize once as named columns before best/pred derive from
    them — referencing the raw expressions directly made Catalyst
    re-evaluate each interpreted array-filter ~3x (greatest + CASE +
    output), measured 2.5x slower."""
    langs = list(LANG_MARKERS)
    words_df = docs.select(
        F.col(id_col),
        F.col(text_col).rlike(r"[一-鿿]").alias("_has_cjk"),
        normalized_words(F.col(text_col)).alias("_w"),
    )
    scored = words_df.select(
        F.col(id_col),
        "_has_cjk",
        *[
            _count_in(F.col("_w"), LANG_MARKERS[lang]).alias(f"score_{lang}")
            for lang in langs
        ],
    )
    return scored.select(
        F.col(id_col),
        *[F.col(f"score_{lang}").cast("bigint").alias(f"score_{lang}") for lang in langs],
        _lang_pred(langs).alias("pred_lang"),
    )


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_chars: int = 64,
    min_stopword_ratio: float = 0.05,
) -> DataFrame:
    """End-to-end training-data curation: quality gate → language ID →
    exact dedup, composed as ONE pipeline.

    Everything before dedup is a single projection pass (one parquet
    scan — quality features and language scores share the materialized
    word array instead of joining `quality_features` to `language_id`,
    which would scan twice). The only shuffle is the dedup window on
    the content digest; digest groups are tiny so there is no skew.
    Survivors are the canonical (min-id) copy of each quality-passing
    document."""
    from pyspark.sql.window import Window

    t = F.col(text_col)
    langs = list(LANG_MARKERS)
    stage1 = docs.select(
        F.col(id_col),
        t.alias("_t"),
        normalized_words(t).alias("_w"),
        t.rlike(r"[一-鿿]").alias("_has_cjk"),
    )
    stage2 = stage1.select(
        F.col(id_col),
        F.length("_t").cast("bigint").alias("n_chars"),
        F.size("_w").cast("bigint").alias("n_words"),
        _count_in(F.col("_w"), STOPWORDS).alias("_stop_hits"),
        F.md5("_t").alias("_digest"),
        F.col("_has_cjk"),
        *[
            _count_in(F.col("_w"), LANG_MARKERS[lang]).alias(f"score_{lang}")
            for lang in langs
        ],
    )
    gated = stage2.filter(
        (F.col("n_words") >= min_words)
        & (F.col("_stop_hits") / F.col("n_words") >= min_stopword_ratio)
        & (F.col("n_chars") >= min_chars)
    )
    with_lang = gated.select(
        F.col(id_col),
        "n_chars",
        "n_words",
        "_digest",
        _lang_pred(langs).alias("pred_lang"),
    )
    w = Window.partitionBy("_digest").orderBy(id_col)
    return (
        with_lang.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_digest")
    )


def repetition_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", ndigits: int = 6,
    max_top_word_frac: float = 0.2,
    max_dup_word_frac: float = 0.6,
    max_top_bigram_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition filters: fraction of tokens taken by the
    most frequent word, duplicate-word fraction, and fraction of
    bigrams taken by the most frequent bigram, plus a pass/fail gate.

    Single corpus pass: one posexplode, one lead() window (shuffle on
    doc id), then unigram AND bigram tokens are emitted from the same
    rows (a per-row 1-or-2 element explode, no second scan / no union
    of two branches re-reading the source). Counting is two codegen'd
    hash aggregates with map-side partials — no per-doc O(n^2) array
    lambdas, linear at 100 TB.
    """
    from pyspark.sql.window import Window

    words = docs.select(
        F.col(id_col),
        F.posexplode(normalized_words(F.col(text_col))).alias("pos", "w"),
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    toks = words.select(F.col(id_col), "w", F.lead("w", 1).over(win).alias("w2"))
    uni = F.struct(F.lit("u").alias("kind"), F.col("w").alias("tok"))
    bi = F.struct(
        F.lit("b").alias("kind"), F.concat_ws(" ", "w", "w2").alias("tok")
    )
    kinds = toks.select(
        F.col(id_col),
        F.explode(
            F.when(F.col("w2").isNull(), F.array(uni)).otherwise(F.array(uni, bi))
        ).alias("t"),
    ).select(F.col(id_col), F.col("t.kind").alias("kind"), F.col("t.tok").alias("tok"))
    counts = kinds.groupBy(id_col, "kind", "tok").agg(F.count(F.lit(1)).alias("c"))
    is_u = F.col("kind") == "u"
    stats = counts.groupBy(id_col).agg(
        F.max(F.when(is_u, F.col("c"))).alias("_top_wc"),
        F.sum(F.when(is_u, F.col("c"))).alias("_n_words"),
        F.count(F.when(is_u, F.lit(1))).alias("_n_distinct"),
        F.max(F.when(~is_u, F.col("c"))).alias("_top_bc"),
        F.sum(F.when(~is_u, F.col("c"))).alias("_n_bigrams"),
    )
    top_w = F.round(F.col("_top_wc") / F.col("_n_words"), ndigits)
    dup_w = F.round(F.lit(1) - F.col("_n_distinct") / F.col("_n_words"), ndigits)
    top_b = F.round(F.col("_top_bc") / F.col("_n_bigrams"), ndigits)
    return stats.select(
        F.col(id_col),
        F.col("_n_words").cast("bigint").alias("n_words"),
        top_w.alias("top_word_frac"),
        dup_w.alias("dup_word_frac"),
        top_b.alias("top_bigram_frac"),
        (
            (top_w <= max_top_word_frac)
            & (dup_w <= max_dup_word_frac)
            & F.coalesce(top_b <= max_top_bigram_frac, F.lit(True))
        ).alias("repetition_ok"),
    )


def fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", prefix_len: int = 64
) -> DataFrame:
    """Deterministic document fingerprint: digest of the
    whitespace-normalized text plus a coarse length bucket (the rolling
    hash of the reference-style pipeline collapses to a digest over the
    normalized stream)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("fp_full"),
        F.md5(F.substring(norm, 1, prefix_len)).alias("fp_prefix"),
        (F.length(norm) / 100).cast("bigint").alias("len_bucket"),
    )


def doc_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ndigits: int = 4,
    prefix_len: int = 64,
) -> DataFrame:
    """Every per-document scalar text feature in ONE projection pass:
    quality (length/word/stopword/punctuation + gate), language-ID
    marker scores + prediction, BPE-ish token count, and the
    fingerprint columns. The word array, normalized text, and CJK flag
    materialize once in a staging projection and all features derive
    from them — a join of the individual feature functions would scan
    the corpus four times; this is one scan, zero shuffles.

    (n_words doubles as the whitespace token count — the two are the
    same expression, so only one column is emitted.)
    """
    langs = list(LANG_MARKERS)
    t = F.col(text_col)
    stage1 = docs.select(
        F.col(id_col),
        t.alias("_t"),
        normalized_words(t).alias("_w"),
        t.rlike(r"[一-鿿]").alias("_has_cjk"),
        F.regexp_replace(F.trim(F.lower(t)), r"\s+", " ").alias("_norm"),
    )
    stage2 = stage1.select(
        F.col(id_col),
        "_norm",
        "_has_cjk",
        F.length("_t").cast("bigint").alias("n_chars"),
        F.size("_w").cast("bigint").alias("n_words"),
        _count_in(F.col("_w"), STOPWORDS).alias("_stop_hits"),
        (
            F.length("_t") - F.length(F.regexp_replace("_t", _PUNCT_CLASS, ""))
        ).cast("bigint").alias("n_punct"),
        F.length(F.regexp_replace("_t", r"\s", "")).alias("_nonspace"),
        F.regexp_count(F.lower("_t"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
        .cast("bigint")
        .alias("bpe_ish_tokens"),
        *[
            _count_in(F.col("_w"), LANG_MARKERS[lang]).alias(f"score_{lang}")
            for lang in langs
        ],
    )
    return stage2.select(
        F.col(id_col),
        "n_chars",
        "n_words",
        F.round(F.col("_nonspace") / F.col("n_words"), ndigits).alias("avg_word_len"),
        F.round(F.col("_stop_hits") / F.col("n_words"), ndigits).alias(
            "stopword_ratio"
        ),
        "n_punct",
        (
            (F.col("n_words") >= 5)
            & (F.col("_stop_hits") / F.col("n_words") >= 0.05)
            & (F.col("n_chars") >= 64)
        ).alias("quality_ok"),
        *[
            F.col(f"score_{lang}").cast("bigint").alias(f"score_{lang}")
            for lang in langs
        ],
        _lang_pred(langs).alias("pred_lang"),
        "bpe_ish_tokens",
        F.md5("_norm").alias("fp_full"),
        F.md5(F.substring("_norm", 1, prefix_len)).alias("fp_prefix"),
        (F.length("_norm") / 100).cast("bigint").alias("len_bucket"),
    )


def _tfidf_scored(
    docs: DataFrame, id_col: str, text_col: str, ndigits: int
) -> DataFrame:
    """(id, term, tfidf): the shared scoring front half of both TF-IDF
    shapes. tf/df hash aggregates; df table broadcast back BY TERM; the
    corpus size is a broadcast 1-row aggregate, not an eager .count(),
    so the whole computation stays one lazy job."""
    n_docs = docs.agg(F.countDistinct(id_col).cast("double").alias("_n_docs"))
    terms = docs.select(
        F.col(id_col), F.explode(normalized_words(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        # NO forced broadcast of df_tbl: it has vocabulary cardinality
        # (a Zipf vocab does not reliably fit at corpus scale —
        # lm_quality_score below documents the same reasoning). Both
        # sides shuffle on `term` anyway; AQE broadcasts when the vocab
        # is genuinely small. Only the 1-row corpus-size aggregate is
        # safe to force.
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), ndigits
            ).alias("tfidf"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF (keyword
    extraction — the classic search/curation signal).

    tf = term count in doc; idf = ln(N / df) with df = number of docs
    containing the term. Plan shape for 100 TB: one explode, one
    (id, term) hash aggregate for tf, a term-level aggregate for df
    (cardinality = vocabulary, small next to the corpus) joined back
    BY TERM — the doc-frequency table behaves like a broadcast-able
    dimension — then a per-doc top-k window. No driver-side vocab, no
    collect; ties broken lexicographically for determinism.
    """
    from pyspark.sql.window import Window

    scored = _tfidf_scored(docs, id_col, text_col, ndigits)
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


def tfidf_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Top-k TF-IDF terms pivoted straight to (id, kw1..kwk) columns.

    Same scoring as `tfidf_top_terms`, but the per-doc top-k is an
    aggregate — collect_list(struct(-score, term)) → array_sort →
    slice — instead of a ROW_NUMBER window. The aggregate path partial-
    combines map-side and skips the window's per-partition sort, which
    measured ~25% faster at sf0.1 (see tools note in SCALE.md); output
    is identical (ties break on the term, ascending, in both shapes).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = _tfidf_scored(docs, id_col, text_col, ndigits)
    top = scored.groupBy(id_col).agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("tfidf")).alias("neg"), F.col("term"))
                )
            ),
            1,
            k,
        ).alias("_t")
    )
    return top.select(
        id_col,
        *[
            F.col("_t").getItem(i).getField("term").alias(f"kw{i + 1}")
            for i in range(k)
        ],
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping word-window chunks (window W,
    stride S) — the standard pre-embedding / RAG chunker. Chunk c
    covers word positions [c*S, c*S+W-1]; every chunk start below the
    doc length is emitted, the last chunks truncate at the end.

    Distributed shape: posexplode words once, then each word emits the
    ids of the chunks covering it (a ≤⌈W/S⌉-element sequence — constant
    fan-out), and chunks reassemble in ONE hash aggregate via
    sort_array(collect_list(struct(pos, w))). No chunk ever carries the
    whole document array through the explode (the naive slice-of-array
    approach ships O(doc²/S) bytes per doc), so chunking 100 TB is one
    shuffle keyed on (doc, chunk) with bounded row width.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    words = docs.select(
        F.col(id_col),
        F.posexplode(normalized_words(F.col(text_col))).alias("pos", "w"),
    ).filter(F.length("w") > 0)
    first_chunk = F.floor(
        (F.greatest(F.col("pos") - window + 1, F.lit(0)) + stride - 1) / stride
    )
    last_chunk = F.floor(F.col("pos") / stride)
    # stride > window leaves gap words covered by NO chunk: sequence()
    # with first > last would produce a DESCENDING id range (Spark
    # defaults step to -1) and assign those words to chunks that don't
    # cover them (review finding) — emit an empty cover set instead
    cover = F.when(
        first_chunk <= last_chunk, F.sequence(first_chunk, last_chunk)
    ).otherwise(F.array().cast("array<bigint>"))
    covering = words.select(
        F.col(id_col),
        F.explode(cover).alias("chunk_id"),
        "pos",
        "w",
    )
    return (
        covering.groupBy(id_col, "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
            ).alias("chunk_text"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            "n_tokens",
            "chunk_text",
        )
    )


# --- PII detection / redaction ---------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def plant_pii(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministically plant a contact line on every 4th document
    (email + IPv4 + phone derived from the id) — the analytic-oracle
    pattern: the corpus is synthetic word-salad with no natural PII, so
    detection/redaction is verified against planted ground truth and
    zero false positives on the clean remainder."""
    suffix = F.concat(
        F.lit(" contact user"),
        F.col(id_col).cast("string"),
        F.lit("@example.com from 10.0.0."),
        (F.col(id_col) % 256).cast("string"),
        F.lit(" tel 555-"),
        F.lpad((F.col(id_col) % 10000).cast("string"), 4, "0"),
    )
    return docs.withColumn(
        text_col,
        F.when(F.col(id_col) % 4 == 0, F.concat(F.col(text_col), suffix)).otherwise(
            F.col(text_col)
        ),
    )


def pii_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII scan + redaction: counts per category, the
    redacted text, and a residual count over the redacted text (must be
    0 — redaction is verified, not assumed). Pure column expressions
    (regexp_count / regexp_replace are codegen'd JVM ops — no Python in
    the scan path at any scale)."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "[EMAIL]"), IPV4_RE, "[IP]"
        ),
        PHONE_RE,
        "[PHONE]",
    )
    out = docs.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("bigint").alias("n_ips"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        redacted.alias("redacted"),
    )
    residual = (
        F.regexp_count(F.col("redacted"), F.lit(EMAIL_RE))
        + F.regexp_count(F.col("redacted"), F.lit(IPV4_RE))
        + F.regexp_count(F.col("redacted"), F.lit(PHONE_RE))
    )
    return out.select(
        id_col,
        "n_emails",
        "n_ips",
        "n_phones",
        residual.cast("bigint").alias("n_pii_after_redact"),
        F.length("redacted").cast("bigint").alias("redacted_len"),
    )


def lm_quality_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ndigits: int = 4,
) -> DataFrame:
    """Corpus-LM quality score (CCNet-style signal): average log
    unigram frequency of a document's words under the corpus's own
    distribution — low scores flag gibberish / OOV-heavy documents.

    Scale shape: ONE word-count aggregate builds the LM (map-side
    partial combine), the scoring join shuffles on the word key (AQE
    broadcasts the vocab when it fits; at 100 TB a Zipf vocab does not
    reliably fit, so no broadcast hint is forced), then one hash
    aggregate per document. No windows, no Python.
    """
    words = docs.select(
        F.col(id_col),
        F.explode(normalized_words(F.col(text_col))).alias("w"),
    ).filter(F.length("w") > 0)
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    return (
        words.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), ndigits).alias(
                "lm_score"
            )
        )
    )


def log_templates(
    events: DataFrame,
    msg_col: Column | None = None,
    group_cols: tuple[str, ...] = (),
    user_col: str | None = "user_id",
) -> DataFrame:
    """Drain-lite log-template mining: mask variable tokens (numbers,
    hex ids, quoted strings) out of each message, then group by the
    resulting template — the standard first pass of log clustering at
    warehouse scale (one regexp projection + one hash aggregate; no
    pairwise comparison, no Python).

    ``msg_col`` defaults to a deterministic message synthesized from the
    events row (the corpus has no free-text log lines), which makes the
    mined templates analytic — the oracle predicts them exactly.
    """
    if msg_col is None:
        # coalesce the numeric fields: F.concat is NULL-propagating, so
        # one NULL value/user_id made the whole synthesized message NULL
        # and the row fell into a NULL template group — while the SQL
        # oracle emits the masked template unconditionally (r6 review;
        # latent on the NULL-free fixture). "0" masks to <NUM> exactly
        # like any other numeral, so templates are unchanged where
        # values exist.
        msg_col = F.concat(
            F.lit("user "),
            F.coalesce(F.col("user_id").cast("string"), F.lit("0")),
            F.lit(" completed "),
            F.col("event_type"),
            F.lit(" in "),
            F.coalesce(F.col("value").cast("string"), F.lit("0")),
            F.lit(" ms"),
        )
    # the numeric mask covers the FULL literal incl. sign and exponent:
    # a negative or scientific-notation double ("-3.5", "1.0E-4") must
    # collapse to one <NUM>, not leak "-<NUM>"/"<NUM>E-<NUM>" fragments
    # that split templates (review finding)
    template = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(msg_col, r"0x[0-9a-fA-F]+", "<HEX>"),
            r"-?\d+(\.\d+)?([eE][+-]?\d+)?",
            "<NUM>",
        ),
        r"'[^']*'",
        "<STR>",
    )
    # user_col is optional: a DataFrame of arbitrary log lines (custom
    # msg_col) has no user_id, and hardcoding it raised
    # AnalysisException; it is also skipped from the select when it
    # already appears in group_cols (duplicate column = ambiguous ref).
    if user_col is not None and user_col not in events.columns:
        user_col = None
    extra = [user_col] if user_col is not None and user_col not in group_cols else []
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_events")]
    if user_col is not None:
        aggs.append(F.count_distinct(user_col).cast("bigint").alias("n_users"))
    return (
        events.select(template.alias("template"), *extra, *group_cols)
        .groupBy("template", *group_cols)
        .agg(*aggs)
    )
