"""Text-analysis operators (charter U7): language-ID, quality scoring,
token counting, document fingerprinting — all JVM expressions.

These are the per-document feature extractors of a training-data
pipeline.  Every one is a map-only projection (no shuffle, no UDF), so
at 100 TB they run at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Small built-in stopword lists for the language-ID heuristic.  Function
# words are the standard high-signal/low-cost discriminator; lists are
# deliberately tiny (top function words only) so they inline as literals.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}


def tokens(text: str | Column = "text") -> Column:
    """Whitespace tokens of lowercased text; NULL canonicalized to ''
    (→ one empty token) so token-derived features never drop rows.
    Delegates to operators/dedup.tokens_col — ONE implementation of the
    corpus-wide NULL/tokenization convention, so document features and
    dedup signatures can never drift apart."""
    from consume_kafka_avro_data_spark.operators.dedup import tokens_col

    return tokens_col(text)


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio (array_intersect with literal
    lists — the n-gram-free heuristic; swap lists per deployment)."""
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        .cast("double")
        / F.size(toks)
        for lang, words in STOPWORDS.items()
    }


def lang_id(toks: Column) -> Column:
    """Argmax language with deterministic first-wins tie-breaking over
    the fixed STOPWORDS key order; 'und' (undetermined) when no stopword
    hits at all."""
    scores = lang_scores(toks)
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang in STOPWORDS:  # fixed order ⇒ deterministic ties
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def bpe_ish_tokens(text: str | Column = "text") -> Column:
    """BPE-ish pre-tokenization: letter runs, digit runs, or single
    non-space symbols — the GPT-2-style splitter shape, as one regex."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), F.lit(0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the standard quality-filter features: token stats, type-
    token ratio, alpha/punct ratios, max token repetition share.

    NULL/empty text follows the tokens() never-drop-rows convention:
    the char-level ratios guard their divisions (0-length text → 0.0,
    not the NULL a bare x/0 yields in non-ANSI mode), so a downstream
    ``quality > τ`` filter scores these rows instead of silently
    dropping them."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    alpha_chars = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    space_chars = F.length(t) - F.length(F.regexp_replace(t, " ", ""))
    # mode-token count as ONE fold over the sorted array (longest equal
    # run) — the distinct×filter formulation is O(n²) interpreted lambda
    # evals per document, ~50× more than this O(n) run-length fold
    top_tok_cnt = F.aggregate(
        F.sort_array(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return df.withColumns(
        {
            "n_tokens": n_tok.cast("long"),
            "ttr": F.size(F.array_distinct(toks)).cast("double") / n_tok,
            "mean_token_len": (n_chars - space_chars).cast("double") / n_tok,
            "alpha_ratio": F.when(
                n_chars > 0, alpha_chars.cast("double") / n_chars
            ).otherwise(F.lit(0.0)),
            "max_token_share": top_tok_cnt.cast("double") / n_tok,
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1]: penalize extreme length, low
    lexical diversity, low alpha ratio, heavy repetition.  Weights are
    heuristic; the point is the shape (bounded, monotone features)."""
    feats = quality_features(df, text_col)
    len_ok = F.least(F.col("n_tokens") / F.lit(20.0), F.lit(1.0))
    score = (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * F.least(F.col("ttr") * 2, F.lit(1.0))
        + F.lit(0.25) * F.col("alpha_ratio")
        + F.lit(0.25) * (F.lit(1.0) - F.col("max_token_share"))
    )
    return feats.withColumn("quality", F.round(score, 6))


def _winnow(text: str | Column, k: int, window: int, gram_hash) -> Column:
    """Shared winnowing body (Schleimer et al.): rolling k-char gram
    hashes via ``gram_hash``, then the min of each ``window`` of
    consecutive hashes, deduplicated.  One implementation for both hash
    families so the windowing/clamping logic cannot drift."""
    c = F.col(text) if isinstance(text, str) else text
    # corpus-wide NULL convention (as tokens_col / the counts table):
    # NULL text fingerprints like empty text — without this, substr on
    # NULL yields a [NULL] fingerprint array in the HOF forms while the
    # table form coalesces, and the two 'value-identical' paths drift
    c = F.coalesce(c, F.lit(""))
    n_hashes = F.length(c) - k + 1
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_hashes, F.lit(1))),
        lambda i: gram_hash(c.substr(i, F.lit(k))),
    )
    n_windows = F.greatest(F.size(hashes) - window + 1, F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(hashes, i, window)),
        )
    )


def winnow_fingerprints(text: str | Column = "text") -> Column:
    """Winnowing document fingerprints on xxhash64 (the cheap scale
    hash): 8-gram hashes, the min of each window of 4.  Near-identical documents share most fingerprints, so a
    group-by on exploded fingerprints finds overlap clusters.  All
    higher-order functions — one projection, no UDF."""
    return _winnow(text, 8, 4, F.xxhash64)


def winnow_fingerprints_md5(text: str | Column = "text") -> Column:
    """Portable winnowing twin of :func:`winnow_fingerprints`: the
    rolling k-gram hash is the first 16 md5 hex chars, so the per-window
    lexicographic min (≡ uint64 min on fixed-width hex) is reproducible
    in any engine with md5/substr — used by the oracle-checked
    q_winnow_fingerprints query."""
    return _winnow(
        text, 8, 4, lambda g: F.substring(F.md5(g), 1, 16)
    )


def winnow_fingerprint_counts(
    df,
    hash_fn: str = "md5",
):
    """Per-document winnowing fingerprint COUNTS as a table:
    (id_col, n_fingerprints) — value-identical to
    ``size(winnow_fingerprints[_md5](text))``.

    The Column variants build the hash list with array HOFs, which Spark
    interprets (no codegen) — ~90 s for 500 docs observed.  This form
    explodes the gram positions instead: the rolling hash is a codegen'd
    projection, the per-window minimum is a native running-min window
    frame (ROWS BETWEEN CURRENT AND window-1 FOLLOWING) over the
    position order, and the distinct count is an aggregate on the same
    doc-keyed partitioning — one shuffle total, carrying (doc, pos,
    16-char hash) rows.
    """
    from pyspark.sql import Window as W
    from consume_kafka_avro_data_spark.operators.dedup import ensure_min_splits

    id_col = "doc_id"
    text_col = "text"
    k = 8
    window = 4
    df = ensure_min_splits(df)
    # NULL text is treated as "" so the document keeps its (single,
    # empty-gram) fingerprint row instead of being dropped by the explode
    c = F.coalesce(F.col(text_col), F.lit(""))
    n_hashes = F.greatest(F.length(c) - k + 1, F.lit(1))
    pos = df.select(
        F.col(id_col),
        c.alias("_txt"),
        n_hashes.alias("_nh"),
        F.explode(F.sequence(F.lit(1), n_hashes)).alias("_i"),
    )
    gram = F.col("_txt").substr(F.col("_i"), F.lit(k))
    if hash_fn == "md5":
        h = F.substring(F.md5(gram), 1, 16)
    else:
        h = F.xxhash64(gram)
    hashed = pos.select(id_col, "_nh", "_i", h.alias("_h"))
    w = W.partitionBy(id_col).orderBy("_i").rowsBetween(0, window - 1)
    mins = hashed.select(
        id_col,
        "_i",
        "_nh",
        F.min("_h").over(w).alias("_fp"),
    ).where(F.col("_i") <= F.greatest(F.col("_nh") - (window - 1), F.lit(1)))
    return mins.groupBy(id_col).agg(
        F.countDistinct("_fp").alias("n_fingerprints")
    )


# ---------------------------------------------------------------------------
# tf-idf + sentiment lexicon (SURVEY §2.7 U7)
# ---------------------------------------------------------------------------

# Tiny illustrative lexicon chosen to intersect the testdata vocabulary;
# swap per deployment.  Kept as literal arrays so scoring is a pure
# map-side expression — no lexicon join, no UDF.
POSITIVE_WORDS: tuple[str, ...] = (
    "good", "great", "excellent", "fast", "best", "love", "win", "nice",
)
NEGATIVE_WORDS: tuple[str, ...] = (
    "bad", "slow", "terrible", "worst", "hate", "fail", "poor", "wrong",
)


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    lex = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(lex, x)))


def sentiment_score(df: DataFrame) -> DataFrame:
    """Lexicon sentiment: (pos-hits − neg-hits) / n_tokens, duplicates
    counted (filter, not intersect).  Map-only, codegen-friendly."""
    text_col = "text"
    toks = tokens(F.col(text_col))
    n_pos, n_neg = _count_in(toks, POSITIVE_WORDS), _count_in(toks, NEGATIVE_WORDS)
    return df.withColumns(
        {
            "n_pos": n_pos.cast("long"),
            "n_neg": n_neg.cast("long"),
            "sentiment": (n_pos - n_neg).cast("double") / F.size(toks),
        }
    )


def tf_idf(df: DataFrame) -> DataFrame:
    """Per-(doc, term) tf-idf with sklearn-style smoothing:
    ``idf = ln((N+1)/(df+1)) + 1``.

    Plan: explode → per-(doc,term) count [shuffle on (doc,term)] →
    per-term document frequency [shuffle on term] → idf joined back
    BROADCAST (document-frequency table is vocabulary-sized, tiny next
    to the corpus) — so the big tf side shuffles exactly once at 100 TB.
    """
    id_col = "doc_id"
    text_col = "text"
    terms = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            (
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0)
            ).alias("idf"),
        )
    )
    # dfreq is vocab-sized (unbounded at scale): no hint — the planner
    # broadcasts it while its estimate fits, shuffles on term at 100 TB
    return tf.join(dfreq, "term").select(
        id_col, "term", "tf", (F.col("tf") * F.col("idf")).alias("tfidf")
    )


#: the GPT-2-style pre-token splitter of :func:`bpe_ish_tokens` for
#: Python callers (the unigram encoder's ``re``) — one pattern, two
#: engines, pinned equal by pytest
BPE_PRETOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


#: C4's terminal-punctuation set (Raffel et al. 2020 §2.2): a line is
#: retained only if it ends in one of these.
C4_TERMINALS = (".", "!", "?", '"', "'")


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4's LINE-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning…" §2.2 — public recipe), the stage
    BELOW the doc-level gates this repo already ships (Gopher rules,
    classifier, LM): lines are kept only when they end in terminal
    punctuation, have ≥ ``min_line_words`` words, and don't contain
    the word "javascript"; the doc is then flagged unkept when the
    cleaned text contains "lorem ipsum" or a curly brace (code), or
    has fewer than ``min_sentences`` sentences (approximated, as in
    public reimplementations, by terminal-punctuation count over the
    RETAINED lines).

    Returns the caller's columns with ``text_col`` REPLACED by the
    cleaned text, plus ``n_lines`` / ``n_lines_kept`` and the
    ``c4_keep`` doc flag — the caller filters, so rejected docs remain
    auditable.  Entirely JVM higher-order/array expressions: map-only
    codegen over the scan, no Python, no shuffle (Exchange-free plan
    pinned) — at 100 TB this runs at full scan speed ahead of any
    other stage, which is exactly where C4 runs it."""
    # NULL text = empty doc (auditable rejection, not NULL poison);
    # split on \r?\n so CRLF web text — exactly what this stage exists
    # to clean — doesn't hide a trailing \r from the terminal check
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, r"\r?\n")
    # full whitespace trim (F.trim strips only spaces — tabs would
    # survive and both defeat the terminal check and inflate the
    # \s+ word count)
    trimmed = F.transform(
        lines,
        lambda ln: F.regexp_replace(
            F.regexp_replace(ln, r"^\s+", ""), r"\s+$", ""
        ),
    )
    ends_ok = lambda ln: F.substring(ln, -1, 1).isin(  # noqa: E731
        *C4_TERMINALS
    )
    long_enough = lambda ln: (  # noqa: E731
        F.size(F.split(ln, r"\s+")) >= F.lit(min_line_words)
    )
    no_js = lambda ln: ~F.contains(  # noqa: E731
        F.lower(ln), F.lit("javascript")
    )
    kept = F.filter(
        trimmed,
        lambda ln: (ln != "") & ends_ok(ln) & long_enough(ln) & no_js(ln),
    )
    clean = F.array_join(kept, "\n")
    # sentence proxy: terminal marks FOLLOWED BY whitespace or line end
    # in the retained lines — counting every [.!?] character would let
    # abbreviations and ellipses ('e.g.', '...') inflate the count and
    # weaken the min_sentences gate relative to C4's sentence-split
    # semantics (each kept line carries no newline, so $ is the line
    # boundary; joined-doc interior boundaries become \s matches)
    n_sentences = F.aggregate(
        kept,
        F.lit(0),
        lambda acc, ln: acc + F.regexp_count(ln, F.lit(r"[.!?](\s|$)")),
    )
    doc_ok = (
        ~F.contains(F.lower(clean), F.lit("lorem ipsum"))
        & ~F.contains(clean, F.lit("{"))
        & (n_sentences >= F.lit(min_sentences))
    )
    others = [c for c in df.columns if c != text_col]
    return df.select(
        *others,
        clean.alias(text_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_lines_kept"),
        doc_ok.alias("c4_keep"),
    )


#: The published Gopher REPETITION-removal thresholds (Rae et al. 2021,
#: table A1 — public): a document is removed when any metric EXCEEDS
#: its bound (strictly greater, the q_gopher_rules boundary
#: convention).
GOPHER_REP_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _gopher_rep_metrics(text: str) -> dict[str, float]:
    """One document's repetition metrics — the per-row kernel shared by
    the operator and (independently re-derived) its tests.

    Exact definitions (the paper names the metrics; these pin the
    ambiguities the way public reimplementations commonly do):

    * lines = '\\n'-split, trimmed, non-empty; paragraphs =
      '\\n\\n'-split likewise.  ``dup_X_frac`` = occurrences beyond the
      first of each repeated item / total items;
      ``dup_X_char_frac`` = their characters / total item characters.
    * words = lowercased whitespace split; the character universe for
      every n-gram metric is ``" ".join(words)``.
    * ``top_{n}gram_char_frac`` (n = 2..4): the most frequent word
      n-gram's count × its character length / total characters —
      ties broken by (longer gram, then lexicographic) so the metric
      is deterministic; 0 when no n-gram repeats (a single occurrence
      is no repetition evidence).
    * ``dup_{n}gram_char_frac`` (n = 5..10): the UNION of character
      spans covered by every occurrence of every n-gram that occurs
      ≥ 2 times, / total characters — overlap-aware, so chained
      repeats never count a character twice.

    NULL/empty text ⇒ all metrics 0 (no repetition evidence)."""
    from collections import Counter

    out = {k: 0.0 for k in GOPHER_REP_THRESHOLDS}
    t = text or ""

    def dup_fracs(items: list[str]) -> tuple[float, float]:
        if not items:
            return 0.0, 0.0
        seen = Counter(items)
        extra = sum(c - 1 for c in seen.values())
        extra_chars = sum((c - 1) * len(i) for i, c in seen.items())
        total_chars = sum(len(i) for i in items)
        return (
            extra / len(items),
            extra_chars / total_chars if total_chars else 0.0,
        )

    lines = [ln.strip() for ln in t.split("\n")]
    lines = [ln for ln in lines if ln]
    paras = [p.strip() for p in t.split("\n\n")]
    paras = [p for p in paras if p]
    out["dup_line_frac"], out["dup_line_char_frac"] = dup_fracs(lines)
    out["dup_para_frac"], out["dup_para_char_frac"] = dup_fracs(paras)

    words = t.lower().split()
    norm = " ".join(words)
    total = len(norm)
    if total == 0:
        return out
    # char offset of word i in norm (words joined by single spaces)
    starts = []
    pos = 0
    for w in words:
        starts.append(pos)
        pos += len(w) + 1
    for n in (2, 3, 4):
        grams = Counter(
            tuple(words[i : i + n]) for i in range(len(words) - n + 1)
        )
        if not grams:
            continue
        top_g, top_c = max(
            grams.items(),
            key=lambda kv: (kv[1], len(" ".join(kv[0])), kv[0]),
        )
        if top_c >= 2:
            out[f"top_{n}gram_char_frac"] = (
                top_c * len(" ".join(top_g)) / total
            )
    for n in range(5, 11):
        m = len(words) - n + 1
        gram_at = [tuple(words[i : i + n]) for i in range(m)]
        grams = Counter(gram_at)
        # union of the dup-gram character spans via one merge sweep:
        # span starts are strictly increasing in i, so the spans
        # arrive pre-sorted and the union is O(#occurrences) span
        # arithmetic — the r08 per-character bytearray loop was
        # O(doc_len) per occurrence (pinned metric-identical to it
        # in tests/test_gopher_repetition.py)
        covered = 0
        cur_a = cur_b = -1
        for i in range(m):
            if grams[gram_at[i]] >= 2:
                a = starts[i]
                b = starts[i + n - 1] + len(words[i + n - 1])
                if a > cur_b:
                    covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                elif b > cur_b:
                    cur_b = b
        covered += cur_b - cur_a
        out[f"dup_{n}gram_char_frac"] = covered / total
    return out


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """The OTHER half of Gopher's published filter (Rae et al. 2021
    table A1 — repetition removal; ``q_gopher_rules`` certifies the
    quality-rule half): per-document duplicate-line/paragraph
    fractions, top n-gram character fractions (n = 2..4), and
    duplicated n-gram character coverage (n = 5..10), plus the
    ``gopher_rep_keep`` flag — False when ANY metric strictly exceeds
    its published bound.  Metric definitions: see
    ``_gopher_rep_metrics``; thresholds override via ``thresholds``.

    Plan shape: ONE Arrow-batched ``mapInPandas`` pass appending the
    13 metric columns — map-only, no shuffle, so at 100 TB this runs
    at (Python-bounded) scan speed beside the other doc gates.  The
    within-document counting is inherently per-row (Counter over the
    doc's own n-grams); expressing it as self-gram HOF expressions
    would be O(G²) interpreted per doc, and a doc-keyed gram shuffle
    would turn a gate into a corpus shuffle — the Arrow kernel is the
    scalable shape here, like DSIR's featurizer.  Rejected docs stay
    auditable: the caller filters on the flag."""
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StructField,
        StructType,
    )

    th = dict(GOPHER_REP_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown threshold keys: {sorted(unknown)}")
        th.update(thresholds)
    names = list(GOPHER_REP_THRESHOLDS)
    clash = (set(names) | {"gopher_rep_keep"}) & set(df.columns)
    if clash:
        raise ValueError(
            f"gopher_repetition needs columns {sorted(clash)} free, but "
            "the frame already carries them"
        )
    in_fields = df.schema.fields
    out_schema = StructType(
        list(in_fields)
        + [StructField(n, DoubleType(), False) for n in names]
        + [StructField("gopher_rep_keep", BooleanType(), False)]
    )

    def gen(batches):
        for pdf in batches:
            rows = [
                _gopher_rep_metrics(t) for t in pdf[text_col]
            ]
            for n in names:
                pdf[n] = pd.Series(
                    [r[n] for r in rows], index=pdf.index, dtype="float64"
                )
            pdf["gopher_rep_keep"] = pd.Series(
                [all(r[n] <= th[n] for n in names) for r in rows],
                index=pdf.index,
                dtype="bool",
            )
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)
