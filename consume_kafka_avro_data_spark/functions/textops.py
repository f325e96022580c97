"""The census tokenizer — ONE definition of "lowercase, split on
single spaces, drop empties", shared by every operator whose parity
contract depends on tokenizing identically: the corpus statistics
queries (perplexity, vocab, tf-idf), the substring span dedup and the
corpus-drift census.  A tokenizer tweak made here changes all of them
together; made anywhere else it silently desynchronizes one census
from another.

(The near-dup shingle tokenizer in ``operators/dedup.py`` is
DELIBERATELY different — whitespace-run splitting with null coalesce —
and must not be merged into this one.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def lower_tokens(col: str | Column = "text") -> Column:
    """``array<string>`` of the census tokens of ``col`` (may contain
    empty strings where the text has runs of spaces — array consumers
    that care filter them; see ``census_token_stream``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), " ")


def census_token_stream(docs: DataFrame, *keys: str) -> DataFrame:
    """One row per (``*keys``, tok) with empties dropped — the exploded
    census token stream over a frame with a ``text`` column."""
    return docs.select(
        *keys, F.explode(lower_tokens()).alias("tok")
    ).where(F.col("tok") != "")


def exploded_word_grams(
    docs: DataFrame,
    *keys: str,
    n: int = 8,
    pos_col: str | None = None,
) -> DataFrame:
    """One row per word ``n``-gram window of ``text``:
    ``(*keys, [pos_col,] g)`` with 1-based window-start
    positions; docs shorter than ``n`` census tokens emit no rows.

    Value-identical to ``F.posexplode(word_grams(n))`` (same census
    tokens, same windows) but built for whole-stage codegen: the HOF
    form — ``transform(sequence(...), i -> concat_ws(slice(...)))`` —
    is a ``CodegenFallback`` expression whose lambda is *interpreted*
    per window, and it re-evaluates ``split(lower(text))`` up to 3×
    per document because the whole gram array is one expression tree
    (see plans/r11/q_decontaminate_before.txt operator (4)).  This
    form tokenizes ONCE per doc in a Project, explodes a plain int
    sequence (codegen'd Generate), and assembles each gram with
    codegen'd ``slice`` + ``concat_ws`` — measured ~3× faster on the
    sf0.1 decontamination gram stream (OPTIMIZATION_r11.md).  Same
    lesson as operators/text.py's winnowing rewrite ("the HOF Column
    variants are value-identical but interpreted, hence ~50× slower"),
    applied to the word-gram family.

    Working columns are underscore-prefixed (``__wg_toks``/``__wg_pos``)
    so caller column names can never collide."""
    toks = lower_tokens("text")
    pos = F.when(
        F.size("__wg_toks") >= n,
        F.sequence(F.lit(1), F.size("__wg_toks") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(" ", F.slice("__wg_toks", F.col("__wg_pos"), n))
    out_cols = [F.col("__wg_pos").alias(pos_col)] if pos_col else []
    return (
        docs.select(*keys, toks.alias("__wg_toks"))
        .select(*keys, "__wg_toks", F.explode(pos).alias("__wg_pos"))
        .select(*keys, *out_cols, gram.alias("g"))
    )


def exploded_char_grams(
    docs: DataFrame,
    *keys: str,
    n: int,
    pos_col: str | None = None,
) -> DataFrame:
    """Character-gram twin of :func:`exploded_word_grams`: one row per
    char ``n``-gram window of ``lower(text)`` with 1-based offsets
    into the LOWERED text (offset semantics per the r10 advisor fix —
    both the window bound and the slices derive from the same lowered
    string, so length-changing lowercase mappings like U+0130 stay
    consistent).  Docs whose lowered form is shorter than ``n`` chars
    emit no rows.  Value-identical to the HOF
    ``transform(sequence(1, length(lower(text)) - (n-1)),
    i -> substring(lower(text), i, n))`` form but codegen'd: lower()
    runs once per doc, substring once per window."""
    low = F.lower(F.col("text"))
    pos = F.when(
        F.length("__cg_low") >= n,
        F.sequence(F.lit(1), F.length("__cg_low") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.substring(F.col("__cg_low"), F.col("__cg_pos"), n)
    out_cols = [F.col("__cg_pos").alias(pos_col)] if pos_col else []
    return (
        docs.select(*keys, low.alias("__cg_low"))
        .select(*keys, "__cg_low", F.explode(pos).alias("__cg_pos"))
        .select(*keys, *out_cols, gram.alias("g"))
    )
