"""r11 optimization pin: the codegen'd exploded gram forms
(functions/textops.exploded_word_grams / exploded_char_grams) are
value-identical to the interpreted HOF Column forms they replaced on
every hot path (q_decontaminate[_bloom], duplicate_token_spans, the
streaming contamination gate, bench crossover)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.functions.textops import (
    exploded_char_grams,
    exploded_word_grams,
)
from consume_kafka_avro_data_spark.queries.curation import word_grams

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again", "a"),
    (2, "short doc", "b"),  # shorter than n tokens -> no grams
    (3, "", "a"),  # empty text
    (4, None, "b"),  # NULL text
    (5, "a a a a a a a a a a a a", "a"),  # repeated tokens
    (6, "double  space   runs split into empty census tokens here ok", "b"),
    (7, "İstanbul İzmir lowercase lengthens this doc by two chars x y z", "a"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id LONG, text STRING, source STRING")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("n", [2, 8])
def test_exploded_word_grams_equals_hof(docs, n):
    hof = docs.select(
        "doc_id", "source", F.posexplode(word_grams(n)).alias("p0", "g")
    ).select("doc_id", "source", (F.col("p0") + 1).alias("pos"), "g")
    fast = exploded_word_grams(docs, "doc_id", "source", n=n, pos_col="pos")
    assert fast.columns == ["doc_id", "source", "pos", "g"]
    assert _rows(fast) == _rows(hof)


def test_exploded_word_grams_no_pos(docs):
    hof = docs.select("doc_id", F.explode(word_grams(8)).alias("g"))
    fast = exploded_word_grams(docs, "doc_id", n=8)
    assert fast.columns == ["doc_id", "g"]
    assert _rows(fast) == _rows(hof)


@pytest.mark.parametrize("n", [3, 12])
def test_exploded_char_grams_equals_hof(docs, n):
    # the pre-r11 HOF form, bound and slices both from lower(text)
    # (r10 advisor semantics — incl. the length-changing 'İ' doc)
    hof_grams = F.when(
        F.length(F.lower("text")) >= n,
        F.expr(
            f"transform(sequence(1, length(lower(text)) - {n - 1}), "
            f"i -> substring(lower(text), i, {n}))"
        ),
    ).otherwise(F.expr("array()"))
    hof = docs.select(
        "doc_id", F.posexplode(hof_grams).alias("p0", "g")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "g")
    fast = exploded_char_grams(docs, "doc_id", n=n, pos_col="pos")
    assert fast.columns == ["doc_id", "pos", "g"]
    assert _rows(fast) == _rows(hof)


def test_exploded_word_grams_codegen_plan(docs):
    """The point of the rewrite: no CodegenFallback lambda — the plan
    must contain a plain sequence Generate, not transform(...,
    lambdafunction(...))."""
    fast = exploded_word_grams(docs, "doc_id", n=8)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
    assert "sequence" in plan


def test_exploded_shingles_equals_hof_set(docs):
    """operators/dedup._exploded_shingles: same per-doc shingle SET as
    explode(array_distinct(shingles(tokens_col, 3))) — duplicates and
    short/NULL docs included (duplicates are value-neutral for the
    min-agg/collect_set consumers)."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        _exploded_shingles,
        shingles,
        tokens_col,
    )

    hof = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokens_col("text"), 3))).alias("_sh"),
    )
    want = {}
    for r in hof.collect():
        want.setdefault(r[0], set()).add(r[1])
    got = {}
    for r in _exploded_shingles(docs).collect():
        got.setdefault(r[0], set()).add(r[1])
    assert got == want
