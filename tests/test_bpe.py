"""BPE merge training (operators/text.bpe_train, Sennrich 2016): the
distributed trainer must reproduce a pure-Python reference
implementation of the algorithm merge-for-merge (determinism contract —
exact integer counts + (count desc, pair asc) tie-break make the table
layout-independent), honor the min-count stop, and fold overlapping
occurrences greedy-leftmost."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.text import (
    BPE_EOW,
    BPE_PRETOKEN_RE,
    bpe_ish_tokens,
    bpe_train,
)

CORPUS = [
    "the cat sat on the mat",
    "the cats eat fish, the fish swim",
    "low lower lowest new newer newest",
    "hug hugs hugging pug pugs 2024 2024",
    "the the the and and of",
]


def _ref_bpe_train(texts, n_merges, min_pair_count=2):
    """Sennrich 2016's published algorithm, verbatim shape: word-type
    dict -> per-round pair count -> greedy-leftmost replacement of the
    best pair.  Tie-break (count desc, a asc, b asc) matches the
    operator's ORDER BY."""
    pretoken = re.compile(BPE_PRETOKEN_RE)
    vocab = Counter()
    for t in texts:
        for w in pretoken.findall(t):
            vocab[tuple(list(w[:-1]) + [w[-1] + BPE_EOW])] += 1
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = Counter()
        for syms, cnt in vocab.items():
            out, pend = [], None
            for x in syms:
                if pend is None:
                    pend = x
                elif pend == a and x == b:
                    pend = a + b
                else:
                    out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            new_vocab[tuple(out)] += cnt
        vocab = new_vocab
    return merges


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([(t,) for t in CORPUS], "text string")


def test_trainer_matches_reference_implementation(spark, corpus_df):
    """The determinism contract: the distributed trainer and the
    pure-Python reference derive the IDENTICAL merge list (same pairs,
    same order) — and a re-run reproduces it (layout-independent)."""
    want = _ref_bpe_train(CORPUS, n_merges=24)
    got = bpe_train(corpus_df, n_merges=24, checkpoint_every=4)
    assert got == want
    assert bpe_train(corpus_df, n_merges=24, checkpoint_every=4) == got
    # the corpus's dominant unit ('the' as one token: t+h then th+e</w>
    # or similar) emerged within the budget
    joined = {a + b for a, b in got}
    assert "the" + BPE_EOW in joined or "the" in joined


def test_batched_rounds_train_identical_table(spark, corpus_df):
    """merges_per_round batches Spark jobs, not semantics: the safe
    (prefix-disjoint, tie-trimmed) batch rule must produce the EXACT
    sequential merge list at every batch size, incl. one larger than
    the whole budget."""
    want = bpe_train(corpus_df, n_merges=24, checkpoint_every=4)
    for m in (2, 4, 8, 64):
        got = bpe_train(
            corpus_df, n_merges=24, checkpoint_every=4, merges_per_round=m
        )
        assert got == want, m
    with pytest.raises(ValueError, match="merges_per_round"):
        bpe_train(corpus_df, n_merges=4, merges_per_round=0)


def test_batched_rounds_on_real_documents(spark, sf_dir):
    """Same identity on real text at test SF — messier symbol overlap
    structure than the toy corpus."""
    from consume_kafka_avro_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("text").limit(64)
    want = bpe_train(docs, n_merges=12)
    assert bpe_train(docs, n_merges=12, merges_per_round=6) == want


def test_safe_merge_batch_rules():
    """The batch selector in isolation: prefix stop at the first
    symbol-sharing pair (never skip-and-continue), overlap via the
    CREATED symbol counts as sharing, and members tying the first
    excluded count are trimmed (they could lose the sequential
    lexicographic tie-break)."""
    from consume_kafka_avro_data_spark.operators.text import (
        _safe_merge_batch,
    )

    def rows(*triples):
        return [{"a": a, "b": b, "n": n} for a, b, n in triples]

    # plain disjoint prefix, all accepted
    assert _safe_merge_batch(
        rows(("a", "b", 9), ("c", "d", 7), ("e", "f", 5)), 2, 2
    ) == [("a", "b"), ("c", "d")]
    # second pair shares 'b' -> stop AT it, don't skip to (e,f)
    assert _safe_merge_batch(
        rows(("a", "b", 9), ("b", "c", 7), ("e", "f", 5)), 3, 2
    ) == [("a", "b")]
    # sharing via the merged output: 'ab' is created by the first merge
    assert _safe_merge_batch(
        rows(("a", "b", 9), ("ab", "c", 7)), 2, 2
    ) == [("a", "b")]
    # tie with the first excluded count trims the tying member...
    assert _safe_merge_batch(
        rows(("a", "b", 9), ("c", "d", 7), ("x", "a", 7)), 2, 2
    ) == [("a", "b")]
    # ...but the argmax itself is never trimmed
    assert _safe_merge_batch(
        rows(("a", "b", 7), ("x", "a", 7)), 2, 2
    ) == [("a", "b")]
    # min_pair_count stops acceptance; argmax below it means no batch
    assert _safe_merge_batch(
        rows(("a", "b", 9), ("c", "d", 1)), 2, 2
    ) == [("a", "b")]
    assert _safe_merge_batch(rows(("a", "b", 1)), 2, 2) == []


def test_trainer_on_real_documents(spark, sf_dir):
    """Same contract on the documents table at test SF: Spark trainer ==
    reference trainer on identical text (pins the JVM/Python regex
    agreement on real data, not just the toy corpus)."""
    from consume_kafka_avro_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("text").limit(64)
    texts = [r.text or "" for r in docs.collect()]
    want = _ref_bpe_train(texts, n_merges=10)
    got = bpe_train(docs, n_merges=10)
    assert got == want


def test_pretokenizers_agree(spark, corpus_df):
    """bpe_ish_tokens (JVM regex) and the Python re used by encode/the
    reference trainer must split identically — one drifting pattern
    would silently change every trained table."""
    pretoken = re.compile(BPE_PRETOKEN_RE)
    rows = corpus_df.select(
        "text", bpe_ish_tokens("text").alias("toks")
    ).collect()
    for r in rows:
        assert list(r.toks) == pretoken.findall(r.text)


def test_greedy_leftmost_overlap(spark):
    """'aaaa' ([a, a, a, a</w>]): the first merge is (a, a), and the
    trainer's own fold over the overlapping occurrences agrees with the
    reference trainer for a deeper budget."""
    df = spark.createDataFrame([("aaaa aaaa aaaa",)], "text string")
    merges = bpe_train(df, n_merges=1)
    assert merges == [("a", "a")]
    assert bpe_train(df, n_merges=4, min_pair_count=1) == _ref_bpe_train(
        ["aaaa aaaa aaaa"], n_merges=4, min_pair_count=1
    )


def test_min_pair_count_stops_before_hapax_merges(spark):
    """Every pair in a one-occurrence corpus is hapax: with the default
    min_pair_count=2 nothing merges; lowering it to 1 trains on."""
    df = spark.createDataFrame([("xyzw",)], "text string")
    assert bpe_train(df, n_merges=5) == []
    # min_pair_count=1 trains until the word is ONE symbol (3 merges),
    # then stops on its own — never an infinite loop on exhaustion
    assert bpe_train(df, n_merges=5, min_pair_count=1) == [
        ("x", "y"),
        ("xy", "z"),
        ("xyz", "w" + BPE_EOW),
    ]


def test_empty_and_null_text_segment_to_empty(spark):
    """An empty corpus trains an empty table instead of raising."""
    df = spark.createDataFrame([("",), (None,)], "text string")
    assert bpe_train(df, n_merges=3) == []
