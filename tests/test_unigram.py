"""Unigram-LM tokenizer training (operators/unigram, Kudo 2018): the
distributed trainer must reproduce an independent pure-Python
implementation of the documented recipe piece-for-piece (determinism
contract — sig-rounded expected counts + (count desc, piece asc)
tie-break make the table layout-independent), obey the EM likelihood
law, always keep character coverage, and round-trip through the
Viterbi encoder."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.unigram import (
    corpus_nll,
    unigram_segment,
    unigram_train,
    viterbi_pieces,
)
from consume_kafka_avro_data_spark.operators.text import BPE_PRETOKEN_RE

CORPUS = [
    "the cat sat on the mat",
    "the cats eat fish, the fish swim",
    "low lower lowest new newer newest",
    "hug hugs hugging pug pugs 2024 2024",
    "the the the and and of",
    "internationalization international nation nationalization",
]

NEG_INF = float("-inf")


def _sig9(x):
    if x == 0.0 or not math.isfinite(x):
        return x
    return float(f"{x:.8e}")


def _lae(a, b):
    if a == NEG_INF:
        return b
    if b == NEG_INF:
        return a
    if a < b:
        a, b = b, a
    return a + math.log1p(math.exp(b - a))


def _ref_word_types(texts):
    pretoken = re.compile(BPE_PRETOKEN_RE)
    types = Counter()
    for t in texts:
        for w in pretoken.findall(t):
            if w:
                types[w] += 1
    return types


def _ref_unigram_train(
    texts, vocab_size, seed_size=1000, max_piece_len=8, em_iters=2, shrink=0.75
):
    """Kudo 2018's recipe as documented in the operator: substring
    seed, forward-backward EM with MLE M-step, expected-count prune —
    implemented independently (plain dict/loop Python, no Spark)."""
    types = _ref_word_types(texts)

    # seed: every substring up to max_piece_len, weighted by word freq
    weights = Counter()
    for w, cnt in types.items():
        for i in range(len(w)):
            for k in range(1, min(max_piece_len, len(w) - i) + 1):
                weights[w[i : i + k]] += cnt
    chars = sorted(p for p in weights if len(p) == 1)
    multi = sorted(
        ((p, _sig9(float(c))) for p, c in weights.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[: max(0, seed_size - len(chars))]
    pieces = chars + [p for p, _ in multi]

    def m_step(counts, pieces):
        total = sum(counts.get(p, 0.0) for p in sorted(pieces))
        lt = math.log(total)
        return {
            p: (math.log(counts.get(p, 0.0)) - lt)
            if counts.get(p, 0.0) > 0.0
            else -1e9
            for p in pieces
        }

    def e_step(logp):
        acc = defaultdict(float)
        for w, cnt in types.items():
            ln = len(w)
            alpha = [NEG_INF] * (ln + 1)
            alpha[0] = 0.0
            for i in range(1, ln + 1):
                for j in range(max(0, i - max_piece_len), i):
                    p = logp.get(w[j:i])
                    if p is not None and alpha[j] != NEG_INF:
                        alpha[i] = _lae(alpha[i], alpha[j] + p)
            z = alpha[ln]
            if z == NEG_INF:
                continue
            beta = [NEG_INF] * (ln + 1)
            beta[ln] = 0.0
            for j in range(ln - 1, -1, -1):
                for i in range(j + 1, min(ln, j + max_piece_len) + 1):
                    p = logp.get(w[j:i])
                    if p is not None and beta[i] != NEG_INF:
                        beta[j] = _lae(beta[j], p + beta[i])
            for j in range(ln):
                if alpha[j] == NEG_INF:
                    continue
                for i in range(j + 1, min(ln, j + max_piece_len) + 1):
                    p = logp.get(w[j:i])
                    if p is not None and beta[i] != NEG_INF:
                        acc[w[j:i]] += math.exp(alpha[j] + p + beta[i] - z) * cnt
        return {p: _sig9(c) for p, c in acc.items()}

    seed_weights = {p: _sig9(float(c)) for p, c in weights.items()}
    logp = m_step(seed_weights, pieces)
    target_multi = vocab_size - len(chars)
    while True:
        for _ in range(em_iters):
            counts = e_step(logp)
            logp = m_step(counts, pieces)
        n_multi = len(pieces) - len(chars)
        if n_multi <= target_multi:
            break
        keep = max(target_multi, int(math.floor(n_multi * shrink)))
        ranked = sorted(
            ((p, counts.get(p, 0.0)) for p in pieces if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        pieces = chars + sorted(p for p, _ in ranked[:keep])
        logp = m_step(counts, pieces)
    return sorted(logp.items())


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([(t,) for t in CORPUS], "text string")


def test_trainer_matches_reference_implementation(spark, corpus_df):
    """Piece-for-piece table equality against the independent
    pure-Python recipe, log-probs to 1e-6 — across two shrink
    schedules (many prune rounds vs few)."""
    for vocab_size, seed_size, shrink in ((40, 120, 0.75), (60, 90, 0.5)):
        want = _ref_unigram_train(
            CORPUS, vocab_size=vocab_size, seed_size=seed_size, shrink=shrink
        )
        got = unigram_train(
            corpus_df, vocab_size=vocab_size, seed_size=seed_size, shrink=shrink
        )
        assert [p for p, _ in got] == [p for p, _ in want]
        for (_, g), (_, w) in zip(got, want):
            assert g == pytest.approx(w, abs=1e-6)


def test_layout_independence(spark, corpus_df):
    """The determinism contract: the identical piece table (pieces AND
    log-probs) from 1-partition and 7-partition layouts."""
    a = unigram_train(corpus_df.coalesce(1), vocab_size=40, seed_size=120)
    b = unigram_train(corpus_df.repartition(7), vocab_size=40, seed_size=120)
    assert [p for p, _ in a] == [p for p, _ in b]
    for (_, x), (_, y) in zip(a, b):
        assert x == pytest.approx(y, abs=1e-9)


def test_character_coverage_and_vocab_size(spark, corpus_df):
    """Every corpus character survives pruning (coverage = 1), the
    final vocab is exactly vocab_size, and every word type segments."""
    stats: dict = {}
    model = unigram_train(corpus_df, vocab_size=40, seed_size=120, stats=stats)
    assert len(model) == 40
    vocab = {p for p, _ in model}
    types = _ref_word_types(CORPUS)
    chars = {c for w in types for c in w}
    assert chars <= vocab
    logp = dict(model)
    for w in types:
        assert "".join(viterbi_pieces(w, logp, 8)) == w
    assert stats["prune_rounds"] >= 1
    assert stats["e_steps"] == (stats["prune_rounds"] + 1) * 2


def test_em_improves_likelihood(spark, corpus_df):
    """The EM law: on a FIXED vocabulary, more EM iterations never
    worsen total corpus NLL (monotone likelihood ascent)."""
    # vocab_size == seed cap → no pruning, pure EM
    m1 = unigram_train(corpus_df, vocab_size=60, seed_size=60, em_iters=1)
    m3 = unigram_train(corpus_df, vocab_size=60, seed_size=60, em_iters=3)
    nll1 = corpus_nll(corpus_df, m1)
    nll3 = corpus_nll(corpus_df, m3)
    assert nll3 <= nll1 + 1e-6
    assert nll3 > 0.0


def test_segment_round_trip_and_memo(spark, corpus_df):
    """unigram_segment concatenates back to the pre-tokenized text and
    prefers high-probability long pieces over char fallback."""
    model = unigram_train(corpus_df, vocab_size=50, seed_size=120)
    out = unigram_segment(corpus_df, model).collect()
    pretoken = re.compile(BPE_PRETOKEN_RE)
    for row in out:
        assert "".join(row["unigram_pieces"]) == "".join(
            pretoken.findall(row["text"])
        )
    # the corpus's dominant word should not shatter to characters
    by_text = {r["text"]: r["unigram_pieces"] for r in out}
    the_doc = by_text["the the the and and of"]
    assert any(len(p) > 1 for p in the_doc)


def test_viterbi_tie_break_prefers_longer_final_piece():
    """Exact-tie segmentations resolve toward the smaller split point
    (longer final piece) — the documented deterministic rule."""
    logp = {"a": math.log(0.25), "b": math.log(0.25), "ab": math.log(0.25 * 0.25)}
    # 'ab' as one piece ties ['a','b'] exactly: pick the longer final
    assert viterbi_pieces("ab", logp, 2) == ["ab"]


def test_unigram_segment_null_and_empty(spark):
    """NULL and empty text encode to empty piece arrays, not errors."""
    df = spark.createDataFrame([(None,), ("",), ("cat",)], "text string")
    model = [("a", -1.0), ("c", -1.0), ("t", -1.0)]
    rows = unigram_segment(df, model).collect()
    got = [r["unigram_pieces"] for r in rows]
    assert [] in got and ["c", "a", "t"] in got


def test_degenerate_and_invalid_inputs(spark):
    """Repeated-single-word corpus trains; empty corpus and too-small
    vocab_size raise eagerly."""
    df = spark.createDataFrame([("aaaa aaaa",)] * 3, "text string")
    model = unigram_train(df, vocab_size=3, seed_size=10, max_piece_len=4)
    vocab = [p for p, _ in model]
    assert "a" in vocab and len(model) == 3
    empty = spark.createDataFrame([], "text string")
    with pytest.raises(ValueError, match="empty corpus"):
        unigram_train(empty, vocab_size=5)
    with pytest.raises(ValueError, match="alphabet"):
        unigram_train(df, vocab_size=1, seed_size=10)
    with pytest.raises(ValueError, match="shrink"):
        unigram_train(df, vocab_size=3, shrink=1.0)


def test_save_load_bit_identical(spark, corpus_df, tmp_path):
    """The fit-once/encode-many deployment contract: a reloaded model
    is EXACTLY the trained one (json floats round-trip via repr), and
    encodes identically."""
    from consume_kafka_avro_data_spark.operators.unigram import (
        unigram_load,
        unigram_save,
    )

    model = unigram_train(corpus_df, vocab_size=40, seed_size=120)
    path = str(tmp_path / "unigram_model.json")
    unigram_save(spark, model, path)
    loaded = unigram_load(spark, path)
    assert loaded == model  # bit-identical, not approx
    a = unigram_segment(corpus_df, model).collect()
    b = unigram_segment(corpus_df, loaded).collect()
    assert [r["unigram_pieces"] for r in a] == [r["unigram_pieces"] for r in b]
    # re-save over the same path is an atomic overwrite, not an error
    unigram_save(spark, loaded, path)
    assert unigram_load(spark, path) == model


def _ref_sample(text, model, alpha, seed, max_piece_len=None):
    """Independent FFBS: forward pass under α-scaled log-probs, then
    backward draws using the operator's documented RNG derivation."""
    import hashlib

    logp = dict(model)
    if max_piece_len is None:
        max_piece_len = max(len(p) for p in logp)
    pretoken = re.compile(BPE_PRETOKEN_RE)
    doc_md5 = hashlib.md5(text.encode()).hexdigest()
    pieces = []
    for widx, w in enumerate(pretoken.findall(text)):
        ln = len(w)
        a = [NEG_INF] * (ln + 1)
        a[0] = 0.0
        for i in range(1, ln + 1):
            for j in range(max(0, i - max_piece_len), i):
                p = logp.get(w[j:i])
                if p is not None and a[j] != NEG_INF:
                    a[i] = _lae(a[i], a[j] + alpha * p)
        if a[ln] == NEG_INF:
            pieces.append(w)
            continue
        out, i, step = [], ln, 0
        while i > 0:
            cands, total = [], 0.0
            for j in range(max(0, i - max_piece_len), i):
                p = logp.get(w[j:i])
                if p is not None and a[j] != NEG_INF:
                    wt = math.exp(a[j] + alpha * p - a[i])
                    cands.append((j, wt))
                    total += wt
            h = hashlib.md5(f"{seed}:{doc_md5}:{widx}:{step}".encode()).digest()
            u = ((int.from_bytes(h[:8], "big") + 0.5) / 2.0**64) * total
            step += 1
            acc, pick = 0.0, cands[-1][0]
            for j, wt in cands:
                acc += wt
                if u <= acc:
                    pick = j
                    break
            out.append(w[pick:i])
            i = pick
        pieces.extend(reversed(out))
    return pieces


def test_sampled_segmentation_matches_ffbs_reference(spark, corpus_df):
    """sample_alpha draws EXACTLY the segmentations the independent
    FFBS reference draws (same α-lattice, same documented RNG chain)."""
    model = unigram_train(corpus_df, vocab_size=50, seed_size=120)
    got = unigram_segment(corpus_df, model, sample_alpha=0.5, seed=11).collect()
    for row in got:
        want = _ref_sample(row["text"], model, alpha=0.5, seed=11)
        assert row["unigram_pieces"] == want


def test_sampling_is_deterministic_and_diverse(spark, corpus_df):
    """Same seed → identical output across partition layouts; the
    sampler actually regularizes (two seeds disagree somewhere); every
    sample still concatenates back to the pre-tokenized text."""
    model = unigram_train(corpus_df, vocab_size=50, seed_size=120)
    a = unigram_segment(corpus_df, model, sample_alpha=0.3, seed=1).collect()
    b = unigram_segment(
        corpus_df.repartition(7), model, sample_alpha=0.3, seed=1
    ).collect()
    by_text = lambda rows: {r["text"]: r["unigram_pieces"] for r in rows}
    assert by_text(a) == by_text(b)
    # diversity across seeds: the sampler must not be degenerate.
    # EM on a tiny corpus concentrates the lattice hard (at α=0.3 the
    # one-best carries ~all the α-scaled mass — verified with the
    # reference sampler), so probe diversity in the flat regime:
    # at α=0.05 among eight seeds at least two segmentations differ.
    outcomes = {
        tuple(
            tuple(r["unigram_pieces"])
            for r in sorted(
                unigram_segment(
                    corpus_df, model, sample_alpha=0.05, seed=s
                ).collect(),
                key=lambda r: r["text"],
            )
        )
        for s in range(8)
    }
    assert len(outcomes) >= 2
    pretoken = re.compile(BPE_PRETOKEN_RE)
    vocab = {p for p, _ in model}
    for r in a:
        assert "".join(r["unigram_pieces"]) == "".join(pretoken.findall(r["text"]))
        assert all(p in vocab for p in r["unigram_pieces"])


def test_large_alpha_concentrates_on_viterbi(spark, corpus_df):
    """As α grows the sampling distribution collapses onto the one-best
    path — at α=50 every draw equals the Viterbi segmentation."""
    model = unigram_train(corpus_df, vocab_size=50, seed_size=120)
    vit = unigram_segment(corpus_df, model).collect()
    smp = unigram_segment(corpus_df, model, sample_alpha=50.0, seed=9).collect()
    assert [r["unigram_pieces"] for r in vit] == [
        r["unigram_pieces"] for r in smp
    ]


def test_sample_alpha_validated(spark, corpus_df):
    model = [("a", -1.0)]
    with pytest.raises(ValueError, match="sample_alpha"):
        unigram_segment(corpus_df, model, sample_alpha=0.0)


def test_em_iters_validated(spark, corpus_df):
    with pytest.raises(ValueError, match="em_iters"):
        unigram_train(corpus_df, vocab_size=40, seed_size=120, em_iters=0)


def test_corpus_nll_unsegmentable_policy(spark):
    """Held-out words with out-of-vocab characters must not silently
    vanish from the NLL (that would bias comparisons toward models
    with SMALLER coverage): default errors with the skipped count,
    opt-in skip excludes them."""
    df = spark.createDataFrame([("ab ab xq",)], "text string")
    model = [("a", math.log(0.4)), ("b", math.log(0.4)), ("ab", math.log(0.2))]
    with pytest.raises(ValueError, match="no lattice path"):
        corpus_nll(df, model)
    got = corpus_nll(df, model, on_unsegmentable="skip")
    # 2 × -log Z("ab"); Z = p(a)p(b) + p(ab)
    want = -2.0 * math.log(0.4 * 0.4 + 0.2)
    assert got == pytest.approx(want, abs=1e-9)
    with pytest.raises(ValueError, match="on_unsegmentable"):
        corpus_nll(df, model, on_unsegmentable="maybe")


def test_segment_is_map_only(spark, corpus_df):
    """Encoding (Viterbi and sampling alike) adds no Exchange — at
    100 TB it runs at parquet scan speed like the other per-doc
    featurizers."""
    model = [("a", -1.0), ("t", -1.0), ("h", -1.0), ("e", -1.0)]
    for kwargs in ({}, {"sample_alpha": 0.5, "seed": 3}):
        plan = (
            unigram_segment(corpus_df, model, **kwargs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


def test_min_word_count_prunes_exactly(spark, corpus_df):
    """The scale lever: the min_word_count model IS the model of the
    pruned word-type table — pinned against the reference fed the
    pruned corpus — and default 1 changes nothing."""
    types = _ref_word_types(CORPUS)
    # rebuild a corpus whose word types are exactly those with cnt >= 2
    kept = [w for w, c in types.items() for _ in range(c) if c >= 2]
    pruned_corpus = [" ".join(kept)]
    want = _ref_unigram_train(pruned_corpus, vocab_size=30, seed_size=80)
    got = unigram_train(
        corpus_df, vocab_size=30, seed_size=80, min_word_count=2
    )
    assert [p for p, _ in got] == [p for p, _ in want]
    for (_, g), (_, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-6)
    assert unigram_train(
        corpus_df, vocab_size=40, seed_size=120, min_word_count=1
    ) == unigram_train(corpus_df, vocab_size=40, seed_size=120)
    with pytest.raises(ValueError, match="min_word_count"):
        unigram_train(corpus_df, vocab_size=30, min_word_count=0)
