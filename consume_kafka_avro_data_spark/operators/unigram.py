"""Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization:
Improving Neural Network Translation Models with Multiple Subword
Candidates" — the SentencePiece unigram algorithm; public knowledge).

This module learns a tokenizer as a piece VOCABULARY with unigram
log-probabilities, fit by EM over the segmentation lattice and pruned
to a target size (reference parity target: the charter's
U7 text-analysis row; the reference itself has no tokenizer — this is
EXT capability like the rest of the LLM-pipeline ladder).

Algorithm (Kudo 2018 §3.2, with two documented simplifications chosen
for determinism — both standard in public reimplementations):

1. Seed vocabulary: every substring (length ≤ ``max_piece_len``) of the
   corpus word types, weighted by word frequency; keep the most
   frequent ``seed_size`` pieces.  Single characters are ALWAYS kept —
   they guarantee every word stays segmentable at every round (Kudo's
   "character coverage" with coverage = 1).
2. EM over the per-word segmentation lattice: the E-step computes each
   piece's EXPECTED count under the current piece distribution with
   forward–backward over all segmentations of each word type (weighted
   by word frequency); the M-step re-normalizes counts into new piece
   log-probs.  [Simplification 1: plain MLE M-step, not Kudo's
   Bayesianified digamma smoothing.]
3. Prune: drop the lowest-expected-count multi-character pieces so
   ``shrink`` of them survive; repeat EM+prune until ``vocab_size``
   remains, then a final EM polish.  [Simplification 2: prune by
   expected count rather than Kudo's exact leave-one-out loss — the
   rank correlation is near-perfect because a piece's loss is dominated
   by the probability mass routed through it.]
4. Encoding (``unigram_segment``) is the Viterbi path: the segmentation
   maximizing the sum of piece log-probs (Kudo eq. 2's one-best).

Scale shape:

* ONE corpus-sized shuffle aggregates pre-tokens to the (word, cnt)
  word-type table — every later pass works on word TYPES, which are
  vocabulary-bounded (≪ corpus), exactly like Kudo trains on the word
  dictionary.
* Seeding is JVM-side: substring fan-out via ``sequence``/``transform``
  + one word-type-bounded count shuffle.
* Each E-step is ONE distributed pass: ``mapInPandas`` over word-type
  partitions with the piece table broadcast (it is ``seed_size``
  entries — driver-bounded by construction), emitting PER-BATCH
  pre-aggregated (piece, partial) rows, then a piece-keyed sum whose
  result is vocab-sized; the M-step/prune run on the driver over that
  vocab-sized frame.
* Driver job count: ``em_iters`` per prune round, ~log_{1/shrink}
  (seed/vocab) rounds — a dozen-ish jobs, independent of corpus size.

Determinism contract: expected counts are floats summed across
partitions, so unlike exact integer counts they carry
order-of-accumulation jitter (~1e-13 relative).  Every ranking input is
therefore rounded to 9 SIGNIFICANT digits first (``_sig9``) — jitter
vanishes, rankings and the resulting piece table are layout-independent
(pinned by re-partitioned re-runs in tests), and genuine ties break by
piece string ascending.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from .text import BPE_PRETOKEN_RE, bpe_ish_tokens

__all__ = [
    "unigram_train",
    "unigram_segment",
    "unigram_save",
    "unigram_load",
    "viterbi_pieces",
    "corpus_nll",
]

_NEG_INF = float("-inf")


def _sig9(x: float) -> float:
    """Round to 9 significant digits — the determinism device that
    removes float aggregation-order jitter before any ranking."""
    if x == 0.0 or not math.isfinite(x):
        return x
    return float(f"{x:.8e}")


def _logaddexp(a: float, b: float) -> float:
    if a == _NEG_INF:
        return b
    if b == _NEG_INF:
        return a
    if a < b:
        a, b = b, a
    return a + math.log1p(math.exp(b - a))


def _word_types(corpus: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) — the word-type dictionary under the repo's shared
    pre-tokenizer (``BPE_PRETOKEN_RE``; one corpus-sized shuffle).
    Unlike BPE there is no end-of-word marker: unigram pieces are plain
    substrings and word boundaries are enforced by segmenting per
    word."""
    word = F.explode(bpe_ish_tokens(text_col)).alias("word")
    return (
        corpus.select(word)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


def _seed_counts(types: DataFrame, max_piece_len: int) -> DataFrame:
    """(piece, weight, is_char) for every substring of every word type
    up to ``max_piece_len``, weight = Σ word-frequency × occurrences.
    JVM-side fan-out (sequence + nested transform + flatten — codegen,
    no Python), word-type-bounded shuffle on piece."""
    ln = F.length("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), ln),  # 1-based start position
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_piece_len), ln - i + 1)),
                lambda k: F.substring(F.col("word"), i, k),
            ),
        )
    )
    return (
        types.select(F.col("cnt"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("weight"))
        .select(
            "piece", "weight", (F.length("piece") == 1).alias("is_char")
        )
    )


def _lattice_expected(
    word: str,
    cnt: float,
    logp: dict[str, float],
    max_piece_len: int,
    acc: dict[str, float],
) -> None:
    """Forward–backward over the word's segmentation lattice: add each
    piece's expected count (× word frequency) into ``acc``.  O(ℓ·L)
    per word; loop order fixed (positions ascending) so per-word float
    accumulation is deterministic."""
    ln = len(word)
    alpha = [_NEG_INF] * (ln + 1)
    alpha[0] = 0.0
    for i in range(1, ln + 1):
        for j in range(max(0, i - max_piece_len), i):
            if alpha[j] == _NEG_INF:
                continue
            p = logp.get(word[j:i])
            if p is not None:
                alpha[i] = _logaddexp(alpha[i], alpha[j] + p)
    z = alpha[ln]
    if z == _NEG_INF:  # unsegmentable — impossible while chars are kept
        return
    beta = [_NEG_INF] * (ln + 1)
    beta[ln] = 0.0
    for j in range(ln - 1, -1, -1):
        for i in range(j + 1, min(ln, j + max_piece_len) + 1):
            if beta[i] == _NEG_INF:
                continue
            p = logp.get(word[j:i])
            if p is not None:
                beta[j] = _logaddexp(beta[j], p + beta[i])
    for j in range(ln):
        if alpha[j] == _NEG_INF:
            continue
        for i in range(j + 1, min(ln, j + max_piece_len) + 1):
            piece = word[j:i]
            p = logp.get(piece)
            if p is not None and beta[i] != _NEG_INF:
                e = math.exp(alpha[j] + p + beta[i] - z) * cnt
                if e > 0.0:
                    acc[piece] = acc.get(piece, 0.0) + e


def _e_step(
    types: DataFrame, logp: dict[str, float], max_piece_len: int
) -> dict[str, float]:
    """ONE distributed pass: per-batch pre-aggregated expected counts
    from ``mapInPandas`` (at most vocab-sized output per batch), summed
    by piece (vocab-sized shuffle), collected (vocab-sized result) and
    sig-rounded for layout independence."""
    import pandas as pd

    spark = types.sparkSession
    bc = spark.sparkContext.broadcast(logp)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        model = bc.value
        acc: dict[str, float] = {}
        for pdf in batches:
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                _lattice_expected(word, float(cnt), model, max_piece_len, acc)
        yield pd.DataFrame(
            {"piece": list(acc.keys()), "c": list(acc.values())}
        )

    try:
        rows = (
            types.mapInPandas(gen, schema="piece string, c double")
            .groupBy("piece")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
    finally:
        bc.unpersist()
    return {r["piece"]: _sig9(r["c"]) for r in rows}


def _m_step(counts: dict[str, float], pieces: list[str]) -> dict[str, float]:
    """MLE re-normalization over the CURRENT vocabulary, in sorted
    piece order so the total (and thus every logp) is deterministic.
    Pieces with zero expected mass get a -1e9 floor (they are prune
    fodder, but the lattice math must stay finite)."""
    total = 0.0
    for piece in sorted(pieces):
        total += counts.get(piece, 0.0)
    log_total = math.log(total)
    out: dict[str, float] = {}
    for piece in pieces:
        c = counts.get(piece, 0.0)
        out[piece] = math.log(c) - log_total if c > 0.0 else -1e9
    return out


def unigram_train(
    corpus: DataFrame,
    vocab_size: int,
    seed_size: int = 1_000,
    max_piece_len: int = 8,
    em_iters: int = 2,
    shrink: float = 0.75,
    min_word_count: int = 1,
    stats: dict | None = None,
) -> list[tuple[str, float]]:
    """Learn a unigram-LM piece vocabulary of ``vocab_size`` entries.

    Returns [(piece, logp)] sorted by piece ascending (the model is
    vocab-bounded — driver-sized by construction).  Single characters
    are always retained, so ``vocab_size`` must exceed the corpus
    alphabet; the seed is capped at ``seed_size`` pieces (chars exempt
    from the cap).

    ``stats`` (optional dict) receives ``n_chars``, ``n_seed``,
    ``prune_rounds``, ``e_steps`` for bench/inspection.

    ``min_word_count`` is the standard scale lever (the ``NgramKN.fit
    (min_count=…)`` move): every E-step's cost is proportional to the
    WORD-TYPE table, and Zipf makes hapax types dominate it at corpus
    scale while contributing almost no probability mass — pruning
    types below the floor keeps the per-round pass bounded.  The
    result is EXACTLY the unigram model of the pruned word-type table
    (pinned against a reference implementing the same pruning);
    characters appearing only in pruned types leave the alphabet with
    them, and encode-time coverage degrades gracefully (a word with an
    out-of-vocab character returns whole, the documented fallback).
    """
    text_col = "text"
    if vocab_size < 1:
        raise ValueError("vocab_size must be positive")
    if not 0.0 < shrink < 1.0:
        raise ValueError("shrink must be in (0, 1)")
    if em_iters < 1:
        raise ValueError("em_iters must be >= 1")
    if min_word_count < 1:
        raise ValueError("min_word_count must be >= 1")

    types = _word_types(corpus, text_col)
    if min_word_count > 1:
        types = types.where(F.col("cnt") >= min_word_count)
    types = types.localCheckpoint(eager=True)
    try:
        seeds = _seed_counts(types, max_piece_len).localCheckpoint(eager=True)
        try:
            # alphabet-bounded collect
            chars = sorted(
                r["piece"] for r in seeds.where(F.col("is_char")).collect()
            )
            if not chars:
                raise ValueError("empty corpus: no word types to train on")
            if vocab_size <= len(chars):
                raise ValueError(
                    f"vocab_size={vocab_size} must exceed the corpus "
                    f"alphabet ({len(chars)} single characters, which are "
                    "always kept)"
                )
            # the seed-size cut runs CLUSTER-side (TakeOrdered) — only
            # seed_size rows ever reach the driver, not the full
            # substring table (word-type-bounded but huge at scale).
            # Seed weights are exact integer counts (sums of word
            # frequencies), so no float-jitter rounding is needed for
            # this ranking — ties break by piece ascending.
            multi = [
                (r["piece"], r["weight"])
                for r in (
                    seeds.where(~F.col("is_char"))
                    .orderBy(F.desc("weight"), F.asc("piece"))
                    .limit(max(0, seed_size - len(chars)))
                    .collect()
                )
            ]
            char_weights = {
                r["piece"]: r["weight"]
                for r in seeds.where(F.col("is_char")).collect()
            }
        finally:
            seeds.unpersist()

        # init: piece prob ∝ seeded substring weight (chars included),
        # normalized in sorted-piece order for determinism
        weights = dict(multi)
        weights.update(char_weights)
        pieces = chars + [p for p, _ in multi]
        logp = _m_step(weights, pieces)

        target_multi = vocab_size - len(chars)
        prune_rounds = 0
        e_steps = 0
        while True:
            for _ in range(em_iters):
                counts = _e_step(types, logp, max_piece_len)
                e_steps += 1
                logp = _m_step(counts, pieces)
            n_multi = len(pieces) - len(chars)
            if n_multi <= target_multi:
                break
            keep = max(target_multi, int(math.floor(n_multi * shrink)))
            ranked = sorted(
                ((p, counts.get(p, 0.0)) for p in pieces if len(p) > 1),
                key=lambda kv: (-kv[1], kv[0]),
            )
            pieces = chars + sorted(p for p, _ in ranked[:keep])
            logp = _m_step(counts, pieces)
            prune_rounds += 1

        if stats is not None:
            stats["n_chars"] = len(chars)
            stats["n_seed"] = len(chars) + len(multi)
            stats["prune_rounds"] = prune_rounds
            stats["e_steps"] = e_steps
        return sorted(logp.items())
    finally:
        types.unpersist()


def unigram_save(spark, model: list[tuple[str, float]], path: str) -> None:
    """Persist a trained piece table as ONE JSON file (the model is
    vocab-bounded — driver-sized by construction), written tmp-then-
    rename so the commit is atomic (the fsio contract every persisted
    artifact here follows).  Python's json emits float64 via repr, so a
    reload is BIT-IDENTICAL (pinned by pytest) — the fit-once/
    encode-many deployment shape, like ``NgramKN.save``."""
    import json

    from consume_kafka_avro_data_spark.fsio import fs_for

    io = fs_for(spark, path)
    payload = {"version": 1, "pieces": [[p, lp] for p, lp in model]}
    io.write_atomic(path, json.dumps(payload).encode())


def unigram_load(spark, path: str) -> list[tuple[str, float]]:
    """Reopen a saved piece table — see ``unigram_save``."""
    import json

    from consume_kafka_avro_data_spark.fsio import fs_for

    io = fs_for(spark, path)
    payload = json.loads(io.read_bytes(path))
    return [(p, float(lp)) for p, lp in payload["pieces"]]


def viterbi_pieces(
    word: str, logp: dict[str, float], max_piece_len: int
) -> list[str]:
    """One-best segmentation (Kudo eq. 2): maximize the sum of piece
    log-probs.  Ties break toward the SMALLER split point (i.e. the
    longer final piece) — iterate candidates ascending and replace only
    on strict improvement."""
    ln = len(word)
    best = [_NEG_INF] * (ln + 1)
    back = [0] * (ln + 1)
    best[0] = 0.0
    for i in range(1, ln + 1):
        for j in range(max(0, i - max_piece_len), i):
            if best[j] == _NEG_INF:
                continue
            p = logp.get(word[j:i])
            if p is not None and best[j] + p > best[i]:
                best[i] = best[j] + p
                back[i] = j
    if best[ln] == _NEG_INF:  # no path (char missing from vocab)
        return [word]
    out: list[str] = []
    i = ln
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def _forward_lattice(
    word: str, logp: dict[str, float], max_piece_len: int, alpha: float
) -> list[float]:
    """Forward log-mass under the α-scaled piece distribution:
    a[i] = logΣ_j exp(a[j] + α·logp(w[j:i])) — shared by the sampler;
    α = 1 gives the true lattice."""
    ln = len(word)
    a = [_NEG_INF] * (ln + 1)
    a[0] = 0.0
    for i in range(1, ln + 1):
        for j in range(max(0, i - max_piece_len), i):
            if a[j] == _NEG_INF:
                continue
            p = logp.get(word[j:i])
            if p is not None:
                a[i] = _logaddexp(a[i], a[j] + alpha * p)
    return a


def _sample_pieces(
    word: str,
    logp: dict[str, float],
    max_piece_len: int,
    alpha: float,
    fwd: list[float],
    uniform,
) -> list[str]:
    """Backward sampling (the FFBS recipe): from position i, pick
    predecessor j with probability ∝ exp(a[j] + α·logp(w[j:i]) − a[i])
    — an EXACT draw from p(segmentation)^α, Kudo 2018 §4's subword
    regularization distribution.  ``uniform`` supplies one u ∈ (0,1)
    per backward step (deterministic stream — see unigram_segment)."""
    ln = len(word)
    if fwd[ln] == _NEG_INF:  # no path (char missing from vocab)
        return [word]
    out: list[str] = []
    i = ln
    step = 0
    while i > 0:
        cands: list[tuple[int, float]] = []
        total = 0.0
        for j in range(max(0, i - max_piece_len), i):
            if fwd[j] == _NEG_INF:
                continue
            p = logp.get(word[j:i])
            if p is not None:
                w = math.exp(fwd[j] + alpha * p - fwd[i])
                cands.append((j, w))
                total += w
        u = uniform(step) * total
        step += 1
        acc = 0.0
        pick = cands[-1][0]  # float-slack fallback: the last candidate
        for j, w in cands:
            acc += w
            if u <= acc:
                pick = j
                break
        out.append(word[pick:i])
        i = pick
    out.reverse()
    return out


def unigram_segment(
    df: DataFrame,
    model: list[tuple[str, float]],
    text_col: str = "text",
    out_col: str = "unigram_pieces",
    sample_alpha: float | None = None,
    seed: int = 0,
) -> DataFrame:
    """Encode text with a trained unigram model: pre-tokenize with the
    shared splitter, segment each word, concatenate.  Arrow-batched
    pandas UDF (iterator-of-series form, so the closure is set up once
    per partition) with a per-partition word→pieces memo — natural text
    repeats word types heavily, so most rows hit the cache.  The model
    broadcasts as a closure (vocab-bounded, driver-sized).

    Default (``sample_alpha=None``) is the deterministic Viterbi
    one-best.  ``sample_alpha=α`` enables SUBWORD REGULARIZATION (Kudo
    2018 §4 — the paper's headline use): each word occurrence's
    segmentation is SAMPLED from p(seg)^α by forward-filtering
    backward-sampling, so repeated training epochs see diverse
    segmentations.  Smaller α → closer to uniform over segmentations;
    large α → concentrates on the Viterbi path.  The randomness is
    derived, not drawn: u = (md5("{seed}:{doc_md5}:{word_idx}:{step}")
    first 8 bytes + 0.5) / 2⁶⁴ — reproducible for a fixed seed,
    independent of partition layout, identical docs sample identically
    (pinned by pytest against a pure-Python FFBS reference).  The word
    memo only caches the α-scaled FORWARD lattices (occurrence-
    independent); the backward draw runs per occurrence."""
    import hashlib
    import re

    import pandas as pd

    logp = dict(model)
    max_piece_len = max((len(p) for p in logp), default=1)
    pretoken = re.compile(BPE_PRETOKEN_RE)
    if sample_alpha is not None and sample_alpha <= 0.0:
        raise ValueError("sample_alpha must be > 0")
    alpha = sample_alpha

    def seg(batches: Iterator["pd.Series"]) -> Iterator["pd.Series"]:
        memo: dict[str, list] = {}
        for texts in batches:
            out = []
            for t in texts:
                pieces: list[str] = []
                words = pretoken.findall(t or "")
                if alpha is None:
                    for w in words:
                        got = memo.get(w)
                        if got is None:
                            got = viterbi_pieces(w, logp, max_piece_len)
                            memo[w] = got
                        pieces.extend(got)
                else:
                    doc_md5 = hashlib.md5((t or "").encode("utf-8")).hexdigest()
                    for widx, w in enumerate(words):
                        fwd = memo.get(w)
                        if fwd is None:
                            fwd = _forward_lattice(
                                w, logp, max_piece_len, alpha
                            )
                            memo[w] = fwd

                        def uniform(step, _w=widx):
                            h = hashlib.md5(
                                f"{seed}:{doc_md5}:{_w}:{step}".encode()
                            ).digest()
                            return (
                                int.from_bytes(h[:8], "big") + 0.5
                            ) / 2.0**64

                        pieces.extend(
                            _sample_pieces(
                                w, logp, max_piece_len, alpha, fwd, uniform
                            )
                        )
                out.append(pieces)
            yield pd.Series(out)

    seg.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    seg_udf = F.pandas_udf(seg, returnType="array<string>")
    return df.withColumn(out_col, seg_udf(F.col(text_col)))


def corpus_nll(
    corpus: DataFrame,
    model: list[tuple[str, float]],
    on_unsegmentable: str = "error",
) -> float:
    """Total corpus negative log-likelihood under the model's FULL
    lattice (−Σ_words cnt·log Z_word) — the quantity EM monotonically
    improves; exposed so tests can pin the EM law and deployments can
    compare tokenizers on held-out text.  One word-type pass, scalar
    result.

    A held-out word containing characters outside the model's vocab
    has NO lattice path; silently skipping it would bias comparisons
    TOWARD models with smaller coverage (they'd drop the words they
    can't pay for).  Default ``on_unsegmentable="error"`` refuses with
    the skipped token count; pass ``"skip"`` to accept the documented
    bias (the skipped-mass caveat is then on the caller)."""
    import pandas as pd

    text_col = "text"
    if on_unsegmentable not in ("error", "skip"):
        raise ValueError('on_unsegmentable must be "error" or "skip"')
    types = _word_types(corpus, text_col)
    logp = dict(model)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(logp)
    mpl = max((len(p) for p in logp), default=1)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        m = bc.value
        total = 0.0
        skipped = 0.0
        for pdf in batches:
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                ln = len(word)
                alpha = [_NEG_INF] * (ln + 1)
                alpha[0] = 0.0
                for i in range(1, ln + 1):
                    for j in range(max(0, i - mpl), i):
                        if alpha[j] == _NEG_INF:
                            continue
                        p = m.get(word[j:i])
                        if p is not None:
                            alpha[i] = _logaddexp(alpha[i], alpha[j] + p)
                if alpha[ln] != _NEG_INF:
                    total -= alpha[ln] * float(cnt)
                else:
                    skipped += float(cnt)
        yield pd.DataFrame({"nll": [total], "skipped": [skipped]})

    try:
        row = (
            types.mapInPandas(gen, schema="nll double, skipped double")
            .agg(
                F.sum("nll").alias("nll"),
                F.sum("skipped").alias("skipped"),
            )
            .collect()[0]
        )
    finally:
        bc.unpersist()
    n_skipped = float(row["skipped"] or 0.0)
    if n_skipped and on_unsegmentable == "error":
        raise ValueError(
            f"{int(n_skipped)} word tokens have no lattice path under "
            "this model (characters outside its vocab); pass "
            'on_unsegmentable="skip" to exclude them (biases '
            "cross-model comparisons toward smaller coverage)"
        )
    return float(row["nll"] or 0.0)
