"""Property-based algebraic tests (SURVEY §5): dedup idempotence and
set-operation algebra over generated inputs, checked against Python
set semantics as the model.  Complements the oracle-differential tests
(fixed data, many queries) with many-inputs/few-laws coverage.
"""

from __future__ import annotations

from collections import Counter

import pytest

from hypothesis import HealthCheck, given, settings, strategies as st

ROWS = st.lists(
    st.tuples(st.integers(min_value=-5, max_value=5), st.sampled_from("abc")),
    min_size=0,
    max_size=12,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(0, "zz")], ["k", "v"]).limit(
        len(rows)
    )  # limit(0) of the sentinel row models the empty frame


@given(rows=ROWS)
@SETTINGS
def test_dedup_is_idempotent_and_models_set(spark, rows):
    df = _df(spark, rows)
    once = df.dropDuplicates()
    twice = once.dropDuplicates()
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))
    assert got_once == sorted(set(rows))


@given(a=ROWS, b=ROWS)
@SETTINGS
def test_union_except_intersect_model_multiset_algebra(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    assert sorted(map(tuple, da.unionAll(db).collect())) == sorted(a + b)
    assert sorted(map(tuple, da.exceptAll(db).collect())) == sorted(
        (Counter(a) - Counter(b)).elements()
    )
    assert sorted(map(tuple, da.intersect(db).collect())) == sorted(
        set(a) & set(b)
    )


@given(a=ROWS, b=ROWS)
@SETTINGS
def test_distinct_union_except_set_identity(spark, a, b):
    """(A ∪ B) − B == A − B under DISTINCT semantics."""
    da, db = _df(spark, a), _df(spark, b)
    lhs = da.union(db).distinct().exceptAll(db.distinct())
    rhs = da.distinct().exceptAll(db.distinct())
    assert sorted(map(tuple, lhs.collect())) == sorted(map(tuple, rhs.collect()))
    assert sorted(map(tuple, rhs.collect())) == sorted(set(a) - set(b))


DOC_TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab c")),  # tiny alphabet → real collisions
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=DOC_TEXTS)
@SETTINGS
def test_minhash_estimator_vs_exact_jaccard_model(spark, monkeypatch, texts):
    """The signature-agreement estimate must (a) keep every emitted pair's
    ids ordered, (b) stay in [0, 1], and (c) equal 1.0 whenever the two
    docs have identical shingle sets (a permutation-min over equal sets is
    equal componentwise) — the law that makes exact dupes always score 1."""
    from consume_kafka_avro_data_spark.operators import dedup
    from consume_kafka_avro_data_spark.operators.dedup import (
        minhash_estimate_pairs,
        shingles,
        tokens_col,
    )
    from pyspark.sql import functions as F

    monkeypatch.setattr(dedup, "MIN_MATCHES", 0)  # every candidate pair

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    sh = {
        r.doc_id: tuple(sorted(r.sh))
        for r in docs.select(
            "doc_id", F.array_distinct(shingles(tokens_col("text"), 3)).alias("sh")
        ).collect()
    }
    pairs = {
        (r.id_a, r.id_b): r.jaccard_est
        for r in minhash_estimate_pairs(docs).collect()
    }
    for (a, b), est in pairs.items():
        assert a < b
        assert 0.0 <= est <= 1.0
        if sh[a] == sh[b]:
            assert est == 1.0


@given(
    counts=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=5)
)
@SETTINGS
def test_temperature_resample_targets_exact(spark, counts):
    """Largest-remainder repeat counts must hit each language's computed
    target EXACTLY — the law the md5-rank remainder assignment exists
    for (approximate hash thresholds would only hit it in expectation)."""
    import math

    from decimal import Decimal

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    rows = [
        (i, f"l{li}")
        for li, n in enumerate(counts)
        for i in range(sum(counts[:li]), sum(counts[:li]) + n)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang"])
    # reimplement the rate computation as the model
    w = {f"l{li}": Decimal(str(round(math.sqrt(n), 4))) for li, n in enumerate(counts)}
    w_tot = sum(w.values())
    n_tot = sum(counts)
    target = {
        lang: int(math.floor(float(wl) / float(w_tot) * float(n_tot)))
        for lang, wl in w.items()
    }
    stats = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    wc = F.round(F.sqrt(F.col("n_l")), 4).cast("decimal(18,4)")
    tot = stats.agg(F.sum(wc).alias("w_tot"), F.sum("n_l").cast("long").alias("n_tot"))
    p = stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_l",
        F.floor(
            (wc.cast("double") / F.col("w_tot").cast("double"))
            * F.col("n_tot").cast("double")
        ).cast("long").alias("target"),
    )
    joined = d.join(F.broadcast(p), "lang")
    rank_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    out = (
        joined.select(
            "lang",
            (
                F.expr("target div n_l")
                + F.when(
                    F.row_number().over(rank_w) <= F.col("target") % F.col("n_l"), 1
                ).otherwise(0)
            ).alias("copies"),
        )
        .groupBy("lang")
        .agg(F.sum("copies").alias("emitted"))
    )
    got = {r.lang: r.emitted for r in out.collect()}
    assert got == target


@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=300),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_codec_roundtrip_property(samples, rate):
    """encode_wav ∘ decode_wav is the identity on any int16 sample
    sequence and any sample rate — the property a real codec must hold
    (not just the hand-picked cases)."""
    import numpy as np

    from consume_kafka_avro_data_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    s = np.array(samples, dtype=np.int16)
    out = decode_wav(encode_wav(s, sample_rate=rate))
    assert out["sample_rate"] == rate
    assert out["channels"] == 1 and out["bits"] == 16
    assert np.array_equal(out["samples"], s)


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_ppm_codec_roundtrip_property(w, h, seed):
    """encode_ppm ∘ decode_ppm is the identity for any geometry and
    pixel content."""
    import numpy as np

    from consume_kafka_avro_data_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_ppm(encode_ppm(px))
    assert (out["width"], out["height"]) == (w, h)
    assert np.array_equal(out["pixels"], px)


@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=60))
@settings(max_examples=40, deadline=None)
def test_union_find_fast_path_matches_reference_cc(edge_seeds):
    """The driver union-find in connected_components must agree with a
    brute-force reachability closure on arbitrary small graphs."""
    edges = [(a, (a * 7 + 13) % 23) for a in edge_seeds]
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # reference: iterate min-label propagation to fixpoint
    nodes = {n for e in edges for n in e}
    label = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    # repo implementation (pure-python part of the fast path)
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    got = {n: find(n) for n in parent}
    assert got == label


@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_key_interleave_roundtrip(spark, coords):
    """The Morton key is a bijection on the grid: de-interleaving the
    Spark-computed key with an independent pure-Python reference must
    recover every coordinate exactly (any bit landing at a wrong
    position breaks this for some input)."""
    from consume_kafka_avro_data_spark.operators.bucketing import zorder_key
    from pyspark.sql import functions as F

    n = 3
    df = spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(coords)],
        "id LONG, x LONG, y LONG, z LONG",
    )
    got = {
        r.id: r.k
        for r in df.select(
            "id", zorder_key([F.col("x"), F.col("y"), F.col("z")], bits=8).alias("k")
        ).collect()
    }

    def deinterleave(key: int, i: int) -> int:
        out = 0
        for b in range(8):
            out |= ((key >> (b * n + (n - 1 - i))) & 1) << b
        return out

    for i, (a, b, c) in enumerate(coords):
        k = got[i]
        assert (deinterleave(k, 0), deinterleave(k, 1), deinterleave(k, 2)) == (
            a,
            b,
            c,
        ), (k, a, b, c)


@given(
    st.lists(  # left rows: (key 0-2, ts 0-50)
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=25,
    ),
    st.lists(  # right rows: (key 0-2, ts 0-50, payload)
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 999)),
        min_size=0, max_size=25,
    ),
    st.sampled_from([None, 5.0, 20.0]),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_fuzz_vs_pandas_merge_asof(spark, left_rows, right_rows, tol):
    """Randomized differential test: asof_join (backward, inclusive,
    with/without tolerance) must agree with pandas.merge_asof on the
    matched payload for every generated frame.  Right-side duplicate
    (key, ts) rows are collapsed to the max payload first — both engines
    tie-break arbitrarily otherwise, which would fuzz the fuzzer."""
    import pandas as pd

    from consume_kafka_avro_data_spark.operators.asof import asof_join

    base = pd.Timestamp("2024-01-01")
    lp = pd.DataFrame(
        {
            "k": [k for k, _ in left_rows],
            "ts": [base + pd.Timedelta(seconds=t) for _, t in left_rows],
            "lid": range(len(left_rows)),
        }
    )
    rp = (
        pd.DataFrame(
            {
                "k": [k for k, _, _ in right_rows],
                "rts": [base + pd.Timedelta(seconds=t) for _, t, _ in right_rows],
                "pay": [p for _, _, p in right_rows],
            }
        )
        .groupby(["k", "rts"], as_index=False)["pay"]
        .max()
    )
    # an empty groupby result loses dtypes (object/float64) and
    # merge_asof requires exact key-dtype matches
    rp = rp.astype({"k": "int64", "pay": "int64"})
    rp["rts"] = pd.to_datetime(rp["rts"])
    ref = pd.merge_asof(
        lp.sort_values(["ts", "lid"]),
        rp.sort_values("rts"),
        left_on="ts",
        right_on="rts",
        by="k",
        tolerance=None if tol is None else pd.Timedelta(seconds=tol),
    ).set_index("lid")

    ldf = spark.createDataFrame(lp, "k INT, ts TIMESTAMP_NTZ, lid LONG")
    if len(rp):
        rdf = spark.createDataFrame(rp, "k INT, rts TIMESTAMP_NTZ, pay LONG")
    else:
        rdf = spark.createDataFrame([], "k INT, rts TIMESTAMP_NTZ, pay LONG")
    got = {
        r.lid: r.asof_pay
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts",
            right_cols=["pay"], tolerance_seconds=tol,
        ).collect()
    }
    for lid in lp["lid"]:
        want = ref.loc[lid, "pay"]
        want = None if pd.isna(want) else int(want)
        assert got[lid] == want, (lid, got[lid], want)


# ---------------------------------------------------------------------------
# incremental vs intra-corpus dedup consistency
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta"]
_DOCS = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8).map(" ".join),
    min_size=0,
    max_size=8,
)


@given(texts=_DOCS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_dedup_agrees_with_intra_corpus_pipeline(spark, texts):
    """Law: incremental_minhash_dedup(new, corpus) must emit EXACTLY the
    cross-split subset of minhash_lsh_pairs(new ∪ corpus) — same band
    keys, same candidates, same exact-Jaccard verify — with new docs
    split off by id parity.  Catches any drift between the two candidate
    generators (bucket-and-expand vs band equi-join)."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    all_docs = spark.createDataFrame(
        rows or [(0, "zz")], "doc_id long, text string"
    ).limit(len(rows))
    new = all_docs.where("doc_id % 2 = 0")
    corpus = all_docs.where("doc_id % 2 != 0")

    union_pairs = {
        (r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(all_docs).collect()
    }
    want = {
        (a, b) if a % 2 == 0 else (b, a): j
        for (a, b), j in union_pairs.items()
        if (a % 2) != (b % 2)  # cross-split only
    }
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in incremental_minhash_dedup(new, corpus).collect()
    }
    assert got == want


DOC_TOKENS = st.lists(
    st.lists(st.sampled_from("pqrs"), min_size=1, max_size=8).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=DOC_TOKENS)
@SETTINGS
def test_corpus_drift_matches_python_model(spark, texts):
    """Law: corpus_drift (uncapped head) equals the textbook per-term
    TVD computed by a pure-Python model over the same doc_id-parity
    snapshots — contributions summed in the SAME sorted-term order, so
    the float comparison is exact, and churn counts follow from plain
    set algebra.  One-sided corpora (a lang with an empty snapshot)
    are exercised too: disjoint supports report the maximal 1.0, the
    convention the streaming monitor shares."""
    from collections import Counter

    from consume_kafka_avro_data_spark.queries.curation import corpus_drift

    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: r for r in corpus_drift(docs, head_k=10_000).collect()}

    cnt_a, cnt_b = Counter(), Counter()
    for i, t in enumerate(texts):
        (cnt_a if i % 2 == 0 else cnt_b).update(w for w in t.split(" ") if w)
    vocab = set(cnt_a) | set(cnt_b)
    tot_a, tot_b = sum(cnt_a.values()), sum(cnt_b.values())
    if tot_a == 0 or tot_b == 0:
        want_tvd = 1.0  # disjoint supports: maximal drift by convention
    else:
        s = 0.0
        for t in sorted(vocab):
            s += abs(cnt_a[t] / tot_a - cnt_b[t] / tot_b)
        want_tvd = 0.5 * s

    if not vocab:
        assert got == {}
        return
    r = got["en"]
    assert r.n_terms == len(vocab)
    assert (r.tokens_a, r.tokens_b) == (tot_a, tot_b)
    assert r.n_new == sum(1 for t in vocab if t not in cnt_a)
    assert r.n_gone == sum(1 for t in vocab if t not in cnt_b)
    assert r.head_tvd == want_tvd  # exact: same fold order, same IEEE ops
    assert 0.0 <= r.head_tvd <= 1.0


@given(texts=DOC_TOKENS)
@SETTINGS
def test_keep_one_spares_exactly_the_canonical_occurrence(spark, texts):
    """Law: with keep_first, the marked positions are exactly the
    all-occurrence marks MINUS each duplicated gram's lexicographic
    min-(doc_id, pos) occurrence — modeled in pure Python over the
    same 2-gram windows."""
    from collections import defaultdict

    from consume_kafka_avro_data_spark.queries.curation import (
        duplicate_token_spans,
    )

    n = 2
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )

    occs = defaultdict(list)  # gram -> [(doc_id, pos)], pos 1-based
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split(" ")]
        for p in range(len(toks) - n + 1):
            occs[" ".join(toks[p : p + n])].append((i, p + 1))
    marked = set()
    for positions in occs.values():
        if len(positions) > 1:
            marked |= set(positions) - {min(positions)}
    # fold marked positions into maximal spans per doc (model form):
    # a window joins the open span only when it OVERLAPS it (pos <=
    # running end) — adjacent-but-disjoint windows start a new span,
    # matching the engine's pinned island rule
    want = set()
    by_doc = defaultdict(list)
    for d, p in marked:
        by_doc[d].append(p)
    for d, ps in by_doc.items():
        ps.sort()
        start = end = None
        for p in ps:
            if start is None:
                start, end = p, p + n - 1
            elif p <= end:
                end = max(end, p + n - 1)
            else:
                want.add((d, start, end))
                start, end = p, p + n - 1
        if start is not None:
            want.add((d, start, end))

    got = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in duplicate_token_spans(docs, n=n, keep_first=True).collect()
    }
    assert got == want


@given(texts=DOC_TOKENS)
@SETTINGS
def test_token_budget_mix_is_maximal_hash_prefix(spark, texts):
    """Law: the budget fill selects exactly the maximal prefix of the
    md5(doc_id)-ordered docs whose running token total stays within
    budget — modeled with hashlib over the same ordering key, so the
    query's stability-under-append claim is the model's prefix
    property.  Exercises the PRODUCTION operator (token_budget_fill,
    the body of q_token_budget_mix), not a reimplementation."""
    import hashlib

    from consume_kafka_avro_data_spark.queries.curation import (
        token_budget_fill,
    )

    budget = 12
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id for r in token_budget_fill(docs, budget).collect()}

    order = sorted(
        range(len(texts)),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )
    want, cum = set(), 0
    for i in order:
        cum += len(texts[i].split(" "))
        if cum > budget:
            break  # running-sum cut: everything after is out too
        want.add(i)
    assert got == want


# -- round-6 operators: packing and KN over generated corpora ----------------

KN_DOCS = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=KN_DOCS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kn_per_context_mass_is_one(spark, texts):
    """For ANY corpus with at least one bigram: Pcont is a probability
    distribution and every seen context's total probability mass over
    the w2 vocabulary is exactly 1 — discount taken equals discount
    redistributed (the KN invariant, as a law rather than an example)."""
    from consume_kafka_avro_data_spark.operators.lm import BigramKN

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    m = BigramKN.fit(df)
    try:
        cont = {r.w2: r.pcont for r in m.cont.collect()}
        if not cont:  # corpus of <2-token docs: no bigrams, no model
            assert m.probs.count() == 0
            return
        assert sum(cont.values()) == pytest.approx(1.0)
        lam = {r.w1: r.lam for r in m.contexts.collect()}
        seen = {
            (r.w1, r.w2) for r in m.probs.select("w1", "w2").collect()
        }
        from pyspark.sql import functions as F

        obs = m.probs.groupBy("w1").agg(F.sum("p").alias("s")).collect()
        for r in obs:
            unseen = sum(
                pc for w2, pc in cont.items() if (r.w1, w2) not in seen
            )
            assert r.s + lam[r.w1] * unseen == pytest.approx(1.0, abs=1e-9)
    finally:
        m.unpersist()


# --- unigram tokenizer laws (operators/unigram) ---------------------------

UNI_DOCS = st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=24).filter(
        lambda t: t.strip()
    ),
    min_size=1,
    max_size=6,
)


@given(texts=UNI_DOCS)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_unigram_model_is_distribution_with_full_coverage(spark, texts):
    """For ANY corpus: the trained piece table is a probability
    distribution (Σ exp(logp) = 1 over pieces with mass), every corpus
    character is in the vocab, and every word type Viterbi-segments
    back to itself (coverage = 1 — the invariant pruning must never
    break)."""
    import math as _math
    import re as _re

    from consume_kafka_avro_data_spark.operators.text import BPE_PRETOKEN_RE
    from consume_kafka_avro_data_spark.operators.unigram import (
        unigram_train,
        viterbi_pieces,
    )

    words = {
        w
        for t in texts
        for w in _re.compile(BPE_PRETOKEN_RE).findall(t)
        if w
    }
    if not words:
        return
    chars = {c for w in words for c in w}
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    model = unigram_train(
        df, vocab_size=len(chars) + 4, seed_size=len(chars) + 10,
        max_piece_len=4,
    )
    mass = sum(_math.exp(lp) for _, lp in model if lp > -1e8)
    assert mass == pytest.approx(1.0, abs=1e-9)
    vocab = {p for p, _ in model}
    assert chars <= vocab
    logp = dict(model)
    for w in words:
        assert "".join(viterbi_pieces(w, logp, 4)) == w


# --- DSIR weight law (operators/dsir) --------------------------------------

DSIR_DOCS = st.lists(
    st.lists(
        st.sampled_from("aa bb cc dd ee ff".split()), min_size=1, max_size=8
    ).map(" ".join),
    min_size=1,
    max_size=5,
)


@given(target=DSIR_DOCS, raw=DSIR_DOCS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dsir_weights_model_the_likelihood_ratio(spark, target, raw):
    """For ANY corpus pair: every document's operator weight equals the
    pure-Python bag-of-hashed-ngrams likelihood ratio — fit and weigh
    as a law, not just on the fixed example corpora."""
    import hashlib as _hashlib
    import math as _math
    import re as _re
    from collections import Counter as _Counter

    from consume_kafka_avro_data_spark.operators.dsir import (
        dsir_fit,
        dsir_log_weights,
    )

    B = 64

    def buckets_of(text):
        toks = _re.findall(r"[a-z0-9']+", text.lower())
        grams = toks + [
            toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
        ]
        return [
            int.from_bytes(
                _hashlib.md5(g.encode()).digest()[:8], "big"
            ) % B
            for g in grams
        ]

    def logp(texts):
        c = _Counter(b for t in texts for b in buckets_of(t))
        total = sum(c.values())
        denom = _math.log(total + B)
        return [_math.log(c.get(b, 0) + 1) - denom for b in range(B)]

    lt, lr = logp(target), logp(raw)
    ratio = [a - b for a, b in zip(lt, lr)]
    t_df = spark.createDataFrame([(t,) for t in target], "text string")
    r_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(raw)], "doc_id long, text string"
    )
    model = dsir_fit(t_df, r_df, buckets=B)
    got = {
        r.doc_id: r.dsir_logw
        for r in dsir_log_weights(model, r_df).collect()
    }
    for i, t in enumerate(raw):
        want = sum(ratio[b] for b in buckets_of(t))
        assert got[i] == pytest.approx(want, abs=1e-9)
