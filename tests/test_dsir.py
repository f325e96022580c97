"""DSIR importance resampling (operators/dsir, Xie et al. 2023): the
distributed fit must reproduce an independent pure-Python
implementation's bucket counts (exact integers) and per-document
log-weights (1e-9), the weigher must be map-only (Exchange-free plan),
Gumbel top-k selection must be reproducible and layout-independent,
and the selected sample must tilt toward the target distribution."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.dsir import (
    DsirModel,
    dsir_fit,
    dsir_log_weights,
    dsir_resample,
    gumbel_key_expr,
    hashed_ngram_counts,
)

B = 512  # small bucket count so toy corpora collide realistically

TARGET = [
    "the theory of distributed computation on large clusters",
    "distributed systems and the theory of consensus protocols",
    "computation theory for large distributed clusters",
]
RAW = [
    "buy cheap pills online best price click here",
    "the theory of distributed computation in practice",
    "win a free prize click the link now",
    "cheap cheap cheap best best price online now",
    "notes on consensus protocols for distributed systems",
    "free pills best price click now online deal",
]

TOKEN_RE = re.compile(r"[a-z0-9']+")


def _ref_bucket(ngram: str, buckets: int) -> int:
    return (
        int.from_bytes(hashlib.md5(ngram.encode()).digest()[:8], "big") % buckets
    )


def _ref_doc_buckets(text: str, buckets: int) -> list[int]:
    toks = TOKEN_RE.findall((text or "").lower())
    out = [_ref_bucket(t, buckets) for t in toks]
    out += [
        _ref_bucket(toks[i] + " " + toks[i + 1], buckets)
        for i in range(len(toks) - 1)
    ]
    return out


def _ref_counts(texts, buckets):
    c = Counter()
    for t in texts:
        c.update(_ref_doc_buckets(t, buckets))
    return c


def _ref_log_ratio(target, raw, buckets, smoothing=1.0):
    def logp(counts):
        total = sum(counts.values())
        denom = math.log(total + smoothing * buckets)
        return [
            math.log(counts.get(b, 0) + smoothing) - denom
            for b in range(buckets)
        ]

    lt = logp(_ref_counts(target, buckets))
    lr = logp(_ref_counts(raw, buckets))
    return [a - b for a, b in zip(lt, lr)]


def _ref_logw(text, ratio, buckets):
    return sum(ratio[b] for b in _ref_doc_buckets(text, buckets))


@pytest.fixture(scope="module")
def frames(spark):
    target = spark.createDataFrame([(t,) for t in TARGET], "text string")
    raw = spark.createDataFrame(
        [(i, t) for i, t in enumerate(RAW)], "doc_id long, text string"
    )
    return target, raw


def test_bucket_counts_match_reference_exactly(spark, frames):
    """The histogram pass is exact integer counts — layout-free."""
    target, _ = frames
    want = _ref_counts(TARGET, B)
    got = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(target.repartition(5), buckets=B).collect()
    }
    assert got == dict(want)


def test_fit_and_weights_match_reference(spark, frames):
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    ratio = _ref_log_ratio(TARGET, RAW, B)
    assert list(model.log_ratio) == pytest.approx(ratio, abs=1e-9)
    rows = dsir_log_weights(model, raw).collect()
    for r in rows:
        assert r["dsir_logw"] == pytest.approx(
            _ref_logw(r["text"], ratio, B), abs=1e-9
        )


def test_weigher_is_map_only(spark, frames):
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    plan = (
        dsir_log_weights(model, raw)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # scoring is map-only


def test_target_like_docs_weigh_higher(spark, frames):
    """The separation law: raw docs that resemble the target corpus
    get strictly higher importance weights than spam."""
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    w = {r["doc_id"]: r["dsir_logw"] for r in dsir_log_weights(model, raw).collect()}
    target_like = [1, 4]  # the two theory/consensus docs in RAW
    spam = [0, 2, 3, 5]
    assert min(w[i] for i in target_like) > max(w[i] for i in spam)


def test_resample_reproducible_and_layout_independent(spark, frames):
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    a = {r["doc_id"] for r in dsir_resample(model, raw, k=3, seed=7).collect()}
    b = {
        r["doc_id"]
        for r in dsir_resample(model, raw.repartition(5), k=3, seed=7).collect()
    }
    assert a == b and len(a) == 3
    # output keeps the caller's columns + the weight, no key leakage
    cols = dsir_resample(model, raw, k=2, seed=7).columns
    assert cols == ["doc_id", "text", "dsir_logw"]


def test_resample_matches_gumbel_top_k_reference(spark, frames):
    """Selection == pure top-k over (reference log-weight + the same
    deterministic Gumbel noise) — the noise primitive (xxhash64) is
    evaluated once via Spark, everything else is reference math."""
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    ratio = _ref_log_ratio(TARGET, RAW, B)
    seed = 13
    # evaluate ONLY the noise primitive through the engine
    u_rows = (
        raw.select("doc_id", gumbel_key_expr("doc_id", "doc_id", seed).alias("g"))
        .withColumn("g", F.col("g") - F.col("doc_id"))  # strip the fake logw
        .collect()
    )
    gumbel = {r["doc_id"]: r["g"] for r in u_rows}
    keys = {
        i: _ref_logw(RAW[i], ratio, B) + gumbel[i] for i in range(len(RAW))
    }
    want = set(sorted(keys, key=keys.get, reverse=True)[:3])
    got = {r["doc_id"] for r in dsir_resample(model, raw, k=3, seed=seed).collect()}
    assert got == want


def test_resample_tilts_toward_target(spark):
    """With strongly separated weights, most selected docs are
    target-like (deterministic given the fixed seed)."""
    target = [f"alpha beta gamma delta run {i}" for i in range(8)]
    raw_like = [(i, f"alpha beta gamma delta sample {i}") for i in range(20)]
    raw_spam = [(100 + i, f"zzz qqq xxx vvv junk {i}") for i in range(20)]
    spark_t = spark.createDataFrame([(t,) for t in target], "text string")
    spark_r = spark.createDataFrame(raw_like + raw_spam, "doc_id long, text string")
    model = dsir_fit(spark_t, spark_r, buckets=B)
    got = dsir_resample(model, spark_r, k=10, seed=3).collect()
    n_like = sum(1 for r in got if r["doc_id"] < 100)
    assert n_like >= 8


def test_null_and_empty_text_weigh_zero(spark, frames):
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    df = spark.createDataFrame([(0, None), (1, "")], "doc_id long, text string")
    rows = dsir_log_weights(model, df).collect()
    assert all(r["dsir_logw"] == 0.0 for r in rows)


def test_invalid_inputs_raise_eagerly(spark, frames):
    target, raw = frames
    with pytest.raises(ValueError, match="smoothing"):
        dsir_fit(target, raw, buckets=B, smoothing=0.0)
    with pytest.raises(ValueError, match="buckets"):
        dsir_fit(target, raw, buckets=0)
    empty = spark.createDataFrame([], "text string")
    with pytest.raises(ValueError, match="empty corpus"):
        dsir_fit(empty, raw, buckets=B)
    model = DsirModel(log_ratio=(0.0,) * B, buckets=B, smoothing=1.0)
    with pytest.raises(ValueError, match="k must be"):
        dsir_resample(model, raw, k=0)
    # buckets >= 2^31 would silently diverge between the exact-big-int
    # Python tier and the long-residue/int-column JVM tier (r08
    # advisor) — rejected at EVERY entry point, both engines
    from consume_kafka_avro_data_spark.operators.dsir import (
        dsir_bucket_expr,
        hashed_ngram_counts,
    )
    from pyspark.sql import functions as F

    for eng in ("pandas", "jvm"):
        with pytest.raises(ValueError, match="2\\*\\*31"):
            dsir_fit(target, raw, buckets=1 << 31, engine=eng)
        with pytest.raises(ValueError, match="2\\*\\*31"):
            hashed_ngram_counts(raw, buckets=(1 << 31) + 7, engine=eng)
    with pytest.raises(ValueError, match="2\\*\\*31"):
        dsir_bucket_expr(F.lit("x"), 1 << 31)
    # the largest legal value is accepted (bound is strict)
    dsir_bucket_expr(F.lit("x"), (1 << 31) - 1)


def test_save_load_bit_identical(spark, frames, tmp_path):
    """A reloaded model is EXACTLY the fitted one (json floats
    round-trip via repr) and weighs documents identically."""
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    path = str(tmp_path / "dsir_model.json")
    model.save(spark, path)
    loaded = DsirModel.load(spark, path)
    assert loaded == model  # frozen dataclass equality — bit-identical
    a = dsir_log_weights(model, raw).collect()
    b = dsir_log_weights(loaded, raw).collect()
    assert [r["dsir_logw"] for r in a] == [r["dsir_logw"] for r in b]
    # re-save over the same path is an atomic overwrite, not an error
    loaded.save(spark, path)
    assert DsirModel.load(spark, path) == model


def test_resample_column_hygiene(spark, frames):
    """Re-sampling a frame that already carries dsir_logw (or a
    _dsir_key column) must not emit duplicate-named columns or leak
    the internal sort key."""
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    pre = dsir_log_weights(model, raw).withColumn("_dsir_key", F.lit(9.9))
    out = dsir_resample(model, pre, k=3, seed=7)
    assert out.columns == ["doc_id", "text", "dsir_logw", "_dsir_key"]
    rows = out.collect()
    assert all(r["_dsir_key"] == 9.9 for r in rows)  # caller column intact
    # and the selection still matches the same-seed run on the raw frame
    want = {r["doc_id"] for r in dsir_resample(model, raw, k=3, seed=7).collect()}
    assert {r["doc_id"] for r in rows} == want


# -- round 8: the JVM featurizer tier ---------------------------------------


def test_jvm_bucket_counts_identical_to_pandas_tier(spark):
    """The codegen'd bucket function (md5 → unsigned-64 conv → pmod)
    is THE SAME function as the Python tier's: exact integer-count
    equality over text with unicode, apostrophes, digits, NULLs, and
    empties — so models fit on either tier are interchangeable."""
    texts = [
        "the theory of distributed computation",
        "don't count unicode like café or 北京 as word chars",
        "digits 42 and 7th mix in fine",
        "",
        None,
        "repeat repeat repeat repeat",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    want = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(df, buckets=B).collect()
    }
    got = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(
            df.repartition(3), buckets=B, engine="jvm"
        ).collect()
    }
    assert got == want


def test_jvm_fit_and_weights_match_pandas_tier(spark, frames):
    """fit(engine='jvm') returns the EXACT model (integer counts →
    identical driver math), and the all-expression weigher agrees with
    the Arrow tier to 1e-9 on every document — same gram order, no
    Python workers."""
    target, raw = frames
    m_pd = dsir_fit(target, raw, buckets=B)
    m_jvm = dsir_fit(target, raw, buckets=B, engine="jvm")
    assert m_jvm == m_pd  # frozen dataclass: exact tuple equality
    w_pd = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weights(m_pd, raw).collect()
    }
    w_jvm = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weights(m_jvm, raw, engine="jvm").collect()
    }
    assert set(w_jvm) == set(w_pd)
    for i, v in w_pd.items():
        assert w_jvm[i] == pytest.approx(v, abs=1e-9)


def test_jvm_weigher_is_map_only_and_python_free(spark, frames):
    """The JVM weigher's plan: no SHUFFLE exchange (the only exchange
    is the single-row ratio frame's broadcast) and no Python
    evaluation node — the fold is pure codegen and the 100 TB sweep
    never starts an Arrow worker."""
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    plan = (
        dsir_log_weights(model, raw, engine="jvm")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan.replace("BroadcastExchange", "BX")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_engine_validated(spark, frames):
    target, raw = frames
    model = dsir_fit(target, raw, buckets=B)
    with pytest.raises(ValueError, match="engine"):
        dsir_log_weights(model, raw, engine="numpy")
    with pytest.raises(ValueError, match="engine"):
        hashed_ngram_counts(raw, engine="numpy")


def test_xxh64_port_matches_spark_xxhash64(spark):
    """The in-package XXH64 port (Collet's public spec) must agree
    with Spark's seed-42 xxhash64 expression on UTF-8 bytes — empty,
    short (<32B), exact block multiples, long (>32B), and unicode —
    which is what makes the xxhash64 bucket family's two engines one
    function."""
    from consume_kafka_avro_data_spark.operators.dsir import _xxh64

    texts = [
        "",
        "a",
        "abcd",
        "abcdefg",
        "exactly8",
        "0123456789abcdef0123456789abcdef",  # 32B: one full stripe
        "the quick brown fox jumps over the lazy dog repeatedly and then some",
        "café 北京 ünïcode ß",
        "don't",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {
        r["t"]: r["h"]
        for r in df.select("t", F.xxhash64("t").alias("h")).collect()
    }
    for t in texts:
        assert got[t] == _xxh64(t.encode("utf-8")), t


def test_xxhash64_family_counts_fit_and_weights_agree(spark, frames):
    """The xxhash64 family: jvm and pandas engines produce identical
    histograms and the identical model; weights agree to 1e-9; the
    recorded hash_fn survives save/load; scoring always follows the
    MODEL's family (an xxhash64 model scored through either engine
    gives the same weights)."""
    target, raw = frames
    want = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(
            raw, buckets=B, hash_fn="xxhash64"
        ).collect()
    }
    got = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(
            raw.repartition(3), buckets=B, engine="jvm", hash_fn="xxhash64"
        ).collect()
    }
    assert got == want
    m_pd = dsir_fit(target, raw, buckets=B, hash_fn="xxhash64")
    m_jvm = dsir_fit(
        target, raw, buckets=B, engine="jvm", hash_fn="xxhash64"
    )
    assert m_jvm == m_pd
    assert m_jvm.hash_fn == "xxhash64"
    w_pd = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weights(m_pd, raw).collect()
    }
    w_jvm = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weights(m_jvm, raw, engine="jvm").collect()
    }
    for i, v in w_pd.items():
        assert w_jvm[i] == pytest.approx(v, abs=1e-9)
    # the two families genuinely differ (different bucket functions)
    m_md5 = dsir_fit(target, raw, buckets=B)
    assert m_md5.hash_fn == "md5" and m_md5.log_ratio != m_jvm.log_ratio


def test_xxhash64_model_save_load_round_trip(spark, frames, tmp_path):
    from consume_kafka_avro_data_spark.operators.dsir import DsirModel

    target, raw = frames
    m = dsir_fit(target, raw, buckets=B, hash_fn="xxhash64", engine="jvm")
    m.save(spark, str(tmp_path / "m.json"))
    back = DsirModel.load(spark, str(tmp_path / "m.json"))
    assert back == m and back.hash_fn == "xxhash64"


def test_hash_fn_validated(spark, frames):
    target, raw = frames
    with pytest.raises(ValueError, match="hash_fn"):
        dsir_fit(target, raw, buckets=B, hash_fn="sha1")


def test_resample_and_ess_accept_jvm_engine(spark, frames):
    """engine='jvm' threads through selection: identical selected set
    (weights agree to 1e-9 and Gumbel keys are engine-independent)."""
    target, raw = frames
    m = dsir_fit(target, raw, buckets=B)
    a = {r["doc_id"] for r in dsir_resample(m, raw, k=3, seed=7).collect()}
    b = {
        r["doc_id"]
        for r in dsir_resample(m, raw, k=3, seed=7, engine="jvm").collect()
    }
    assert a == b
