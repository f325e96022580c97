"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"; public
knowledge).  The remaining tier of the repo's data-selection ladder:

* heuristic gates (``text.quality_score``, Gopher rules) score a doc in
  isolation;
* the learned classifier (``operators/quality``) scores a doc against a
  trusted/raw DECISION BOUNDARY;
* the KN perplexity filter (``operators/lm``) scores fluency under a
  trusted LM;
* DSIR instead matches the selected corpus's DISTRIBUTION to a target:
  each doc gets an importance weight = likelihood ratio of its hashed
  n-gram bag under target vs raw bag-of-ngrams models, then k docs are
  sampled WITHOUT replacement proportionally to the weights.

Algorithm (paper §3, hashed n-gram variant — their deployed one):

1. Featurize: lowercase word unigrams + bigrams, hashed into
   ``buckets`` (default 10⁴) counts.
2. Fit: bucket unigram distributions p̂_target / p̂_raw with add-λ
   smoothing — two bounded aggregates; the model is ONE length-B float
   vector (80 KB at the default), driver-sized at any corpus scale.
3. Weigh: log w(x) = Σ_b counts_x[b]·(log p̂_target[b] − log p̂_raw[b])
   — map-only, the broadcast log-ratio vector rides the UDF closure.
4. Resample: Gumbel top-k (Vieira 2014; Kool et al. 2019 — public):
   key_i = log w_i + Gumbel_i gives an EXACT without-replacement sample
   ∝ w; the Gumbel noise is derived deterministically from
   (seed, doc id) so selection is reproducible and layout-independent.

Scale shape: fit = one ``mapInPandas`` pass per corpus with PER-BATCH
pre-aggregated histograms (≤ B rows per batch) + a B-bounded sum;
weighing/resampling are map-only passes; the final top-k is a
TakeOrdered (per-partition heap + driver merge of k·P rows), never a
global sort.  Nothing model- or corpus-sized ever sits on the driver
except the B-vector and the k winners.
"""

from __future__ import annotations

import hashlib
import math
import re
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "DsirModel",
    "dsir_bucket_expr",
    "dsir_fit",
    "dsir_log_weights",
    "dsir_resample",
    "doc_bucket_array",
    "hashed_ngram_counts",
]

#: DSIR's featurizer tokenizes on lowercase word characters — kept
#: self-contained (Python-side regex) because featurization happens
#: inside Arrow-batched UDFs on both the fit and score paths.
DSIR_TOKEN_RE = re.compile(r"[a-z0-9']+")

DEFAULT_BUCKETS = 10_000


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh64(data: bytes) -> int:
    """Pure-Python XXH64 (Collet's public xxHash spec, 64-bit variant)
    — the reference twin of Spark's ``xxhash64`` expression, which
    hashes a string column's UTF-8 bytes with seed 42.  Returns the
    SIGNED value Spark returns (two's complement of the spec's
    unsigned digest), so ``% buckets`` agrees with Spark's ``pmod``
    bucket math exactly.  Pinned against the JVM implementation in
    tests; slow (per-byte Python) — the xxhash64 family's production
    path is the JVM engine, this exists so ``engine="pandas"`` stays
    available everywhere."""
    seed = 42
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _U64
        v2 = (seed + _XXH_P2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXH_P1) & _U64

        def _round(acc: int, lane: int) -> int:
            acc = (acc + lane * _XXH_P2) & _U64
            return (_rotl(acc, 31) * _XXH_P1) & _U64

        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _U64
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _XXH_P1 + _XXH_P4) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
        h ^= k
        h = (_rotl(h, 27) * _XXH_P1 + _XXH_P4) & _U64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXH_P1) & _U64
        h = (_rotl(h, 23) * _XXH_P2 + _XXH_P3) & _U64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _U64
        h = (_rotl(h, 11) * _XXH_P1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _bucket(ngram: str, buckets: int, hash_fn: str = "md5") -> int:
    """Stable cross-platform hash mod buckets (Python's builtin hash()
    is salted per process — unusable for a deterministic model).

    ``md5``: first 8 bytes of MD5 as an unsigned big-endian integer —
    the original DSIR featurizer, portable everywhere.  ``xxhash64``:
    Spark's seed-42 XXH64 as a SIGNED long with floored-mod bucketing
    (Python ``%`` == Spark ``pmod``) — the fast family, whose JVM
    engine hashes without hex-string round-trips."""
    if hash_fn == "xxhash64":
        return _xxh64(ngram.encode("utf-8")) % buckets
    h = hashlib.md5(ngram.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") % buckets


def _check_buckets(buckets: int) -> None:
    """Shared bound for every tier: ≥ 1 and < 2³¹ — the JVM md5
    residue math and the int-typed bucket columns are exact only
    below 2³¹, and a Python-tier fit at a larger B would produce a
    model no JVM tier can score compatibly (advisor finding, r08)."""
    if buckets < 1:
        raise ValueError("buckets must be positive")
    if buckets >= 1 << 31:
        raise ValueError(
            f"buckets must be < 2**31 (got {buckets}): the JVM bucket "
            "expression and the int bucket columns are exact only below "
            "2**31, and the Python tier's unbounded-int mod would "
            "silently diverge from it"
        )


def _doc_buckets(
    text: str, buckets: int, hash_fn: str = "md5"
) -> list[int]:
    """Hashed unigram+bigram bucket ids for one document (with
    multiplicity — the bag, not the set)."""
    toks = DSIR_TOKEN_RE.findall((text or "").lower())
    out = [_bucket(t, buckets, hash_fn) for t in toks]
    out.extend(
        _bucket(toks[i] + " " + toks[i + 1], buckets, hash_fn)
        for i in range(len(toks) - 1)
    )
    return out


def dsir_bucket_expr(
    gram: Column, buckets: int, hash_fn: str = "md5"
) -> Column:
    """``_bucket`` as a pure JVM expression — the SAME function per
    hash family, so the engine tiers are model-compatible.

    ``md5``: first 8 bytes of MD5 as an unsigned 64-bit integer, mod
    ``buckets``.  The unsigned value can exceed Long.MAX, so it is
    split into two 32-bit words (each parses into a long) and the mod
    is taken in residue arithmetic — (hi·2³² + lo) mod B =
    ((hi mod B)·(2³² mod B) + lo mod B) mod B — keeping everything in
    codegen'd LONG math (a DECIMAL(20,0) pmod would drop to BigDecimal
    per gram).

    Exact ONLY for B < 2³¹: the residue identity needs
    (B−1)·(2³² mod B) + (B−1) to stay under 2⁶³, and the bucket column
    is a 32-bit int in both tiers — Python ints are unbounded, so a
    larger B would silently diverge from the exact-big-int Python tier
    instead of erroring.  Rejected eagerly here (and the pandas-only
    paths validate at their own entry points).

    ``xxhash64``: ``pmod(xxhash64(gram), B)`` — one native expression
    straight off the UTF8 bytes, no hex-string round-trip; ~3× cheaper
    than the md5 chain (measured) and the family a throughput-bound
    deployment should fit with."""
    _check_buckets(buckets)
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(gram), F.lit(buckets)).cast("int")
    hex32 = F.md5(gram)
    hi = F.conv(F.substring(hex32, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex32, 9, 8), 16, 10).cast("long")
    b = F.lit(buckets).cast("long")
    two32_mod = F.lit((1 << 32) % buckets).cast("long")
    return F.pmod(
        F.pmod(hi, b) * two32_mod + F.pmod(lo, b), b
    ).cast("int")


def doc_bucket_array(
    text: Column, buckets: int, hash_fn: str = "md5"
) -> Column:
    """``_doc_buckets`` as a pure JVM expression: array<int> of hashed
    unigram+bigram bucket ids (with multiplicity, document order —
    unigrams first, then bigrams, exactly the Python tier's layout).
    Tokenization mirrors ``DSIR_TOKEN_RE`` via ``regexp_extract_all``
    over the lowercased text."""
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(text, F.lit(""))), F.lit(r"[a-z0-9']+"), 0
    )
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)
    return F.transform(
        grams, lambda g: dsir_bucket_expr(g, buckets, hash_fn)
    )


def hashed_ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    engine: str = "pandas",
    hash_fn: str = "md5",
) -> DataFrame:
    """(bucket, cnt) totals for a corpus — ONE distributed pass.

    ``engine="pandas"`` (portable default): per-batch pre-aggregated
    histograms from ``mapInPandas`` (at most ``buckets`` rows per Arrow
    batch) + a bucket-keyed sum whose result is B-bounded.

    ``engine="jvm"`` (round 8, the no-Python-workers tier): the
    identical bucket function as codegen'd expressions — explode the
    per-doc bucket array and count; Spark's partial aggregation
    collapses each task's grams to ≤ B rows before the exchange, so
    the shuffle is B-bounded per task exactly like the pandas tier's.
    Same counts, bit-for-bit (pinned).

    ``hash_fn`` picks the bucket family (see ``dsir_bucket_expr``):
    ``md5`` is the portable original; ``xxhash64`` is the measured-
    faster JVM family, also available to the pandas engine via the
    in-package XXH64 port."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}"
        )
    _check_buckets(buckets)
    if engine == "jvm":
        return (
            df.select(
                F.explode(
                    doc_bucket_array(F.col(text_col), buckets, hash_fn)
                ).alias("bucket")
            )
            .groupBy(F.col("bucket").cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    if engine != "pandas":
        raise ValueError(f"engine must be 'pandas' or 'jvm', got {engine!r}")
    import numpy as np
    import pandas as pd

    b = buckets

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        hist = np.zeros(b, dtype=np.int64)
        for pdf in batches:
            for t in pdf[text_col]:
                for bucket in _doc_buckets(t, b, hash_fn):
                    hist[bucket] += 1
        nz = np.flatnonzero(hist)
        yield pd.DataFrame({"bucket": nz.astype(np.int64), "cnt": hist[nz]})

    return (
        df.select(text_col)
        .mapInPandas(gen, schema="bucket long, cnt long")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


@dataclass(frozen=True)
class DsirModel:
    """The fitted importance model: one log-ratio float per bucket.
    ``log_ratio`` is a plain tuple so the model is picklable into UDF
    closures and trivially JSON-serializable for persistence.
    ``hash_fn`` records which bucket family the model was fit with —
    scoring ALWAYS uses the model's own family, so a weight can never
    silently come from mismatched buckets."""

    log_ratio: tuple[float, ...]
    buckets: int
    smoothing: float
    hash_fn: str = "md5"

    def save(self, spark, path: str) -> None:
        """Persist as ONE JSON file (the model is a B-vector — 80 KB
        at the default), tmp-then-rename atomic commit via fsio;
        floats round-trip bit-identically through json's repr
        encoding (pinned by pytest)."""
        import json

        from consume_kafka_avro_data_spark.fsio import fs_for

        io = fs_for(spark, path)
        payload = {
            "version": 1,
            "buckets": self.buckets,
            "smoothing": self.smoothing,
            "hash_fn": self.hash_fn,
            "log_ratio": list(self.log_ratio),
        }
        io.write_atomic(path, json.dumps(payload).encode())

    @classmethod
    def load(cls, spark, path: str) -> "DsirModel":
        """Reopen a saved model — see ``save``.  Pre-round-8 saves
        carry no hash_fn field and were all md5."""
        import json

        from consume_kafka_avro_data_spark.fsio import fs_for

        io = fs_for(spark, path)
        payload = json.loads(io.read_bytes(path))
        return cls(
            log_ratio=tuple(float(x) for x in payload["log_ratio"]),
            buckets=int(payload["buckets"]),
            smoothing=float(payload["smoothing"]),
            hash_fn=str(payload.get("hash_fn", "md5")),
        )


def _smoothed_log_probs(
    counts: dict[int, int], buckets: int, smoothing: float
) -> list[float]:
    total = sum(counts.values())
    denom = math.log(total + smoothing * buckets)
    base = math.log(smoothing) - denom
    out = [base] * buckets
    for bucket, c in counts.items():
        out[bucket] = math.log(c + smoothing) - denom
    return out


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    buckets: int = DEFAULT_BUCKETS,
    smoothing: float = 1.0,
    engine: str = "pandas",
    hash_fn: str = "md5",
) -> DsirModel:
    """Fit p̂_target / p̂_raw over hashed n-gram buckets (add-λ
    smoothed) and return their per-bucket log ratio.  Two distributed
    histogram passes; everything after the B-bounded collect is
    driver-side float math.  ``engine="jvm"`` runs the histogram
    passes as pure codegen'd expressions (identical bucket function →
    identical model, pinned; no Python workers).  ``hash_fn``
    ("md5" default / "xxhash64" the fast JVM family) is recorded on
    the model and drives every later scoring pass."""
    text_col = "text"
    _check_buckets(buckets)
    if smoothing <= 0.0:
        raise ValueError("smoothing must be > 0 (unsmoothed ratios diverge)")
    t_counts = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(
            target, text_col, buckets, engine, hash_fn
        ).collect()
    }
    r_counts = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(
            raw, text_col, buckets, engine, hash_fn
        ).collect()
    }
    if not t_counts or not r_counts:
        raise ValueError("empty corpus: both target and raw need tokens")
    lp_t = _smoothed_log_probs(t_counts, buckets, smoothing)
    lp_r = _smoothed_log_probs(r_counts, buckets, smoothing)
    return DsirModel(
        log_ratio=tuple(a - b for a, b in zip(lp_t, lp_r)),
        buckets=buckets,
        smoothing=smoothing,
        hash_fn=hash_fn,
    )


def dsir_log_weights(
    model: DsirModel,
    df: DataFrame,
    text_col: str = "text",
    engine: str = "pandas",
) -> DataFrame:
    """Append log w(x) = Σ n-gram log-ratios — map-only (the plan is
    pinned Exchange-free): at 100 TB the weigher runs at parquet scan
    speed, like the quality classifier it complements.  Empty/NULL text
    weighs 0 (an even ratio), never NULL.

    ``engine="jvm"`` (round 8): the whole weigh is ONE codegen'd
    expression — the B-vector rides a SINGLE-ROW broadcast frame (the
    repo's stats-frame idiom; an inline array literal would cost B
    py4j calls + a B-child analyzer pass PER JOB) and each doc folds
    element lookups over its bucket array (``aggregate`` over
    ``transform``), in the same document gram order as the pandas
    tier, so the sums agree to float tolerance with NO Python workers
    and NO Arrow transfer in the hot path."""
    out_col = "dsir_logw"
    if engine == "jvm":
        spark = df.sparkSession
        ratio_col = "_dsir_ratio"
        while ratio_col in df.columns:
            ratio_col += "_"
        ratio_df = spark.createDataFrame(
            [(list(model.log_ratio),)], f"{ratio_col} array<double>"
        )
        logw = F.aggregate(
            F.transform(
                doc_bucket_array(
                    F.col(text_col), model.buckets, model.hash_fn
                ),
                lambda bkt: F.element_at(F.col(ratio_col), bkt + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            df.crossJoin(F.broadcast(ratio_df))
            .withColumn(out_col, logw)
            .drop(ratio_col)
        )
    if engine != "pandas":
        raise ValueError(f"engine must be 'pandas' or 'jvm', got {engine!r}")
    import numpy as np
    import pandas as pd

    ratio = np.asarray(model.log_ratio, dtype=np.float64)
    b = model.buckets
    hf = model.hash_fn

    def weigh(batches: Iterator["pd.Series"]) -> Iterator["pd.Series"]:
        for texts in batches:
            yield pd.Series(
                [
                    float(ratio[_doc_buckets(t, b, hf)].sum())
                    for t in texts
                ],
                dtype=np.float64,
            )

    weigh.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    weigh_udf = F.pandas_udf(weigh, returnType="double")
    return df.withColumn(out_col, weigh_udf(F.col(text_col)))


def gumbel_key_expr(
    logw_col: str, id_col: str, seed: int
) -> Column:
    """log w + Gumbel(0,1) with the noise derived deterministically
    from (seed, id): u = (xxhash64(seed-salted id) as uniform in (0,1)),
    g = −log(−log u).  Pure JVM expression — codegen, reproducible,
    layout-independent.

    The noise is a pure function of (seed, id), so ``id_col`` must be
    unique per row (NULL counts as one value): duplicate ids share one
    Gumbel draw and would enter a top-k all-or-nothing instead of
    independently."""
    h = F.xxhash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    # map to (0,1) STRICTLY: offset by 0.5 inside the 2^64 grid, then
    # clamp below 1 — cast('double') rounds the top ~2^10 hash values
    # up to 2^63 exactly (ulp there is 1024), which would make u = 1.0
    # and log(-log(1.0)) NULL, silently excluding the doc from any
    # desc-ordered top-k
    u = (h.cast("double") + F.lit(2.0**63) + F.lit(0.5)) / F.lit(2.0**64)
    u = F.least(u, F.lit(1.0 - 2.0**-53))
    return F.col(logw_col) - F.log(-F.log(u))


def dsir_resample(
    model: DsirModel,
    df: DataFrame,
    k: int,
    seed: int = 0,
    engine: str = "pandas",
) -> DataFrame:
    """Select k documents WITHOUT replacement with probability ∝ w(x)
    — the Gumbel top-k trick: perturb each log-weight with deterministic
    Gumbel noise and take the k largest keys (exact sampling; Vieira
    2014).  Plan: map-only weigh + TakeOrdered(k) — no global sort, no
    shuffle of the corpus.  Returns the caller's columns plus
    ``dsir_logw``; selection is reproducible for a fixed seed and
    independent of partition layout.  ``doc_id`` must be unique per
    row — the noise derives from it (see ``gumbel_key_expr``), so
    duplicated ids would be selected all-or-nothing."""
    id_col = "doc_id"
    text_col = "text"
    if k < 1:
        raise ValueError("k must be positive")
    weighted = dsir_log_weights(model, df, text_col, engine=engine)
    key = gumbel_key_expr("dsir_logw", id_col, seed)
    # column hygiene: re-selecting an input that already carries
    # dsir_logw must not produce a duplicate-named column, and the
    # internal sort key must not clobber (then leak back) a caller
    # column of the same name
    out_cols = list(df.columns)
    if "dsir_logw" not in out_cols:
        out_cols.append("dsir_logw")
    key_col = "_dsir_key"
    while key_col in df.columns:
        key_col += "_"
    return (
        weighted.withColumn(key_col, key)
        .orderBy(F.col(key_col).desc())
        .limit(k)
        .select(*out_cols)
    )
