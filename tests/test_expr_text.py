"""r12 plan-build optimizations: the SQL-text expression builders must
be VALUE-IDENTICAL to the Column-operator forms they replaced (the text
forms exist only to cut py4j round trips at plan-build time — ~1700
round trips ≈ 0.5 s per minhash plan, paid per micro-batch in streaming
dedup)."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F


ROWS = [
    (1, "a b c"),
    (2, "x"),
    (3, ""),
    (None, "a b c"),
]


def _pack(v: float) -> bytes:
    return struct.pack("d", v)


def test_minhash_expr_text_equals_column_forms(spark):
    """comp(i) and the band expr from _minhash_agg_components (now SQL
    text) must produce the exact values of the old Column chains, for
    both hash families."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        _minhash_agg_components,
        band_hashes,
        band_hashes_md5,
    )

    df = spark.createDataFrame(ROWS, "_id long, _sh string")
    for hash_fn, old_comp, old_band in (
        (
            "xxhash64",
            lambda i: F.min(F.xxhash64(F.lit(i), F.col("_sh"))).alias(f"_h{i}"),
            band_hashes,
        ),
        (
            "md5",
            lambda i: F.min(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("_sh"))), 1, 16)
            ).alias(f"_h{i}"),
            band_hashes_md5,
        ),
    ):
        comp, band = _minhash_agg_components(hash_fn, "_sim")
        n = 32
        new = (
            df.groupBy("_id")
            .agg(*[comp(i) for i in range(n)])
            .select("_id", F.array(*[f"_h{i}" for i in range(n)]).alias("_sim"))
        )
        old = (
            df.groupBy("_id")
            .agg(*[old_comp(i) for i in range(n)])
            .select("_id", F.array(*[f"_h{i}" for i in range(n)]).alias("_sim"))
        )
        got = sorted(new.select("_id", "_sim", band.alias("_b")).collect(),
                     key=lambda r: (r._id is None, r._id))
        want = sorted(
            old.select("_id", "_sim", old_band(F.col("_sim"), 8, 4).alias("_b"))
            .collect(),
            key=lambda r: (r._id is None, r._id),
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want], hash_fn


def test_brute_force_topk_expr_text(spark):
    """The one-expr SQL-text score must be BIT-identical to the old
    Column-operator chain (same left-assoc fold, same literals)."""
    import numpy as np

    from consume_kafka_avro_data_spark.operators.similarity import (
        brute_force_topk,
        l2_norm,
    )

    rng = np.random.default_rng(11)
    dim = 16
    vecs = [(i, rng.standard_normal(dim).tolist()) for i in range(30)]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    qv = [float(x) for x in rng.standard_normal(dim)]

    got = brute_force_topk(corpus, qv, k=7).collect()

    # old Column-chain form, verbatim from the pre-r12 implementation
    import math

    acc = 0.0
    for x in qv:
        acc += x * x
    qn = math.sqrt(acc)
    d = F.element_at(F.col("embedding"), 1).cast("double") * qv[0]
    for i in range(1, len(qv)):
        d = d + F.element_at(F.col("embedding"), i + 1).cast("double") * qv[i]
    old = (
        corpus.select(
            F.col("vec_id"),
            (d / (l2_norm(F.col("embedding"), dim=len(qv)) * F.lit(qn))).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(7)
        .collect()
    )
    assert [r.vec_id for r in got] == [r.vec_id for r in old]
    assert [_pack(r.score) for r in got] == [_pack(r.score) for r in old]
