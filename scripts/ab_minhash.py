"""Interleaved same-session A/B for the q_minhash_est_fast shingle
explosion (VERDICT r11 item 1): as-is (no window dedup) vs candidate
dedup forms, at the session's core count, with q_transition_matrix as
an untouched load canary between rounds.

Arms:
  A  as-is: _exploded_shingles, duplicates absorbed by the partial agg
  B  + dropDuplicates(["_id", "_sh"]) before the 32-hash aggregate
  C  per-doc array_distinct over HOF-assembled grams, then explode

Usage: python scripts/ab_minhash.py [rounds]   (env: SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators import dedup as D
from consume_kafka_avro_data_spark.session import get_session
from consume_kafka_avro_data_spark.tables import load_table

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


_orig = D._exploded_shingles


def _exploded_dedup(df):
    return _orig(df).dropDuplicates(["_id", "_sh"])


def _exploded_arraydistinct(df):
    k = 3
    toks = D.tokens_col("text")
    grams = F.when(
        F.size("__sh_toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("__sh_toks") - (k - 1)),
            lambda i: F.array_join(F.slice("__sh_toks", i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(F.slice("__sh_toks", 1, k), " ")))
    return (
        df.select(F.col("doc_id").alias("_id"), toks.alias("__sh_toks"))
        .select("_id", F.explode(F.array_distinct(grams)).alias("_sh"))
    )


def main():
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_session(app_name="cka-spark-ab-minhash")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF, "documents")
    docs.count()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # dup-factor probe: exploded windows vs distinct (_id, _sh)
    ex = _orig(docs)
    n_all = ex.count()
    n_distinct = ex.dropDuplicates(["_id", "_sh"]).count()
    print(
        json.dumps(
            {"windows": n_all, "distinct": n_distinct,
             "dup_factor": round(n_all / max(n_distinct, 1), 3)}
        )
    )

    def run(arm_fn):
        D._exploded_shingles = arm_fn
        try:
            df = D.minhash_estimate_pairs(docs, hash_fn="xxhash64")
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            noop(df)
            return round(time.perf_counter() - t0, 4)
        finally:
            D._exploded_shingles = _orig

    def canary():
        from consume_kafka_avro_data_spark.registry import all_queries

        qt = all_queries()["q_transition_matrix"].fn(spark, SF)
        t0 = time.perf_counter()
        noop(qt)
        return round(time.perf_counter() - t0, 4)

    arms = {"A_asis": _orig, "B_dropdup": _exploded_dedup,
            "C_arraydistinct": _exploded_arraydistinct}
    # warm each arm once (codegen)
    for fn in arms.values():
        run(fn)
    out = {name: [] for name in arms}
    out["canary_transition"] = []
    for _ in range(rounds):
        for name, fn in arms.items():
            out[name].append(run(fn))
        out["canary_transition"].append(canary())
    spark.stop()
    print(json.dumps({k: {"min": min(v), "samples": v} for k, v in out.items()}))


if __name__ == "__main__":
    main()
