"""Scale-mechanics tests: skew salting and pruning layouts.

These pin the *mechanisms* a 100 TB deployment leans on — correctness
of the salted rewrites (row-identical to the unsalted plan) and the
plan shape of pruned scans — at toy size, where they are cheap to
verify exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.skew import salted_join


@pytest.fixture()
def skewed(spark):
    # 10k rows, 90% on one hot key — the shape AQE flags as skew
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        ).alias("key"),
        (F.col("id") % 1000).cast("double").alias("value"),
        F.col("id"),
    )


@pytest.fixture()
def dim(spark):
    keys = [("hot",)] + [(f"k{i}",) for i in range(97)]
    return spark.createDataFrame(keys, ["key"]).withColumn(
        "label", F.concat(F.lit("L-"), F.col("key"))
    )


def test_salted_join_matches_plain_join(skewed, dim):
    plain = skewed.join(dim, "key").select("id", "key", "label")
    salted = salted_join(skewed, dim, "key").select("id", "key", "label")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_matches_plain(spark, skewed):
    # dim missing some keys → left join must preserve unmatched rows
    partial_dim = spark.createDataFrame([("hot",), ("k1",)], ["key"]).withColumn(
        "label", F.lit("x")
    )
    plain = skewed.join(partial_dim, "key", "left").select("id", "key", "label")
    salted = salted_join(skewed, partial_dim, "key", how="left").select(
        "id", "key", "label"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salt_is_deterministic(skewed, dim):
    a = salted_join(skewed, dim, "key").collect()
    b = salted_join(skewed, dim, "key").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_partitioned_layout_prunes_at_planning_time(spark, sf_dir, tmp_path):
    """Hive-style partitioning by a low-cardinality column (lang) is the
    file-layout half of partition pruning: a lang = 'en' filter must
    appear as a PartitionFilter (planning-time file skip), not a data
    filter evaluated per row."""
    from consume_kafka_avro_data_spark.plans.inspect import partition_filters
    from consume_kafka_avro_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(out)

    filtered = spark.read.parquet(out).where(F.col("lang") == "en").select("doc_id")
    pf = partition_filters(filtered)
    assert any("lang" in f for f in pf), f"no partition filter on lang: {pf}"

    expected = docs.where(F.col("lang") == "en").count()
    assert filtered.count() == expected


def test_sort_within_partitions_avoids_global_exchange(spark, sf_dir):
    """W4: partition-local sort (the write-layout / secondary-sort tool)
    must not range-shuffle; a global orderBy must."""
    from consume_kafka_avro_data_spark.plans.inspect import simple_plan
    from consume_kafka_avro_data_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    local = li.sortWithinPartitions("l_shipdate")
    local.write.format("noop").mode("overwrite").save()
    assert "rangepartitioning" not in simple_plan(local).lower()

    global_ = li.orderBy("l_shipdate")
    global_.write.format("noop").mode("overwrite").save()
    assert "rangepartitioning" in simple_plan(global_).lower()


def test_approx_percentile_within_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.registry import all_queries
    from consume_kafka_avro_data_spark.tables import load_table

    # the query itself now emits rank-check booleans — all must hold
    q_rows = all_queries()["q_approx_percentile"].fn(spark, sf_dir).collect()
    assert all(r.p50_rank_ok and r.p90_rank_ok for r in q_rows)

    # independent verification of the raw sketch (not via the query's
    # own in-query rank logic)
    approx = {
        r.o_orderpriority: (r.p50_approx, r.p90_approx)
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90_approx"),
        )
        .collect()
    }
    # percentile_approx's contract is bounded RANK error (≤ 1/accuracy),
    # not value error — at tiny group sizes adjacent values can differ by
    # more than any value tolerance, so verify the rank directly
    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    by_group: dict[str, list[float]] = {}
    for r in rows:
        by_group.setdefault(r.o_orderpriority, []).append(r.o_totalprice)
    for k, (a50, a90) in approx.items():
        vals = sorted(by_group[k])
        for a, q in ((a50, 0.5), (a90, 0.9)):
            rank = sum(v <= a for v in vals) / len(vals)
            assert abs(rank - q) <= 0.01 + 1.0 / len(vals), (k, q, rank)


def test_zorder_buckets_tighter_than_single_column_sort(spark, sf_dir):
    """The point of Z-order: bucket min/max spans stay small on BOTH
    dimensions.  Under a price-only sort the day dimension's per-bucket
    spans cover ~the whole domain; under Z-order they must be
    substantially tighter (pruning would actually skip files)."""
    from consume_kafka_avro_data_spark.operators.bucketing import zorder_frame
    from pyspark.sql import Window
    from consume_kafka_avro_data_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("double").alias("day"),
    )
    # the SAME pipeline q_zorder_layout ships — one source of truth
    z = zorder_frame(base, ["price", "day"], bits=8)

    def mean_day_span(df, order_col):
        w = Window.orderBy(order_col, "o_orderkey")
        b = df.select("day", F.ntile(32).over(w).alias("bucket"))
        spans = (
            b.groupBy("bucket")
            .agg((F.max("day") - F.min("day")).alias("span"))
            .agg(F.avg("span"))
            .collect()[0][0]
        )
        return spans

    z_span = mean_day_span(z, "zkey")
    p_span = mean_day_span(z, "price")
    assert z_span < p_span * 0.5, (z_span, p_span)


def test_ivf_cells_as_partition_column_prune_probes(spark, sf_dir, tmp_path):
    """The IVF scale story made concrete: assign cells once, WRITE the
    corpus partitioned by cell, and a probe over nprobe cells must show
    PartitionFilters (planning-time file skip) — the nprobe/n_cells scan
    reduction is then a storage-layout fact, not a runtime filter."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )
    from consume_kafka_avro_data_spark.plans.inspect import partition_filters
    from consume_kafka_avro_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=8)
    assigned = ivf_assign(emb, cent)
    path = str(tmp_path / "ivf_layout")
    assigned.write.partitionBy("_ivf_cell").mode("overwrite").parquet(path)

    index = spark.read.parquet(path)
    probed = index.where(F.col("_ivf_cell").isin([1, 2]))
    pf = partition_filters(probed)
    assert pf and any("_ivf_cell" in f for f in pf), pf
    # the probe reads only the 2 probed cells' rows
    per_cell = {r._ivf_cell: r.n for r in
                index.groupBy("_ivf_cell").agg(F.count("*").alias("n")).collect()}
    want = per_cell.get(1, 0) + per_cell.get(2, 0)
    assert probed.count() == want


def test_salted_join_refuses_right_and_full(spark, skewed, dim):
    """right/full joins would surface one unmatched row per salted copy
    of the small side — the guard refuses instead of silently breaking
    the equivalence; semi/anti stay accepted (the right side carries
    all salts of every key, so existence checks are unaffected)."""
    for how in ("right", "full", "outer", "cross"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(skewed, dim, "key", how=how)
    plain_semi = skewed.join(dim, "key", "leftsemi").count()
    assert salted_join(skewed, dim, "key", how="leftsemi").count() == plain_semi
    plain_anti = skewed.join(dim, "key", "leftanti").count()
    assert salted_join(skewed, dim, "key", how="leftanti").count() == plain_anti


def test_salted_join_accepts_spark_style_how_spellings(spark, skewed, dim):
    """The allowlist normalizes like Spark's JoinType (lowercase,
    underscores stripped): spellings Spark itself accepts must not be
    refused, AND the salted result must stay row-for-row equal to the
    plain join under each spelling (>= would mask salt-replication)."""
    for how in ("Inner", "LEFT_OUTER", "Left"):
        plain = skewed.join(dim, "key", how).count()
        assert salted_join(skewed, dim, "key", how=how).count() == plain
