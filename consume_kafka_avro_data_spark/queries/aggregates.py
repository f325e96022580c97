"""Aggregation queries (SURVEY §2.4, A2–A7).

The reference's only aggregate is a running error counter
(``src/main.cpp:243-251``); everything here is the EXT relational closure
— Tungsten hash aggregation with automatic map-side partial aggregation,
which is exactly the shape that scales: partials shrink the shuffle to
|groups| × |partitions| regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from consume_kafka_avro_data_spark.functions.parity import (
    _hundredths,
    davg,
    dsum,
    dsum_mul,
    o_davg,
    o_dsum,
    o_dsum_mul,
)
from consume_kafka_avro_data_spark.registry import query
from consume_kafka_avro_data_spark.tables import load_table


@query(
    "q_groupby_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum("l_quantity")}      AS sum_qty,
           {o_dsum("l_extendedprice")} AS sum_base_price,
           {o_dsum_mul("l_extendedprice", "(1.0 - l_discount)")} AS sum_disc_price,
           {o_davg("l_quantity")}      AS avg_qty,
           min(l_quantity)             AS min_qty,
           max(l_quantity)             AS max_qty,
           CAST(count(*) AS BIGINT)    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A2",),
)
def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary (A2): the flagship aggregate.
    sum/avg use exact decimal partials (see functions/parity.py) so the
    result is independent of partitioning — a correctness *and* a
    reproducibility property at cluster scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_mul("l_extendedprice", F.lit(1.0) - F.col("l_discount")).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT)                  AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("A3",),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (A3).  Spark expands count-distinct into a
    two-phase aggregate (partial distinct then merge) automatically."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("A4",),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (A4), made oracle-checkable:
    the sketch estimate is implementation-defined, so the query emits
    the EXACT distinct count (verifiable) plus an in-query accuracy
    assertion — |estimate − exact| / exact ≤ 5% (2.5× the configured
    rsd).  The oracle expects TRUE, so an out-of-tolerance sketch fails
    the driver's hash check rather than hiding behind rows-only."""
    li = load_table(spark, sf_dir, "lineitem")
    agged = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_est"),
    )
    return agged.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("_est") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= 0.05
        ).alias("within_5pct"),
    )


@query(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           {o_dsum("l_quantity")}   AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("A5",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (A5): subtotals + grand total in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           NULLIF(CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT), 0) AS "O",
           NULLIF(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT), 0) AS "F",
           NULLIF(CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT), 0) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("A2", "A5"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab) aggregation: order counts by priority ×
    status.  Values are listed explicitly — at scale an implicit pivot
    needs a distinct-value collection job first, and unpinned columns
    break schema stability.  Spark leaves absent cells NULL (not 0),
    which the oracle mirrors with NULLIF."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )


@query(
    "q_percentile",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5)  AS p50,
           quantile_cont(o_totalprice, 0.9)  AS p90
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("A6",),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (A6): Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition.  (The
    scalable variant is ``percentile_approx`` — see q_approx_distinct for
    why sketches are rows-only.)
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
    )


@query(
    "q_collect_adjacency",
    oracle="""
    SELECT n_name,
           array_to_string(list_sort(list(s_name)), ',') AS suppliers,
           CAST(count(*) AS BIGINT)                      AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("A7",),
)
def q_collect_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency-list materialization (A7): collect_list per group —
    the graph form of the reference's relationships table.  The list is
    sorted then joined to a string so the hash is order-insensitive.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        # nation is 25 rows at ANY scale factor — always broadcast-safe
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("suppliers"),
            F.count("*").alias("n_suppliers"),
        )
    )


@query(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           {o_dsum("l_quantity")}   AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("A5",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube (A5): all 2^k grouping combinations in one pass —
    Spark expands the sets map-side, still a single shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "q_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           {o_dsum("l_quantity")}   AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("A5",),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (A5): the general form rollup/cube
    specialize; one shuffle for all three groupings."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.count("*").alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "q_stats_moments",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(l_quantity) AS BIGINT) AS n,
             {o_dsum("l_quantity")}            AS sx,
             {o_dsum_mul("l_quantity", "l_quantity")} AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           sx / CAST(n AS DOUBLE)                                   AS mean_qty,
           (sxx - (sx * sx) / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))              AS var_qty,
           sqrt((sxx - (sx * sx) / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))             AS stddev_qty
    FROM s
    """,
    tags=("A2", "A6"),
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev (A2 closure) from exact decimal sums.

    A raw ``stddev_samp(double)`` is association-sensitive (Welford /
    pairwise merges differ per engine and per partitioning); deriving the
    moments from order-independent exact decimal sums (Σx, Σx²) with one
    fixed double expression makes the result bit-identical across engines
    AND across cluster layouts — the reproducibility property that matters
    when a 100 TB job re-runs with different partition counts."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n"),
        dsum("l_quantity").alias("sx"),
        dsum_mul("l_quantity", "l_quantity").alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    var = (F.col("sxx") - (F.col("sx") * F.col("sx")) / n_d) / (n_d - F.lit(1.0))
    return agg.select(
        "l_returnflag",
        "n",
        (F.col("sx") / n_d).alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
    )


@query(
    "q_corr_cov",
    oracle=f"""
    WITH s AS (
      SELECT l_linestatus,
             CAST(count(*) AS BIGINT)                        AS n,
             {o_dsum("l_quantity")}                          AS sx,
             {o_dsum("l_discount")}                          AS sy,
             {o_dsum_mul("l_quantity", "l_quantity")}        AS sxx,
             {o_dsum_mul("l_discount", "l_discount")}        AS syy,
             {o_dsum_mul("l_quantity", "l_discount")}        AS sxy
      FROM lineitem GROUP BY l_linestatus
    )
    SELECT l_linestatus, n,
           (sxy - (sx * sy) / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))       AS cov_qty_disc,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))   AS corr_qty_disc
    FROM s
    """,
    tags=("A2",),
)
def q_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance + Pearson correlation (A2 closure) between
    quantity and discount, derived from the five exact decimal sums
    (Σx, Σy, Σx², Σy², Σxy) via one fixed double expression — same
    engine/partitioning-independence argument as q_stats_moments, and
    still a single map-side-combining hash aggregate.  (Small 2-dp
    operands keep every per-row decimal product far below DuckDB's
    18-digit product cap at any scale factor; the price column would
    overflow it when squared.)"""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        dsum("l_quantity").alias("sx"),
        dsum("l_discount").alias("sy"),
        dsum_mul("l_quantity", "l_quantity").alias("sxx"),
        dsum_mul("l_discount", "l_discount").alias("syy"),
        dsum_mul("l_quantity", "l_discount").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    cov = (F.col("sxy") - (F.col("sx") * F.col("sy")) / n_d) / (n_d - F.lit(1.0))
    corr = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n_d * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n_d * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "l_linestatus", "n", cov.alias("cov_qty_disc"), corr.alias("corr_qty_disc")
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_acctbal, c_custkey) AS names_csv,
           CAST(count(*) AS BIGINT)                              AS n_customers
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    tags=("A7",),
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-BY string aggregation (A7 closure): customer names per
    nation × segment concatenated in (acctbal, custkey) order.  Spark has
    no ordered listagg, so the deterministic form is sort_array over
    collect_list(struct(sort keys…, value)) then transform+array_join —
    struct comparison is field-order lexicographic, which reproduces the
    SQL ORDER BY exactly and stays a single hash aggregate."""
    c = load_table(spark, sf_dir, "customer")
    lst = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("c_acctbal").alias("b"),
                F.col("c_custkey").alias("k"),
                F.col("c_name").alias("v"),
            )
        )
    )
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.array_join(F.transform(lst, lambda s: s["v"]), ",").alias("names_csv"),
        F.count("*").alias("n_customers"),
    )


@query(
    "q_maxby_boolagg",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderstatus, o_orderkey)  AS last_status,
           min_by(o_orderstatus, o_orderkey)  AS first_status,
           bool_and(o_totalprice > 900.0)     AS all_above_floor,
           bool_or(o_orderstatus = 'P')       AS any_pending
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("A2", "A7"),
)
def q_maxby_boolagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin + boolean aggregates (A2/A7 closure): max_by /
    min_by keyed on the unique order key (so ties cannot make the result
    engine-dependent) plus bool_and / bool_or — all partial-aggregable,
    so the shuffle carries one row per group."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderstatus", "o_orderkey").alias("last_status"),
        F.min_by("o_orderstatus", "o_orderkey").alias("first_status"),
        F.bool_and(F.col("o_totalprice") > 900.0).alias("all_above_floor"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
    )


@query(
    "q_approx_percentile",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_rank_ok,
           TRUE AS p90_rank_ok
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("A6", "A4"),
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (A6 at scale): a mergeable sketch with
    bounded error replaces the exact sort-based percentile — at 100 TB
    the exact form needs all values per group; the sketch is fixed-size
    per partition and combines map-side.

    Oracle-checkable via an in-query RANK-error assertion (the sketch's
    actual contract — value error is unbounded between adjacent order
    statistics): after the sketch pass, the approx values broadcast back
    onto the rows and each group verifies
    |rank(approx)/n − q| ≤ 1/accuracy + 1/n.  The oracle expects TRUE,
    so a drifting sketch breaks the driver's hash match; the group count
    rides along so the row carries verifiable data, not just booleans."""
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    sketch = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_a50"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("_a90"),
    )
    # sketch is one row per o_orderpriority (5-value domain at any SF)
    joined = o.join(F.broadcast(sketch), "o_orderpriority")
    # tie-aware ranks: the returned value v occupies the rank interval
    # [count(<v), count(<=v)] — checking only the max rank would fail a
    # legitimate sketch result whenever v is duplicated near the target
    def lt(c):
        return F.sum(F.when(F.col("o_totalprice") < F.col(c), 1).otherwise(0))

    def le(c):
        return F.sum(F.when(F.col("o_totalprice") <= F.col(c), 1).otherwise(0))

    ranked = joined.groupBy("o_orderpriority").agg(
        F.first("n").alias("n"),
        lt("_a50").alias("_lt50"),
        le("_a50").alias("_le50"),
        lt("_a90").alias("_lt90"),
        le("_a90").alias("_le90"),
    )
    tol = 1.0 / 10000 + 1.0 / F.col("n")

    def ok(lo, hi, q):
        return (F.lit(q) >= F.col(lo) / F.col("n") - tol) & (
            F.lit(q) <= F.col(hi) / F.col("n") + tol
        )

    return ranked.select(
        "o_orderpriority",
        "n",
        ok("_lt50", "_le50", 0.5).alias("p50_rank_ok"),
        ok("_lt90", "_le90", 0.9).alias("p90_rank_ok"),
    )


@query(
    "q_salted_agg",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {o_dsum("value")}        AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("A2",),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (A2, skew mechanics): rows first
    aggregate on (key, salt) — 8 deterministic salt buckets from the
    row id — then the salted partials re-aggregate on the key alone.
    With 5 event types, a plain groupBy would reduce each hot key in ONE
    task no matter the cluster size; salting spreads every key over 8
    reducers and the second pass touches only |keys|×8 rows.  Exact
    decimal partials make the result bit-identical to the oracle's plain
    GROUP BY regardless of how rows split across salt buckets.
    """
    e = load_table(spark, sf_dir, "events")
    salted = e.groupBy(
        "event_type", F.pmod(F.xxhash64("event_id"), F.lit(8)).alias("_salt")
    ).agg(
        F.count("*").alias("_n"),
        # exact long hundredths (functions/parity.py r11): partials
        # re-sum exactly across salt buckets, same values as the
        # decimal form with no per-row double→decimal string cast
        F.sum(_hundredths("value")).alias("_s"),
    )
    return salted.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        (F.sum("_s").cast("double") / F.lit(100.0)).alias("sum_value"),
    )


@query(
    "q_gini",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           1.0 - CAST(SUM(CAST(cnt AS DECIMAL(18,0)) * CAST(cnt AS DECIMAL(18,0)))
                      AS DOUBLE)
                 / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)) AS gini
    FROM c GROUP BY user_id
    """,
    tags=("A2",),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of each user's event-type mix (A2 closure): the
    diversity measure that needs no logarithm — 1 − Σ(cᵢ/n)² is a pure
    rational of exact integer counts, so unlike Shannon entropy it is
    bit-identical across engines (libm ln() can differ by an ulp).  Two
    stacked aggregates on the same user_id partitioning; the second
    input is ≤ |users|×|types| rows.

    Σcᵢ² goes through a DECIMAL(18,0) product sum (exact and order-
    independent at any count — a raw long×long would ANSI-overflow near
    cnt≈3e9, and a per-element double sum would drift from the oracle
    past 2⁵³); the n² denominator squares the exact double of n, which
    rounds the exact product once in BOTH engines."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    dec = F.col("cnt").cast("decimal(18,0)")
    n_d = F.sum("cnt").cast("double")
    return c.groupBy("user_id").agg(
        F.sum("cnt").alias("n_events"),
        (F.lit(1.0) - F.sum(dec * dec).cast("double") / (n_d * n_d)).alias("gini"),
    )


@query(
    "q_percentile_disc",
    oracle="""
    SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.75) AS p75
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("A6", "W1"),
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (A6 completion): the smallest actual value
    whose cumulative rank reaches p — no interpolation, so the result is
    always a value that exists in the data (what q_percentile's
    quantile_cont is not).  Spark has no percentile_disc aggregate;
    the emulation ranks within each group and picks rank ⌈p·n⌉ — one
    window shuffle, then a groups-sized aggregate.  Ties on price are
    irrelevant: any tying row yields the same value.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    n = Window.partitionBy("o_orderpriority")
    r = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(n).alias("n"),
    )
    return r.groupBy("o_orderpriority").agg(
        F.min(
            F.when(F.col("rn") >= F.ceil(F.col("n") * 0.25), F.col("o_totalprice"))
        ).alias("p25"),
        F.min(
            F.when(F.col("rn") >= F.ceil(F.col("n") * 0.75), F.col("o_totalprice"))
        ).alias("p75"),
    )


@query(
    "q_hll_shards",
    oracle="""
    SELECT event_type AS scope,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS scope,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_5pct
    FROM events
    """,
    tags=("A4", "A2"),
)
def q_hll_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-MERGEABLE distinct counting (A4's incremental-statistics
    form): one HLL sketch per shard (event_type), then the global count
    from ``hll_union_agg`` over the per-shard SKETCHES — the shards'
    raw data is never rescanned for the global number.  This is the
    100 TB statistics pattern: each arriving shard contributes a
    KB-sized sketch, global/rollup distincts are sketch unions (a
    byte-sized shuffle), and re-computation after new data touches only
    the new shard — exactly how ``incremental_minhash_dedup`` treats
    signatures.  Sketch bits
    are implementation-defined, so the query emits the EXACT counts
    (oracle-verifiable) plus in-query accuracy assertions — the union
    estimate must sit within 5% of the exact global distinct and each
    shard estimate within 5% of its exact (q_approx_distinct's
    established contract: an out-of-tolerance sketch fails the hash
    check instead of hiding behind rows-only)."""
    e = load_table(spark, sf_dir, "events")
    shards = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("_sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_shard = shards.select(
        F.col("event_type").alias("scope"),
        "exact_users",
        (
            F.abs(
                F.hll_sketch_estimate("_sk").cast("double")
                - F.col("exact_users")
            )
            / F.col("exact_users")
            <= 0.05
        ).alias("within_5pct"),
    )
    global_exact = e.agg(F.countDistinct("user_id").alias("exact_users"))
    # the global estimate merges the per-shard SKETCHES — never the rows
    global_est = shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est")
    )
    global_row = global_exact.crossJoin(global_est).select(
        F.lit("ALL").alias("scope"),
        "exact_users",
        (
            (F.abs(F.col("_est").cast("double") - F.col("exact_users"))
             / F.col("exact_users"))
            <= 0.05
        ).alias("within_5pct"),
    )
    return per_shard.unionByName(global_row)
