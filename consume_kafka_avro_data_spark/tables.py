"""Loaders for the driver-generated parquet testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

The only normalization applied is on ``events.ts``, whose physical
parquet type has varied across testdata generations:

* TIMESTAMP(NANOS): Spark's vectorized reader rejects it
  ([PARQUET_TYPE_ILLEGAL]), so we read it as a raw int64 via the
  ``spark.sql.legacy.parquet.nanosAsLong`` conf and truncate to
  microseconds with integer arithmetic (``ts div 1000`` — never float
  division, whose 2^53 mantissa cannot hold an epoch-nanos value).
* TIMESTAMP(MICROS) without UTC adjustment: Spark 4 reads it directly
  as TIMESTAMP_NTZ; no conversion needed.

``load_table`` dispatches on the *observed* Spark dtype so both layouts
normalize to the same TIMESTAMP_NTZ column.  The DuckDB oracle's
``CAST(ts AS TIMESTAMP)`` is correct for both (nanos truncate, micros
no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from consume_kafka_avro_data_spark.session import tune_for_parity

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types for engine use.

    Memoized per (session, sf_dir, table) — r12, guide §1/§5 (driver
    cost): ``spark.read.parquet`` re-resolves the DataSource and
    re-reads footers on EVERY call, ~110 ms of driver time, and a
    6-table join paid it six times per plan build (measured 0.81 s of
    q_local_supplier_volume's 1.09 s fn() cost).  The memo stores the
    LAZY DataFrame only — an unexecuted logical plan over the parquet
    files.  No rows, results, or intermediates are cached: every
    action on the returned frame still scans parquet from scratch
    (the bench's noop runs re-execute the full read each time).  The
    dict lives on the session object, so it dies with the session and
    a fresh driver-constructed session resolves its own reads.
    DataFrames are immutable, so sharing one instance across call
    sites is safe; no query loads the same table twice into a
    self-join (checked r12), and Spark de-aliases same-instance
    self-joins anyway.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    memo = getattr(spark, "_cka_table_memo", None)
    if memo is None:
        memo = {}
        spark._cka_table_memo = memo
    key = (sf_dir, name)
    cached = memo.get(key)
    if cached is not None:
        return cached
    tune_for_parity(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # raw nanos (long) -> microsecond timestamp, integer truncation.
            # timestamp_micros yields TIMESTAMP_LTZ; cast to NTZ (session tz
            # is pinned UTC) so events.ts matches the other tables' parquet
            # timestamps, which Spark 4 reads as TIMESTAMP_NTZ.
            # `div` truncates toward ZERO — which is exactly what DuckDB's
            # TIMESTAMP_NS→TIMESTAMP cast does for pre-epoch values too
            # (verified: -1500 ns → -1 µs in both engines), so oracle
            # parity holds on either side of 1970.  Do NOT "fix" this to
            # floor division; that would diverge from the oracle.
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        elif not isinstance(ts_type, TimestampNTZType):
            # TIMESTAMP_LTZ (isAdjustedToUTC layouts): re-pin to NTZ under
            # the session's UTC timezone for cross-table consistency.
            df = df.withColumn("ts", F.expr("cast(ts as timestamp_ntz)"))
    memo[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the (normalized) testdata tables as temp views so users
    can run arbitrary ``spark.sql`` over them — the engine-side mirror
    of the driver's DuckDB view registration, with the same table names
    and the same events.ts normalization, so a query written against
    the oracle views runs unchanged against Spark."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """``register_views`` + ``spark.sql`` in one call: the ad-hoc SQL
    entry point.  Catalog oracle strings that stay inside the ANSI
    subset run verbatim (pinned by test for q_groupby_agg); oracles
    leaning on DuckDB-only list/lambda builtins are DuckDB's to run."""
    register_views(spark, sf_dir)
    return spark.sql(query)


def register_engine_views(
    spark: SparkSession,
    graph=None,
    signatures=None,
) -> list[str]:
    """Expose the ENGINE'S materialized state — not just the input
    tables — through the same ad-hoc SQL surface: the reference's graph
    existed to be queried (its prepared SELECT/INSERT statements over
    ``objects``/``relationships``, src/Database.h:23-31), and this
    engine additionally materializes a dedup signature store.
    Registers temp views for whatever is passed:

    * ``graph`` (operators/graph.GraphStore) → ``objects`` +
      ``relationships`` — the reference's two tables, queryable with
      the exact SQL shapes its prepared statements hard-coded;
    * ``signatures`` (operators/store.ManifestTable, e.g. a
      StreamingDedupIngest's ``.store``) → ``signatures`` (the head)
      plus ``signatures_v{k}`` for every snapshot version still
      readable — the store's time travel (``read(version=k)``) reached
      from plain SQL.  ``compact()`` prunes history, so the version
      view count stays bounded by the compaction cadence, not the
      micro-batch count.

    Views are lazy over the manifest read at registration time:
    re-register after ingests to see newer commits.  Returns the
    view names created."""
    created: list[str] = []
    if graph is not None:
        graph.objects().createOrReplaceTempView("objects")
        graph.relationships().createOrReplaceTempView("relationships")
        created += ["objects", "relationships"]
    if signatures is not None:
        import re

        signatures.read().createOrReplaceTempView("signatures")
        created.append("signatures")
        live = {f"signatures_v{v}" for v in signatures.versions()}
        # drop STALE version views from a previous registration:
        # compact() prunes snapshot history, and a lingering
        # signatures_v{k} would lazily reference deleted parquet —
        # failing mid-query (or reading partial data) instead of the
        # honest unknown-view error
        for t in spark.catalog.listTables():
            if (
                re.fullmatch(r"signatures_v\d+", t.name)
                and t.isTemporary
                and t.name not in live
            ):
                spark.catalog.dropTempView(t.name)
        for v in signatures.versions():
            signatures.read(version=v).createOrReplaceTempView(
                f"signatures_v{v}"
            )
            created.append(f"signatures_v{v}")
    return created
