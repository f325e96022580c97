"""SparkSession factory tuned for this engine.

Local mode mirrors the test/bench environment (``local[$SPARK_GRAFT_CPUS]``)
but every setting here is chosen to also hold on a large multi-executor
cluster:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion are exactly the knobs a 100 TB run needs.
* ``spark.sql.shuffle.partitions`` defaults to 2× cores locally; on a real
  cluster AQE's coalescing makes a high initial value safe.
* Arrow transfer on — every pandas-UDF operator in this repo is
  Arrow-batched, never row-at-a-time.
* Session timezone pinned to UTC so epoch extraction is byte-identical to
  the DuckDB correctness oracle regardless of host timezone.
* ``spark.sql.legacy.parquet.nanosAsLong`` — the driver testdata's
  ``events.ts`` column is parquet TIMESTAMP(NANOS), which Spark's reader
  refuses by default; we read it as raw nanos and convert (see tables.py).
* The package's parent directory on the Python workers' ``PYTHONPATH``
  (Spark merges it with its own and the inherited one): pandas UDFs
  unpickle package functions there, and a worker only finds the package
  by accident when the driver was started from the repository root.
* Generated code that outlives its micro-batch.  A foreachBatch ingest
  plans the same queries every trigger, and Spark keys each compiled
  class by its Java source, so a batch reuses the last batch's classes
  only if the cache holds them all and the source is unchanged.
  ``spark.sql.codegen.cache.maxEntries`` (static; default 100) is set to
  4096: a dedup micro-batch of the curation benchmark needs more than
  100 classes, so the cache thrashed at 115-132 compiles per batch.
  ``spark.sql.codegen.useIdInClassName`` off keeps the whole-stage
  codegen id out of class names: AQE numbers stages in the order it
  creates them, which changes between runs of one plan.  Steady-state
  batches now compile nothing (``tests/test_steady_state_compiles.py``).
  Both act JVM-wide, and only for sessions built here: the verify
  driver's own session never goes through :func:`get_session` and keeps
  Spark's defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding this package — what a Python worker needs on
#: its path to unpickle the package's UDFs
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def tune_for_parity(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs required for oracle-exact results.

    Applied defensively inside every loader/query because the verify
    driver constructs its own SparkSession that did not go through
    :func:`get_session`.

    Memoized per session object (r12): each ``conf.set`` is a py4j
    round trip and this runs on every ``load_table`` call — ~25 ms per
    query of pure driver chatter re-setting values that are sticky for
    the session's lifetime anyway.  The flag lives on the session
    object, so a fresh driver-constructed session still gets tuned on
    its first load.
    """
    if getattr(spark, "_cka_parity_tuned", False):
        return spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI stays ON (the Spark 4 default): the long-hundredths parity
    # aggregates (functions/parity.py) rely on ANSI failing an int64
    # overflow LOUDLY where the old decimal path drifted quietly — pin
    # it so a deployment profile that flips the default cannot turn
    # that guarantee into silent wraparound (r11 advisor).
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:  # plan-build speed: see the get_session comment on this conf
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
    except Exception:
        pass
    spark._cka_parity_tuned = True
    return spark


def get_session(
    app_name: str = "consume-kafka-avro-data-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cpus or _cpus()
    shuffle = shuffle_partitions or max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-code reuse across micro-batches (see above)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark's per-API-call call-site capture walks the Python stack
        # on EVERY DataFrame/Column call (~5 ms each) purely to decorate
        # error messages; wide plan builders (32-component MinHash
        # signatures, 64-bin histograms) spend ~0.5-1 s per query in it.
        # Debug locally by flipping this on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune_for_parity(spark)
