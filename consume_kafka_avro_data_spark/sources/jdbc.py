"""Optional JDBC graph sink — reference parity for the Postgres target.

The reference's only sink is Postgres (``/root/reference/src/
Database.cpp:41-78``): prepared ``INSERT … ON CONFLICT ON CONSTRAINT …
DO NOTHING`` upserts for objects and relationships (``src/Database.h:
23-31``), one row and one transaction at a time, with vertex ids
resolved by a per-name ``SELECT id`` round-trip (``get_object_id``,
Database.cpp:26-39).  Our default sink is the parquet-native
``GraphStore`` with identical idempotent-merge semantics; a deployment
replacing the reference's Postgres keeps that database by pointing this
sink at it instead.

Spark-first shape (NOT a row-at-a-time port):

* the micro-batch's triples land in a STAGING table via Spark's
  distributed JDBC writer (per-partition batched inserts — the only
  data-sized transfer, and it scales with executors);
* ONE set-oriented statement upserts all vertices
  (``ON CONFLICT … DO NOTHING``, the reference's exact conflict
  clause), and ONE more inserts all edges with the id resolution folded
  into a join against ``objects`` — the reference's per-row
  ``get_object_id`` round-trip becomes a relational join the database
  executes once per batch;
* both statements are idempotent, so a foreachBatch replay re-runs
  them harmlessly — the same at-least-once ⇒ effectively-once contract
  every ingest in this engine implements.

Testing tiers (the ``kafka_reader_options`` pattern, sources/kafka.py):
option assembly and SQL text are pure functions unit-tested with no
database; the live execution path needs a JDBC driver jar
(:data:`POSTGRES_JDBC_PACKAGE`) plus a reachable database and is
env-gated the same way the live Kafka smoke is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from consume_kafka_avro_data_spark.config import ConfigError
from consume_kafka_avro_data_spark.sources.kafka import jvm_class_available

#: JDBC driver artifact for the reference's Postgres target — the
#: ``--packages`` coordinate README documents; pinned here so config,
#: docs, and tests share ONE constant (KAFKA_PACKAGE's policy).
POSTGRES_JDBC_PACKAGE = "org.postgresql:postgresql:42.7.7"

POSTGRES_DRIVER_CLASS = "org.postgresql.Driver"


def jdbc_driver_available(
    spark: SparkSession, driver_class: str = POSTGRES_DRIVER_CLASS
) -> bool:
    """True when the JDBC driver resolves on Spark's classloader (sees
    ``--packages`` jars, unlike a system-loader Class.forName)."""
    return jvm_class_available(spark, driver_class)


def libpq_to_jdbc(conninfo: str) -> tuple[str, str | None, str | None]:
    """Translate a libpq key=value conninfo — the reference's EXACT
    connection-string shape, hardcoded at ``src/main.cpp:188``
    (``hostaddr=127.0.0.1 port=5432 dbname=odynet user=postgres
    password=example``) — into ``(jdbc_url, user, password)``, so a
    deployment can paste the reference's string into
    :meth:`JdbcGraphSink.from_libpq` unchanged.

    Recognized keys: host/hostaddr (hostaddr wins, libpq's precedence),
    port (default 5432), dbname (required), user, password; unknown
    keys are ignored (libpq accepts dozens — connect_timeout etc. —
    that have JDBC equivalents a caller can pass as extra options)."""
    kv: dict[str, str] = {}
    for part in conninfo.split():
        if "=" not in part:
            raise ConfigError(
                f"malformed libpq conninfo fragment {part!r} — expected "
                "space-separated key=value pairs"
            )
        k, _, v = part.partition("=")
        kv[k] = v
    dbname = kv.get("dbname")
    if not dbname:
        raise ConfigError("libpq conninfo has no dbname — cannot form a JDBC URL")
    host = kv.get("hostaddr") or kv.get("host") or "localhost"
    port = kv.get("port", "5432")
    return (
        f"jdbc:postgresql://{host}:{port}/{dbname}",
        kv.get("user"),
        kv.get("password"),
    )


import re

#: Strict SQL identifier shape for config-supplied table names — each
#: dot-separated part (schema.table allowed) must be a plain unquoted
#: identifier.  Names are interpolated into driver-side SQL text, so
#: anything looser is an injection surface; the eager-validation policy
#: (ConfigError at assembly, not a database error at the first batch)
#: applies here exactly as it does to URLs.
_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _validate_table_name(name: str, what: str) -> str:
    if not name:
        raise ConfigError(f"JDBC {what} table name must be non-empty")
    if not all(_IDENTIFIER_RE.match(part) for part in name.split(".")):
        raise ConfigError(
            f"JDBC {what} table name {name!r} is not a plain SQL "
            "identifier (letters/digits/underscores, optionally "
            "schema-qualified) — names are embedded in SQL statements, "
            "so quoted or special-character names are refused"
        )
    return name


def jdbc_writer_options(
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str = POSTGRES_DRIVER_CLASS,
) -> dict[str, str]:
    """The JDBC datasource option map, as a pure function so tests can
    pin the assembly with no database.

    ``batchsize`` (10,000) bounds the per-partition insert batches (Spark's
    JDBC writer default is 1000 — too chatty for a bulk staging load);
    eager URL validation mirrors ``kafka_reader_options``'s policy of
    failing with the config-layer error instead of the driver's."""
    if not url.startswith("jdbc:"):
        raise ConfigError(
            f"JDBC url must start with 'jdbc:', got {url!r}; the "
            "reference's libpq URL (postgresql://…) maps to "
            "jdbc:postgresql://host:port/db"
        )
    _validate_table_name(table, "staging")
    opts = {
        "url": url,
        "dbtable": table,
        "driver": driver,
        "batchsize": "10000",
    }
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    return opts


def upsert_objects_sql(
    staging_table: str, objects_table: str = "objects"
) -> str:
    """Set-oriented form of the reference's ``insert_object`` prepared
    statement (Database.h:23-25): every distinct subject/object name in
    the staged batch becomes one vertex row, duplicates silenced by the
    reference's exact conflict clause.  ``ON CONFLICT … DO NOTHING``
    also absorbs duplicates WITHIN the statement, so the UNION (itself
    a dedup across the two name columns) needs no further care."""
    _validate_table_name(staging_table, "staging")
    _validate_table_name(objects_table, "objects")
    return (
        f"INSERT INTO {objects_table}(object_name, object_type, created_at) "
        f"SELECT name, object_type, CAST(created_at AS date) FROM ("
        f"SELECT subject AS name, object_type, created_at FROM {staging_table} "
        f"UNION "
        f"SELECT object AS name, object_type, created_at FROM {staging_table}"
        f") AS staged_names "
        f"ON CONFLICT ON CONSTRAINT objects_unique_constraint DO NOTHING"
    )


def upsert_relationships_sql(
    staging_table: str, objects_table: str = "objects",
    relationships_table: str = "relationships",
) -> str:
    """Set-oriented form of ``insert_relationship`` (Database.h:29-31)
    with the reference's per-row ``get_object_id`` round-trips
    (Database.cpp:26-39) folded into joins: the database resolves every
    name→id in one pass instead of 2 SELECTs per triple."""
    _validate_table_name(staging_table, "staging")
    _validate_table_name(objects_table, "objects")
    _validate_table_name(relationships_table, "relationships")
    return (
        f"INSERT INTO {relationships_table}"
        f"(source_id, target_id, relationship_name) "
        f"SELECT DISTINCT src.id, tgt.id, s.predicate "
        f"FROM {staging_table} s "
        f"JOIN {objects_table} src ON src.object_name = s.subject "
        f"JOIN {objects_table} tgt ON tgt.object_name = s.object "
        f"ON CONFLICT ON CONSTRAINT relationships_unique_constraint "
        f"DO NOTHING"
    )


def staged_triples(
    triples: DataFrame, object_type: str, created_at: str | None
) -> DataFrame:
    """The staging projection, as a pure function so the databaseless
    tier can pin its schema and defaults.

    ``created_at`` defaults to the batch date (``current_date()``) —
    the parquet ``GraphStore``'s default (operators/graph.py) and the
    reference's behavior of stamping wall clock per record
    (``src/KafkaConsumerCallback.cpp:94-99``).  Both paths stage a
    DateType column: a provided string is cast eagerly (a NullType or
    bare-string literal has no/fragile JDBC mapping, so the staging
    write would otherwise throw at the first micro-batch), and the
    upsert SQL's ``CAST(created_at AS date)`` — the reference's
    ``$3::date`` — then passes a date through unchanged."""
    from pyspark.sql import functions as F

    created = (
        F.current_date()
        if created_at is None
        else F.lit(created_at).cast("date")
    )
    return triples.select(
        "subject",
        "predicate",
        "object",
        F.lit(object_type).alias("object_type"),
        created.alias("created_at"),
    )


class JdbcGraphSink:
    """foreachBatch JDBC merge writer for the reference's Postgres
    schema — the switchable counterpart to ``GraphStore`` for
    deployments keeping the reference's database.

    Per micro-batch: stage the triples (distributed JDBC write,
    mode=overwrite so a replayed batch REPLACES its staging rows), then
    run the two set-oriented upserts on a driver-side connection.  Both
    upserts are idempotent (``DO NOTHING`` on the reference's unique
    constraints), so replays are harmless — and the staging overwrite
    means a half-staged crash never leaves stale rows for the next
    attempt to merge.

    Scale note: the staged batch is the only data-sized JDBC transfer
    and it is executor-parallel; the merge statements are set-oriented
    SQL the database runs once per batch.  The driver-side connection
    carries only statements, never rows.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        staging_table: str = "staging_triples",
        user: str | None = None,
        password: str | None = None,
        driver: str = POSTGRES_DRIVER_CLASS,
        object_type: str = "MyObjectType",
        created_at: str | None = None,
    ):
        self.spark = spark
        # validate eagerly (ConfigError here, not a py4j stack at the
        # first micro-batch) — jdbc_writer_options is the one validator
        self.options = jdbc_writer_options(
            url, staging_table, user, password, driver
        )
        self.url = url
        self.staging_table = staging_table
        self.user = user
        self.password = password
        self.driver = driver
        self.object_type = object_type
        if created_at is not None:
            # eager, config-layer: the staging projection casts this to
            # DATE, and a malformed string would otherwise surface
            # mid-stream at the first micro-batch (ANSI: throw;
            # non-ANSI: silent NULL dates).  FULL-string match against
            # the two supported shapes — a prefix check would pass
            # strings like '2024-01-015' that Spark's date cast rejects
            import datetime

            for fmt in ("%Y-%m-%d", "%Y-%m-%d %H:%M:%S"):
                try:
                    datetime.datetime.strptime(str(created_at), fmt)
                    break
                except ValueError:
                    continue
            else:
                raise ConfigError(
                    f"created_at {created_at!r} is not 'YYYY-MM-DD' or "
                    "'YYYY-MM-DD HH:MM:SS' — the reference stamps "
                    "'%Y-%m-%d %H:%M:%S' and the graph schema casts to "
                    "DATE"
                )
        self.created_at = created_at
        if not jdbc_driver_available(spark, driver):
            raise RuntimeError(
                f"JDBC driver {driver} not on the classpath; add the "
                f"{POSTGRES_JDBC_PACKAGE} package (--packages), or use "
                "the parquet-native GraphStore for jar-less runs"
            )

    @classmethod
    def from_libpq(cls, spark: SparkSession, conninfo: str, **kwargs):
        """Construct from the reference's libpq conninfo string
        verbatim (src/main.cpp:188) — see :func:`libpq_to_jdbc`."""
        url, user, password = libpq_to_jdbc(conninfo)
        return cls(spark, url, user=user, password=password, **kwargs)

    # -- the per-batch body ---------------------------------------------

    def process_batch(self, triples: DataFrame, batch_id: int) -> None:
        """Stage the batch's (subject, predicate, object) triples, then
        merge — the foreachBatch body (pass bound: ``writeStream.
        foreachBatch(sink.process_batch)``)."""
        staged = staged_triples(triples, self.object_type, self.created_at)
        (
            staged.write.format("jdbc")
            .options(**self.options)
            .mode("overwrite")
            .save()
        )
        self._execute(upsert_objects_sql(self.staging_table))
        self._execute(upsert_relationships_sql(self.staging_table))

    def _execute(self, sql: str) -> None:
        """Run one statement on a driver-side JDBC connection (JVM
        DriverManager — no Python DB client exists in the image, and
        the connector jar is already Spark's dependency)."""
        jvm = self.spark._jvm  # noqa: SLF001
        props = jvm.java.util.Properties()
        if self.user is not None:
            props.setProperty("user", self.user)
        if self.password is not None:
            props.setProperty("password", self.password)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()
