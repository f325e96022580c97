"""The streaming ingest pipeline — the reference's whole job, lifted.

Reference flow (``src/main.cpp:221-256`` + ``src/KafkaConsumerCallback
.cpp:69-115``): consume from earliest → deserialize Confluent-Avro →
count/log failures, keep going → (target path) stamp created_at, upsert
vertices, resolve ids, upsert edges — one row, one transaction at a time.

Spark lift, same semantics batch-amortized:

  source (kafka | file stand-in) → from_confluent_avro (PERMISSIVE)
    → valid rows:  triples → GraphStore.ingest_triples (dedup-merge)
    → error rows:  DLQ parquet sink + running counter

* ``trigger(availableNow=True)`` = the reference's partition-EOF bounded
  replay (``exit_eof``, KafkaConsumerCallback.cpp:21-26) — consume to
  end, then stop (T2).
* checkpointing + idempotent merge = its OFFSET_BEGINNING replay over an
  ON-CONFLICT sink (T5): at-least-once delivery, effectively-once state.
* ``stop_and_drain`` = the SIGINT channel + queue drain
  (``src/main.cpp:26-89``, ``src/logging/LogProcessor.cpp:71-81``): stop
  the trigger, let the in-flight batch finish (T3).
* the DLQ row count is the reference's ``errors`` counter
  (``src/main.cpp:243-251``), queryable instead of logged.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from consume_kafka_avro_data_spark.config import SchemaConfig
from consume_kafka_avro_data_spark.streaming.lifecycle import (
    BatchLedger,
    BoundedReplayMixin,
    total_of,
)
from consume_kafka_avro_data_spark.operators.graph import GraphStore, triples_from
from consume_kafka_avro_data_spark.sources.avro_codec import from_confluent_avro


def _count_reasons(batches):
    """One partition's dead-letter reasons as Arrow (reason, count) rows."""
    n = Counter(r for b in batches for r in b.column(0).to_pylist())
    if n:
        yield pa.RecordBatch.from_pydict({"_error": list(n), "n": list(n.values())})


class IngestMetrics:
    """Per-run counters (the reference's `errors` counter, plus writes).

    ``valid_rows``, ``error_rows`` and ``errors_by_reason`` sum the
    per-batch records of ``ledger`` (a replay replaces its batch's).
    ``new_vertices``/``new_edges`` add outside it: a replay merges
    nothing new, so replacing would zero the original batch's counts."""

    batches = property(lambda self: self.ledger.batches)
    valid_rows = total_of("valid_rows")
    error_rows = total_of("error_rows")

    def __init__(self) -> None:
        self.ledger = BatchLedger()
        self.new_vertices = 0
        self.new_edges = 0

    @property
    def errors_by_reason(self) -> dict[str, int]:
        return dict(self.ledger.total().get("errors_by_reason", {}))


class StreamingGraphIngest(BoundedReplayMixin):
    """readStream → decode → foreachBatch{DLQ, graph merge}, checkpointed."""

    _checkpoint_subdir = "ingest"

    def _new_metrics(self) -> "IngestMetrics":
        return IngestMetrics()

    def __init__(
        self,
        spark: SparkSession,
        store: GraphStore,
        schema_config: SchemaConfig,
        checkpoint_dir: str,
        dlq_dir: str | None = None,
        expected_schema_id: int | None = None,
        created_at: str | None = None,
        compact_every: int | None = None,
    ):
        if len(schema_config.columns) != 3:
            # fail at construction, not mid-stream: the SPO sink takes
            # exactly (subject, predicate, object); a 4th field would drop
            raise ValueError(
                "StreamingGraphIngest needs exactly 3 configured columns "
                f"(subject, predicate, object); got {schema_config.columns}"
            )
        self.spark = spark
        self.store = store
        self.schema_config = schema_config
        self.checkpoint_dir = checkpoint_dir
        self.dlq_dir = dlq_dir
        self.expected_schema_id = expected_schema_id
        self.created_at = created_at
        #: compact the graph store every N batches (None = manual only):
        #: each merge appends files to both tables, so file counts grow
        #: with stream length — StreamingDedupIngest's knob; A/B in bench.py
        self.compact_every = compact_every
        self.metrics = IngestMetrics()

    # -- the per-micro-batch body (the reference's hot loop, set-oriented) --

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once.  The graph merge is idempotent;
        # the counters are recorded by batch id only AFTER the batch
        # succeeds, so a replay replaces them.  A replay older than the
        # ledger's window is refused before anything is written.
        replayed = self.metrics.ledger.admit(batch_id)
        decoded = from_confluent_avro(
            batch, self.schema_config, self.expected_schema_id, keep_raw=True
        ).cache()
        try:
            # ONE shuffle-free job fills the cache the writes below read
            # and yields every counter: each partition's (reason, count)
            # pairs (reasons x partitions rows, never one per frame) and a
            # named observe() of the valid count, read from the job's own
            # plan.  No Observation object: it makes the session unpicklable.
            dead = decoded.observe("valid", F.count_if(F.col("_error").isNull()))
            dead = dead.where(F.col("_error").isNotNull()).select("_error")
            counted = dead.mapInArrow(_count_reasons, "_error string, n long")
            by_reason: Counter = Counter()
            for reason, n in counted.collect():
                by_reason[reason] += n
            n_err = sum(by_reason.values())
            observed = counted._jdf.queryExecution().observedMetrics()
            n_valid = observed.apply("valid").getLong(0)
            if n_err:
                # the RAW undecoded frame rides along so dead letters can
                # be re-decoded after a schema fix (an error string cannot)
                dlq = decoded.where(F.col("_error").isNotNull())
                dlq = dlq.select("key", F.col("_raw_value").alias("value"), "_error")
                self._write_audit(dlq, self.dlq_dir, batch_id)
            sc = self.schema_config  # exactly 3 columns, checked at construction
            valid = decoded.where(F.col("_error").isNull())
            triples = triples_from(valid, *map(sc.field_name, sc.columns))
            nv, ne = self.store.ingest_triples(triples, created_at=self.created_at)
            self.metrics.new_vertices += nv
            self.metrics.new_edges += ne
            self.metrics.ledger.record(
                batch_id,
                {
                    "valid_rows": n_valid,
                    "error_rows": n_err,
                    "errors_by_reason": dict(by_reason),
                },
            )
            self._compact_if_due(replayed)
        finally:
            decoded.unpersist()

    # -- lifecycle -----------------------------------------------------------

    @staticmethod
    def stop_and_drain(query: StreamingQuery, timeout: float = 60.0) -> None:
        """Graceful shutdown (T3): mirrors the reference's signal channel
        + drain — best-effort drain, then stop.

        ``processAllAvailable`` blocks FOREVER on a source that keeps
        producing (Spark documents it as a testing utility), so the
        drain runs on a daemon thread bounded by ``timeout`` — a live
        Ctrl-C must reach ``stop()`` even when the sink can never catch
        up to the producer."""
        import threading

        drain = threading.Thread(target=query.processAllAvailable, daemon=True)
        drain.start()
        drain.join(timeout)
        query.stop()
        query.awaitTermination(timeout)

    # start() / run_to_completion() come from BoundedReplayMixin
