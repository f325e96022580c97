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

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from consume_kafka_avro_data_spark.config import SchemaConfig
from consume_kafka_avro_data_spark.streaming.lifecycle import BoundedReplayMixin
from consume_kafka_avro_data_spark.operators.graph import GraphStore, triples_from
from consume_kafka_avro_data_spark.sources.avro_codec import from_confluent_avro


@dataclass
class IngestMetrics:
    """Per-run counters (the reference's `errors` counter, plus writes)."""

    batches: int = 0
    valid_rows: int = 0
    error_rows: int = 0
    new_vertices: int = 0
    new_edges: int = 0
    errors_by_reason: dict[str, int] = field(default_factory=dict)


def decode_stream(
    stream: DataFrame,
    schema_config: SchemaConfig,
    expected_schema_id: int | None = None,
    keep_raw: bool = False,
) -> DataFrame:
    """Wire frames → decoded fields + ``_error`` (null ⇒ valid)."""
    return from_confluent_avro(
        stream, schema_config, expected_schema_id, keep_raw=keep_raw
    )


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
            # fail at construction, not at the first micro-batch: the
            # SPO graph sink consumes exactly (subject, predicate,
            # object); a 2-column config would TypeError mid-stream and
            # a 4-column one would silently drop the fourth field
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
        #: the per-batch merge appends files to both vertex and edge
        #: ManifestTables, and file counts grow linearly with stream
        #: length (the small-file problem the dedup ingest measured at
        #: 17× scan cost for 32 vs 1 files) — same knob as
        #: StreamingDedupIngest.compact_every; A/B in bench.py
        self.compact_every = compact_every
        self.metrics = IngestMetrics()
        self._seen_batches: set[int] = set()

    # -- the per-micro-batch body (the reference's hot loop, set-oriented) --

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: the same batch_id re-runs after
        # a mid-batch failure/restart.  The graph merge is idempotent by
        # construction; the side counters are made idempotent by marking
        # a batch as seen only AFTER it fully succeeds — marking first
        # would make a failed-then-retried batch skip its counters
        # forever (counted nowhere), the inverse bug of double-counting
        replayed = batch_id in self._seen_batches
        decoded = decode_stream(
            batch, self.schema_config, self.expected_schema_id, keep_raw=True
        ).cache()
        try:
            # ONE aggregation pass yields every counter (valid count,
            # error count, per-reason counts) — the result is
            # reasons-sized, so the collect is driver-safe by
            # construction; separate count() actions per counter would
            # re-scan the cached batch three times
            by_reason = {
                r["_error"]: r["count"]
                for r in decoded.groupBy("_error").count().collect()
            }
            n_valid = by_reason.pop(None, 0)
            n_err = sum(by_reason.values())
            if n_err:
                # the RAW undecoded frame rides along so dead letters
                # can be re-decoded after a schema fix — an error
                # string alone is unreplayable
                self._write_audit(
                    decoded.where(F.col("_error").isNotNull()).select(
                        "key", F.col("_raw_value").alias("value"), "_error"
                    ),
                    self.dlq_dir,
                    batch_id,
                )
            names = [
                self.schema_config.field_name(c) for c in self.schema_config.columns
            ]
            valid = decoded.where(F.col("_error").isNull())
            triples = triples_from(valid, *names[:3])
            nv, ne = self.store.ingest_triples(triples, created_at=self.created_at)
            self.metrics.new_vertices += nv
            self.metrics.new_edges += ne
            if not replayed:
                self.metrics.batches += 1
                self.metrics.valid_rows += n_valid
                self.metrics.error_rows += n_err
                for reason, cnt in by_reason.items():
                    self.metrics.errors_by_reason[reason] = (
                        self.metrics.errors_by_reason.get(reason, 0) + cnt
                    )
            # success: only now does a replay of this id skip counters
            # (mixin-shared bounded trim — see BoundedReplayMixin)
            self._mark_batch(batch_id)
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
