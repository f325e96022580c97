"""Kafka producer path (T4): Confluent-framed Avro write with delivery
accounting.

The reference's producer side is a librdkafka producer with a
per-message delivery-report callback (``src/KafkaDeliveryReportCb.cpp:
6-16`` — logs delivered/failed per message) serviced by a dedicated
poller thread (``src/KafkaPoller.cpp:23-39``), with the writer schema
registered to the Schema Registry (``src/SchemaRegistry.cpp:144-161``).

Spark lift, same semantics batch-amortized:

* per-message encode → :func:`to_confluent_avro` (Arrow-batched codec,
  one CP1 frame per row);
* producer + delivery report → ``write.format("kafka")`` per micro-batch
  with a :class:`DeliveryReport` updated per batch — Spark's Kafka sink
  only commits a batch when EVERY record is acknowledged, so the
  batch-granular report is strictly stronger than the reference's
  fire-and-log callback (a failed record fails the batch, which the
  checkpoint then retries: at-least-once into Kafka);
* poller thread → unnecessary (the sink blocks on acks inside the task);
* offline tests → :class:`FileStreamStandIn` sink that assigns
  deterministic (topic, partition, offset) so the consumer path replays
  the "topic" byte-exactly without a broker.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from consume_kafka_avro_data_spark.config import ConfigError, SchemaConfig
from consume_kafka_avro_data_spark.sources.avro_codec import to_confluent_avro
from consume_kafka_avro_data_spark.sources.kafka import (
    FileStreamStandIn,
    kafka_source_available,
)
from consume_kafka_avro_data_spark.streaming.lifecycle import BatchLedger


@dataclass
class DeliveryReport:
    """Batch-granular delivery accounting — the reference's
    per-message delivery-report callback (KafkaDeliveryReportCb.cpp:6-16)
    aggregated per micro-batch."""

    batches: int = 0
    delivered: int = 0
    by_batch: dict[int, int] = field(default_factory=dict)
    #: per-batch map retention — the running batches/delivered tallies
    #: are unaffected; only the diagnostic map is bounded, so week-long
    #: continuous produce streams don't grow driver state per trigger
    compact_horizon: int = 1024

    def record(self, batch_id: int, n: int) -> None:
        self.batches += 1
        self.delivered += n
        self.by_batch[batch_id] = self.by_batch.get(batch_id, 0) + n
        if len(self.by_batch) > self.compact_horizon:
            cutoff = max(self.by_batch) - self.compact_horizon
            for bid in [b for b in self.by_batch if b <= cutoff]:
                del self.by_batch[bid]


class AvroProducer:
    """Confluent-framed Avro producer over a Kafka topic, with a
    file-backed stand-in for brokerless tests.

    ``produce_batch`` is the one-shot write; ``produce_stream`` wraps a
    streaming DataFrame as ``writeStream`` with checkpointing (so a
    restart resumes from the last committed offsets — at-least-once into
    Kafka; consumers dedup via the idempotent graph merge, T5).
    """

    def __init__(
        self,
        spark: SparkSession,
        schema_config: SchemaConfig,
        schema_id: int,
        topic: str,
        bootstrap_servers: str | None = None,
        stand_in: FileStreamStandIn | None = None,
    ):
        self.spark = spark
        self.schema_config = schema_config
        self.schema_id = schema_id
        self.topic = topic
        self.bootstrap_servers = bootstrap_servers
        self.stand_in = stand_in
        self.report = DeliveryReport()
        # resume after the stand-in topic's existing frames: a FRESH
        # producer appending to a non-empty topic (e.g. a second CLI
        # --produce-csv run) would otherwise restart at 0 and emit
        # duplicate (partition, offset) pairs, breaking the densely-
        # increasing replayable-offsets invariant _deliver_stand_in
        # documents
        self._next_offset = 0
        if stand_in is not None and os.path.isdir(stand_in.path):
            # scope the resume scan to THIS producer's (topic, partition
            # 0) frames: the stand-in schema carries a topic column, so
            # a directory shared by several topics would otherwise
            # resume past foreign offsets and leave gaps in this topic's
            # densely-increasing sequence
            row = (
                stand_in.read_batch()
                .where(
                    (F.col("topic") == self.topic)
                    & (F.col("partition") == 0)
                )
                .agg(F.max("offset").alias("mx"))
                .collect()[0]
            )
            if row["mx"] is not None:
                self._next_offset = int(row["mx"]) + 1
        # foreachBatch callbacks run on streaming-query threads; the
        # offset allocator and report counters are read-modify-write
        # state, so concurrent queries off one producer need the lock
        # (metrics.py locks the same producer/consumer boundary)
        self._lock = threading.Lock()
        #: one replay ledger PER CHECKPOINT DIR: batch ids are unique
        #: only within one checkpoint lineage, so a producer-wide one
        #: would silently skip the early batches of a SECOND stream
        #: (fresh checkpoint, ids restarting at 0) — at-most-once data
        #: loss.  Same-process restarts of the SAME checkpoint reuse
        #: their ledger, preserving effectively-once delivery.
        self._ledgers: dict[str, BatchLedger] = {}
        if stand_in is None and not bootstrap_servers:
            # same eager contract as kafka_reader_options: fail at
            # construction with the config-layer error, not mid-job
            # with the Kafka writer's unresolvable-broker traceback
            raise ConfigError(
                "kafka.bootstrap.servers is not set; the live producer "
                "cannot be assembled without it (pass stand_in=... for "
                "brokerless runs)"
            )
        if stand_in is None and not kafka_source_available(spark):
            raise RuntimeError(
                "no Kafka datasource on the classpath and no stand-in "
                "given; pass stand_in=FileStreamStandIn(...) for offline "
                "runs or add the spark-sql-kafka package"
            )

    # -- encode ------------------------------------------------------------

    def frame(self, df: DataFrame) -> DataFrame:
        """(configured columns) → (key string, value binary) CP1 frames."""
        return to_confluent_avro(df, self.schema_config, self.schema_id)

    # -- batch produce -----------------------------------------------------

    def produce_batch(self, df: DataFrame, batch_id: int = 0) -> int:
        """Encode + deliver one batch; returns the delivered count.

        The count comes from the INPUT rows (one cheap pre-count), not
        from re-running the framed plan — counting after the write
        would re-execute the Avro-encode UDF over the whole batch, and
        the sink commits all-or-nothing per batch so rows-in ==
        rows-delivered on success (a failed write raises before the
        report ticks)."""
        n = df.count()
        framed = self.frame(df)
        if self.stand_in is not None:
            self._deliver_stand_in(framed, n)
        else:
            framed.select(
                F.col("key").cast("binary").alias("key"), "value"
            ).write.format("kafka").option(
                "kafka.bootstrap.servers", self.bootstrap_servers or ""
            ).option("topic", self.topic).save()
        with self._lock:
            self.report.record(batch_id, n)
        return n

    def _deliver_stand_in(self, framed: DataFrame, n: int) -> int:
        """Write frames to the stand-in with deterministic metadata:
        partition 0 (the reference hard-codes partition 0,
        src/main.cpp:230) and densely increasing offsets ordered by key
        — so the consumer side sees a replayable topic.  ``n`` is the
        pre-counted batch size (see produce_batch).  The lock is held
        across the write and the offset commit: offsets advance only
        after the write succeeds, so a failed write leaves no permanent
        gap in the densely-increasing-offsets invariant (delivery is
        serialized per batch anyway, so the held lock costs nothing)."""
        with self._lock:
            base = self._next_offset
            w = Window.orderBy("key", "value")
            out = framed.select(
                F.col("key").cast("binary").alias("key"),
                "value",
                F.lit(self.topic).alias("topic"),
                F.lit(0).cast("int").alias("partition"),
                (F.row_number().over(w) - 1 + F.lit(base)).cast("long").alias("offset"),
            )
            self.stand_in.write_batch(out)
            self._next_offset = base + n
        return n

    # -- streaming produce -------------------------------------------------

    def produce_stream(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
    ) -> StreamingQuery:
        """writeStream into the topic via foreachBatch on BOTH paths, so
        the delivery report ticks per batch against a real broker too
        (a bare ``format("kafka")`` sink would leave the report at zero
        in exactly the production configuration).

        Replayed batch ids (at-least-once foreachBatch after a failure/
        restart) are skipped entirely: delivery becomes effectively-once
        into the topic — strictly stronger than the reference's
        fire-and-log callback and than a non-transactional Kafka
        producer, and it keeps the stand-in's dense-offset replayable-
        topic invariant intact.  A replay older than the ledger's
        window is refused before delivering, like every ingest's.  The
        ledger is scoped PER CHECKPOINT (batch ids are only unique
        within one checkpoint lineage): a second stream through the
        same producer with a fresh checkpoint restarts at batch 0 and
        must not be skipped as 'seen'."""
        ledger = self._ledgers.setdefault(
            checkpoint_dir, BatchLedger(self.report.compact_horizon, empty=0)
        )

        def _deliver(batch: DataFrame, batch_id: int) -> None:
            # the id is recorded only after a successful delivery:
            # recording first would turn a failed write + checkpoint
            # replay into silent at-most-once loss — the replayed batch
            # would be skipped though it was never delivered
            if not ledger.admit(batch_id):
                ledger.record(batch_id, self.produce_batch(batch, batch_id))

        writer = stream.writeStream.foreachBatch(_deliver)
        writer = writer.option(
            "checkpointLocation", os.path.join(checkpoint_dir, "produce")
        )
        return writer.trigger(availableNow=True).start()
