"""Shared micro-batch ingest lifecycle (T1/T2 mechanics).

The engine's three foreachBatch ingests — graph
(:class:`~consume_kafka_avro_data_spark.streaming.ingest.StreamingGraphIngest`),
dedup signatures
(:class:`~consume_kafka_avro_data_spark.streaming.dedup.StreamingDedupIngest`)
and ANN generations
(:class:`~consume_kafka_avro_data_spark.streaming.ann.StreamingAnnIngest`) —
share the same trigger wiring and bounded-replay contract; this mixin is
their single implementation so the copies cannot drift (a drift exactly
of this kind shipped once: one copy reset per-run metrics without
resetting the replay-guard batch set, under-counting a from-scratch
reprocess).

Subclass contract: ``process_batch(df, batch_id)``, ``checkpoint_dir``,
``metrics``, ``_seen_batches`` (the intra-run foreachBatch-retry guard),
``_new_metrics()`` and ``_checkpoint_subdir``; ingests that compact a
store through ``_compact_if_due`` also carry ``store``,
``compact_every`` and ``metrics.batches``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


class BoundedReplayMixin:
    """``start`` / ``run_to_completion`` for foreachBatch ingests."""

    _checkpoint_subdir: str = "ingest"
    #: bound on the intra-run replay-guard set — far above the only
    #: replay distance Structured Streaming produces within a run (the
    #: most recent uncommitted batch), small enough that week-long
    #: 1s-trigger streams don't grow driver state one entry per trigger
    #: forever.  ONE definition here so the four ingests cannot drift.
    replay_guard_horizon: int = 1024

    def _new_metrics(self):  # pragma: no cover - abstract
        raise NotImplementedError

    def _mark_batch(self, batch_id: int) -> int | None:
        """Record ``batch_id`` in the replay guard and trim entries a
        horizon behind the head (they can never be consulted again
        within this run).  Returns the trim cutoff when one applied, so
        subclasses can prune their own per-batch maps to the same
        horizon.  Ingests whose idempotence is entirely data-side
        (replace-by-batch-id sinks) never read the set — they still
        call this so the mixin contract's attribute stays bounded."""
        self._seen_batches.add(batch_id)
        if len(self._seen_batches) > self.replay_guard_horizon:
            cutoff = max(self._seen_batches) - self.replay_guard_horizon
            self._seen_batches = {
                b for b in self._seen_batches if b > cutoff
            }
            return cutoff
        return None

    @staticmethod
    def _write_audit(df: DataFrame, out_dir: str | None, batch_id: int) -> None:
        """Write ``df`` as batch ``batch_id``'s partition of ``out_dir``
        (nothing without a dir): the directory ``out_dir/batch_id=<n>``,
        overwritten whole, so a replayed batch REPLACES its own rows
        instead of appending duplicates and every side output (DLQ,
        gate rejects, contamination, dupes) is replay-stable.  Reading
        ``out_dir`` discovers ``batch_id`` as a partition column.

        The batch id lives in the path, never in the plan: Spark inlines
        a literal into generated code, so a ``lit(batch_id)`` column
        would compile fresh classes on every micro-batch.  Callers skip
        the write for a batch that routed no rows here, so an audit dir
        holds only the batches that routed rows to it (and does not
        exist until one has)."""
        if out_dir:
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )

    def _compact_if_due(self, replayed: bool) -> None:
        """Compact ``self.store`` every ``compact_every`` counted
        batches (None = manual only): append-per-batch grows a store's
        file count linearly (the small-file problem).  Safe at any
        point — the store rewrites the same rows behind an atomic
        manifest swap, so a crash or replay never observes a partial
        store.  Gated on ``not replayed``: ``metrics.batches`` does not
        advance on a replay, so a batch retried while the modulus sits
        at 0 would otherwise rewrite the whole store once per retry."""
        if (
            not replayed
            and self.compact_every
            and self.metrics.batches % self.compact_every == 0
        ):
            self.store.compact()

    def _reset(self) -> None:
        """Fresh metrics + replay-guard state.  Ingests that CARRY
        other stateful components (e.g. an attached drift monitor)
        override this to reset them in the same breath — a composed
        component left holding the previous run's batch-id-keyed
        state would silently blend two streams' numbers."""
        self.metrics = self._new_metrics()
        self._seen_batches = set()

    def start(
        self,
        stream: DataFrame,
        available_now: bool = True,
        processing_time: str = "1 second",
    ) -> StreamingQuery:
        """availableNow=True → bounded replay to EOF then stop (T2);
        False → continuous micro-batches at ``processing_time`` (T1)."""
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option(
                "checkpointLocation",
                os.path.join(self.checkpoint_dir, self._checkpoint_subdir),
            )
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_to_completion(
        self,
        stream: DataFrame,
        timeout: float = 300.0,
        reset_metrics: bool = True,
    ):
        """Bounded replay convenience: start availableNow, await, return
        metrics — the reference's run-to-partition-EOF mode.

        Metrics are per-RUN (reset on entry by default; pass
        ``reset_metrics=False`` to accumulate across runs).  The replay-
        guard batch set resets WITH the metrics: it exists to keep
        intra-run foreachBatch retries from double-counting, and
        carrying it across runs would silently zero the counters of a
        from-scratch reprocess whose batch ids restart.  (The data-side
        idempotence never depends on it — the sinks anti-join / replace
        by id.)  A replay that cannot finish within ``timeout`` raises
        TimeoutError after stopping the query — silently returning
        partial counters as if final would understate every metric."""
        if reset_metrics:
            self._reset()
        q = self.start(stream, available_now=True)
        finished = q.awaitTermination(timeout)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"bounded replay did not finish within {timeout}s; "
                "metrics are partial"
            )
        return self.metrics
