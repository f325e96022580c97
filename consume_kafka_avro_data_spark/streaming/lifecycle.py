"""Shared micro-batch lifecycle: the replay ledger and the trigger
wiring of the engine's foreachBatch streams.

Structured Streaming's ``foreachBatch`` delivers at least once: after a
failure or restart the most recent uncommitted batch id runs again.
Every stream here makes that harmless through ONE contract, implemented
once by :class:`BatchLedger`:

* driver-side state is recorded per batch id, and a replayed id
  REPLACES its batch's record (never adds a second one);
* the newest ``horizon`` batch ids stay live; older records fold into a
  running part, so a week-long stream holds bounded driver state;
* a replay older than the window is REFUSED before the stream writes
  anything — its record is folded and can no longer be replaced;
* one lock serializes the stream thread's records against polling
  readers.

The graph and dedup ingests and the producer's delivery guard keep
their batch-id-keyed state in a ledger.  For the graph and dedup
counters, replacing gives the same numbers as skipping the replay
would: their replays are deterministic by design (the sinks merge by
id and the dedup probe excludes the batch's own ids).  Data-side
idempotence never depends on the ledger — the sinks anti-join or
replace by id.

:class:`BoundedReplayMixin` is the trigger wiring the ingests share.
Subclass contract: ``process_batch(df, batch_id)``, ``checkpoint_dir``,
``metrics`` (holding its ledger as ``metrics.ledger``),
``_new_metrics()`` and ``_checkpoint_subdir``; ingests that compact a
store through ``_compact_if_due`` also carry ``store``,
``compact_every`` and ``metrics.batches``.
"""

from __future__ import annotations

import os
import threading
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

#: live batch ids a ledger keeps by default — far above the only replay
#: distance Structured Streaming produces within a run (the most recent
#: uncommitted batch), small enough that week-long 1 s-trigger streams
#: don't grow driver state one record per trigger forever
REPLAY_WINDOW = 1024


def add_counts(a: Any, b: Any) -> Any:
    """The counter records' fold: numbers add, dicts add key by key
    (recursively, keeping first-seen key order).  Pure — neither input
    is modified, so a ledger's folded part and running total may share
    structure with the records."""
    if not isinstance(a, dict):
        return a + b
    out = dict(a)
    for k, v in b.items():
        out[k] = add_counts(out[k], v) if k in out else v
    return out


class BatchLedger:
    """Driver state keyed by batch id, under the replace-by-id contract
    (see the module docstring).

    ``add_counts(acc, record)`` combines records; records of ids that leave
    the window fold into ``folded`` in arrival order.  ``total()`` is
    the fold of everything recorded, built on the first read and kept
    incrementally after it: a new id folds into it, and only replacing
    a live id (rare — a replay) rebuilds it from the folded part and
    the window, so a poll is O(total) however long the stream.
    ``lock`` is reentrant, so an owner may hold it around a record to
    keep a cache of its own in step."""

    def __init__(
        self,
        horizon: int = REPLAY_WINDOW,
        empty: Any = None,
    ):
        self.horizon = horizon
        self.lock = threading.RLock()
        self._window: dict[int, Any] = {}
        self.folded = {} if empty is None else empty
        self._folded_batches = 0
        self._folded_max: int | None = None
        self._total: Any = None  # built on the first read

    def admit(self, batch_id: int) -> bool:
        """Refuse ``batch_id`` if its record is already folded (a replay
        older than the window cannot be replaced, only double-counted);
        otherwise say whether it is a replay of a live batch.  Streams
        call this before their first write."""
        with self.lock:
            if self._folded_max is not None and batch_id <= self._folded_max:
                raise RuntimeError(
                    f"batch {batch_id} was already compacted (horizon "
                    f"{self.horizon}); a replay this far back cannot be "
                    "deduplicated — raise the horizon or reset the stream"
                )
            return batch_id in self._window

    def record(self, batch_id: int, rec: Any) -> None:
        """Record (or, for a live id, replace) ``batch_id``'s record,
        then fold the ids that fell out of the window."""
        with self.lock:
            replaced = self.admit(batch_id)
            self._window[batch_id] = rec
            if replaced:
                self._total = None
            elif self._total is not None:
                self._total = add_counts(self._total, rec)
            if len(self._window) > self.horizon:
                cutoff = max(self._window) - self.horizon
                for bid in [b for b in self._window if b <= cutoff]:
                    self.folded = add_counts(self.folded, self._window.pop(bid))
                    self._folded_batches += 1
                    if self._folded_max is None or bid > self._folded_max:
                        self._folded_max = bid

    @property
    def batches(self) -> int:
        """Distinct batch ids recorded, folded ones included."""
        with self.lock:
            return self._folded_batches + len(self._window)

    def records(self) -> dict[int, Any]:
        """The live window, ``{batch_id: record}`` in arrival order."""
        with self.lock:
            return dict(self._window)

    def total(self) -> Any:
        """Fold of every record (read-only: callers must not mutate)."""
        with self.lock:
            if self._total is None:
                total = self.folded
                for rec in self._window.values():
                    total = add_counts(total, rec)
                self._total = total
            return self._total


def total_of(key: str):
    """A read-only counter attribute: ``key`` of the owner's
    ``ledger.total()``, 0 before any batch."""
    return property(lambda self: self.ledger.total().get(key, 0))


class BoundedReplayMixin:
    """``start`` / ``run_to_completion`` for foreachBatch ingests."""

    _checkpoint_subdir: str = "ingest"

    def _new_metrics(self):  # pragma: no cover - abstract
        raise NotImplementedError

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
        """Fresh metrics, and with them a fresh ledger: a new run's
        batch ids restart at 0, so the previous run's records must not
        stay to be replaced by them."""
        self.metrics = self._new_metrics()

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

        Metrics are per-RUN (reset on entry by default, ledger
        included).  With ``reset_metrics=False`` a run whose batch ids
        restart (a fresh checkpoint over the same stream — crash
        recovery) REPLACES the earlier run's records id by id, so the
        numbers stay those of one pass; a genuinely new stream must
        reset.  A replay that cannot finish within ``timeout`` raises
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
