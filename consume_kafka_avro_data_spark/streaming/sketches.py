"""Streaming sketch monitor — cardinality and heavy-hitter watch AT
INGEST, the mergeable-summaries deployment story (Agarwal et al. 2012)
riding the engine's ingest-family conventions.

Fifth watcher in the family (graph lands triples, dedup lands
signatures, ANN lands vectors + watches cell skew, drift watches the
token distribution): this one watches a KEY COLUMN's cardinality and
hot values — "how many distinct doc ids / URLs have arrived, what's
the duplication factor, which values dominate" — from CONSTANT driver
state per batch:

* per micro-batch: one KMV bottom-k sketch (k longs) + one
  Misra–Gries summary (≤ k items) + a row count, each a bounded job
  over the batch (`operators/sketches`);
* per-batch results are keyed BY BATCH ID, so a foreachBatch replay
  REPLACES its own contribution — and because both sketches are
  mergeable, the merged view after any replay sequence is sound: the
  KMV side is IDENTICAL to a batch computation over everything that
  arrived (union commutes with sketching — set equality, a theorem),
  and the MG side preserves the global n/(k+1) guarantee (item-for-
  item equality with a batch pass additionally holds whenever the
  per-batch summaries ran below capacity — no decrements — which is
  the common case at k ≫ per-batch distinct keys);
* beyond ``compact_horizon`` old batches fold into one compacted
  sketch pair (associativity makes the fold lossless for the merged
  view); a replay older than the horizon raises — the replay contract
  of ``lifecycle.BatchLedger``, which holds the per-batch state.

Reads (`distinct_estimate` / `duplication_factor` / `heavy_hitters`)
may race the stream-execution thread in continuous mode, so all
readers and the writer share the ledger's lock and read one atomic
merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from consume_kafka_avro_data_spark.operators.sketches import (
    HeavyHitters,
    KmvSketch,
    heavy_hitters,
    kmv_sketch,
    kmv_union,
    mg_merge,
)
from consume_kafka_avro_data_spark.streaming.lifecycle import (
    BatchLedger,
    BoundedReplayMixin,
)


class SketchMetrics:
    """Replay-consistent sketch state: one ``lifecycle.BatchLedger``
    record per batch, ``(hashes, mg, n)``; records older than
    ``compact_horizon`` batch ids fold pairwise into one sketch pair.
    The merged view is a merge-on-read over that pair and the live
    records — one multi-way Misra–Gries merge, which a pairwise running
    total would not equal — cached until the next record, under the
    ledger's lock: dashboard reads (three public getters per tick) must
    not each rebuild an O(batches · k) merge."""

    batches = property(lambda self: self.ledger.batches)

    def __init__(self, k_kmv: int, k_hh: int, compact_horizon: int = 1024):
        self.k_kmv = k_kmv
        self.k_hh = k_hh
        self.ledger = BatchLedger(
            compact_horizon, fold=self._fold, empty=((), {}, 0)
        )
        self._merged: tuple[KmvSketch, HeavyHitters] | None = None

    @property
    def rows(self) -> int:
        return self.merged()[1].n

    def _fold(self, a: tuple, b: tuple) -> tuple:
        return (
            kmv_union(
                KmvSketch(hashes=a[0], k=self.k_kmv),
                KmvSketch(hashes=b[0], k=self.k_kmv),
            ).hashes,
            mg_merge([a[1], b[1]], self.k_hh),
            a[2] + b[2],
        )

    def record(
        self, batch_id: int, hashes: tuple, mg: dict, n_rows: int
    ) -> None:
        with self.ledger.lock:
            self.ledger.record(batch_id, (hashes, mg, n_rows))
            self._merged = None

    def merged(self) -> tuple[KmvSketch, HeavyHitters]:
        with self.ledger.lock:
            if self._merged is None:
                # one set-union + one sort over all live hashes (not a
                # pairwise re-sorting fold), then one MG multi-merge
                hashes, mg, n = self.ledger.folded
                all_hashes = set(hashes)
                summaries = [mg]
                for h, m, nb in self.ledger.records().values():
                    all_hashes.update(h)
                    summaries.append(m)
                    n += nb
                sk = KmvSketch(
                    hashes=tuple(sorted(all_hashes)[: self.k_kmv]),
                    k=self.k_kmv,
                )
                self._merged = (
                    sk,
                    HeavyHitters(
                        items=mg_merge(summaries, self.k_hh), n=n, k=self.k_hh
                    ),
                )
            return self._merged


class StreamingSketchMonitor(BoundedReplayMixin):
    """readStream → per-batch KMV + Misra–Gries over one column →
    running cardinality / duplication / heavy-hitter view
    (replay-idempotent; exact-merge laws make the merged view equal a
    batch computation)."""

    _checkpoint_subdir = "sketchmon"

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        col: str = "doc_id",
        k_kmv: int = 1024,
        k_hh: int = 64,
        compact_horizon: int = 1024,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.col = col
        self.k_kmv = k_kmv
        self.k_hh = k_hh
        self.compact_horizon = compact_horizon
        self.metrics = self._new_metrics()

    def _new_metrics(self) -> SketchMetrics:
        return SketchMetrics(
            k_kmv=self.k_kmv,
            k_hh=self.k_hh,
            compact_horizon=self.compact_horizon,
        )

    # -- foreachBatch ---------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.metrics.ledger.admit(batch_id)  # refuse a folded replay first
        # materialize the (key-column) batch ONCE — the two sketch
        # jobs would otherwise each rescan the micro-batch's source
        b = batch.select(self.col).localCheckpoint(eager=True)
        try:
            sk = kmv_sketch(b, self.col, k=self.k_kmv)
            hh = heavy_hitters(b, self.col, k=self.k_hh)
        finally:
            b.unpersist()
        self.metrics.record(batch_id, sk.hashes, hh.items, hh.n)

    # -- reads ----------------------------------------------------------------

    def distinct_estimate(self) -> float:
        sk, _ = self.metrics.merged()
        return sk.distinct_estimate()

    def duplication_factor(self) -> float:
        """Arrived rows per distinct key — 1.0 means every arrival was
        new; 2.0 means the stream delivered everything twice.  The
        dedup ingest REMOVES duplicates; this measures how many there
        were to remove, from sketch state only."""
        sk, hh = self.metrics.merged()
        distinct = sk.distinct_estimate()
        return hh.n / distinct if distinct else 0.0

    def heavy_hitters(self) -> HeavyHitters:
        _, hh = self.metrics.merged()
        return hh
