"""Streaming corpus-drift monitor — distribution shift detected AT
INGEST, while the batch form (``queries/curation.corpus_drift``) is the
offline census.

Fourth member of the engine's ingest family, and the second watcher:
``StreamingGraphIngest`` lands triples, ``StreamingDedupIngest`` lands
signatures (rejecting low-quality / contaminated docs on the way in),
``StreamingAnnIngest`` lands vectors AND watches quantizer-cell skew
(``needs_rebuild``) — this one watches the arriving token distribution
against the REFERENCE corpus the pipeline's knobs were tuned on
(sampling weights, quality thresholds, the ANN quantizers themselves)
and flips ``needs_retune`` when the head total-variation distance
crosses the threshold.

Design, mirroring the batch census's parity/scale choices:

* The tokenizer is THE census tokenizer (``functions/textops``), the
  same definition ``corpus_drift`` aggregates — structurally, not by
  copy — so the monitor's reference head is byte-identical to what the
  offline census would rank.
* The reference head — the top ``head_k`` terms per language by count —
  is computed ONCE at construction (reference scanned once, persisted
  across the head/tail collects) and collected to the driver (bounded:
  ≤ head_k + 1 rows per language, the stated ``.collect()`` bound of
  this module).  The head LUT DataFrame is also built once and reused
  by every micro-batch.
* Each micro-batch's tokens are bucketed JVM-side into the reference
  head terms plus a single out-of-vocabulary bucket (broadcast join
  against the head LUT, one partial+final aggregate), so the per-batch
  collect is ≤ (head_k + 1) rows per language regardless of batch
  size — per-batch cost is head-bounded exactly like the ANN ingest's
  parquet-footer reads.
* Counts are recorded BY BATCH ID in a ``lifecycle.BatchLedger``, so
  a foreachBatch replay after a crash REPLACES its own contribution
  (counts and doc tallies can never disagree) — batch ids are
  Structured Streaming's replay key, unique within one checkpoint
  lineage.  Accumulating across runs (``reset_metrics=False``) is
  therefore sound only for replays of the SAME stream (crash
  recovery); a genuinely NEW stream restarts batch ids at 0 and must
  go through a reset or a fresh monitor.
* Metric reads (``drift_tvd`` / ``needs_retune`` / the SQL views) may
  race the stream-execution thread in continuous (T1) mode; the
  ledger's lock and incremental totals keep polls atomic and
  O(totals), and records beyond ``compact_horizon`` fold so driver
  memory stays bounded on week-long streams.  The SQL views read one
  atomic ``snapshot()``.
* ``drift_tvd()`` is the coarsened total-variation distance over the
  head-term partition (head terms + OOV): 0.5 · Σ |p_t − q_t| between
  the reference distribution and the accumulated arrivals, per
  language.  Coarsening over a fixed finite partition keeps the metric
  exact and bounded-cost at any stream length; a language with no
  arrivals yet reports no drift (there is nothing to compare), and a
  language ABSENT from the reference reports the maximal 1.0 —
  disjoint supports, the same convention the batch census applies to
  an empty snapshot.
* ``needs_retune(threshold)`` is ADVISORY, like the ANN ingest's
  ``needs_rebuild``: re-deriving sampling weights or retraining
  quantizers mid-stream must be the operator's scheduled decision.

The OOV bucket uses a key that cannot collide with a real token
(tokens come from space-splitting, so they never contain a space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from consume_kafka_avro_data_spark.functions.textops import census_token_stream
from consume_kafka_avro_data_spark.streaming.lifecycle import (
    BatchLedger,
    BoundedReplayMixin,
    total_of,
)

#: bucket key for arrival mass outside the reference head — contains a
#: space, which no space-split token can
OOV = "<oov tail>"


class DriftMetrics:
    """Replay-consistent drift counters: one ledger record per batch
    (``{"docs": n, "terms": {(lang, term): n}}``), so a replayed batch
    REPLACES its contribution and the doc tally can never disagree with
    the term counts.  ``lifecycle.BatchLedger`` keeps the totals
    incrementally (a poll is O(current totals)), locks them against the
    stream-execution thread, folds records older than
    ``compact_horizon`` batch ids, and refuses a replay of a folded
    batch rather than silently double-counting it.

    That refusal is also the boundary of the fresh-checkpoint recovery
    pattern (``run_to_completion(reset_metrics=False)`` with a new
    checkpoint dir): batch ids restart at 0 there, so replace-by-id
    keeps the numbers unchanged only while the first run stayed within
    ``compact_horizon`` batches.  Beyond it the monitor refuses (batch
    0 is already folded and cannot be replaced) — reset the monitor,
    or construct it with a horizon sized to the stream."""

    batches = property(lambda self: self.ledger.batches)
    compact_horizon = property(lambda self: self.ledger.horizon)
    docs = total_of("docs")

    def __init__(self, compact_horizon: int = 1024):
        self.ledger = BatchLedger(compact_horizon)

    def term_totals(self) -> dict[tuple[str, str], int]:
        return dict(self.ledger.total().get("terms", {}))

    def record(
        self,
        batch_id: int,
        n_docs: int,
        counts: dict[tuple[str, str], int],
    ) -> None:
        self.ledger.record(batch_id, {"docs": n_docs, "terms": dict(counts)})


class StreamingDriftMonitor(BoundedReplayMixin):
    """readStream(documents) → head-bucketed token counts per batch →
    running head-TVD against the reference corpus (replay-idempotent)."""

    _checkpoint_subdir = "drift"

    def _new_metrics(self) -> DriftMetrics:
        return DriftMetrics(compact_horizon=self.compact_horizon)

    def __init__(
        self,
        spark: SparkSession,
        reference: DataFrame,
        checkpoint_dir: str,
        head_k: int = 256,
        compact_horizon: int = 1024,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.head_k = head_k
        #: per-batch map retention (see DriftMetrics) — configurable
        #: here because the ancient-replay error's remedy ("raise the
        #: horizon") must be reachable through the public API,
        #: and _reset()/run_to_completion rebuild metrics via
        #: _new_metrics(), which would silently discard a horizon set
        #: only on a hand-installed DriftMetrics
        self.compact_horizon = compact_horizon
        self.metrics = self._new_metrics()

        # reference head: top head_k terms per lang by count
        # (deterministic cnt-then-term rank, as the batch census), plus
        # the reference's own OOV (tail) mass so the comparison
        # partition is identical on both sides.  ONE reference scan:
        # the counted relation is persisted across the head and tail
        # collects, then released.  collect() bounds: head ≤ head_k
        # rows per language; tail ≤ 1 row per language.
        tc = (
            census_token_stream(reference, "lang")
            .groupBy("lang", "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .persist()
        )
        try:
            rk = F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tok")
            )
            ranked = tc.withColumn("rk", rk)
            head_rows = ranked.where(F.col("rk") <= head_k).collect()
            tail_rows = (
                ranked.where(F.col("rk") > head_k)
                .groupBy("lang")
                .agg(F.sum("cnt").alias("cnt"))
                .collect()
            )
        finally:
            tc.unpersist()
        self._ref_counts: dict[tuple[str, str], int] = {
            (r.lang, r.tok): r.cnt for r in head_rows
        }
        for r in tail_rows:
            self._ref_counts[(r.lang, OOV)] = r.cnt
        self._ref_totals: dict[str, int] = {}
        for (lang, _), n in self._ref_counts.items():
            self._ref_totals[lang] = self._ref_totals.get(lang, 0) + n
        #: (lang, term) head membership; the LUT frame is built once —
        #: rebuilding it per micro-batch would re-serialize head_k ×
        #: langs rows from the driver on every trigger forever
        self._head_terms = {k for k in self._ref_counts if k[1] != OOV}
        #: lang → reference partition terms (head + OOV), precomputed:
        #: the reference side is immutable after construction, and
        #: rebuilding these sets per poll would rescan the whole
        #: _ref_counts dict once PER LANGUAGE on every drift_tvd() /
        #: needs_retune() call (polled concurrently with ingestion in
        #: continuous mode)
        self._ref_terms_by_lang: dict[str, set[str]] = {}
        for lg, t in self._ref_counts:
            self._ref_terms_by_lang.setdefault(lg, set()).add(t)
        self._lut = self.spark.createDataFrame(
            # None-safe sort key: a reference row with lang=NULL must
            # not crash construction (None < str is a TypeError)
            sorted(self._head_terms, key=lambda k: (k[0] or "", k[1]))
            or [("", "")],
            "lang string, tok string",
        ).withColumn("in_head", F.lit(True))

    # -- foreachBatch ---------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.metrics.ledger.admit(batch_id)  # refuse a folded replay first
        counts: dict[tuple[str, str], int] = {}
        # unlike the ANN ingest (which reads row counts from the shard
        # it writes anyway), this monitor HAS no write to piggyback on:
        # the doc tally is one count() over the micro-batch, small by
        # construction, and doubles as the emptiness probe
        n_docs = batch.count()
        if n_docs:
            rows = (
                census_token_stream(batch, "lang").alias("s")
                # head LUT is ≤ head_k x n_langs rows: broadcast is
                # size-bounded by construction (the placeholder row of
                # an empty head cannot match — tokens are never "").
                # lang joins NULL-SAFELY: a NULL-lang reference head
                # must match NULL-lang arrivals, or every such arrival
                # buckets to OOV and the lang reports near-1.0 drift
                # against an identical distribution.  Spark extracts
                # <=> as a hash-join key, so this stays a broadcast
                # hash join.
                .join(
                    F.broadcast(self._lut.alias("h")),
                    [
                        F.col("s.lang").eqNullSafe(F.col("h.lang")),
                        F.col("s.tok") == F.col("h.tok"),
                    ],
                    "left",
                )
                .select(
                    F.col("s.lang").alias("lang"),
                    F.when(F.col("h.in_head"), F.col("s.tok"))
                    .otherwise(F.lit(OOV))
                    .alias("term"),
                )
                .groupBy("lang", "term")
                .agg(F.count(F.lit(1)).alias("cnt"))
                # bounded: ≤ (head_k + 1) rows per language
                .collect()
            )
            counts = {(r.lang, r.term): r.cnt for r in rows}
        # keyed by batch id: a replay overwrites (never double-counts);
        # the ledger locks against concurrent T1 readers
        self.metrics.record(batch_id, n_docs, counts)

    # -- drift metric ---------------------------------------------------------

    def drift_tvd(self) -> dict[str, float]:
        """Per-language coarsened head-TVD between the reference
        distribution and the accumulated arrivals: 0.5 · Σ |p − q|
        over the reference head terms plus the OOV bucket.  Languages
        with no arrivals are absent; an arriving language unseen in the
        reference reports 1.0 (disjoint supports — the batch census's
        empty-snapshot convention)."""
        return self._tvd_from(self.metrics.term_totals())

    def snapshot(
        self,
    ) -> tuple[dict[str, float], dict[tuple[str, str], int]]:
        """(drift_tvd, term_totals) computed from ONE atomic read of
        the counters — consumers registering both as views (e.g. the
        engine SQL views) must not see two different moments."""
        totals = self.metrics.term_totals()
        return self._tvd_from(totals), totals

    def _tvd_from(
        self, arr: dict[tuple[str, str], int]
    ) -> dict[str, float]:
        # ONE pass over the arrivals (not one scan per language): a
        # poll runs on the driver concurrently with ingestion in
        # continuous mode, so its cost must stay O(|arr| + head)
        arr_by_lang: dict[str, dict[str, int]] = {}
        for (lang, t), n in arr.items():
            arr_by_lang.setdefault(lang, {})[t] = n
        out: dict[str, float] = {}
        for lang, terms_n in arr_by_lang.items():
            a_tot = sum(terms_n.values())
            r_tot = self._ref_totals.get(lang)
            if not r_tot:
                out[lang] = 1.0
                continue
            terms = self._ref_terms_by_lang.get(lang, set()) | set(terms_n)
            s = 0.0
            for t in sorted(terms):  # deterministic fold order
                p = self._ref_counts.get((lang, t), 0) / r_tot
                q = terms_n.get(t, 0) / a_tot
                s += abs(p - q)
            out[lang] = 0.5 * s
        return out

    def needs_retune(self, threshold: float = 0.2) -> bool:
        """True when ANY language's accumulated head-TVD crosses
        ``threshold`` — the signal to re-derive sampling weights /
        re-check quality thresholds against the shifted stream.
        Advisory, like the ANN ingest's ``needs_rebuild``."""
        return any(v > threshold for v in self.drift_tvd().values())
