"""Streaming near-dup dedup at ingest time (charter U5, operational):
each micro-batch of documents is MinHash-signed, LSH-matched against a
persistent signature store, routed duplicate/novel, and the novel
signatures are merged into the store — so the corpus stays deduped AS
it is ingested instead of via periodic full-corpus sweeps.

Scale shape (the invariant of operators/dedup: never shuffle more than
the signature):

* The store holds only ``(doc_id, signature)`` — bands recompute from
  the stored signatures as codegen'd hashes, so the on-disk state is
  ~n·8·32 bytes per document regardless of document size.
* Per batch: one signature pass over the batch (explode + native min
  aggregates), one band equi-join against the store's banded view
  (new×store only — the store is already deduped, so store×store work
  would be pure waste), one intra-batch band self-check (earlier-id
  canonical), one idempotent merge of novel signatures.
* Replay safety mirrors streaming/ingest.StreamingGraphIngest: the
  store merge anti-joins on doc_id (a replayed batch re-appends
  nothing), self-matches are excluded by id (a doc whose signature
  already landed before a crash does not count as its own duplicate on
  replay), and the counters are recorded by batch id only after
  success, so a replay replaces them (``lifecycle.BatchLedger``).

The reference never had this operator; it is the LLM-pipeline charter
applied to the reference's consume→transform→idempotent-sink loop
(src/main.cpp:221-256), with the dedup signature store taking the place
of the graph tables.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from consume_kafka_avro_data_spark.functions.textops import exploded_word_grams
from consume_kafka_avro_data_spark.operators.bloom import BroadcastBloom
from consume_kafka_avro_data_spark.operators import dedup as _dedup
from consume_kafka_avro_data_spark.operators.dedup import (
    BANDS,
    MIN_MATCHES,
    ROWS,
    SHINGLE_K,
    _minhash_agg_components,
    agreement,
    minhash_sig_table,
)
from consume_kafka_avro_data_spark.operators.store import ManifestTable
from consume_kafka_avro_data_spark.operators.text import (
    GOPHER_REP_THRESHOLDS,
    c4_clean,
    gopher_repetition,
    quality_score,
)
from consume_kafka_avro_data_spark.streaming.lifecycle import (
    BatchLedger,
    BoundedReplayMixin,
    total_of,
)


#: The stream's document columns.  Ids are longs: they key the
#: persisted signature store.
ID_COL, TEXT_COL = "doc_id", "text"
#: The hash the ingest signs with: the fastest JVM MinHash hash.
HASH_FN = "xxhash64"
#: The signature hyperparameters, persisted beside the store as
#: ``_signature_params.json`` (see ``StreamingDedupIngest.__init__``).
SIGNATURE_PARAMS = {
    "shingle_k": SHINGLE_K,
    "bands": BANDS,
    "rows": ROWS,
    "hash_fn": HASH_FN,
}


class DedupMetrics:
    """Per-run counters: every batch doc is rejected (quality gate),
    contaminated (decontamination gate), a dupe, or novel — the four
    always sum to docs (gates that are off contribute zero).

    Each batch's record in ``ledger`` holds those five counts plus its
    per-gate census (``StreamingDedupIngest.gate_census()``); a replay
    REPLACES its batch's record, with the same numbers, because the
    gates and the store probe are deterministic per batch."""

    batches = property(lambda self: self.ledger.batches)
    docs = total_of("docs")
    novel_docs = total_of("novel_docs")
    dup_docs = total_of("dup_docs")
    rejected_docs = total_of("rejected_docs")
    contaminated_docs = total_of("contaminated_docs")

    def __init__(self) -> None:
        self.ledger = BatchLedger()


class StreamingDedupIngest(BoundedReplayMixin):
    """readStream(docs) → gate → sign → LSH vs store → route → merge novel.

    The pre-dedup gates (C4, heuristic quality, learned quality, Gopher
    repetition, DSIR, LM perplexity, decontamination) each compute a
    per-document verdict from a fixed model or eval set, so a batch
    runs them as ONE verdict pass: every enabled gate's scoring chained
    onto the batch, the first failing gate in funnel order (the order
    above) recorded per doc, one checkpoint, one grouped count for the
    census, and each gate's audit rows written from that checkpoint.
    Funnel order is attribution order: a doc failing several gates is
    counted and audited at the first of them only, exactly as a
    sequential funnel would remove it there."""

    _checkpoint_subdir = "dedup"

    def _new_metrics(self) -> DedupMetrics:
        return DedupMetrics()

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        checkpoint_dir: str,
        dupes_dir: str | None = None,
        compact_every: int | None = None,
        quality_threshold: float | None = None,
        rejects_dir: str | None = None,
        quality_model=None,
        quality_model_threshold: float = 0.5,
        model_rejects_dir: str | None = None,
        dsir_model=None,
        dsir_threshold: float | None = None,
        dsir_rejects_dir: str | None = None,
        lm_model=None,
        lm_threshold: float | None = None,
        lm_rejects_dir: str | None = None,
        c4: bool = False,
        c4_min_line_words: int = 5,
        c4_min_sentences: int = 3,
        c4_rejects_dir: str | None = None,
        gopher_rep: bool = False,
        gopher_rep_thresholds: dict | None = None,
        gopher_rep_rejects_dir: str | None = None,
        eval_docs: DataFrame | None = None,
        contam_gram_n: int = 8,
        contam_min_hits: int = 1,
        contam_dir: str | None = None,
    ):
        """The stream carries ``doc_id`` (long) and ``text``.  The id
        type shapes the persisted store schema, so a stream whose
        ``doc_id`` is not a long is rejected at the first micro-batch
        with a clear error instead of corrupting the store (parquet
        would accept the mismatched write and every later read would
        fail with a column-type mismatch).

        ``quality_threshold`` enables the batch curation funnel's
        stage-1 gate AT INGEST (operators/text.quality_score < τ →
        rejected before signing): gated docs never enter the signature
        store, never witness a duplicate, and are optionally persisted
        to ``rejects_dir`` (same ``batch_id=<n>`` replace-on-replay
        contract as ``dupes_dir``).  The gate is map-only JVM
        expressions — it adds no shuffle to the per-batch plan.

        ``quality_model`` (a fitted ``operators/quality`` PipelineModel)
        enables the LEARNED gate at ingest — the GPT-3/CCNet classifier
        tier above the heuristic one: docs with
        P(quality) < ``quality_model_threshold`` are rejected before
        signing, counted into the same ``rejected_docs`` metric, and
        optionally persisted with their probabilities to
        ``model_rejects_dir`` (its own directory — the heuristic gate's
        rejects carry a different schema).  Scoring is map-only JVM
        (tokenize → hash → LR transform; no Python workers), so this
        gate too adds no shuffle.  Funnel order: heuristic first, model
        second, decontamination last.

        ``dsir_model`` (+ required ``dsir_threshold``) enables the
        DISTRIBUTION-MATCHING gate at ingest — the streaming adaptation
        of DSIR (Xie et al. 2023; ``operators/dsir``): each doc's
        hashed-n-gram importance log-weight (how much more likely its
        bag is under the target corpus than under raw crawl) is scored
        by an Arrow-batched map-only pass, and docs with
        ``dsir_logw < dsir_threshold`` are rejected before signing,
        counted into ``rejected_docs``, optionally persisted with their
        weights to ``dsir_rejects_dir`` (same replay contract).  The
        batch operator samples a corpus-level top-k with Gumbel noise;
        at ingest a deterministic weight cut replaces the sample so the
        audit trail is replay-stable — calibrate τ from the weight
        distribution of a held-out slice (e.g. its median for a
        keep-half policy).  Funnel order: after the classifier and
        Gopher gates, before the LM gate.

        ``lm_model`` (+ required ``lm_threshold``) enables the
        PERPLEXITY gate at ingest — the CCNet deployment shape (Wenzek
        et al. 2020 filter web text by LM perplexity under a model fit
        on trusted text): a fitted ``operators/lm`` model
        (``NgramKN``/``BigramKN``, typically ``NgramKN.load``-ed once
        at stream start) scores each batch and docs with
        ``avg_nll > lm_threshold`` are rejected before signing,
        counted into ``rejected_docs``, optionally persisted with
        their scores to ``lm_rejects_dir`` (same replay contract).
        Docs too short for the model's order (``n_ngrams=0``, NULL
        score) PASS — no evidence is not evidence of junk; pair with
        the heuristic gate's length features to cut shorts.  The
        score is a per-id aggregate over the doc's n-grams, joined
        back to the batch NULL-safely; a doc failing an earlier gate
        in the funnel is attributed there, not here.

        The LM gate picks its scorer from the model's size, once, at
        construction.  A model with ``score_broadcast`` (NgramKN) whose
        ``model_rows()`` fit under ``operators/lm.MAX_LOCAL_MODEL_ROWS``
        — the pruned deployed shape — is collected ONCE into the flat
        dict payload (``local_tables_flat``) and shipped as one
        stream-lifetime broadcast variable; each batch then scores
        inside one Arrow pass with ZERO model joins (value-identical
        to ``score()``, pinned in tests/test_ngram_lm.py; it won every
        gate A/B against the broadcast-hinted and sort-merge joins).
        A larger model, or one without the dict tier (BigramKN), scores
        through the relational ``score()``: an unpruned web-scale fit
        degrades to sort-merge joins instead of landing on executor
        heaps.

        ``c4=True`` enables the C4 LINE-LEVEL cleaning stage (Raffel
        et al. 2020 §2.2; ``operators/text.c4_clean``) as the FIRST
        gate — the published pipeline runs line cleaning BELOW the
        doc-level gates; it is pure map-only JVM expressions.  Each
        batch's text is line-cleaned IN PLACE (every later gate,
        signatures, and the store all see the cleaned text — a doc
        deduped on boilerplate-stripped content, which is the C4
        intent), docs flagged unkept (``c4_keep`` false: lorem ipsum,
        code braces, too few sentences after cleaning) are rejected
        and attributed to C4 whatever the other gates say,
        counted into ``rejected_docs``, and optionally persisted with
        their line counts to ``c4_rejects_dir`` (same
        ``batch_id=<n>`` replace-on-replay contract).
        ``c4_min_line_words`` / ``c4_min_sentences`` pass through to
        the operator.

        ``gopher_rep=True`` enables Gopher's published REPETITION
        removal (Rae et al. 2021 table A1's other half;
        ``operators/text.gopher_repetition``): docs whose duplicate-
        line/paragraph fractions, top n-gram character fractions, or
        duplicated n-gram coverage exceed the published bounds are
        rejected before signing, counted into ``rejected_docs``, and
        optionally persisted WITH their 13 metrics to
        ``gopher_rep_rejects_dir`` (same replay contract).  One
        Arrow-batched map-only pass; funnel order: after the heuristic
        and classifier gates, before DSIR.  ``gopher_rep_thresholds``
        overrides individual bounds.

        ``eval_docs`` enables DECONTAMINATION AT INGEST (the streaming
        form of q_decontaminate/q_decontaminate_bloom): a static frame
        of benchmark/eval documents (same ``text`` column) whose word
        ``contam_gram_n``-grams are, once at construction, distinct'd,
        checkpointed, and compiled into a ``BroadcastBloom``.  Each
        micro-batch's grams pass the bloom's pure-JVM bit-test
        prefilter (no false negatives; prunes ~all clean grams before
        any join), then an exact broadcast verify join against the
        eval gram set — so a bloom false positive can NEVER reject a
        clean document.  Docs with ≥ ``contam_min_hits`` distinct eval
        grams are dropped before signing (never enter the store, never
        witness a duplicate) and optionally persisted with their hit
        counts to ``contam_dir`` (same replay contract as
        ``rejects_dir``).  Last in the funnel: a doc that also fails a
        quality gate is attributed there, so ``contaminated_docs``
        counts docs that pass every other gate.  The hit count is a
        per-id aggregate joined back NULL-safely.  Eval sets are
        bounded by construction — the bloom's
        ``MAX_BITS`` guard and the broadcast verify both refuse builds
        past plan-shippable size.

        Signatures are ``HASH_FN`` (xxhash64) MinHash over word
        ``operators/dedup.SHINGLE_K``-shingles (3), banded
        ``operators/dedup.BANDS`` × ``ROWS`` (8 × 4); the store records
        them in ``_signature_params.json`` and refuses a reopen by a
        build whose parameters differ."""
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.dupes_dir = dupes_dir
        self.compact_every = compact_every
        self.quality_threshold = quality_threshold
        self.rejects_dir = rejects_dir
        if quality_model is not None and not hasattr(quality_model, "transform"):
            # eager, config-layer error: a merges-list or a path here
            # would otherwise AttributeError mid-stream at batch 0
            raise TypeError(
                "quality_model must be a fitted Spark ML model (has "
                ".transform) — train one with operators/quality."
                "train_quality_classifier"
            )
        self.quality_model = quality_model
        self.quality_model_threshold = quality_model_threshold
        self.model_rejects_dir = model_rejects_dir
        if lm_model is not None:
            if not hasattr(lm_model, "score"):
                raise TypeError(
                    "lm_model must be a fitted operators/lm model (has "
                    ".score) — fit with NgramKN.fit or reopen with "
                    "NgramKN.load"
                )
            if lm_threshold is None:
                # an LM gate with no threshold silently rejects nothing
                # — demand the deployment choose its cut
                raise ValueError(
                    "lm_model requires lm_threshold (the avg_nll cut; "
                    "calibrate on a held-out slice of the trusted corpus)"
                )
        self.lm_model = lm_model
        self.lm_threshold = lm_threshold
        self.lm_rejects_dir = lm_rejects_dir
        # the dict scorer's payload, collected and broadcast ONCE here
        # (one-time table counts decide it): every micro-batch reuses
        # the same broadcast variable for the stream's whole life
        self._lm_local = None
        if lm_model is not None and hasattr(lm_model, "score_broadcast"):
            from consume_kafka_avro_data_spark.operators.lm import (
                MAX_LOCAL_MODEL_ROWS,
            )

            if lm_model.model_rows() <= MAX_LOCAL_MODEL_ROWS:
                self._lm_local = spark.sparkContext.broadcast(
                    lm_model.local_tables_flat(MAX_LOCAL_MODEL_ROWS)
                )
        self.c4 = c4
        self.c4_min_line_words = c4_min_line_words
        self.c4_min_sentences = c4_min_sentences
        self.c4_rejects_dir = c4_rejects_dir
        if gopher_rep_thresholds is not None:
            unknown = set(gopher_rep_thresholds) - set(
                GOPHER_REP_THRESHOLDS
            )
            if unknown:
                # config-layer error, not a batch-0 crash
                raise ValueError(
                    f"unknown gopher_rep threshold keys: {sorted(unknown)}"
                )
        self.gopher_rep = gopher_rep
        self.gopher_rep_thresholds = gopher_rep_thresholds
        self.gopher_rep_rejects_dir = gopher_rep_rejects_dir
        if dsir_model is not None:
            if not hasattr(dsir_model, "log_ratio"):
                raise TypeError(
                    "dsir_model must be a fitted operators/dsir DsirModel "
                    "(has .log_ratio) — fit with dsir_fit"
                )
            if dsir_threshold is None:
                # a DSIR gate with no threshold silently rejects nothing
                # — demand the deployment choose its cut
                raise ValueError(
                    "dsir_model requires dsir_threshold (the log-weight "
                    "cut; calibrate on a held-out slice's weight "
                    "distribution)"
                )
        self.dsir_model = dsir_model
        self.dsir_threshold = dsir_threshold
        self.dsir_rejects_dir = dsir_rejects_dir
        self.contam_gram_n = contam_gram_n
        self.contam_min_hits = contam_min_hits
        self.contam_dir = contam_dir
        self._eval_grams: DataFrame | None = None
        self._bloom = None
        if eval_docs is not None:
            # one-time: distinct eval grams, checkpointed (probed every
            # batch — recomputing the explode per batch would rescan the
            # eval corpus), then the bloom compiled from them.  Bounded:
            # eval sets are fixed and small relative to the stream, and
            # BroadcastBloom.build enforces MAX_BITS.
            self._eval_grams = (
                exploded_word_grams(
                    eval_docs.select(F.col(TEXT_COL).alias("text")),
                    n=contam_gram_n,
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
            self._bloom = BroadcastBloom.build(self._eval_grams, "g")
        self.store = ManifestTable(
            spark,
            os.path.join(store_dir, "signatures"),
            StructType(
                [
                    StructField("_id", LongType(), True),
                    StructField("_sim", ArrayType(LongType(), True), True),
                ]
            ),
            keys=["_id"],
        )
        # persist the signature hyperparameters beside the store and
        # validate on reopen: the id type guard protects the schema,
        # but a store built with different bands/rows/shingle_k/hash_fn
        # (by another build) would have its band keys and zip_with
        # agreements recomputed against arrays shaped by the OLD
        # parameters — near-dups of stored docs silently stop matching
        # and merge as novel, permanently un-deduping the corpus with
        # no signal
        pf = os.path.join(store_dir, "_signature_params.json")
        io = self.store._io
        if io.is_file(pf):
            stored = json.loads(io.read_bytes(pf))
            if stored != SIGNATURE_PARAMS:
                raise ValueError(
                    f"signature store at {store_dir!r} was built with "
                    f"{stored}, but this ingest signs with "
                    f"{SIGNATURE_PARAMS}; matching across mismatched "
                    "signature parameters silently finds nothing — open "
                    "it with the build that made it or rebuild the store"
                )
        else:
            io.mkdirs(store_dir)
            io.write_atomic(pf, json.dumps(SIGNATURE_PARAMS).encode())
        self.metrics = self._new_metrics()

    def gate_census(self) -> dict:
        """Aggregated per-gate census, in funnel order: ``{gate:
        {docs_in, docs_rejected, batches}}`` — what a deployment tuning
        the gate family reads: which gate rejects what share of its
        input.  The gates share one verdict pass, so its wall time is
        reported once, as the leading ``gate_pass`` entry ``{sec,
        batches}``; the ``dedup`` row carries its own ``sec`` plus
        ``sub`` — summed sig/probe/merge splits (signature computation,
        store band-join probe + dup-map build, novel merge write) — so
        the census names the wall-clock floor and its dominant
        component.  Sums the replay-consistent per-batch records
        (``DedupMetrics``); disabled gates simply never appear."""
        total = self.metrics.ledger.total()
        out = {"gate_pass": total["gate_pass"]} if "gate_pass" in total else {}
        out.update(total.get("census", {}))
        return _rounded(out)

    # -- building blocks -----------------------------------------------------

    def _by_id(self, docs: DataFrame, scores: DataFrame) -> DataFrame:
        """``docs`` with a per-id score frame's columns attached by a
        NULL-SAFE left join on the id column — merge_new's NULLS NOT
        DISTINCT policy, applied at the gates: a NULL-id document must
        get its group's score (plain EqualTo never matches NULL, so a
        contaminated NULL-id doc would pass, be signed and merged).  A
        doc with no score row gets NULL scores, which no gate rejects."""
        s = scores.withColumnRenamed(ID_COL, "_score_id")
        return docs.join(
            s, F.col(ID_COL).eqNullSafe(F.col("_score_id")), "left"
        ).drop("_score_id")

    def _banded(self, sigs: DataFrame) -> DataFrame:
        """(_id, _sim, _block) — band keys recomputed from signatures
        (codegen'd hashes over array slices; cheap relative to the
        signature pass, and what lets the store persist signatures
        only)."""
        _, bh = _minhash_agg_components(HASH_FN, "_sim")
        return sigs.select("_id", "_sim", F.explode(bh).alias("_block"))

    def _matches(self, probe: DataFrame, target: DataFrame) -> DataFrame:
        """(dup_id, match_id, matches) for probe docs whose signature
        agrees with a target doc on ≥ ``MIN_MATCHES`` components, meeting
        only through band-bucket collisions.  Self-pairs (same id) are
        excluded — on a post-crash replay the batch's own already-
        stored signatures must not count as duplicates.  Hot target
        buckets (> ``MAX_BUCKET_SIZE`` members) are dropped, same contract
        as _bucket_candidate_pairs."""
        p = probe.select(
            F.col("_id").alias("dup_id"),
            F.col("_sim").alias("_sa"),
            "_block",
        )
        t = target.select(
            F.col("_id").alias("match_id"),
            F.col("_sim").alias("_sb"),
            "_block",
        )
        # hot-bucket guard as a WINDOW count over the same _block
        # partitioning the candidate join needs anyway (r12, guide
        # §2.4): the previous census subtree (groupBy _block + anti
        # join) planned its own aggregate exchange + join per probe;
        # the window count rides one _block exchange that the join
        # reuses.  Value-identical (same buckets dropped; _block is a
        # hash, never NULL) — routing bit-identical on the bench stream
        # and probe sub-stage ~12-19% faster in both interleaved A/B
        # rounds (27.9->22.6 s, 20.1->17.5 s on 16x1-file batches).
        from pyspark.sql import Window as _W

        t = (
            t.withColumn(
                "_bn", F.count(F.lit(1)).over(_W.partitionBy("_block"))
            )
            .where(F.col("_bn") <= _dedup.MAX_BUCKET_SIZE)
            .drop("_bn")
        )
        cand = (
            p.join(t, "_block")
            # NULL-SAFE self-exclusion: a plain != is NULL for any pair
            # involving a NULL id, which would silently drop (NULL, x)
            # candidates — NULL ids survive PERMISSIVE decode and the
            # store treats them as one identity (NULLS NOT DISTINCT),
            # so NULL-vs-NULL is correctly a self-pair here too
            .where(~F.col("dup_id").eqNullSafe(F.col("match_id")))
        )
        return (
            # agreement computed BEFORE the pair collapse, then ONE
            # narrow-key aggregate (MAX over collision instances).  In
            # this pipeline every (pair)'s instances carry identical
            # signatures — minhash_sig_table collapses same-id docs to
            # one row — so MAX aggregates equal values; it is still the
            # right fold because it stays deterministic AND monotone if
            # a future caller ever feeds non-collapsed inputs, and it
            # keeps the exchange keyed on ids, not signature arrays
            # (measured ~9% of batch time when arrays were the dedup
            # key).  The zip_with re-runs per band collision: 32
            # codegen'd comparisons, noise by comparison.
            cand.select(
                "dup_id",
                "match_id",
                agreement(F.col("_sa"), F.col("_sb")).alias("matches"),
            )
            .groupBy("dup_id", "match_id")
            .agg(F.max("matches").alias("matches"))
            .where(F.col("matches") >= MIN_MATCHES)
        )

    def _lm_scored(self, batch: DataFrame) -> DataFrame:
        """The LM gate's per-batch scoring frame — split out so tests
        can pin its PLAN: with the dict payload collected at
        construction the plan has ZERO model joins (one Arrow pass
        plus the per-doc aggregate); otherwise it is the relational
        ``score()``."""
        docs = batch.select(ID_COL, TEXT_COL)
        if self._lm_local is not None:
            return self.lm_model.score_broadcast(
                docs,
                text_col=TEXT_COL,
                id_col=ID_COL,
                _local=self._lm_local,
            )
        return self.lm_model.score(
            docs, text_col=TEXT_COL, id_col=ID_COL
        )

    def _verdicts(self, batch: DataFrame) -> tuple[DataFrame | None, list]:
        """The batch's ONE verdict frame — the stream's columns (with
        C4's text), every enabled gate's audit columns, and ``_gate``,
        the FIRST failing gate in funnel order (NULL: the doc passes
        every gate) — plus the gates in funnel order as ``(name, audit
        columns, rejects dir)``; ``(None, [])`` with every gate off.
        Each verdict is a per-document function of the C4-cleaned text
        given a fixed model or eval set, so the first failing gate over
        all docs is exactly the gate a sequential funnel would have
        removed the doc at.

        C4 rewrites ``text`` for every later gate (and for the
        signatures); the row gates append their scores in place; the
        LM and decontamination scores are per-id aggregates, joined
        back NULL-safely.  Those two branch from the C4-cleaned frame,
        not from the scored one: a branch below the Arrow passes
        (Gopher, DSIR) would run them a second time."""
        idc, txt = ID_COL, TEXT_COL
        stream_cols = batch.columns
        gates: list = []  # (name, reject, audit columns, rejects dir)
        if self.c4:
            clash = {"n_lines", "n_lines_kept", "c4_keep"} & set(batch.columns)
            if clash:
                # c4_clean appends these columns; duplicated names
                # would make every later reference ambiguous
                raise ValueError(
                    f"c4 gate needs columns {sorted(clash)} free, but "
                    "the stream already carries them"
                )
            batch = c4_clean(
                batch,
                text_col=txt,
                min_line_words=self.c4_min_line_words,
                min_sentences=self.c4_min_sentences,
            )
            gates.append(
                ("c4", ~F.col("c4_keep"), ["n_lines", "n_lines_kept"],
                 self.c4_rejects_dir)
            )
        cleaned, scored = batch, batch
        if self.quality_threshold is not None:
            scored = quality_score(scored, txt).select(*scored.columns, "quality")
            gates.append(
                ("quality", F.col("quality") < self.quality_threshold,
                 ["quality"], self.rejects_dir)
            )
        if self.quality_model is not None:
            from consume_kafka_avro_data_spark.operators.quality import (
                quality_probability,
            )

            scored = quality_probability(self.quality_model, scored, txt)
            gates.append(
                ("quality_model",
                 F.col("quality_prob") < self.quality_model_threshold,
                 ["quality_prob"], self.model_rejects_dir)
            )
        if self.gopher_rep:
            scored = gopher_repetition(
                scored, text_col=txt, thresholds=self.gopher_rep_thresholds
            )
            # audit rows carry every metric: a rejection explains itself
            gates.append(
                ("gopher_rep", ~F.col("gopher_rep_keep"),
                 list(GOPHER_REP_THRESHOLDS), self.gopher_rep_rejects_dir)
            )
        if self.dsir_model is not None:
            from consume_kafka_avro_data_spark.operators.dsir import (
                dsir_log_weights,
            )

            scored = dsir_log_weights(self.dsir_model, scored, txt)
            gates.append(
                ("dsir", F.col("dsir_logw") < self.dsir_threshold,
                 ["dsir_logw"], self.dsir_rejects_dir)
            )
        if self.lm_model is not None:
            lm = self._lm_scored(cleaned)
            # evidence-count column name differs per model generation
            # (NgramKN: n_ngrams; BigramKN: n_bigrams) — normalize so
            # the audit trail has ONE schema either way
            count_col = "n_ngrams" if "n_ngrams" in lm.columns else "n_bigrams"
            scored = self._by_id(
                scored, lm.select(idc, F.col(count_col).alias("n_ngrams"), "avg_nll")
            )
            # avg_nll NULL (doc shorter than the model order) never
            # exceeds the threshold, so shorts pass
            gates.append(
                ("lm", F.col("avg_nll") > self.lm_threshold,
                 ["n_ngrams", "avg_nll"], self.lm_rejects_dir)
            )
        if self._eval_grams is not None:
            grams = exploded_word_grams(
                cleaned.select(idc, F.col(txt).alias("text")),
                idc,
                n=self.contam_gram_n,
            )
            # bloom prefilter = pure-JVM bit tests in the scan stage
            # (prunes ~all clean grams); the exact broadcast verify join
            # makes the decision FP-free, same two-phase shape as
            # q_decontaminate_bloom.  prefilter (not bare might_contain):
            # ``g`` is a derived column, and the fence keeps the probe
            # predicate's 4k gram references from each re-building it
            # (operators/bloom r11)
            hits = (
                self._bloom.prefilter(grams, "g")
                # broadcast justified: bounded eval gram set (see
                # __init__ — MAX_BITS-guarded, checkpointed once)
                .join(F.broadcast(self._eval_grams), "g")
                .groupBy(idc)
                .agg(F.count_distinct("g").alias("eval_gram_hits"))
            )
            scored = self._by_id(scored, hits)
            gates.append(
                ("decontaminate", F.col("eval_gram_hits") >= self.contam_min_hits,
                 ["eval_gram_hits"], self.contam_dir)
            )
        if not gates:
            return None, []
        audit = list(dict.fromkeys(c for _, _, cols, _ in gates for c in cols))
        clash = ({"_gate", *audit} - {idc}) & set(stream_cols)
        if clash:
            raise ValueError(
                f"the gates need columns {sorted(clash)} free, but the "
                "stream already carries them"
            )
        first_failing = F.coalesce(*[F.when(r, F.lit(g)) for g, r, _, _ in gates])
        return (
            scored.select(*stream_cols, *audit, first_failing.alias("_gate")),
            [(g, cols, out_dir) for g, _, cols, out_dir in gates],
        )

    # -- per-micro-batch body ------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        got = batch.schema[ID_COL].dataType
        if got != LongType():
            raise TypeError(
                f"{ID_COL!r} is {got.simpleString()} but the signature "
                "store keys are bigint; cast the stream's ids to long"
            )
        replayed = self.metrics.ledger.admit(batch_id)
        idc = ID_COL
        held: list[DataFrame] = []  # checkpoints, released when the batch ends
        try:
            t0 = time.perf_counter()
            verdicts, gates = self._verdicts(batch)
            counts: dict = {}
            if verdicts is not None:
                # ONE checkpoint and ONE grouped count per batch; every
                # audit trail and the survivors read the checkpoint
                verdicts = verdicts.localCheckpoint(eager=True)
                held.append(verdicts)
                counts = {
                    r["_gate"]: r["count"]
                    for r in verdicts.groupBy("_gate").count().collect()
                }
                for g, cols, out_dir in gates:
                    if counts.get(g):  # no write job for an empty trail
                        self._write_audit(
                            verdicts.where(F.col("_gate") == g).select(idc, *cols),
                            out_dir,
                            batch_id,
                        )
                batch = verdicts.where(F.col("_gate").isNull()).select(
                    *batch.columns
                )
            gated = [(g, counts.get(g, 0)) for g, _, _ in gates]
            # decontamination counts into contaminated_docs, every other
            # gate into rejected_docs
            n_contam = counts.get("decontaminate", 0)
            n_rejected = sum(n for _, n in gated) - n_contam
            t_pass = time.perf_counter()
            # sub-stage timers (round 11): the census showed the dedup
            # stage is ~48% of six-gate wall time — these split it into
            # signature computation / store band-join probe / merge_new
            # write so the next optimization aims at the real component
            # signed once; used by 3 consumers
            sigs = minhash_sig_table(batch, HASH_FN).localCheckpoint(eager=True)
            held.append(sigs)
            t_sig = time.perf_counter()
            banded = self._banded(sigs)
            # REPLAY DETERMINISM: probe the store MINUS this batch's own
            # ids.  After a post-merge crash the store already holds the
            # batch's novel docs; beyond the self-pair exclusion in
            # _matches, their presence could push a band bucket past
            # MAX_BUCKET_SIZE on the retry, silently dropping matches
            # the first attempt found (a previously-detected duplicate
            # would re-route as novel and merge — permanent un-dedup).
            # Excluding the batch's ids restores the exact store view
            # the first attempt probed.  Null-safe, as everywhere ids
            # are compared; the anti side is batch-sized (broadcastable).
            bids = sigs.select(F.col("_id").alias("_bid"))
            store_df = self.store.read()
            store_rows = store_df.join(
                bids,
                on=F.col("_id").eqNullSafe(F.col("_bid")),
                how="left_anti",
            )
            n_docs = sigs.count()  # checkpointed; shared with metrics
            vs_store = self._matches(banded, self._banded(store_rows))
            # intra-batch canonical rule: a doc whose id is ALREADY
            # STORED is canonical regardless of id order (the exclusion
            # above removed its store copy from the probe target, so a
            # re-delivered stored doc must still win against a new
            # same-batch near-dup with a smaller id); between two
            # unstored (or two stored) docs the earlier id is
            # canonical, so the batch's first copy of a new document
            # stays novel and becomes the stored canonical
            # LAZY, referenced twice (dup-side and match-side flag
            # joins): the two subtree evaluations are parquet
            # _id-column scans inside the one dup_map job — measured
            # ~2% of batch time, while an eager checkpoint + emptiness
            # probe here costs two extra scheduled jobs per micro-batch
            # (~13% — the cure was worse than the disease)
            redelivered = store_df.select("_id").join(
                bids,
                on=F.col("_id").eqNullSafe(F.col("_bid")),
                how="left_semi",
            )
            # NULL-as-earliest id order: a plain > is NULL (→ dropped)
            # for any NULL-id pair, and the store collapses NULL ids to
            # one identity, so the NULL-id doc is the stored canonical
            # and a non-null near-dup must route as its dup
            d_id, m_id = F.col("dup_id"), F.col("match_id")
            later = (m_id.isNull() & d_id.isNotNull()) | (
                d_id.isNotNull() & m_id.isNotNull() & (d_id > m_id)
            )
            rd_d = redelivered.select(
                F.col("_id").alias("_d_id"), F.lit(True).alias("_ds")
            )
            rd_m = redelivered.select(
                F.col("_id").alias("_m_id"), F.lit(True).alias("_ms")
            )
            vb = (
                self._matches(banded, banded)
                .join(
                    rd_d,
                    on=F.col("dup_id").eqNullSafe(F.col("_d_id")),
                    how="left",
                )
                .join(
                    rd_m,
                    on=F.col("match_id").eqNullSafe(F.col("_m_id")),
                    how="left",
                )
            )
            ds = F.coalesce(F.col("_ds"), F.lit(False))
            ms = F.coalesce(F.col("_ms"), F.lit(False))
            vs_batch = vb.where(
                (ms & ~ds) | ((ds == ms) & later)
            ).select("dup_id", "match_id", "matches")
            # checkpointed like sigs: dup_map has up to three consumers
            # (dupes write, count, the novel anti-join feeding
            # merge_new) — uncached, each would re-run the store scan +
            # both LSH band joins, tripling the dominant per-batch cost.
            # ONE deterministic min over (notnull, match_id, matches):
            # the dupes_dir contract is that a replayed batch rewrites
            # IDENTICAL rows, so the witness choice must be
            # deterministic — and a bare MIN(match_id)/min_by both
            # NULL-SKIP, which would lose the NULL canonical's witness
            # row (and its agreement count) entirely; the notnull flag
            # sorts the NULL identity first, matching the
            # NULL-as-earliest order above.  In an intra-batch chain
            # (a<b<c, c matching only b) the recorded match_id is a
            # witness, not necessarily the stored canonical.
            dup_map = (
                vs_store.unionByName(vs_batch)
                .groupBy("dup_id")
                .agg(
                    F.min(
                        F.struct(
                            m_id.isNotNull().alias("_nn"),
                            m_id.alias("match_id"),
                            F.col("matches").alias("matches"),
                        )
                    ).alias("_w")
                )
                .select(
                    "dup_id",
                    F.col("_w.match_id").alias("match_id"),
                    F.col("_w.matches").alias("matches"),
                )
                .localCheckpoint(eager=True)
            )
            held.append(dup_map)
            n_dupes = dup_map.count()
            if n_dupes:  # the dup routing stays queryable state
                self._write_audit(dup_map, self.dupes_dir, batch_id)
            t_probe = time.perf_counter()
            # NULL-SAFE novel split: a USING-column left_anti never
            # matches NULL, so a NULL-id doc routed dup would stay in
            # `novel` and merge anyway — the one id comparison on this
            # path that wasn't null-safe
            novel = sigs.join(
                dup_map.select(F.col("dup_id").alias("_did")),
                on=F.col("_id").eqNullSafe(F.col("_did")),
                how="left_anti",
            )
            self.store.merge_new(novel)
            t_merge = time.perf_counter()
            # per-gate census, docs_in chained down the funnel: a gate's
            # input is its predecessor's input minus what the
            # predecessor rejected (every doc a gate removes is
            # attributed to its FIRST failing gate), so the dedup
            # stage's input is the gate survivors
            census: dict = {}
            docs_in = n_docs + n_rejected + n_contam
            for g, n in gated:
                census[g] = {"docs_in": docs_in, "docs_rejected": n, "batches": 1}
                docs_in -= n
            census["dedup"] = {
                "docs_in": n_docs,
                "docs_rejected": n_dupes,
                "batches": 1,
                "sec": round(t_merge - t_pass, 4),
                "sub": {
                    "sig": round(t_sig - t_pass, 4),
                    "probe": round(t_probe - t_sig, 4),
                    "merge": round(t_merge - t_probe, 4),
                },
            }
            rec = {
                "docs": n_docs + n_rejected + n_contam,
                "novel_docs": n_docs - n_dupes,
                "dup_docs": n_dupes,
                "rejected_docs": n_rejected,
                "contaminated_docs": n_contam,
                "census": census,
            }
            if gates:
                rec["gate_pass"] = {"sec": round(t_pass - t0, 4), "batches": 1}
            self.metrics.ledger.record(batch_id, rec)
            self._compact_if_due(replayed)
        finally:
            # localCheckpoint blocks are freed with the DataFrame; make
            # the lineage cuts explicit about their lifetimes anyway —
            # a long-running processingTime stream must not accumulate
            # superseded batches' blocks until driver GC gets around to it
            for df in held:
                df.unpersist()


def _rounded(d: dict) -> dict:
    """``d`` with every number rounded to 4 places, nested dicts too."""
    return {
        k: _rounded(v) if isinstance(v, dict) else round(v, 4)
        for k, v in d.items()
    }
