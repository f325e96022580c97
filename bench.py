"""Benchmark harness — run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced end-to-end with a ``noop``-format write (full
compute, no driver-side collect) after a session warm-up job, so timings
measure the query, not JVM/codegen startup.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from consume_kafka_avro_data_spark.registry import all_queries
from consume_kafka_avro_data_spark.session import get_session

HEADLINE = [
    "q_groupby_agg",
    "q_edge_join",
    "q_fk_lookup_join",
    "q_window_rank",
    "q_window_running",
    "q_topk_global",
    "q_count_distinct",
    "q_rollup",
    "q_tumbling_window",
    "q_session_like",
    "q_dedup_exact",
    "q_doc_fingerprint",
    "q_text_tokens",
    "q_filter_predicates",
    "q_similarity_topk",
    "q_doc_chunks",
    "q_train_split",
    "q_asof_join",
    "q_sessionize",
    "q_scd2",
    "q_feature_scale",
    "q_minhash_est_fast",
    "q_transition_matrix",
    "q_salted_agg",
    "q_range_frame",
    "q_winnow_fingerprints",
    "q_interval_count_binned",
    "q_interval_histogram",
    "q_similarity_ann",
    "q_similarity_ivf",
    "q_embedding_neardup",
    "q_neardup_lsh",
    "q_dedup_clusters",
    "q_pagerank",
    "q_wav_features",
    "q_multimodal_features",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "q_returned_items",
    "q_pq_adc",
    "q_trade_triangles",
    "q_semantic_dedup",
    "q_curation_pipeline",
    "q_decontaminate",
    "q_decontaminate_bloom",
    "q_dup_spans",
    "q_udaf_wavg",
    "q_min_cost_supplier",
    "q_token_budget_mix",
    "q_corpus_drift",
]


def interleaved_best(arms: dict, rate, runs: int = 2) -> dict:
    """Round-9 sampling discipline for A/B rate rows: run each arm once
    per ROUND with the rounds interleaved (a drifting box then degrades
    every arm equally instead of whichever arm ran last), keep each
    arm's best run by ``rate``, and attach the raw per-round rates as
    ``samples`` — so a cross-round comparison sees the spread on
    record instead of re-litigating variance (the r07/r08 lesson,
    extended from the headline queries and lm_gate AB to every rate
    that feeds a round-over-round claim)."""
    sampled: dict[str, list] = {name: [] for name in arms}
    for _ in range(runs):
        for name, fn in arms.items():
            sampled[name].append(fn())
    out = {}
    for name, rs in sampled.items():
        best = max(rs, key=rate)
        out[name] = {**best, "samples": [round(rate(r), 1) for r in rs]}
    return out


def spo_ingest_throughput(spark, sf_dir: str) -> dict:
    """End-to-end analogue of the reference's hot path (consume → decode
    → transform → dedup-upsert into the graph): events → SPO triples →
    idempotent vertex/edge materialization.  The reference peaks at
    ~770 msg/s single-threaded (BASELINE.md); this measures our rows/s
    on the same logical pipeline at bench scale."""
    from consume_kafka_avro_data_spark.operators.graph import GraphStore, triples_from
    from consume_kafka_avro_data_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    n_rows = events.count()  # outside the timed region
    # best-of-2, same policy as the headline queries: a single shot
    # swung 65k→45k rows/s between otherwise-identical runs (GC/page
    # cache), which reads as a phantom regression in round-over-round
    # comparisons
    best = float("inf")
    nv = ne = 0
    for _ in range(2):
        tmp = tempfile.mkdtemp(prefix="spo_bench_")
        try:
            t0 = time.perf_counter()
            triples = triples_from(events, "user_id", "event_type", "props")
            nv, ne = GraphStore(spark, tmp).ingest_triples(
                triples, created_at="2024-01-01"
            )
            best = min(best, time.perf_counter() - t0)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return {
        "rows": n_rows,
        "sec": round(best, 4),
        "rows_per_sec": round(n_rows / best, 1),
        "new_vertices": nv,
        "new_edges": ne,
    }


def streaming_ingest_throughput(spark, sf_dir: str) -> dict:
    """The reference's ACTUAL loop, streaming end-to-end: Confluent-Avro
    frames on a (stand-in) topic → Structured Streaming availableNow
    replay → decode → DLQ split → idempotent graph merge, checkpointed.
    Topic materialization happens OUTSIDE the timed region; the timer
    covers exactly what the reference's consume→decode→sink loop does
    at ~770 msg/s single-threaded.

    Sweeps the two backpressure knobs — files-per-trigger (the stand-
    in's maxOffsetsPerTrigger) × topic size — because micro-batch COUNT,
    not row count, dominates cost: each batch pays fixed scheduler +
    checkpoint + merge-job overhead, so bigger triggers amortize it.
    The headline rows_per_sec is the best config; the full sweep rides
    along so the trade-off is visible in BENCH history."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.config import parse_config
    from consume_kafka_avro_data_spark.operators.graph import GraphStore
    from consume_kafka_avro_data_spark.sources.avro_codec import to_confluent_avro
    from consume_kafka_avro_data_spark.sources.kafka import FileStreamStandIn
    from consume_kafka_avro_data_spark.streaming.ingest import StreamingGraphIngest
    from consume_kafka_avro_data_spark.tables import load_table

    doc = {
        "kafka": {},
        "type_map": {"spo": {"key_column": "subject", "columns": ["S", "P", "O"]}},
        "column_map": {"S": "subject", "P": "predicate", "O": "object"},
    }
    sc = parse_config(doc).schema_for("spo")
    n_topic_files = 16

    def one_run(tmp: str, n_rows: int, files_per_trigger: int) -> dict:
        rows = (
            load_table(spark, sf_dir, "events")
            .limit(n_rows)
            .select(
                F.col("user_id").cast("string").alias("S"),
                F.col("event_type").alias("P"),
                F.col("props").alias("O"),
            )
        )
        # topic written as n_topic_files parquet files so files-per-
        # trigger actually controls micro-batch count (1 → 16 batches,
        # 16 → one batch)
        framed = (
            to_confluent_avro(rows, sc, schema_id=2)
            .select(
                F.col("key").cast("binary").alias("key"),
                "value",
                F.lit("spo").alias("topic"),
                F.lit(0).cast("int").alias("partition"),
                F.monotonically_increasing_id().alias("offset"),
            )
            .repartition(n_topic_files)
        )
        topic = FileStreamStandIn(spark, os.path.join(tmp, "topic"))
        topic.write_batch(framed)

        store = GraphStore(spark, os.path.join(tmp, "graph"))
        ingest = StreamingGraphIngest(
            spark,
            store,
            sc,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            expected_schema_id=2,
            created_at="2024-01-01",
        )
        t0 = time.perf_counter()
        metrics = ingest.run_to_completion(
            topic.read_stream(max_files_per_trigger=files_per_trigger)
        )
        dt = time.perf_counter() - t0
        return {
            "rows": metrics.valid_rows,
            "files_per_trigger": files_per_trigger,
            "sec": round(dt, 4),
            "rows_per_sec": round(metrics.valid_rows / dt, 1),
            "batches": metrics.batches,
            "new_vertices": metrics.new_vertices,
            "new_edges": metrics.new_edges,
        }

    sweep: list[dict] = []
    for n_rows, fpt in ((20000, 1), (20000, 4), (20000, 16), (50000, 16)):
        tmp = tempfile.mkdtemp(prefix="stream_bench_")
        try:
            sweep.append(one_run(tmp, n_rows, fpt))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    best = max(sweep, key=lambda r: r["rows_per_sec"])
    # record WHICH decode path this number measures: the pandas codec in
    # jar-less sandboxes, the pure-JVM from_avro path when spark-avro is
    # on the classpath (from_confluent_avro auto-probes)
    from consume_kafka_avro_data_spark.sources.avro_codec import (
        native_avro_available,
    )

    codec = "native" if native_avro_available(spark) else "pandas"
    return {**best, "codec": codec, "sweep": sweep}


def streaming_dedup_bench(spark, sf_dir: str) -> dict:
    """Dedup-at-ingest throughput (streaming/dedup.StreamingDedupIngest,
    round 3's flagship streaming operator): documents arrive as a
    parquet-file stream, each micro-batch is MinHash-signed, LSH-matched
    against the persistent signature store, and novel signatures merge
    in.  Two knobs measured:

    * files-per-trigger sweep — like streaming_ingest_throughput, batch
      COUNT dominates (fixed store-scan + band-join + merge cost per
      batch), so bigger triggers amortize;
    * with/without-compaction pair at many small batches — append-per-
      batch grows the store's FILE count linearly, so late batches pay
      ever-more parquet opens on the store scan; ``compact_every``
      rewrites the store to a few files and keeps per-batch probe cost
      flat.  Reported: store file count at end + mean wall time of the
      first vs last 8 batches for each arm."""
    from consume_kafka_avro_data_spark.streaming.dedup import StreamingDedupIngest
    from consume_kafka_avro_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()

    def one_run(
        n_files: int,
        fpt: int,
        compact_every: int | None,
    ) -> dict:
        tmp = tempfile.mkdtemp(prefix="sdedup_bench_")
        try:
            topic = os.path.join(tmp, "docs")
            docs.repartition(n_files).write.parquet(topic)
            ingest = StreamingDedupIngest(
                spark,
                store_dir=os.path.join(tmp, "store"),
                checkpoint_dir=os.path.join(tmp, "ckpt"),
                compact_every=compact_every,
            )
            batch_secs: list[float] = []
            inner = ingest.process_batch

            def timed(batch, batch_id):
                t0 = time.perf_counter()
                inner(batch, batch_id)
                batch_secs.append(time.perf_counter() - t0)

            ingest.process_batch = timed  # instance attr shadows the method
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", fpt)
                .parquet(topic)
            )
            t0 = time.perf_counter()
            m = ingest.run_to_completion(stream)
            dt = time.perf_counter() - t0
            head = batch_secs[:8]
            tail = batch_secs[-8:]
            return {
                "docs": m.docs,
                "novel": m.novel_docs,
                "dupes": m.dup_docs,
                "n_files": n_files,
                "files_per_trigger": fpt,
                "compact_every": compact_every,
                "batches": m.batches,
                "sec": round(dt, 4),
                "docs_per_sec": round(m.docs / dt, 1),
                "store_files": len(ingest.store.files()),
                "first8_batch_sec": round(sum(head) / max(len(head), 1), 4),
                "last8_batch_sec": round(sum(tail) / max(len(tail), 1), 4),
                # round-11 census sub splits: sig / store-probe / merge
                # slices of the dedup stage, summed over the run
                "sub": ingest.gate_census().get("dedup", {}).get("sub"),
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    sweep = [one_run(16, fpt, None) for fpt in (4, 16)]
    # compaction A/B: interleaved best-of-2 with samples, like every
    # other cross-round A/B rate row (round 9 — see interleaved_best)
    compaction_ab = interleaved_best(
        {
            "off": lambda: one_run(32, 1, None),
            "on": lambda: one_run(32, 1, 8),
        },
        rate=lambda r: r["docs_per_sec"],
    )
    no_compact = compaction_ab["off"]
    sweep.append(no_compact)
    # headline comes from the compaction-OFF sweep only, and carries
    # compact_every explicitly — a compaction-assisted number must
    # never masquerade as the plain ingest configuration
    best = max(sweep, key=lambda r: r["docs_per_sec"])
    # best-of-2 on the WINNING config only (same policy as the SPO
    # row): single-shot sweep arms swung the round-over-round headline
    # by ~20% from GC/page-cache effects while the sweep SHAPE stayed
    # stable — one retry of the winner suppresses the phantom swing
    # without doubling the whole sweep's cost
    retry = one_run(
        best["n_files"], best["files_per_trigger"], best["compact_every"]
    )
    if retry["docs_per_sec"] > best["docs_per_sec"]:
        best = retry
    return {
        **{k: best[k] for k in (
            "docs", "novel", "dupes", "files_per_trigger",
            "compact_every", "batches", "sec", "docs_per_sec",
        )},
        "n_docs": n_docs,
        "sweep": sweep,
        "compaction_ab": compaction_ab,
    }


def ingest_compaction_ab_bench(spark, sf_dir: str) -> dict:
    """Round-6 knob parity: ``compact_every`` exists on both
    file-growing ingests.  The dedup ingest's A/B lives in
    streaming_dedup_bench; this measures the graph ingest with the same
    design: many 1-file micro-batches (the worst-case small-file
    regime), compaction OFF vs ON, reporting end-of-stream file counts,
    head-vs-tail per-batch wall (does per-batch cost grow as files
    accumulate?), and the POST-ingest read cost the file growth
    actually taxes (a store scan)."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.config import parse_config
    from consume_kafka_avro_data_spark.operators.graph import GraphStore
    from consume_kafka_avro_data_spark.sources.avro_codec import to_confluent_avro
    from consume_kafka_avro_data_spark.sources.kafka import FileStreamStandIn
    from consume_kafka_avro_data_spark.streaming.ingest import StreamingGraphIngest
    from consume_kafka_avro_data_spark.tables import load_table

    def timed_batches(ingest):
        secs: list[float] = []
        inner = ingest.process_batch

        def timed(batch, batch_id):
            t0 = time.perf_counter()
            inner(batch, batch_id)
            secs.append(time.perf_counter() - t0)

        ingest.process_batch = timed  # instance attr shadows the method
        return secs

    def head_tail(secs):
        head, tail = secs[:8], secs[-8:]
        return (
            round(sum(head) / max(len(head), 1), 4),
            round(sum(tail) / max(len(tail), 1), 4),
        )

    # -- graph arm ------------------------------------------------------
    doc = {
        "kafka": {},
        "type_map": {"spo": {"key_column": "subject", "columns": ["S", "P", "O"]}},
        "column_map": {"S": "subject", "P": "predicate", "O": "object"},
    }
    sc = parse_config(doc).schema_for("spo")

    def graph_run(compact_every: int | None) -> dict:
        tmp = tempfile.mkdtemp(prefix="graph_compact_ab_")
        try:
            rows = (
                load_table(spark, sf_dir, "events")
                .limit(20000)
                .select(
                    F.col("user_id").cast("string").alias("S"),
                    F.col("event_type").alias("P"),
                    F.col("props").alias("O"),
                )
            )
            framed = (
                to_confluent_avro(rows, sc, schema_id=2)
                .select(
                    F.col("key").cast("binary").alias("key"),
                    "value",
                    F.lit("spo").alias("topic"),
                    F.lit(0).cast("int").alias("partition"),
                    F.monotonically_increasing_id().alias("offset"),
                )
                .repartition(24)
            )
            topic = FileStreamStandIn(spark, os.path.join(tmp, "topic"))
            topic.write_batch(framed)
            store = GraphStore(spark, os.path.join(tmp, "graph"))
            ingest = StreamingGraphIngest(
                spark,
                store,
                sc,
                checkpoint_dir=os.path.join(tmp, "ckpt"),
                expected_schema_id=2,
                created_at="2024-01-01",
                compact_every=compact_every,
            )
            secs = timed_batches(ingest)
            t0 = time.perf_counter()
            m = ingest.run_to_completion(
                topic.read_stream(max_files_per_trigger=1)
            )
            dt = time.perf_counter() - t0
            first8, last8 = head_tail(secs)
            t0 = time.perf_counter()
            store.objects().count(), store.relationships().count()
            scan = time.perf_counter() - t0
            files = sum(
                len(t.files()) for t in store._tables.values()
            )
            return {
                "compact_every": compact_every,
                "rows": m.valid_rows,
                "batches": m.batches,
                "sec": round(dt, 4),
                "rows_per_sec": round(m.valid_rows / dt, 1),
                "first8_batch_sec": first8,
                "last8_batch_sec": last8,
                "store_files": files,
                "post_scan_sec": round(scan, 4),
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # interleaved best-of-2 per arm (round 9): the single-shot arms
    # made this row the noisiest cross-round comparison in the repo —
    # see interleaved_best
    return {
        "graph": interleaved_best(
            {"off": lambda: graph_run(None), "on": lambda: graph_run(8)},
            rate=lambda r: r["rows_per_sec"],
        ),
    }


def learned_ops_bench(spark, sf_dir: str) -> dict:
    """Round-6 learned operators, measured: the quality classifier
    (train on the source weak-label split, then the map-only scoring
    pass's docs/sec — the deployed filter's steady-state cost)."""
    from consume_kafka_avro_data_spark.operators.quality import (
        quality_probability,
        quality_training_frame,
        train_quality_classifier,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    from pyspark.sql import functions as F

    def timed_best(fn, runs: int = 2):
        """(min_sec, raw samples) — the per-row sampling record every
        steady-state rate in this section now carries (round 9)."""
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        return min(samples), [round(s, 4) for s in samples]

    def noop_write(df):
        df.write.format("noop").mode("overwrite").save()

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    labeled = quality_training_frame(
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") != "src0"),
    )
    t0 = time.perf_counter()
    model = train_quality_classifier(labeled, max_iter=25)
    t_train = time.perf_counter() - t0
    t_score, quality_samples = timed_best(
        lambda: noop_write(
            quality_probability(model, docs.select("doc_id", "text"))
        )
    )

    # KN bigram LM (the perplexity-filter tier): fit on half the
    # corpus, score the other half — the deployed fit-once/score-many
    # split, like the classifier's
    from consume_kafka_avro_data_spark.operators.lm import BigramKN

    train = docs.where(F.col("doc_id") % 2 == 0)
    held = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    n_held = held.count()
    t0 = time.perf_counter()
    lm = BigramKN.fit(train)
    t_kn_fit = time.perf_counter() - t0
    try:
        t_kn, kn_samples = timed_best(lambda: noop_write(lm.score(held)))
    finally:
        lm.unpersist()
    # round 7: the order-3 generalization (CCNet's published filter is
    # an n-gram KenLM) — same fit-once/score-many split
    from consume_kafka_avro_data_spark.operators.lm import NgramKN

    t0 = time.perf_counter()
    lm3 = NgramKN.fit(train, order=3)
    t_kn3_fit = time.perf_counter() - t0
    lm_gate: dict = {}
    try:
        t_kn3, kn3_samples = timed_best(
            lambda: noop_write(lm3.score(held))
        )
        # the INGEST LM gate: a PRUNED deployed-shape model
        # (min_count=2, under the dict scorer's row ceiling, so the
        # gate scores with the broadcast flat payload) riding
        # StreamingDedupIngest over a 4-batch stream of the held split,
        # threshold set above every score so no doc is rejected
        from consume_kafka_avro_data_spark.streaming.dedup import (
            StreamingDedupIngest,
        )

        lm3g = NgramKN.fit(train, order=3, min_count=2)

        def lm_gate_run() -> dict:
            tmp = tempfile.mkdtemp(prefix="lmgate_bench_")
            try:
                topic = os.path.join(tmp, "docs")
                held.repartition(4).write.parquet(topic)
                ingest = StreamingDedupIngest(
                    spark,
                    store_dir=os.path.join(tmp, "store"),
                    checkpoint_dir=os.path.join(tmp, "ckpt"),
                    lm_model=lm3g,
                    lm_threshold=1e9,
                )
                stream = (
                    spark.readStream.schema(held.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(topic)
                )
                t0 = time.perf_counter()
                m = ingest.run_to_completion(stream)
                dt = time.perf_counter() - t0
                return {
                    "docs": m.docs,
                    "batches": m.batches,
                    "sec": round(dt, 4),
                    "docs_per_sec": round(m.docs / dt, 1),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        try:
            # best-of-2, samples on record (interleaved_best)
            lm_gate = interleaved_best(
                {"auto": lm_gate_run}, rate=lambda r: r["docs_per_sec"]
            )["auto"]
        finally:
            lm3g.unpersist()
    finally:
        lm3.unpersist()
    # round 8: CCNet's DEPLOYED order — kn5 at bench scale, with the
    # min_count pruning A/B that decides broadcastability: the pruned
    # arm is the deployed shape (fit once on trusted text, tables small
    # enough to broadcast), the unpruned arm records what pruning saves
    # in model rows (model_rows() is the same count the local-dict
    # ceiling enforces); the pruned arm's relational score() is timed
    t0 = time.perf_counter()
    lm5 = NgramKN.fit(train, order=5, min_count=2)
    t_kn5_fit = time.perf_counter() - t0
    kn5_rows_pruned = lm5.model_rows()
    try:
        t_kn5, kn5_samples = timed_best(
            lambda: noop_write(lm5.score(held))
        )
    finally:
        lm5.unpersist()
    t0 = time.perf_counter()
    lm5u = NgramKN.fit(train, order=5)
    t_kn5_fit_unpruned = time.perf_counter() - t0
    kn5_rows_unpruned = lm5u.model_rows()
    lm5u.unpersist()

    # round 7 (continued): the unigram-LM tokenizer family (Kudo 2018)
    # — train a small vocab over the corpus (per-round cost is one
    # distributed E-step pass over the word-type table), then the
    # Viterbi encode pass's docs/sec (the deployed steady-state cost)
    from consume_kafka_avro_data_spark.operators.unigram import (
        unigram_segment,
        unigram_train,
    )

    uni_stats: dict = {}
    t0 = time.perf_counter()
    uni_model = unigram_train(
        docs.select("text"),
        vocab_size=200,
        seed_size=800,
        max_piece_len=6,
        stats=uni_stats,
    )
    t_uni_train = time.perf_counter() - t0
    t_uni_seg, uni_seg_samples = timed_best(
        lambda: noop_write(
            unigram_segment(docs.select("doc_id", "text"), uni_model)
        )
    )

    # DSIR (Xie 2023): fit the hashed-n-gram importance model on the
    # trusted-vs-raw split, then the map-only weigher's docs/sec and
    # one Gumbel top-k resample of 1000 docs
    from consume_kafka_avro_data_spark.operators.dsir import (
        dsir_fit,
        dsir_log_weights,
        dsir_resample,
    )

    t0 = time.perf_counter()
    dsir_model = dsir_fit(
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") != "src0"),
    )
    t_dsir_fit = time.perf_counter() - t0
    t_dsir, dsir_samples = timed_best(
        lambda: noop_write(
            dsir_log_weights(dsir_model, docs.select("doc_id", "text"))
        )
    )
    # round 8: the all-JVM tier — xxhash64 bucket family fit AND scored
    # as pure codegen'd expressions (no Python workers, no Arrow, no
    # hex-string round-trips; the md5-compatible JVM path exists too
    # but conv-parses hex per gram — measured slower than Arrow).  The
    # one-row broadcast ratio frame carries the 80 KB model.
    t0 = time.perf_counter()
    dsir_xxh = dsir_fit(
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") != "src0"),
        engine="jvm",
        hash_fn="xxhash64",
    )
    t_dsir_jvm_fit = time.perf_counter() - t0
    t_dsir_jvm, dsir_jvm_samples = timed_best(
        lambda: noop_write(
            dsir_log_weights(
                dsir_xxh, docs.select("doc_id", "text"), engine="jvm"
            )
        )
    )
    # the tiers' cost STRUCTURE differs: the JVM weigher pays a fixed
    # per-job plan cost (nested HOF analysis) but a lower per-row cost;
    # at sf-scale doc counts the fixed cost dominates, so measure both
    # tiers once more on a 10×-replicated corpus to show the crossover
    # the 100 TB deployment actually lives on
    big = (
        docs.select("doc_id", "text")
        .withColumn("_rep", F.explode(F.sequence(F.lit(1), F.lit(10))))
        .select(
            (F.col("doc_id") * 10 + F.col("_rep")).alias("doc_id"), "text"
        )
        .localCheckpoint(eager=True)
    )
    n_big = big.count()
    scaleup: dict = {"n_docs": n_big}
    # interleaved best-of-2 (round 9): the tiers alternate within each
    # round so a drifting box can't flip the crossover claim
    tier_samples: dict = {"pandas": [], "jvm": []}
    for _ in range(2):
        for label, m, eng in (
            ("pandas", dsir_model, "pandas"),
            ("jvm", dsir_xxh, "jvm"),
        ):
            t0 = time.perf_counter()
            dsir_log_weights(m, big, engine=eng).write.format("noop").mode(
                "overwrite"
            ).save()
            tier_samples[label].append(time.perf_counter() - t0)
    for label, ss in tier_samples.items():
        scaleup[f"{label}_docs_per_sec"] = round(n_big / min(ss), 1)
        scaleup[f"{label}_samples"] = [round(n_big / s, 1) for s in ss]
    big.unpersist()
    t0 = time.perf_counter()
    n_sampled = dsir_resample(dsir_model, docs, k=1000, seed=1).count()
    t_dsir_sample = time.perf_counter() - t0

    # round 9: the gopher-repetition gate kernel's measured rate (it
    # had none; the kernel is now merged-interval span arithmetic —
    # operators/text._gopher_rep_metrics)
    from consume_kafka_avro_data_spark.operators.text import (
        gopher_repetition,
    )

    t_gr, gr_samples = timed_best(
        lambda: noop_write(
            gopher_repetition(docs.select("doc_id", "text")).select(
                "doc_id", "gopher_rep_keep"
            )
        )
    )

    # round 10: the SIX-GATE census row — one StreamingDedupIngest run
    # with c4 + heuristic quality + learned classifier + gopher-rep +
    # DSIR + LM all on (permissive thresholds where a cut would skew
    # the flow: the census is about per-gate COST and docs_in, not
    # routing), printing gate_census() so a deployment sizing its
    # executors reads which stage is the wall-clock floor from the
    # bench instead of instrumenting production
    from consume_kafka_avro_data_spark.operators.lm import NgramKN as _KN
    from consume_kafka_avro_data_spark.streaming.dedup import (
        StreamingDedupIngest as _SDI,
    )

    lm_census = _KN.fit(train, order=2, min_count=2)
    six_gate_census: dict = {}
    try:
        tmp = tempfile.mkdtemp(prefix="gate_census_bench_")
        try:
            topic = os.path.join(tmp, "docs")
            # the synthetic docs carry no terminal punctuation, so the
            # c4 LINE rule would drop every line and stream EMPTY
            # cleaned texts into the later gates (and 2500 identical
            # signatures into dedup — a pathological one-bucket batch,
            # not a census).  One '.' per doc makes each a kept line;
            # every gate then pays its real per-doc cost.
            held_c4 = held.select(
                "doc_id", F.concat(F.col("text"), F.lit(".")).alias("text")
            )
            held_c4.repartition(4).write.parquet(topic)
            ingest = _SDI(
                spark,
                store_dir=os.path.join(tmp, "store"),
                checkpoint_dir=os.path.join(tmp, "ckpt"),
                c4=True,
                c4_min_line_words=1,
                c4_min_sentences=0,
                quality_threshold=0.0,
                quality_model=model,
                quality_model_threshold=0.0,
                gopher_rep=True,
                dsir_model=dsir_model,
                dsir_threshold=-1e9,
                lm_model=lm_census,
                lm_threshold=1e9,
            )
            stream = (
                spark.readStream.schema(held.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(topic)
            )
            t0 = time.perf_counter()
            mm = ingest.run_to_completion(stream)
            dt = time.perf_counter() - t0
            six_gate_census = {
                "docs": mm.docs,
                "batches": mm.batches,
                "sec": round(dt, 4),
                "docs_per_sec": round(mm.docs / dt, 1),
                "census": ingest.gate_census(),
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        lm_census.unpersist()

    return {
        "six_gate_census": six_gate_census,
        "kn3_fit_sec": round(t_kn3_fit, 4),
        "kn3_score_sec": round(t_kn3, 4),
        "kn3_score_docs_per_sec": round(n_held / t_kn3, 1),
        "kn3_score_samples": kn3_samples,
        "kn5_fit_sec": round(t_kn5_fit, 4),
        "kn5_fit_unpruned_sec": round(t_kn5_fit_unpruned, 4),
        "kn5_model_rows": kn5_rows_pruned,
        "kn5_model_rows_unpruned": kn5_rows_unpruned,
        "kn5_score_sec": round(t_kn5, 4),
        "kn5_docs_per_sec": round(n_held / t_kn5, 1),
        "kn5_score_samples": kn5_samples,
        "lm_gate": lm_gate,
        "quality_train_sec": round(t_train, 4),
        "quality_score_sec": round(t_score, 4),
        "quality_score_docs_per_sec": round(n_docs / t_score, 1),
        "quality_score_samples": quality_samples,
        "kn_fit_sec": round(t_kn_fit, 4),
        "kn_score_sec": round(t_kn, 4),
        "kn_score_docs_per_sec": round(n_held / t_kn, 1),
        "kn_score_samples": kn_samples,
        "unigram_vocab": len(uni_model),
        "unigram_e_steps": uni_stats.get("e_steps", -1),
        "unigram_train_sec": round(t_uni_train, 4),
        "unigram_segment_sec": round(t_uni_seg, 4),
        "unigram_segment_docs_per_sec": round(n_docs / t_uni_seg, 1),
        "unigram_segment_samples": uni_seg_samples,
        "dsir_fit_sec": round(t_dsir_fit, 4),
        "dsir_score_sec": round(t_dsir, 4),
        "dsir_score_docs_per_sec": round(n_docs / t_dsir, 1),
        "dsir_score_samples": dsir_samples,
        "dsir_jvm_fit_sec": round(t_dsir_jvm_fit, 4),
        "dsir_jvm_score_sec": round(t_dsir_jvm, 4),
        "dsir_jvm_docs_per_sec": round(n_docs / t_dsir_jvm, 1),
        "dsir_jvm_score_samples": dsir_jvm_samples,
        "dsir_weigh_scaleup": scaleup,
        "dsir_resample_sec": round(t_dsir_sample, 4),
        "dsir_resampled_docs": n_sampled,
        "gopher_rep_sec": round(t_gr, 4),
        "gopher_rep_docs_per_sec": round(n_docs / t_gr, 1),
        "gopher_rep_samples": gr_samples,
    }


def sketches_bench(spark, sf_dir: str) -> dict:
    """Mergeable sketches, measured on the decontamination question
    asked SKETCH-style: how much do the eval corpus's 8-gram set and
    the training corpus's overlap?  Two independent KMV sketches (one
    distinct exchange + TakeOrdered each — the corpora are never
    co-shuffled) answer distinct counts + Jaccard + intersection;
    the exact numbers come from one count_distinct pass for the
    honesty column.  Plus Misra-Gries heavy hitters over the token
    stream vs the exact top-k."""
    from consume_kafka_avro_data_spark.operators.sketches import (
        heavy_hitters,
        kmv_jaccard,
        kmv_sketch,
    )
    from consume_kafka_avro_data_spark.functions.textops import (
        exploded_word_grams,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    grams = exploded_word_grams(d, "source", n=8)
    eval_g = grams.where(F.col("source") == "src0").select("g")
    train_g = grams.where(F.col("source") != "src0").select("g")

    t0 = time.perf_counter()
    sk_e = kmv_sketch(eval_g, "g", k=4096)
    sk_t = kmv_sketch(train_g, "g", k=4096)
    overlap = kmv_jaccard(sk_e, sk_t)
    t_kmv = time.perf_counter() - t0

    t0 = time.perf_counter()
    exact_inter = eval_g.intersect(train_g).count()
    exact_union = eval_g.unionAll(train_g).distinct().count()
    t_exact = time.perf_counter() - t0

    toks = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
    t0 = time.perf_counter()
    hh = heavy_hitters(toks, "t", k=64)
    t_hh = time.perf_counter() - t0
    top_true = {
        r["t"]
        for r in toks.groupBy("t")
        .count()
        .orderBy(F.desc("count"), "t")
        .limit(10)
        .collect()
    }
    return {
        "kmv_sec": round(t_kmv, 4),
        "exact_sec": round(t_exact, 4),
        "kmv_intersection": round(overlap["intersection"], 1),
        "exact_intersection": exact_inter,
        "kmv_union": round(overlap["union"], 1),
        "exact_union": exact_union,
        "hh_sec": round(t_hh, 4),
        "hh_top10_recall": round(
            len(top_true & set(hh.items)) / max(len(top_true), 1), 3
        ),
        "hh_error_bound": round(hh.error_bound, 1),
    }


def bloom_steady_state_bench(spark, sf_dir: str) -> dict:
    """Split q_decontaminate_bloom's cost into BUILD vs PROBE: the
    headline timing pays the bloom build (eval checkpoint + count +
    positions collect + bit-array literal codegen) on every run, but a
    deployed decontamination pipeline builds the eval bloom ONCE and
    probes every training shard with it — the steady-state cost is the
    probe.  Reported: one-time build_sec, then best-of-2 probe+verify
    runs reusing the prebuilt filter (the honest cold number stays in
    the headline q_decontaminate_bloom row)."""
    from consume_kafka_avro_data_spark.operators.bloom import (
        BITS_PER_ITEM,
        BroadcastBloom,
    )
    from consume_kafka_avro_data_spark.functions.textops import (
        exploded_word_grams,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    grams = exploded_word_grams(d, "doc_id", "source", n=8)
    eval_g = grams.where(F.col("source") == "src0").select("g").distinct()

    t0 = time.perf_counter()
    eval_ck = eval_g.localCheckpoint(eager=True)
    try:
        n_eval = eval_ck.count()
        bloom = BroadcastBloom.build(
            eval_ck, "g", n_bits=BITS_PER_ITEM * max(n_eval, 8)
        )
    finally:
        eval_ck.unpersist()
    t_build = time.perf_counter() - t0

    t_probe = float("inf")
    n_docs = 0
    for _ in range(2):
        t0 = time.perf_counter()
        cand = (
            bloom.prefilter(grams.where(F.col("source") != "src0"), "g")
            .select("doc_id", "g")
            .distinct()
        )
        out = (
            cand.join(F.broadcast(eval_g), "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        )
        n_docs = out.count()
        t_probe = min(t_probe, time.perf_counter() - t0)
    return {
        "build_sec": round(t_build, 4),
        "probe_sec": round(t_probe, 4),
        "eval_grams": n_eval,
        "contaminated_docs": n_docs,
    }


def cc_distributed_bench(spark, sf_dir: str) -> dict:
    """Force the DISTRIBUTED hash-min + pointer-jumping connected-
    components loop (small_graph_edges=0) over the same embedding
    near-dup pair graph q_dedup_clusters builds, and verify it returns
    exactly the labels the driver union-find fast path produces — the
    regression guard for the code path that actually runs at 100 TB,
    where the pair graph never fits the driver."""
    from consume_kafka_avro_data_spark.operators.graph import connected_components
    from consume_kafka_avro_data_spark.operators.similarity import (
        blocked_allpairs_cosine,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = (
        blocked_allpairs_cosine(emb, threshold=0.35)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)  # pair generation outside the timer
    )
    t0 = time.perf_counter()
    dist = connected_components(pairs, "id_a", "id_b", small_graph_edges=0)
    dist_rows = sorted((r["node"], r["comp"]) for r in dist.collect())
    dt = time.perf_counter() - t0
    driver = connected_components(pairs, "id_a", "id_b")
    driver_rows = sorted((r["node"], r["comp"]) for r in driver.collect())
    # round 7 (continued): the other two iterative graph operators on
    # the same pair graph — BFS hops from the smallest node and one
    # LPA community pass — same loop discipline, comparable rounds
    from consume_kafka_avro_data_spark.operators.graph import (
        label_propagation,
        shortest_paths,
    )
    from pyspark.sql import functions as F

    src0 = pairs.agg(F.min("id_a").alias("m")).collect()[0]["m"]
    edges = pairs.select(
        F.col("id_a").alias("source_id"), F.col("id_b").alias("target_id")
    )
    t0 = time.perf_counter()
    bfs = shortest_paths(edges, [src0])
    n_reached = bfs.count()
    t_bfs = time.perf_counter() - t0
    bfs.unpersist()
    t0 = time.perf_counter()
    lpa = label_propagation(edges, max_iter=5)
    n_communities = lpa.select("label").distinct().count()
    t_lpa = time.perf_counter() - t0
    lpa.unpersist()
    return {
        "sec": round(dt, 4),
        "n_nodes": len(dist_rows),
        "matches_driver_path": dist_rows == driver_rows,
        "bfs_sec": round(t_bfs, 4),
        "bfs_reached": n_reached,
        "lpa_sec": round(t_lpa, 4),
        "lpa_communities": n_communities,
    }


def bloom_crossover_bench(spark, sf_dir: str) -> dict:
    """Measure — not assert — where the two-phase bloom decontamination
    (q_decontaminate_bloom's shape) overtakes the exact broadcast join
    (q_decontaminate's): hold the EVAL gram set fixed (eval sets don't
    grow with training data) and scale the training-side gram stream by
    replicating the training documents ×mult with fresh doc_ids.

    Why a crossover exists: the exact form runs ``distinct`` over the
    WHOLE training gram stream before its join — a shuffle that grows
    with the corpus — while the bloom form's pure-JVM bit-test
    prefilter is map-only and its distinct sees only the surviving
    candidates (fixed, eval-match-sized).  The bloom's fixed costs
    (build jobs + bit-array codegen, timed INSIDE its arm) are what the
    small-corpus end pays.  Eval-side prep is shared and held OUTSIDE
    both timers so the multiplier is the only variable."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.bloom import (
        BITS_PER_ITEM,
        BroadcastBloom,
    )
    from consume_kafka_avro_data_spark.functions.textops import (
        exploded_word_grams,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    eval_g = (
        exploded_word_grams(d.where(F.col("source") == "src0"), n=8)
        .distinct()
        .localCheckpoint(eager=True)  # shared eval prep, outside timers
    )
    try:
        n_eval = eval_g.count()
        rows = []
        crossover = None
        for mult in (1, 4, 16):
            train = (
                d.where(F.col("source") != "src0")
                .withColumn(
                    "_rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
                )
                .select(
                    (F.col("doc_id") * mult + F.col("_rep")).alias("doc_id"),
                    "text",
                )
            )
            tg = exploded_word_grams(train, "doc_id", n=8)

            # r11: both arms measure the SHIPPED query shapes —
            # join-before-distinct with count(distinct g) — so the
            # published crossover tracks q_decontaminate[_bloom]'s
            # actual plans (see those queries' docstrings)
            t0 = time.perf_counter()
            (
                tg.join(F.broadcast(eval_g), "g")
                .groupBy("doc_id")
                .agg(F.countDistinct("g").alias("n"))
                .write.format("noop").mode("overwrite").save()
            )
            t_exact = time.perf_counter() - t0

            t0 = time.perf_counter()
            bloom = BroadcastBloom.build(
                eval_g, "g", n_bits=BITS_PER_ITEM * max(n_eval, 8)
            )
            (
                bloom.prefilter(tg, "g")
                .join(F.broadcast(eval_g), "g")
                .groupBy("doc_id")
                .agg(F.countDistinct("g").alias("n"))
                .write.format("noop").mode("overwrite").save()
            )
            t_bloom = time.perf_counter() - t0

            rows.append(
                {
                    "mult": mult,
                    "exact_sec": round(t_exact, 4),
                    "bloom_sec": round(t_bloom, 4),
                }
            )
            if crossover is None and t_bloom < t_exact:
                crossover = mult
    finally:
        eval_g.unpersist()
    return {
        "eval_grams": n_eval,
        "sweep": rows,
        "crossover_mult": crossover,  # None = exact still wins at ×16
    }


def skew_stress_bench(spark, sf_dir: str) -> dict:
    """Salted vs plain JOIN on a DELIBERATELY skewed key: events
    inflated 50× with 90% of rows remapped onto one hot key, equi-
    joined to a tiny key dimension with broadcast and AQE disabled —
    the sort-merge shape where the hot key's entire partition lands on
    ONE task and the stage runs at straggler speed.  ``salted_join``
    scatters the hot key over 64 sub-keys (dim replicated 64×; the
    measured sf0.1 sweep was 16→2.85s, 32→2.31s, 64→1.94s vs plain
    3.21s) so the sort+join parallelizes; an aggregate checksum pins
    both plans to identical results.

    Why a JOIN and not an aggregation A/B: Spark's map-side partial
    aggregation already neutralizes reduce skew for decomposable
    aggregates (each map task pre-collapses the hot key to one row), so
    a salted-vs-plain groupBy-sum measures only the salt's overhead —
    q_salted_agg in HEADLINE covers those mechanics.  Join skew has no
    such built-in rescue outside AQE, which is exactly why the explicit
    salt exists (operators/skew.py)."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.skew import salted_join
    from consume_kafka_avro_data_spark.tables import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .select(
            F.when(F.pmod(F.xxhash64("event_id"), F.lit(10)) < 9, F.lit("hot"))
            .otherwise(F.col("event_type"))
            .alias("k"),
            "value",
            "event_id",
        )
        .withColumn("_rep", F.explode(F.sequence(F.lit(1), F.lit(50))))
    )
    dim = spark.createDataFrame(
        [("hot", 2.0), ("click", 1.0), ("view", 1.1), ("purchase", 3.0),
         ("signup", 1.5), ("share", 1.2)],
        "k string, weight double",
    )

    def checksum(df) -> list:
        rows = (
            df.groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)") * F.col("weight"))
                .cast("double")
                .alias("wsum"),
            )
            .collect()
        )
        return sorted((r["k"], r["n"], round(r["wsum"], 2)) for r in rows)

    # Broadcast would sidestep the shuffle entirely and AQE's skew-join
    # splitting would repair it at runtime; both are disabled so the A/B
    # isolates the explicit salt — the deterministic fallback for plans
    # AQE can't touch (see operators/skew.py module docstring).
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # best-of-2 per arm (same policy as the headline queries): the
        # inflated 5M-row joins swing by seconds from GC/page-cache
        # effects, and a single cold run can invert the comparison
        t_plain = t_salted = float("inf")
        plain = salted = None
        for _ in range(2):
            t0 = time.perf_counter()
            plain = checksum(e.join(dim, "k"))
            t_plain = min(t_plain, time.perf_counter() - t0)
            t0 = time.perf_counter()
            salted = checksum(salted_join(e, dim, "k"))
            t_salted = min(t_salted, time.perf_counter() - t0)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    return {
        "plain_sec": round(t_plain, 4),
        "salted_sec": round(t_salted, 4),
        "speedup": round(t_plain / t_salted, 3),
        "results_match": plain == salted,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_session(app_name="cka-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]

    # warm-up: JVM, codegen, parquet footers for EVERY table (steady-state
    # measurement — cold-footer I/O is session noise, not query cost)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from consume_kafka_avro_data_spark.tables import load_table

    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        load_table(spark, sf_dir, t).count()
    # spawn+reuse the Arrow python workers (mapInPandas queries would
    # otherwise pay worker startup inside their timing)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(1000).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    qs[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # best-of-3 per query: single cold runs swing by seconds from JIT /
    # GC / shuffle-file effects (a 45-query suite shares one JVM), and
    # two samples still occasionally both land on a GC pause; the
    # minimum is the steady-state cost a deployed job sees (plans are
    # rebuilt per run, so plan construction is still included)
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        runs: list[float] = []
        for _ in range(3):
            # iterative queries persist() intermediates; clear them so
            # each query is timed cold-cache and earlier queries' leftover
            # blocks don't shift memory pressure onto later ones.
            # clearCache does NOT free localCheckpoint blocks — those go
            # when their RDD is JVM-GC'd — so nudge a full GC too: one
            # straggler query holding checkpoint blocks otherwise taxes
            # every later query (observed: a 1.1 s query timing 4.9 s
            # mid-suite, isolation-clean)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        # headline = MIN (steady-state cost); the raw samples ride along
        # in BENCH_local.json so round-over-round comparisons can tell a
        # plan regression (all three samples shift) from box variance
        # (the spread widens but the min holds) without re-litigating it
        timings[name] = round(min(runs), 4)
        samples[name] = [round(r, 4) for r in runs]

    spo = spo_ingest_throughput(spark, sf_dir)
    stream = streaming_ingest_throughput(spark, sf_dir)
    sdedup = streaming_dedup_bench(spark, sf_dir)
    cc = cc_distributed_bench(spark, sf_dir)
    skew = skew_stress_bench(spark, sf_dir)
    compaction = ingest_compaction_ab_bench(spark, sf_dir)
    bloom_x = bloom_crossover_bench(spark, sf_dir)
    bloom_ss = bloom_steady_state_bench(spark, sf_dir)
    learned = learned_ops_bench(spark, sf_dir)
    sketches = sketches_bench(spark, sf_dir)

    total = round(sum(timings.values()), 4)
    payload = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "query_samples": samples,
            "sf": sf,
            "spo_ingest": spo,
            "streaming_ingest": stream,
            "streaming_dedup": sdedup,
            "cc_distributed": cc,
            "skew_stress": skew,
            "ingest_compaction_ab": compaction,
            "bloom_crossover": bloom_x,
            "bloom_steady_state": bloom_ss,
            "learned_ops": learned,
            "sketches": sketches,
            "baseline_reference_msgs_per_sec": 770,
        },
        separators=(",", ":"),
    )
    # Artifact robustness (BENCH_r03 lesson: the driver kept only a
    # truncated stdout tail and 14 timings were unrecoverable): persist
    # the FULL JSON — sweeps, A/Bs, recall tables — to a repo file
    # FIRST, then stop Spark — whose shutdown can emit stray JVM lines.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_local.json"), "w") as f:
        f.write(payload + "\n")
    spark.stop()
    # The FINAL stdout line is what the driver records, and its tail
    # capture is ~2 KB (BENCH_r04 parsed:null lesson) — print a COMPACT
    # summary (per-query seconds + headline rates only; everything else
    # lives in BENCH_local.json) and ASSERT it fits with headroom.
    compact = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "queries": {k: round(v, 2) for k, v in timings.items()},
            "spo_rows_per_sec": spo["rows_per_sec"],
            "streaming_rows_per_sec": stream["rows_per_sec"],
            "dedup_docs_per_sec": sdedup["docs_per_sec"],
            "cc_sec": cc["sec"],
            "skew_speedup": skew["speedup"],
            "bloom_crossover_mult": bloom_x["crossover_mult"],
            # build-once/probe-many split: [one-time build, steady probe]
            "bloom_build_probe_sec": [
                bloom_ss["build_sec"],
                bloom_ss["probe_sec"],
            ],
            "quality_docs_per_sec": learned["quality_score_docs_per_sec"],
            "kn3_docs_per_sec": learned["kn3_score_docs_per_sec"],
            "kn5_docs_per_sec": learned["kn5_docs_per_sec"],
            # DSIR weigher docs/s: [Arrow tier, all-JVM tier]
            "dsir_docs_per_sec": [
                learned["dsir_score_docs_per_sec"],
                learned["dsir_jvm_docs_per_sec"],
            ],
            # ingest LM gate docs/s, size-selected scorer
            "lm_gate_docs_per_sec": learned["lm_gate"]["docs_per_sec"],
            # round-9 gate kernel rate (merged-interval coverage)
            "gopher_rep_docs_per_sec": learned["gopher_rep_docs_per_sec"],
            # compact_every A/B, post-ingest read cost [off, on] — the
            # tax the small-file growth levies; full arms in
            # BENCH_local.json ingest_compaction_ab
            "compact_read_sec": {
                "graph": [
                    compaction["graph"]["off"]["post_scan_sec"],
                    compaction["graph"]["on"]["post_scan_sec"],
                ],
            },
            "baseline_reference_msgs_per_sec": 770,
        },
        separators=(",", ":"),
    )
    # Over-budget DEGRADES instead of dying (round-6 lesson: the assert
    # fired after a 20-minute run and the driver recorded NOTHING —
    # worse than a slightly thinner line).  Drop optional keys in
    # priority order until the line fits; everything dropped is still
    # in BENCH_local.json.  The assert remains as the can't-happen
    # backstop after all droppables are gone.
    # drop order: round-stable keys first (every dropped key still
    # lives in BENCH_local.json) so each round's NEW evidence survives
    # the ~2 KB stdout budget
    droppable = [
        "bloom_build_probe_sec",
        "compact_read_sec",
        "kn3_docs_per_sec",
        "quality_docs_per_sec",
        "dsir_docs_per_sec",
        "lm_gate_docs_per_sec",
        "kn5_docs_per_sec",
    ]
    doc = json.loads(compact)
    while len(compact) >= 1900 and droppable:
        doc.pop(droppable.pop(0), None)
        compact = json.dumps(doc, separators=(",", ":"))
    assert len(compact) < 1900, (
        f"final bench line is {len(compact)} chars even with every "
        "optional key dropped — exceeds the driver's ~2 KB stdout tail "
        "capture; trim the per-query set"
    )
    print(compact, flush=True)


if __name__ == "__main__":
    main()
