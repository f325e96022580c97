"""StreamingDriftMonitor: documents arriving as a file-backed stream
must accumulate head-bucketed token counts batch-by-batch, the running
head-TVD against the reference must flag a shifted stream (and stay
quiet on a same-distribution one), and a checkpoint-less replay must
REPLACE per-batch counts instead of double-counting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.streaming.drift import (
    OOV,
    StreamingDriftMonitor,
)
from consume_kafka_avro_data_spark.tables import load_table


@pytest.fixture()
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _doc_stream(spark, tmp_path, frames):
    path = str(tmp_path / "docs")
    for df in frames:
        df.select("doc_id", "text", "lang").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    schema = frames[0].select("doc_id", "text", "lang").schema

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    return reader


def test_same_distribution_stream_reports_low_drift(spark, tmp_path, docs):
    """Streaming one half of the corpus against the other half as
    reference: same generator, so every language's head-TVD is small
    and the advisory flag stays down."""
    ref = docs.where(F.col("doc_id") % 2 == 0)
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "ck1"))
    reader = _doc_stream(
        spark,
        tmp_path,
        [
            docs.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 1)),
            docs.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 3)),
        ],
    )
    m = mon.run_to_completion(reader())
    assert m.batches == 2
    assert m.docs == docs.where(F.col("doc_id") % 2 == 1).count()
    tvd = mon.drift_tvd()
    assert tvd, "no languages measured"
    assert all(0.0 <= v < 0.2 for v in tvd.values()), tvd
    assert not mon.needs_retune(threshold=0.2)


def test_shifted_stream_flips_needs_retune(spark, tmp_path, docs):
    """A batch whose vocabulary the reference has never seen lands
    (almost) entirely in the OOV bucket: its language's TVD jumps and
    the advisory flag flips — while the monitor keeps consuming."""
    ref = docs.where(F.col("lang") == "en")
    novel = spark.createDataFrame(
        [(9000 + i, "zzq qqz zqz " * 30, "en") for i in range(8)],
        "doc_id long, text string, lang string",
    )
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "ck2"))
    reader = _doc_stream(spark, tmp_path, [novel])
    mon.run_to_completion(reader())
    tvd = mon.drift_tvd()
    assert tvd["en"] > 0.9, tvd
    assert mon.needs_retune()
    # the OOV bucket, not spurious head terms, carries the shift
    arr = mon.metrics.term_totals()
    assert arr[("en", OOV)] == sum(n for (lg, _), n in arr.items() if lg == "en")


def test_unseen_language_reports_full_drift(spark, tmp_path, docs):
    """A language absent from the reference has no distribution to
    match: everything it sends is drift (TVD = 1.0)."""
    ref = docs.where(F.col("lang") == "en")
    stray = spark.createDataFrame(
        [(9100, "bonjour le monde " * 20, "fr")],
        "doc_id long, text string, lang string",
    )
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "ck3"))
    mon.run_to_completion(_doc_stream(spark, tmp_path, [stray])())
    assert mon.drift_tvd()["fr"] == 1.0


def test_replay_replaces_batch_counts(spark, tmp_path, docs):
    """Replaying the SAME stream into the same monitor (fresh
    checkpoint, reset_metrics=False — a crash-recovery double replay)
    must leave every accumulated number unchanged: counts key by batch
    id and REPLACE."""
    ref = docs.where(F.col("doc_id") % 2 == 0)
    arrivals = docs.where(F.col("doc_id") % 2 == 1)
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "ck4"))
    reader = _doc_stream(
        spark,
        tmp_path,
        [
            arrivals.where(F.col("doc_id") % 4 == 1),
            arrivals.where(F.col("doc_id") % 4 == 3),
        ],
    )
    mon.run_to_completion(reader())
    first = (
        mon.metrics.docs,
        mon.metrics.ledger.records(),
        mon.metrics.term_totals(),
        mon.drift_tvd(),
    )
    # second replay: new checkpoint dir (simulates a lost checkpoint),
    # metrics deliberately NOT reset — idempotence must come from the
    # batch-id keying, not from the reset
    mon.checkpoint_dir = str(tmp_path / "ck4b")
    mon.run_to_completion(reader(), reset_metrics=False)
    second = (
        mon.metrics.docs,
        mon.metrics.ledger.records(),
        mon.metrics.term_totals(),
        mon.drift_tvd(),
    )
    assert first == second


def test_head_bucketing_matches_batch_census_head(spark, docs, tmp_path):
    """The monitor's reference head must be the same deterministic
    cnt-then-term head the batch census (corpus_drift) ranks — spot
    check: every head term's reference count equals a direct groupBy
    over the same tokenizer."""
    ref = docs.where(F.col("lang") == "en")
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "ck5"), head_k=5)
    direct = {
        (r.lang, r.tok): r.cnt
        for r in (
            ref.select(
                "lang",
                F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
            )
            .where(F.col("tok") != "")
            .groupBy("lang", "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "tok")
            .limit(5)
            .collect()
        )
    }
    head = {k: v for k, v in mon._ref_counts.items() if k[1] != OOV}
    assert head == direct
    # head + tail partition the full reference token count
    total_tokens = (
        ref.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("t"))
        .where(F.col("t") != "")
        .count()
    )
    assert sum(mon._ref_counts.values()) == total_tokens


def test_drift_views_reachable_from_sql(spark, tmp_path, docs):
    """register_engine_views(drift_monitor=…) must expose the monitor's
    head-TVD and bucketed counts as queryable views — including before
    anything streamed (empty relations, correct schema)."""
    from consume_kafka_avro_data_spark.tables import register_engine_views

    ref = docs.where(F.col("doc_id") % 2 == 0)
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "ck6"))
    created = register_engine_views(spark, drift_monitor=mon)
    assert created == ["drift_tvd", "drift_terms"]
    assert spark.sql("SELECT * FROM drift_tvd").count() == 0  # nothing streamed
    mon.run_to_completion(
        _doc_stream(spark, tmp_path, [docs.where(F.col("doc_id") % 2 == 1)])()
    )
    register_engine_views(spark, drift_monitor=mon)  # snapshot refresh
    tvd = {
        r.lang: r.head_tvd
        for r in spark.sql("SELECT lang, head_tvd FROM drift_tvd").collect()
    }
    assert tvd == mon.drift_tvd()
    total = spark.sql("SELECT sum(arrivals) AS s FROM drift_terms").collect()[0].s
    assert total == sum(mon.metrics.term_totals().values())


def test_continuous_mode_polling_is_safe(spark, tmp_path, docs):
    """T1 watcher mode: with a processingTime trigger running, the
    driver main thread polls drift_tvd()/needs_retune() WHILE batches
    land — the reads must never crash on concurrent map mutation (the
    lock) and must eventually reflect the arrivals."""
    import time

    ref = docs.where(F.col("doc_id") % 2 == 0)
    arrivals = docs.where(F.col("doc_id") % 2 == 1)
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "ck7"))
    path = str(tmp_path / "cdocs")
    arrivals.where(F.col("doc_id") % 4 == 1).select(
        "doc_id", "text", "lang"
    ).coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(
            arrivals.select("doc_id", "text", "lang").schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = mon.start(stream, available_now=False, processing_time="1 second")
    try:
        deadline = time.time() + 60
        seen_docs = 0
        while time.time() < deadline:
            # the poll under test: must never raise while batches land
            tvd = mon.drift_tvd()
            mon.needs_retune()
            seen_docs = mon.metrics.docs
            if seen_docs and tvd:
                # feed a second file mid-stream and keep polling
                arrivals.where(F.col("doc_id") % 4 == 3).select(
                    "doc_id", "text", "lang"
                ).coalesce(1).write.mode("append").parquet(path)
                break
            time.sleep(0.3)
        assert seen_docs, "no batch landed within the deadline"
        deadline = time.time() + 60
        want = arrivals.count()
        while time.time() < deadline and mon.metrics.docs < want:
            mon.drift_tvd()  # keep polling concurrently
            time.sleep(0.3)
        assert mon.metrics.docs == want
    finally:
        q.stop()


def test_metrics_compaction_bounds_memory_and_refuses_ancient_replay():
    """DriftMetrics with a small horizon drops old per-batch maps while
    keeping their mass in the running totals; replaying a compacted
    batch id raises instead of silently double-counting."""

    from consume_kafka_avro_data_spark.streaming.drift import DriftMetrics

    m = DriftMetrics(compact_horizon=3)
    for b in range(8):
        m.record(b, 2, {("en", f"t{b}"): 5})
    assert m.batches == 8 and m.docs == 16
    assert sum(m.term_totals().values()) == 40  # mass survives compaction
    assert len(m.ledger.records()) <= 4  # records beyond the horizon folded
    # a LIVE batch still replaces
    m.record(7, 1, {("en", "t7"): 2})
    assert m.docs == 15 and m.term_totals()[("en", "t7")] == 2
    # a compacted batch id refuses
    with pytest.raises(RuntimeError, match="compacted"):
        m.record(0, 2, {("en", "t0"): 5})


def test_ingest_reset_resets_attached_monitor(spark, tmp_path, docs):
    """A monitor riding the dedup ingest must be reset WITH it: a new
    run's batch ids restart at 0, and stale monitor state would blend
    two streams' drift (the lifecycle reset hook covers the composed
    component)."""
    from consume_kafka_avro_data_spark.streaming.dedup import (
        StreamingDedupIngest,
    )

    ref = docs.where(F.col("doc_id") % 2 == 0)
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "mck"))
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ck_a"),
        drift_monitor=mon,
    )
    a = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text", "lang")
    pa = str(tmp_path / "stream_a")
    a.coalesce(1).write.parquet(pa)
    ingest.run_to_completion(
        spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(pa)
    )
    docs_a = mon.metrics.docs
    assert docs_a == a.count()
    # second run over a DIFFERENT stream with default reset: the
    # monitor must start from zero, not blend run A's batches
    b = docs.where(F.col("doc_id") % 4 == 0).select("doc_id", "text", "lang")
    pb = str(tmp_path / "stream_b")
    b.coalesce(1).write.parquet(pb)
    ingest.checkpoint_dir = str(tmp_path / "ck_b")
    ingest.run_to_completion(
        spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(pb)
    )
    assert mon.metrics.docs == b.count()  # not docs_a + b.count()


def test_null_lang_stream_matches_null_lang_reference(spark, tmp_path, docs):
    """A NULL-lang corpus must behave like any other language: the
    reference head's NULL-lang rows join NULL-lang arrivals (null-safe
    lang key — a plain equi-join would bucket every arrival to OOV and
    report near-1.0 drift on an identical distribution), and the SQL
    views must register without a None-vs-str sort crash."""
    from consume_kafka_avro_data_spark.tables import register_engine_views

    nodocs = docs.withColumn("lang", F.lit(None).cast("string"))
    ref = nodocs.where(F.col("doc_id") % 2 == 0)
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "cknull"))
    assert any(k[0] is None for k in mon._ref_counts), "no NULL-lang head"
    mon.run_to_completion(
        _doc_stream(spark, tmp_path, [nodocs.where(F.col("doc_id") % 2 == 1)])()
    )
    tvd = mon.drift_tvd()
    assert None in tvd
    assert tvd[None] < 0.2, f"identical NULL-lang distribution drifted: {tvd}"
    # head terms actually matched (not everything swept into OOV)
    totals = mon.metrics.term_totals()
    head_mass = sum(n for (lg, t), n in totals.items() if t != OOV)
    assert head_mass > 0
    created = register_engine_views(spark, drift_monitor=mon)
    assert "drift_tvd" in created
    rows = spark.sql(
        "SELECT lang, head_tvd FROM drift_tvd WHERE lang IS NULL"
    ).collect()
    assert len(rows) == 1 and rows[0].head_tvd == tvd[None]


def test_monitor_horizon_is_configurable_and_survives_reset(
    spark, tmp_path, docs
):
    """compact_horizon set at construction must reach DriftMetrics and
    survive _reset()/run_to_completion — the ancient-replay error tells
    the operator to raise it, so the knob must be real."""
    ref = docs.where(F.col("doc_id") % 2 == 0).limit(20)
    mon = StreamingDriftMonitor(
        spark, ref, str(tmp_path / "ckh"), compact_horizon=7
    )
    assert mon.metrics.compact_horizon == 7
    mon._reset()
    assert mon.metrics.compact_horizon == 7  # not silently back to default


def test_monitor_replay_guard_is_bounded(spark, tmp_path, docs):
    """The per-batch records must not grow one entry per trigger
    forever on a continuous stream: records beyond the compaction
    horizon are folded (a replay of them is refused)."""
    ref = docs.where(F.col("doc_id") % 2 == 0).limit(20)
    mon = StreamingDriftMonitor(
        spark, ref, str(tmp_path / "ckg"), compact_horizon=3
    )
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string"
    )
    for b in range(12):
        mon.process_batch(empty, b)
    live = mon.metrics.ledger.records()
    assert len(live) <= 4
    assert max(live) == 11  # newest entries kept


def test_composed_dedup_ingest_retune_loop_flips_midstream(
    spark, tmp_path, docs
):
    """The needs_retune loop proven END-TO-END the way the ANN rebuild
    trigger is (streaming/ann's skewed-shard shape): ONE dedup ingest
    with a riding drift monitor consumes one stream whose prefix matches
    the reference distribution — flag stays down — and whose suffix
    shifts vocabulary; resuming the SAME checkpoint over the new files
    flips the advisory flag while the dedup side keeps its counters
    exact across both phases."""
    from consume_kafka_avro_data_spark.streaming.dedup import (
        StreamingDedupIngest,
    )

    ref = docs.where(F.col("doc_id") % 2 == 0)
    mon = StreamingDriftMonitor(spark, ref, str(tmp_path / "mck"))
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ck"),
        drift_monitor=mon,
    )
    path = str(tmp_path / "stream")
    balanced = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang"
    )
    n_balanced = balanced.count()
    for cond in (F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3):
        balanced.where(cond).coalesce(1).write.mode("append").parquet(path)
    schema = balanced.schema

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    # phase 1: the balanced prefix — same generator as the reference,
    # so the flag MUST stay down (a monitor that cries wolf here would
    # retrain quantizers/thresholds on every stream)
    m1 = ingest.run_to_completion(reader())
    assert m1.batches == 2 and mon.metrics.docs == n_balanced
    assert not mon.needs_retune(threshold=0.2), mon.drift_tvd()

    # phase 2: vocabulary shift arrives mid-stream — enough novel-token
    # mass to move the ACCUMULATED distribution, not just the batch's
    shifted = spark.createDataFrame(
        [(9000 + i, "zzq qqz zqz " * 40, "en") for i in range(64)],
        "doc_id long, text string, lang string",
    )
    shifted.coalesce(1).write.mode("append").parquet(path)
    # same checkpoint + reset_metrics=False: ONLY the new file replays —
    # this is the continuation of the same logical stream
    m2 = ingest.run_to_completion(reader(), reset_metrics=False)
    assert m2.batches == 3  # 2 balanced + 1 shifted, no re-consumption
    assert mon.metrics.docs == n_balanced + 64
    assert mon.needs_retune(threshold=0.2), mon.drift_tvd()
    assert mon.drift_tvd()["en"] > 0.2

    # the dedup side stayed exact through both phases: every unique
    # balanced doc merged once, and the 64 identical shifted docs
    # collapsed to one canonical signature
    assert m2.novel_docs + m2.dup_docs == m2.docs
    assert m2.dup_docs >= 63  # the shifted batch is one doc repeated
