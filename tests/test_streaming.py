"""Streaming pipeline tests (SURVEY §5 streaming strategy): file-backed
stand-in source + availableNow triggers — no broker needed, full
decode→DLQ→graph-merge path exercised."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from consume_kafka_avro_data_spark.config import parse_config
from consume_kafka_avro_data_spark.operators.graph import GraphStore
from consume_kafka_avro_data_spark.sources.avro_codec import to_confluent_avro
from consume_kafka_avro_data_spark.sources.kafka import FileStreamStandIn
from consume_kafka_avro_data_spark.streaming.ingest import StreamingGraphIngest

SPO_DOC = {
    "kafka": {},
    "type_map": {"spo": {"key_column": "subject", "columns": ["S", "P", "O"]}},
    "column_map": {"S": "subject", "P": "predicate", "O": "object"},
}

TRIPLES = [
    ("Don Vito", "Email", "donvito@example.com"),
    ("Underboss Marco", "Captain", "Capo Salvatore"),
    ("Soldier Nico", "Illegal Arms Deal", "1990"),
    ("Don Vito", "Underboss", "Underboss Marco"),
]


def _framed_topic(spark, tmp_path, with_corrupt=True):
    """Write a stand-in 'topic' of Confluent-framed messages (+ the
    reference's observed corruption: raw JSON, first byte 0x7B)."""
    sc = parse_config(SPO_DOC).schema_for("spo")
    df = spark.createDataFrame(TRIPLES, ["S", "P", "O"])
    framed = to_confluent_avro(df, sc, schema_id=2).withColumns(
        {
            "topic": F.lit("spo"),
            "partition": F.lit(0).cast("int"),
            "offset": F.monotonically_increasing_id(),
        }
    ).select(F.col("key").cast("binary"), "value", "topic", "partition", "offset")
    topic = FileStreamStandIn(spark, str(tmp_path / "topic"))
    topic.write_batch(framed)
    if with_corrupt:
        bad = spark.createDataFrame(
            [
                Row(
                    key=bytearray(b"junk"),
                    value=bytearray(b'{"subject": "raw json"}'),
                    topic="spo",
                    partition=0,
                    offset=999,
                )
            ]
        )
        topic.write_batch(bad)
    return topic, sc


def _ingest(spark, tmp_path, topic, sc, tag):
    store = GraphStore(spark, str(tmp_path / "graph"))
    ing = StreamingGraphIngest(
        spark,
        store,
        sc,
        checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
        dlq_dir=str(tmp_path / "dlq"),
        expected_schema_id=2,
        created_at="2024-01-01",
    )
    metrics = ing.run_to_completion(topic.read_stream(max_files_per_trigger=1))
    return store, ing, metrics


def test_stream_ingest_end_to_end(spark, tmp_path):
    topic, sc = _framed_topic(spark, tmp_path)
    store, ing, m = _ingest(spark, tmp_path, topic, sc, "a")
    assert m.valid_rows == 4 and m.error_rows == 1
    assert m.new_vertices == 6 and m.new_edges == 4
    assert any("Invalid CP1 magic byte 123" in k for k in m.errors_by_reason)
    # DLQ persisted for replay/inspection (the reference only logged)
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq.count() == 1
    assert store.objects().count() == 6
    assert store.relationships().count() == 4


def test_stream_replay_is_idempotent(spark, tmp_path):
    """T5: re-consuming the whole topic (fresh checkpoint = the
    reference's OFFSET_BEGINNING restart) leaves the graph unchanged."""
    topic, sc = _framed_topic(spark, tmp_path)
    store, _, m1 = _ingest(spark, tmp_path, topic, sc, "a")
    store2, _, m2 = _ingest(spark, tmp_path, topic, sc, "b")  # same graph dir
    assert m2.valid_rows == 4  # reprocessed...
    assert (m2.new_vertices, m2.new_edges) == (0, 0)  # ...but nothing new
    assert store2.objects().count() == 6
    assert store2.relationships().count() == 4


def test_checkpoint_resume_processes_only_new_data(spark, tmp_path):
    """T4/T5: with the SAME checkpoint, a restart skips consumed offsets
    (Spark's bookkeeping replaces the reference's manual replay)."""
    topic, sc = _framed_topic(spark, tmp_path, with_corrupt=False)
    store, ing, m1 = _ingest(spark, tmp_path, topic, sc, "a")
    assert m1.valid_rows == 4

    df2 = spark.createDataFrame([("Don Vito", "Phone", "555-0100")], ["S", "P", "O"])
    framed2 = to_confluent_avro(df2, sc, schema_id=2).withColumns(
        {
            "topic": F.lit("spo"),
            "partition": F.lit(0).cast("int"),
            "offset": F.lit(100).cast("long"),
        }
    ).select("key", "value", "topic", "partition", "offset")
    topic.write_batch(framed2)

    ing._reset()  # fresh per-run counters; reuse checkpoint 'a'
    q = ing.start(topic.read_stream(), available_now=True)
    q.awaitTermination(120)
    assert ing.metrics.valid_rows == 1  # only the new message
    assert store.objects().count() == 7
    assert store.relationships().count() == 5


def _event_stream(spark, tmp_path):
    rows = [
        # two users; user 2's 00:05 view arrives twice
        Row(event_id=0, ts="2024-01-01 00:00:00", user_id=1, event_type="view", value=1.0),
        Row(event_id=1, ts="2024-01-01 00:10:00", user_id=1, event_type="view", value=2.0),
        Row(event_id=2, ts="2024-01-01 01:00:00", user_id=1, event_type="click", value=3.0),
        Row(event_id=3, ts="2024-01-01 00:05:00", user_id=2, event_type="view", value=4.0),
        Row(event_id=4, ts="2024-01-01 00:05:00", user_id=2, event_type="view", value=4.0),
    ]
    path = str(tmp_path / "events_stream")
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(df.schema).parquet(path)


def test_running_count_update_mode(spark, tmp_path):
    """A1: the reference's only aggregate is a running counter
    (src/main.cpp:243-251); the streaming analogue is an unwindowed
    groupBy().count() in update mode — state lives in the aggregation,
    not the application."""
    counts = _event_stream(spark, tmp_path).groupBy("event_type").count()
    q = (
        counts.writeStream.format("memory")
        .queryName("t_running_count")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_type: r["count"] for r in spark.sql("SELECT * FROM t_running_count").collect()}
    assert got == {"view": 4, "click": 1}


def test_counters_listener_tracks_progress(spark, tmp_path):
    """T3/A1 observability: the StreamingQueryListener port of the
    reference's runtime counters (src/main.cpp:243-253) must see query
    start, every micro-batch's row count, and clean termination."""
    import time

    from consume_kafka_avro_data_spark.streaming.metrics import (
        attach_counters,
        detach_counters,
    )

    listener = attach_counters(spark)
    try:
        topic, sc = _framed_topic(spark, tmp_path, with_corrupt=False)
        stream = topic.read_stream(max_files_per_trigger=1)
        q = (
            stream.writeStream.format("noop")
            .queryName("counter_probe")
            .option("checkpointLocation", str(tmp_path / "ckpt_listener"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener bus delivery is async; poll briefly for the terminal event
        for _ in range(50):
            snap = listener.snapshot()
            if snap.terminated >= 1 and snap.input_rows >= len(TRIPLES):
                break
            time.sleep(0.2)
        snap = listener.snapshot()
        assert snap.started >= 1
        assert snap.terminated >= 1
        assert snap.failed == 0
        assert snap.batches >= 1
        assert snap.input_rows == len(TRIPLES)
        assert snap.rows_by_query.get("counter_probe") == len(TRIPLES)
    finally:
        detach_counters(spark, listener)


# ---------------------------------------------------------------------------
# live-smoke dry path (VERDICT r02 item 6) — brokerless coverage of the
# kafka option assembly and the --packages pin
# ---------------------------------------------------------------------------


def test_kafka_reader_options_from_live_smoke_config():
    """The option map the live job would hand the kafka datasource,
    assembled from configs/live_smoke.yaml with no broker involved."""
    import os

    import yaml

    from consume_kafka_avro_data_spark.config import load_config
    from consume_kafka_avro_data_spark.sources.kafka import (
        KAFKA_PACKAGE,
        kafka_reader_options,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfg_path = os.path.join(repo, "configs", "live_smoke.yaml")
    config = load_config(cfg_path)
    with open(cfg_path) as f:
        engine = yaml.safe_load(f)["engine"]

    topic = config.schemas[0].name
    opts = kafka_reader_options(
        config,
        topic,
        starting_offsets="earliest",
        max_offsets_per_trigger=engine.get("max_offsets_per_trigger"),
        fail_on_data_loss=engine.get("fail_on_data_loss"),
    )
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "spo",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "10000",
        "failOnDataLoss": "false",
    }
    # the config's --packages pin must match the engine's constant
    assert engine["kafka_package"] == KAFKA_PACKAGE
    # coordinate's artifact version tracks the installed pyspark build
    import pyspark

    assert KAFKA_PACKAGE.rsplit(":", 1)[1] == pyspark.__version__


def test_kafka_reader_options_defaults_omit_optional_keys():
    from consume_kafka_avro_data_spark.config import parse_config
    from consume_kafka_avro_data_spark.sources.kafka import kafka_reader_options

    cfg = parse_config(
        {
            "kafka": {"bootstrap.servers": "b:9092"},
            "type_map": {"t": {"key_column": "k", "columns": ["k"]}},
            "column_map": {"k": "k"},
        }
    )
    opts = kafka_reader_options(cfg, "t")
    assert opts == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "earliest",
    }


def test_live_smoke_dry_run_exits_clean():
    """scripts/live_smoke.py --dry-run validates config + schema
    assembly + reader options without touching any service."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "live_smoke.py"), "--dry-run"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert "config ok: topic=spo" in proc.stdout
    assert "--packages org.apache.spark:spark-sql-kafka-0-10" in proc.stdout
    assert "'failOnDataLoss': 'false'" in proc.stdout
    assert "dry-run: config + schema assembly + reader options validated" in proc.stdout
    assert "warning" not in proc.stderr


def test_dlq_json_recovery_feeds_back_into_graph(spark, tmp_path):
    """The reference could only COUNT its raw-JSON corruption (Invalid
    CP1 magic byte 123, 4x in its production log); with the DLQ
    retaining raw frames, recover_json_frames re-decodes the JSON dead
    letters and the idempotent merge absorbs them — while genuinely
    dead frames stay dead."""
    from consume_kafka_avro_data_spark.operators.graph import triples_from
    from consume_kafka_avro_data_spark.sources.avro_codec import (
        recover_json_frames,
    )

    topic, sc = _framed_topic(spark, tmp_path)  # 4 valid + 1 raw JSON
    extra = spark.createDataFrame(
        [
            Row(  # complete JSON triple — fully recoverable
                key=bytearray(b"junk2"),
                value=bytearray(
                    b'{"subject": "Consigliere Tom", '
                    b'"predicate": "Advises", "object": "Don Vito"}'
                ),
                topic="spo",
                partition=0,
                offset=1000,
            ),
            Row(  # neither CP1 nor JSON — stays dead
                key=bytearray(b"junk3"),
                value=bytearray(b"\x01not json, not avro"),
                topic="spo",
                partition=0,
                offset=1001,
            ),
        ]
    )
    topic.write_batch(extra)
    store, ing, m = _ingest(spark, tmp_path, topic, sc, "a")
    assert m.error_rows == 3

    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    rec = recover_json_frames(dlq, sc)
    recovered = rec.where("_recovered")
    assert rec.where("NOT _recovered").count() == 1
    by_subject = {r["subject"]: r for r in recovered.collect()}
    assert set(by_subject) == {"raw json", "Consigliere Tom"}
    assert by_subject["raw json"]["predicate"] is None  # partial JSON
    assert by_subject["Consigliere Tom"]["object"] == "Don Vito"

    # the API's own _complete flag marks the rows safe to feed back
    # unfiltered: one new subject vertex + one new edge land (Don Vito
    # already exists; the merge is idempotent so replay is always safe)
    assert {r["subject"]: r["_complete"] for r in recovered.collect()} == {
        "raw json": False,
        "Consigliere Tom": True,
    }
    nv_before = store.objects().count()
    complete = rec.where("_complete")
    triples = triples_from(complete, "subject", "predicate", "object")
    nv, ne = store.ingest_triples(triples, created_at="2024-01-01")
    assert (nv, ne) == (1, 1)
    assert store.objects().count() == nv_before + 1


def test_kafka_reader_options_require_bootstrap_servers():
    """A job config without kafka.bootstrap.servers must fail at option
    assembly with the config-layer error, not at stream start with the
    Kafka client's cryptic no-resolvable-urls message."""
    from consume_kafka_avro_data_spark.config import ConfigError, parse_config
    from consume_kafka_avro_data_spark.sources.kafka import kafka_reader_options

    cfg = parse_config(
        {
            "kafka": {},
            "type_map": {"t": {"key_column": "k", "columns": ["k"]}},
            "column_map": {"k": "k"},
        }
    )
    with pytest.raises(ConfigError, match="bootstrap.servers"):
        kafka_reader_options(cfg, "t")


def test_graph_ingest_auto_compaction_replay_safe(spark, tmp_path):
    """compact_every=1 keeps the graph tables at one file each instead
    of one per merged batch, with contents intact — and a full replay
    (fresh checkpoint) across the compaction boundary stays idempotent
    (the merge is content-based, so compaction cannot confuse it)."""
    topic, sc = _framed_topic(spark, tmp_path, with_corrupt=False)
    store = GraphStore(spark, str(tmp_path / "graph"))
    ing = StreamingGraphIngest(
        spark,
        store,
        sc,
        checkpoint_dir=str(tmp_path / "ckpt_a"),
        created_at="2024-01-01",
        compact_every=1,
    )
    m = ing.run_to_completion(topic.read_stream(max_files_per_trigger=1))
    assert m.valid_rows == 4
    obj_t = store._tables[store.objects_path]
    rel_t = store._tables[store.relationships_path]
    assert len(obj_t.files()) == 1
    assert len(rel_t.files()) == 1
    assert store.objects().count() == 6
    assert store.relationships().count() == 4

    # full replay with a fresh checkpoint over the compacted store
    ing2 = StreamingGraphIngest(
        spark,
        store,
        sc,
        checkpoint_dir=str(tmp_path / "ckpt_b"),
        created_at="2024-01-01",
        compact_every=1,
    )
    m2 = ing2.run_to_completion(topic.read_stream(max_files_per_trigger=1))
    assert (m2.new_vertices, m2.new_edges) == (0, 0)
    assert store.objects().count() == 6
    assert store.relationships().count() == 4


def test_graph_compaction_not_rerun_on_replayed_batch(spark, tmp_path):
    """A retried batch must not rewrite the graph store once per retry
    (batches does not advance on a replay — dedup-ingest gating)."""
    topic, sc = _framed_topic(spark, tmp_path, with_corrupt=False)
    store = GraphStore(spark, str(tmp_path / "graph"))
    ing = StreamingGraphIngest(
        spark,
        store,
        sc,
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every=1,
    )
    batch = spark.read.parquet(str(tmp_path / "topic"))
    ing.process_batch(batch, 0)
    v = store._tables[store.objects_path].version()

    def counters():
        m = ing.metrics
        return (m.batches, m.valid_rows, m.error_rows, m.new_vertices, m.new_edges)

    first = counters()
    assert first == (1, 4, 0, 6, 4)
    ing.process_batch(batch, 0)  # replay
    assert store._tables[store.objects_path].version() == v
    # the replay replaces batch 0's record with the same numbers, and
    # merges nothing new
    assert counters() == first


@pytest.mark.parametrize("kind", ["graph", "dedup"])
def test_replay_behind_the_window_is_refused_before_writing(spark, tmp_path, kind):
    """One replay contract on both benchmarked ingests: with a window
    of 2, a replay of batch 0 after five batches is refused — its
    record is folded, so it can be neither replaced nor told apart from
    new work — and it changes no counter and no stored row."""
    from consume_kafka_avro_data_spark.streaming.dedup import StreamingDedupIngest

    ckpt = str(tmp_path / "ckpt")
    if kind == "graph":
        sc = parse_config(SPO_DOC).schema_for("spo")
        store = GraphStore(spark, str(tmp_path / "graph"))
        ing = StreamingGraphIngest(spark, store, sc, ckpt, expected_schema_id=2)
        batches = [
            to_confluent_avro(
                spark.createDataFrame([(f"S{b}", "P", f"O{b}")], ["S", "P", "O"]),
                sc,
                schema_id=2,
            ).select(F.col("key").cast("binary"), "value")
            for b in range(5)
        ]

        def state():
            m = ing.metrics
            return (
                m.batches, m.valid_rows, m.error_rows, m.new_vertices,
                m.new_edges, store.objects().count(), store.relationships().count(),
            )

        want = (5, 5, 0, 10, 5, 10, 5)
    else:
        ing = StreamingDedupIngest(spark, str(tmp_path / "store"), ckpt)
        batches = [
            spark.createDataFrame(
                [(b, " ".join(f"w{b}x{i}" for i in range(40)))],
                "doc_id long, text string",
            )
            for b in range(5)
        ]

        def state():
            m = ing.metrics
            return (m.batches, m.docs, m.novel_docs, m.dup_docs, ing.store.read().count())

        want = (5, 5, 5, 0, 5)
    ing.metrics.ledger.horizon = 2
    for b, batch in enumerate(batches):
        ing.process_batch(batch, b)
    assert state() == want
    with pytest.raises(RuntimeError, match="compacted"):
        ing.process_batch(batches[0], 0)
    assert state() == want


def test_batch_ledger_loses_no_record_under_concurrent_writers_and_readers():
    """The ledger's one lock serializes records against polls: with
    more writer threads than cores, a fast thread switch and readers
    polling throughout, every admitted record is counted exactly once
    in the total, the batch count and the folded part plus the window
    (a lost update would break the sums)."""
    import itertools
    import sys
    import threading

    from consume_kafka_avro_data_spark.streaming.lifecycle import BatchLedger

    ledger = BatchLedger(horizon=32)
    ids = itertools.count()
    admitted = []  # list.append is atomic
    stop = threading.Event()

    def write():
        for _ in range(300):
            b = next(ids)
            try:
                ledger.record(b, {"rows": 1, "by": {b % 3: 1}})
                admitted.append(b)
            except RuntimeError:  # drew an id, then fell behind the window
                pass

    def poll():
        while not stop.is_set():
            total = ledger.total()
            assert total.get("rows", 0) == sum(total.get("by", {}).values())

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        readers = [threading.Thread(target=poll) for _ in range(2)]
        writers = [threading.Thread(target=write) for _ in range(8)]
        for t in readers + writers:
            t.start()
        for t in writers:
            t.join(60)
        stop.set()
        for t in readers:
            t.join(60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in readers + writers)
    n = len(admitted)
    assert n > 0
    assert ledger.batches == n
    assert ledger.total()["rows"] == n
    live = sum(r["rows"] for r in ledger.records().values())
    assert ledger.folded.get("rows", 0) + live == n


def test_audit_write_replaces_its_batch_partition(spark, tmp_path):
    """The side-output contract every ingest relies on (DLQ, gate
    rejects, dupes): batch ``n`` lands under ``batch_id=<n>``, a
    replayed batch replaces its own rows rather than appending, the
    other batches stay untouched, and the whole dir reads back with
    ``batch_id`` as an int partition column after the stream's own."""
    from pyspark.sql.types import IntegerType

    from consume_kafka_avro_data_spark.sources.kafka import KAFKA_SHAPE

    def dead_letters(*values):
        return spark.createDataFrame(
            [(b"k", v, "spo", 0, i) for i, v in enumerate(values)], KAFKA_SHAPE
        )

    ing = StreamingGraphIngest(
        spark,
        GraphStore(spark, str(tmp_path / "graph")),
        parse_config(SPO_DOC).schema_for("spo"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dlq_dir=str(tmp_path / "dlq"),
        expected_schema_id=2,
    )
    b1 = dead_letters(b'{"s": 2}')
    ing.process_batch(dead_letters(b'{"s": 0}', b'{"s": 1}'), 0)
    ing.process_batch(b1, 1)
    ing.process_batch(b1, 1)  # foreachBatch replay of batch 1

    dlq_dir = tmp_path / "dlq"
    assert sorted(p.name for p in dlq_dir.iterdir()) == ["batch_id=0", "batch_id=1"]
    dlq = spark.read.parquet(str(dlq_dir))
    assert dlq.columns == ["key", "value", "_error", "batch_id"]
    assert dlq.schema["batch_id"].dataType == IntegerType()
    assert sorted((r.batch_id, bytes(r.value)) for r in dlq.collect()) == [
        (0, b'{"s": 0}'),
        (0, b'{"s": 1}'),
        (1, b'{"s": 2}'),
    ]
    assert ing.metrics.error_rows == 3


def test_dead_letter_reasons_reach_the_driver_as_one_row_per_reason():
    """A partition hands the driver one (reason, count) row per distinct
    reason, however many frames it dead-letters, and nothing when it
    has none."""
    import pyarrow as pa

    from consume_kafka_avro_data_spark.streaming.ingest import _count_reasons

    b = pa.RecordBatch.from_pydict({"_error": ["bad magic"] * 5000 + ["short"]})
    out = [o.to_pydict() for o in _count_reasons(iter([b, b]))]
    assert out == [{"_error": ["bad magic", "short"], "n": [10000, 2]}]
    assert list(_count_reasons(iter([]))) == []


@pytest.mark.parametrize("with_dlq", [True, False], ids=["dlq", "no_dlq"])
def test_counters_are_exact_and_clean_batches_write_no_dlq(spark, tmp_path, with_dlq):
    """The counters come from one observed pass: a batch that mixes two
    dead-letter reasons counts each exactly, a clean batch and an empty
    batch add no dead letters and create no ``dlq/`` dir, and running
    without a DLQ gives the same counters.  The pass leaves the session
    serializable, as closures that capture it (an ML model's training
    summary) need."""
    from consume_kafka_avro_data_spark.sources.kafka import KAFKA_SHAPE

    topic, sc = _framed_topic(spark, tmp_path, with_corrupt=False)
    valid = topic.read_batch()
    dead = spark.createDataFrame(
        [(b"k", b'{"s": 0}', "spo", 0, 100), (b"k", b'{"s": 1}', "spo", 0, 101),
         (b"k", b"\x00\x01", "spo", 0, 102)],
        KAFKA_SHAPE,
    )
    dlq_dir = tmp_path / "dlq"
    ing = StreamingGraphIngest(
        spark,
        GraphStore(spark, str(tmp_path / "graph")),
        sc,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dlq_dir=str(dlq_dir) if with_dlq else None,
        expected_schema_id=2,
    )
    ing.process_batch(valid, 0)
    ing.process_batch(spark.createDataFrame([], KAFKA_SHAPE), 1)
    m = ing.metrics
    assert (m.batches, m.valid_rows, m.error_rows, m.errors_by_reason) == (2, 4, 0, {})
    assert not dlq_dir.exists()

    ing.process_batch(valid.unionByName(dead), 2)
    assert (m.batches, m.valid_rows, m.error_rows) == (3, 8, 3)
    assert m.errors_by_reason == {
        "Invalid CP1 magic byte 123, expected 0": 2,
        "frame too short (2 bytes)": 1,
    }
    assert (m.new_vertices, m.new_edges) == (6, 4)
    if with_dlq:
        assert sorted(p.name for p in dlq_dir.iterdir()) == ["batch_id=2"]
        assert spark.read.parquet(str(dlq_dir)).count() == 3
    else:
        assert not dlq_dir.exists()
    spark._jvm.org.apache.spark.util.Utils.serialize(spark._jsparkSession)
