"""Steady-state micro-batches reuse their generated code.

A foreachBatch ingest runs the same plans every trigger, so once a
stream has seen a batch shape, a later batch of that shape must compile
no new Java: no batch-varying literal may reach generated code, and the
JVM's generated-code cache must hold a whole batch's classes.  The
count is Spark's own ``CodegenMetrics`` compile counter, read around
``process_batch``.  The first batches of a stream still compile: plans
change shape while the store fills (an empty store, then AQE's join
choices on a growing one), once per stream."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from consume_kafka_avro_data_spark.config import parse_config
from consume_kafka_avro_data_spark.operators.graph import GraphStore
from consume_kafka_avro_data_spark.sources.avro_codec import to_confluent_avro
from consume_kafka_avro_data_spark.sources.kafka import FileStreamStandIn
from consume_kafka_avro_data_spark.streaming.dedup import StreamingDedupIngest
from consume_kafka_avro_data_spark.streaming.ingest import StreamingGraphIngest

SPO_DOC = {
    "kafka": {},
    "type_map": {"spo": {"key_column": "subject", "columns": ["S", "P", "O"]}},
    "column_map": {"S": "subject", "P": "predicate", "O": "object"},
}

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun near the old barn door."
)
NEAR = BASE.replace("lazy dog", "sleepy dog")
NOVEL = [
    "the river carried small boats past the market where traders sold "
    "bright cloth and fresh bread.",
    "engineers measured the bridge cables every spring and logged each "
    "reading in a leather notebook.",
    "a quiet library on the hill kept maps of coastal towns drawn by "
    "sailors long ago.",
    "children planted tomato seeds in the school garden and watered "
    "them before every lesson.",
    "the orchestra tuned its violins while snow drifted against the "
    "tall concert hall windows.",
    "a baker in the harbor town rose before dawn to knead dough for "
    "the fishing crews.",
]
JUNK = ("aaa " * 14).strip() + "."


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs(spark) -> int:
    """The id the DAG scheduler gives its next job: every job submitted,
    broadcast jobs included, advances it."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _compiles_per_batch(spark, ingest, batches) -> tuple[list[int], list[int]]:
    """Compiles and jobs per batch."""
    compiles, jobs = [], []
    for b, batch in enumerate(batches):
        c0, j0 = _compiles(spark), _jobs(spark)
        ingest.process_batch(batch, b)
        compiles.append(_compiles(spark) - c0)
        jobs.append(_jobs(spark) - j0)
    return compiles, jobs


def test_graph_ingest_steady_batch_compiles_nothing(spark, tmp_path):
    """Four same-shape SPO batches, each with one dead letter: the last
    batch's decode, DLQ write and graph merge reuse cached classes.  It
    runs at most 8 jobs (one observed pass for the counters and the
    cache, the DLQ write, 3 per table merge), and a keyed lookup, of a
    present or an absent name, runs none."""
    n = 4
    sc = parse_config(SPO_DOC).schema_for("spo")
    batches = []
    for b in range(n):
        triples = [(f"s{b}_{i}", f"p{i % 2}", f"o{b}_{i}") for i in range(4)]
        framed = to_confluent_avro(
            spark.createDataFrame(triples, ["S", "P", "O"]), sc, schema_id=2
        ).withColumns(
            {
                "topic": F.lit("spo"),
                "partition": F.lit(0),
                "offset": F.monotonically_increasing_id() + 10 * b,
            }
        )
        bad = spark.createDataFrame(
            [Row(key=bytearray(b"junk"), value=bytearray(b'{"s": 1}'),
                 topic="spo", partition=0, offset=10 * b + 9)]
        )
        topic = FileStreamStandIn(spark, str(tmp_path / f"topic_{b}"))
        topic.write_batch(framed)
        topic.write_batch(bad)
        batches.append(topic.read_batch())
    ingest = StreamingGraphIngest(
        spark,
        GraphStore(spark, str(tmp_path / "graph")),
        sc,
        checkpoint_dir=str(tmp_path / "ckpt"),
        dlq_dir=str(tmp_path / "dlq"),
        expected_schema_id=2,
        created_at="2024-01-01",
    )
    store = ingest.store
    compiles, jobs = _compiles_per_batch(spark, ingest, batches)
    assert ingest.metrics.error_rows == n
    assert ingest.metrics.valid_rows == 4 * n
    assert compiles[-1] == 0, compiles
    assert jobs[-1] <= 8, jobs
    j0 = _jobs(spark)
    assert store.get_object_id(f"s{n - 1}_0") is not None
    assert store.get_object_id("nobody") is None
    assert _jobs(spark) == j0


def test_dedup_ingest_steady_batch_compiles_nothing(spark, tmp_path):
    """Six same-shape document batches through the C4, heuristic-quality,
    Gopher and decontamination gates plus MinHash dedup, one quality
    reject per batch and (from batch 1) one near-duplicate of a stored
    doc: the last batch's gate pass, audit and dupes writes, store
    probe and merge reuse cached classes."""
    n = len(NOVEL)
    batches = []
    for b in range(n):
        path = str(tmp_path / f"in_{b}")
        spark.createDataFrame(
            [(10 * b + 1, NOVEL[b]), (10 * b + 2, NEAR if b else BASE),
             (10 * b + 3, JUNK)],
            "doc_id long, text string",
        ).write.parquet(path)
        batches.append(spark.read.parquet(path))
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dupes_dir=str(tmp_path / "dupes"),
        c4=True,
        c4_min_sentences=1,
        c4_rejects_dir=str(tmp_path / "c4_rejects"),
        quality_threshold=0.5,
        rejects_dir=str(tmp_path / "rejects"),
        gopher_rep=True,
        gopher_rep_rejects_dir=str(tmp_path / "rep_rejects"),
        eval_docs=spark.createDataFrame(
            [("an eval passage about orbital mechanics and rocket fuel",)],
            "text string",
        ),
        contam_dir=str(tmp_path / "contam"),
    )
    compiles, _ = _compiles_per_batch(spark, ingest, batches)
    m = ingest.metrics
    assert m.rejected_docs == n and m.contaminated_docs == 0
    assert m.dup_docs == n - 1 and m.novel_docs == n + 1
    assert compiles[-1] == 0, compiles
