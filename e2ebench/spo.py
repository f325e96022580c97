"""Workload ``spo_stream``: the reference's own loop.

A seeded topic of Confluent-Avro SPO frames is replayed through
``StreamingGraphIngest`` into a ``GraphStore``, one topic file per
micro-batch (``maxFilesPerTrigger=1``).  After each batch, three keyed
``GraphStore.get_object_id`` lookups run: two present names, one
absent.  The store gains files every batch, so a write-side gain that
slows reads shows up in ``lookup_p50_s``.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
import probe
from checks import check_dlq, check_graph, check_lookups, check_replay
from harness import QUERY_TIMEOUT_S, Stream, closed_loop
from probe import read_dir

#: warm-up files, through the same query before the timed phase: a
#: fresh JVM's first micro-batch costs several warm ones, and the second
#: one still half as much again as the third
WARMUP_FILES = 2
#: a JVM this young still speeds up from one batch to the next, so
#: every run measures the same sequence of batches: at least this many
#: rounds, whatever ``--seconds`` allows (3-5 s each on a 4-core box);
#: their median CPU is robust to one round that JIT compilation inflates
MIN_ROUNDS = 3


def _schema():
    from consume_kafka_avro_data_spark.config import parse_config

    doc = {
        "kafka": {},
        "type_map": {"spo": {"key_column": "subject", "columns": ["S", "P", "O"]}},
        "column_map": {"S": "subject", "P": "predicate", "O": "object"},
    }
    return parse_config(doc).schema_for("spo")


def _ingest(spark, store, root: str, dlq: bool = True):
    from consume_kafka_avro_data_spark.streaming.ingest import StreamingGraphIngest

    return StreamingGraphIngest(
        spark,
        store,
        _schema(),
        checkpoint_dir=os.path.join(root, "ckpt"),
        dlq_dir=os.path.join(root, "dlq") if dlq else None,
        expected_schema_id=gen.SCHEMA_ID,
        created_at="2024-01-01",
    )


class Pipeline:
    """A topic directory, a graph store, and the ingest's streaming
    query between them."""

    def __init__(self, spark, root: str):
        from consume_kafka_avro_data_spark.operators.graph import GraphStore
        from consume_kafka_avro_data_spark.sources.kafka import FileStreamStandIn

        self.topic_dir = os.path.join(root, "topic")
        os.makedirs(self.topic_dir, exist_ok=True)
        self.topic = FileStreamStandIn(spark, self.topic_dir)
        self.store = GraphStore(spark, os.path.join(root, "graph"))
        self.ingest = _ingest(spark, self.store, root)
        self.stream = Stream(self.ingest, self.topic.read_stream(max_files_per_trigger=1))

    def write(self, index: int, f: gen.SpoFile) -> None:
        path = os.path.join(self.topic_dir, f"part-{index + 1000:06d}.parquet")
        gen.write_spo_file(path, f, first_offset=(index + 1000) * gen.FRAMES_PER_FILE)

    def records(self) -> int:
        return self.ingest.metrics.valid_rows

    def lookup(self, name: str) -> int | None:
        return self.store.get_object_id(name)


def _setup(ctx) -> tuple[Pipeline, list[gen.SpoFile], float]:
    """Session, store, the running query, and the warm-up files (input
    disjoint from the timed topic's) through it, each followed by a
    lookup.  Returns the pipeline, the warm-up files and ``setup_s``."""
    ctx.start_session()
    if ctx.tracer:
        # before the query starts: foreachBatch keeps the method it is given
        _install_spans(ctx.tracer)
    pipe = Pipeline(ctx.spark, ctx.dir("timed"))
    files, gen_s = [], 0.0
    for index in range(-WARMUP_FILES, 0):
        t0 = time.perf_counter()
        files.append(gen.spo_file(ctx.seed, index))
        gen_s += time.perf_counter() - t0
        pipe.write(index, files[-1])
        pipe.stream.wait()
        pipe.lookup(files[-1].triples[0][0])
    return pipe, files, ctx.ready(gen_s)


def _install_spans(tracer) -> None:
    from consume_kafka_avro_data_spark.operators.graph import GraphStore
    from consume_kafka_avro_data_spark.operators.store import ManifestTable
    from consume_kafka_avro_data_spark.streaming.ingest import StreamingGraphIngest

    tracer.wrap(StreamingGraphIngest, "process_batch", "ingest.batch")
    tracer.wrap(GraphStore, "ingest_triples", "graph.ingest_triples")
    tracer.wrap(GraphStore, "get_object_id", "graph.lookup")
    tracer.wrap(ManifestTable, "merge_new", "store.merge_new")
    tracer.wrap(ManifestTable, "stage", "store.stage")
    tracer.wrap(ManifestTable, "publish", "store.publish")


def run(ctx) -> dict:
    pipe, warmup, setup_s = _setup(ctx)
    names: list[str] = []  # committed names, in first-seen order
    known: set[str] = set()

    def lookups_for(i: int, f: gen.SpoFile) -> list[tuple[str, bool]]:
        for s, _, o in f.triples:
            for n in (s, o):
                if n not in known:
                    known.add(n)
                    names.append(n)
        return gen.spo_lookups(ctx.seed, i, names)

    rounds = closed_loop(
        ctx,
        pipe,
        lambda i, _: gen.spo_file(ctx.seed, i),
        lookups_for,
        "ingest.batch",
        MIN_ROUNDS,
    )
    _checks(ctx, pipe, rounds, warmup + rounds.inputs)
    ctx.mark("checks done")
    if ctx.tracer:
        _trace_extras(ctx, pipe)
    return rounds.e2e(setup_s)


def _checks(ctx, pipe: Pipeline, rounds, files: list[gen.SpoFile]) -> None:
    objects = [(r["id"], r["object_name"]) for r in pipe.store.objects().collect()]
    edges = [
        (r["source_id"], r["target_id"], r["relationship_name"])
        for r in pipe.store.relationships().collect()
    ]
    ctx.check("graph", check_graph(objects, edges, [t for f in files for t in f.triples]))
    dlq_rows = read_dir(pipe.ingest.dlq_dir, "value", "_error")
    ctx.check("dlq", check_dlq(dlq_rows, [b for f in files for b in f.bad_frames]))
    ctx.check("lookups", check_lookups(rounds.lookups, {n: i for i, n in objects}))
    # replay the last topic file against the same store, fresh checkpoint
    from consume_kafka_avro_data_spark.sources.kafka import FileStreamStandIn

    replay_topic = ctx.dir("replay", "topic")
    os.makedirs(replay_topic)
    last = sorted(os.listdir(pipe.topic_dir))[-1]
    shutil.copy(os.path.join(pipe.topic_dir, last), replay_topic)
    again = _ingest(ctx.spark, pipe.store, ctx.dir("replay"), dlq=False)
    m = again.run_to_completion(
        FileStreamStandIn(ctx.spark, replay_topic).read_stream(), timeout=QUERY_TIMEOUT_S
    )
    ctx.check("replay", check_replay(m.new_vertices, m.new_edges))


def _trace_extras(ctx, pipe: Pipeline) -> None:
    """Decode the whole topic once, forced to a noop sink, and measure
    the store's size."""
    from consume_kafka_avro_data_spark.sources.avro_codec import from_confluent_avro

    frames = pipe.topic.read_batch()
    t0 = time.perf_counter()
    decoded = from_confluent_avro(frames, _schema(), gen.SCHEMA_ID)
    decoded.write.format("noop").mode("overwrite").save()
    ctx.layer["avro_codec.decode_s"] = time.perf_counter() - t0
    paths = [
        os.path.join(table, f)
        for table in (pipe.store.objects_path, pipe.store.relationships_path)
        for f in pipe.store._manifest_files(table)
    ]
    ctx.layer["store.files"] = len(paths)
    ctx.layer["store.mb"] = sum(os.path.getsize(p) for p in paths) / 2**20


def trace_layers(ctx) -> None:
    """Per-layer figures from the spans and the (closed) event log."""
    t = ctx.tracer
    log = probe.EventLog.read(ctx.event_log)
    batches = t.named("ingest.batch")
    n = max(len(batches), 1)
    per_batch = log.in_spans(batches)
    lookups = t.named("graph.lookup")
    ctx.layer.update(
        {
            "ingest.batch_self_s": probe.median(t.self_time("ingest.batch")),
            "ingest.jobs_per_batch": per_batch["jobs"] / n,
            "ingest.tasks_per_batch": per_batch["tasks"] / n,
            # process_batch calls beyond one per committed batch
            "ingest.replays": len(batches) - ctx.ops.get("micro_batches", [0])[0],
            "batch.exec_cpu_s": per_batch["exec_cpu_s"] / n,
            "batch.shuffle_mb": per_batch["shuffle_mb"] / n,
            "graph.ingest_triples_s": probe.median(t.durations("graph.ingest_triples")),
            "graph.lookup_s": probe.median(t.durations("graph.lookup")),
            "graph.lookup_jobs": log.in_spans(lookups)["jobs"] / max(len(lookups), 1),
            "store.merge_new_s": probe.median(t.durations("store.merge_new")),
            "store.stage_s": probe.median(t.durations("store.stage")),
            "store.publish_s": probe.median(t.durations("store.publish")),
        }
    )
