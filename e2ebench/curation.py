"""Workload ``curation_stream``: the LLM-data curation loop.

A seeded document stream goes through ``StreamingDedupIngest`` with its
model-free pre-dedup gates (C4 line cleaning, heuristic quality, Gopher
repetition, decontamination against an eval set) and MinHash-LSH dedup
against its signature store.  After each batch, six keyed reads of the
signature store (a ``ManifestTable``) run: four novel documents, two
rejected.  The stream bypasses Avro and the graph store.

The three model gates (learned quality, DSIR, LM perplexity) are not in
the timed stream: their fits in a fresh JVM take ~30 s, which the run
budget cannot carry in every run.  A traced run fits them after the
timed phase, on a separate training split, for the fit layers.
"""

from __future__ import annotations

import os
import time

import gen
import probe
from checks import check_lookups, check_routing
from harness import Stream, closed_loop
from probe import read_dir

#: heuristic quality cut: clean generated docs score ~0.95, one-line
#: repetition spam ~0.75
QUALITY_THRESHOLD = 0.85
#: LM cut, as a multiple of the worst held-out clean document's avg_nll
LM_MARGIN = 1.5
REJECT_GATES = ("c4", "quality", "gopher_rep")


def fit_models(ctx) -> dict:
    """Fit the model gates' classifier, DSIR and order-2 KN LM (not
    ``BigramKN``) on the training split, and set the LM cut from
    held-out clean documents' scores.  Each fit's seconds go to
    ``quality.fit_s``, ``dsir.fit_s`` and ``lm.fit_s``."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.dsir import dsir_fit
    from consume_kafka_avro_data_spark.operators.lm import NgramKN
    from consume_kafka_avro_data_spark.operators.quality import (
        quality_training_frame,
        train_quality_classifier,
    )

    spark = ctx.spark
    trusted, raw, heldout = gen.training_split(ctx.seed)
    tdf = spark.createDataFrame([(t,) for t in trusted], "text string")
    rdf = spark.createDataFrame([(t,) for t in raw], "text string")
    models = {}
    t0 = time.perf_counter()
    models["quality"] = train_quality_classifier(
        quality_training_frame(tdf, rdf), n_features=1 << 12, max_iter=5
    )
    t1 = time.perf_counter()
    models["dsir"] = dsir_fit(tdf, rdf, engine="jvm")
    t2 = time.perf_counter()
    models["lm"] = lm = NgramKN.fit(tdf, order=2)
    held = spark.createDataFrame(list(enumerate(heldout)), "doc_id long, text string")
    models["lm_threshold"] = LM_MARGIN * lm.score(held).agg(F.max("avg_nll")).first()[0]
    t3 = time.perf_counter()
    ctx.layer.update({"quality.fit_s": t1 - t0, "dsir.fit_s": t2 - t1, "lm.fit_s": t3 - t2})
    return models


def build_ingest(spark, root: str, evals: list[str]):
    """The single call site of ``StreamingDedupIngest``: every gate the
    workload runs is switched on here, each with its own audit directory
    under ``root``."""
    from consume_kafka_avro_data_spark.streaming.dedup import StreamingDedupIngest

    eval_df = spark.createDataFrame([(t,) for t in evals], "text string")
    rejects = os.path.join(root, "rejects")
    return StreamingDedupIngest(
        spark,
        store_dir=os.path.join(root, "store"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        dupes_dir=os.path.join(root, "dupes"),
        c4=True,
        c4_rejects_dir=os.path.join(rejects, "c4"),
        quality_threshold=QUALITY_THRESHOLD,
        rejects_dir=os.path.join(rejects, "quality"),
        gopher_rep=True,
        gopher_rep_rejects_dir=os.path.join(rejects, "gopher_rep"),
        eval_docs=eval_df,
        contam_gram_n=gen.GRAM_N,
        contam_dir=os.path.join(root, "contaminated"),
    )


class Pipeline:
    """A document directory, the dedup ingest's streaming query and its
    signature store."""

    def __init__(self, spark, root: str, evals: list[str]):
        self.root = root
        self.topic_dir = os.path.join(root, "topic")
        os.makedirs(self.topic_dir, exist_ok=True)
        self.ingest = build_ingest(spark, root, evals)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.topic_dir)
        )
        self.stream = Stream(self.ingest, stream)

    def write(self, index: int, f: gen.CurationFile) -> None:
        gen.write_doc_file(os.path.join(self.topic_dir, f"part-{index + 1000:06d}.parquet"), f.docs)

    def records(self) -> int:
        return self.ingest.metrics.docs

    def lookup(self, doc_id: int) -> int | None:
        """Keyed read of the signature store."""
        from pyspark.sql import functions as F

        rows = self.ingest.store.read().where(F.col("_id") == doc_id).select("_id").limit(1).collect()
        return rows[0]["_id"] if rows else None


def _setup(ctx) -> tuple[Pipeline, gen.CurationFile, float]:
    """Session, the ingest (which builds its eval-set gram table at
    construction) and its running query, and one warm-up micro-batch
    (input disjoint from the timed stream) plus a lookup.  Returns the
    pipeline, the warm-up file and ``setup_s``."""
    ctx.start_session()
    if ctx.tracer:
        # before the query starts: foreachBatch keeps the method it is given
        _install_spans(ctx.tracer)
    t0 = time.perf_counter()
    evals = gen.eval_docs(ctx.seed)
    warmup = gen.curation_file(ctx.seed, -1, None, evals)
    gen_s = time.perf_counter() - t0
    pipe = Pipeline(ctx.spark, ctx.dir("timed"), evals)
    pipe.write(-1, warmup)
    pipe.stream.wait()
    pipe.lookup(warmup.docs[0][0])
    return pipe, warmup, ctx.ready(gen_s)


def _lookups_for(seed: int, index: int, f: gen.CurationFile) -> list[tuple[int, bool]]:
    """Four base documents (novel, so stored) and two spam documents
    (rejected, so absent)."""
    rng = gen.seeded(seed, 6, index)
    bases = [i for i, _ in f.docs if f.kind[i] == "base"]
    spam = [i for i, _ in f.docs if f.kind[i] == "spam"]
    return [(bases[int(j)], True) for j in rng.choice(len(bases), 4, replace=False)] + [
        (spam[int(j)], False) for j in rng.choice(len(spam), 2, replace=False)
    ]


def _install_spans(tracer) -> None:
    from consume_kafka_avro_data_spark.operators.store import ManifestTable
    from consume_kafka_avro_data_spark.streaming.dedup import StreamingDedupIngest

    tracer.wrap(StreamingDedupIngest, "process_batch", "dedup.batch")
    tracer.wrap(ManifestTable, "merge_new", "store.merge_new")
    tracer.wrap(ManifestTable, "stage", "store.stage")
    tracer.wrap(ManifestTable, "publish", "store.publish")
    tracer.wrap(Pipeline, "lookup", "store.lookup")


def run(ctx) -> dict:
    pipe, warmup, setup_s = _setup(ctx)
    evals = gen.eval_docs(ctx.seed)
    rounds = closed_loop(
        ctx,
        pipe,
        # every timed file holds near-duplicates of its predecessor's docs
        lambda i, prev: gen.curation_file(ctx.seed, i, prev or warmup, evals),
        lambda i, f: _lookups_for(ctx.seed, i, f),
        "dedup.batch",
        min_rounds=1,
    )
    _checks(ctx, pipe, rounds, [warmup] + rounds.inputs)
    ctx.mark("checks done")
    if ctx.tracer:
        store = pipe.ingest.store
        paths = [os.path.join(store.path, f) for f in store.files()]
        ctx.layer["store.files"] = len(paths)
        ctx.layer["store.mb"] = sum(os.path.getsize(p) for p in paths) / 2**20
        fit_models(ctx)
    return rounds.e2e(setup_s)


def _checks(ctx, pipe: Pipeline, rounds, files: list[gen.CurationFile]) -> None:
    root = pipe.root
    outputs = {
        "store": [r["_id"] for r in pipe.ingest.store.read().select("_id").collect()],
        "contaminated": [i for i, in read_dir(os.path.join(root, "contaminated"), "doc_id")],
    }
    for g in REJECT_GATES:
        outputs[f"rejects/{g}"] = [i for i, in read_dir(os.path.join(root, "rejects", g), "doc_id")]
    routed = read_dir(os.path.join(root, "dupes"), "dup_id", "match_id")
    outputs["dupes"] = [d for d, _ in routed]
    docs = {i: t for f in files for i, t in f.docs}
    kind = {i: k for f in files for i, k in f.kind.items()}
    pairs = [p for f in files for p in f.near_pairs]
    ctx.check("routing", check_routing(outputs, docs, kind, pairs, routed))
    ctx.check("lookups", check_lookups(rounds.lookups, {i: i for i in outputs["store"]}))


def trace_layers(ctx) -> None:
    """Per-layer figures from the spans and the (closed) event log."""
    t = ctx.tracer
    log = probe.EventLog.read(ctx.event_log)
    batches = t.named("dedup.batch")
    n = max(len(batches), 1)
    per_batch = log.in_spans(batches)
    merges = [s for s in t.named("store.merge_new") if s.parent is not None]
    ctx.layer.update(
        {
            "dedup.batch_s": probe.median(t.durations("dedup.batch")),
            "dedup.jobs_per_batch": per_batch["jobs"] / n,
            "dedup.tasks_per_batch": per_batch["tasks"] / n,
            "dedup.merge_s": probe.median([s.end - s.start for s in merges]),
            "batch.exec_cpu_s": per_batch["exec_cpu_s"] / n,
            "batch.shuffle_mb": per_batch["shuffle_mb"] / n,
            "store.merge_new_s": probe.median(t.durations("store.merge_new")),
            "store.stage_s": probe.median(t.durations("store.stage")),
            "store.publish_s": probe.median(t.durations("store.publish")),
            "store.lookup_s": probe.median(t.durations("store.lookup")),
        }
    )
