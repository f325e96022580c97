"""StreamingDedupIngest: dedup-at-ingest over a file-backed document
stream — planted duplicates must route as dupes against BOTH the
persisted signature store and earlier docs in the same batch, novel
signatures must merge idempotently, and a full replay must leave the
store byte-stable."""

from __future__ import annotations

import pytest

from consume_kafka_avro_data_spark.streaming.dedup import MIN_MATCHES, StreamingDedupIngest

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun near the old barn door"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")
FAR = "completely different content about spark query engines and distributed joins"
ALSO_FAR = (
    "yet another unrelated document describing parquet manifests and "
    "atomic metadata swaps for streaming sinks"
)

BATCH1 = [(1, BASE), (2, BASE), (3, FAR)]  # 2 is an intra-batch dup of 1
BATCH2 = [(4, NEAR), (5, ALSO_FAR)]  # 4 is a near-dup of stored 1


def _doc_stream(spark, tmp_path, batches):
    """One parquet file per micro-batch; maxFilesPerTrigger=1 replays
    them in order."""
    path = str(tmp_path / "docs")
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(path)
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


@pytest.fixture()
def ingest(spark, tmp_path):
    return StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dupes_dir=str(tmp_path / "dupes"),
    )


def test_streaming_dedup_routes_and_merges(spark, tmp_path, ingest):
    stream = _doc_stream(spark, tmp_path, [BATCH1, BATCH2])
    m = ingest.run_to_completion(stream)
    assert m.batches == 2
    assert m.docs == 5
    assert m.dup_docs == 2 and m.novel_docs == 3
    stored = sorted(r["_id"] for r in ingest.store.read().collect())
    assert stored == [1, 3, 5]  # canonicals only; dupes never land
    dupes = {
        r.dup_id: r.match_id
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert dupes == {2: 1, 4: 1}


def test_streaming_dedup_replay_is_idempotent(spark, tmp_path, ingest):
    stream = _doc_stream(spark, tmp_path, [BATCH1, BATCH2])
    ingest.run_to_completion(stream)
    before = sorted(
        (r["_id"], tuple(r["_sim"])) for r in ingest.store.read().collect()
    )
    # fresh checkpoint = full source replay into the SAME store: stored
    # docs must not self-match (id-excluded), dup routing must repeat
    # identically, and merge_new must append nothing
    replay = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    m = replay.run_to_completion(
        _doc_stream(spark, tmp_path, [])  # files already on disk
    )
    after = sorted(
        (r["_id"], tuple(r["_sim"])) for r in replay.store.read().collect()
    )
    assert after == before
    assert m.dup_docs == 2 and m.novel_docs == 3


def test_streaming_dedup_auto_compaction(spark, tmp_path):
    """compact_every=1 collapses the append-per-batch file growth to a
    single file per table generation with contents intact."""
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every=1,
    )
    stream = _doc_stream(spark, tmp_path, [BATCH1, BATCH2])
    ingest.run_to_completion(stream)
    assert len(ingest.store.files()) == 1
    assert sorted(r["_id"] for r in ingest.store.read().collect()) == [1, 3, 5]


def test_streaming_dedup_rejects_mismatched_id_type(spark, tmp_path):
    """A stream whose id column disagrees with the store's bigint keys
    must fail FAST with a clear TypeError — parquet would accept the
    mismatched write and corrupt the store for every later read."""
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    bad = spark.createDataFrame(
        [("a", BASE)], "doc_id string, text string"
    )
    with pytest.raises(TypeError, match="signature store keys are bigint"):
        ingest.process_batch(bad, batch_id=0)
    assert ingest.store.files() == []  # nothing was written


def test_streaming_dedup_replayed_batch_id_skips_counters(spark, ingest):
    batch = spark.createDataFrame(BATCH1, "doc_id long, text string")
    ingest.process_batch(batch, batch_id=0)
    assert ingest.metrics.docs == 3 and ingest.metrics.dup_docs == 1
    ingest.process_batch(batch, batch_id=0)  # foreachBatch replay
    assert ingest.metrics.docs == 3 and ingest.metrics.dup_docs == 1
    assert ingest.metrics.batches == 1


def test_streaming_quality_gate_rejects_before_signing(spark, tmp_path):
    """The batch curation funnel's stage-1 gate at ingest: junk docs
    (quality < τ) must be rejected BEFORE signing — never stored, never
    a duplicate witness — persisted to rejects_dir, and counted so
    rejected + dupes + novel == docs.  A replay rewrites identical
    reject rows (dynamic-overwrite contract) and appends nothing."""
    junk = "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa"
    b1 = [(1, BASE), (2, junk), (3, FAR)]
    b2 = [(4, BASE), (5, ALSO_FAR)]  # 4 dups stored 1

    def make(ckpt):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / ckpt),
            dupes_dir=str(tmp_path / "dupes"),
            quality_threshold=0.5,
            rejects_dir=str(tmp_path / "rejects"),
        )

    stream = _doc_stream(spark, tmp_path, [b1, b2])

    def reread():  # same files, fresh reader (no re-append)
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "docs"))
        )

    ingest = make("ckpt")
    m = ingest.run_to_completion(stream)
    assert m.docs == 5
    assert m.rejected_docs == 1
    assert m.dup_docs == 1 and m.novel_docs == 3
    assert m.rejected_docs + m.dup_docs + m.novel_docs == m.docs

    stored = sorted(r["_id"] for r in ingest.store.read().collect())
    assert stored == [1, 3, 5]  # the junk doc never entered the store
    rejects = spark.read.parquet(str(tmp_path / "rejects")).collect()
    assert [r.doc_id for r in rejects] == [2]
    assert rejects[0].quality < 0.5

    # full replay into the same store: identical routing, no growth
    replay = make("ckpt2")
    m2 = replay.run_to_completion(reread())
    assert m2.rejected_docs == 1 and m2.dup_docs == 1
    assert sorted(r["_id"] for r in replay.store.read().collect()) == stored
    rejects2 = spark.read.parquet(str(tmp_path / "rejects")).collect()
    assert [r.doc_id for r in rejects2] == [2]


def test_streaming_decontamination_gate(spark, tmp_path):
    """Decontamination at ingest: docs sharing >= contam_min_hits
    distinct word 8-grams with the eval corpus are dropped BEFORE
    signing — never stored, never a duplicate witness — persisted with
    hit counts to contam_dir, and counted so contaminated + rejected +
    dupes + novel == docs.  A replay rewrites identical contam rows and
    the store stays byte-stable."""
    eval_docs = spark.createDataFrame([(BASE,)], "text string")

    def make(ckpt):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / ckpt),
            eval_docs=eval_docs,
            contam_dir=str(tmp_path / "contam"),
        )

    # 1 and 2 are verbatim eval text; 4 (NEAR) still shares clean
    # 8-gram windows with BASE outside the single edited bigram — all
    # three must gate out, leaving only the FAR docs to sign.  The
    # 1-vs-2 intra-batch dup pair and the 4-vs-1 store pair disappear
    # WITH them: a contaminated doc is not a duplicate witness.
    stream = _doc_stream(spark, tmp_path, [BATCH1, BATCH2])
    ingest = make("ckpt")
    m = ingest.run_to_completion(stream)
    assert m.docs == 5
    assert m.contaminated_docs == 3
    assert m.dup_docs == 0 and m.novel_docs == 2
    assert (
        m.contaminated_docs + m.rejected_docs + m.dup_docs + m.novel_docs
        == m.docs
    )
    stored = sorted(r["_id"] for r in ingest.store.read().collect())
    assert stored == [3, 5]
    contam = {
        r.doc_id: r.eval_gram_hits
        for r in spark.read.parquet(str(tmp_path / "contam")).collect()
    }
    assert sorted(contam) == [1, 2, 4]
    # verbatim copies hit every eval gram; the near-dup hits fewer
    assert contam[1] == contam[2] > contam[4] >= 1

    # full replay into the same store: identical gating, no growth
    replay = make("ckpt2")
    m2 = replay.run_to_completion(
        _doc_stream(spark, tmp_path, [])  # files already on disk
    )
    assert m2.contaminated_docs == 3 and m2.novel_docs == 2
    assert sorted(r["_id"] for r in replay.store.read().collect()) == stored
    contam2 = {
        r.doc_id: r.eval_gram_hits
        for r in spark.read.parquet(str(tmp_path / "contam")).collect()
    }
    assert contam2 == contam


def test_streaming_decontamination_min_hits_threshold(spark, tmp_path):
    """contam_min_hits above a doc's distinct eval-gram overlap lets it
    through: the near-dup (partial overlap) passes while verbatim eval
    text still gates out."""
    eval_docs = spark.createDataFrame([(BASE,)], "text string")
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        eval_docs=eval_docs,
        contam_min_hits=10**6,  # unreachable: gate must pass everything
    )
    batch = spark.createDataFrame(BATCH1, "doc_id long, text string")
    ingest.process_batch(batch, batch_id=0)
    assert ingest.metrics.contaminated_docs == 0
    assert ingest.metrics.dup_docs == 1 and ingest.metrics.novel_docs == 2


def test_dedup_replay_guard_is_bounded(spark, tmp_path, ingest):
    """The per-batch records must not grow one entry per trigger
    forever: records beyond the ledger's horizon fold into its running
    part (Structured Streaming only retries the most recent uncommitted
    batch within a run, so distant records can never be replaced)."""
    ingest.metrics.ledger.horizon = 2
    batches = [[(10 * b + 1, f"unique text {b} " + BASE)] for b in range(5)]
    stream = _doc_stream(spark, tmp_path, batches)
    m = ingest.run_to_completion(stream, reset_metrics=False)
    assert m.batches == 5 and m.docs == 5
    live = m.ledger.records()
    assert len(live) <= 3
    assert max(live) == 4  # newest kept


def test_null_id_docs_are_gated_null_safely(spark, tmp_path):
    """A NULL-id document that fails a gate must actually LEAVE the
    batch (plain EqualTo never matches NULL in an anti-join): without
    the null-safe gate join it would be counted rejected AND signed/
    merged, double-counting docs and breaking the
    rejected+contaminated+dup+novel == docs invariant."""
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        quality_threshold=0.5,
    )
    good = (
        "a perfectly reasonable document with plenty of distinct "
        "alphabetic words to sail through the quality gate nicely"
    )
    batches = [[(1, good), (None, "x! x! x! x! x! x! x! x! x! x!")]]
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        batches[0], "doc_id long, text string"
    ).coalesce(1).write.parquet(path)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    m = ingest.run_to_completion(stream)
    assert m.rejected_docs == 1
    assert m.docs == 2  # not 3: the NULL-id reject is not double-counted
    assert m.novel_docs + m.dup_docs + m.rejected_docs == m.docs
    stored = [r["_id"] for r in ingest.store.read().collect()]
    assert stored == [1]  # the NULL-id reject never entered the store


def test_store_rejects_mismatched_signature_params(spark, tmp_path):
    """Reopening a signature store built with different bands/rows/
    shingle_k (by another build) silently finds nothing (band keys and
    zip_with agreements recompute against arrays shaped by the OLD
    parameters) — it must refuse with a clear error instead, like the
    id type guard."""
    import json as _json

    store_dir = tmp_path / "store"
    StreamingDedupIngest(
        spark, store_dir=str(store_dir), checkpoint_dir=str(tmp_path / "ck1")
    )
    params = store_dir / "_signature_params.json"
    assert _json.loads(params.read_text()) == {
        "shingle_k": 3, "bands": 8, "rows": 4, "hash_fn": "xxhash64",
    }
    # same params reopen fine
    StreamingDedupIngest(
        spark, store_dir=str(store_dir), checkpoint_dir=str(tmp_path / "ck2")
    )
    params.write_text(
        _json.dumps({"shingle_k": 3, "bands": 4, "rows": 4, "hash_fn": "xxhash64"})
    )
    with pytest.raises(ValueError, match="signature store .* was built"):
        StreamingDedupIngest(
            spark, store_dir=str(store_dir), checkpoint_dir=str(tmp_path / "ck3")
        )


def test_replay_after_merge_keeps_dup_routing_stable(
    spark, tmp_path, monkeypatch
):
    """Post-merge crash replay: the store already holds the batch's
    novel docs, and with MAX_BUCKET_SIZE=1 their presence would push
    the shared band bucket over the cap and silently drop the match —
    the store probe excludes the batch's own ids, so the replay routes
    the SAME duplicates as the first attempt."""
    from consume_kafka_avro_data_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_BUCKET_SIZE", 1)
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dupes_dir=str(tmp_path / "dupes"),
    )
    seed = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(2, NEAR), (3, FAR)], "doc_id long, text string"
    )
    # seed the store with the canonical, then ingest the batch once
    ingest.process_batch(seed, 0)
    ingest.process_batch(batch, 1)
    first = {
        (r.dup_id, r.match_id)
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert first == {(2, 1)}
    # post-merge crash replay: batch 1's novel doc (3) is in the store,
    # and doc 2 remains a dup of 1 — the bucket cap must not flip it
    ingest.process_batch(batch, 1)
    replay = {
        (r.dup_id, r.match_id)
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert replay == first
    stored = sorted(r["_id"] for r in ingest.store.read().collect())
    assert stored == [1, 3]  # 2 never merged as novel


def test_compaction_not_rerun_on_replayed_batch(spark, tmp_path):
    """Compaction triggers on batches % compact_every == 0, and batches
    does not advance on a replay — a retried batch must not rewrite the
    whole store once per retry."""
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every=1,
    )
    batch = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    ingest.process_batch(batch, 0)
    v = ingest.store.version()
    ingest.process_batch(batch, 0)  # replay
    assert ingest.store.version() == v  # no extra compaction commit


def test_redelivered_stored_doc_still_wins_as_canonical(spark, tmp_path):
    """A stored doc re-delivered in the same batch as a NEW smaller-id
    near-dup: the store probe excludes the batch's ids (replay
    determinism), so the intra-batch pass must prefer the STORED doc as
    canonical regardless of id order — otherwise the new doc routes
    novel and the corpus un-dedups."""
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dupes_dir=str(tmp_path / "dupes"),
    )
    seed = spark.createDataFrame([(9, BASE)], "doc_id long, text string")
    ingest.process_batch(seed, 0)
    # batch: re-delivery of stored 9 + NEW near-dup with a SMALLER id
    batch = spark.createDataFrame(
        [(3, NEAR), (9, BASE)], "doc_id long, text string"
    )
    ingest.process_batch(batch, 1)
    stored = sorted(r["_id"] for r in ingest.store.read().collect())
    assert stored == [9]  # the new near-dup was routed dup, not merged
    dupes = {
        (r.dup_id, r.match_id)
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert (3, 9) in dupes  # canonical preference: stored id wins


def test_null_id_doc_dedups_against_batch_and_store(spark, tmp_path):
    """NULL-id docs participate in matching (null-safe self-exclusion,
    NULL-as-earliest canonical order): a non-null near-dup in the same
    batch routes as the NULL doc's dup, and the store holds ONE NULL
    identity plus no near-dup copies."""
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dupes_dir=str(tmp_path / "dupes"),
    )
    batch = spark.createDataFrame(
        [(None, BASE), (7, NEAR), (8, FAR)], "doc_id long, text string"
    )
    ingest.process_batch(batch, 0)
    stored = sorted(
        (r["_id"] is None, r["_id"]) for r in ingest.store.read().collect()
    )
    # NULL canonical + the unrelated doc; the near-dup 7 routed dup
    assert [x[1] for x in stored] == [8, None]
    dupes = {
        (r.dup_id, r.match_id, r.matches)
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert len(dupes) == 1
    (d, m, k) = next(iter(dupes))
    assert (d, m) == (7, None)
    # the witness row keeps its agreement count even for the NULL
    # canonical (a bare MIN/min_by would null-skip it away)
    assert k is not None and k >= MIN_MATCHES


def test_null_id_dup_is_not_merged(spark, tmp_path):
    """The inverse direction: a NULL-id doc routed as a DUP of a stored
    canonical must not merge — the novel split's anti-join has to be
    null-safe, or the NULL row sails through EqualTo and lands in the
    store despite its dupes record."""
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dupes_dir=str(tmp_path / "dupes"),
    )
    seed = spark.createDataFrame([(5, BASE)], "doc_id long, text string")
    ingest.process_batch(seed, 0)
    batch = spark.createDataFrame(
        [(None, NEAR)], "doc_id long, text string"
    )
    ingest.process_batch(batch, 1)
    dupes = {
        (r.dup_id, r.match_id)
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert dupes == {(None, 5)}
    stored = [r["_id"] for r in ingest.store.read().collect()]
    assert stored == [5]  # the NULL-id dup never entered the store


def test_learned_quality_gate_at_ingest(spark, tmp_path):
    """The model gate (operators/quality classifier riding the dedup
    ingest): spam-vocabulary docs are rejected BEFORE signing — never
    enter the store, never witness a duplicate — with probabilities
    persisted to model_rejects_dir under the replay contract, counted
    into rejected_docs, and a full fresh-checkpoint replay leaves
    everything byte-stable."""
    import random

    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.quality import (
        quality_training_frame,
        train_quality_classifier,
    )

    rng = random.Random(3)
    clean_words = BASE.split()
    spam_words = "zzz buy click winn free xxx qqq promo".split()
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    doc = lambda ws: " ".join(rng.choice(ws) for _ in range(30))
    model = train_quality_classifier(
        quality_training_frame(
            mk([(i, doc(clean_words)) for i in range(60)]),
            mk([(100 + i, doc(spam_words)) for i in range(60)]),
        ),
        n_features=1 << 12,
        max_iter=25,
    )

    spam_doc = doc(spam_words)
    batches = [
        [(1, BASE), (2, spam_doc)],
        [(3, BASE), (4, spam_doc), (5, doc(clean_words))],
    ]

    def build(tag):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            dupes_dir=str(tmp_path / "dupes"),
            quality_model=model,
            model_rejects_dir=str(tmp_path / "model_rejects"),
        )

    stream = _doc_stream(spark, tmp_path, batches)
    m = build("a").run_to_completion(stream)
    assert m.docs == 5
    assert m.rejected_docs == 2  # both spam docs gated
    # spam never signed: doc 4 (a dup of the REJECTED doc 2's text)
    # cannot witness a duplicate, and the store holds only clean docs
    assert m.dup_docs == 1  # doc 3 duplicates stored doc 1; 4 was gated
    stored = sorted(
        r["_id"]
        for r in StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt_probe"),
        ).store.read().collect()
    )
    assert stored == [1, 5]
    rej = spark.read.parquet(str(tmp_path / "model_rejects"))
    got = {(r.doc_id, r.batch_id) for r in rej.collect()}
    assert got == {(2, 0), (4, 1)}
    assert all(0.0 <= r.quality_prob < 0.5 for r in rej.collect())

    # full replay, fresh checkpoint: gates re-fire identically, the
    # rejects REPLACE their partitions, nothing new merges
    stream2 = _doc_stream(spark, tmp_path, [])
    m2 = build("b").run_to_completion(stream2)
    # novel_docs counts ROUTING (docs not gated and not matched), not
    # store growth — the idempotence proof is the store staying
    # byte-stable below, same convention as the base replay test
    assert m2.rejected_docs == 2 and m2.dup_docs == 1
    assert spark.read.parquet(str(tmp_path / "model_rejects")).count() == 2
    stored2 = sorted(
        r["_id"]
        for r in StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt_probe2"),
        ).store.read().collect()
    )
    assert stored2 == [1, 5]


def test_quality_model_validated_eagerly(spark, tmp_path):
    with pytest.raises(TypeError, match="transform"):
        StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            quality_model="/some/path",  # a path, not a fitted model
        )


def test_lm_perplexity_gate_at_ingest(spark, tmp_path):
    """The CCNet-shaped perplexity gate (operators/lm model riding the
    dedup ingest): word-salad docs score high avg_nll and are rejected
    BEFORE signing; in-domain docs and docs too short for the model
    order (NULL score) pass; scores land in lm_rejects_dir under the
    replay contract; a full fresh-checkpoint replay is byte-stable."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.lm import NgramKN

    trusted = [
        (i, BASE) for i in range(20)
    ] + [(100 + i, FAR) for i in range(20)]
    lm = NgramKN.fit(
        spark.createDataFrame(trusted, "doc_id long, text string"), order=2
    )
    # calibrate the cut between in-domain and scrambled text
    probe = spark.createDataFrame(
        [(1, BASE), (2, " ".join(reversed(BASE.split())))],
        "doc_id long, text string",
    )
    nll = {r.doc_id: r.avg_nll for r in lm.score(probe).collect()}
    assert nll[1] < nll[2]
    cut = (nll[1] + nll[2]) / 2

    salad = " ".join(reversed(BASE.split()))
    batches = [
        [(1, BASE), (2, salad)],
        [(3, FAR), (4, salad), (5, "hi")],  # 5: 1 token < order → passes
    ]

    def build(tag):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            dupes_dir=str(tmp_path / "dupes"),
            lm_model=lm,
            lm_threshold=cut,
            lm_rejects_dir=str(tmp_path / "lm_rejects"),
        )

    stream = _doc_stream(spark, tmp_path, batches)
    m = build("a").run_to_completion(stream)
    assert m.docs == 5
    assert m.rejected_docs == 2  # both salad docs gated
    assert m.dup_docs == 0  # doc 4 (dup of REJECTED 2) never signed
    stored = sorted(
        r["_id"]
        for r in StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt_probe"),
        ).store.read().collect()
    )
    assert stored == [1, 3, 5]  # the short doc passed the gate
    rej = spark.read.parquet(str(tmp_path / "lm_rejects"))
    got = {(r.doc_id, r.batch_id) for r in rej.collect()}
    assert got == {(2, 0), (4, 1)}
    assert all(r.avg_nll > cut for r in rej.collect())

    # full replay, fresh checkpoint: byte-stable
    m2 = build("b").run_to_completion(_doc_stream(spark, tmp_path, []))
    assert m2.rejected_docs == 2 and m2.dup_docs == 0
    assert spark.read.parquet(str(tmp_path / "lm_rejects")).count() == 2
    lm.unpersist()


def test_lm_gate_validated_eagerly(spark, tmp_path):
    from consume_kafka_avro_data_spark.operators.lm import NgramKN

    with pytest.raises(TypeError, match="score"):
        StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "s1"),
            checkpoint_dir=str(tmp_path / "c1"),
            lm_model="/a/path",
        )
    lm = NgramKN.fit(
        spark.createDataFrame([(1, BASE)], "doc_id long, text string"),
        order=2,
    )
    try:
        with pytest.raises(ValueError, match="lm_threshold"):
            StreamingDedupIngest(
                spark,
                store_dir=str(tmp_path / "s2"),
                checkpoint_dir=str(tmp_path / "c2"),
                lm_model=lm,  # threshold missing
            )
    finally:
        lm.unpersist()


def test_lm_gate_accepts_bigram_model(spark, tmp_path):
    """BigramKN is an advertised lm_model too — its evidence column is
    n_bigrams, which the gate must normalize into the audit trail's
    n_ngrams schema instead of crashing on the first micro-batch."""
    from consume_kafka_avro_data_spark.operators.lm import BigramKN

    lm = BigramKN.fit(
        spark.createDataFrame(
            [(i, BASE) for i in range(10)], "doc_id long, text string"
        )
    )
    salad = " ".join(reversed(BASE.split()))
    probe = spark.createDataFrame(
        [(1, BASE), (2, salad)], "doc_id long, text string"
    )
    nll = {r.doc_id: r.avg_nll for r in lm.score(probe).collect()}
    cut = (nll[1] + nll[2]) / 2
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        lm_model=lm,
        lm_threshold=cut,
        lm_rejects_dir=str(tmp_path / "lm_rejects"),
    )
    stream = _doc_stream(spark, tmp_path, [[(1, BASE), (2, salad)]])
    m = ingest.run_to_completion(stream)
    assert m.docs == 2 and m.rejected_docs == 1
    rej = spark.read.parquet(str(tmp_path / "lm_rejects")).collect()
    assert [r.doc_id for r in rej] == [2]
    assert rej[0].n_ngrams >= 1  # normalized column name
    lm.unpersist()


def test_lm_gate_broadcast_auto_and_plan(spark, tmp_path, monkeypatch):
    """The LM gate picks its scorer from the model's size: under
    MAX_LOCAL_MODEL_ROWS an NgramKN model (pinned on the deployed,
    save/load-ed form) is collected once into the broadcast flat
    payload and the per-batch score plan has NO join; with the ceiling
    below the model's rows the relational score() runs.  Both route
    the same docs, and BigramKN (no dict tier) still gates."""
    from consume_kafka_avro_data_spark.operators import lm as lm_mod
    from consume_kafka_avro_data_spark.operators.lm import BigramKN, NgramKN

    trusted = spark.createDataFrame(
        [(i, BASE) for i in range(10)], "doc_id long, text string"
    )
    lm = NgramKN.fit(trusted, order=2)
    lm.save(str(tmp_path / "m"))
    lm.unpersist()
    loaded = NgramKN.load(spark, str(tmp_path / "m"))
    salad = " ".join(reversed(BASE.split()))
    # 3: one token, shorter than the model order — no score, passes
    batch = spark.createDataFrame(
        [(1, BASE), (2, salad), (3, "hi")], "doc_id long, text string"
    )

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "simple"
        )

    def route(tag, model):
        nll = {r.doc_id: r.avg_nll for r in model.score(batch).collect()}
        ingest = StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / f"store_{tag}"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            lm_model=model,
            lm_threshold=(nll[1] + nll[2]) / 2,
            lm_rejects_dir=str(tmp_path / f"rej_{tag}"),
        )
        ingest.process_batch(batch, 0)
        m = ingest.metrics
        rej = spark.read.parquet(str(tmp_path / f"rej_{tag}")).collect()
        routed = (m.docs, m.rejected_docs, m.novel_docs, [r.doc_id for r in rej])
        return ingest, routed

    dict_gate, dict_routed = route("dict", loaded)
    assert dict_gate._lm_local is not None  # collected at construction
    plan = plan_of(dict_gate._lm_scored(batch))
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
    assert dict_routed == (3, 1, 2, [2])

    monkeypatch.setattr(lm_mod, "MAX_LOCAL_MODEL_ROWS", loaded.model_rows() - 1)
    rel_gate, rel_routed = route("rel", loaded)
    assert rel_gate._lm_local is None
    assert "Join" in plan_of(rel_gate._lm_scored(batch))
    assert rel_routed == dict_routed

    bg = BigramKN.fit(trusted)
    try:
        bg_gate, bg_routed = route("bg", bg)
        assert bg_gate._lm_local is None
        assert bg_routed == dict_routed
    finally:
        bg.unpersist()


def test_c4_gate_cleans_text_before_downstream_gates(spark, tmp_path):
    """Round-8: c4=True line-cleans each batch FIRST — boilerplate
    lines are stripped so the signature (and everything downstream)
    sees the cleaned text: a doc that differs from a stored doc only
    by boilerplate lines dedups as its duplicate.  Unkept docs (code
    braces here) are rejected before signing with their line counts
    in c4_rejects_dir; replay is byte-stable; a stream already
    carrying the helper columns errors eagerly."""
    prose = (
        "This line is a perfectly reasonable retained sentence one.\n"
        "Another fully punctuated and long enough sentence two lands!\n"
        "does sentence three end with a proper question mark as well?"
    )
    noisy = prose + "\nHome | About | Contact\nmenu"  # boilerplate lines
    code = (
        "A long retained line with a brace { inside it stays here.\n"
        + prose
    )
    b1 = [(1, prose), (2, code)]
    b2 = [(3, noisy)]  # cleans to exactly doc 1's text → dup

    def build(tag):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            dupes_dir=str(tmp_path / "dupes"),
            c4=True,
            c4_rejects_dir=str(tmp_path / "c4_rejects"),
        )

    m = build("a").run_to_completion(_doc_stream(spark, tmp_path, [b1, b2]))
    assert m.docs == 3
    assert m.rejected_docs == 1  # the brace doc
    assert m.dup_docs == 1 and m.novel_docs == 1
    dupes = {
        r.dup_id: r.match_id
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert dupes == {3: 1}  # boilerplate stripped → exact near-dup
    rej = spark.read.parquet(str(tmp_path / "c4_rejects")).collect()
    assert [(r.doc_id, r.batch_id) for r in rej] == [(2, 0)]
    assert rej[0].n_lines == 4 and rej[0].n_lines_kept == 4

    # replay, fresh checkpoint: byte-stable
    m2 = build("b").run_to_completion(_doc_stream(spark, tmp_path, []))
    assert m2.rejected_docs == 1 and m2.dup_docs == 1
    assert spark.read.parquet(str(tmp_path / "c4_rejects")).count() == 1

    # helper-column clash errors eagerly at the batch, not mid-plan
    clash = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store_x"),
        checkpoint_dir=str(tmp_path / "ckpt_x"),
        c4=True,
    )
    bad = spark.createDataFrame(
        [(1, prose, 9)], "doc_id long, text string, c4_keep int"
    )
    with pytest.raises(ValueError, match="c4_keep"):
        clash.process_batch(bad, 0)


def test_dsir_gate_at_ingest(spark, tmp_path):
    """The DSIR distribution-matching gate (operators/dsir model riding
    the dedup ingest): off-target docs weigh below the cut and are
    rejected BEFORE signing, target-like docs pass, weights land in
    dsir_rejects_dir under the replay contract, and a full
    fresh-checkpoint replay is byte-stable."""
    from consume_kafka_avro_data_spark.operators.dsir import (
        dsir_fit,
        dsir_log_weights,
    )

    target = spark.createDataFrame([(BASE,)] * 6, "text string")
    raw = spark.createDataFrame(
        [(BASE,), (FAR,), (ALSO_FAR,)] * 2, "text string"
    )
    model = dsir_fit(target, raw, buckets=512)
    # calibrate the cut between in-distribution and off-target text
    probe = spark.createDataFrame(
        [(1, BASE), (2, FAR)], "doc_id long, text string"
    )
    w = {
        r.doc_id: r.dsir_logw for r in dsir_log_weights(model, probe).collect()
    }
    assert w[1] > w[2]
    cut = (w[1] + w[2]) / 2

    batches = [
        [(1, BASE), (2, FAR)],
        [(3, BASE.replace("lazy dog", "sleepy dog")), (4, ALSO_FAR)],
    ]

    def build(tag):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            dupes_dir=str(tmp_path / "dupes"),
            dsir_model=model,
            dsir_threshold=cut,
            dsir_rejects_dir=str(tmp_path / "dsir_rejects"),
        )

    stream = _doc_stream(spark, tmp_path, batches)
    m = build("a").run_to_completion(stream)
    assert m.docs == 4
    assert m.rejected_docs == 2  # both off-target docs gated
    assert m.dup_docs == 1  # 3 is a near-dup of surviving 1
    stored = sorted(
        r["_id"]
        for r in StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt_probe"),
        ).store.read().collect()
    )
    assert stored == [1]
    rej = spark.read.parquet(str(tmp_path / "dsir_rejects"))
    got = {(r.doc_id, r.batch_id) for r in rej.collect()}
    assert got == {(2, 0), (4, 1)}
    assert all(r.dsir_logw < cut for r in rej.collect())

    # full replay, fresh checkpoint: byte-stable
    m2 = build("b").run_to_completion(_doc_stream(spark, tmp_path, []))
    assert m2.rejected_docs == 2 and m2.dup_docs == 1
    assert spark.read.parquet(str(tmp_path / "dsir_rejects")).count() == 2


def test_dsir_gate_validated_eagerly(spark, tmp_path):
    from consume_kafka_avro_data_spark.operators.dsir import DsirModel

    with pytest.raises(TypeError, match="log_ratio"):
        StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "s1"),
            checkpoint_dir=str(tmp_path / "c1"),
            dsir_model="/a/path",
        )
    model = DsirModel(log_ratio=(0.0,) * 16, buckets=16, smoothing=1.0)
    with pytest.raises(ValueError, match="dsir_threshold"):
        StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "s2"),
            checkpoint_dir=str(tmp_path / "c2"),
            dsir_model=model,  # threshold missing
        )


def test_all_gates_compose_on_one_stream(spark, tmp_path):
    """Round-7/8 integration: all seven pre-dedup gates — C4 line
    cleaning, the heuristic quality score, the learned classifier,
    Gopher repetition, the DSIR distribution gate, the LM perplexity
    gate and decontamination — and dedup ride ONE foreachBatch: each
    gate catches exactly its designed doc, the audit trails stay
    disjoint, the counters sum to docs, and a full fresh-checkpoint
    replay leaves every artifact byte-stable."""
    import random

    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.dsir import (
        dsir_fit,
        dsir_log_weights,
    )
    from consume_kafka_avro_data_spark.operators.lm import NgramKN
    from consume_kafka_avro_data_spark.operators.quality import (
        quality_probability,
        quality_training_frame,
        train_quality_classifier,
    )
    from consume_kafka_avro_data_spark.operators.text import quality_score

    # c4-formatted: every doc the later gates must SEE is one kept
    # line (ends in a terminal, ≥5 words) = one sentence, so the c4
    # gate (min_sentences=1) passes it through with the text intact
    # and every calibration below runs on exactly the streamed bytes
    P = lambda t: t + "."
    new_text = P(
        "fresh prose about manifest tables and replay safe commit "
        "protocols in streaming systems"
    )
    pbase, pfar, palso = P(BASE), P(FAR), P(ALSO_FAR)
    trusted = [pbase, pfar, palso, new_text]
    rng = random.Random(11)
    spam_words = "zzz buy click winn free xxx qqq promo".split()
    clean_words = " ".join(trusted).split()
    doc = lambda ws: P(" ".join(rng.choice(ws) for _ in range(30)))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    clf = train_quality_classifier(
        quality_training_frame(
            mk([(i, doc(clean_words)) for i in range(60)]),
            mk([(100 + i, doc(spam_words)) for i in range(60)]),
        ),
        n_features=1 << 12,
        max_iter=25,
    )
    lm = NgramKN.fit(
        mk([(i, t) for i, t in enumerate(trusted * 5)]), order=2
    )
    salad = P(" ".join(reversed(BASE.split())))
    nll = {
        r.doc_id: r.avg_nll
        for r in lm.score(
            mk([(0, pbase), (1, pfar), (2, palso), (3, new_text), (9, salad)])
        ).collect()
    }
    cut = (max(nll[i] for i in (0, 1, 2, 3)) + nll[9]) / 2
    assert nll[9] > cut  # the salad doc is the LM gate's target

    spam_doc = doc(spam_words)
    # the heuristic gate's designed victim: one token repeated (no
    # lexical diversity); the Gopher gate's: a phrase looped five
    # times, which the heuristic and the classifier must pass
    junk = P(" ".join(["aaa"] * 14))
    loop = P(" ".join(["the quick brown fox jumps over"] * 5))
    # the DSIR gate's designed victim: fluent but OFF-DISTRIBUTION —
    # no spam vocabulary (classifier must pass it), no eval overlap,
    # content words disjoint from the trusted corpus
    astro_doc = P(
        "telescopes observe distant galaxies while planetary nebulae "
        "glow between spiral arms and comets trace long orbits past "
        "frozen moons"
    )
    dsir = dsir_fit(
        mk([(i, t) for i, t in enumerate(trusted)]),
        mk(
            [(i, t) for i, t in enumerate(trusted)]
            + [(50, spam_doc), (51, astro_doc)]
        ),
        buckets=512,
    )
    w = {
        r.doc_id: r.dsir_logw
        for r in dsir_log_weights(
            dsir,
            mk(
                [
                    (0, pbase),
                    (1, pfar),
                    (2, palso),
                    (3, new_text),
                    (8, astro_doc),
                    (9, salad),
                ]
            ),
        ).collect()
    }
    # astro must weigh below every doc that has to pass the gate
    must_pass_min = min(w[i] for i in (0, 1, 2, 3, 9))
    assert w[8] < must_pass_min
    dsir_cut = (w[8] + must_pass_min) / 2
    # calibration: the classifier must catch ONLY the spam doc — set
    # its threshold between the spam prob and the lowest prob among
    # docs every later gate needs to see (incl. astro, which an
    # L2-regularized LR scores low-ish on: no trusted n-grams)
    probs = {
        r.doc_id: r.quality_prob
        for r in quality_probability(
            clf,
            mk(
                [
                    (1, pbase),
                    (2, spam_doc),
                    (3, salad),
                    (4, palso),
                    (5, pfar),
                    (7, new_text),
                    (8, astro_doc),
                    (12, loop),
                ]
            ),
            "text",
        ).collect()
    }
    pass_min = min(v for i, v in probs.items() if i != 2)
    assert probs[2] < pass_min
    clf_threshold = (probs[2] + pass_min) / 2
    # heuristic cut: below every doc that reaches the gate but junk
    heur = {
        r.doc_id: r.quality
        for r in quality_score(
            mk(
                [
                    (1, pbase),
                    (2, spam_doc),
                    (3, salad),
                    (4, palso),
                    (5, pfar),
                    (7, new_text),
                    (8, astro_doc),
                    (11, junk),
                    (12, loop),
                ]
            )
        ).collect()
    }
    heur_pass_min = min(v for i, v in heur.items() if i != 11)
    assert heur[11] < heur_pass_min
    heur_threshold = (heur[11] + heur_pass_min) / 2

    # the C4 gate's designed victim: a properly punctuated long line
    # (survives the LINE rules) whose cleaned text carries a curly
    # brace — the DOC flag kills it before any other gate runs
    code_doc = (
        "the snippet function f() { return one; } ships inside this "
        "long and properly terminated line."
    )

    b1 = [(1, pbase), (2, spam_doc), (3, salad), (4, palso), (5, pfar), (11, junk)]
    b2 = [(6, pbase), (7, new_text), (8, astro_doc), (10, code_doc), (12, loop)]

    def make(tag):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            dupes_dir=str(tmp_path / "dupes"),
            c4=True,
            c4_min_sentences=1,
            c4_rejects_dir=str(tmp_path / "c4_rejects"),
            quality_threshold=heur_threshold,
            rejects_dir=str(tmp_path / "rejects"),
            quality_model=clf,
            quality_model_threshold=clf_threshold,
            model_rejects_dir=str(tmp_path / "model_rejects"),
            gopher_rep=True,
            gopher_rep_rejects_dir=str(tmp_path / "rep_rejects"),
            dsir_model=dsir,
            dsir_threshold=dsir_cut,
            dsir_rejects_dir=str(tmp_path / "dsir_rejects"),
            lm_model=lm,
            lm_threshold=cut,
            lm_rejects_dir=str(tmp_path / "lm_rejects"),
            eval_docs=mk([(0, palso)]).select("text"),
            contam_dir=str(tmp_path / "contam"),
        )

    stream = _doc_stream(spark, tmp_path, [b1, b2])
    ing_a = make("a")
    m = ing_a.run_to_completion(stream)
    assert m.docs == 11
    # c4 (10) + heuristic (11) + classifier (2) + Gopher (12) + DSIR (8)
    # + LM (3)
    assert m.rejected_docs == 6
    assert m.contaminated_docs == 1  # eval overlap (4)
    assert m.dup_docs == 1 and m.novel_docs == 3
    assert (
        m.rejected_docs + m.contaminated_docs + m.dup_docs + m.novel_docs
        == m.docs
    )
    # round-10 per-gate census: rows in funnel order, the rejected
    # column sums to each gate's audit dir, docs_in chains (each
    # gate's input = predecessor's input minus its rejects), the
    # first gate's summed input is the stream.  The gates share one
    # verdict pass, whose wall time is reported once per batch as
    # ``gate_pass``; only the dedup stage has its own ``sec``
    census = ing_a.gate_census()
    assert list(census) == [
        "gate_pass", "c4", "quality", "quality_model", "gopher_rep",
        "dsir", "lm", "decontaminate", "dedup",
    ]
    assert census["gate_pass"]["batches"] == 2
    assert census["gate_pass"]["sec"] > 0
    for gate, want_rej in [
        ("c4", 1), ("quality", 1), ("quality_model", 1), ("gopher_rep", 1),
        ("dsir", 1), ("lm", 1), ("decontaminate", 1), ("dedup", 1),
    ]:
        assert census[gate]["docs_rejected"] == want_rej, gate
        assert census[gate]["batches"] == 2
        assert ("sec" in census[gate]) == (gate == "dedup"), gate
    assert census["dedup"]["sec"] > 0
    assert census["c4"]["docs_in"] == m.docs
    per_batch = {b: rec["census"] for b, rec in m.ledger.records().items()}
    assert sorted(per_batch) == [0, 1]
    for census_b in per_batch.values():
        rows = list(census_b.items())
        for (gate, prev), (_, nxt) in zip(rows, rows[1:]):
            assert (
                nxt["docs_in"] == prev["docs_in"] - prev["docs_rejected"]
                if gate != "dedup"
                else True
            )
    # census rejected-sums match the audit dirs exactly, and the
    # trails are disjoint, each holding exactly its gate's doc
    gate_dirs = {
        "c4": ("c4_rejects", 10),
        "quality": ("rejects", 11),
        "quality_model": ("model_rejects", 2),
        "gopher_rep": ("rep_rejects", 12),
        "dsir": ("dsir_rejects", 8),
        "lm": ("lm_rejects", 3),
        "decontaminate": ("contam", 4),
    }
    for gate, (d, victim) in gate_dirs.items():
        ids = [r.doc_id for r in spark.read.parquet(str(tmp_path / d)).collect()]
        assert ids == [victim], gate
        assert census[gate]["docs_rejected"] == len(ids), gate
    dupes = {
        r.dup_id: r.match_id
        for r in spark.read.parquet(str(tmp_path / "dupes")).collect()
    }
    assert dupes == {6: 1}
    stored = sorted(r["_id"] for r in make("probe").store.read().collect())
    assert stored == [1, 5, 7]

    def artifacts():
        return {
            d: sorted(spark.read.parquet(str(tmp_path / d)).collect(), key=str)
            for d in [d for d, _ in gate_dirs.values()] + ["dupes"]
        }

    before = artifacts()
    # full replay, fresh checkpoint: everything byte-stable
    m2 = make("b").run_to_completion(_doc_stream(spark, tmp_path, []))
    assert m2.rejected_docs == 6 and m2.contaminated_docs == 1
    assert m2.dup_docs == 1
    assert artifacts() == before
    assert sorted(
        r["_id"] for r in make("probe2").store.read().collect()
    ) == stored
    lm.unpersist()


def test_gopher_repetition_gate_at_ingest(spark, tmp_path):
    """Round-8: gopher_rep=True rejects loop-generated boilerplate
    (Rae 2021's repetition rules) BEFORE signing, with the 13 metrics
    in the audit trail; clean docs pass; replay is byte-stable; bad
    threshold keys error at construction."""
    loop = " ".join(["one two three four five six"] * 5)
    b1 = [(1, BASE), (2, loop)]
    b2 = [(3, FAR), (4, loop)]

    def build(tag):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            dupes_dir=str(tmp_path / "dupes"),
            gopher_rep=True,
            gopher_rep_rejects_dir=str(tmp_path / "rep_rejects"),
        )

    m = build("a").run_to_completion(_doc_stream(spark, tmp_path, [b1, b2]))
    assert m.docs == 4
    assert m.rejected_docs == 2  # both loop docs gated
    assert m.dup_docs == 0  # doc 4 (dup of REJECTED 2) never signed
    stored = sorted(
        r["_id"]
        for r in StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt_probe"),
        ).store.read().collect()
    )
    assert stored == [1, 3]
    rej = spark.read.parquet(str(tmp_path / "rep_rejects"))
    got = {(r.doc_id, r.batch_id) for r in rej.collect()}
    assert got == {(2, 0), (4, 1)}
    # the audit row explains itself: the binding metric rides along
    assert all(r.dup_5gram_char_frac > 0.15 for r in rej.collect())

    # full replay, fresh checkpoint: byte-stable
    m2 = build("b").run_to_completion(_doc_stream(spark, tmp_path, []))
    assert m2.rejected_docs == 2 and m2.dup_docs == 0
    assert spark.read.parquet(str(tmp_path / "rep_rejects")).count() == 2

    with pytest.raises(ValueError, match="gopher_rep threshold"):
        StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "s2"),
            checkpoint_dir=str(tmp_path / "c2"),
            gopher_rep=True,
            gopher_rep_thresholds={"bogus": 1.0},
        )


def test_c4_and_heuristic_quality_counts_both_rejects(spark, tmp_path):
    """Round-10 sweep fix: with the C4 gate AND the heuristic quality
    gate both on, rejected_docs must count BOTH gates' rejects — the
    heuristic gate previously ASSIGNED its count over the c4 gate's
    accumulation, silently dropping c4 rejects from the metric (and
    from docs).  The per-gate census pins the split."""
    junk = ("aaa " * 14).strip() + "."
    code_doc = (
        "the snippet function f() { return one; } ships inside this "
        "long and properly terminated line."
    )
    base_doc = BASE + "."
    far_doc = FAR + "."
    b1 = [(1, base_doc), (2, junk), (3, code_doc), (4, far_doc)]
    ingest = StreamingDedupIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        c4=True,
        c4_min_sentences=1,
        c4_rejects_dir=str(tmp_path / "c4_rejects"),
        quality_threshold=0.5,
        rejects_dir=str(tmp_path / "rejects"),
    )
    m = ingest.run_to_completion(_doc_stream(spark, tmp_path, [b1]))
    assert m.docs == 4
    assert m.rejected_docs == 2  # c4 (3) + quality (2), BOTH counted
    assert m.novel_docs == 2 and m.dup_docs == 0
    assert m.rejected_docs + m.novel_docs == m.docs
    census = ingest.gate_census()
    assert census["c4"]["docs_rejected"] == 1
    assert census["quality"]["docs_rejected"] == 1
    assert census["c4"]["docs_in"] == 4
    assert census["quality"]["docs_in"] == 3
    assert census["dedup"]["docs_in"] == 2
    # round-11 sub-stage splits: the dedup row names its own dominant
    # component (signature / store probe / merge write); the splits
    # are disjoint wall-time slices of the stage, so they sum to at
    # most the stage total (small bookkeeping gap allowed)
    sub = census["dedup"]["sub"]
    assert set(sub) == {"sig", "probe", "merge"}
    assert all(v >= 0 for v in sub.values())
    assert sum(sub.values()) <= census["dedup"]["sec"] + 0.05
    # reject gates carry no sub splits and no sec of their own: they
    # share one verdict pass, timed once per batch
    assert "sub" not in census["c4"] and "sub" not in census["quality"]
    assert "sec" not in census["c4"] and "sec" not in census["quality"]
    assert census["gate_pass"]["batches"] == 1
    assert census["gate_pass"]["sec"] > 0
    assert [r.doc_id for r in
            spark.read.parquet(str(tmp_path / "c4_rejects")).collect()] == [3]
    assert [r.doc_id for r in
            spark.read.parquet(str(tmp_path / "rejects")).collect()] == [2]


@pytest.fixture(scope="module")
def seven_gates(spark):
    """A builder for an ingest with all seven pre-dedup gates on.  The
    three model gates run permissive cuts (they score every doc but
    reject none), so each designed victim below belongs to exactly one
    model-free gate; eval set = ``EVAL``."""
    from consume_kafka_avro_data_spark.operators.dsir import dsir_fit
    from consume_kafka_avro_data_spark.operators.lm import NgramKN
    from consume_kafka_avro_data_spark.operators.quality import (
        quality_training_frame,
        train_quality_classifier,
    )

    mk = lambda ts: spark.createDataFrame([(t,) for t in ts], "text string")
    trusted = mk([BASE, FAR, ALSO_FAR] * 4)
    raw = mk(["zzz buy click winn free xxx qqq promo now"] * 12)
    clf = train_quality_classifier(
        quality_training_frame(trusted, raw), n_features=1 << 10, max_iter=5
    )
    dsir = dsir_fit(trusted, raw, buckets=64)
    lm = NgramKN.fit(trusted, order=2)

    def build(tmp_path):
        return StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            dupes_dir=str(tmp_path / "dupes"),
            c4=True,
            c4_min_sentences=1,
            c4_rejects_dir=str(tmp_path / "c4"),
            quality_threshold=0.5,
            rejects_dir=str(tmp_path / "quality"),
            quality_model=clf,
            quality_model_threshold=0.0,
            model_rejects_dir=str(tmp_path / "quality_model"),
            gopher_rep=True,
            gopher_rep_rejects_dir=str(tmp_path / "gopher_rep"),
            dsir_model=dsir,
            dsir_threshold=-1e9,
            dsir_rejects_dir=str(tmp_path / "dsir"),
            lm_model=lm,
            lm_threshold=1e9,
            lm_rejects_dir=str(tmp_path / "lm"),
            eval_docs=mk([EVAL]),
            contam_dir=str(tmp_path / "contam"),
        )

    yield build
    lm.unpersist()


EVAL = (
    "fresh prose about manifest tables and replay safe commit "
    "protocols in streaming systems."
)
_DOCS = "doc_id long, text string"


def test_degenerate_inputs_land_exactly_once_through_all_gates(
    spark, tmp_path, seven_gates
):
    """NULL and duplicate ids plus an empty micro-batch through all
    seven gates: every document row lands in exactly one audit dir,
    the dupes dir or the store, and rejected + contaminated + dup +
    novel == docs.  The decontamination score is a per-id aggregate
    joined back NULL-safely, so the NULL-id doc with eval text is
    caught, and BOTH copies of a duplicated id with one contaminated
    copy are audited as contaminated (one row each)."""
    P = lambda t: t + "."
    junk = P(" ".join(["aaa"] * 14))
    loop = P(" ".join(["the quick brown fox jumps over"] * 5))
    code = (
        "the snippet function f() { return one; } ships inside this "
        "long and properly terminated line."
    )
    ingest = seven_gates(tmp_path)
    batches = [
        [
            (None, EVAL),  # NULL id, contaminated
            (1, P(BASE)),  # novel
            (2, EVAL),  # duplicate id: one copy contaminated ...
            (2, P(FAR)),  # ... one clean
            (3, junk),  # heuristic quality (also repetitive)
            (4, loop),  # Gopher repetition
            (5, code),  # C4 (brace)
            (6, P(BASE)),  # dupe of 1
        ],
        [],  # empty micro-batch
        [(None, P(FAR)), (7, P(ALSO_FAR))],  # NULL id, novel
    ]
    for b, rows in enumerate(batches):
        ingest.process_batch(spark.createDataFrame(rows, _DOCS), b)

    def ids(d, col="doc_id"):
        p = tmp_path / d
        if not any(p.rglob("*.parquet")):
            return []
        return sorted(
            (r[0] for r in spark.read.parquet(str(p)).select(col).collect()),
            key=lambda i: (i is not None, i),
        )

    landed = {
        d: ids(d)
        for d in ["c4", "quality", "quality_model", "gopher_rep", "dsir",
                  "lm", "contam"]
    }
    landed["dupes"] = ids("dupes", "dup_id")
    landed["store"] = sorted(
        (r["_id"] for r in ingest.store.read().collect()),
        key=lambda i: (i is not None, i),
    )
    assert landed == {
        "c4": [5],
        "quality": [3],
        "quality_model": [],
        "gopher_rep": [4],
        "dsir": [],
        "lm": [],
        "contam": [None, 2, 2],
        "dupes": [6],
        "store": [None, 1, 7],
    }
    assert sum(len(v) for v in landed.values()) == sum(map(len, batches))
    m = ingest.metrics
    assert m.batches == 3
    assert (m.rejected_docs, m.contaminated_docs, m.dup_docs, m.novel_docs) == (
        3, 3, 1, 3,
    )
    assert m.docs == 10
    assert (
        m.rejected_docs + m.contaminated_docs + m.dup_docs + m.novel_docs
        == m.docs
    )
    # the empty batch still closes its census: zero in, zero out
    census_1 = m.ledger.records()[1]["census"]
    assert [r["docs_in"] for r in census_1.values()] == [0] * 8


def test_gates_run_one_checkpoint_per_batch(
    spark, tmp_path, seven_gates, monkeypatch
):
    """All seven gates share ONE verdict pass: exactly one
    localCheckpoint runs before the signature step of each batch (a
    sequential funnel pays one per gate)."""
    import consume_kafka_avro_data_spark.streaming.dedup as sd

    ingest = seven_gates(tmp_path)
    calls, before_sign = [], []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    ckpt, sign = frame.localCheckpoint, sd.minhash_sig_table

    def counted(self, *a, **k):
        calls.append(1)
        return ckpt(self, *a, **k)

    def signed(*a, **k):
        before_sign.append(len(calls))
        return sign(*a, **k)

    monkeypatch.setattr(frame, "localCheckpoint", counted)
    monkeypatch.setattr(sd, "minhash_sig_table", signed)
    rows = [(1, BASE + "."), (2, EVAL), (3, FAR + ".")]
    for b in range(2):
        calls.clear()
        ingest.process_batch(spark.createDataFrame(rows, _DOCS), b)
    assert before_sign == [1, 1]
    assert ingest.metrics.contaminated_docs == 2
