"""StreamingAnnIngest: embeddings arriving as a file-backed stream must
land in the persisted IVF-PQ index batch-by-batch (frozen quantizers),
full-probe queries over the grown index must equal a full rebuild's,
and a checkpoint-less replay must REPLACE per-batch generations instead
of double-counting vectors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.ann_index import AnnIndex
from consume_kafka_avro_data_spark.streaming.ann import StreamingAnnIngest
from consume_kafka_avro_data_spark.tables import load_table


@pytest.fixture()
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _vector_stream(spark, tmp_path, emb, parts):
    path = str(tmp_path / "vecs")
    for cond in parts:
        emb.where(cond).select("vec_id", "embedding").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    schema = emb.select("vec_id", "embedding").schema

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    return reader


def test_streaming_ann_ingest_matches_full_build(spark, sf_dir, tmp_path, emb):
    qvec = emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    n = emb.count()
    # seed index on ~half the corpus (quantizers train here)
    seed = emb.where(F.col("vec_id") % 2 == 0)
    idx = AnnIndex.build(
        spark, seed, str(tmp_path / "idx"), n_cells=8, m=8, k_codes=16
    )
    # the other half arrives as a 2-batch stream
    reader = _vector_stream(
        spark,
        tmp_path,
        emb,
        [
            (F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 4 == 1),
            (F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 4 == 3),
        ],
    )
    ingest = StreamingAnnIngest(spark, idx, str(tmp_path / "ckpt"))
    m = ingest.run_to_completion(reader())
    assert m.batches == 2
    assert m.vectors == emb.where(F.col("vec_id") % 2 == 1).count()

    sizes = {r._ivf_cell: r.n for r in idx.cell_sizes().collect()}
    assert sum(sizes.values()) == n  # every vector indexed exactly once

    # full-probe == brute force over the whole corpus == a full build
    # trained on the SEED's quantizers (exact path ignores PQ codes)
    from consume_kafka_avro_data_spark.operators.similarity import (
        brute_force_topk,
    )

    want = [
        (r.vec_id, r.score) for r in brute_force_topk(emb, qvec, 10).collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got == want

    # replay with a FRESH checkpoint into the same index: per-batch
    # shard ids replace their own generations — no double counting
    replay = StreamingAnnIngest(spark, idx, str(tmp_path / "ckpt2"))
    replay.run_to_completion(reader())
    sizes2 = {r._ivf_cell: r.n for r in idx.cell_sizes().collect()}
    assert sum(sizes2.values()) == n
    got2 = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got2 == want
    # one live generation per committed shard + the seed; replays
    # replaced rather than appended
    loaded = AnnIndex.load(spark, idx.path)
    assert len(loaded.vectors_dirs) == 3


def test_drift_metric_flags_skewed_arrivals(spark, sf_dir, tmp_path, emb):
    """Streaming a shard whose vectors all land in ONE cell must push
    drift_ratio toward n_cells and flip needs_rebuild; a balanced
    stream must not."""
    idx = AnnIndex.build(
        spark, emb, str(tmp_path / "idx"), n_cells=8, m=8, k_codes=16
    )
    # skewed arrivals: many copies of one corpus vector (same cell),
    # fresh ids clear of the corpus
    one = emb.where(F.col("vec_id") == 1).select("embedding")
    skew = (
        one.crossJoin(spark.range(64).withColumnRenamed("id", "vec_id"))
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    skew.coalesce(1).write.parquet(str(tmp_path / "skewed"))
    stream = (
        spark.readStream.schema(skew.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "skewed"))
    )
    ingest = StreamingAnnIngest(spark, idx, str(tmp_path / "ckpt"))
    assert ingest.drift_ratio() == 0.0  # nothing streamed yet
    assert not ingest.needs_rebuild()
    ingest.run_to_completion(stream)
    assert ingest.drift_ratio() == pytest.approx(8.0)  # all → one cell
    assert ingest.needs_rebuild(threshold=4.0)

    # balanced arrivals: a spread of the corpus itself
    bal = emb.select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    bal.coalesce(1).write.parquet(str(tmp_path / "balanced"))
    stream2 = (
        spark.readStream.schema(bal.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "balanced"))
    )
    idx2 = AnnIndex.build(
        spark, emb, str(tmp_path / "idx2"), n_cells=8, m=8, k_codes=16
    )
    ingest2 = StreamingAnnIngest(spark, idx2, str(tmp_path / "ckpt2"))
    ingest2.run_to_completion(stream2)
    assert ingest2.drift_ratio() < 4.0
    assert not ingest2.needs_rebuild(threshold=4.0)


def test_ann_ingest_metrics_incremental_and_bounded():
    """AnnIngestMetrics must replace a replayed batch's contribution
    (totals never double-count), answer cell_totals incrementally, and
    compact per-batch maps beyond the horizon while keeping their mass
    — the BatchLedger contract every stream shares."""
    from consume_kafka_avro_data_spark.streaming.ann import AnnIngestMetrics

    m = AnnIngestMetrics(compact_horizon=3)
    for b in range(6):
        m.record(b, 10, {0: 10})
    assert m.batches == 6 and m.vectors == 60
    assert m.cell_totals() == {0: 60}  # compacted mass survives
    assert len(m.ledger.records()) <= 4
    # a LIVE batch replay replaces, never adds
    m.record(5, 4, {1: 4})
    assert m.vectors == 54
    assert m.cell_totals() == {0: 50, 1: 4}
    # an already-compacted batch id refuses (cannot be deduplicated)
    with pytest.raises(RuntimeError, match="compacted"):
        m.record(0, 10, {0: 10})


def test_index_compact_merges_generations_and_noops_folded_replays(
    spark, sf_dir, tmp_path, emb
):
    """AnnIndex.compact() must merge every live generation into one
    (same rows, same query answers), move the folded shard ids into the
    bounded compacted_shards memory, and turn an add_shard REPLAY of a
    folded id into a no-op instead of a double-count — while genuinely
    NEW shards still commit."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        brute_force_topk,
    )

    qvec = emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    idx = AnnIndex.build(
        spark, emb, str(tmp_path / "idx"), n_cells=8, m=8, k_codes=16
    )
    s1 = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    s2 = emb.withColumn("vec_id", F.col("vec_id") + 2_000_000)
    idx.add_shard(s1, shard_id="s1")
    idx.add_shard(s2, shard_id="s2")
    n = emb.count()
    assert len(idx.vectors_dirs) == 3

    want = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    stats = idx.compact()
    assert (stats["dirs_before"], stats["dirs_after"], stats["rows"]) == (
        3,
        1,
        3 * n,
    )
    assert stats["merged_dir"] in idx.vectors_dirs
    assert len(idx.vectors_dirs) == 1
    assert idx.vectors().count() == 3 * n
    got = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got == want  # contents identical through the merge

    # replay of a folded shard: no-op (rows already in the merged gen)
    idx.add_shard(s1, shard_id="s1")
    assert idx.vectors().count() == 3 * n
    assert idx.last_shard_rows == 0
    # a NEW shard still commits, and load() restores the folded memory
    s3 = emb.withColumn("vec_id", F.col("vec_id") + 3_000_000)
    idx.add_shard(s3, shard_id="s3")
    assert idx.vectors().count() == 4 * n
    loaded = AnnIndex.load(spark, idx.path)
    assert loaded.compacted_shards == ["s1", "s2"]
    loaded.add_shard(s2, shard_id="s2")  # folded replay via a fresh handle
    assert loaded.vectors().count() == 4 * n
    # a second compact folds s3 too, keeping newest-last order
    loaded.compact()
    assert AnnIndex.load(spark, idx.path).compacted_shards == [
        "s1",
        "s2",
        "s3",
    ]
    # the merged index still answers exactly (full probe == brute force
    # over the union of corpus + shards)
    full = emb
    for s in (s1, s2, s3):
        full = full.unionByName(s)
    want_full = [
        (r.vec_id, r.score)
        for r in brute_force_topk(full, qvec, 10).collect()
    ]
    got_full = [
        (r.vec_id, r.score)
        for r in loaded.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got_full == want_full


def test_streaming_ann_auto_compaction_replay_safe(
    spark, sf_dir, tmp_path, emb
):
    """compact_every=2 on a 4-batch stream: generation directories stay
    bounded instead of one-per-batch, totals are exact, and a full
    REPLAY with a fresh checkpoint (the OFFSET_BEGINNING restart) over
    the compacted index neither double-counts nor fails — folded shard
    ids no-op, live ones replace."""
    qvec = emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    seed = emb.where(F.col("vec_id") % 2 == 0)
    idx = AnnIndex.build(
        spark, seed, str(tmp_path / "idx"), n_cells=8, m=8, k_codes=16
    )
    parts = [
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 8 == r)
        for r in (1, 3, 5, 7)
    ]
    reader = _vector_stream(spark, tmp_path, emb, parts)
    ingest = StreamingAnnIngest(
        spark, idx, str(tmp_path / "ckpt"), compact_every=2
    )
    m = ingest.run_to_completion(reader())
    n = emb.count()
    assert m.batches == 4
    assert m.vectors == emb.where(F.col("vec_id") % 2 == 1).count()
    # 2 compactions fired: seed+b0+b1 merged, then (merged)+b2+b3 merged
    assert len(idx.vectors_dirs) == 1
    sizes = {r._ivf_cell: r.n for r in idx.cell_sizes().collect()}
    assert sum(sizes.values()) == n

    from consume_kafka_avro_data_spark.operators.similarity import (
        brute_force_topk,
    )

    want = [
        (r.vec_id, r.score) for r in brute_force_topk(emb, qvec, 10).collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got == want

    # full replay, fresh checkpoint: every batch re-arrives; all were
    # folded by compaction, so each replay is a no-op
    replay = StreamingAnnIngest(
        spark, idx, str(tmp_path / "ckpt2"), compact_every=2
    )
    replay.run_to_completion(reader())
    assert idx.vectors().count() == n
    got2 = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got2 == want


def test_streaming_ann_compaction_not_rerun_on_replayed_batch(
    spark, sf_dir, tmp_path, emb
):
    """batches does not advance on a replay, so a batch retried while
    the modulus sits at 0 must not re-merge the index per retry (the
    dedup ingest's gating, applied here)."""
    idx = AnnIndex.build(
        spark, emb, str(tmp_path / "idx"), n_cells=4, m=4, k_codes=8
    )
    ingest = StreamingAnnIngest(
        spark, idx, str(tmp_path / "ckpt"), compact_every=1
    )
    batch = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000).select(
        "vec_id", "embedding"
    )
    ingest.process_batch(batch, 0)
    assert len(idx.vectors_dirs) == 1  # compaction fired once
    import json as _json
    import os as _os

    meta_path = _os.path.join(idx.path, "_ann_meta.json")
    stamp = _os.path.getmtime(meta_path)
    before = _json.load(open(meta_path))
    ingest.process_batch(batch, 0)  # replay: folded id -> no-op
    assert _json.load(open(meta_path)) == before
    assert _os.path.getmtime(meta_path) == stamp


def test_index_compact_subset_folds_only_named_dirs(spark, sf_dir, tmp_path, emb):
    """Round-10 size-tiered primitive: compact(dirs=subset) merges ONLY
    the named generations — the base is untouched on disk, surviving
    shard ids keep their replay-REPLACE semantics, folded ids no-op,
    query answers are unchanged, and a foreign dir name is an eager
    error."""
    qvec = emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    idx = AnnIndex.build(
        spark, emb, str(tmp_path / "idx"), n_cells=8, m=8, k_codes=16
    )
    base = idx.vectors_dirs[0]
    s1 = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    s2 = emb.withColumn("vec_id", F.col("vec_id") + 2_000_000)
    s3 = emb.withColumn("vec_id", F.col("vec_id") + 3_000_000)
    idx.add_shard(s1, shard_id="s1")
    idx.add_shard(s2, shard_id="s2")
    idx.add_shard(s3, shard_id="s3")
    n = emb.count()
    d1, d2, d3 = [d for d in idx.vectors_dirs if d != base]
    want = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    stats = idx.compact(dirs=[d1, d2])
    assert (stats["dirs_before"], stats["dirs_after"]) == (4, 3)
    assert stats["rows"] == 2 * n
    # base and the un-named shard dir survive verbatim
    assert idx.vectors_dirs[0] == base and d3 in idx.vectors_dirs
    assert idx.vectors().count() == 4 * n
    got = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got == want
    # folded ids no-op on replay; the surviving id still REPLACES
    idx.add_shard(s1, shard_id="s1")
    assert idx.last_shard_rows == 0 and idx.vectors().count() == 4 * n
    idx.add_shard(s3, shard_id="s3")  # replace: same rows, new dir
    assert idx.vectors().count() == 4 * n
    # persisted: a fresh handle sees the same split
    loaded = AnnIndex.load(spark, idx.path)
    assert sorted(loaded.compacted_shards) == ["s1", "s2"]
    assert loaded.vectors().count() == 4 * n
    with pytest.raises(ValueError, match="not live generations"):
        idx.compact(dirs=[idx.vectors_dirs[-1], "gen-nonexistent"])


def test_streaming_ann_tiered_compaction(spark, sf_dir, tmp_path, emb):
    """compact_policy="tiered": per-batch generations fold into level-1
    dirs every K batches WITHOUT re-writing the seed base; the base is
    folded only when the tiers outgrow it; totals and query answers
    equal brute force throughout; a full fresh-checkpoint replay over
    the folded index is a no-op."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        brute_force_topk,
    )

    qvec = emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    # small seed: 1/8 of the corpus, so the arriving 7/8 outgrows it
    # mid-stream and forces one base fold
    seed = emb.where(F.col("vec_id") % 8 == 0)
    idx = AnnIndex.build(
        spark, seed, str(tmp_path / "idx"), n_cells=8, m=8, k_codes=16
    )
    base0 = idx.vectors_dirs[0]
    parts = [F.col("vec_id") % 8 == r for r in (1, 2, 3, 4, 5, 6, 7)]
    reader = _vector_stream(spark, tmp_path, emb, parts)
    ingest = StreamingAnnIngest(
        spark,
        idx,
        str(tmp_path / "ckpt"),
        compact_every=2,
        compact_policy="tiered",
    )
    m = ingest.run_to_completion(reader())
    n = emb.count()
    assert m.batches == 7
    assert idx.vectors().count() == n
    # the base was folded at least once (arrivals outgrew the seed) and
    # the dir count stays far below one-per-batch
    assert ingest._base_dir != base0
    assert len(idx.vectors_dirs) < 1 + m.batches
    want = [
        (r.vec_id, r.score) for r in brute_force_topk(emb, qvec, 10).collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got == want
    # fresh-checkpoint full replay: folded batches no-op, live ones
    # replace — totals and answers unchanged
    replay = StreamingAnnIngest(
        spark,
        idx,
        str(tmp_path / "ckpt2"),
        compact_every=2,
        compact_policy="tiered",
    )
    replay.run_to_completion(reader())
    assert idx.vectors().count() == n
    got2 = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got2 == want
    with pytest.raises(ValueError, match="compact_policy"):
        StreamingAnnIngest(
            spark, idx, str(tmp_path / "ckpt3"), compact_policy="lsm"
        )


def test_tiered_policy_validates_fold_width_and_bounds_cache(
    spark, sf_dir, tmp_path, emb
):
    """Round-10 sweep pins: (a) tiered with compact_every=1 is a
    config error (a 1-way fold merges nothing and would re-fire every
    batch); (b) the footer-count cache is pruned to live dirs, so a
    long stream never accumulates one stale entry per folded batch
    generation."""
    idx = AnnIndex.build(
        spark,
        emb.where(F.col("vec_id") % 8 == 0),
        str(tmp_path / "idx"),
        n_cells=8,
        m=8,
        k_codes=16,
    )
    with pytest.raises(ValueError, match="compact_every >= 2"):
        StreamingAnnIngest(
            spark,
            idx,
            str(tmp_path / "ckpt0"),
            compact_every=1,
            compact_policy="tiered",
        )
    parts = [F.col("vec_id") % 8 == r for r in (1, 2, 3, 4, 5, 6, 7)]
    reader = _vector_stream(spark, tmp_path, emb, parts)
    ingest = StreamingAnnIngest(
        spark,
        idx,
        str(tmp_path / "ckpt"),
        compact_every=2,
        compact_policy="tiered",
    )
    ingest.run_to_completion(reader())
    assert set(ingest._dir_rows) <= set(idx.vectors_dirs)
    # (c) the schedule's whole point, pinned as re-written ROW volume
    # (wall rates tie at test scale where merge jobs are fixed-cost-
    # bound): eager re-reads the full corpus every trigger, tiered
    # folds only the tiers — strictly less rewrite volume on the same
    # stream, and both end fully queryable
    idx2 = AnnIndex.build(
        spark,
        emb.where(F.col("vec_id") % 8 == 0),
        str(tmp_path / "idx2"),
        n_cells=8,
        m=8,
        k_codes=16,
    )
    eager = StreamingAnnIngest(
        spark,
        idx2,
        str(tmp_path / "ckpt2"),
        compact_every=2,
        compact_policy="eager",
    )
    eager.run_to_completion(reader())
    assert 0 < ingest.compact_rows_written < eager.compact_rows_written
    assert idx.vectors().count() == idx2.vectors().count() == emb.count()


def test_add_shard_refuses_empty_generation(spark, sf_dir, tmp_path, emb):
    """Round-11 advisor fix: an empty shard must not commit a FILELESS
    generation dir (an empty partitionBy write leaves no parquet
    footers, breaking every later read and leaving the tiered schedule
    a rowless live dir per empty batch).  The commit is refused, the
    shard id records as already-folded so replays no-op, and nothing
    fileless survives on disk."""
    import os

    idx = AnnIndex.build(
        spark,
        emb.where(F.col("vec_id") % 8 == 0),
        str(tmp_path / "idx"),
        n_cells=8,
        m=8,
        k_codes=16,
    )
    dirs0 = list(idx.vectors_dirs)
    n0 = idx.vectors().count()
    empty = emb.select("vec_id", "embedding").limit(0)
    idx.add_shard(empty, shard_id="e1")
    assert idx.last_shard_rows == 0
    assert idx.vectors_dirs == dirs0
    assert "e1" in idx.compacted_shards
    # replay no-ops via the already-folded fast path
    idx.add_shard(empty, shard_id="e1")
    assert idx.vectors_dirs == dirs0
    # anonymous empty shard: same refusal, no id bookkeeping
    idx.add_shard(empty)
    assert idx.vectors_dirs == dirs0
    # empty re-commit under an id that previously committed rows:
    # replace semantics retire the old generation and the id folds
    idx.add_shard(
        emb.select("vec_id", "embedding").limit(5), shard_id="s_re"
    )
    assert idx.vectors().count() == n0 + 5
    idx.add_shard(empty, shard_id="s_re")
    assert idx.vectors().count() == n0
    assert "s_re" in idx.compacted_shards
    assert idx.vectors_dirs == dirs0
    # on-disk: only the committed generations remain (the fileless dir
    # was swept by the refusal's gc; the replaced generation sits in
    # grace until its window expires) and a fresh handle reads clean
    on_disk = {
        d for d in os.listdir(str(tmp_path / "idx")) if d.startswith("vectors")
    }
    assert set(dirs0) <= on_disk  # replaced dir may persist in grace
    loaded = AnnIndex.load(spark, str(tmp_path / "idx"))
    assert loaded.vectors_dirs == dirs0
    assert "e1" in loaded.compacted_shards
    assert loaded.vectors().count() == n0


def test_tiered_cascade_retires_legacy_empty_generations(
    spark, sf_dir, tmp_path, emb
):
    """Round-11 advisor fix: an index carrying all-empty generation
    dirs (written by pre-fix empty add_shard calls) must not wedge the
    tiered schedule — compact() retires the fileless dirs without
    writing a merged generation, the cascade continues instead of
    aborting per batch, and the stream ends with them gone from the
    live list."""
    import json
    import os

    from consume_kafka_avro_data_spark.operators.similarity import (
        brute_force_topk,
    )

    qvec = emb.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    root = str(tmp_path / "idx")
    idx = AnnIndex.build(
        spark,
        emb.where(F.col("vec_id") % 8 == 0),
        root,
        n_cells=8,
        m=8,
        k_codes=16,
    )
    # hand-commit two legacy fileless generations, the shape a pre-fix
    # empty add_shard left behind
    legacy = ["vectors-legacyempty1", "vectors-legacyempty2"]
    for name in legacy:
        os.makedirs(os.path.join(root, name))
    mf = os.path.join(root, "_ann_meta.json")
    meta = json.loads(open(mf, "rb").read())
    meta["vectors_dirs"] = meta["vectors_dirs"] + legacy
    open(mf, "w").write(json.dumps(meta))
    idx = AnnIndex.load(spark, root)
    assert set(legacy) <= set(idx.vectors_dirs)
    ingest = StreamingAnnIngest(
        spark,
        idx,
        str(tmp_path / "ckpt"),
        compact_every=2,
        compact_policy="tiered",
    )
    # direct schedule round before any arrivals: the only level-0
    # population is the two empty dirs — the fold retires them (no
    # merged generation) and the pass terminates cleanly (the pre-fix
    # code aborted and re-counted them at level 0 every batch forever)
    ingest._tiered_compact()
    assert not (set(legacy) & set(idx.vectors_dirs))
    assert not (set(legacy) & set(ingest._fold_level))
    assert ingest.compact_rows_written == 0  # nothing re-written
    # a real stream then folds normally past where the empties were
    parts = [F.col("vec_id") % 8 == r for r in (1, 2, 3, 4)]
    reader = _vector_stream(spark, tmp_path, emb, parts)
    ingest.run_to_completion(reader())
    assert ingest.compact_rows_written > 0
    n = emb.where(F.col("vec_id") % 8 <= 4).count()
    assert idx.vectors().count() == n
    sub = emb.where(F.col("vec_id") % 8 <= 4)
    want = [
        (r.vec_id, r.score) for r in brute_force_topk(sub, qvec, 10).collect()
    ]
    got = [
        (r.vec_id, r.score)
        for r in idx.query_exact(qvec, 10, nprobe=8).collect()
    ]
    assert got == want


def test_tiered_fold_levels_persist_across_restart(spark, sf_dir, tmp_path, emb):
    """Round-11: the tiered schedule's fold-level map persists in an
    index-side sidecar, so a restarted ingest RESUMES the schedule —
    the stop/start run re-writes exactly as many rows as the
    uninterrupted run (pre-persistence, every fold dir demoted to
    level 0 on restart and already-folded rows paid one extra fold).
    The seed outweighs the arrivals so no base fold masks the level
    bookkeeping."""
    import os

    from consume_kafka_avro_data_spark.streaming.ann import FOLD_SIDECAR

    def write_part(path, i):
        emb.where(F.col("vec_id") % 8 == 1).select(
            (F.col("vec_id") + i * 1_000_000).alias("vec_id"), "embedding"
        ).coalesce(1).write.mode("append").parquet(path)

    def build(name):
        return AnnIndex.build(
            spark, emb, str(tmp_path / name), n_cells=8, m=8, k_codes=16
        )

    # A: uninterrupted 6-batch run
    idx_a = build("idxA")
    path_a = str(tmp_path / "vecsA")
    for i in range(6):
        write_part(path_a, i)
    schema = emb.select("vec_id", "embedding").schema
    reader = lambda p: (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(p)
    )
    ing_a = StreamingAnnIngest(
        spark,
        idx_a,
        str(tmp_path / "ckptA"),
        compact_every=2,
        compact_policy="tiered",
    )
    ing_a.run_to_completion(reader(path_a))
    assert ing_a.compact_rows_written > 0
    assert ing_a._base_dir == idx_a.vectors_dirs[0]  # base untouched

    # B: same stream split 3 + 3 around a restart (fresh index handle,
    # same checkpoint — only the new files replay)
    idx_b = build("idxB")
    path_b = str(tmp_path / "vecsB")
    for i in range(3):
        write_part(path_b, i)
    ing_b1 = StreamingAnnIngest(
        spark,
        idx_b,
        str(tmp_path / "ckptB"),
        compact_every=2,
        compact_policy="tiered",
    )
    ing_b1.run_to_completion(reader(path_b))
    assert ing_b1._fold_level  # at least one level-1 fold happened
    assert os.path.exists(os.path.join(idx_b.path, FOLD_SIDECAR))
    for i in range(3, 6):
        write_part(path_b, i)
    ing_b2 = StreamingAnnIngest(
        spark,
        AnnIndex.load(spark, idx_b.path),
        str(tmp_path / "ckptB"),
        compact_every=2,
        compact_policy="tiered",
    )
    # the restarted ingest RESUMES the exact level map
    assert ing_b2._fold_level == ing_b1._fold_level
    ing_b2.run_to_completion(reader(path_b))
    total_split = ing_b1.compact_rows_written + ing_b2.compact_rows_written
    assert total_split == ing_a.compact_rows_written
    assert ing_b2.index.vectors().count() == idx_a.vectors().count()
    assert len(ing_b2.index.vectors_dirs) == len(idx_a.vectors_dirs)
    # losing the sidecar degrades to the pre-persistence behavior:
    # every fold dir re-enters at level 0 (correct, one extra re-fold)
    os.remove(os.path.join(idx_b.path, FOLD_SIDECAR))
    ing_b3 = StreamingAnnIngest(
        spark,
        AnnIndex.load(spark, idx_b.path),
        str(tmp_path / "ckptB"),
        compact_every=2,
        compact_policy="tiered",
    )
    assert ing_b3._fold_level == {}
