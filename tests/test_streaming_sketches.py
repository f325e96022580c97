"""StreamingSketchMonitor: the merged view over any replay sequence
must EQUAL a batch computation over everything that arrived (the
mergeable-sketch laws doing replay idempotence), duplication factor
must read planted duplicates, horizon folding must be lossless for
the merged view, and ancient replays must refuse."""

from __future__ import annotations

import pytest

from consume_kafka_avro_data_spark.operators.sketches import (
    heavy_hitters,
    kmv_sketch,
)
from consume_kafka_avro_data_spark.streaming.sketches import (
    SketchMetrics,
    StreamingSketchMonitor,
)

BATCHES = [
    [(1, "x"), (2, "x"), (3, "y")],
    [(1, "x"), (4, "z"), (4, "z")],  # 1 redelivered; 4 duplicated in-batch
    [(5, "x"), (6, "w"), (1, "x")],
]


def _stream(spark, tmp_path, batches):
    path = str(tmp_path / "rows")
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, tag string").coalesce(
            1
        ).write.mode("append").parquet(path)
    return (
        spark.readStream.schema("doc_id long, tag string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def _full_df(spark):
    rows = [r for b in BATCHES for r in b]
    return spark.createDataFrame(rows, "doc_id long, tag string")


def test_merged_view_equals_batch_computation(spark, tmp_path):
    """After the stream drains, the monitor's merged KMV hash set is
    EXACTLY what one batch pass over the full corpus computes (the
    union law is a theorem); the heavy-hitter summary matches too
    because every per-batch summary here runs below capacity (MG
    equality is exact in that regime, guarantee-only beyond it)."""
    mon = StreamingSketchMonitor(
        spark, str(tmp_path / "ckpt_a"), col="doc_id", k_kmv=64, k_hh=4
    )
    mon.run_to_completion(_stream(spark, tmp_path, BATCHES))
    sk, hh = mon.metrics.merged()
    full = _full_df(spark)
    assert sk == kmv_sketch(full, "doc_id", k=64)
    assert hh.items == heavy_hitters(full, "doc_id", k=4).items
    assert hh.n == 9
    # 6 distinct ids over 9 rows
    assert mon.distinct_estimate() == 6.0  # exact below capacity
    assert mon.duplication_factor() == pytest.approx(9 / 6)
    assert mon.metrics.batches == 3 and mon.metrics.rows == 9


def test_replay_is_idempotent(spark, tmp_path):
    """A fresh-checkpoint full replay reproduces the identical merged
    state — replace-by-batch-id, not double-counting."""
    mon = StreamingSketchMonitor(
        spark, str(tmp_path / "ckpt_a"), col="doc_id", k_kmv=64, k_hh=4
    )
    mon.run_to_completion(_stream(spark, tmp_path, BATCHES))
    first = mon.metrics.merged()
    mon2 = StreamingSketchMonitor(
        spark, str(tmp_path / "ckpt_b"), col="doc_id", k_kmv=64, k_hh=4
    )
    mon2.run_to_completion(_stream(spark, tmp_path, []))
    assert mon2.metrics.merged() == first
    # and an in-place re-record of one batch replaces, not adds
    h, m, n = mon.metrics.ledger.records()[0]
    mon.metrics.record(0, h, m, n)
    assert mon.metrics.merged() == first


def test_horizon_folding_is_lossless_and_refuses_ancient(spark):
    """With horizon 1, early batches fold into the compacted pair; the
    merged view stays equal to the unfolded metrics', and replaying a
    compacted batch raises the family's ancient-replay error."""
    wide = SketchMetrics(k_kmv=64, k_hh=4, compact_horizon=1024)
    tight = SketchMetrics(k_kmv=64, k_hh=4, compact_horizon=1)
    fake = [
        (0, (10, 20), {"x": 2}, 3),
        (1, (20, 30), {"x": 1, "z": 2}, 3),
        (2, (40,), {"w": 1}, 1),
        (3, (50, 60), {"x": 1}, 2),
    ]
    for bid, h, m, n in fake:
        wide.record(bid, h, m, n)
        tight.record(bid, h, m, n)
    assert tight.batches > len(tight.ledger.records())  # some folded
    ws, wh = wide.merged()
    ts, th = tight.merged()
    assert ws == ts and wh == th
    assert tight.rows == wide.rows == 9
    with pytest.raises(RuntimeError, match="already compacted"):
        tight.record(0, (10, 20), {"x": 2}, 3)


def test_column_choice_and_empty_state(spark, tmp_path):
    mon = StreamingSketchMonitor(
        spark, str(tmp_path / "ckpt"), col="tag", k_kmv=64, k_hh=2
    )
    assert mon.duplication_factor() == 0.0  # nothing arrived yet
    mon.run_to_completion(_stream(spark, tmp_path, BATCHES))
    assert mon.distinct_estimate() == 4.0  # x, y, z, w
    hh = mon.heavy_hitters()
    assert "x" in hh.items  # 5 of 9 rows — always above n/(k+1)=3


def test_sketch_monitor_rides_the_dedup_ingest(spark, tmp_path):
    """One stream scan drives dedup AND the sketch watch: the monitor
    sees RAW arrivals (duplication factor reads the redeliveries the
    ingest then removes), and a fresh-checkpoint replay leaves both
    byte-stable."""
    from consume_kafka_avro_data_spark.streaming.dedup import (
        StreamingDedupIngest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps in the warm sun near the old barn door"
    )
    far = "completely different content about spark query engines"
    batches = [
        [(1, base), (2, far)],
        [(1, base), (3, base)],  # 1 redelivered; 3 near-dups 1
    ]
    path = str(tmp_path / "docs")
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )

    def build(tag):
        mon = StreamingSketchMonitor(
            spark,
            str(tmp_path / f"ckpt_{tag}"),
            col="doc_id",
            k_kmv=64,
            k_hh=4,
        )
        ingest = StreamingDedupIngest(
            spark,
            store_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            sketch_monitor=mon,
        )
        return mon, ingest

    mon, ingest = build("a")
    m = ingest.run_to_completion(stream)
    assert m.docs == 4
    # the monitor saw 4 raw rows over 3 distinct ids (1 arrived twice)
    assert mon.heavy_hitters().n == 4
    assert mon.distinct_estimate() == 3.0
    assert mon.duplication_factor() == pytest.approx(4 / 3)
    first = mon.metrics.merged()
    # fresh-checkpoint replay: monitor state reproduced exactly
    mon2, ingest2 = build("b")
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    ingest2.run_to_completion(stream2)
    assert mon2.metrics.merged() == first
