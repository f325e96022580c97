"""fsio: the persistence layer's metadata IO must work through the
Hadoop FileSystem API (exercised here via ``file://`` URIs — the same
code path an ``hdfs://`` store takes), keep the plain-local POSIX path
as the degenerate case, and fail clearly on unconfigured schemes
instead of mid-commit.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from consume_kafka_avro_data_spark.fsio import (
    HadoopIO,
    LocalIO,
    UnsupportedFsError,
    fs_for,
)
from consume_kafka_avro_data_spark.operators.store import ManifestTable

SCHEMA = StructType(
    [
        StructField("k", LongType(), True),
        StructField("v", StringType(), True),
    ]
)


def test_backend_dispatch(spark, tmp_path):
    assert isinstance(fs_for(spark, str(tmp_path)), LocalIO)
    assert isinstance(fs_for(spark, f"file://{tmp_path}"), HadoopIO)


def test_unconfigured_scheme_fails_at_construction(spark, tmp_path):
    """s3a:// without the AWS connector must raise a clear error when
    the STORE is built, not a confusing JVM stack mid-commit."""
    with pytest.raises(UnsupportedFsError, match="s3a"):
        ManifestTable(spark, "s3a://bucket/table", SCHEMA, keys=["k"])


def test_hadoop_io_primitives_match_local(spark, tmp_path):
    """Same bytes through both backends: write/read/rename-overwrite/
    atomic replace/list/delete, plus footer row counts on a real parquet
    file."""
    local = LocalIO()
    hd = fs_for(spark, f"file://{tmp_path}")
    base_l = str(tmp_path / "l")
    base_h = f"file://{tmp_path}/h"
    for io, base in ((local, base_l), (hd, base_h)):
        io.mkdirs(base)
        io.write_bytes(os.path.join(base, "a.json"), b'{"x": 1}')
        assert io.is_file(os.path.join(base, "a.json"))
        assert io.read_bytes(os.path.join(base, "a.json")) == b'{"x": 1}'
        io.write_bytes(os.path.join(base, "b.json"), b'{"x": 2}')
        io.rename_overwrite(
            os.path.join(base, "b.json"), os.path.join(base, "a.json")
        )
        assert io.read_bytes(os.path.join(base, "a.json")) == b'{"x": 2}'
        io.write_atomic(os.path.join(base, "a.json"), b'{"x": 3}')
        assert io.read_bytes(os.path.join(base, "a.json")) == b'{"x": 3}'
        assert io.list_names(base) == ["a.json"]
        assert io.list_names(os.path.join(base, "missing")) == []
        io.delete(os.path.join(base, "a.json"))
        assert not io.exists(os.path.join(base, "a.json"))

    # footer row count: Hadoop (seek-tail reconstruction) == pyarrow
    pq_dir = str(tmp_path / "pq")
    spark.range(1234).write.parquet(pq_dir)
    files = [f for f in os.listdir(pq_dir) if f.endswith(".parquet")]
    n_local = sum(local.parquet_num_rows(os.path.join(pq_dir, f)) for f in files)
    n_hadoop = sum(
        hd.parquet_num_rows(f"file://{pq_dir}/{f}") for f in files
    )
    assert n_local == n_hadoop == 1234
    assert len(hd.walk_parquet(f"file://{pq_dir}")) == len(files)


def test_manifest_table_full_lifecycle_over_hadoop_uri(spark, tmp_path):
    """The exact local-path lifecycle test, through file:// — merge
    idempotence, time travel, compact + history pruning all run on the
    Hadoop FileSystem code path."""
    t = ManifestTable(spark, f"file://{tmp_path}/t", SCHEMA, keys=["k"])
    assert isinstance(t._io, HadoopIO)
    assert t.version() == 0 and t.versions() == []

    t.merge_new(spark.createDataFrame([(1, "a")], SCHEMA))
    t.merge_new(spark.createDataFrame([(2, "b")], SCHEMA))
    t.merge_new(spark.createDataFrame([(2, "dup"), (3, "c")], SCHEMA))
    assert t.version() == 3 and t.versions() == [1, 2, 3]

    def keys(version=None):
        return sorted(r.k for r in t.read(version).collect())

    assert keys(1) == [1]
    assert keys(2) == [1, 2]
    assert keys() == [1, 2, 3]

    # replay: nothing new, version unchanged
    t.merge_new(spark.createDataFrame([(1, "replay")], SCHEMA))
    assert t.version() == 3

    # point lookups: footers and row groups seek-read through HadoopIO
    assert t.lookup(2, "k", "v") == [{"k": 2, "v": "b"}]
    assert t.lookup(9, "v") == [] and t.lookup(None, "v") == []

    t.compact()
    assert keys() == [1, 2, 3]
    assert t.versions() == [t.version()]
    with pytest.raises(FileNotFoundError, match="pruned|not available"):
        t.read(1)
    assert [t.lookup(k, "v") for k in (1, 3, 9)] == [[{"v": "a"}], [{"v": "c"}], []]


def test_publish_backfills_snapshot_lost_in_crash_window(spark, tmp_path):
    """Crash between the pointer swap and the snapshot rename leaves
    version N without _manifest.vN.json; the NEXT publish must rebuild
    it from the pointer before advancing, or read(version=N) dies for a
    version that was committed."""
    t = ManifestTable(spark, str(tmp_path / "t"), SCHEMA, keys=["k"])
    t.merge_new(spark.createDataFrame([(1, "a")], SCHEMA))
    t.merge_new(spark.createDataFrame([(2, "b")], SCHEMA))
    # simulate the crash window for version 2: snapshot file missing,
    # pointer still serving it
    os.remove(str(tmp_path / "t" / "_manifest.v2.json"))
    assert sorted(r.k for r in t.read(2).collect()) == [1, 2]  # pointer
    t.merge_new(spark.createDataFrame([(3, "c")], SCHEMA))  # backfills
    assert sorted(r.k for r in t.read(2).collect()) == [1, 2]
    assert sorted(r.k for r in t.read(3).collect()) == [1, 2, 3]
    doc = json.loads((tmp_path / "t" / "_manifest.v2.json").read_bytes())
    assert doc["version"] == 2


def test_streaming_dedup_store_over_hadoop_uri(spark, sf_dir, tmp_path):
    """The dedup ingest's HOT LOOP (per-batch store scan + footer
    counts + manifest commits) must run unchanged when the signature
    store lives behind a file:// URI — the HadoopIO path a real
    hdfs:// deployment takes."""
    from consume_kafka_avro_data_spark.streaming.dedup import (
        StreamingDedupIngest,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(200)
    )
    topic = str(tmp_path / "docs")
    docs.repartition(2).write.parquet(topic)

    ingest = StreamingDedupIngest(
        spark,
        store_dir=f"file://{tmp_path}/store",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert isinstance(ingest.store._io, HadoopIO)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(topic)
    )
    m = ingest.run_to_completion(stream)
    assert m.docs == 200
    assert m.novel_docs + m.dup_docs == 200
    assert ingest.store.read().count() == m.novel_docs
    before = sorted(r["_id"] for r in ingest.store.read().collect())

    # replay with a fresh checkpoint: stored docs must not self-match
    # (id-excluded) and merge_new must append nothing — store contents
    # byte-stable through the HadoopIO manifest path
    replay = StreamingDedupIngest(
        spark,
        store_dir=f"file://{tmp_path}/store",
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    m2 = replay.run_to_completion(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(topic)
    )
    assert m2.docs == 200
    after = sorted(r["_id"] for r in replay.store.read().collect())
    assert after == before
    assert replay.store.version() == ingest.store.version()


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"\x00",
        b"\x00\xff" * 3,
        bytes(range(256)),
        b"\x80\x81\xfe\xff" * 100_000,  # ~400 KB, high bits set
    ],
    ids=["empty", "nul", "nul-ff", "all-bytes", "400kb-high-bits"],
)
def test_hadoop_io_byte_roundtrip_exact(spark, tmp_path, payload):
    """write_bytes/read_bytes through the JVM must be byte-exact for
    arbitrary binary payloads (py4j byte[] conversion is the risk:
    signed bytes, NULs, large arrays) — and identical to the POSIX
    backend's roundtrip."""
    hd = fs_for(spark, f"file://{tmp_path}")
    p = f"file://{tmp_path}/blob.bin"
    hd.write_bytes(p, payload)
    assert hd.read_bytes(p) == payload
    # the POSIX backend reads the same physical file identically
    assert LocalIO().read_bytes(str(tmp_path / "blob.bin")) == payload


def test_local_delete_matches_hadoop_contract(spark, tmp_path):
    """LocalIO.delete must behave like HadoopIO.delete: missing-ok, a
    recursive delete also removes a REGULAR file at the path, and real
    errors raise instead of being swallowed (a GC sweep that silently
    leaves data behind 'succeeds' while unreferenced files pile up)."""
    from consume_kafka_avro_data_spark.fsio import fs_for

    io = fs_for(spark, str(tmp_path))
    f = tmp_path / "stray.parquet"
    f.write_bytes(b"x")
    io.delete(str(f), recursive=True)  # regular file + recursive: removed
    assert not f.exists()
    io.delete(str(tmp_path / "missing"), recursive=True)  # missing-ok
    io.delete(str(tmp_path / "missing"))  # missing-ok, non-recursive
    d = tmp_path / "dir"
    (d / "sub").mkdir(parents=True)
    (d / "sub" / "f").write_bytes(b"y")
    io.delete(str(d), recursive=True)
    assert not d.exists()
