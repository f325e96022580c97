"""Graph-materialization tests: idempotent replay (T5), dedup-merge
(S7/S8), keyed lookup (J1).  Mirrors the reference's pipeline-semantics
contract: re-consuming from OFFSET_BEGINNING must leave the graph tables
unchanged (src/main.cpp:229 + src/Database.h:23-31)."""

from __future__ import annotations

import pytest

from consume_kafka_avro_data_spark.operators.graph import (
    GraphStore,
    edges_from_triples,
    triples_from,
    vertices_from_triples,
)

# representative SPO rows, shapes from FIXTURES.md A1 / the reference logs
TRIPLES = [
    ("Don Vito", "Email", "donvito@example.com"),
    ("Underboss Marco", "Captain", "Capo Salvatore"),
    ("Soldier Nico", "Illegal Arms Deal", "1990"),
    ("Don Vito", "Underboss", "Underboss Marco"),
    ("Don Vito", "Email", "donvito@example.com"),  # exact dup — must dedup
]


@pytest.fixture()
def triples(spark):
    df = spark.createDataFrame(TRIPLES, ["s", "p", "o"])
    return triples_from(df, "s", "p", "o")


def test_triples_shape(triples):
    assert triples.columns == ["subject", "predicate", "object"]
    assert triples.count() == 5


def test_vertices_distinct_union(triples):
    v = vertices_from_triples(triples, created_at="2024-01-01")
    names = {r.object_name for r in v.collect()}
    assert names == {
        "Don Vito",
        "Underboss Marco",
        "Soldier Nico",
        "donvito@example.com",
        "Capo Salvatore",
        "1990",
    }
    assert v.count() == 6  # distinct
    row = v.where("object_name = 'Don Vito'").collect()[0]
    assert row.object_type == "MyObjectType"  # KafkaConsumerCallback.cpp:101-102
    assert str(row.created_at) == "2024-01-01"


def test_edges_need_no_lookup_join(triples):
    e = edges_from_triples(triples)
    assert e.count() == 4  # dup edge removed
    # content-hash ids line up with the vertex ids without any join
    v = vertices_from_triples(triples, created_at="2024-01-01")
    vid = {r.object_name: r.id for r in v.collect()}
    edges = {(r.source_id, r.target_id, r.relationship_name) for r in e.collect()}
    assert (vid["Don Vito"], vid["donvito@example.com"], "Email") in edges
    assert (vid["Underboss Marco"], vid["Capo Salvatore"], "Captain") in edges


def test_ingest_and_replay_idempotence(spark, triples, tmp_path):
    store = GraphStore(spark, str(tmp_path / "graph"))
    nv, ne = store.ingest_triples(triples, created_at="2024-01-01")
    assert (nv, ne) == (6, 4)

    # replay from the beginning — the reference's at-least-once +
    # ON CONFLICT DO NOTHING contract: zero new rows, tables unchanged
    nv2, ne2 = store.ingest_triples(triples, created_at="2024-01-01")
    assert (nv2, ne2) == (0, 0)
    assert store.objects().count() == 6
    assert store.relationships().count() == 4


def test_incremental_batch_adds_only_new(spark, triples, tmp_path):
    store = GraphStore(spark, str(tmp_path / "graph"))
    store.ingest_triples(triples, created_at="2024-01-01")
    batch2 = triples_from(
        spark.createDataFrame(
            [
                ("Don Vito", "Phone", "555-0100"),  # new edge, 1 new vertex
                ("Soldier Nico", "Illegal Arms Deal", "1990"),  # full dup
            ],
            ["s", "p", "o"],
        ),
        "s",
        "p",
        "o",
    )
    nv, ne = store.ingest_triples(batch2, created_at="2024-01-02")
    assert (nv, ne) == (1, 1)
    assert store.objects().count() == 7
    assert store.relationships().count() == 5


def test_keyed_lookup(spark, triples, tmp_path):
    store = GraphStore(spark, str(tmp_path / "graph"))
    store.ingest_triples(triples, created_at="2024-01-01")
    don = store.get_object_id("Don Vito")
    assert don is not None
    assert store.get_object_id("Nobody Here") is None
    # the id is the content hash — recomputable without reading the table
    from pyspark.sql import functions as F

    [expected] = (
        spark.range(1).select(F.xxhash64(F.lit("Don Vito")).alias("h")).collect()
    )
    assert don == expected.h


def test_keyed_lookup_none_absent_and_non_ascii_names(spark, tmp_path):
    """None matches nothing (SQL ``=``, as the filter it replaces); an
    absent name, including one inside a file's key range, is None;
    non-ASCII names resolve before and after compaction, whose files
    are pruned by footer min/max in UTF-8 byte order."""
    from pyspark.sql import functions as F

    names = ["Zoë", "zoe", "Ärger", "東京", "naïve café", "emoji 🙂", "Alpha", "Ωmega"]
    store = GraphStore(spark, str(tmp_path / "graph"))
    for i in range(0, len(names), 2):
        store.ingest_triples(
            triples_from(
                spark.createDataFrame([(names[i], "knows", names[i + 1])], ["s", "p", "o"]),
                "s", "p", "o",
            )
        )
    want = {
        r.n: r.h
        for r in spark.createDataFrame([(n,) for n in names], ["n"])
        .select("n", F.xxhash64("n").alias("h"))
        .collect()
    }
    absent = [None, "Zoe", "東", "Alpha ", "", "\U0010ffff"]
    for _ in range(2):
        assert {n: store.get_object_id(n) for n in names} == want
        assert [store.get_object_id(n) for n in absent] == [None] * len(absent)
        store.compact(target_rows_per_file=2)
    assert len(store._manifest_files(store.objects_path)) >= 3


def test_lookup_on_compacted_table_reads_one_file(spark, tmp_path):
    """compact() writes key-range-partitioned files, so a point lookup
    reads row-group data from one file only: every other
    file is skipped on its footer's min/max.  Reads are counted through
    the seekable-read primitive; a read that stops short of the end of
    the file is row-group data (footer reads end at the end)."""
    import io
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from consume_kafka_avro_data_spark.operators.store import ManifestTable

    schema = StructType(
        [StructField("k", StringType(), False), StructField("v", LongType(), True)]
    )
    t = ManifestTable(spark, str(tmp_path / "t"), schema, keys=["k"])
    for b in range(4):  # batches interleave the key space
        t.merge_new(
            spark.createDataFrame([(f"key{i:03d}", i) for i in range(b, 200, 4)], schema)
        )
    assert t.compact(target_rows_per_file=50) >= 4
    files = t.files()
    assert len(files) >= 4

    reads: list[tuple[str, int, int]] = []
    opened = t._io.open_read

    class Counted(io.RawIOBase):
        def __init__(self, path):
            self.f, self.name = opened(path), os.path.basename(path)
            self.size = os.path.getsize(path)

        def readable(self):
            return True

        def seekable(self):
            return True

        def seek(self, off, whence=io.SEEK_SET):
            return self.f.seek(off, whence)

        def tell(self):
            return self.f.tell()

        def read(self, n=-1):
            pos, data = self.f.tell(), self.f.read(n)
            reads.append((self.name, pos + len(data), self.size))
            return data

        def close(self):
            self.f.close()
            super().close()

    t._io.open_read = Counted

    def data_files():
        return {name for name, end, size in reads if end < size}

    assert t.lookup("key123", "k", "v") == [{"k": "key123", "v": 123}]
    assert len(data_files()) == 1
    assert {name for name, _, _ in reads} == set(files)  # footers only elsewhere
    reads.clear()
    assert t.lookup("key999", "v") == [] and data_files() == set()
    reads.clear()
    assert t.lookup("key050x", "v") == [] and len(data_files()) <= 1


def test_connected_components_chain_and_clique(spark):
    from consume_kafka_avro_data_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter > 1 exercises multiple rounds),
    # triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)],
        ["source_id", "target_id"],
    )
    got = {
        (r["node"], r["comp"])
        for r in connected_components(edges).collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20)}
    assert got == want


def test_connected_components_long_path_converges_fast(spark):
    """A 10k-node path graph (diameter 9999) must fully converge within
    15 rounds — plain hash-min would need ~10k.  Black-box check: run
    with max_iter=15; any node still carrying a non-zero label means
    the pointer-jumping horizon doubling failed."""
    from consume_kafka_avro_data_spark.operators.graph import connected_components

    n = 10_000
    edges = spark.range(n - 1).selectExpr(
        "id AS source_id", "id + 1 AS target_id"
    )
    # small_graph_edges=0 forces the distributed loop — this test pins
    # ITS convergence rate, not the driver union-find fast path
    labels = connected_components(edges, max_iter=15, small_graph_edges=0)
    assert labels.count() == n
    assert labels.where("comp != 0").count() == 0


def test_connected_components_fast_path_matches_distributed(spark):
    """The driver union-find fast path and the distributed loop must
    produce identical labelings."""
    from consume_kafka_avro_data_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)],
        ["source_id", "target_id"],
    )
    fast = {(r.node, r.comp) for r in connected_components(edges).collect()}
    dist = {
        (r.node, r.comp)
        for r in connected_components(edges, small_graph_edges=0).collect()
    }
    assert fast == dist


def test_connected_components_idempotent_on_duplicate_edges(spark):
    from consume_kafka_avro_data_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3)], ["source_id", "target_id"]
    )
    got = {(r["node"], r["comp"]) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_compact_preserves_rows_and_reduces_files(spark, triples, tmp_path):
    import os

    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.graph import GraphStore

    store = GraphStore(spark, str(tmp_path / "graph"))
    # three appends → many small files
    for batch in range(3):
        more = triples.withColumn(
            "subject", F.concat(F.col("subject"), F.lit(f"-{batch}"))
        )
        store.ingest_triples(more, created_at="2024-01-01")
    before_objects = store.objects().collect()
    before_edges = store.relationships().collect()
    n_files_before = len(
        [f for f in os.listdir(store.objects_path) if f.endswith(".parquet")]
    )

    result = store.compact()

    assert result["objects"] == 1
    assert result["relationships"] == 1
    assert n_files_before > 1
    assert sorted(map(tuple, store.objects().collect())) == sorted(
        map(tuple, before_objects)
    )
    assert sorted(map(tuple, store.relationships().collect())) == sorted(
        map(tuple, before_edges)
    )
    # idempotent merge still works after compaction
    nv, ne = store.ingest_triples(
        triples.withColumn("subject", F.concat(F.col("subject"), F.lit("-0"))),
        created_at="2024-01-01",
    )
    assert (nv, ne) == (0, 0)


def test_uncommitted_files_are_invisible(spark, triples, tmp_path):
    """Crash-atomicity: a parquet file present in the table directory
    but absent from the manifest (a writer died before its commit
    point) must not be read."""
    import os
    import shutil

    from consume_kafka_avro_data_spark.operators.graph import GraphStore

    store = GraphStore(spark, str(tmp_path / "graph"))
    store.ingest_triples(triples, created_at="2024-01-01")
    before = sorted(map(tuple, store.objects().collect()))

    # simulate a torn write: copy a committed file back in under a new
    # name without touching the manifest
    committed = store._manifest_files(store.objects_path)[0]
    shutil.copy(
        os.path.join(store.objects_path, committed),
        os.path.join(store.objects_path, "part-orphan-deadbeef.parquet"),
    )
    assert sorted(map(tuple, store.objects().collect())) == before


def test_connected_components_empty_edges(spark):
    """An empty pair graph (no duplicates found) must yield an empty
    labeling on BOTH paths, not a schema-inference crash."""
    from pyspark.sql.types import LongType, StructField, StructType

    from consume_kafka_avro_data_spark.operators.graph import connected_components

    schema = StructType(
        [StructField("source_id", LongType()), StructField("target_id", LongType())]
    )
    empty = spark.createDataFrame([], schema)
    fast = connected_components(empty)
    assert fast.count() == 0
    assert [f.name for f in fast.schema.fields] == ["node", "comp"]
    dist = connected_components(empty, small_graph_edges=0, max_iter=25)
    assert dist.count() == 0


def test_null_keyed_rows_stay_idempotent_on_replay(spark, tmp_path):
    """A NULL dedup key must not re-append on replay: plain `on=keys`
    anti-joins compile to EqualTo (NULL never matches NULL) while
    dropDuplicates treats NULLs as equal — the merge uses eqNullSafe so
    both layers agree and 'replays produce zero new rows' holds even
    for NULL-keyed vertices/edges."""
    from consume_kafka_avro_data_spark.operators.graph import GraphStore

    store = GraphStore(spark, str(tmp_path / "graph"))
    nulled = spark.createDataFrame(
        [("s1", "Email", None), ("s1", "Email", "o1")],
        "subject STRING, predicate STRING, object STRING",
    )
    nv, ne = store.ingest_triples(nulled, created_at="2024-01-01")
    assert nv > 0
    nv2, ne2 = store.ingest_triples(nulled, created_at="2024-01-01")
    assert (nv2, ne2) == (0, 0), "NULL-keyed row re-appended on replay"
    n_obj = store.objects().count()
    n_rel = store.relationships().count()
    store.ingest_triples(nulled, created_at="2024-01-01")
    assert store.objects().count() == n_obj
    assert store.relationships().count() == n_rel


def test_engine_state_sql_views(spark, tmp_path, triples):
    """register_engine_views exposes the MATERIALIZED graph (and the
    signature store) to ad-hoc spark.sql — the reference's graph
    existed to be queried (Database.h:23-31).  Run the reference's own
    prepared-statement shapes over a populated GraphStore view, then
    query a signature store through the same surface."""
    from consume_kafka_avro_data_spark.tables import register_engine_views

    store = GraphStore(spark, str(tmp_path / "graph"))
    store.ingest_triples(triples, created_at="2024-01-01")

    created = register_engine_views(spark, graph=store)
    assert created == ["objects", "relationships"]
    # the reference's keyed lookup: SELECT id FROM objects WHERE
    # object_name = $1 (Database.h:27)
    got = spark.sql(
        "SELECT id FROM objects WHERE object_name = 'Don Vito'"
    ).collect()
    assert len(got) == 1 and got[0]["id"] == store.get_object_id("Don Vito")
    # edge traversal: join relationships back to both endpoint names
    hop = spark.sql(
        """
        SELECT s.object_name AS src, r.relationship_name AS rel,
               t.object_name AS dst
        FROM relationships r
        JOIN objects s ON r.source_id = s.id
        JOIN objects t ON r.target_id = t.id
        ORDER BY src, rel, dst
        """
    ).collect()
    assert ("Don Vito", "Email", "donvito@example.com") in {
        (r.src, r.rel, r.dst) for r in hop
    }
    assert len(hop) == 4  # the exact-dup triple merged away

    # signature store view (a StreamingDedupIngest's .store is one)
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    from consume_kafka_avro_data_spark.operators.store import ManifestTable

    sigs = ManifestTable(
        spark,
        str(tmp_path / "sigs"),
        StructType(
            [
                StructField("_id", LongType(), True),
                StructField("_sim", ArrayType(LongType(), True), True),
            ]
        ),
        keys=["_id"],
    )
    sigs.merge_new(
        spark.createDataFrame([(1, [7, 8]), (2, [9, 10])], sigs.schema)
    )
    sigs.merge_new(spark.createDataFrame([(3, [11, 12])], sigs.schema))

    created = register_engine_views(spark, signatures=sigs)
    assert created == ["signatures", "signatures_v1", "signatures_v2"]
    assert spark.sql("SELECT count(*) AS n FROM signatures").collect()[0].n == 3
    # time travel from plain SQL: v1 = first merge only, v2 = both
    assert (
        spark.sql("SELECT count(*) AS n FROM signatures_v1").collect()[0].n
        == 2
    )
    assert sorted(
        r._id for r in spark.sql("SELECT _id FROM signatures_v2").collect()
    ) == [1, 2, 3]


def test_manifest_table_time_travel(spark, tmp_path):
    """Every publish is a numbered snapshot: read(version=k) returns
    the table exactly as of commit k (merges only add files, so old
    manifests stay valid); compact() rewrites the data and prunes the
    history, after which old versions fail with a clear error."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from consume_kafka_avro_data_spark.operators.store import ManifestTable

    schema = StructType(
        [
            StructField("k", LongType(), True),
            StructField("v", StringType(), True),
        ]
    )
    t = ManifestTable(spark, str(tmp_path / "t"), schema, keys=["k"])
    assert t.version() == 0 and t.versions() == []

    t.merge_new(spark.createDataFrame([(1, "a")], schema))
    t.merge_new(spark.createDataFrame([(2, "b")], schema))
    t.merge_new(spark.createDataFrame([(2, "dup"), (3, "c")], schema))
    assert t.version() == 3 and t.versions() == [1, 2, 3]

    def keys(version=None):
        return sorted(r.k for r in t.read(version).collect())

    assert keys(1) == [1]
    assert keys(2) == [1, 2]
    assert keys(3) == [1, 2, 3]
    assert keys() == [1, 2, 3]  # current == latest

    # an empty merge publishes nothing — version unchanged
    t.merge_new(spark.createDataFrame([(1, "replay")], schema))
    assert t.version() == 3

    t.compact()
    assert keys() == [1, 2, 3]  # same rows, rewritten files
    assert t.versions() == [t.version()]  # history pruned
    with pytest.raises(FileNotFoundError, match="pruned|not available"):
        t.read(1)


def test_manifest_table_compact_sweeps_crash_orphans(spark, tmp_path):
    """A merge_new that staged files but crashed before publish leaves
    unreferenced parquet in the table dir; the replayed batch stages
    FRESH uuid-named files, so without a sweep every crash-retry leaks
    a batch of invisible data forever.  compact() collects them."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from consume_kafka_avro_data_spark.operators.store import ManifestTable

    schema = StructType(
        [
            StructField("k", LongType(), True),
            StructField("v", StringType(), True),
        ]
    )
    t = ManifestTable(spark, str(tmp_path / "t"), schema, keys=["k"])
    t.merge_new(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    # simulate the crash window: stage() ran, publish() never did
    orphans = t.stage(spark.createDataFrame([(3, "lost")], schema))
    assert orphans
    committed = set(t.files())
    assert committed.isdisjoint(orphans)  # staged ⇒ still invisible
    t.compact()
    names = set(t._io.list_names(t.path))
    assert not (names & set(orphans))  # orphans swept
    assert sorted(r.k for r in t.read().collect()) == [1, 2]  # data intact
    # empty-table path: orphans swept even when nothing was ever committed
    t2 = ManifestTable(spark, str(tmp_path / "t2"), schema, keys=["k"])
    t2._io.mkdirs(t2.path)
    orphans2 = t2.stage(spark.createDataFrame([(9, "x")], schema))
    assert t2.compact() == 0
    assert not (set(t2._io.list_names(t2.path)) & set(orphans2))


def test_stale_signature_version_views_are_dropped(spark, tmp_path):
    """Re-registering after compact() must DROP version views whose
    snapshots were pruned: a lingering signatures_v{k} would lazily
    reference deleted parquet and fail mid-query instead of giving the
    honest unknown-view error."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from consume_kafka_avro_data_spark.operators.store import ManifestTable
    from consume_kafka_avro_data_spark.tables import register_engine_views

    schema = StructType(
        [
            StructField("k", LongType(), True),
            StructField("v", StringType(), True),
        ]
    )
    t = ManifestTable(spark, str(tmp_path / "t"), schema, keys=["k"])
    t.merge_new(spark.createDataFrame([(1, "a")], schema))
    t.merge_new(spark.createDataFrame([(2, "b")], schema))
    created = register_engine_views(spark, signatures=t)
    assert "signatures_v1" in created and "signatures_v2" in created
    t.compact()  # prunes history to the (new) current version only
    created = register_engine_views(spark, signatures=t)
    live = [c for c in created if c.startswith("signatures_v")]
    assert live == [f"signatures_v{t.version()}"]
    assert not spark.catalog.tableExists("signatures_v1")  # stale: gone
    assert not spark.catalog.tableExists("signatures_v2")
    # the remaining view still answers
    n = spark.sql(f"SELECT count(*) AS n FROM {live[0]}").collect()[0].n
    assert n == 2
