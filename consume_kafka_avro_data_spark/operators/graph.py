"""Entity/relationship graph materialization with idempotent upsert.

Re-expresses the reference's Postgres sink (``src/Database.cpp:41-78``):

* ``objects(id, object_name, object_type, created_at)`` with a unique
  constraint on the name → ``INSERT … ON CONFLICT DO NOTHING RETURNING
  id`` (``src/Database.h:23-27``);
* ``relationships(source_id, target_id, relationship_name)`` likewise
  (``src/Database.h:29-31``);
* per-triple flow: insert subject vertex, insert object vertex, look up
  both ids, insert edge (``src/KafkaConsumerCallback.cpp:101-110``).

Design differences, chosen for 100 TB scale:

1. **Content-hash ids.** The reference's ids are Postgres serials
   resolved by a per-row ``SELECT id`` round-trip (J1).  We derive
   ``id = xxhash64(object_name)`` instead: ids are deterministic,
   assignable in a map-only projection, and — decisively — edge
   construction needs **no join at all** (source_id/target_id are
   computed directly from the subject/object strings).  The reference's
   2-lookups-per-edge pattern disappears rather than being batched.
   (64-bit collision probability stays negligible below ~10^8 vertices;
   swap ``id_expr`` for a 128-bit hash if a deployment exceeds that.)

2. **Set-oriented dedup-merge.** ON CONFLICT DO NOTHING per row becomes,
   per batch: project → ``dropDuplicates`` (map-side partial dedup) →
   left-anti join against the existing table → append.  The anti-join
   shuffles only the *new* batch against the key column of the existing
   table — with AQE it broadcasts whenever the batch is small.

3. **Append-only parquet.** Plain parquet has no MERGE; new-only append
   preserves idempotence (replays produce zero new rows) but is not
   atomic under concurrent writers — single-writer-per-table is assumed,
   matching the reference's single consumer thread.
"""

from __future__ import annotations

import os

from consume_kafka_avro_data_spark.operators.store import ManifestTable
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OBJECTS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("object_name", StringType(), False),
        StructField("object_type", StringType(), True),
        StructField("created_at", DateType(), True),
    ]
)

RELATIONSHIPS_SCHEMA = StructType(
    [
        StructField("source_id", LongType(), False),
        StructField("target_id", LongType(), False),
        StructField("relationship_name", StringType(), False),
    ]
)


def id_expr(name: Column | str) -> Column:
    """Deterministic vertex id from the unique name (see module doc)."""
    c = F.col(name) if isinstance(name, str) else name
    return F.xxhash64(c).alias("id")


def triples_from(
    df: DataFrame,
    subject: Column | str,
    predicate: Column | str,
    obj: Column | str,
) -> DataFrame:
    """Shape any DataFrame into the SPO triple schema (all strings —
    the reference's deployed schema is all-strings,
    configs/SPO_2_kafka.yaml:10-13)."""
    cols = [
        (F.col(c) if isinstance(c, str) else c).cast("string").alias(a)
        for c, a in ((subject, "subject"), (predicate, "predicate"), (obj, "object"))
    ]
    return df.select(*cols)


def vertices_from_triples(
    triples: DataFrame,
    object_type: str = "MyObjectType",
    created_at: str | None = None,
) -> DataFrame:
    """Distinct vertex set of a triple batch: subjects ∪ objects.

    object_type defaults to the reference's constant exemplar
    (KafkaConsumerCallback.cpp:101-102).  created_at is an explicit date
    string — the reference stamps wall clock (:94-99), which we allow via
    None → current_date(), but reproducible pipelines should pin it.
    """
    names = (
        triples.select(F.col("subject").alias("object_name"))
        .unionAll(triples.select(F.col("object").alias("object_name")))
        .dropDuplicates(["object_name"])
    )
    created = (
        F.lit(created_at).cast("date") if created_at is not None else F.current_date()
    )
    return names.select(
        id_expr("object_name"),
        "object_name",
        F.lit(object_type).alias("object_type"),
        created.alias("created_at"),
    )


def edges_from_triples(triples: DataFrame) -> DataFrame:
    """Edge set — no lookup join: ids are content hashes of the
    endpoint names (replaces Database.cpp:26-39 + the double lookup at
    KafkaConsumerCallback.cpp:103-105)."""
    return triples.select(
        F.xxhash64(F.col("subject")).alias("source_id"),
        F.xxhash64(F.col("object")).alias("target_id"),
        F.col("predicate").alias("relationship_name"),
    ).dropDuplicates(["source_id", "target_id", "relationship_name"])


def connected_components(
    edges: DataFrame,
    src: str = "source_id",
    dst: str = "target_id",
    max_iter: int = 25,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """Connected components by hash-min label propagation WITH pointer
    jumping: every node adopts the minimum label among itself and its
    neighbors (the classic MapReduce CC recipe — Kiveris et al.,
    "Connected Components in MapReduce and Beyond", baseline hash-min),
    then compresses one level of indirection by adopting its label's
    label.  Plain hash-min needs O(diameter) rounds — fine for dedup
    clusters (dense near-cliques, 2-3 rounds) but a crawl on
    chain-shaped components; the jump doubles the propagation horizon
    per round, so a path of n nodes converges in O(log n) rounds
    (pinned by a 10k-node path-graph test in ≤ 15 rounds).

    Scale shape per round: two shuffle joins (messages = edges ⋈ labels
    on the neighbor key; jump = labels ⋈ labels on the label key) + one
    shuffle min-aggregate, all keyed by node id, so AQE reuses the hash
    partitioning across them.  Labels only ever decrease, so the jump
    preserves the hash-min invariant (comp is always a node id in the
    same component).  Lineage is cut with ``localCheckpoint`` each round
    — without it the plan doubles per iteration and the driver, not the
    data, becomes the bottleneck.  The fixpoint test piggybacks on the
    aggregate (count of label changes), one cheap job per round.

    Use case (charter U5): near-dup *pairs* from MinHash/SimHash/cosine
    blocking are only half the dedup story — keep-one-per-group needs
    the transitive closure, i.e. these components.

    Returns (node, comp) with comp = min node id of the component; only
    nodes incident to at least one edge appear.

    ``small_graph_edges``: near-dup pair graphs are usually orders of
    magnitude smaller than the corpus that produced them, and every
    distributed round costs ~3 scheduler jobs regardless of size.  When
    the (already materialized) edge set has at most this many edges, a
    driver-side union-find answers in O(E α(E)) with zero further jobs —
    the same adaptive local-fallback a production CC takes.  Set to 0 to
    force the distributed loop (the path-graph convergence test does).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    e = e.localCheckpoint(eager=True)

    # the count here is of the SYMMETRIZED set (≤ 2× the input edges),
    # so compare against 2× the documented input-edge budget
    if small_graph_edges and e.count() <= 2 * small_graph_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        rows = e.collect()  # driver-sized by the guard above
        for r in rows:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:  # union by MIN root so comp = min node id
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = [(n, find(n)) for n in parent]
        # explicit schema: createDataFrame cannot infer from an empty
        # list (no-duplicate corpora produce empty pair graphs), and the
        # node type must match the edge column's, not inference's guess
        node_type = e.schema["a"].dataType
        schema = StructType(
            [StructField("node", node_type), StructField("comp", node_type)]
        )
        spark = edges.sparkSession
        return spark.createDataFrame(out, schema)

    labels = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(max_iter):
        neighbor_min = (
            e.join(labels, e.b == labels.node)
            .select(F.col("a").alias("node"), "comp")
            .unionAll(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # checkpoint BEFORE the jump (the self-join below would otherwise
        # recompute the union+aggregate subtree once per side), and
        # re-alias through a projection: LogicalRDD reuses the plan's
        # attribute ids, and carrying the same ids through the next
        # round's unionAll trips Catalyst's Union constraint rewrite
        # (NoSuchElementException in rewriteConstraints); aliasing mints
        # fresh expression ids each round
        nm = neighbor_min.localCheckpoint(eager=True).select(
            F.col("node").alias("node"), F.col("comp").alias("comp")
        )
        # pointer jumping: comp is itself a node — adopt ITS label too.
        # left join: the propagation step can label a node with a
        # neighbor id smaller than every labeled node (comp column), so
        # the label may have no row of its own yet.
        jumped = (
            nm.alias("x")
            .join(
                nm.select(F.col("node").alias("_jn"), F.col("comp").alias("_jc")),
                F.col("x.comp") == F.col("_jn"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.least(
                    F.col("x.comp"), F.coalesce(F.col("_jc"), F.col("x.comp"))
                ).alias("comp"),
            )
        )
        new_labels = jumped.localCheckpoint(eager=True).select(
            F.col("node").alias("node"), F.col("comp").alias("comp")
        )
        # labels are monotonically non-increasing, so the fixpoint test
        # is a scalar: Σcomp stalls exactly when no label changed — one
        # tiny scan-aggregate over the checkpointed labels instead of a
        # join against the previous round
        new_sum = new_labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        # new_sum is None iff labels is empty (sum over zero rows) —
        # nothing to propagate, stop immediately instead of burning
        # max_iter empty rounds
        if new_sum is None or (prev_sum is not None and new_sum == prev_sum):
            break
        prev_sum = new_sum
    return labels


def label_propagation(
    edges: DataFrame,
    max_iter: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007; the GraphFrames-style deterministic variant): every
    node starts as its own label, and each round adopts the MOST
    FREQUENT label among its neighbors, ties broken by smallest label —
    fully deterministic, layout-independent (exact integer counts).
    Returns (node, label); isolated nodes don't appear (no edges — no
    community evidence).

    Synchronous LPA can oscillate on bipartite structures (the
    published caveat), so the loop runs a FIXED ``max_iter`` budget
    with an early stop when no label changes; callers wanting
    convergence diagnostics can compare two budgets.  Scale shape per
    round: one join keyed by the neighbor id + one (node, label) count
    aggregate + one per-node argmax — all hash-partitioned by node id
    so AQE reuses the exchange, with ``localCheckpoint`` cutting the
    per-round plan growth (the connected_components discipline)."""
    e = edges.select(F.col("source_id").alias("a"), F.col("target_id").alias("b"))
    e = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.where(F.col("a") != F.col("b")).distinct()
    e = e.localCheckpoint(eager=True)

    labels_ck = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            neigh = e.join(
                labels_ck.select(
                    F.col("node").alias("_n"), F.col("label").alias("_l")
                ),
                on=F.col("b") == F.col("_n"),
            ).select(F.col("a").alias("node"), F.col("_l").alias("label"))
            # per-node mode with (count desc, label asc) tie-break as
            # ONE deterministic min over (-count, label) structs
            new_labels = (
                neigh.groupBy("node", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .groupBy("node")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("cnt")).alias("_neg"),
                            F.col("label").alias("label"),
                        )
                    ).alias("_w")
                )
                .select("node", F.col("_w.label").alias("label"))
            )
            new_ck = new_labels.localCheckpoint(eager=True)
            changed = (
                new_ck.alias("x")
                .join(
                    labels_ck.select(
                        F.col("node").alias("_pn"),
                        F.col("label").alias("_pl"),
                    ),
                    on=F.col("x.node") == F.col("_pn"),
                )
                .where(F.col("x.label") != F.col("_pl"))
                .count()
            )
            labels_ck.unpersist()
            labels_ck = new_ck
            if changed == 0:
                break
        # the CHECKPOINTED frame itself is returned (a re-aliased
        # projection would make the caller's unpersist a no-op against
        # the checkpoint blocks); the caller owns the final unpersist
        return labels_ck
    finally:
        e.unpersist()


def shortest_paths(
    edges: DataFrame,
    sources: list,
    directed: bool = False,
    max_hops: int = 30,
) -> DataFrame:
    """Multi-source BFS over an unweighted graph: (node, dist) with
    dist = minimum hop count from the NEAREST source (the Pregel-style
    SSSP specialization for unit weights — Malewicz et al. 2010,
    "Pregel: A System for Large-Scale Graph Processing"; public
    recipe).  Nodes unreachable within
    ``max_hops`` are absent.  Answers "how many hops from entity X"
    over the SPO graph the reference materializes
    (src/Database.cpp:41-78's relationships table).

    Scale shape per round (the ``connected_components`` discipline):
    the FRONTIER (nodes first reached last round — vanishingly small
    against the graph after a few hops) joins edges on the source key,
    and discoveries anti-join the settled set; both are keyed by node
    id so AQE reuses the hash partitioning, and with unit weights a
    node's first discovery is already its final distance (no re-
    relaxation rounds, unlike weighted SSSP).  ``localCheckpoint``
    per round cuts the growing plan; the empty-frontier stop is one
    cheap count per round.  Distances only settle once, so the loop
    runs eccentricity(sources) rounds, not max_hops, on real graphs."""
    e = edges.select(F.col("source_id").alias("a"), F.col("target_id").alias("b"))
    if not directed:
        e = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.distinct().localCheckpoint(eager=True)

    spark = edges.sparkSession
    node_type = e.schema["a"].dataType
    schema = StructType(
        [StructField("node", node_type), StructField("dist", IntegerType())]
    )
    # checkpoint HANDLES are kept separate from the re-aliased selects
    # fed back into the loop (unpersist must target the checkpointed
    # frame itself; the fresh aliases mint new expression ids — the
    # connected_components LogicalRDD/Union constraint dodge)
    # dedupe sources: settled is row-per-source and discoveries only
    # ever anti-join it, so a repeated source would emit duplicate
    # (node, 0) result rows
    settled_ck = spark.createDataFrame(
        [(s, 0) for s in dict.fromkeys(sources)], schema
    ).localCheckpoint(eager=True)
    frontier_ck = None  # round 0's frontier IS the settled sources
    try:
        for hop in range(1, max_hops + 1):
            frontier = (frontier_ck or settled_ck).select(
                F.col("node").alias("_f")
            )
            discovered = (
                e.join(frontier, on=F.col("a").eqNullSafe(F.col("_f")))
                .select(F.col("b").alias("node"))
                .distinct()
                .join(
                    settled_ck.select(F.col("node").alias("_s")),
                    on=F.col("node").eqNullSafe(F.col("_s")),
                    how="left_anti",
                )
                .select("node", F.lit(hop).alias("dist"))
            )
            new_frontier_ck = discovered.localCheckpoint(eager=True)
            if frontier_ck is not None:
                frontier_ck.unpersist()
            frontier_ck = new_frontier_ck
            if frontier_ck.count() == 0:
                break
            new_settled_ck = (
                settled_ck.select("node", "dist")
                .unionAll(frontier_ck.select("node", "dist"))
                .localCheckpoint(eager=True)
            )
            settled_ck.unpersist()
            settled_ck = new_settled_ck
        # the CHECKPOINTED frame itself is returned (internal frames
        # above are freed; a re-aliased projection would make the
        # caller's unpersist a no-op against the checkpoint blocks);
        # the caller owns the final unpersist
        return settled_ck
    finally:
        if frontier_ck is not None:
            frontier_ck.unpersist()
        e.unpersist()


class GraphStore:
    """Parquet-backed objects/relationships tables with idempotent
    dedup-merge writes (the engine's stand-in for the reference's
    Postgres graph, ``src/Database.cpp:26-78``).

    Both tables live under the manifest-commit protocol — see
    :class:`~consume_kafka_avro_data_spark.operators.store.ManifestTable`
    (generalized from this class) for the staging/publish/crash-safety
    contract.  ``_manifest_files(path)`` names the files a table's
    manifest publishes."""

    MANIFEST = ManifestTable.MANIFEST

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.objects_path = os.path.join(base_dir, "objects")
        self.relationships_path = os.path.join(base_dir, "relationships")
        self._tables = {
            self.objects_path: ManifestTable(
                spark, self.objects_path, OBJECTS_SCHEMA, ["object_name"]
            ),
            self.relationships_path: ManifestTable(
                spark,
                self.relationships_path,
                RELATIONSHIPS_SCHEMA,
                ["source_id", "target_id", "relationship_name"],
            ),
        }

    def _manifest_files(self, path: str) -> list[str]:
        return self._tables[path].files()

    # -- reads ---------------------------------------------------------------

    def objects(self) -> DataFrame:
        return self._tables[self.objects_path].read()

    def relationships(self) -> DataFrame:
        return self._tables[self.relationships_path].read()

    def get_object_id(self, name: str | None) -> int | None:
        """Keyed lookup (J1; Database.cpp:26-39).  With content-hash ids
        this is a pure computation for present vertices; we still verify
        membership like the reference does — on the driver, through the
        objects table's footer-pruned point read, with no Spark job."""
        rows = self._tables[self.objects_path].lookup(name, "id")
        return rows[0]["id"] if rows else None

    # -- idempotent writes ---------------------------------------------------

    def upsert_objects(self, vertices: DataFrame) -> int:
        """Idempotent vertex insert (S7; Database.h:23-25 semantics)."""
        return self._tables[self.objects_path].merge_new(vertices)

    def upsert_relationships(self, edges: DataFrame) -> int:
        """Idempotent edge insert (S8; Database.h:29-31 semantics)."""
        return self._tables[self.relationships_path].merge_new(edges)

    def compact(self, target_rows_per_file: int = 4_000_000) -> dict[str, int]:
        """Rewrite each non-empty graph table into ~evenly sized files
        (see ManifestTable.compact for the small-file rationale and the
        atomic-swap mechanics).  Returns {table: n_files_after}."""
        out: dict[str, int] = {}
        for path, mt in self._tables.items():
            n = mt.compact(target_rows_per_file)
            if n:
                out[os.path.basename(path)] = n
        return out

    def ingest_triples(
        self,
        triples: DataFrame,
        created_at: str | None = None,
    ) -> tuple[int, int]:
        """The reference's per-message hot path (KafkaConsumerCallback.cpp:
        101-110), batch-amortized: upsert vertices, then edges.  Returns
        (new_vertices, new_edges)."""
        nv = self.upsert_objects(
            vertices_from_triples(triples, "MyObjectType", created_at)
        )
        ne = self.upsert_relationships(edges_from_triples(triples))
        return nv, ne
