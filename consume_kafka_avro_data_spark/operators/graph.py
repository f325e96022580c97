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
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
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
    src: str = "source_id",
    dst: str = "target_id",
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
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
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
        # the checkpoint blocks); caller owns the final unpersist —
        # the pack_sequences contract
        return labels_ck
    finally:
        e.unpersist()


def shortest_paths(
    edges: DataFrame,
    sources: list,
    src: str = "source_id",
    dst: str = "target_id",
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
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
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
        # the caller owns the final unpersist — the pack_sequences
        # contract
        return settled_ck
    finally:
        if frontier_ck is not None:
            frontier_ck.unpersist()
        e.unpersist()


def personalized_pagerank(
    edges: DataFrame,
    sources: list,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "source_id",
    dst: str = "target_id",
    tol: float | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6; the random surfer
    restarts at the SOURCE set instead of uniformly): the standard
    "entities related to X" ranking over the SPO graph the reference
    materializes.  Power iteration with the textbook conventions:
    rank' = (1−d)·p + d·(Aᵀ D⁻¹ rank + dangling_mass·p), where p is
    uniform over ``sources`` and dangling (out-degree-0) mass restarts
    through p — so Σ rank = 1 holds at every round (pinned as an
    invariant alongside the pure-Python model).  Directed edges, up to
    ``iters`` rounds (power iteration converges geometrically at rate
    d; 10 rounds ≈ 1e-1·d¹⁰ residual — callers wanting tighter
    tolerances raise it).

    ``tol`` (round 8) enables TOLERANCE-BASED EARLY STOP: each round's
    rank vector carries the previous round's alongside it, and the L1
    residual Σ|rank − prev| is folded into the SAME single-row driver
    aggregate that already fetches the dangling mass — no extra job,
    no extra collect — so the loop exits as soon as the residual meets
    ``tol`` instead of running the full budget.  The returned vector
    is bit-identical to the fixed-``iters`` run of however many rounds
    actually executed (the early stop changes WHEN the loop exits,
    never what a round computes).  ``stats`` (optional dict, the
    ``bpe_train`` convention) reports ``rounds`` executed and the
    ``final_residual`` observed at the last driver touch.  The
    residual is measured at the TOP of each round (it describes the
    previous round's update), so on an early stop it is the value
    that met ``tol``; when the budget exhausts instead, the final
    round's own update is not re-measured (inf if no round ran).

    Scale shape per round: one join keyed on the rank node + one
    dst-keyed sum + one broadcast-sized restart merge; dangling mass
    AND the stop residual are ONE single-row scalar aggregate;
    ``localCheckpoint`` per round cuts plan growth (the
    iterative-graph discipline).  Result is checkpoint-free (final
    select), node set = every vertex incident to an edge plus the
    sources."""
    if not sources:
        raise ValueError("sources must be non-empty")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if tol is not None and tol <= 0.0:
        raise ValueError("tol must be positive (or None for fixed iters)")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    e = e.localCheckpoint(eager=True)

    spark = edges.sparkSession
    node_type = e.schema["a"].dataType
    uniq_sources = list(dict.fromkeys(sources))
    p_each = 1.0 / len(uniq_sources)
    restart = spark.createDataFrame(
        [(s, p_each) for s in uniq_sources],
        StructType(
            [StructField("node", node_type), StructField("p", DoubleType())]
        ),
    ).localCheckpoint(eager=True)

    nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .unionAll(restart.select("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("double").alias("deg"))
        .localCheckpoint(eager=True)
    )

    # node-COMPLETE initial vector (zeros off the source set, _prev=0):
    # identical flows to the sources-only form — zero-rank nodes
    # contribute zero everywhere — but it lets each round read the
    # previous vector for the residual without any extra join
    rank_ck = (
        nodes.join(
            restart.select(F.col("node").alias("_p"), "p"),
            on=F.col("node").eqNullSafe(F.col("_p")),
            how="left",
        )
        .select(
            "node",
            F.coalesce(F.col("p"), F.lit(0.0)).alias("rank"),
            F.lit(0.0).alias("_prev"),
        )
        .localCheckpoint(eager=True)
    )
    rounds = 0
    residual = float("inf")
    try:
        for _ in range(iters):
            with_deg = rank_ck.join(
                outdeg.select(F.col("node").alias("_n"), "deg"),
                on=F.col("node").eqNullSafe(F.col("_n")),
                how="left",
            )
            # ONE single-row driver touch per round: dangling mass
            # (rank sitting on out-degree-0 nodes) + the L1 residual of
            # the PREVIOUS round's update (the early-stop signal)
            row = with_deg.agg(
                F.sum(
                    F.when(F.col("deg").isNull(), F.col("rank")).otherwise(
                        F.lit(0.0)
                    )
                ).alias("s"),
                F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("r"),
            ).collect()[0]
            dangling = row["s"] or 0.0
            residual = row["r"] if row["r"] is not None else float("inf")
            if tol is not None and rounds > 0 and residual <= tol:
                break
            contrib = (
                e.join(
                    with_deg.where(F.col("deg").isNotNull()).select(
                        F.col("node").alias("_r"),
                        (F.col("rank") / F.col("deg")).alias("c"),
                    ),
                    on=F.col("a").eqNullSafe(F.col("_r")),
                )
                .groupBy(F.col("b").alias("node"))
                .agg(F.sum("c").alias("flow"))
            )
            new_rank = (
                rank_ck.select("node", F.col("rank").alias("_prev"))
                .join(contrib, "node", "left")
                .join(
                    restart.select(F.col("node").alias("_p"), "p"),
                    on=F.col("node").eqNullSafe(F.col("_p")),
                    how="left",
                )
                .select(
                    "node",
                    (
                        F.lit(damping)
                        * (
                            F.coalesce(F.col("flow"), F.lit(0.0))
                            + F.lit(dangling) * F.coalesce(F.col("p"), F.lit(0.0))
                        )
                        + F.lit(1.0 - damping) * F.coalesce(F.col("p"), F.lit(0.0))
                    ).alias("rank"),
                    "_prev",
                )
            )
            new_ck = new_rank.localCheckpoint(eager=True)
            rank_ck.unpersist()
            rank_ck = new_ck
            rounds += 1
        # re-checkpoint under the public schema so the RETURNED frame
        # owns its blocks (a bare select over the loop checkpoint would
        # make the caller's unpersist a no-op against it — the
        # core_numbers contract, mirrored here per the r08 advisor)
        out = rank_ck.select("node", "rank").localCheckpoint(eager=True)
        return out
    finally:
        if stats is not None:
            stats["rounds"] = rounds
            stats["final_residual"] = residual
        rank_ck.unpersist()
        e.unpersist()
        restart.unpersist()
        nodes.unpersist()
        outdeg.unpersist()


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "source_id",
    dst: str = "target_id",
    stats: dict | None = None,
) -> DataFrame:
    """The k-core of the UNDIRECTED simple graph (Seidman 1983,
    "Network structure and minimum degree" — public): the MAXIMAL
    subgraph in which every node has degree ≥ k — the standard
    dense-region extractor for the SPO graph the reference
    materializes (spam rings, co-engagement clusters, hub cleanup
    before community detection).  Directed input is symmetrized and
    self-loops dropped, like ``label_propagation``.

    Iterative peeling: drop every node of degree < k, recompute
    degrees on the surviving subgraph, repeat to the fixed point —
    each round removes at least one node, so rounds are bounded by the
    peeling depth (≪ |V| on real graphs).  Returns (node, degree)
    with degrees measured WITHIN the core; an empty frame when the
    core is empty.  ``stats`` (optional dict) reports ``rounds``.

    Scale shape per round: one degree aggregate keyed by node + two
    node-keyed semi-joins to shrink the edge set (both sides shrink
    monotonically; the join key is the same node id every round so
    AQE reuses partitioning), ``localCheckpoint`` per round cuts plan
    growth.  The returned frame is checkpointed — caller owns the
    final unpersist (the ``label_propagation`` contract)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.where(F.col("a") != F.col("b")).distinct()
    e = e.localCheckpoint(eager=True)
    rounds = 0
    try:
        while True:
            deg = e.groupBy(F.col("a").alias("node")).agg(
                F.count(F.lit(1)).alias("degree")
            )
            n_low = deg.where(F.col("degree") < k).count()
            if n_low == 0:
                out = deg.localCheckpoint(eager=True)
                return out
            rounds += 1
            keep = deg.where(F.col("degree") >= k).select("node")
            survivors = (
                e.join(
                    keep.select(F.col("node").alias("_ka")),
                    on=F.col("a") == F.col("_ka"),
                    how="left_semi",
                )
                .join(
                    keep.select(F.col("node").alias("_kb")),
                    on=F.col("b") == F.col("_kb"),
                    how="left_semi",
                )
            )
            new_e = survivors.localCheckpoint(eager=True)
            e.unpersist()
            e = new_e
    finally:
        if stats is not None:
            stats["rounds"] = rounds
        e.unpersist()


def core_numbers(
    edges: DataFrame,
    src: str = "source_id",
    dst: str = "target_id",
    max_iter: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """FULL core decomposition — every node's coreness (the largest k
    for which it sits in the k-core) — via the distributed h-index
    iteration (Montresor et al. 2011, "Distributed k-Core
    Decomposition"; Lü et al. 2016 — public): start each node at its
    degree, then repeatedly replace a node's value with the H-INDEX of
    its neighbors' values (the largest h such that ≥ h neighbors hold
    value ≥ h).  Values are non-increasing integers bounded below, so
    the iteration converges — exactly to the coreness — and stops at
    the first unchanged round.

    Scale shape per round (WIDTH-FREE, round 9 — no per-node arrays):
    the h-index of a node's neighbor values is rewritten as a pure
    count identity, h = max over the DISTINCT neighbor values t of
    min(t, N≥t) where N≥t = #{neighbors with value ≥ t} (take the
    sorted-desc view a₁ ≥ a₂ ≥ …: for t = a_h the min is ≥ h, and any
    t with min(t, N≥t) = m would put m neighbors at value ≥ m,
    contradicting h's maximality for m > h).  Neighbor values are
    first CAPPED at the node's own current value — sound because the
    iteration is component-wise non-increasing from degrees (Montresor
    et al. 2011), so h never exceeds the current value and counts
    below it are unchanged; the cap bounds each node's distinct-value
    domain by its shrinking current value.  Per round: one
    neighbor-value join + one self join for the cap (both keyed by
    node), one (node, value) count aggregate, one node-partitioned
    running sum, one node-keyed max — every row narrow, no
    ``collect_list``, so a 10⁵-degree hub costs rows, never row WIDTH.
    ``localCheckpoint`` per round, caller owns the returned frame's
    unpersist (the ``label_propagation`` contract).  ``stats`` reports
    ``rounds``.

    Composition law (pinned in tests): ``k_core(edges, k)``'s node set
    == the nodes with ``coreness ≥ k``, for every k.  The width-free
    kernel is pinned value-identical to both the legacy collect_list
    form and the pure-Python peeling reference, including on a
    power-law graph with an extreme hub (tests/test_k_core.py)."""
    if max_iter is not None and max_iter < 1:
        # 0 rounds would return raw degrees labeled 'coreness' with no
        # signal that the iteration never ran (advisor finding, r08)
        raise ValueError(
            f"max_iter must be >= 1 (or None for run-to-convergence), "
            f"got {max_iter}"
        )
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.where(F.col("a") != F.col("b")).distinct()
    e = e.localCheckpoint(eager=True)
    vals_ck = (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("int").alias("c"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    try:
        while max_iter is None or rounds < max_iter:
            # capped neighbor values: w = min(val(b), val(a))
            capped = (
                e.join(
                    vals_ck.select(
                        F.col("node").alias("_b"), F.col("c").alias("_nv")
                    ),
                    on=F.col("b") == F.col("_b"),
                )
                .join(
                    vals_ck.select(
                        F.col("node").alias("_a"), F.col("c").alias("_cur")
                    ),
                    on=F.col("a") == F.col("_a"),
                )
                .select(
                    F.col("a").alias("node"),
                    F.least(F.col("_nv"), F.col("_cur")).alias("w"),
                )
            )
            # N≥t per (node, distinct value): histogram + desc running
            # sum; h = max min(t, N≥t) — all narrow rows, node-keyed
            hist = capped.groupBy("node", "w").agg(
                F.count(F.lit(1)).alias("_n")
            )
            win = (
                Window.partitionBy("node")
                .orderBy(F.col("w").desc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            new_vals = (
                hist.select(
                    "node", "w", F.sum("_n").over(win).alias("_ge")
                )
                .groupBy("node")
                .agg(
                    F.max(F.least(F.col("w").cast("long"), F.col("_ge")))
                    .cast("int")
                    .alias("c")
                )
            )
            new_ck = new_vals.localCheckpoint(eager=True)
            try:
                changed = (
                    new_ck.join(
                        vals_ck.select(
                            F.col("node").alias("_pn"),
                            F.col("c").alias("_pc"),
                        ),
                        on=F.col("node") == F.col("_pn"),
                    )
                    .where(F.col("c") != F.col("_pc"))
                    .count()
                )
            except Exception:
                new_ck.unpersist()  # vals_ck is released by the finally
                raise
            vals_ck.unpersist()
            vals_ck = new_ck
            rounds += 1
            if changed == 0:
                break
        # re-checkpoint under the public schema so the RETURNED frame
        # owns its blocks (a bare select child would make the caller's
        # unpersist a no-op against the loop checkpoint)
        return vals_ck.select(
            "node", F.col("c").alias("coreness")
        ).localCheckpoint(eager=True)
    finally:
        if stats is not None:
            stats["rounds"] = rounds
        vals_ck.unpersist()  # loop state — released on EVERY exit path
        e.unpersist()


def shortest_paths_weighted(
    edges: DataFrame,
    sources: list,
    weight: str,
    src: str = "source_id",
    dst: str = "target_id",
    directed: bool = False,
    max_iter: int = 50,
) -> DataFrame:
    """Multi-source shortest paths with NON-NEGATIVE edge weights:
    (node, dist) with dist = minimum total weight from the nearest
    source — frontier-based Bellman–Ford (the Pregel SSSP of Malewicz
    et al. 2010): only nodes IMPROVED last round propagate, so rounds
    track the shortest-path hop diameter, not |V|.  Unlike the
    unit-weight ``shortest_paths``, a settled distance can improve
    later (a longer-hop but lighter path), which is exactly what the
    per-round min-merge handles.  Negative weights are rejected
    eagerly (Bellman–Ford detects negative cycles only with |V|
    rounds — out of scope for the SPO graph's cost semantics).

    Scale shape per round (the iterative-graph discipline): one join
    keyed by the frontier node + one min-aggregate + one full-outer
    min-merge with the running table, all hash-partitioned by node id;
    ``localCheckpoint`` per round, empty-frontier stop, checkpointed
    result returned (caller owns the final unpersist)."""
    e = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight).cast("double").alias("w"),
    )
    if not directed:
        e = e.unionAll(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
    # parallel edges: only the lightest matters
    e = e.groupBy("a", "b").agg(F.min("w").alias("w"))
    e = e.localCheckpoint(eager=True)
    # NULL weights must fail the same eager gate as negatives — `< 0`
    # is NULL for them, and a NULL admitted here would propagate
    # through `_fd + w` and silently poison every downstream distance
    bad = e.where((F.col("w") < 0) | F.col("w").isNull()).count()
    if bad:
        e.unpersist()
        raise ValueError(
            f"{bad} negative- or NULL-weight edges; "
            "shortest_paths_weighted requires non-negative weights"
        )

    spark = edges.sparkSession
    node_type = e.schema["a"].dataType
    schema = StructType(
        [StructField("node", node_type), StructField("dist", DoubleType())]
    )
    # dedupe sources: the initial table is row-per-source and no merge
    # round runs when nothing improves, so a repeated source would
    # otherwise emit duplicate (node, 0.0) result rows
    dist_ck = spark.createDataFrame(
        [(s, 0.0) for s in dict.fromkeys(sources)], schema
    ).localCheckpoint(eager=True)
    frontier_ck = dist_ck
    try:
        converged = False
        for _ in range(max_iter):
            cand = (
                e.join(
                    frontier_ck.select(
                        F.col("node").alias("_f"), F.col("dist").alias("_fd")
                    ),
                    on=F.col("a").eqNullSafe(F.col("_f")),
                )
                .select(
                    F.col("b").alias("node"),
                    (F.col("_fd") + F.col("w")).alias("dist"),
                )
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
            # improved = candidates strictly better than the running
            # table (or reaching a brand-new node)
            improved = (
                cand.join(
                    dist_ck.select(
                        F.col("node").alias("_n"), F.col("dist").alias("_d")
                    ),
                    on=F.col("node").eqNullSafe(F.col("_n")),
                    how="left",
                )
                .where(F.col("_d").isNull() | (F.col("dist") < F.col("_d")))
                .select("node", "dist")
            )
            new_frontier_ck = improved.localCheckpoint(eager=True)
            if frontier_ck is not dist_ck:
                frontier_ck.unpersist()
            frontier_ck = new_frontier_ck
            if frontier_ck.count() == 0:
                converged = True
                break
            merged = (
                dist_ck.select("node", "dist")
                .unionAll(frontier_ck.select("node", "dist"))
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
            new_dist_ck = merged.localCheckpoint(eager=True)
            dist_ck.unpersist()
            dist_ck = new_dist_ck
        if not converged:
            # unlike the unit-weight BFS (where max_hops truncation
            # only makes far nodes ABSENT), stopping here with a live
            # frontier would return PRESENT-BUT-WRONG distances —
            # refuse instead of silently under-relaxing
            dist_ck.unpersist()
            raise ValueError(
                f"did not converge within max_iter={max_iter} rounds "
                "(frontier still improving); raise max_iter — rounds "
                "track the shortest-path hop diameter"
            )
        return dist_ck
    finally:
        if frontier_ck is not dist_ck:
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

    def get_object_id(self, name: str) -> int | None:
        """Keyed lookup (J1; Database.cpp:26-39).  With content-hash ids
        this is a pure computation for present vertices; we still verify
        membership like the reference does."""
        row = (
            self.objects()
            .where(F.col("object_name") == F.lit(name))
            .select("id")
            .limit(1)
            .collect()
        )
        return row[0]["id"] if row else None

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
        object_type: str = "MyObjectType",
        created_at: str | None = None,
    ) -> tuple[int, int]:
        """The reference's per-message hot path (KafkaConsumerCallback.cpp:
        101-110), batch-amortized: upsert vertices, then edges.  Returns
        (new_vertices, new_edges)."""
        nv = self.upsert_objects(
            vertices_from_triples(triples, object_type, created_at)
        )
        ne = self.upsert_relationships(edges_from_triples(triples))
        return nv, ne
