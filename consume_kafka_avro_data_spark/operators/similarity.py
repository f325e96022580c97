"""Similarity search over embedding columns (charter U6/J8).

Three execution tiers, chosen by context (all fully oracle-checkable):

* **Codegen'd JVM expressions** for literal-vector scoring after a scan
  or hash join (``brute_force_topk``'s scalar-literal dot, the pair-
  verify cosine): map-only projection + TakeOrdered — no shuffle of the
  corpus.
* **Interpreted HOF folds** only where codegen cannot reach anyway — a
  crossJoin's BroadcastNestedLoopJoin projection (``knn_join``), where
  the fold beats a giant unrolled tree.
* **Arrow-batched numpy over q20 fixed-point values** for dense
  many-vector sweeps (SRP bucket tables, IVF cell assignment, exact
  blocked all-pairs): trunc(x·2²⁰) makes every float64 product and
  partial sum exact, hence order-independent, hence bit-identical
  between numpy's BLAS matmul and DuckDB's sequential
  list_dot_product — vectorized speed without giving up the oracle.

The SRP-LSH / IVF families are the 100 TB scale paths (bucket or cell
collisions only, exact rescoring of candidates); the brute-force and
blocked all-pairs forms are their recall oracles and per-bucket
verifiers.  Float dot products accumulate in double (float32 inputs
upcast exactly).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Σ aᵢ·bᵢ, strict left-to-right float64 fold.

    With ``dim`` given, the fold is UNROLLED into a fixed left-assoc
    expression over element_at — bit-identical to the lambda fold
    (IEEE: 0.0 + x == x, then the same addition order) but fully
    whole-stage-codegen'd, where lambda HOFs are interpreted (~20 µs per
    element — the dominant cost of every all-pairs cosine before this).
    Without ``dim`` (variable-length arrays) it falls back to the HOF
    fold, same values."""
    if dim is not None:
        e = F.element_at(a, 1).cast("double") * F.element_at(b, 1).cast("double")
        for i in range(2, dim + 1):
            e = e + F.element_at(a, i).cast("double") * F.element_at(b, i).cast(
                "double"
            )
        return e
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        e = F.element_at(a, 1).cast("double") * F.element_at(a, 1).cast("double")
        for i in range(2, dim + 1):
            x = F.element_at(a, i).cast("double")
            e = e + x * x
        return F.sqrt(e)
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))


def brute_force_topk(
    corpus: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for one query vector (ties broken by id so the
    result is a deterministic total order).

    The score is Σ element_at(vec,i)·qᵢ (SCALAR literals — embedding an
    array literal and indexing it 128× made Catalyst analysis alone cost
    seconds) ÷ (row-norm · query-norm), with the query norm folded in
    Python using the same left-to-right order as DuckDB's
    list_dot_product, so scores still match the oracle bit-for-bit.

    The whole score is ONE parsed SQL expression (r12): building the
    same 64-term chain through Column operators costs ~400 py4j round
    trips ≈ 0.2-0.3 s of driver time per plan build.  SQL ``+`` and
    ``*`` parse left-associative and ``{x!r}D`` double literals
    round-trip exactly, so the parsed tree is structurally identical to
    the old Column chain (pinned by test_brute_force_topk_expr_text)."""
    import math

    qv = [float(x) for x in query_vec]
    acc = 0.0
    for x in qv:  # left fold ≡ sqrt(list_dot_product(q, q)) in DuckDB
        acc += x * x
    qn = math.sqrt(acc)

    def ev(i: int) -> str:
        return f"CAST(element_at(`{vec_col}`, {i}) AS DOUBLE)"

    d_txt = " + ".join(f"{ev(i + 1)} * {qv[i]!r}D" for i in range(len(qv)))
    n_txt = " + ".join(f"{ev(i + 1)} * {ev(i + 1)}" for i in range(len(qv)))
    scored = corpus.select(
        F.col(id_col),
        F.expr(f"({d_txt}) / (SQRT({n_txt}) * {qn!r}D)").alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force k-NN join: broadcast the (small) query side over the
    corpus, score, keep top-k per query via ranked window (Spark ≥3.5
    compiles the rank≤k filter to WindowGroupLimit — per-partition
    partial top-k before the shuffle, so only ~k rows per partition per
    query cross the exchange).

    Norms are precomputed per side BEFORE the crossJoin (same trick as
    ``embedding_neardup_pairs``): inlining ``cosine()`` into the joined
    select recomputes each corpus norm once per query and each query
    norm once per corpus row — |Q|× redundant arithmetic in the dominant
    stage.  The score is dot ÷ (n_corpus·n_query), numerically identical
    to ``cosine()`` (same fold, same operand order).

    ``dim`` is accepted for signature compatibility but the score always
    uses the length-agnostic HOF fold: a column×column crossJoin plans
    as BroadcastNestedLoopJoin, which whole-stage codegen does NOT
    support, so the projection is interpreted either way — and an
    interpreted 64-term unrolled expression tree is ~2× slower per row
    (deep per-node recursion, per-element bounds checks) plus ~1.4 s of
    extra Catalyst analysis for the giant tree (measured at sf0.1).
    Unrolling only pays inside codegen'd projections (literal-vector
    scoring after a scan or hash join — ``brute_force_topk``,
    ``embedding_neardup_pairs``)."""
    from pyspark.sql import Window

    del dim  # see docstring: BNLJ projections never codegen
    c = corpus.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col), dim=None).alias("_cn")
    )
    q = queries.select(
        F.col(query_id),
        F.col(query_vec),
        l2_norm(F.col(query_vec), dim=None).alias("_qn"),
    )
    # q is the query set — caller-bounded (top-k search ships a handful
    # of probe vectors), never corpus-sized, so broadcast is safe
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id),
        F.col(id_col),
        (
            dot(F.col(vec_col), F.col(query_vec), dim=None)
            / (F.col("_cn") * F.col("_qn"))
        ).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# fixed-point (q20) exact arithmetic — Arrow/numpy speed with cross-engine
# bit-exactness
# ---------------------------------------------------------------------------

#: Quantization scale for order-independent vector arithmetic: values are
#: trunc(x · 2^20), making every product and 64-term partial sum an
#: integer below 2^53 — EXACTLY representable in float64, so the dot is
#: identical no matter the summation order.  numpy matmul (BLAS, pairwise
#: sums), DuckDB's sequential list_dot_product, and a JVM fold all agree
#: bit-for-bit, which is what lets the hot embedding paths run as
#: Arrow-batched numpy while staying fully DuckDB-oracle-checkable.
#: (Interpreted JVM lambda folds cost ~20 µs per element; whole-stage
#: codegen rejects the 3-5k-term unrolled alternatives — measured 2× and
#: 10× slower respectively than the numpy path at sf0.1.)
Q20 = 1048576.0


def quantize_np(x: np.ndarray) -> np.ndarray:
    """trunc(x · 2^20) as float64 — integer-valued, exact in double."""
    return np.trunc(np.asarray(x, dtype=np.float64) * Q20)


def o_quantize(vec_sql: str = "CAST(embedding AS DOUBLE[])") -> str:
    """DuckDB twin of :func:`quantize_np` over a list column."""
    return f"list_transform({vec_sql}, x -> trunc(x * {Q20!r}))"


def srp_bucket_table(
    corpus: DataFrame,
    dim: int = 64,
    nbits: int = 12,
    ntables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = True,
) -> DataFrame:
    """One Arrow pass attaching ALL ``ntables`` SRP bucket ids as
    ``_b0.._b{T-1}`` int columns: bucket = sign-bit pattern of the
    q20-quantized hyperplane projections (exact integer dots — see
    :data:`Q20` — so DuckDB reproduces every bucket from quantized
    plane literals).  Replaces ntables × nbits interpreted lambda folds
    per row with one numpy matmul per Arrow batch; at 100 TB this is a
    map-only projection computed once and persisted.

    ``keep_vec=False`` drops the vector from the OUTPUT (it is still
    read to compute the buckets): callers that re-attach vectors by id
    later (the light candidate-pair path) skip serializing dim doubles
    per row back across the Arrow boundary (guide §4.1 — control how
    many columns cross)."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    qplanes = [quantize_np(_hyperplanes(dim, nbits, t, seed)) for t in range(ntables)]
    weights = np.array([1 << i for i in range(nbits)], dtype=np.int64)
    kept = [id_col, vec_col] if keep_vec else [id_col]
    out_schema = StructType(
        corpus.select(*kept).schema.fields
        + [StructField(f"_b{t}", IntegerType(), False) for t in range(ntables)]
    )

    def gen(batches):
        for pdf in batches:
            x = quantize_np(np.stack(pdf[vec_col].map(np.asarray)))
            out = {c: pdf[c] for c in kept}
            for t, qp in enumerate(qplanes):
                proj = x @ qp.T  # exact: integer-valued float64
                out[f"_b{t}"] = ((proj > 0) @ weights).astype(np.int32)
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col).mapInPandas(gen, schema=out_schema)


def srp_bucket_py(vec, planes: np.ndarray) -> int:
    """Query-side bucket id under the same q20 arithmetic."""
    proj = quantize_np(vec) @ quantize_np(planes).T
    return int(((proj > 0) * (1 << np.arange(len(planes)))).sum())


def o_srp_bucket(qplane_rows: np.ndarray) -> str:
    """DuckDB expression for one table's bucket id over a quantized
    vector column ``qv`` (build ``qv`` with :func:`o_quantize`)."""
    bits = " + ".join(
        "(CASE WHEN list_dot_product(qv, ["
        + ", ".join(repr(float(v)) for v in p)
        + "]::DOUBLE[]) > 0 THEN " + str(1 << i) + " ELSE 0 END)"
        for i, p in enumerate(qplane_rows)
    )
    return f"({bits})"


def blocked_allpairs_cosine(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    group_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ τ, distributed by block pairs: rows are
    hashed into ``n_blocks`` blocks, every row is fanned out to the
    ``n_blocks`` block-pairs it participates in, and each (ba ≤ bb)
    group scores its pairs with one numpy matmul inside applyInPandas.
    Per-task work is (n/B)² dot products; fan-out is ×B per row — the
    classic blocked GEMM decomposition of brute-force pairwise scoring,
    which is how an exact sweep over 10⁶+ vectors is actually run on a
    cluster (each block pair is one bounded task).

    With ``group_col`` set, pairs are generated only WITHIN each group
    value (the grouping key becomes (group, ba, bb)): the blocked sweep
    becomes a per-cell sweep — the generic pairs-out form of the
    blocking that :func:`semantic_dedup` fuses with its per-vector
    verdicts — and each task stays bounded even when a single cell
    outgrows one executor, because the block decomposition still
    applies inside it.

    Scores use q20 fixed-point dots (:data:`Q20`): cosine =
    qdot/(√qaa·√qbb) over exact integer dots, so numpy here and
    DuckDB's list_dot_product produce bit-identical doubles and the
    τ-cut sets match exactly."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    gcols = [group_col] if group_col is not None else []
    blk = (F.crc32(F.col(id_col).cast("string")) % n_blocks).cast("int")
    base = corpus.select(
        F.col(id_col), F.col(vec_col), blk.alias("_blk"), *gcols
    )
    pair_structs = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(F.col("_blk"), F.lit(q)).alias("ba"),
                    F.greatest(F.col("_blk"), F.lit(q)).alias("bb"),
                )
                for q in range(n_blocks)
            ]
        )
    )
    tagged = base.select(
        id_col, vec_col, "_blk", *gcols, F.explode(pair_structs).alias("_bp")
    ).select(id_col, vec_col, "_blk", *gcols, "_bp.ba", "_bp.bb")

    # pair ids inherit the source id type — the family is id-generic
    # (brute_force_topk, knn_join, AnnIndex rerank all accept string
    # ids), so a hardcoded long here would make Arrow choke on the
    # default string doc-id shape of operators/dedup
    id_type = corpus.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type, False),
            StructField("id_b", id_type, False),
            StructField("cosine", DoubleType(), False),
        ]
    )
    tau = float(threshold)

    def score(key, pdf):  # (key, pdf) -> pdf; schema passed explicitly
        ba, bb = key[-2], key[-1]  # leading key element (if any) = group
        ids = pdf[id_col].to_numpy()
        x = quantize_np(np.stack(pdf[vec_col].map(np.asarray)))
        qnorm = np.sqrt((x * x).sum(axis=1))  # exact int sums
        if ba == bb:
            sim = (x @ x.T) / np.outer(qnorm, qnorm)
            ia, ib = np.triu_indices(len(ids), k=1)
            id_a, id_b, s = ids[ia], ids[ib], sim[ia, ib]
        else:
            mask_a = (pdf["_blk"] == ba).to_numpy()
            xa, xb = x[mask_a], x[~mask_a]
            sim = (xa @ xb.T) / np.outer(qnorm[mask_a], qnorm[~mask_a])
            # closed-form all-pairs indices — an ones+nonzero scan would
            # allocate and walk an na×nb bool matrix for nothing
            na, nb = sim.shape
            ia = np.repeat(np.arange(na), nb)
            ib = np.tile(np.arange(nb), na)
            id_a, id_b, s = ids[mask_a][ia], ids[~mask_a][ib], sim.ravel()
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        # lo != hi: duplicate input ids meet in their (deterministic)
        # shared block; never emit (x, x) — the pair contract is a < b
        keep = (s >= tau) & (lo != hi)
        return pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "cosine": s[keep]}
        )

    return tagged.groupBy(*gcols, "ba", "bb").applyInPandas(
        score, schema=out_schema
    )


def o_blocked_allpairs(threshold: float) -> str:
    """DuckDB twin of :func:`blocked_allpairs_cosine` on the
    ``embeddings`` view — same q20 dots, same τ-cut, same doubles."""
    return f"""
    WITH q AS (
      SELECT vec_id, {o_quantize()} AS qv FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.qv, b.qv)
           / (sqrt(list_dot_product(a.qv, a.qv))
              * sqrt(list_dot_product(b.qv, b.qv))) AS cosine
    FROM q a JOIN q b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.qv, b.qv)
          / (sqrt(list_dot_product(a.qv, a.qv))
             * sqrt(list_dot_product(b.qv, b.qv))) >= {threshold!r}
    """


# ---------------------------------------------------------------------------
# SRP-LSH
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, nbits: int, table: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed + 1000 * table)
    return rng.standard_normal((nbits, dim))


def srp_lsh_topk(
    corpus: DataFrame,
    query_vec,
    k: int = 10,
    dim: int = 64,
    nbits: int = 12,
    ntables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact-rescored bucket collisions across
    ``ntables`` SRP tables — ONE corpus pass computing every table's
    bucket id (:func:`srp_bucket_table`, Arrow/numpy over q20 exact
    arithmetic), one OR-filter for the collisions, then the codegen'd
    float rescore.  The previous shape (ntables separate scans, each
    evaluating nbits interpreted lambda folds per row, then a
    union+dropDuplicates) measured 6.4 s at sf0.1; this is <1 s with
    identical candidate semantics."""
    bucketed = srp_bucket_table(
        corpus, dim, nbits, ntables, seed, id_col, vec_col
    )
    cond = None
    for t in range(ntables):
        qb = srp_bucket_py(query_vec, _hyperplanes(dim, nbits, t, seed))
        c = F.col(f"_b{t}") == F.lit(qb)
        cond = c if cond is None else (cond | c)
    cand = bucketed.where(cond).select(id_col, vec_col)
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def auto_n_centroids(
    n_rows: int, dim: int, max_centroid_bytes: int = 64 << 20
) -> int:
    """Corpus-scaled cell count for the SemDeDup sweep: ``⌊√n⌋`` cells
    make the expected per-cell size √n, so the Σ|cell|² pair cost grows
    ~n^1.5 instead of reverting to n² as a FIXED k would at 100× the
    corpus (with k fixed, cells grow 100× and the within-cell sweep is
    quadratic again).  Capped so the k·dim float64 centroid matrix —
    the only driver-resident state — stays under ``max_centroid_bytes``
    (default 64 MB; at dim=1024 that still allows k=8192 ≈ √(67M), and
    beyond that corpus size a persisted AnnIndex layout is the right
    tool anyway).  Pure integer math (``isqrt``) so the DuckDB oracle
    re-derives the identical k from the identical count."""
    import math

    k = max(1, math.isqrt(max(n_rows, 1)))
    cap = max(1, max_centroid_bytes // (max(dim, 1) * 8))
    return min(k, cap)


def kmeans_sample(
    corpus: DataFrame,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """THE deterministic centroid-training sample: first ``sample`` ids
    (ORDER BY id LIMIT — no RNG over the data), as a driver-side float64
    matrix.  One implementation shared by every consumer
    (kmeans_centroids, semantic_dedup's auto-k path) AND mirrored by the
    DuckDB oracles' ``ORDER BY vec_id LIMIT 4096`` — the slice must
    never drift between call sites or the oracles' re-derived centroids
    silently diverge."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    return np.array([r[vec_col] for r in rows], dtype=np.float64)


def sample_with_query_row(
    corpus: DataFrame,
    query_id=0,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """ONE collect serving two driver needs: the deterministic k-means /
    codebook training sample (exactly :func:`kmeans_sample`'s ORDER BY
    id LIMIT slice — same contract, same oracle mirror) AND the
    ``id == query_id`` query vector, which the ANN queries previously
    fetched with a second scan+collect job (r12, guide §2.2 — fewer
    actions).  Returns ``(x, query_vec_or_None)``.

    The query row is reused from the sample only when its presence or
    absence there is PROVABLE: the sample is the ascending-id prefix,
    so if the query id is missing from a full prefix whose last id
    sorts after it, it is not in the table at all.  Only when ≥
    ``sample`` ids sort at-or-before the query id (possible with that
    many negative/NULL ids) does a second bounded collect run — the
    pre-r12 behavior, never a wrong answer."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    qv = next((r[vec_col] for r in rows if r[id_col] == query_id), None)
    if qv is None and len(rows) == sample:
        last = rows[-1][id_col]
        if last is None or last <= query_id:
            extra = (
                corpus.where(F.col(id_col) == query_id).limit(1).collect()
            )
            qv = extra[0][vec_col] if extra else None
    return x, qv


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    init: str = "random",
) -> np.ndarray:
    """Deterministic coarse quantizer: Lloyd's k-means on a driver-side
    sample (:func:`kmeans_sample`), unit-normalized so
    assignment-by-max-cosine == assignment-by-min-L2.

    At 100 TB the sample stays driver-sized (k·dim floats broadcast back
    into the plan as literals); the expensive part — assigning every
    corpus row — runs as a pure JVM expression, one map-only pass that a
    real deployment computes once and persists as a partition column.

    ``init``/``iters`` are quality knobs for index builds (see
    :func:`lloyd_unit_kmeans`); oracle-checked queries call with the
    defaults so their re-derived centroid literals never move.
    """
    x = kmeans_sample(corpus, sample, id_col, vec_col)
    return lloyd_unit_kmeans(x, k=k, iters=iters, seed=seed, init=init)


def _kmeanspp_init(x: np.ndarray, k: int, rng) -> np.ndarray:
    """Deterministic (seeded-rng) k-means++ seeding over UNIT vectors:
    first center drawn uniformly, each next center D²-weighted with
    D² = 2 − 2·cos (the squared L2 distance between unit vectors).
    Arthur & Vassilvitskii 2007 — public algorithm.  Opt-in: the
    oracle-checked queries stay on the default seeded-uniform init so
    their re-derived centroid literals never move."""
    n = len(x)
    k = min(k, n)
    if k == 0:  # empty sample: mirror the random path's empty result
        return np.empty((0, x.shape[1] if x.ndim == 2 else 0))
    cent = np.empty((k, x.shape[1]), dtype=np.float64)
    cent[0] = x[int(rng.integers(n))]
    d2 = np.full(n, np.inf)
    for i in range(1, k):
        d2 = np.minimum(d2, np.maximum(2.0 - 2.0 * (x @ cent[i - 1]), 0.0))
        tot = d2.sum()
        if tot <= 0.0:  # all points coincide with chosen centers
            cent[i:] = cent[0]
            break
        cent[i] = x[int(rng.choice(n, p=d2 / tot))]
    return cent


def lloyd_unit_kmeans(
    x: np.ndarray,
    k: int = 16,
    iters: int = 5,
    seed: int = 42,
    init: str = "random",
) -> np.ndarray:
    """Pure-numpy Lloyd's iteration over unit-normalized vectors —
    shared by the Spark path (sample collected via DataFrame) and the
    DuckDB oracle (same sample loaded straight from parquet), so both
    derive bit-identical centroids and the IVF query is fully
    oracle-checkable despite k-means being iterative.

    ``init``: ``"random"`` (default — seeded uniform choice, the
    oracle-pinned path) or ``"kmeanspp"`` (D²-weighted seeding, still
    deterministic under the seed; an AnnIndex.build quality option that
    must NOT become the default while oracles re-derive literals from
    the default path)."""
    if len(x) == 0 or k <= 0:
        # empty sample / degenerate k: empty centroid matrix instead of
        # an argmax-of-empty ValueError inside the Lloyd loop (both
        # init paths previously raised here)
        return np.empty((0, x.shape[1] if x.ndim == 2 else 0))
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    if init == "kmeanspp":
        cent = _kmeanspp_init(x, k, rng)
    elif init == "random":
        cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    else:
        raise ValueError(f"unknown k-means init {init!r}")
    for _ in range(iters):
        sim = x @ cent.T
        assign = sim.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def ivf_assign(
    corpus: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Attach ``_ivf_cell`` = argmax centroid id (1-based) under q20
    fixed-point dots (:data:`Q20`): one Arrow/numpy matmul per batch,
    exact integer-valued scores, first-max tie-break — identical to
    DuckDB's ``list_indexof(s, list_max(s))`` over the same quantized
    centroid literals, and orders of magnitude faster than the previous
    k interpreted lambda folds per row.  (Centroids are unit vectors, so
    dot ranks like cosine; quantizing both sides preserves the ranking
    up to the q20 grid, which both engines share.)  Map-only; in
    production written once as a partition/bucket column so probes prune
    at the file level."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    qcent = quantize_np(centroids)
    out_schema = StructType(
        corpus.schema.fields + [StructField("_ivf_cell", IntegerType(), False)]
    )
    cols = corpus.columns

    def gen(batches):
        for pdf in batches:
            x = quantize_np(np.stack(pdf[vec_col].map(np.asarray)))
            proj = x @ qcent.T  # exact integer-valued float64
            out = {c: pdf[c] for c in cols}
            out["_ivf_cell"] = (proj.argmax(axis=1) + 1).astype(np.int32)
            yield pd.DataFrame(out)

    return corpus.mapInPandas(gen, schema=out_schema)


def multi_ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    replicas: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF **multiple assignment**: each vector is indexed under its
    ``replicas`` nearest cells (one output row per cell), the public
    recall lever for low-nprobe probing (used by IVFADC variants and,
    with a residual-aware second assignment, ScaNN's SOAR).

    Why this and not a better quantizer: on this corpus the single-
    assignment quantizer already probes the best-possible cell at
    nprobe=1 — the TRUTH is split across cells, so the ceiling itself
    is the problem.  R-way assignment puts each vector in R cells,
    multiplying the chance a probed cell contains it; the honest cost
    is ×R index rows (storage + scanned bytes per probe), which the
    bench records.  Map-only like :func:`ivf_assign`; at 100 TB the
    write amplification is the standard multi-assignment trade.

    Determinism: per-row cell ranking uses the same q20 integer dots as
    ``ivf_assign`` with a stable argsort, so rank 0 ≡ ``ivf_assign``'s
    first-max cell exactly (``replicas=1`` output == ``ivf_assign``).
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    if replicas < 1:
        raise ValueError(f"replicas must be >= 1, got {replicas}")
    r = min(replicas, len(centroids))
    qcent = quantize_np(centroids)
    out_schema = StructType(
        corpus.schema.fields + [StructField("_ivf_cell", IntegerType(), False)]
    )
    cols = corpus.columns

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = quantize_np(np.stack(pdf[vec_col].map(np.asarray)))
            proj = x @ qcent.T  # exact integer-valued float64
            # stable sort: ties keep the lower cell id, matching
            # ivf_assign's argmax (first max) at rank 0
            top = np.argsort(-proj, axis=1, kind="stable")[:, :r]
            idx = np.repeat(np.arange(len(pdf)), r)
            out = {c: pdf[c].iloc[idx].reset_index(drop=True) for c in cols}
            out["_ivf_cell"] = (top.reshape(-1) + 1).astype(np.int32)
            yield pd.DataFrame(out)

    return corpus.mapInPandas(gen, schema=out_schema)


def ivf_topk(
    corpus: DataFrame,
    query_vec,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` cells whose centroids are
    nearest the query, exact-rescore only their members.  Scan cost drops
    to ~nprobe/n_centroids of the corpus (file-level pruning when the
    cell id is a partition column)."""
    if centroids is None:
        centroids = kmeans_centroids(corpus, k=n_centroids, id_col=id_col, vec_col=vec_col, seed=seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / max(np.linalg.norm(qv), 1e-12)
    order = np.argsort(-(centroids @ qv))[:nprobe]
    probe_cells = [int(c) + 1 for c in order]  # 1-based (array_position)
    cand = ivf_assign(corpus, centroids, vec_col).where(
        F.col("_ivf_cell").isin(probe_cells)
    )
    return brute_force_topk(cand.drop("_ivf_cell"), query_vec, k, id_col, vec_col)


def semantic_dedup_params(
    corpus: DataFrame,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    n_blocks: int | None = None,
):
    """The ONE derivation of semantic_dedup's eager-phase parameters —
    ``(centroids, n_centroids, n_blocks)`` — shared between
    :func:`semantic_dedup` and callers that run the eager phases on a
    checkpoint themselves (queries/curation.curation_verdicts).  A
    second copy of these formulas would silently diverge from the
    DuckDB oracles, which re-derive k and the sample from the same
    count/slice.

    * Centroids: the shared k-means sample is collected FIRST so the
      auto-k path reads the dimension from it instead of paying a
      separate head() job; ``n_centroids=None`` derives k = ⌊√n⌋ from
      one count job via :func:`auto_n_centroids` (pure integer math
      the oracles re-derive from the same count).
    * Blocks: the decomposition exists to BOUND a hot cell's GEMM
      task, not to split already-small cells — b blocks cost b(b+1)/2
      groups per cell, and with k ≈ √n cells a fixed b shatters the
      sweep into thousands of tiny pandas groups whose per-group
      overhead dominates (measured 0.93 s → 1.28 s at sf0.1 when
      auto-k landed on b=4).  Scale b to the EXPECTED cell (n/k rows,
      ~4096-row blocks); skew beyond expectation only grows the
      per-task GEMM quadratically-in-overshoot, and the result is
      block-count-invariant (every pair is scored exactly once under
      any b)."""
    n_rows = None
    if centroids is None:
        x = kmeans_sample(corpus, id_col=id_col, vec_col=vec_col)
        if len(x) < 4096:
            # the ORDER BY id LIMIT 4096 sample came back short, so it
            # IS the whole corpus — the count is free (r12, guide §2.2:
            # one fewer eager job; the separate count job remains only
            # for corpora past the sample size, where it is real work)
            n_rows = len(x)
        if n_centroids is None:
            if n_rows is None:
                n_rows = corpus.count()
            n_centroids = (
                auto_n_centroids(n_rows, x.shape[1]) if len(x) else 1
            )
        centroids = lloyd_unit_kmeans(x, k=n_centroids, seed=seed)
    if n_blocks is None:
        if n_rows is None:
            n_rows = corpus.count()
        est_cell = max(1, n_rows // max(len(centroids), 1))
        n_blocks = max(1, min(16, -(-est_cell // 4096)))
    return centroids, n_centroids, n_blocks


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.35,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    n_blocks: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic coarse
    quantizer (:func:`kmeans_centroids` + :func:`ivf_assign`), score
    exact cosines only WITHIN each cell, and prune every vector that has
    a lower-id cell-mate at cosine ≥ τ.  Returns one row per input
    vector: ``(vec_id, cell, kept, dup_of)`` where ``dup_of`` is the
    MINIMUM lower-id witness (NULL ⇔ kept).

    Scale shape: the k-means sample is driver-bounded (k·dim floats),
    cell assignment is ONE map-only Arrow pass, and pair scoring is a
    per-(cell, block-pair) blocked-GEMM sweep — no all-pairs work ever
    crosses cell boundaries, so total pair cost drops from n² to
    Σ|cell|², and each task stays bounded by the block decomposition
    even for a hot cell.  ``n_centroids=None`` (default) derives
    k ≈ √n from a corpus count (:func:`auto_n_centroids`), keeping the
    expected per-cell size √n — a FIXED k would make cells 100× bigger
    at 100× the corpus and turn the sweep quadratic again.  The sweep is FUSED with the per-vector output:
    each diagonal block emits its vectors' base rows and every block
    pair emits (pruned, witness) rows, so one map-side-combinable
    min/max aggregate on the id produces the verdicts — no second scan,
    no re-assignment, no join (the unfused form — pairs via
    :func:`blocked_allpairs_cosine` with ``group_col`` + a witness join
    back to the assignment — costs an extra scan+assign pass).
    Cross-engine exactness: q20 fixed-point dots (:data:`Q20`) make
    every cosine bit-identical to DuckDB's list_dot_product over the
    same quantized literals, so the τ-cut — and therefore the kept set —
    is oracle-checkable despite k-means being iterative (same trick as
    the IVF oracle)."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if centroids is None or n_blocks is None:
        centroids, _, n_blocks = semantic_dedup_params(
            corpus,
            n_centroids=n_centroids,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            centroids=centroids,
            n_blocks=n_blocks,
        )
    assigned = ivf_assign(corpus.select(id_col, vec_col), centroids, vec_col)

    blk = (F.crc32(F.col(id_col).cast("string")) % n_blocks).cast("int")
    pair_structs = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(F.col("_blk"), F.lit(q)).alias("ba"),
                    F.greatest(F.col("_blk"), F.lit(q)).alias("bb"),
                )
                for q in range(n_blocks)
            ]
        )
    )
    tagged = (
        assigned.withColumn("_blk", blk)
        .select(
            id_col,
            vec_col,
            "_ivf_cell",
            "_blk",
            F.explode(pair_structs).alias("_bp"),
        )
        .select(id_col, vec_col, "_ivf_cell", "_blk", "_bp.ba", "_bp.bb")
    )

    # id columns inherit the source type (string doc ids work); the
    # nullable dup_of column needs a pandas dtype that carries NA —
    # "Int64" for integral ids (fast path), object otherwise
    id_type = corpus.schema[id_col].dataType
    integral_id = isinstance(id_type, (LongType, IntegerType))
    na_dtype = "Int64" if integral_id else object
    mid_schema = StructType(
        [
            StructField(id_col, id_type, False),
            StructField("cell", IntegerType(), False),
            StructField("dup_of", id_type, True),
        ]
    )
    tau = float(threshold)

    def score(key, pdf):
        cell, ba, bb = int(key[0]), key[1], key[2]
        ids = pdf[id_col].to_numpy()
        x = quantize_np(np.stack(pdf[vec_col].map(np.asarray)))
        qnorm = np.sqrt((x * x).sum(axis=1))  # exact int sums
        frames = []
        if ba == bb:
            # a diagonal group holds exactly its block's rows, and every
            # vector is in exactly one diagonal group → one base row each
            frames.append(
                pd.DataFrame(
                    {
                        id_col: ids,
                        "cell": np.full(len(ids), cell, dtype=np.int32),
                        "dup_of": pd.array([pd.NA] * len(ids), dtype=na_dtype),
                    }
                )
            )
            sim = (x @ x.T) / np.outer(qnorm, qnorm)
            ia, ib = np.triu_indices(len(ids), k=1)
            id_a, id_b, s = ids[ia], ids[ib], sim[ia, ib]
        else:
            mask_a = (pdf["_blk"] == ba).to_numpy()
            xa, xb = x[mask_a], x[~mask_a]
            sim = (xa @ xb.T) / np.outer(qnorm[mask_a], qnorm[~mask_a])
            na, nb = sim.shape
            ia = np.repeat(np.arange(na), nb)
            ib = np.tile(np.arange(nb), na)
            id_a, id_b, s = ids[mask_a][ia], ids[~mask_a][ib], sim.ravel()
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        # lo != hi: a duplicated id must not witness itself (the oracle
        # pairs on strict y.vec_id < x.vec_id)
        keep = (s >= tau) & (lo != hi)
        frames.append(
            pd.DataFrame(
                {
                    id_col: hi[keep],
                    "cell": np.full(int(keep.sum()), cell, dtype=np.int32),
                    "dup_of": pd.array(lo[keep], dtype=na_dtype),
                }
            )
        )
        return pd.concat(frames, ignore_index=True)

    grouped = tagged.groupBy("_ivf_cell", "ba", "bb").applyInPandas(
        score, schema=mid_schema
    )
    # min-id witness per vector (NULL ⇔ kept); map-side partial agg —
    # the only shuffle after the group-by that formed the sweep tasks
    out = grouped.groupBy(id_col).agg(
        F.max("cell").alias("cell"), F.min("dup_of").alias("dup_of")
    )
    return out.select(
        F.col(id_col).alias("vec_id"),
        F.col("cell"),
        F.col("dup_of").isNull().alias("kept"),
        F.col("dup_of"),
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    cosine_threshold: float = 0.95,
    dim: int = 64,
    nbits: int = 14,
    ntables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup (the dedup-family member over vectors):
    pairs colliding in any SRP table, verified by exact cosine ≥ τ.
    High-cosine pairs collide with probability (1-θ/π)^nbits per table,
    so a handful of tables suffices at τ ≥ 0.95.

    Plan shape (r11, guide §8): ONE Arrow pass computes all table
    buckets (:func:`srp_bucket_table`, vector NOT re-emitted), the
    (table, bucket) keys melt via explode as one LONG per row, and
    candidate pairs expand inside each bucket over bare ids
    (_bucket_candidate_id_pairs) — every exchange up to here carries
    two longs per row.  Vectors are attached to the DEDUPLICATED pair
    set by two id-equi joins (the corpus projection moves once, not
    ntables× into the bucket collect and 2× per pre-dedup pair as the
    heavy bucket-and-expand form did), and the verify cosine runs as
    ONE Arrow/numpy pass over the attached pairs in the same strict
    left-to-right float64 fold order as dot()/l2_norm(), so it stays
    bit-identical to the DuckDB twin (see the in-function comment for
    the measured JVM alternatives it beats)."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        MAX_BUCKET_SIZE,
        _bucket_candidate_id_pairs,
    )

    if max_bucket_size is None:
        max_bucket_size = MAX_BUCKET_SIZE
    blocked = srp_bucket_table(
        corpus, dim, nbits, ntables, seed, id_col, vec_col, keep_vec=False
    ).select(
        F.col(id_col).alias("_id"),
        # (table, bucket) as ONE long: t·2^nbits + bucket is injective
        # and shuffles 8 fixed bytes where the old "t:bucket" string
        # key shuffled ~8-12 and hashed slower (guide §2.3)
        F.explode(
            F.array(
                *[
                    (F.lit(t << nbits) + F.col(f"_b{t}")).cast("long")
                    for t in range(ntables)
                ]
            )
        ).alias("_block"),
    )
    pairs = _bucket_candidate_id_pairs(blocked, max_bucket_size)
    # NULL-SAFE attach (r12, r11 advisor): _bucket_candidate_id_pairs
    # deliberately preserves NULL-id pairs (PERMISSIVE decode output is
    # in the dedup family's threat model), but a plain equi-join never
    # matches NULL — the collect-stage fix was dead end-to-end and a
    # (NULL, x) near-dup silently vanished here.  eqNullSafe keys still
    # plan as BroadcastHashJoin (pinned by the q_neardup_lsh plan test).
    # Duplicate-id corpora attach one row per duplicate (a NULL-id pair
    # then verifies once per NULL-id doc) — same multiplication the
    # plain join already had for duplicated non-NULL ids.
    side = corpus.select(F.col(id_col), F.col(vec_col).alias("_v"))
    sa = side.select(F.col(id_col).alias("_ja"), F.col("_v").alias("_va"))
    sb = side.select(F.col(id_col).alias("_jb"), F.col("_v").alias("_vb"))
    cand = (
        pairs.join(sa, F.col("id_a").eqNullSafe(F.col("_ja")))
        .drop("_ja")
        .join(sb, F.col("id_b").eqNullSafe(F.col("_jb")))
        .drop("_jb")
    )
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_fields = cand.select("id_a", "id_b").schema.fields
    out_schema = StructType(
        list(id_fields) + [StructField("cosine", DoubleType(), True)]
    )

    # Verify cosine as an Arrow/numpy pass: the 64-term UNROLLED JVM
    # expression is too large for whole-stage codegen here and falls to
    # interpreted evaluation (measured 8.8 s vs 4.5 s for the HOF fold
    # vs 2.9 s for this, on 196k sf0.1 candidates).  Bit-exactness with
    # the DuckDB twin is preserved because the fold below is the SAME
    # strict left-to-right float64 order as dot()/l2_norm(): numpy
    # elementwise ops are single IEEE doubles ops, and only the
    # column-at-a-time axis is vectorized, never the reduction order.
    # Edge policy (testdata-free, documented): rows whose vector is
    # NULL are dropped (their cosine is NULL under the JVM form and
    # NULL >= τ never passes); NULL ELEMENTS arrive as NaN and drop
    # likewise (cos >= τ is False for NaN).  Vectors SHORTER than dim
    # are dropped too — exactly the JVM unrolled form's behavior, where
    # element_at past the end yields NULL and the whole cosine goes
    # NULL (r12, r11 advisor: np.stack previously raised on the ragged
    # batch instead).  Vectors LONGER than dim score on their first dim
    # components, again mirroring the unrolled element_at chain.
    return cand.select("id_a", "id_b", "_va", "_vb").mapInPandas(
        _cosine_verify_gen(dim, cosine_threshold), schema=out_schema
    )


def _cosine_verify_gen(dim: int, cosine_threshold: float):
    """The Arrow verify-pass generator for
    :func:`embedding_neardup_pairs`, module-level so the edge policy is
    unit-testable (the operator's bucket pass only admits exactly-dim
    vectors, so the length guard below is defense-in-depth there)."""
    thr = float(cosine_threshold)
    d = int(dim)

    def verify(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf[pdf["_va"].notna() & pdf["_vb"].notna()]
            if len(pdf):
                pdf = pdf[
                    (pdf["_va"].map(len) >= d) & (pdf["_vb"].map(len) >= d)
                ]
            if not len(pdf):
                continue
            va = np.stack(
                pdf["_va"].map(lambda v: np.asarray(v[:d], dtype=np.float64))
            )
            vb = np.stack(
                pdf["_vb"].map(lambda v: np.asarray(v[:d], dtype=np.float64))
            )
            dp = va[:, 0] * vb[:, 0]
            na = va[:, 0] * va[:, 0]
            nb = vb[:, 0] * vb[:, 0]
            for i in range(1, d):
                dp = dp + va[:, i] * vb[:, i]
                na = na + va[:, i] * va[:, i]
                nb = nb + vb[:, i] * vb[:, i]
            cos = dp / (np.sqrt(na) * np.sqrt(nb))
            keep = cos >= thr
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"][keep],
                    "id_b": pdf["id_b"][keep],
                    "cosine": cos[keep],
                }
            )

    return verify


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression half of the IVF-PQ
# layout every billion-vector ANN deployment uses.  A dim-d float vector
# becomes m small integer codes (one per d/m-dim subvector, each the id
# of the nearest centroid in that subspace's codebook), shrinking the
# resident index ~dim*4/m bytes per vector; queries score candidates via
# ADC (asymmetric distance computation) — a per-query m×k lookup table
# of exact subspace distances, so scoring a candidate is m table lookups
# and never touches the original floats.
#
# Correctness strategy mirrors IVF: codebooks come from a deterministic
# driver-sized numpy Lloyd's over a deterministic sample, and all
# in-engine arithmetic (assignment distances, ADC partials) runs on the
# q20 fixed-point grid (:data:`Q20`) where every product and sum is an
# exact integer-valued double — so DuckDB reproduces codes, distances,
# and the final top-k bit-for-bit from centroid literals despite k-means
# being iterative and the hot path being an Arrow/numpy matmul.
# ---------------------------------------------------------------------------


def lloyd_l2_kmeans(
    x: np.ndarray, k: int = 16, iters: int = 5, seed: int = 42
) -> np.ndarray:
    """Plain-L2 Lloyd's (no unit normalization — PQ subvectors are not
    unit vectors, so cosine assignment would be wrong).  Deterministic:
    seeded centroid choice, argmin-first tie-break, empty clusters keep
    their previous centroid.  Shared verbatim by the Spark path and the
    DuckDB-oracle factory so both derive bit-identical codebooks."""
    x = np.asarray(x, dtype=np.float64)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()
    for _ in range(iters):
        # ||x-c||^2 ranks like -2xc + cc for fixed x; keep the full form
        # for clarity (sample-sized, driver-side)
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ cent.T)
            + (cent * cent).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    sample: int = 4096,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Train per-subspace codebooks on a deterministic driver-side
    sample (first ``sample`` ids).  Returns shape (m, k, dim//m).  Like
    :func:`kmeans_centroids`, the expensive corpus-wide step (encoding)
    is separate and map-only; only m·k·(dim/m) = dim·k floats ever live
    on the driver, at any corpus size."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return pq_codebooks_from_sample(x, m=m, k=k, iters=iters, seed=seed)


def pq_codebooks_from_sample(
    x: np.ndarray, m: int = 8, k: int = 16, iters: int = 5, seed: int = 42
) -> np.ndarray:
    """:func:`pq_codebooks` given an already-collected training sample
    (r12: lets a caller that also needs the query row reuse ONE
    :func:`sample_with_query_row` collect for both)."""
    x = np.asarray(x, dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return np.stack(
        [
            lloyd_l2_kmeans(x[:, i * sub : (i + 1) * sub], k=k, iters=iters, seed=seed + i)
            for i in range(m)
        ]
    )


def opq_train(
    x: np.ndarray,
    m: int = 8,
    k: int = 16,
    sweeps: int = 8,
    iters: int = 5,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ (Ge et al., *Optimized Product Quantization*, CVPR 2013):
    learn an orthogonal rotation R that aligns the data with the PQ
    subspace grid before coding, by alternating (a) PQ codebooks in the
    rotated space and (b) the Procrustes-optimal R for the current
    reconstruction — min ‖xR − recon‖ over orthogonal R, solved by SVD
    of xᵀ·recon.  Returns ``(rotation dim×dim, codebooks m×k×sub)``.

    Deterministic (seeded Lloyd's per subspace, fixed sweep count) and
    driver-sized: trains on the same ≤4096-row sample as
    :func:`pq_codebooks`, so only dim² + dim·k floats live anywhere.
    The win is data-dependent — it cuts ADC quantization loss when
    variance is unevenly spread across subspaces and is a measured
    no-op on isotropic corpora (the synthetic test embeddings), which
    the pytest demonstrates on an anisotropic sample instead."""
    x = np.asarray(x, dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m

    def _train(xr: np.ndarray) -> np.ndarray:
        return np.stack(
            [
                lloyd_l2_kmeans(
                    xr[:, i * sub : (i + 1) * sub], k=k, iters=iters, seed=seed + i
                )
                for i in range(m)
            ]
        )

    def _codes(xr: np.ndarray, cb: np.ndarray) -> np.ndarray:
        out = np.empty((len(xr), m), dtype=np.int64)
        for i in range(m):
            sv = xr[:, i * sub : (i + 1) * sub]
            d2 = (
                (sv * sv).sum(axis=1, keepdims=True)
                - 2.0 * (sv @ cb[i].T)
                + (cb[i] * cb[i]).sum(axis=1)
            )
            out[:, i] = d2.argmin(axis=1)
        return out

    rot = np.eye(dim)
    cb = _train(x)
    for _ in range(max(sweeps, 0)):
        xr = x @ rot
        cb = _train(xr)
        codes = _codes(xr, cb)
        recon = np.concatenate(
            [cb[i][codes[:, i]] for i in range(m)], axis=1
        )
        u, _s, vt = np.linalg.svd(x.T @ recon)
        rot = u @ vt
    return rot, _train(x @ rot)


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """(id, vec) → (id, ``pq_codes`` array<int>, 1-based codes): one
    Arrow pass, one m-way batched matmul per subspace against q20-
    quantized codebooks — exact integer distances, numpy argmin-first ≡
    DuckDB ``list_indexof(d, list_min(d))`` over the same literals.
    Map-only: at 100 TB this runs once and the packed codes column (m
    small ints ≈ m bytes dictionary-encoded in parquet) replaces the
    dim×4-byte float array in the resident index.

    ``rotation`` (optional, from :func:`opq_train`): applied to each
    vector BEFORE q20 quantization, so codes live in the rotated space;
    :func:`pq_adc_lut` must receive the same rotation."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    m, _k, sub = codebooks.shape
    qcb = [quantize_np(codebooks[i]) for i in range(m)]
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64)
    keep = list(keep_cols or [])  # extra columns to carry through
    out_schema = StructType(
        [corpus.schema[id_col]]
        + [corpus.schema[c] for c in keep]
        + [StructField("pq_codes", ArrayType(IntegerType(), False), False)]
    )

    def gen(batches):
        for pdf in batches:
            raw = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            if rot is not None:
                raw = raw @ rot
            x = quantize_np(raw)
            codes = np.empty((len(x), m), dtype=np.int32)
            for i in range(m):
                sv = x[:, i * sub : (i + 1) * sub]
                qc = qcb[i]
                d2 = (
                    (sv * sv).sum(axis=1, keepdims=True)
                    - 2.0 * (sv @ qc.T)
                    + (qc * qc).sum(axis=1)
                )  # exact: integer-valued float64 throughout
                codes[:, i] = d2.argmin(axis=1) + 1  # 1-based (list_indexof)
            out = {id_col: pdf[id_col]}
            out.update({c: pdf[c] for c in keep})
            out["pq_codes"] = list(codes)
            yield pd.DataFrame(out)

    tail = [] if vec_col in keep else [vec_col]  # keep may retain the vector
    return corpus.select(id_col, *keep, *tail).mapInPandas(
        gen, schema=out_schema
    )


def pq_adc_lut(
    query_vec, codebooks: np.ndarray, rotation: np.ndarray | None = None
) -> list[tuple[int, int, float]]:
    """Per-query ADC lookup table: rows (sub 1-based, code 1-based,
    partial) where partial = ||q_sub − centroid||² on the q20 grid —
    exact integer-valued doubles, so the m-term sums that score each
    candidate are order-independent and engine-portable.  m·k rows:
    driver-sized by construction, broadcast into the scoring join.
    ``rotation`` must match the one the codes were encoded under."""
    m, k, sub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if rotation is not None:
        q = q @ np.asarray(rotation, dtype=np.float64)
    q = quantize_np(q)
    rows = []
    for i in range(m):
        sv = q[i * sub : (i + 1) * sub]
        qc = quantize_np(codebooks[i])
        d2 = (sv * sv).sum() - 2.0 * (qc @ sv) + (qc * qc).sum(axis=1)
        rows += [(i + 1, j + 1, float(d2[j])) for j in range(k)]
    return rows


def pq_adc_topk(
    corpus: DataFrame,
    query_vec,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over PQ codes: encode (map-only) → posexplode the m
    codes → broadcast-join the m·k LUT → per-id partial-aggregated sum
    → TakeOrdered.  No float vector is read after the encode; at scale
    the codes table is the persisted index and this is the whole query.
    Ascending distance with id tie-break keeps the cut deterministic."""
    from pyspark.sql.functions import broadcast as _bc

    spark = corpus.sparkSession
    lut = spark.createDataFrame(
        pq_adc_lut(query_vec, codebooks),
        "pq_sub INT, pq_code INT, partial DOUBLE",
    )
    codes = pq_encode(corpus, codebooks, id_col, vec_col)
    exploded = codes.select(
        id_col, F.posexplode("pq_codes").alias("_pos", "pq_code")
    ).select(id_col, (F.col("_pos") + 1).alias("pq_sub"), "pq_code")
    return (
        exploded.join(_bc(lut), ["pq_sub", "pq_code"], "inner")
        .groupBy(id_col)
        .agg(F.sum("partial").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )
