"""LLM-pipeline queries: dedup family, similarity search, text analysis,
multimodal plumbing (SURVEY §2.7, charter mandate).

The whole dedup/fingerprint family is oracle-checked: MinHash, SimHash
and winnowing run on portable md5-derived hashes (string-min on
fixed-width lowercase hex ≡ uint64-min; SimHash bit votes come from hex
digits) whose DuckDB twins reproduce signatures and candidate buckets
exactly, and n-gram Jaccard never hashes at all.  The xxhash64 variants
in operators/ stay the 100 TB hot paths — same plan shapes, cheaper
hash — pinned by tests/test_llm_ops.py.  The language-ID and
quality-score heuristics are pure string/list math and get full oracle
checks (DuckDB list lambdas mirror the Spark higher-order functions).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from consume_kafka_avro_data_spark.operators.dedup import (
    BANDS,
    ROWS,
    incremental_minhash_dedup,
    minhash_estimate_pairs,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_hex_neardup_pairs,
    simhash_hex_table,
)
from consume_kafka_avro_data_spark.operators.multimodal import (
    decode_features,
    documents_as_media,
    encode_ppm,
    encode_wav,
    ppm_feature_table,
    sample_frames,
    wav_feature_table,
)
from consume_kafka_avro_data_spark.operators.similarity import (
    blocked_allpairs_cosine,
    brute_force_topk,
    ivf_topk,
    knn_join,
    semantic_dedup,
    srp_lsh_topk,
)
from consume_kafka_avro_data_spark.operators.text import (
    STOPWORDS,
    bpe_ish_tokens,
    lang_id,
    quality_score,
    tokens,
    winnow_fingerprint_counts,
)
from consume_kafka_avro_data_spark.registry import query
from consume_kafka_avro_data_spark.tables import load_table

# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "q_similarity_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         scored AS (
           SELECT q.q_id, c.vec_id,
                  list_dot_product(cv, qv)
                  / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
                      AS score
           FROM c CROSS JOIN q
         )
    SELECT q_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id)
                AS INT) AS "rank"
    FROM scored
    QUALIFY "rank" <= 10
    """,
    tags=("U6", "J8"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine k-NN join: 5 query vectors × corpus, top-10
    each.  Deterministic (ties broken by vec_id) and oracle-checked:
    both engines left-fold the dot product in doubles, so the scores —
    and therefore the top-k cut — match bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return knn_join(queries, emb, k=10, dim=64)


def _o_srp_ann() -> str:
    """DuckDB twin of srp_lsh_topk: bucket ids recomputed from
    QUANTIZED (q20 fixed-point) hyperplane literals — integer-valued
    dots are exact in float64, so numpy's matmul on the Spark side and
    DuckDB's sequential list_dot_product here produce the identical
    sign pattern regardless of summation order.  The exact re-rank uses
    the float left-fold cosine (list_dot_product ≡ F.aggregate order)
    and the deterministic (score, id) cut."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        _hyperplanes,
        o_quantize,
        o_srp_bucket,
        quantize_np,
    )

    k = 10
    dim = 64
    nbits = 12
    ntables = 6
    seed = 42
    bucket_cols = []
    for t in range(ntables):
        qplanes = quantize_np(_hyperplanes(dim, nbits, t, seed))
        bucket_cols.append(f"{o_srp_bucket(qplanes)} AS b{t}")
    collide = " OR ".join(f"c.b{t} = qb.b{t}" for t in range(ntables))
    return f"""
    WITH b AS (
      SELECT vec_id, v, {", ".join(bucket_cols)}
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {o_quantize()} AS qv
            FROM embeddings)
    ),
    qb AS (SELECT * FROM b WHERE vec_id = 0)
    SELECT c.vec_id,
           list_dot_product(c.v, qb.v)
           / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qb.v, qb.v)))
               AS score
    FROM b c, qb
    WHERE {collide}
    ORDER BY score DESC, c.vec_id
    LIMIT {k}
    """


@query("q_similarity_ann", oracle=_o_srp_ann, tags=("U6", "J8"))
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k for one query — the 100 TB path:
    one Arrow pass computes every table's bucket id (q20-exact numpy
    matmul), bucket-collision candidates only, exact cosine re-rank.
    Fully oracle-checked: the DuckDB twin recomputes the same buckets
    from quantized plane literals (see _o_srp_ann)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Defensive collect: _o_srp_ann degrades to rows-only when no
    # vec_id=0 row exists, so the Spark side must degrade too (empty
    # top-k frame) rather than IndexError the whole parity run.
    rows = emb.where(F.col("vec_id") == 0).limit(1).collect()
    if not rows:
        return spark.createDataFrame([], "vec_id long, score double")
    return srp_lsh_topk(emb, rows[0]["embedding"], k=10)


# -- shared oracle-factory context: the data-dependent oracle factories
# (IVF/semantic-dedup/PQ here, the curation funnel in curation.py) all
# sample the corpus the oracle will run against and inline derived
# centroids/codebooks as literals.  ONE definition of the sf-dir
# resolution, the sample size, and the vector-literal format — a
# drifted copy would derive centroids from a DIFFERENT corpus than the
# query runs on, a hard-to-diagnose parity failure.

#: deterministic driver-side sample size for centroid/codebook training
ORACLE_SAMPLE_LIMIT = 4096


def oracle_sf_dir() -> str:
    """The sf directory the DuckDB oracle will run against:
    $SPARK_GRAFT_TEST_SF_DIR when the local harness sets it, else the
    driver's documented sf0.01."""
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def vec_sql(c) -> str:
    """DuckDB DOUBLE[] literal for one vector (centroid inlining);
    repr() keeps full float precision on both engines."""
    return "[" + ", ".join(repr(float(v)) for v in c) + "]::DOUBLE[]"


def _ivf_oracle_ctx(n_centroids=16, seed=42):
    """Shared context for the IVF-family oracle factories: re-derive the
    deterministic centroids from the sf the oracle will run against
    ($SPARK_GRAFT_TEST_SF_DIR when the local harness sets it, else the
    driver's documented sf0.01) and return ``(centroids, unit query
    vector, cell-scores SQL fragment)`` — or None to degrade the query
    to rows-only (unreadable/empty parquet, missing vec_id=0 row)."""
    sf_dir = oracle_sf_dir()
    path = f"{sf_dir}/embeddings.parquet"
    try:
        import duckdb
        import numpy as np

        from consume_kafka_avro_data_spark.operators.similarity import (
            lloyd_unit_kmeans,
        )

        con = duckdb.connect()
        rows = con.sql(
            f"SELECT embedding FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {ORACLE_SAMPLE_LIMIT}"
        ).fetchall()
        qrow = con.sql(
            f"SELECT embedding FROM read_parquet('{path}') WHERE vec_id = 0"
        ).fetchall()
        con.close()
    except Exception:
        return None
    if not rows or not qrow:
        # readable-but-empty table / missing query row: degrade to
        # rows-only instead of raising out of oracle_text()
        return None
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cent = lloyd_unit_kmeans(x, k=n_centroids, seed=seed)
    qv = np.asarray(qrow[0][0], dtype=np.float64)
    qn = qv / max(np.linalg.norm(qv), 1e-12)

    from consume_kafka_avro_data_spark.operators.similarity import (
        quantize_np,
    )

    # cell assignment under q20 fixed-point dots — exact integer-valued
    # doubles, so list_indexof(list_max) here ≡ numpy argmax (first max)
    # in ivf_assign, tie-for-tie
    scores = ", ".join(
        f"list_dot_product(qvec, {vec_sql(qc)})" for qc in quantize_np(cent)
    )
    return cent, qn, scores


def _o_ivf() -> str | None:
    """DuckDB twin of ivf_topk at the driver's sf0.01: recompute the
    SAME deterministic centroids (identical numpy Lloyd's routine over
    the identical ORDER BY vec_id LIMIT 4096 sample), inline them as
    literals, assign cells by first-argmax of the literal-centroid dots
    (list_indexof ≡ Spark's array_position), prune to the same nprobe
    cells, and exact-rescore with the shared left-fold cosine.  The
    centroid literals are data-dependent, so the sample is read from the
    sf the oracle will run against: $SPARK_GRAFT_TEST_SF_DIR when the
    local harness sets it, else the driver's documented sf0.01.

    Registered as a FACTORY (not called at decoration): the registry
    resolves it lazily at verification time, so the env var is read when
    the oracle is used, query-module import does no file I/O, and a
    degradation to rows-only (unreadable parquet → None) is logged by
    Query.oracle_text instead of passing silently."""
    k = 10
    n_centroids = 16
    nprobe = 4
    seed = 42
    ctx = _ivf_oracle_ctx(n_centroids, seed)
    if ctx is None:
        return None
    cent, qn, scores = ctx
    import numpy as np

    from consume_kafka_avro_data_spark.operators.similarity import (
        o_quantize,
    )

    order = np.argsort(-(cent @ qn))[:nprobe]
    probe = ", ".join(str(int(c) + 1) for c in order)
    return f"""
    WITH a AS (
      SELECT vec_id, v,
             list_indexof(s, list_max(s)) AS cell
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               [{scores}] AS s
        FROM (SELECT vec_id, embedding, {o_quantize()} AS qvec FROM embeddings)
      )
    ), q AS (SELECT v AS qv FROM a WHERE vec_id = 0)
    SELECT a.vec_id,
           list_dot_product(a.v, qv)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv)))
               AS score
    FROM a, q
    WHERE a.cell IN ({probe})
    ORDER BY score DESC, a.vec_id
    LIMIT {k}
    """


@query("q_similarity_ivf", oracle=_o_ivf, tags=("U6", "J8"))
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: deterministic k-means coarse quantizer, probe the
    4 nearest of 16 cells, exact cosine re-rank — the partition-pruned
    scale path (cell id becomes a partition column at 100 TB).  Fully
    oracle-checked even though k-means is iterative: the oracle reruns
    the identical numpy Lloyd's routine on the identical sample and
    inlines the resulting centroids as literals (see _o_ivf)."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        lloyd_unit_kmeans,
        sample_with_query_row,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE collect for both the centroid-training sample and the query
    # row (r12, guide §2.2) — the sample slice and the Lloyd's run are
    # byte-identical to kmeans_centroids' own, so the oracle's
    # re-derived centroid literals (_o_ivf) are unchanged.  Degrades to
    # the empty frame with the oracle when no vec_id=0 row exists.
    x, qv = sample_with_query_row(emb)
    if qv is None:
        return spark.createDataFrame([], "vec_id long, score double")
    return ivf_topk(
        emb,
        qv,
        k=10,
        n_centroids=16,
        nprobe=4,
        centroids=lloyd_unit_kmeans(x, k=16, seed=42),
    )


def _o_ann_recall() -> str | None:
    """DuckDB twin of q_ann_recall: the same re-derived centroid
    literals as _o_ivf, one CTE per nprobe's probed top-k, the exact
    brute-force top-k as ground truth, recall as an exact count/k
    division — deterministic on both engines because every cosine is a
    q20 fixed-point dot and every cut tie-breaks on vec_id."""
    k = 10
    n_centroids = 16
    seed = 42
    ctx = _ivf_oracle_ctx(n_centroids, seed)
    if ctx is None:
        return None
    cent, qn, scores = ctx
    import numpy as np

    from consume_kafka_avro_data_spark.operators.similarity import (
        o_quantize,
    )

    ctes = []
    selects = []
    for nprobe in (1, 2, 4, 8):
        order = np.argsort(-(cent @ qn))[:nprobe]
        probe = ", ".join(str(int(c) + 1) for c in order)
        ctes.append(
            f"""ivf{nprobe} AS (
      SELECT a.vec_id FROM a, q WHERE a.cell IN ({probe})
      ORDER BY list_dot_product(a.v, qv)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(qv, qv))) DESC, a.vec_id
      LIMIT {k}
    )"""
        )
        selects.append(
            f"SELECT CAST({nprobe} AS INT) AS nprobe, "
            f"CAST((SELECT count(*) FROM ivf{nprobe} "
            f"WHERE vec_id IN (SELECT vec_id FROM bf)) / {k}.0 AS DOUBLE) "
            "AS recall_at_k"
        )
    return f"""
    WITH a AS (
      SELECT vec_id, v,
             list_indexof(s, list_max(s)) AS cell
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               [{scores}] AS s
        FROM (SELECT vec_id, embedding, {o_quantize()} AS qvec FROM embeddings)
      )
    ), q AS (SELECT v AS qv FROM a WHERE vec_id = 0),
    bf AS (
      SELECT a.vec_id FROM a, q
      ORDER BY list_dot_product(a.v, qv)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(qv, qv))) DESC, a.vec_id
      LIMIT {k}
    ),
    {", ".join(ctes)}
    {" UNION ALL ".join(selects)}
    ORDER BY nprobe
    """


@query("q_ann_recall", oracle=_o_ann_recall, tags=("U6", "J8"))
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall accountability for the IVF ANN path: recall@10 vs the
    exact brute-force top-10 at nprobe ∈ {1, 2, 4, 8} of 16 cells —
    the recall/latency trade an operator budgets against (probing half
    the cells should recover most of the truth; this query MEASURES
    it, per corpus, fully oracle-checked).  Deterministic despite
    k-means being iterative and the cut being a top-k: the oracle
    replays the identical centroid literals (see _ivf_oracle_ctx) and
    both engines tie-break every cut on vec_id over q20-exact scores."""
    from functools import reduce

    from consume_kafka_avro_data_spark.operators.similarity import (
        lloyd_unit_kmeans,
        sample_with_query_row,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one fused sample+query collect (r12) — see q_similarity_ivf
    x, qv = sample_with_query_row(emb)
    if qv is None:
        return spark.createDataFrame([], "nprobe int, recall_at_k double")
    truth = brute_force_topk(emb, qv, k=10).select("vec_id")
    # train the quantizer ONCE: the four nprobe variants share the same
    # deterministic (n_centroids=16, seed=42) centroids, so per-call
    # training would re-collect the sample and re-run Lloyd's 4× for
    # bit-identical matrices
    cent = lloyd_unit_kmeans(x, k=16, seed=42)
    parts = [
        ivf_topk(emb, qv, k=10, n_centroids=16, nprobe=p, centroids=cent)
        .select(F.lit(p).cast("int").alias("nprobe"), "vec_id")
        for p in (1, 2, 4, 8)
    ]
    cand = reduce(DataFrame.unionByName, parts)
    # truth is k rows — always broadcast-safe; the probed top-k frames
    # are k rows per nprobe, so this "join" is trivially small at ANY
    # corpus size (the heavy lifting happened inside the top-k
    # operators, which prune cells before scoring)
    hits = (
        cand.join(F.broadcast(truth), "vec_id")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    # left join from the literal probe list: an nprobe with ZERO hits
    # must surface as recall 0.0, not vanish from the group-by
    probes = spark.createDataFrame([(1,), (2,), (4,), (8,)], "nprobe int")
    return (
        probes.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            (F.coalesce(F.col("_hits"), F.lit(0)) / F.lit(10.0)).alias(
                "recall_at_k"
            ),
        )
        .orderBy("nprobe")
    )


_BASIS_64 = "[" + ", ".join(["1.0"] + ["0.0"] * 63) + "]::DOUBLE[]"


@query(
    "q_embedding_norms",
    oracle=f"""
    SELECT vec_id,
           list_dot_product(v, {_BASIS_64})
           / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product({_BASIS_64}, {_BASIS_64})))
               AS score
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    ORDER BY score DESC, vec_id
    LIMIT 25
    """,
    tags=("U6",),
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k against a fixed basis vector — fully
    oracle-checked: the deterministic (score, id) tie-break plus
    bit-identical double folds make the 25-row cut reproducible."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [1.0] + [0.0] * 63
    return brute_force_topk(emb, qv, k=25)


# ---------------------------------------------------------------------------
# near-dup dedup family
# ---------------------------------------------------------------------------


# -- shared minhash-oracle builders: the hash-DEFINING expressions of the
# four minhash DuckDB twins (_o_minhash, _o_minhash_est,
# _o_incremental_dedup, _o_dedup_pipeline).  ONE definition each, so a
# fix to the seed-hash format, the band layout, or the <3-token shingle
# fallback can never desynchronize one oracle from the others (the same
# rationale as curation._o_span_ctes / _o_simhash_sig_cte).

def _o_minhash_mins(n: int) -> str:
    """Per-seed md5 minima over the shingle set (column ``sh``)."""
    return ", ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{i}:' || s), 1, 16)))"
        for i in range(n)
    )


def _o_minhash_bands() -> str:
    """Band bucket keys over the signature array (column ``sig``)."""
    return ", ".join(
        f"md5('{b}:' || array_to_string(sig[{b * ROWS + 1} : {b * ROWS + ROWS}], ','))"
        for b in range(BANDS)
    )


#: the 3-shingle set with the <3-token whole-text fallback, over ``toks``
_O_SHINGLE_SET = """list_distinct(CASE WHEN len(toks) < 3
                  THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i : i + 2], ' '))
             END)"""


def _o_minhash() -> str:
    """DuckDB twin of minhash_lsh_pairs(hash_fn="md5"): rebuilds the same
    distinct shingle sets, the same per-seed md5 hex-prefix minima
    (fixed-width lowercase hex → string-min ≡ uint64-min in both
    engines), the same band hashes, and verifies with the same exact-int
    Jaccard division — so candidates AND scores match bit-for-bit."""
    mins = _o_minhash_mins(BANDS * ROWS)
    bexprs = _o_minhash_bands()
    return rf"""
    WITH base AS (
      SELECT doc_id AS _id,
             {_O_SHINGLE_SET} AS sh
      FROM (SELECT doc_id, string_split_regex(lower(coalesce(text, '')), '\s+') AS toks
            FROM documents)
    ),
    sigs AS (SELECT _id, sh, [{mins}] AS sig FROM base),
    banded AS (SELECT _id, unnest([{bexprs}]) AS band FROM sigs),
    cand AS (
      SELECT DISTINCT a._id AS id_a, b._id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a._id < b._id
    ),
    scored AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(ga.sh, gb.sh)) AS DOUBLE)
               / (len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)))
                 AS jaccard
      FROM cand JOIN base ga ON ga._id = cand.id_a
                JOIN base gb ON gb._id = cand.id_b
    )
    SELECT * FROM scored WHERE jaccard >= 0.5
    """


def _o_minhash_est() -> str:
    """DuckDB twin of minhash_estimate_pairs: same portable signatures
    and band buckets as _o_minhash, but scored by the signature-agreement
    estimator instead of exact Jaccard — the shingle sets are never
    re-read after signature computation, exactly like the Spark plan."""
    n = BANDS * ROWS
    mins = _o_minhash_mins(n)
    bexprs = _o_minhash_bands()
    matches = f"len(list_filter(range(1, {n} + 1), i -> sa[i] = sb[i]))"
    return rf"""
    WITH base AS (
      SELECT doc_id AS _id,
             {_O_SHINGLE_SET} AS sh
      FROM (SELECT doc_id, string_split_regex(lower(coalesce(text, '')), '\s+') AS toks
            FROM documents)
    ),
    sigs AS (SELECT _id, [{mins}] AS sig FROM base),
    banded AS (SELECT _id, sig, unnest([{bexprs}]) AS band FROM sigs),
    cand AS (
      SELECT DISTINCT a._id AS id_a, b._id AS id_b, a.sig AS sa, b.sig AS sb
      FROM banded a JOIN banded b ON a.band = b.band AND a._id < b._id
    )
    SELECT id_a, id_b, CAST({matches} AS DOUBLE) / {n} AS jaccard_est
    FROM cand WHERE {matches} >= {n // 2}
    """


@query("q_minhash_est", oracle=_o_minhash_est(), tags=("U5",))
def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only MinHash similarity estimation (matches/n over the
    32-component signature, threshold ≥ 0.5): the scale path that never
    re-reads shingle sets after the map-only signature pass — only
    (id, signature) pairs flow through the band-bucket shuffle.  Fully
    oracle-checked via the portable md5 signatures."""
    return minhash_estimate_pairs(load_table(spark, sf_dir, "documents"))


@query("q_minhash_est_fast", oracle=None, tags=("U5",))
def q_minhash_est_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only MinHash estimation on the xxhash64 scale path —
    identical plan shape to q_minhash_est but one JVM-intrinsic hash per
    seed×shingle instead of an md5, ~10× cheaper signatures.  Rows-only
    (xxhash64 is Spark-specific so no engine-portable oracle exists);
    the md5 twin carries the full correctness proof for the shared
    estimator pipeline.  This is the variant to deploy at 100 TB and the
    one the bench times."""
    return minhash_estimate_pairs(
        load_table(spark, sf_dir, "documents"), hash_fn="xxhash64"
    )


@query("q_minhash_neardup", oracle=_o_minhash(), tags=("U5",))
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over documents (exact-Jaccard
    verified ≥ 0.5), fully oracle-checked via the portable md5
    hex-prefix hash (see _o_minhash).  The xxhash64 default of
    minhash_lsh_pairs stays the 100 TB path; since the verify step is
    exact Jaccard, hash choice only moves candidate recall, never the
    correctness of emitted pairs."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), hash_fn="md5")


def _o_incremental_dedup() -> str:
    """DuckDB twin of incremental_minhash_dedup(hash_fn="md5") over the
    doc_id%4 shard split: same md5 hex-prefix signatures and band keys
    as _o_minhash, but candidates come from a new-side × corpus-side
    band join — corpus×corpus pairs are structurally impossible, which
    is the operator's whole contract."""
    mins = _o_minhash_mins(BANDS * ROWS)
    bexprs = _o_minhash_bands()
    return rf"""
    WITH base AS (
      SELECT doc_id AS _id,
             {_O_SHINGLE_SET} AS sh
      FROM (SELECT doc_id, string_split_regex(lower(coalesce(text, '')), '\s+') AS toks
            FROM documents)
    ),
    sigs AS (SELECT _id, sh, [{mins}] AS sig FROM base),
    banded AS (SELECT _id, unnest([{bexprs}]) AS band FROM sigs),
    cand AS (
      SELECT DISTINCT a._id AS new_id, b._id AS corpus_id
      FROM banded a JOIN banded b ON a.band = b.band
      WHERE a._id % 4 = 0 AND b._id % 4 != 0
    ),
    scored AS (
      SELECT new_id, corpus_id,
             CAST(len(list_intersect(ga.sh, gb.sh)) AS DOUBLE)
               / (len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)))
                 AS jaccard
      FROM cand JOIN base ga ON ga._id = cand.new_id
                JOIN base gb ON gb._id = cand.corpus_id
    )
    SELECT * FROM scored WHERE jaccard >= 0.5
    """


@query("q_incremental_dedup", oracle=_o_incremental_dedup(), tags=("U5",))
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shard-vs-corpus near-dup (U5, the operational 100 TB
    dedup shape): documents with doc_id%4=0 play the arriving shard,
    the rest the existing corpus; the band join meets new×corpus
    collisions only and exact Jaccard ≥ 0.5 verifies.  Fully
    oracle-checked via the portable md5 signatures (_o_incremental_
    dedup); the xxhash64 default of incremental_minhash_dedup stays the
    deployment path."""
    d = load_table(spark, sf_dir, "documents")
    return incremental_minhash_dedup(
        d.where(F.col("doc_id") % 4 == 0),
        d.where(F.col("doc_id") % 4 != 0),
        hash_fn="md5",
    )


def _o_simhash_sig_cte() -> str:
    """Shared DuckDB CTE chain rebuilding operators/dedup.simhash_hex:
    per-token md5 hex digits → 64 signed bit-counter sums → sign
    majority reassembled into the same 16-char hex signature.  Hex-digit
    values go through strpos on the digit alphabet, so no engine-specific
    integer parsing is involved."""
    hexs = "0123456789abcdef"

    def digit(expr: str, p: int) -> str:
        return f"(strpos('{hexs}', substr({expr}, {p}, 1)) - 1)"

    sums = ", ".join(
        f"SUM(CASE WHEN ({digit('hx', p)} >> {k}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS c_{p}_{k}"
        for p in range(1, 17)
        for k in range(4)
    )
    concat = " || ".join(
        f"substr('{hexs}', 1 + "
        + " + ".join(
            f"(CASE WHEN c_{p}_{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(4)
        )
        + ", 1)"
        for p in range(1, 17)
    )
    return rf"""
    WITH tk AS (
      SELECT doc_id, unnest(string_split_regex(lower(coalesce(text, '')), '\s+')) AS t
      FROM documents
    ),
    h AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM tk),
    c AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, {concat} AS simhash FROM c)
    """


def _o_simhash_neardup() -> str:
    hexs = "0123456789abcdef"

    def digit(expr: str, p: int) -> str:
        return f"(strpos('{hexs}', substr({expr}, {p}, 1)) - 1)"

    blocks = ", ".join(
        f"'{blk}:' || substr(simhash, {blk * 4 + 1}, 4)" for blk in range(4)
    )
    ham = " + ".join(
        f"bit_count(xor({digit('sa', p)}, {digit('sb', p)}))" for p in range(1, 17)
    )
    return (
        _o_simhash_sig_cte()
        + rf""",
    banded AS (SELECT doc_id, simhash, unnest([{blocks}]) AS blk FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sa, b.simhash AS sb
      FROM banded a JOIN banded b ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
    FROM cand WHERE {ham} <= 3
    """
    )


@query("q_simhash_neardup", oracle=_o_simhash_neardup(), tags=("U5",))
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3), fully oracle-checked via
    the portable md5-hex-vote signature: candidates come from pigeonhole
    blocks of the hex string and the Hamming verify is a per-digit XOR
    popcount — both reproduced exactly by the DuckDB twin."""
    return simhash_hex_neardup_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "q_simhash_signatures",
    oracle=_o_simhash_sig_cte() + "SELECT doc_id, simhash FROM sig",
    tags=("U5",),
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash as a 16-char hex string, checked
    digit-for-digit against a DuckDB twin that refolds the same md5
    hex-digit bit votes.  Computed via the aggregated signature table
    (explode + 64 native sums) — the interpreted array-fold form
    (operators/dedup.simhash_hex) is value-identical but ~50× slower."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_hex_table(d).select(
        F.col("_id").alias("doc_id"), F.col("_sim").alias("simhash")
    )


@query(
    "q_ngram_jaccard",
    oracle=r"""
    WITH base AS (
      SELECT doc_id AS _id,
             list_distinct(
               CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                                        i -> array_to_string(toks[i : i + 2], ' '))
               END) AS grams
      FROM (SELECT doc_id, string_split_regex(lower(coalesce(text, '')), '\s+') AS toks
            FROM documents)
    ),
    posting AS (SELECT _id, unnest(grams) AS g FROM base),
    rare AS (SELECT g FROM posting GROUP BY g HAVING count(*) <= 200),
    rp AS (SELECT p._id, p.g FROM posting p JOIN rare USING (g)),
    cand AS (
      SELECT DISTINCT a._id AS id_a, b._id AS id_b
      FROM rp a JOIN rp b ON a.g = b.g AND a._id < b._id
    ),
    scored AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
               / (len(ga.grams) + len(gb.grams)
                  - len(list_intersect(ga.grams, gb.grams))) AS jaccard
      FROM cand JOIN base ga ON ga._id = cand.id_a
                JOIN base gb ON gb._id = cand.id_b
    )
    SELECT * FROM scored WHERE jaccard >= 0.4
    """,
    tags=("U5",),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.4 via inverted-index join with a
    stop-gram document-frequency guard.  Fully oracle-checked: no
    hashing anywhere — the DuckDB twin rebuilds the same shingle sets
    (string_split_regex ≡ F.split, inclusive-end list slices ≡ F.slice
    lengths) and the Jaccard ratio is a single exact-int division in
    both engines."""
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "q_containment",
    oracle=r"""
    WITH base AS (
      SELECT doc_id AS _id,
             list_distinct(
               CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                                        i -> array_to_string(toks[i : i + 2], ' '))
               END) AS grams
      FROM (SELECT doc_id, string_split_regex(lower(coalesce(text, '')), '\s+') AS toks
            FROM documents)
    ),
    posting AS (SELECT _id, unnest(grams) AS g FROM base),
    rare AS (SELECT g FROM posting GROUP BY g HAVING count(*) <= 200),
    rp AS (SELECT p._id, p.g FROM posting p JOIN rare USING (g)),
    cand AS (
      SELECT DISTINCT a._id AS id_a, b._id AS id_b
      FROM rp a JOIN rp b ON a.g = b.g AND a._id < b._id
    ),
    scored AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
               / least(len(ga.grams), len(gb.grams)) AS containment
      FROM cand JOIN base ga ON ga._id = cand.id_a
                JOIN base gb ON gb._id = cand.id_b
    )
    SELECT * FROM scored WHERE containment >= 0.8
    """,
    tags=("U5",),
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs ≥ 0.8 (|A∩B| / min set size): the PARTIAL-dup
    detector Jaccard misses — a document embedded inside a larger one
    scores ≈ 1 here while its Jaccard drowns in the big doc's union.
    Same fully-oracle-checked inverted-index plan as q_ngram_jaccard;
    only the verification ratio differs."""
    return ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


def _o_embedding_neardup() -> str:
    from consume_kafka_avro_data_spark.operators.similarity import (
        o_blocked_allpairs,
    )

    return o_blocked_allpairs(0.35)


@query("q_embedding_neardup", oracle=_o_embedding_neardup, tags=("U5", "U6"))
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact baseline: all (a<b) pairs with
    cosine ≥ τ via blocked-GEMM applyInPandas (each block pair is one
    bounded numpy matmul task — the shape an exact pairwise sweep takes
    on a real cluster).  Scores use q20 fixed-point dots (exact
    integer-valued doubles, order-independent), so DuckDB's sequential
    list_dot_product reproduces every score bit-for-bit (see
    operators/similarity.Q20).  The LSH-blocked approximate path is
    operators/similarity.embedding_neardup_pairs; this exact variant is
    its recall oracle and the correctness contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    return blocked_allpairs_cosine(emb, threshold=0.35)


def _o_semantic_dedup() -> str | None:
    """DuckDB twin of operators.similarity.semantic_dedup: recompute
    the SAME deterministic centroids from the SAME ORDER BY vec_id
    LIMIT 4096 sample (the _o_ivf trick) — with ``n_centroids=None``
    re-deriving k from the SAME corpus count via the shared
    pure-integer auto_n_centroids — assign cells by first-argmax over
    quantized centroid literals, then prune every vector with a
    lower-id cell-mate at q20 cosine ≥ τ.  Factory, resolved lazily:
    reads $SPARK_GRAFT_TEST_SF_DIR (driver default sf0.01) and degrades
    to rows-only (None) when the parquet is unreadable or empty."""
    sf_dir = oracle_sf_dir()
    path = f"{sf_dir}/embeddings.parquet"
    try:
        import duckdb
        import numpy as np

        from consume_kafka_avro_data_spark.operators.similarity import (
            auto_n_centroids,
            lloyd_unit_kmeans,
        )

        con = duckdb.connect()
        rows = con.sql(
            f"SELECT embedding FROM read_parquet('{path}') "
            f"ORDER BY vec_id LIMIT {ORACLE_SAMPLE_LIMIT}"
        ).fetchall()
        (n_corpus,) = con.sql(
            f"SELECT count(*) FROM read_parquet('{path}')"
        ).fetchone()
        con.close()
    except Exception:
        return None
    if not rows:
        return None
    x = np.array([r[0] for r in rows], dtype=np.float64)
    n_centroids = auto_n_centroids(int(n_corpus), x.shape[1])
    cent = lloyd_unit_kmeans(x, k=n_centroids, seed=42)

    from consume_kafka_avro_data_spark.operators.similarity import (
        o_quantize,
        quantize_np,
    )

    scores = ", ".join(
        f"list_dot_product(qv, {vec_sql(qc)})" for qc in quantize_np(cent)
    )
    return f"""
    WITH a AS (
      SELECT vec_id, qv, list_indexof(s, list_max(s)) AS cell
      FROM (
        SELECT vec_id, qv, [{scores}] AS s
        FROM (SELECT vec_id, {o_quantize()} AS qv FROM embeddings)
      )
    ),
    w AS (
      SELECT x.vec_id AS vec_id, MIN(y.vec_id) AS dup_of
      FROM a x JOIN a y
        ON x.cell = y.cell AND y.vec_id < x.vec_id
      WHERE list_dot_product(x.qv, y.qv)
            / (sqrt(list_dot_product(x.qv, x.qv))
               * sqrt(list_dot_product(y.qv, y.qv))) >= 0.35
      GROUP BY x.vec_id
    )
    SELECT a.vec_id, a.cell,
           (w.dup_of IS NULL) AS kept, w.dup_of
    FROM a LEFT JOIN w USING (vec_id)
    """


@query("q_semantic_dedup", oracle=_o_semantic_dedup, tags=("U5", "U6"))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means cells
    → within-cell exact cosine → prune any vector with a lower-id
    cell-mate at cosine ≥ τ.  One row per vector (vec_id, cell, kept,
    dup_of).  Pair cost is Σ|cell|² instead of n² — with k ≈ √n cells
    auto-derived from the corpus count (auto_n_centroids), so the sweep
    stays subquadratic at ANY corpus size instead of reverting to n²
    under a fixed k — each cell swept with the bounded blocked-GEMM
    tasks, and the whole thing is oracle-checked: deterministic
    centroids AND the same k re-derived by the DuckDB twin, q20
    fixed-point cosines bit-identical across engines (see
    operators/similarity.semantic_dedup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.35)


def _o_dedup_pipeline() -> str:
    """DuckDB twin of the full dedup pipeline: exact-fingerprint
    collapse → portable-MinHash estimator pairs between CANONICAL
    survivors only → recursive-CTE clustering → per-document
    (canonical, cluster, survivor) assignment."""
    n = BANDS * ROWS
    mins = _o_minhash_mins(n)
    bexprs = _o_minhash_bands()
    matches = f"len(list_filter(range(1, {n} + 1), i -> sa[i] = sb[i]))"
    return rf"""
    WITH RECURSIVE
    fp AS (SELECT doc_id, md5(lower(coalesce(text, ''))) AS fp FROM documents),
    canon AS (SELECT fp, MIN(doc_id) AS canonical_id FROM fp GROUP BY fp),
    d2c AS (SELECT f.doc_id, c.canonical_id
            FROM fp f JOIN canon c ON f.fp = c.fp),
    base AS (
      SELECT doc_id AS _id,
             {_O_SHINGLE_SET} AS sh
      FROM (SELECT d.doc_id,
                   string_split_regex(lower(coalesce(d.text, '')), '\s+') AS toks
            FROM documents d JOIN canon c ON d.doc_id = c.canonical_id)
    ),
    sigs AS (SELECT _id, [{mins}] AS sig FROM base),
    banded AS (SELECT _id, sig, unnest([{bexprs}]) AS band FROM sigs),
    cand AS (
      SELECT DISTINCT a._id AS id_a, b._id AS id_b, a.sig AS sa, b.sig AS sb
      FROM banded a JOIN banded b ON a.band = b.band AND a._id < b._id
    ),
    pairs AS (SELECT id_a, id_b FROM cand WHERE {matches} >= {n // 2}),
    e AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach(node, comp) AS (
      SELECT a, a FROM e
      UNION
      SELECT e.a, r.comp FROM e JOIN reach r ON e.b = r.node
    ),
    cc AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT d.doc_id,
           d.canonical_id,
           coalesce(cc.comp, d.canonical_id) AS cluster_id,
           d.doc_id = coalesce(cc.comp, d.canonical_id) AS is_survivor
    FROM d2c d LEFT JOIN cc ON cc.node = d.canonical_id
    """


@query("q_dedup_pipeline", oracle=_o_dedup_pipeline, tags=("U4", "U5", "J5"))
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE corpus-dedup pipeline as one query, end to end:

    1. exact dedup — content fingerprint (md5 of normalized text),
       min-id canonical per fingerprint (collapses exact duplicates so
       no LSH bucket ever fills with identical docs — the hot-bucket
       precondition);
    2. near-dup — signature-only MinHash estimator pairs between the
       CANONICAL survivors (the 100 TB scoring path: documents are
       never re-read after the signature pass);
    3. transitive closure — connected components over the pair graph;
    4. assignment — every original document mapped to its canonical,
       its cluster (min canonical id; itself when unpaired), and a
       survivor flag (one per cluster).

    Fully oracle-checked: portable md5 signatures + recursive-CTE
    reachability reproduce every stage in DuckDB."""
    from consume_kafka_avro_data_spark.operators.dedup import (
        minhash_estimate_pairs,
    )
    from consume_kafka_avro_data_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # coalesce: md5(NULL) is NULL and the fp equi-join would silently
    # drop NULL-text documents — NULL ≡ '' is the corpus-wide convention
    fp = docs.select(
        "doc_id", F.md5(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias("fp")
    )
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    d2c = fp.join(canon, "fp").select("doc_id", "canonical_id")
    canon_docs = docs.join(
        canon.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"
    )
    pairs = minhash_estimate_pairs(canon_docs, hash_fn="md5").select(
        "id_a", "id_b"
    )
    comps = connected_components(pairs, "id_a", "id_b")
    out = d2c.join(comps, d2c.canonical_id == comps.node, "left").select(
        "doc_id",
        "canonical_id",
        F.coalesce(F.col("comp"), F.col("canonical_id")).alias("cluster_id"),
    )
    return out.withColumn(
        "is_survivor", F.col("doc_id") == F.col("cluster_id")
    )


def _o_neardup_lsh() -> str:
    """DuckDB twin of embedding_neardup_pairs: candidates = pairs
    sharing any table's q20 bucket (quantized plane literals, exact
    integer dots — order-independent), verified by the float left-fold
    cosine ≥ τ (list_dot_product ≡ the unrolled left-assoc dot)."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        _hyperplanes,
        o_quantize,
        o_srp_bucket,
        quantize_np,
    )

    tau = 0.4
    dim = 64
    nbits = 6
    ntables = 6
    seed = 42
    bucket_cols = [
        f"{o_srp_bucket(quantize_np(_hyperplanes(dim, nbits, t, seed)))} AS b{t}"
        for t in range(ntables)
    ]
    collide = " OR ".join(f"x.b{t} = y.b{t}" for t in range(ntables))
    cos = (
        "list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v)))"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, v, {", ".join(bucket_cols)}
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {o_quantize()} AS qv
            FROM embeddings)
    )
    SELECT x.vec_id AS id_a, y.vec_id AS id_b, {cos} AS cosine
    FROM b x JOIN b y ON x.vec_id < y.vec_id AND ({collide})
    WHERE {cos} >= {tau!r}
    """


@query("q_neardup_lsh", oracle=_o_neardup_lsh, tags=("U5", "U6", "J8"))
def q_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-blocked near-dup operator as a first-class query: SRP
    bucket collisions only (one Arrow q20 bucket pass + bucket-and-
    expand — never an all-pairs join), verified by exact cosine ≥ τ.
    This is the 100 TB shape whose exact-recall contract is
    q_embedding_neardup; fully oracle-checked because the q20 buckets
    are engine-independent (see _o_neardup_lsh)."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, cosine_threshold=0.4, nbits=6, ntables=6
    )


def _o_dedup_clusters() -> str:
    from consume_kafka_avro_data_spark.operators.similarity import o_quantize

    return f"""
    WITH RECURSIVE
      q AS (SELECT vec_id, {o_quantize()} AS qv FROM embeddings),
      p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM q a JOIN q b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.qv, b.qv)
              / (sqrt(list_dot_product(a.qv, a.qv))
                 * sqrt(list_dot_product(b.qv, b.qv))) >= 0.35
      ),
      e AS (SELECT id_a AS a, id_b AS b FROM p
            UNION SELECT id_b, id_a FROM p),
      reach(node, comp) AS (
        SELECT a, a FROM e
        UNION
        SELECT e.a, r.comp FROM e JOIN reach r ON e.b = r.node
      )
    SELECT node AS vec_id, MIN(comp) AS cluster_id
    FROM reach GROUP BY node
    """


@query("q_dedup_clusters", oracle=_o_dedup_clusters, tags=("U5", "J5"))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: the transitive closure over
    embedding near-dup pairs (cosine ≥ 0.35, blocked-GEMM exact sweep —
    see q_embedding_neardup) via hash-min + pointer-jumping connected
    components — the keep-one-per-group half of dedup that pairwise
    queries alone can't answer.  Oracle: DuckDB recursive-CTE
    reachability over the identical q20-scored pair set with the same
    min-id labeling."""
    from consume_kafka_avro_data_spark.operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = blocked_allpairs_cosine(emb, threshold=0.35).select("id_a", "id_b")
    comps = connected_components(pairs, "id_a", "id_b")
    return comps.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("cluster_id")
    )


@query(
    "q_winnow_fingerprints",
    oracle="""
    SELECT doc_id,
           CAST(len(list_distinct(
             list_transform(range(1, greatest(len(hashes) - 4 + 1, 1) + 1),
                            i -> list_min(hashes[i : i + 3]))
           )) AS BIGINT) AS n_fingerprints
    FROM (
      SELECT doc_id,
             list_transform(range(1, greatest(len(text) - 8 + 1, 1) + 1),
                            i -> substr(md5(substr(text, i, 8)), 1, 16)) AS hashes
      FROM documents
    )
    """,
    tags=("U5", "U7"),
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint counts per document (k=8 char-grams, w=4),
    oracle-checked via the portable md5 hex-prefix hash: both engines
    build the same rolling hashes, take the same per-window
    lexicographic minima, and dedup — so the counts match exactly.
    Computed via the exploded-position form (codegen'd rolling hash +
    native running-min window; see operators/text.py
    winnow_fingerprint_counts) — the HOF Column variants are
    value-identical but interpreted, hence ~50× slower."""
    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprint_counts(d, hash_fn="md5").select(
        "doc_id", F.col("n_fingerprints").cast("long").alias("n_fingerprints")
    )


# ---------------------------------------------------------------------------
# text analysis (oracle-checked: pure string/list math)
# ---------------------------------------------------------------------------


def _o_lang_id() -> str:
    # THE census tokenization (operators/dedup.tokens_col): regex \s+
    # split with NULL→'' — a single-space split would disagree with the
    # Spark side on tabs/newlines/NULL text (the exact divergence the
    # q_sentiment oracle documents)
    toks = "string_split_regex(lower(coalesce(text, '')), '\\s+')"
    score_cols = ",\n           ".join(
        f"len(list_intersect({toks}, {list(words)}))::DOUBLE / len({toks}) AS s_{lang}"
        for lang, words in STOPWORDS.items()
    )
    langs = list(STOPWORDS)
    smax = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    first_wins = "\n           ".join(
        f"WHEN s_{lang} = {smax} THEN '{lang}'" for lang in langs
    )
    return f"""
    SELECT doc_id, lang AS lang_label,
           CASE WHEN {smax} <= 0 THEN 'und'
           {first_wins}
           END AS lang_pred
    FROM (SELECT doc_id, lang, {score_cols} FROM documents)
    """


@query("q_lang_id", oracle=_o_lang_id(), tags=("U7",))
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID with deterministic first-wins argmax
    (the DuckDB twin replicates the tie-breaking exactly)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        lang_id(tokens("text")).alias("lang_pred"),
    )


_O_QUALITY = r"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           len(list_distinct(toks))::DOUBLE / len(toks) AS ttr,
           (length(text) - (length(text) - length(replace(text, ' ', ''))))::DOUBLE
             / len(toks) AS mean_token_len,
           CASE WHEN length(text) > 0 THEN
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
               / length(text)
           ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio,
           list_max(list_transform(list_distinct(toks),
                    u -> len(list_filter(toks, x -> x = u))))::DOUBLE
             / len(toks) AS max_token_share
    FROM (SELECT doc_id, coalesce(text, '') AS text,
                 string_split_regex(lower(coalesce(text, '')), '\s+') AS toks
          FROM documents)
"""


@query("q_quality_features", oracle=_O_QUALITY, tags=("U7",))
def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality-filter features (token stats, TTR, alpha
    ratio, repetition share) — map-only, fully oracle-checked."""
    from consume_kafka_avro_data_spark.operators.text import quality_features

    d = load_table(spark, sf_dir, "documents")
    return quality_features(d).select(
        "doc_id", "n_tokens", "ttr", "mean_token_len", "alpha_ratio", "max_token_share"
    )


@query(
    "q_bpe_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
               AS n_bpe_tokens,
           array_to_string(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')[1:5], ' ')
               AS head_tokens
    FROM documents
    """,
    tags=("U7",),
)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization (letter runs | digit runs | symbols):
    count + first tokens, identical regex in both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = bpe_ish_tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("head_tokens"),
    )


@query(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(
               CAST(0.25 AS DOUBLE) * least(n_tokens / CAST(20.0 AS DOUBLE),
                                            CAST(1.0 AS DOUBLE))
             + CAST(0.25 AS DOUBLE) * least(ttr * 2, CAST(1.0 AS DOUBLE))
             + CAST(0.25 AS DOUBLE) * alpha_ratio
             + CAST(0.25 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - max_token_share),
             6) AS quality
    FROM ({_O_QUALITY})
    """,
    tags=("U7",),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1]: the same left-to-right weighted
    sum over the oracle-checked features, replicated term-by-term in the
    DuckDB twin (identical association order ⇒ identical doubles)."""
    d = load_table(spark, sf_dir, "documents")
    return quality_score(d).select("doc_id", "quality")


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def _embeddings_as_assets(emb: DataFrame) -> DataFrame:
    """Synthesize REAL media bytes from the embeddings table — the
    deterministic asset corpus for the U8 oracle checks:

    * even vec_id → mono 16-bit PCM WAV @8 kHz, sample_i =
      trunc(clip(x_i, ±1)·16383) (trunc-toward-zero matches DuckDB
      ``trunc`` and numpy ``astype``);
    * odd vec_id → 8×8 grayscale P6 PPM, byte_i =
      trunc((clip(x_i, ±1)+1)·127.5).

    Every decoded feature is therefore a closed-form function of the
    embedding column, which is what lets DuckDB verify the *decoders*
    (a header/endianness/parsing bug changes the features)."""
    import numpy as np

    @F.pandas_udf("binary")
    def synth(vec_ids: pd.Series, embs: pd.Series) -> pd.Series:
        out = []
        for vid, v in zip(vec_ids, embs):
            x = np.clip(np.asarray(v, dtype=np.float64), -1.0, 1.0)
            if vid % 2 == 0:
                s = np.trunc(x * 16383.0).astype(np.int16)
                out.append(encode_wav(s, sample_rate=8000))
            else:
                b = np.trunc((x + 1.0) * 127.5).astype(np.uint8)
                px = np.repeat(b.reshape(8, 8, 1), 3, axis=2)
                out.append(encode_ppm(px))
        return pd.Series(out, dtype=object)

    return emb.select(
        F.col("vec_id").alias("asset_id"),
        F.when(F.col("vec_id") % 2 == 0, F.lit("audio"))
        .otherwise(F.lit("image"))
        .alias("modality"),
        synth(F.col("vec_id"), F.col("embedding")).alias("media"),
        F.struct(
            F.when(F.col("vec_id") % 2 == 0, F.lit("audio/wav"))
            .otherwise(F.lit("image/x-portable-pixmap"))
            .alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


# WAV payload = 44-byte RIFF header + 2 bytes/sample; PPM = "P6\n8 8\n255\n"
# (11 bytes) + 3 bytes/pixel.  dim is the FEATURE_DIM constant (16).
_O_MULTIMODAL = """
    WITH px AS (
      SELECT vec_id,
             len(embedding) AS n,
             CAST(trunc((greatest(least(CAST(u.x AS DOUBLE), 1.0), -1.0) + 1.0)
                        * 127.5) AS BIGINT) AS b
      FROM embeddings, unnest(embedding) AS u(x)
    ),
    wav AS (
      SELECT vec_id, 'audio' AS modality,
             CAST(44 + 2 * n AS BIGINT) AS n_bytes, 16 AS dim,
             CAST(CAST(trunc(greatest(least(CAST(embedding[1] AS DOUBLE),
                                            1.0), -1.0) * 16383.0)
                       / 32768.0 AS FLOAT) AS DOUBLE) AS f0
      FROM (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings)
      WHERE vec_id % 2 = 0
    ),
    ppm AS (
      SELECT vec_id, 'image' AS modality,
             CAST(11 + 3 * max(n) AS BIGINT) AS n_bytes, 16 AS dim,
             CAST(CAST(CAST(count(*) FILTER (WHERE b < 16) AS DOUBLE)
                       / max(n) AS FLOAT) AS DOUBLE) AS f0
      FROM px WHERE vec_id % 2 = 1 GROUP BY vec_id
    )
    SELECT vec_id AS asset_id, modality, n_bytes, dim, f0 FROM wav
    UNION ALL
    SELECT vec_id AS asset_id, modality, n_bytes, dim, f0 FROM ppm
"""


@query("q_multimodal_features", oracle=_O_MULTIMODAL, tags=("U8",))
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality real decode: WAV and PPM assets (synthesized
    deterministically from embeddings) through the format-dispatched
    REAL codec (operators/multimodal._real_decode) via mapInPandas.
    Oracle-checked end to end — f0 is the first decoded sample (audio)
    or the first grayscale histogram bin (image), both closed-form in
    the embedding column, so a decoder bug breaks the hash match."""
    media = _embeddings_as_assets(load_table(spark, sf_dir, "embeddings"))
    feats = decode_features(media, codec="real")
    return feats.select(
        "asset_id",
        "modality",
        "n_bytes",
        F.size("features").alias("dim"),
        F.element_at("features", 1).cast("double").alias("f0"),
    )


@query(
    "q_wav_features",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             CAST(trunc(greatest(least(CAST(u.x AS DOUBLE), 1.0), -1.0)
                        * 16383.0) AS BIGINT) AS smp
      FROM embeddings, unnest(embedding) AS u(x)
      WHERE vec_id % 2 = 0
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT)                    AS n_samples,
           8000                                        AS sample_rate,
           CAST(count(*) * 1000 // 8000 AS BIGINT)     AS duration_ms,
           CAST(max(abs(smp)) AS INT)                  AS peak,
           CAST(sum(smp * smp) AS BIGINT)              AS sum_sq,
           sqrt(CAST(sum(smp * smp) AS DOUBLE) / count(*)) AS rms
    FROM s GROUP BY vec_id
    """,
    tags=("U8",),
)
def q_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV decode (struct-parsed RIFF/PCM) over synthesized audio
    assets: every output column is computed from the DECODED int16
    samples, and the DuckDB twin recomputes them closed-form from the
    embeddings — full byte→samples→features verification (U8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    media = _embeddings_as_assets(emb).where(F.col("modality") == "audio")
    return wav_feature_table(media).select(
        F.col("asset_id").alias("vec_id"),
        "n_samples",
        "sample_rate",
        "duration_ms",
        "peak",
        "sum_sq",
        "rms",
    )


@query(
    "q_ppm_features",
    oracle="""
    WITH p AS (
      SELECT vec_id,
             CAST(trunc((greatest(least(CAST(u.x AS DOUBLE), 1.0), -1.0) + 1.0)
                        * 127.5) AS BIGINT) AS b
      FROM embeddings, unnest(embedding) AS u(x)
      WHERE vec_id % 2 = 1
    )
    SELECT vec_id,
           8 AS width,
           8 AS height,
           CAST(count(*) AS BIGINT)     AS n_pixels,
           CAST(3 * sum(b) AS BIGINT)   AS sum_byte,
           CAST(max(b) AS INT)          AS max_byte
    FROM p GROUP BY vec_id
    """,
    tags=("U8",),
)
def q_ppm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PPM decode (P6 header + pixel array) over synthesized 8×8
    grayscale images: geometry and exact integer pixel sums from the
    DECODED array, verified closed-form by DuckDB (U8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    media = _embeddings_as_assets(emb).where(F.col("modality") == "image")
    return ppm_feature_table(media).select(
        F.col("asset_id").alias("vec_id"),
        "width",
        "height",
        "n_pixels",
        "sum_byte",
        "max_byte",
    )


@query(
    "q_frame_sample",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(4 AS BIGINT) AS n_frames,
           CAST(CASE WHEN nb >= 4 THEN 4 * (nb // 4) ELSE nb END AS BIGINT)
               AS total_frame_bytes
    FROM (SELECT doc_id, octet_length(encode(text)) AS nb
          FROM documents WHERE text IS NOT NULL)
    """,
    tags=("U8",),
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (1 asset → 4 byte-slices) inside Arrow
    batches; returns per-asset frame counts and sizes.  Oracle-checked:
    evenly-spaced slicing with step=max(len//4,1) yields exactly 4
    frames totalling 4*(len//4) bytes (or len when len<4), which DuckDB
    reproduces from octet_length alone — verifying the fan-out count and
    byte accounting of the mapInPandas plumbing."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, n_frames=4)
    return frames.groupBy("asset_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.length("frame")).alias("total_frame_bytes"),
    )


@query(
    "q_label_centroids",
    oracle="""
    WITH per AS (
      SELECT label,
             CAST(count(*) AS BIGINT) AS n,
             list_reduce(
               list(list_transform(embedding, x -> CAST(x AS DOUBLE))
                    ORDER BY vec_id),
               (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])
             ) AS sum_vec
      FROM embeddings GROUP BY label
    )
    SELECT label, n,
           CAST(u.i AS INT)                       AS pos,
           sum_vec[u.i] / CAST(n AS DOUBLE)       AS component
    FROM per, unnest(range(1, len(sum_vec) + 1)) AS u(i)
    """,
    tags=("U6", "A7"),
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the IVF/k-means centroid-refresh step,
    U6) with an exact cross-engine result: vectors are folded in vec_id
    order (sort_array over collect_list, then a zip_with-add left fold),
    so the double accumulation order is pinned and both engines produce
    bit-identical centroids — the oracle-checkable twin of the sampled
    k-means in operators/similarity.py.  Emitted exploded (label, pos,
    component) so every component is a typed scalar cell.  Scale note:
    collect_list per label is the same state a mean-vector UDAF carries;
    for very hot labels the two-level form (salt → partial sum_vec →
    zip_with-merge) bounds state — here the fold form is chosen because
    it is the only one whose accumulation order is *provably* identical
    across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    lst = F.sort_array(
        F.collect_list(F.struct(F.col("vec_id").alias("k"), as_double.alias("v")))
    )
    per = emb.groupBy("label").agg(
        F.count("*").alias("n"), lst.alias("lst")
    )
    dim = F.size(F.element_at(F.col("lst"), 1)["v"])
    zero = F.array_repeat(F.lit(0.0), dim)
    sum_vec = F.aggregate(
        F.transform(F.col("lst"), lambda s: s["v"]),
        zero,
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    n_d = F.col("n").cast("double")
    return (
        per.select(
            "label",
            "n",
            F.posexplode(F.transform(sum_vec, lambda x: x / n_d)).alias(
                "pos0", "component"
            ),
        )
        .select(
            "label", "n", (F.col("pos0") + 1).cast("int").alias("pos"), "component"
        )
    )


@query(
    "q_sq_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             unnest(CAST(embedding AS DOUBLE[]))        AS val,
             CAST(unnest(range(len(embedding))) AS INT) AS pos
      FROM embeddings
    ), s AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM v GROUP BY pos
    )
    SELECT vec_id, pos, code,
           abs(val - (mn + (CAST(code AS DOUBLE) + 0.5) * (mx - mn) / 256))
             AS err
    FROM (
      SELECT vec_id, v.pos, val, mn, mx,
             CAST(CASE WHEN mx = mn THEN 0
                  ELSE least(255, floor((val - mn) / (mx - mn) * 256))
             END AS INT) AS code
      FROM v JOIN s ON v.pos = s.pos
    ) WHERE vec_id < 20
    """,
    tags=("U6", "U8"),
)
def q_sq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization of embeddings — the compression pass a
    100 TB vector corpus runs before ANN so candidates fit in memory:
    per-dimension min/max over the corpus, each value encoded to a
    256-level code, plus the reconstruction error of the dequantized
    midpoint.  The per-dim stats table is |dims| rows and broadcast-joins
    back onto the exploded values (the corpus never shuffles); floor —
    not round — keeps the code free of decimal-tie sensitivity, so both
    engines bucket identically.  Output limited to 20 vectors for the
    oracle; the codes themselves are corpus-wide.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    s = v.groupBy("pos").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    coded = (
        v.where(F.col("vec_id") < 20)
        # s is one row per vector dimension (≤64) — bounded at any SF
        .join(F.broadcast(s), "pos")
        .withColumn(
            "code",
            # a constant dimension (mx == mn) quantizes to code 0 — the
            # unguarded division would abort the job under ANSI mode
            F.when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(255),
                    F.floor(
                        (F.col("val") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * 256
                    ),
                )
            )
            .cast("int"),
        )
    )
    recon = F.col("mn") + (F.col("code").cast("double") + 0.5) * (
        F.col("mx") - F.col("mn")
    ) / 256
    return coded.select(
        "vec_id", "pos", "code", F.abs(F.col("val") - recon).alias("err")
    )


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K = 8, 16


_PQ_NP_CACHE: dict[str, object] = {}


def _pq_codebooks_np():
    """Shared oracle-side codebook derivation: same deterministic sample
    (ORDER BY vec_id LIMIT 4096, ≥ corpus at the driver's sf), same
    :func:`lloyd_l2_kmeans` per subspace — bit-identical to what the
    Spark query trains via pq_codebooks.

    Returns ``(codebooks, query_vec_or_None)``; query_vec is None when
    no vec_id=0 row exists (only the ADC oracle needs it).  Returns
    ``None`` — degrade to rows-only, logged by the registry — when the
    parquet is unreadable, empty, or not divisible into subspaces; every
    failure mode stays inside this contract so a broken oracle can never
    take down the whole parity run.  Cached per sf_dir: the two PQ
    oracle factories plus the CTE builder would otherwise rerun the
    2-scan + 8-Lloyd's derivation three times per process."""
    import numpy as np

    from consume_kafka_avro_data_spark.operators.similarity import lloyd_l2_kmeans

    sf_dir = oracle_sf_dir()
    if sf_dir in _PQ_NP_CACHE:
        return _PQ_NP_CACHE[sf_dir]
    result = None
    try:
        import duckdb

        con = duckdb.connect()
        rows = con.sql(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
            f"ORDER BY vec_id LIMIT {ORACLE_SAMPLE_LIMIT}"
        ).fetchall()
        qrow = con.sql(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
            "WHERE vec_id = 0"
        ).fetchall()
        con.close()
        x = np.array([r[0] for r in rows], dtype=np.float64)
        if x.ndim == 2 and len(x) >= _PQ_K and x.shape[1] % _PQ_M == 0:
            sub = x.shape[1] // _PQ_M
            cb = np.stack(
                [
                    lloyd_l2_kmeans(
                        x[:, i * sub : (i + 1) * sub], k=_PQ_K, seed=42 + i
                    )
                    for i in range(_PQ_M)
                ]
            )
            qv = np.asarray(qrow[0][0], dtype=np.float64) if qrow else None
            result = (cb, qv)
    except Exception:
        result = None
    _PQ_NP_CACHE[sf_dir] = result
    return result


def _o_pq_codes_cte() -> str | None:
    """WITH-clause prefix computing (vec_id, pq_sub, pq_code) in DuckDB
    from quantized codebook literals — distances and argmin on the same
    q20 grid as pq_encode's numpy matmul, so codes agree bit-for-bit."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        o_quantize,
        quantize_np,
    )

    got = _pq_codebooks_np()
    if got is None:
        return None
    cb, _qv = got
    m, _k, sub = cb.shape

    def dist_exprs(i: int) -> str:
        qc = quantize_np(cb[i])
        parts = []
        for c in qc:
            lit = "[" + ", ".join(repr(float(v)) for v in c) + "]::DOUBLE[]"
            cc = repr(float((c * c).sum()))
            parts.append(
                f"list_dot_product(sv, sv) - 2*list_dot_product(sv, {lit}) + {cc}"
            )
        return ", ".join(parts)

    branches = "\n      UNION ALL\n".join(
        f"""
      SELECT vec_id, {i + 1} AS pq_sub,
             CAST(list_indexof(d, list_min(d)) AS INT) AS pq_code
      FROM (
        SELECT vec_id, [{dist_exprs(i)}] AS d
        FROM (SELECT vec_id, qv[{i * sub + 1}:{(i + 1) * sub}] AS sv FROM qvt)
      )"""
        for i in range(m)
    )
    return f"""
    WITH qvt AS (SELECT vec_id, {o_quantize()} AS qv FROM embeddings),
    codes AS ({branches}
    )
    """


def _o_pq_codes() -> str | None:
    cte = _o_pq_codes_cte()
    if cte is None:
        return None
    return cte + "SELECT vec_id, CAST(pq_sub AS INT) AS pq_sub, pq_code FROM codes"


def _o_pq_adc() -> str | None:
    from consume_kafka_avro_data_spark.operators.similarity import pq_adc_lut

    cte = _o_pq_codes_cte()
    got = _pq_codebooks_np()  # cached — no repeat derivation
    if cte is None or got is None or got[1] is None:
        return None  # no vec_id=0 query row ⇒ rows-only for ADC only
    cb, qv = got
    vals = ", ".join(
        f"({s}, {c}, {p!r})" for s, c, p in pq_adc_lut(qv, cb)
    )
    return (
        cte.rstrip()
        + f""",
    lut(pq_sub, pq_code, partial) AS (VALUES {vals})
    SELECT c.vec_id, CAST(SUM(l.partial) AS DOUBLE) AS adc_dist
    FROM codes c JOIN lut l USING (pq_sub, pq_code)
    GROUP BY c.vec_id
    ORDER BY adc_dist ASC, vec_id ASC
    LIMIT 10
    """
    )


@query("q_pq_codes", oracle=_o_pq_codes, tags=("U6",))
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (U6): dim-64 float vectors → 8
    one-byte-class codes, the compression half of the IVF-PQ layout a
    billion-vector ANN index uses (the codes table replaces the float
    corpus in memory, a ~32× shrink here).  Codebooks are deterministic
    per-subspace Lloyd's on a driver-sized sample; encoding is ONE
    map-only Arrow pass of batched matmuls on the q20 grid, so the
    DuckDB twin reproduces every code from centroid literals
    (argmin-first ≡ list_indexof(list_min)).  Emitted exploded
    (vec_id, pq_sub, pq_code) so each code is a typed scalar cell."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, m=_PQ_M, k=_PQ_K)
    codes = pq_encode(emb, cb)
    return codes.select(
        "vec_id", F.posexplode("pq_codes").alias("_pos", "pq_code")
    ).select("vec_id", (F.col("_pos") + 1).cast("int").alias("pq_sub"), "pq_code")


@query("q_pq_adc", oracle=_o_pq_adc, tags=("U6", "J8"))
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric-distance) top-10 over PQ codes for the vec_id=0
    query (U6/J8): the per-query m×k lookup table of exact q20 subspace
    distances broadcast-joins the exploded codes, partial-aggregated
    sums score every vector WITHOUT re-reading any float vector, and
    TakeOrdered takes the cut — the scoring path of an IVF-PQ index,
    where at 100 TB the codes table is the only thing resident.  Fully
    oracle-checked: codes, LUT literals, and the integer-valued partial
    sums are all engine-portable."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_sample,
        sample_with_query_row,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE collect for both the codebook training sample and the query
    # row (r12, guide §2.2): the sample slice equals pq_codebooks' own,
    # so the oracle's re-derived codebook literals are unchanged.
    # Degrades to the empty frame with the oracle (_o_pq_adc) when no
    # vec_id=0 row exists, rather than IndexError the parity run.
    x, qv = sample_with_query_row(emb)
    if qv is None:
        return spark.createDataFrame([], "vec_id long, adc_dist double")
    cb = pq_codebooks_from_sample(x, m=_PQ_M, k=_PQ_K)
    return pq_adc_topk(emb, qv, cb, k=10)


def _o_adc_rerank() -> str | None:
    """DuckDB twin of q_adc_rerank: the shared PQ-codes CTE + ADC LUT
    produce the same deterministic shortlist cut (adc asc, id asc), and
    the re-rank is the exact float cosine with the same (score desc,
    id asc) cut — every stage engine-portable."""
    from consume_kafka_avro_data_spark.operators.similarity import pq_adc_lut

    shortlist = 50
    k = 10
    cte = _o_pq_codes_cte()
    got = _pq_codebooks_np()
    if cte is None or got is None or got[1] is None:
        return None
    cb, qv = got
    vals = ", ".join(
        f"({s}, {c}, {p!r})" for s, c, p in pq_adc_lut(qv, cb)
    )
    return (
        cte.rstrip()
        + f""",
    lut(pq_sub, pq_code, partial) AS (VALUES {vals}),
    short AS (
      SELECT c.vec_id FROM codes c JOIN lut l USING (pq_sub, pq_code)
      GROUP BY c.vec_id
      ORDER BY SUM(l.partial) ASC, vec_id ASC
      LIMIT {shortlist}
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           list_dot_product(e.v, qv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(qv, qv))) AS score
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings) e
    JOIN short USING (vec_id), q
    ORDER BY score DESC, e.vec_id ASC
    LIMIT {k}
    """
    )


@query("q_adc_rerank", oracle=_o_adc_rerank, tags=("U6", "J8"))
def q_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ SERVING shape as a driver-checkable query: ADC scores
    every vector from codes alone (no float reads), the top-``50``
    shortlist comes back to the driver (bounded by the constant, never
    the data), and ONLY those vectors are re-ranked with true cosines —
    recall recovers from the PQ-loss cap while float-column IO stays
    shortlist-sized.  Fully oracle-checked end-to-end: codes, LUT
    partial sums, both deterministic cuts."""
    from consume_kafka_avro_data_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_sample,
        sample_with_query_row,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one fused sample+query collect (r12) — see q_pq_adc
    x, qv = sample_with_query_row(emb)
    if qv is None:  # degrade with the oracle (rows-only), as q_pq_adc does
        return spark.createDataFrame([], "vec_id long, score double")
    cb = pq_codebooks_from_sample(x, m=_PQ_M, k=_PQ_K)
    short = pq_adc_topk(emb, qv, cb, k=50)
    # bounded collect: exactly `shortlist` ids by construction; pushed
    # into the rescore scan as an IN filter (row-group pruning)
    ids = [r["vec_id"] for r in short.collect()]
    cand = emb.where(F.col("vec_id").isin(ids))
    return brute_force_topk(cand, qv, k=10)
