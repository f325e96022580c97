"""Deduplication family (charter U4/U5): exact, MinHash-LSH, SimHash,
n-gram Jaccard — all JVM-side expressions, no Python in any hot path.

Scale design (learned the hard way — see the *_table functions):

* Signatures are computed as **explode + native min()/sum() aggregates**,
  not array higher-order functions.  Lambda HOFs (transform/aggregate/
  zip_with) are *interpreted* expressions in Spark — no whole-stage
  codegen — which made the seed×shingle hash loop cost ~20 µs/hash and
  dominated every dedup query by 50-100×.  The aggregate form computes
  identical values at native speed, and map-side partial aggregation
  collapses each doc before the shuffle, so the one exchange carries
  signature-sized rows, never token/shingle-sized data.
* Candidate generation is **bucket-and-expand**, not a bucket self-join:
  group each band/block bucket into a sorted member array and expand
  intra-bucket pairs map-side.  A self-join's two inputs are the same
  expensive signature subtree, and AQE materializes both sides as
  concurrent stages — the signature pass would run (and shuffle) twice.
  Quadratic only in bucket size, which the banding scheme bounds.
* The Column-returning HOF variants (band_hashes[_md5], simhash_hex)
  are kept as the compositional API — value-identical, unit-tested
  against the table forms — but they are NOT the hot path.

Exact dedup is ``dropDuplicates`` / fingerprint group-by (see
queries/text.py q_doc_fingerprint); this module covers the near-dup
methods.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# shingling / signatures (map-only, codegen-able)
# ---------------------------------------------------------------------------


#: Hot-bucket guard: buckets with more members than this are DROPPED from
#: candidate generation (see _bucket_candidate_pairs).  2^10 members →
#: ≤ ~524k pair structs in one array value, the most one task should hold
#: when pairs carry shingle-set payloads.
MAX_BUCKET_SIZE = 1024

#: The banding scheme of every MinHash operator and of the streaming
#: signature store: 8 bands of 4 rows (32 signature components), the
#: ~0.5 similarity knee, P(candidate) = 1 - (1 - s^4)^8.
BANDS, ROWS = 8, 4
#: Shingle width in words: every MinHash signature is over word 3-shingles.
SHINGLE_K = 3
#: A near-dup pair: exact Jaccard ≥ ``JACCARD_THRESHOLD`` on the verified
#: paths, ≥ ``MIN_MATCHES`` of the 32 signature components agreeing (an
#: estimated Jaccard ≥ 0.5) on the signature-only paths.
JACCARD_THRESHOLD = 0.5
MIN_MATCHES = BANDS * ROWS // 2


_SPLIT_PROBE_CACHE: dict[tuple[int, int], int] = {}


def ensure_min_splits(df: DataFrame) -> DataFrame:
    """Round-robin repartition IFF the input has fewer partitions than
    the cluster has scheduling slots.

    The signature passes below are the expensive map stage of corpus
    dedup; their parallelism is capped by the input split count.  At
    100 TB splits ≫ cores and this is a no-op (no shuffle is added).
    Locally — or whenever a small dimension-sized corpus arrives as one
    parquet file that Spark cannot row-group-split — a single task would
    otherwise hash the whole corpus serially (observed: 94 s single-task
    signature pass at sf0.1 vs ~4 s repartitioned).  Shuffling raw text
    before the fan-out costs one pass over data that is tiny exactly in
    the case where the repartition triggers.

    The partition probe (``df.rdd.getNumPartitions()`` — a plan→RDD
    conversion) is memoized per (session, analyzed-plan semantic hash),
    so repeated operator invocations over the same input pay it once.
    Set ``spark.graft.ensureMinSplits=false`` to disable the rewrite
    entirely (plans then stop depending on driver defaultParallelism —
    the right setting on a real cluster where inputs are never
    single-split)."""
    spark = df.sparkSession
    if spark.conf.get("spark.graft.ensureMinSplits", "true") == "false":
        return df
    try:
        # everything JVM-backed stays inside the try: on Spark Connect
        # both sparkContext and df.rdd raise NotImplementedError, and
        # the correct behavior there is to skip the local repartition
        # heuristic entirely (a Connect deployment is a real cluster,
        # where inputs are never single-split)
        target = spark.sparkContext.defaultParallelism
        key = (id(spark), df._jdf.queryExecution().analyzed().semanticHash())
        n = _SPLIT_PROBE_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            # bounded: clear wholesale at 256 entries (a per-process
            # probe cache, not a source of truth — a stale entry only
            # re-decides the local repartition heuristic, and clearing
            # also drops entries whose session died)
            if len(_SPLIT_PROBE_CACHE) >= 256:
                _SPLIT_PROBE_CACHE.clear()
            _SPLIT_PROBE_CACHE[key] = n
    except Exception:  # Connect / non-JVM backends: no-op
        return df
    if n < target:
        return df.repartition(target)
    return df


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokens of lowercased text.

    NULL text is canonicalized to '' here — BOTH the HOF Column form
    (simhash_hex) and the explode+aggregate table forms consume this,
    so NULL and '' documents get the identical
    single-empty-token signature (md5('') prefix d41d8cd98f00b204 for the
    portable family).  Oracles mirror it with lower(coalesce(text, ''));
    ``string_split_regex('', '\\s+')`` is ``['']`` in DuckDB exactly as
    ``F.split('', '\\s+')`` is in Spark."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.coalesce(c, F.lit(""))), r"\s+")


def shingles(tokens: Column, k: int = 3) -> Column:
    """k-token shingles as strings: transform over a sequence of start
    offsets — JVM higher-order functions, no explode needed."""
    n = F.size(tokens)
    return F.when(n < k, F.array(F.array_join(tokens, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(tokens, i, k), " "),
        )
    )


def band_hashes(signature: Column, bands: int, rows: int) -> Column:
    """LSH banding: hash each band (contiguous ``rows``-slice) of the
    signature; docs sharing any band hash become candidates."""
    return F.array(
        *[
            F.xxhash64(F.lit(b), F.array_join(F.slice(signature, b * rows + 1, rows), ","))
            for b in range(bands)
        ]
    )


def band_hashes_md5(signature: Column, bands: int, rows: int) -> Column:
    """Portable LSH banding over a string signature (md5 of the joined
    ``rows``-slice, seed-prefixed per band)."""
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"{b}:"),
                    F.array_join(F.slice(signature, b * rows + 1, rows), ","),
                )
            )
            for b in range(bands)
        ]
    )


_HEX = "0123456789abcdef"


def _hex_digit(col: Column, p: int) -> Column:
    """Value of 1-based hex char ``p`` of a lowercase hex string."""
    return F.conv(F.substring(col, p, 1), 16, 10).cast("int")


def simhash_hex(tokens: Column) -> Column:
    """Portable 64-bit SimHash as a 16-char lowercase hex string.

    A fold into 64 signed bit-counters with a sign majority, where
    every bit vote comes from an md5 hex digit and the signature is
    emitted as hex — so any engine with md5 + substring can reproduce
    it digit-for-digit (DuckDB twin in
    queries/similarity.py).  Bit layout: hex char p (1-based, MSB first)
    carries counters (p-1)*4+k for k in 0..3, where k is the bit index
    inside the digit.
    """

    def votes(t: Column) -> Column:
        h = F.substring(F.md5(t), 1, 16)
        vs = []
        for p in range(1, 17):
            d = _hex_digit(h, p)
            for k in range(4):
                vs.append(
                    F.when(
                        F.shiftright(d, k).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                )
        return F.array(*vs)

    counters = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(acc, votes(t), lambda a, x: a + x),
    )
    chars = F.array(*[F.lit(c) for c in _HEX])
    digits = []
    for p in range(1, 17):
        val = F.lit(0)
        for k in range(4):
            val = val + F.when(
                F.element_at(counters, (p - 1) * 4 + k + 1) > 0, F.lit(1 << k)
            ).otherwise(F.lit(0))
        digits.append(F.element_at(chars, val + 1))
    return F.concat(*digits)


def simhash_hex_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document portable SimHash as a table: (_id, _sim hex string).

    Computes the exact signature of :func:`simhash_hex`, but via explode
    + 64 native sum() aggregates instead of the array fold: lambda-based
    higher-order functions are interpreted (no codegen), which made the
    fold the dominant cost of every SimHash query (~35 µs/token
    observed).  One codegen'd projection computes the token's 16 hex
    digits; 64 codegen'd conditional sums then tally the bit votes, and
    map-side partial aggregation collapses each doc to its 64 counters
    before the shuffle — the exchange carries counter-sized rows, never
    token-sized data."""
    df = ensure_min_splits(df)
    ex = _explode_keepall(df, id_col, tokens_col(text_col), "_t")
    # project the hash ONCE per token row, then derive the 16 digits
    # from the materialized column — inlining F.md5 into each digit
    # expression would hash every token 16 times
    hashed = ex.select("_id", F.substring(F.md5(F.col("_t")), 1, 16).alias("_h"))
    proj = hashed.select(
        "_id",
        *[_hex_digit(F.col("_h"), p).alias(f"_d{p}") for p in range(1, 17)],
    )
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"_d{p}"), k).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"_c{(p - 1) * 4 + k}")
        for p in range(1, 17)
        for k in range(4)
    ]
    counters = proj.groupBy("_id").agg(*aggs)
    chars = F.array(*[F.lit(c) for c in _HEX])
    digits = []
    for p in range(1, 17):
        val = F.lit(0)
        for k in range(4):
            val = val + F.when(
                F.col(f"_c{(p - 1) * 4 + k}") > 0, F.lit(1 << k)
            ).otherwise(F.lit(0))
        digits.append(F.element_at(chars, val + 1))
    return counters.select("_id", F.concat(*digits).alias("_sim"))


def hamming_hex(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-char hex signatures: per-digit
    XOR popcount — stays in 4-bit ints, so it is expressible identically
    in any SQL engine."""
    out = F.lit(0)
    for p in range(1, 17):
        out = out + F.bit_count(_hex_digit(a, p).bitwiseXOR(_hex_digit(b, p)))
    return out.cast("int")


# ---------------------------------------------------------------------------
# near-dup joins (one shuffle each — the candidate group-by)
# ---------------------------------------------------------------------------



def _minhash_agg_components(hash_fn: str, sig_col: str):
    """(comp, band_expr) for the aggregate-form MinHash signature.

    ``comp(i)`` is the native min() aggregate for seed i over the
    exploded ``_sh`` shingle rows; ``band_expr`` hashes the assembled
    ``sig_col`` array into per-band bucket keys.  One definition shared
    by the estimator and the LSH-verify pipeline so the md5 oracle proof
    keeps covering the xxhash64 scale path.  Unknown names raise — a
    silent fallback would swap hash families (and oracle portability)
    on a typo."""
    # r12 (guide §1/§5, driver cost): the expression trees here are built
    # from SQL TEXT via one F.expr each instead of nested Column calls —
    # every Column call is a py4j round trip, and 32 min-hash components
    # plus 8 band hashes cost ~1700 round trips ≈ 0.5 s of driver time
    # per plan build (cProfile'd on q_minhash_est_fast; streaming dedup
    # pays it again on EVERY micro-batch).  The parsed trees are
    # value-identical to the old Column forms: int SQL literals are
    # IntegerType exactly like F.lit(int), pinned by
    # test_minhash_expr_text_equals_column_forms.
    if hash_fn == "md5":
        def comp(i: int) -> Column:
            return F.expr(
                f"min(substring(md5(concat('{i}:', _sh)), 1, 16))"
            ).alias(f"_h{i}")

        parts = ", ".join(
            f"md5(concat('{b}:', array_join("
            f"slice({sig_col}, {b * ROWS + 1}, {ROWS}), ',')))"
            for b in range(BANDS)
        )
        return comp, F.expr(f"array({parts})")
    if hash_fn == "xxhash64":
        def comp(i: int) -> Column:
            return F.expr(f"min(xxhash64({i}, _sh))").alias(f"_h{i}")

        parts = ", ".join(
            f"xxhash64({b}, array_join("
            f"slice({sig_col}, {b * ROWS + 1}, {ROWS}), ','))"
            for b in range(BANDS)
        )
        return comp, F.expr(f"array({parts})")
    raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")


def _explode_keepall(df: DataFrame, id_col: str, arr: Column, out: str) -> DataFrame:
    """Explode ``arr`` keeping every id: a NULL/empty array becomes one
    empty-string element instead of dropping the document.

    With :func:`tokens_col` canonicalizing NULL text to '' upstream the
    token array is never NULL/empty on the dedup paths, so these guards
    are defensive for caller-supplied arrays only — and they encode the
    SAME convention (missing ≡ single '' element), keeping the table
    forms value-identical to the HOF Column forms on every input
    (pinned by test_signature_tables_equal_hof_columns incl. NULL/empty
    text rows)."""
    safe = F.coalesce(arr, F.array(F.lit("")))
    safe = F.when(F.size(safe) == 0, F.array(F.lit(""))).otherwise(safe)
    return df.select(F.col(id_col).alias("_id"), F.explode(safe).alias(out))


def _exploded_shingles(df: DataFrame) -> DataFrame:
    """(_id, _sh) — one row per 3-token shingle WINDOW of ``text``,
    keyed by ``doc_id``, codegen'd.

    r11 hot-path form of ``explode(array_distinct(shingles(toks, k)))``:
    the :func:`shingles` transform-lambda is a ``CodegenFallback``
    expression interpreted per window (the same class of cost the
    module docstring records for the old HOF hash loop), while this
    form tokenizes once per doc in a Project, explodes a plain int
    sequence of window starts, and assembles each shingle with
    codegen'd ``slice`` + ``array_join``.  Two deliberate differences,
    both value-neutral for every consumer (:func:`_minhash_base`,
    :func:`minhash_sig_table`):

    * duplicate windows are NOT pre-deduped (no array_distinct) — the
      min() signature components and ``collect_set`` are idempotent
      over duplicates, and map-side partial aggregation absorbs them
      before the shuffle;
    * the short-doc case (fewer than k tokens, incl. the NULL/''-text
      single-token case) emits the whole-text join as its single
      shingle via ``slice(toks, 1, k)`` truncating at the array end —
      exactly :func:`shingles`' ``n < k`` branch, and since
      :func:`tokens_col` canonicalizes NULL to ``['']`` the array is
      never NULL/empty, which is what made :func:`_explode_keepall`'s
      guards defensive-only here (pinned by
      test_signature_tables_equal_hof_columns incl. NULL/empty text).
    """
    k = SHINGLE_K
    toks = tokens_col("text")
    pos = F.when(
        F.size("__sh_toks") >= k,
        F.sequence(F.lit(1), F.size("__sh_toks") - (k - 1)),
    ).otherwise(F.array(F.lit(1)))
    return (
        df.select(F.col("doc_id").alias("_id"), toks.alias("__sh_toks"))
        .select("_id", "__sh_toks", F.explode(pos).alias("__sh_pos"))
        .select(
            "_id",
            F.array_join(F.slice("__sh_toks", F.col("__sh_pos"), k), " ").alias(
                "_sh"
            ),
        )
    )


def _minhash_base(df: DataFrame, hash_fn: str) -> DataFrame:
    """(_id, _shingles, _sig) per document: ONE explode + aggregate pass
    builds both the distinct shingle set and the native-min signature
    (see module docstring for why aggregates, not HOFs).  Shared by the
    intra-corpus LSH pipeline and the incremental new-vs-corpus form."""
    comp, _ = _minhash_agg_components(hash_fn, "_sig")
    df = ensure_min_splits(df)
    exploded = _exploded_shingles(df)
    return (
        exploded.groupBy("_id")
        .agg(
            *[comp(i) for i in range(BANDS * ROWS)],
            F.collect_set("_sh").alias("_shingles"),
        )
        .select(
            "_id",
            "_shingles",
            F.array(*[f"_h{i}" for i in range(BANDS * ROWS)]).alias("_sig"),
        )
    )


def minhash_sig_table(df: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """(_id, _sim) signature-only table: the explode + native-min
    aggregate pass WITHOUT the shingle-set payload — what the estimator
    pipeline shuffles and what a persistent signature store (streaming
    dedup) writes to disk.  Signature elements are longs for xxhash64,
    16-char hex strings for md5."""
    n = BANDS * ROWS
    comp, _ = _minhash_agg_components(hash_fn, "_sim")
    df = ensure_min_splits(df)
    exploded = _exploded_shingles(df)
    return (
        exploded.groupBy("_id")
        .agg(*[comp(i) for i in range(n)])
        .select("_id", F.array(*[f"_h{i}" for i in range(n)]).alias("_sim"))
    )


def incremental_minhash_dedup(
    new_docs: DataFrame, corpus: DataFrame, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Incremental near-dup: score an arriving shard ONLY against the
    existing corpus — the operational dedup shape at 100 TB, where the
    corpus is already internally deduped and re-running the full
    pairwise pipeline per shard would redo |corpus|-sized band work for
    |shard|-sized questions.

    Returns (new_id, corpus_id, jaccard) with exact Jaccard ≥ 0.5.

    Plan shape: both sides run the one-pass signature aggregate
    (:func:`_minhash_base`); band keys explode on each side and meet in
    a plain equi-JOIN on the band bucket — new×corpus collisions only,
    never corpus×corpus (an intra-corpus pair can't appear, and
    intra-shard dedup is :func:`minhash_lsh_pairs` run on the shard
    alone).  No broadcast hint on either side: a daily shard may be
    tiny or huge, so the planner picks broadcast vs shuffle from its
    own estimates.  Hot-bucket guard: corpus band buckets with more
    than ``MAX_BUCKET_SIZE`` members are dropped (same contract and
    rationale as :func:`_bucket_candidate_pairs`) — at scale the corpus
    side's banded signature store is what you persist, so the count is
    a metadata lookup, not a recompute.
    """
    nb = _minhash_base(new_docs, hash_fn)
    cb = _minhash_base(corpus, hash_fn)
    # ONE band expression for both sides — two independently-built
    # copies could be edited apart, which is exactly the silent
    # false-negative drift _minhash_agg_components warns about
    _, bh = _minhash_agg_components(hash_fn, "_sig")
    nbanded = nb.select(
        F.col("_id").alias("new_id"),
        F.col("_shingles").alias("_sa"),
        F.explode(bh).alias("_block"),
    )
    cbanded = cb.select(
        F.col("_id").alias("corpus_id"),
        F.col("_shingles").alias("_sb"),
        F.explode(bh).alias("_block"),
    )
    hot = (
        cbanded.groupBy("_block")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > MAX_BUCKET_SIZE)
        .select("_block")
    )
    cbanded = cbanded.join(hot, "_block", "left_anti")
    cand = (
        nbanded.join(cbanded, "_block")
        .select("new_id", "corpus_id", "_sa", "_sb")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - inter
    return cand.select(
        "new_id",
        "corpus_id",
        (inter.cast("double") / union).alias("jaccard"),
    ).where(F.col("jaccard") >= JACCARD_THRESHOLD)


def minhash_lsh_pairs(df: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-Jaccard verify.

    Pipeline: one explode + aggregate pass builds BOTH the signature
    (native min() components — see module docstring for why not HOFs)
    and the distinct shingle set per doc → explode band hashes →
    bucket-and-expand candidate pairs carrying the shingle sets →
    verify with exact Jaccard (array_intersect/union, native collection
    expressions).  The banding (``BANDS``=8, ``ROWS``=4) targets the
    ~0.5 similarity knee: P(candidate) = 1-(1-s^r)^b.

    ``hash_fn``: "xxhash64" (default, fastest JVM hash — the 100 TB
    path) or "md5" (portable hex-prefix variant whose buckets a DuckDB
    oracle can reproduce; see queries/similarity.q_minhash_neardup).
    The verify step is exact Jaccard either way, so the hash choice only
    moves candidate recall, never the correctness of emitted pairs.
    """
    _, bh = _minhash_agg_components(hash_fn, "_sig")
    base = _minhash_base(df, hash_fn)
    banded = base.select(
        "_id",
        # the pair payload (_sim) is the shingle set: the verify step
        # needs sets, not signatures, once the bands are computed
        F.col("_shingles").alias("_sim"),
        F.explode(bh).alias("_block"),
    )
    cand = _bucket_candidate_pairs(banded)
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - inter
    return (
        cand.select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _bucket_candidate_pairs(blocked: DataFrame) -> DataFrame:
    """(_id, _sim, _block) rows → distinct candidate pairs
    (id_a, id_b, _sa, _sb).

    Groups each block bucket into a sorted member array and expands the
    intra-bucket pairs map-side (indexed transform × suffix slice): the
    signature subtree is computed and shuffled ONCE, where the classic
    bucket self-join materializes it per join side (AQE runs both sides
    as concurrent stages, so even exchange reuse doesn't save it).  The
    pair HOF is interpreted, but it runs over bucket-sized member lists,
    not corpus-sized data; quadratic only in bucket size, which the
    blocking scheme keeps small.

    Hot-bucket guard (ENFORCED): a bucket of K members materializes its
    K·(K-1)/2 pair structs as one array value in one task, so buckets
    over ``MAX_BUCKET_SIZE`` are dropped rather than OOMing the executor
    — banding bounds K only probabilistically, and EXACT duplicates
    agree on every band.  Run exact dedup (fingerprint group-by /
    dropDuplicates) before near-dup detection to collapse those buckets
    to singletons; the ``_block`` groups of ``blocked`` whose count
    exceeds ``MAX_BUCKET_SIZE`` are exactly what this guard skips.

    Oracle note: the DuckDB twins model NO cap, so oracle parity holds
    exactly while every bucket stays under ``MAX_BUCKET_SIZE`` (true for
    the driver testdata by orders of magnitude — the guard exists for
    pathological corpora).  If any bucket is over the cap, pre-collapse
    exact duplicates first."""
    buckets = blocked.groupBy("_block").agg(
        F.sort_array(F.collect_list(F.struct("_id", "_sim"))).alias("_members")
    )
    buckets = buckets.where(F.size("_members") <= MAX_BUCKET_SIZE)
    pair_arr = F.flatten(
        F.transform(
            "_members",
            lambda x, i: F.transform(
                F.slice("_members", i + F.lit(2), F.size("_members")),
                lambda y: F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    x["_sim"].alias("_sa"),
                    y["_sim"].alias("_sb"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p._sa", "p._sb")
        # a duplicated input id lands twice in the same bucket and the
        # positional expansion pairs the two copies — (x, x) must not
        # reach downstream keep-one / connected-components as a
        # self-duplicate (the applyInPandas siblings guard lo != hi for
        # exactly this; SRP callers don't pre-collapse by id).
        # NULL-SAFE: a plain != is NULL for any pair involving a
        # NULL id, which would silently drop (NULL, x) candidates —
        # NULL ids are in the threat model (PERMISSIVE decode output)
        .where(~F.col("id_a").eqNullSafe(F.col("id_b")))
        # one row per pair, DETERMINISTIC payload: distinct docs can
        # share an id (NULLs group together), so dropDuplicates would
        # keep an arbitrary (_sa, _sb) and make the downstream exact
        # verify flap across runs — min over the orderable struct pins
        # the survivor (identical payloads in the common unique-id case,
        # so this is dropDuplicates-equivalent there)
        .groupBy("id_a", "id_b")
        .agg(F.min(F.struct("_sa", "_sb")).alias("_p"))
        .select(
            "id_a",
            "id_b",
            F.col("_p._sa").alias("_sa"),
            F.col("_p._sb").alias("_sb"),
        )
    )


def _bucket_candidate_id_pairs(blocked: DataFrame) -> DataFrame:
    """(_id, _block) rows → distinct light candidate pairs
    (id_a, id_b) — the payload-free twin of
    :func:`_bucket_candidate_pairs` (r11, guide §8: decide on
    lightweight proxies, attach heavy payloads once afterwards).

    Callers whose verify payload is re-attachable by id (vectors in a
    corpus table) should use THIS and join the payload onto the
    deduplicated pair set: the heavy form shuffles the payload once per
    block-explosion copy (ntables/bands ×) into the bucket collect and
    twice per candidate pair through the pair-dedup exchange, where
    this form's exchanges carry two longs per row and the payload moves
    exactly once, in the id-equi attach join.  Same sorted-members
    expansion (id_a < id_b for unique ids), same hot-bucket guard, same
    NULL-safe self-pair exclusion.  Members collect as single-field
    STRUCTS, not bare ids: collect_list silently drops NULL scalars,
    and NULL ids are in the threat model (PERMISSIVE decode output) —
    a struct-wrapped NULL survives the collect and sorts first, exactly
    as it does in the heavy twin's (_id, _sim) structs (pinned equal)."""
    buckets = blocked.groupBy("_block").agg(
        F.sort_array(F.collect_list(F.struct("_id"))).alias("_members")
    )
    buckets = buckets.where(F.size("_members") <= MAX_BUCKET_SIZE)
    pair_arr = F.flatten(
        F.transform(
            "_members",
            lambda x, i: F.transform(
                F.slice("_members", i + F.lit(2), F.size("_members")),
                lambda y: F.struct(
                    x["_id"].alias("id_a"), y["_id"].alias("id_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .where(~F.col("id_a").eqNullSafe(F.col("id_b")))
        .distinct()
    )


def agreement(a: Column, b: Column) -> Column:
    """How many components two equal-length signature arrays agree on:
    the MinHash estimator's numerator, E[agreement/n] = J(A, B)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def minhash_estimate_pairs(df: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """Signature-only near-dup scoring — the true 100 TB dedup path.

    Unlike :func:`minhash_lsh_pairs` (which re-reads the full shingle
    sets to verify candidates with exact Jaccard), this never touches
    the documents again after the map-only signature pass: similarity is
    the classic MinHash estimator — the fraction of agreeing signature
    components, E[matches/n] = J(A,B).  At scale the shingle sets are
    orders of magnitude bigger than the signatures, so shuffling only
    (id, signature) pairs through the band join is what makes corpus-
    wide dedup tractable.

    ``hash_fn``: "md5" (default — portable signatures a DuckDB oracle
    reproduces exactly; queries/similarity.q_minhash_est) or "xxhash64"
    (one JVM-intrinsic hash per seed×shingle instead of an md5 — ~10×
    cheaper signatures, the hash to deploy at 100 TB; benchmarked as
    q_minhash_est_fast)."""
    n = BANDS * ROWS
    _, bh = _minhash_agg_components(hash_fn, "_sim")
    base = minhash_sig_table(df, hash_fn)
    banded = base.select(
        "_id",
        "_sim",
        F.explode(bh).alias("_band"),
    ).withColumnRenamed("_band", "_block")
    cand = _bucket_candidate_pairs(banded)
    matches = agreement(F.col("_sa"), F.col("_sb"))
    return cand.where(matches >= MIN_MATCHES).select(
        "id_a", "id_b", (matches.cast("double") / n).alias("jaccard_est")
    )


def simhash_hex_neardup_pairs(df: DataFrame) -> DataFrame:
    """Portable-SimHash near-dup pairs over hex signatures, Hamming
    distance ≤ 3: candidates share one of the four 4-hex-digit blocks
    (pigeonhole: 3 differing bits leave one of 4 blocks intact),
    verified by exact per-digit Hamming distance.  One aggregated
    signature table, then block bucket-and-expand; every expression has
    a 1:1 DuckDB translation."""
    base = simhash_hex_table(df, "doc_id", "text")
    blocked = base.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{blk}:"),
                        F.substring("_sim", blk * 4 + 1, 4),
                    )
                    for blk in range(4)
                ]
            )
        ).alias("_block"),
    )
    return (
        _bucket_candidate_pairs(blocked)
        .select(
            "id_a",
            "id_b",
            hamming_hex(F.col("_sa"), F.col("_sb")).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
    )


def _ngram_candidate_pairs(df: DataFrame) -> DataFrame:
    """Shared inverted-index candidate stage for the exact word-3-gram
    similarity joins: explode distinct 3-grams, drop stop-grams with
    document frequency > 200 (quadratic candidates, no
    signal — the skew guard for this join at scale), pair docs sharing a
    surviving gram, and re-attach both full gram sets for exact
    verification.  Returns (id_a, id_b, _ga, _gb).

    Bucket-and-expand, same rationale as :func:`_bucket_candidate_pairs`:
    the stop-gram guard runs FIRST as a constant-memory partial-agg
    count + anti-join (a hot stop-gram must never reach collect_list —
    at corpus scale it would materialize an O(df) array in one task
    before being discarded), then ONE groupBy yields each surviving
    gram's sorted distinct member array and the pair expansion happens
    map-side — no posting self-join that would materialize (and
    shuffle) the posting subtree once per side.  Members are distinct,
    so duplicate ids in the input never produce (x, x) self-pairs,
    matching the strict a < b predicate of a pair join."""
    df = ensure_min_splits(df)
    grams = F.array_distinct(shingles(tokens_col("text"), 3))
    base = df.select(F.col("doc_id").alias("_id"), grams.alias("_grams"))
    posting = base.select("_id", F.explode("_grams").alias("_g"))
    hot = (
        posting.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > 200)
        .select("_g")
    )
    buckets = (
        posting.join(hot, "_g", "left_anti")
        .groupBy("_g")
        .agg(F.array_distinct(F.sort_array(F.collect_list("_id"))).alias("_m"))
    )
    pair_arr = F.flatten(
        F.transform(
            "_m",
            lambda x, i: F.transform(
                F.slice("_m", i + F.lit(2), F.size("_m")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = base.select(F.col("_id").alias("id_a"), F.col("_grams").alias("_ga"))
    gb = base.select(F.col("_id").alias("id_b"), F.col("_grams").alias("_gb"))
    return cand.join(ga, "id_a").join(gb, "id_b")


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Exact word-3-gram Jaccard join via the shared inverted-index
    candidate stage (:func:`_ngram_candidate_pairs`), verified with
    exact Jaccard on the full 3-gram sets."""
    joined = _ngram_candidate_pairs(df)
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    union = F.size(F.col("_ga")) + F.size(F.col("_gb")) - inter
    return joined.select(
        "id_a", "id_b", (inter.cast("double") / union).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def ngram_containment_pairs(df: DataFrame) -> DataFrame:
    """Containment similarity join, containment ≥ 0.8: |A∩B| /
    min(|A|,|B|) over word-3-gram sets — the partial-duplicate
    detector.  A document quoted or embedded inside a larger one has LOW Jaccard (the big doc's grams
    dominate the union) but containment ≈ 1; corpus curation needs both
    signals (cf. the containment dedup in Gopher/CCNet-style cleaning).
    Same candidate stage as :func:`ngram_jaccard_pairs`, different
    verification score."""
    joined = _ngram_candidate_pairs(df)
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    containment = inter.cast("double") / F.least(
        F.size(F.col("_ga")), F.size(F.col("_gb"))
    )
    return joined.select(
        "id_a", "id_b", containment.alias("containment")
    ).where(F.col("containment") >= 0.8)
