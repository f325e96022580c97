"""Distributed n-gram language modeling — interpolated Kneser-Ney
bigrams (charter U7), the LM tier of the curation stack.

Public-knowledge lineage: CCNet (Wenzek et al. 2020) and the GPT-3
pipeline filter web text by LANGUAGE-MODEL perplexity (CCNet uses a
KenLM 5-gram); the published smoothing standard for count-based LMs is
interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999's
empirical study).  The repo's existing ``q_perplexity`` certifies the
unigram form end-to-end against a SQL oracle; this module adds the
bigram-KN upgrade as a library operator — richer signal for the same
per-doc scoring shape.

Interpolated KN, bigram order (Chen & Goodman eq. 4.17 family):

    P(w2|w1) = max(c(w1 w2) − D, 0) / c(w1·)  +  λ(w1) · Pcont(w2)
    λ(w1)    = D · N1+(w1 ·) / c(w1·)
    Pcont(w2)= N1+(· w2) / N1+(· ·)

Everything is RELATIONAL — counts, distinct-follower counts, and the
interpolation are joins/aggregations over the bigram table, so Catalyst
plans the whole fit:

* doc → bigrams is map-only (zip_with over adjacent slices of the
  token array — no window, no shuffle for pairing);
* ONE corpus-sized shuffle produces the bigram count table; every
  later table (context totals, follower/predecessor type counts) is a
  vocabulary-bounded aggregate of it;
* scoring joins each doc's bigrams against the prob table (observed
  mass) with λ/Pcont fallbacks via two left joins — unseen events
  back off exactly as the formula says, and a configurable floor
  bounds fully-OOV bigrams away from log(0).

Determinism: exact integer counts throughout; the only floats are the
final divisions, identical across layouts.  The pure-Python reference
implementation in tests/test_lm.py pins the Spark tables value-for-
value on a toy corpus, and a property test checks Σ_w2 P(w2|w1) = 1
per seen context — the signature KN invariant.
"""

from __future__ import annotations

import json
import math
import os
import re

# module-level (not the repo's usual lazy import): score_broadcast's
# struct-returning pandas_udf declares `pd.Series -> pd.DataFrame`
# type hints, and with `from __future__ import annotations` PySpark's
# eval-type inference resolves those strings against MODULE globals —
# a function-local pandas import would leave them unresolvable
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from consume_kafka_avro_data_spark.operators.dedup import tokens_col

#: Chen & Goodman's well-working fixed discount
DEFAULT_DISCOUNT = 0.75

#: Default model-row ceiling for collecting a fitted model into a
#: worker-side dict (``NgramKN.local_tables`` / ``score_broadcast``).
#: 2M rows of short gram strings ≈ low tens of MB pickled — comfortably
#: a broadcast variable, far below anything that pressures executor
#: heaps; an unpruned web-scale fit blows past this and should stay on
#: the relational scorer (or be re-fit with ``min_count``).
MAX_LOCAL_MODEL_ROWS = 2_000_000

#: Java's ``\s`` is the ASCII class [ \t\n\x0B\f\r]; Python's ``\s``
#: adds Unicode whitespace — the dict scorer must tokenize EXACTLY as
#: the JVM ``split(lower(text), '\\s+')`` convention does, so it uses
#: the explicit ASCII class (a NBSP stays inside a token in both
#: engines).
_JVM_WS_RE = re.compile("[ \t\n\x0b\f\r]+")


def _py_tokens(text: str | None) -> list[str]:
    """The corpus tokenization convention (operators/dedup.tokens_col)
    reproduced in Python: lowercase, split on the JVM ``\\s+`` class,
    NULL → '' (which tokenizes to the single empty token, exactly as
    ``F.split('', '\\s+')`` does)."""
    return _JVM_WS_RE.split((text or "").lower())


def flatten_local_tables(local: dict) -> dict:
    """Re-key a :meth:`NgramKN.local_tables` payload for the round-10
    FLAT scoring kernel: every model token is interned to a small int
    (``vocab``), and every probs/lams key becomes a tuple of ints.

    Why: over string keys the per-gram cost is string-tuple
    construction + string hashing per backoff tier
    (``tuple(g[lo:n])`` over token STRINGS, whose hashes are
    recomputed for every fresh slice).  Int tuples hash in a few ns
    each, and — the bigger lever — interning makes grams CACHEABLE:
    two occurrences of the same surface gram map to the same id tuple,
    so the flat kernel memoizes the whole backoff cascade per distinct
    gram per batch (natural text repeats grams heavily; Zipf does the
    rest).  Collapsing every out-of-vocabulary token to the single
    sentinel ``-1`` is score-preserving: no model key contains an OOV
    token, so every dict probe touching an OOV position misses
    REGARDLESS of which OOV token it is, and probes not touching those
    positions see the same interned ids — the cascade result depends
    only on (known-token ids, OOV position pattern), which is exactly
    what the collapsed key encodes.

    The payload is marked by its ``vocab`` key, which
    ``score_broadcast`` checks before scoring a provided payload."""
    n = int(local["order"])
    vocab: dict = {}

    def vid(t):
        i = vocab.get(t)
        if i is None:
            i = len(vocab)
            vocab[t] = i
        return i

    p1 = {vid(t): p for t, p in local["p1"].items()}
    probs = {
        k: {
            tuple(vid(t) for t in key): p
            for key, p in local["probs"][k].items()
        }
        for k in range(2, n + 1)
    }
    lams = {
        k: {
            tuple(vid(t) for t in key): p
            for key, p in local["lams"][k].items()
        }
        for k in range(2, n + 1)
    }
    return {"order": n, "vocab": vocab, "probs": probs, "lams": lams, "p1": p1}


def doc_bigrams(
    docs: DataFrame, text_col: str = "text", keep_cols: list[str] | None = None
) -> DataFrame:
    """(…keep_cols, w1, w2) — one row per adjacent token pair per doc,
    tokenized by the corpus-wide convention (lowercase, whitespace,
    NULL → '').  Map-only: the pairing is zip_with over adjacent
    slices of the token array; docs with <2 tokens emit no rows."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    keep = list(keep_cols or [])
    return (
        docs.select(*keep, F.explode(pairs).alias("_bg"))
        .select(*keep, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    )


def doc_ngrams(
    docs: DataFrame,
    order: int,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(…keep_cols, w1 … w{order}) — one row per length-``order``
    token window per doc, tokenized by the corpus-wide convention.
    Map-only like :func:`doc_bigrams`, and built the same way: zip
    ``order`` shifted slices of the token array (``arrays_zip`` — a
    native expression, where a transform-over-indexes lambda is
    interpreted at ~tens of µs per element and measured ~9× slower at
    order 3).  Docs with < order tokens take the NULL branch, which
    ``explode`` drops — no rows, the bigram convention."""
    if order < 1:
        raise ValueError(f"ngram order must be >= 1, got {order}")
    toks = tokens_col(text_col)
    n = F.size(toks)
    m = n - (order - 1)  # window count (≥ 1 on the non-NULL branch)
    gram = F.when(
        n >= F.lit(order),
        F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(order)]),
    )  # no otherwise: NULL, and explode(NULL) emits nothing
    keep = list(keep_cols or [])
    return docs.select(*keep, F.explode(gram).alias("_g")).select(
        *keep,
        *[
            F.col("_g").getField(str(i)).alias(f"w{i + 1}")
            for i in range(order)
        ],
    )


class NgramKN:
    """Interpolated Kneser-Ney at arbitrary order n ≥ 2 — the
    generalization CCNet's published filter actually deploys (a KenLM
    5-gram; Wenzek et al. 2020), recursing exactly per the Chen &
    Goodman (1999) equation family:

        P_k(w | ctx) = max(num_k(ctx w) − D, 0) / denom_k(ctx)
                       + λ_k(ctx) · P_{k−1}(w | suffix(ctx))
        λ_k(ctx)     = D · N1+(ctx ·) / denom_k(ctx)
        P_1(w)       = N1+(· w) / N1+(· ·)

    with num_n = RAW n-gram counts at the top order and num_k =
    CONTINUATION counts N1+(· g) (distinct predecessors, computed from
    the (k+1)-gram TYPE table) at every lower order — the defining KN
    move.  Everything is relational:

    * doc → gram expansion is map-only per order;
    * the corpus-sized shuffles are exactly the per-order gram
      aggregations (one raw count at order n, one distinct at each
      order 2..n−1 — irreducible: doc-edge grams mean lower-order
      types are NOT derivable from the top-order table alone);
    * every derived table (continuation counts, context totals, λ,
      interpolated probs) is gram-type-bounded, and nothing
      model-sized ever lives on the driver.

    Scoring left-joins each doc n-gram against the per-order prob/λ
    tables once each (2n−1 joins, all against type-bounded tables) and
    folds the backoff cascade in ONE expression:
    P̂_k = coalesce(p_k, coalesce(λ_k, 1) · P̂_{k−1}) — observed gram →
    full interpolated mass; unseen gram, seen context → λ·lower;
    unseen context → lower unweighted; fully-OOV floors.  For n=2
    this reproduces :class:`BigramKN` value-for-value (pinned in
    tests), and the per-context Σ_w P_k(w|ctx) = 1 invariant holds at
    EVERY order (pinned against a pure-Python reference)."""

    def __init__(
        self,
        order: int,
        probs: dict[int, DataFrame],
        lams: dict[int, DataFrame],
        p1: DataFrame,
        discount: float,
        _resident: list[DataFrame] | None = None,
    ):
        self.order = order
        self.probs = probs  # k -> (w1..wk, p)
        self.lams = lams  # k -> (w1..w{k-1}, lam)
        self.p1 = p1  # (w1, p1)
        self.discount = discount
        self._resident = _resident or []

    def unpersist(self) -> None:
        """Release the fitted model's checkpointed count tables (its
        resident state) — same lifecycle contract as BigramKN."""
        for df in self._resident:
            df.unpersist()

    # -- fit -------------------------------------------------------------

    @classmethod
    def fit(
        cls,
        corpus: DataFrame,
        order: int = 3,
        text_col: str = "text",
        discount: float = DEFAULT_DISCOUNT,
        min_count: int = 1,
    ) -> "NgramKN":
        """``min_count`` > 1 prunes top-order grams seen fewer times
        before anything derives — the standard count-pruning move
        (KenLM ships its 5-grams pruned the same way): the model is
        EXACTLY the KN model of the pruned count table (pruned grams
        back off like unseen ones; every derived table, λ, and the
        per-context mass law stay self-consistent — pinned against a
        reference implementing the same pruning).  This is the lever
        that keeps the model tables broadcastable when fitting on a
        large trusted corpus (singleton top-order grams dominate table
        size by Zipf), under ``MAX_LOCAL_MODEL_ROWS`` for
        ``score_broadcast``'s map-only sweep."""
        if order < 2:
            raise ValueError(f"NgramKN order must be >= 2, got {order}")
        if not 0.0 < discount < 1.0:
            raise ValueError(f"KN discount must be in (0, 1), got {discount}")
        if min_count < 1:
            raise ValueError(f"min_count must be >= 1, got {min_count}")
        d = F.lit(float(discount))

        def keys(k: int) -> list[str]:
            return [f"w{i + 1}" for i in range(k)]

        resident: list[DataFrame] = []
        # top order: RAW counts — the one table that sees occurrence
        # multiplicity.  Checkpointed: it feeds the numerator, the
        # context totals, AND the order-(n−1) continuation counts.
        cnt_n = (
            doc_ngrams(corpus, order, text_col)
            .groupBy(*keys(order))
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= F.lit(int(min_count)))
            .localCheckpoint(eager=True)
        )
        resident.append(cnt_n)
        if cnt_n.limit(1).count() == 0:  # cheap: checkpointed table
            for df in resident:
                df.unpersist()
            raise ValueError(
                f"corpus has no length-{order} token windows"
                + (
                    f" surviving min_count={min_count}"
                    if min_count > 1
                    else ""
                )
                + " — every doc is shorter than the model order (or "
                "pruning removed everything); lower `order`/`min_count` "
                "or fit on real text"
            )
        # continuation counts per lower order, top-down: num_k(g) =
        # N1+(· g) = distinct-predecessor count of g among (k+1)-gram
        # TYPES.  The (k+1)-gram types come from the corpus for
        # 2 ≤ k+1 < n (distinct over the map-only expansion) and from
        # cnt_n's keys at k+1 = n.  Each adj_k is checkpointed — it
        # has two consumers (numerator + context aggregate) and its
        # lineage reaches back to a corpus scan.
        adj: dict[int, DataFrame] = {}
        for k in range(order - 1, 0, -1):
            types_up = (
                cnt_n.select(*keys(order))
                if k + 1 == order
                else doc_ngrams(corpus, k + 1, text_col).distinct()
            )
            adj[k] = (
                types_up.groupBy(
                    *[
                        F.col(f"w{i + 2}").alias(f"w{i + 1}")
                        for i in range(k)
                    ]
                )
                .agg(F.count(F.lit(1)).alias("c"))
                .localCheckpoint(eager=True)
            )
            resident.append(adj[k])
        # unigram continuation distribution: N1+(· w) / N1+(· ·)
        # (non-empty: the top-order guard above implies bigram types)
        n1_total = adj[1].agg(F.sum("c")).collect()[0][0]  # one scalar
        p1 = adj[1].select(
            "w1", (F.col("c") / F.lit(float(n1_total))).alias("p1")
        )
        # per order k: context totals + λ from num_k, then the
        # interpolated prob table bottom-up (the suffix of an observed
        # k-gram is always an observed (k−1)-gram — it occurs with a
        # predecessor — so the recursion join is inner and lossless)
        num = {k: adj[k] for k in range(2, order)}
        num[order] = cnt_n
        lams: dict[int, DataFrame] = {}
        probs: dict[int, DataFrame] = {}
        prev = p1.select(F.col("w1").alias("_s1"), F.col("p1").alias("_pp"))
        for k in range(2, order + 1):
            ctx = num[k].groupBy(*keys(k - 1)).agg(
                F.sum("c").alias("_denom"),
                F.count(F.lit(1)).alias("_n1"),
            )
            lams[k] = ctx.select(
                *keys(k - 1),
                (d * F.col("_n1") / F.col("_denom")).alias("lam"),
            )
            suffix_cond = [
                num[k][f"w{i + 2}"] == prev[f"_s{i + 1}"]
                for i in range(k - 1)
            ]
            probs[k] = (
                num[k]
                .join(ctx, keys(k - 1))
                .join(prev, suffix_cond)
                .select(
                    *keys(k),
                    (
                        F.greatest(F.col("c") - d, F.lit(0.0))
                        / F.col("_denom")
                        + (d * F.col("_n1") / F.col("_denom"))
                        * F.col("_pp")
                    ).alias("p"),
                )
            )
            prev = probs[k].select(
                *[F.col(f"w{i + 1}").alias(f"_s{i + 1}") for i in range(k)],
                F.col("p").alias("_pp"),
            )
        return cls(order, probs, lams, p1, discount, _resident=resident)

    # -- persistence -------------------------------------------------------

    #: model sidecar name (fsio-addressed, like AnnIndex's)
    META = "_kn_meta.json"

    def save(self, path: str) -> None:
        """Persist the fitted model: per-order prob/λ tables and the
        continuation unigram as parquet under a FRESH generation
        subdirectory (``tables-<token>``), plus one JSON sidecar
        (order/discount/generation) whose atomic replace is the commit
        point — the deployed fit-once/score-many shape (CCNet ships its
        filter as a KenLM artifact; this is the relational analog).
        Probabilities are exact float64 through parquet, so a loaded
        model scores BIT-IDENTICALLY (pinned by pytest).

        Re-saving over ``path`` commits a new generation and then
        deletes superseded ones — safe even when this very model was
        LOADED from ``path`` (the write reads the old generation before
        anything is deleted; an in-place overwrite would instead refuse
        with 'cannot overwrite a path being read from').  Handles
        loaded BEFORE the re-save go stale once the old generation is
        swept — single-writer, reopen-after-commit, the AnnIndex
        contract without its grace window (LM models swap rarely; add
        one if a deployment re-saves under long concurrent scans)."""
        import uuid

        from consume_kafka_avro_data_spark.fsio import fs_for

        spark = self.p1.sparkSession
        io = fs_for(spark, path)
        gen = f"tables-{uuid.uuid4().hex[:8]}"
        base = os.path.join(path, gen)
        for k in range(2, self.order + 1):
            self.probs[k].write.parquet(os.path.join(base, f"probs_{k}"))
            self.lams[k].write.parquet(os.path.join(base, f"lams_{k}"))
        self.p1.write.parquet(os.path.join(base, "p1"))
        meta = {"order": self.order, "discount": self.discount, "dir": gen}
        tmp = os.path.join(path, self.META + ".tmp")
        io.write_bytes(tmp, json.dumps(meta).encode())
        io.rename_overwrite(tmp, os.path.join(path, self.META))
        # sweep superseded generations + crash leftovers (uncommitted
        # writes from a save that died before its sidecar replace)
        for name in io.list_names(path):
            if name.startswith("tables-") and name != gen:
                io.delete(os.path.join(path, name), recursive=True)

    @classmethod
    def load(cls, spark, path: str) -> "NgramKN":
        """Reopen a saved model: tables read lazily from parquet (no
        corpus, no fit pass, no resident checkpoint state — unpersist()
        is a no-op on a loaded model)."""
        from consume_kafka_avro_data_spark.fsio import fs_for

        io = fs_for(spark, path)
        meta = json.loads(io.read_bytes(os.path.join(path, cls.META)))
        order = int(meta["order"])
        # legacy sidecars (pre-generation layout) stored tables at the
        # model root
        base = os.path.join(path, meta["dir"]) if meta.get("dir") else path
        probs = {
            k: spark.read.parquet(os.path.join(base, f"probs_{k}"))
            for k in range(2, order + 1)
        }
        lams = {
            k: spark.read.parquet(os.path.join(base, f"lams_{k}"))
            for k in range(2, order + 1)
        }
        p1 = spark.read.parquet(os.path.join(base, "p1"))
        return cls(order, probs, lams, p1, float(meta["discount"]))

    # -- score -----------------------------------------------------------

    def score(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        p_floor: float = 1e-9,
    ) -> DataFrame:
        """(id_col, n_ngrams, avg_nll) — per-document mean negative
        log-likelihood of its order-n token windows, the CCNet-style
        quality signal.  Docs with < order tokens report n_ngrams=0
        and NULL avg_nll (no evidence ≠ perfect fluency), and NULL-id
        docs keep their scores — both the BigramKN conventions.  A
        model small enough to ship scores map-side through
        :meth:`score_broadcast` instead."""
        n = self.order
        grams = doc_ngrams(docs, n, text_col, keep_cols=[id_col])
        j = grams
        # one left join per prob/λ table; at order k the evaluated
        # suffix of the query gram is (w{n-k+1} … wn)
        for k in range(2, n + 1):
            lo = n - k  # 0-based offset of the order-k suffix
            pk = self.probs[k].select(
                *[
                    F.col(f"w{i + 1}").alias(f"w{lo + i + 1}")
                    for i in range(k)
                ],
                F.col("p").alias(f"_p{k}"),
            )
            j = j.join(pk, [f"w{lo + i + 1}" for i in range(k)], "left")
            lk = self.lams[k].select(
                *[
                    F.col(f"w{i + 1}").alias(f"w{lo + i + 1}")
                    for i in range(k - 1)
                ],
                F.col("lam").alias(f"_lam{k}"),
            )
            j = j.join(
                lk, [f"w{lo + i + 1}" for i in range(k - 1)], "left"
            )
        j = j.join(
            self.p1.select(F.col("w1").alias(f"w{n}"), "p1"),
            [f"w{n}"],
            "left",
        )
        phat: Column = F.coalesce(F.col("p1"), F.lit(0.0))
        for k in range(2, n + 1):
            phat = F.coalesce(
                F.col(f"_p{k}"),
                F.coalesce(F.col(f"_lam{k}"), F.lit(1.0)) * phat,
            )
        scored = (
            j.select(
                id_col,
                F.greatest(phat, F.lit(float(p_floor))).alias("_p"),
            )
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_ngrams"),
                (-F.sum(F.log("_p")) / F.count(F.lit(1))).alias("avg_nll"),
            )
        )
        ids = docs.select(id_col).distinct()
        return ids.join(
            scored,
            on=ids[id_col].eqNullSafe(scored[id_col]),
            how="left",
        ).select(
            ids[id_col].alias(id_col),
            F.coalesce(F.col("n_ngrams"), F.lit(0)).alias("n_ngrams"),
            "avg_nll",
        )

    # -- dict-scorer tier (round 9) ----------------------------------------

    def model_rows(self) -> int:
        """Total rows across every model table — THE broadcastability
        number: bench reports it per pruning arm, ``local_tables``
        guards on it, and the ingest gate compares it to
        ``MAX_LOCAL_MODEL_ROWS`` to choose the dict scorer over the
        relational one."""
        return (
            sum(df.count() for df in self.probs.values())
            + sum(df.count() for df in self.lams.values())
            + self.p1.count()
        )

    def local_tables(
        self, max_rows: int = MAX_LOCAL_MODEL_ROWS
    ) -> dict:
        """Collect the fitted model into plain Python dicts — the
        payload :meth:`score_broadcast` ships to workers as ONE
        broadcast variable.  Guarded: refuses past ``max_rows`` total
        model rows (count first, collect second), because an unpruned
        web-scale fit belongs on the relational scorer, not in every
        executor's heap.  Layout: ``probs[k]`` maps the k-token suffix
        tuple → p, ``lams[k]`` maps the (k−1)-token context tuple → λ,
        ``p1`` maps token → continuation unigram."""
        total = self.model_rows()
        if total > max_rows:
            raise ValueError(
                f"model has {total} rows, past the local-dict ceiling "
                f"of {max_rows} — re-fit with min_count pruning (the "
                "deployed shape) or score relationally"
            )
        n = self.order
        # Select columns BY NAME before collecting: the relational
        # scorer resolves w1..wk/p by name, so the dict tier must too —
        # keying by row POSITION would silently mis-key the model (and
        # shift every score with no error) for any table whose column
        # order ever diverges (schema evolution, an external writer).
        probs = {
            k: {
                tuple(r[i] for i in range(k)): r[k]
                for r in self.probs[k]
                .select(*[f"w{i + 1}" for i in range(k)], "p")
                .collect()
            }
            for k in range(2, n + 1)
        }
        lams = {
            k: {
                tuple(r[i] for i in range(k - 1)): r[k - 1]
                for r in self.lams[k]
                .select(*[f"w{i + 1}" for i in range(k - 1)], "lam")
                .collect()
            }
            for k in range(2, n + 1)
        }
        p1 = {r[0]: r[1] for r in self.p1.select("w1", "p1").collect()}
        return {"order": n, "probs": probs, "lams": lams, "p1": p1}

    def local_tables_flat(
        self, max_rows: int = MAX_LOCAL_MODEL_ROWS
    ) -> dict:
        """:meth:`local_tables` in the FLAT layout
        (:func:`flatten_local_tables`) — the round-10 kernel's
        payload.  Same row-ceiling guard, same one-collect contract."""
        return flatten_local_tables(self.local_tables(max_rows))

    def score_broadcast(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        p_floor: float = 1e-9,
        max_model_rows: int = MAX_LOCAL_MODEL_ROWS,
        _local: dict | None = None,
    ) -> DataFrame:
        """(id_col, n_ngrams, avg_nll) — :meth:`score`'s contract from
        a BROADCAST-DICT Arrow kernel: the whole model rides to each
        worker once as a broadcast variable and every document is
        scored inside one Arrow-batched pandas-UDF pass — ZERO model
        joins per scoring run, where the relational scorer pays 2n−1
        per run (per micro-batch, at ingest).  This is the deployed
        CCNet shape taken to its end point: the filter model is a
        pruned artifact small enough to live in worker memory, so the
        petabyte sweep is map-only plus one narrow per-doc aggregate.

        ONLY the text column crosses into Python — the kernel is a
        struct-returning scalar ``pandas_udf`` over text, so the id
        column stays JVM-side end to end and keeps its exact type and
        null mask for ANY id type (an id through the Arrow→pandas
        round-trip would widen nullable int64 to float64 and silently
        round ids past 2⁵³ — the round-9 review finding; pinned with a
        2⁵³+1 id + NULL regression test).

        Value-identical to the relational scorer by construction —
        same tokenization (``_py_tokens`` mirrors the JVM convention
        including the ASCII ``\\s`` class and the NULL→'' single-empty-
        token), same backoff cascade association
        (P̂_k = p_k if observed else coalesce(λ_k, 1)·P̂_{k−1}), same
        floor, same <order-token NULL-score convention — pinned by
        pytest at every order against :meth:`score` (float agreement
        to ~1 ulp: the only latitude is Math.log vs libm log).  Locale
        caveat: Python ``str.lower()`` is locale-independent while the
        JVM's non-ASCII lowercasing follows the JVM default locale —
        on a non-English-locale JVM (e.g. ``-Duser.language=tr``,
        where 'I' lowers to dotless 'ı') the two scorers can tokenize
        capital-I words apart; run the JVM under a root/English locale
        (Spark's deployment default) when mixing the tiers.

        Duplicate and NULL ids keep :meth:`score`'s semantics: grams
        aggregate per DISTINCT id (NULLs one group) via the narrow
        (id, count, Σlog) aggregate that follows the Arrow pass.

        The scoring loop runs on the FLAT payload
        (:func:`flatten_local_tables`): tokens interned to ints and the
        backoff cascade memoized per distinct gram per batch.

        ``_local`` lets a long-lived caller (the ingest gate) collect
        the dicts once and reuse them across scoring calls — pass the
        result of :meth:`local_tables_flat`, or an already-broadcast
        ``Broadcast`` of it (the streaming shape: ONE broadcast for the
        stream's whole life, instead of one fresh broadcast variable
        per micro-batch waiting on the ContextCleaner)."""
        from pyspark.broadcast import Broadcast

        if isinstance(_local, Broadcast):
            bc, local = _local, _local.value  # .value is driver-cached
        else:
            bc = None
            local = (
                _local
                if _local is not None
                else self.local_tables_flat(max_model_rows)
            )
        if "vocab" not in local:  # the marker of flatten_local_tables
            raise ValueError(
                "_local must be the flat payload (local_tables_flat), "
                "not the local_tables layout"
            )
        n = int(local["order"])
        if n != self.order:
            raise ValueError(
                f"_local tables carry order {n}, model is order {self.order}"
            )
        if bc is None:
            bc = docs.sparkSession.sparkContext.broadcast(local)
        floor = float(p_floor)

        @F.pandas_udf("struct<_n: long, _slp: double>")
        def kn_partials(texts: pd.Series) -> pd.DataFrame:
            m = bc.value
            vget = m["vocab"].get
            p1 = m["p1"]
            # hoisted per batch: (suffix offset, probs_k, lams_k)
            # per tier, highest order last — no per-gram dict-of-
            # dict indexing
            tiers = [
                (n - k, m["probs"][k], m["lams"][k])
                for k in range(2, n + 1)
            ]
            log = math.log
            counts, sums = [], []
            cache: dict = {}  # gram-id tuple -> final log P̂
            cget = cache.get
            for text in texts:
                toks = _py_tokens(text)
                w = len(toks) - (n - 1)
                s = 0.0
                if w <= 0:
                    w = 0
                else:
                    ids = [vget(t, -1) for t in toks]
                    for i in range(w):
                        g = tuple(ids[i : i + n])
                        v = cget(g)
                        if v is None:
                            ph = p1.get(g[n - 1], 0.0)
                            for lo, pks, lms in tiers:
                                pk = pks.get(g[lo:])
                                if pk is not None:
                                    ph = pk
                                else:
                                    lam = lms.get(g[lo : n - 1])
                                    ph = (1.0 if lam is None else lam) * ph
                            v = log(ph if ph > floor else floor)
                            cache[g] = v
                        s += v
                counts.append(w)
                sums.append(s)
            return pd.DataFrame({"_n": counts, "_slp": sums})

        partials = docs.select(
            id_col, kn_partials(F.col(text_col)).alias("_s")
        ).select(id_col, F.col("_s._n").alias("_n"), F.col("_s._slp").alias("_slp"))
        # ONE narrow aggregate restores score()'s per-DISTINCT-id
        # contract (duplicate ids merge their grams; groupBy puts every
        # NULL id in one group, matching the relational eqNullSafe join)
        return partials.groupBy(id_col).agg(
            F.sum("_n").alias("n_ngrams"),
            F.when(
                F.sum("_n") > 0, -F.sum("_slp") / F.sum("_n")
            ).alias("avg_nll"),
        )


class BigramKN:
    """Fitted interpolated-KN bigram model: three driverless tables —
    ``probs`` (w1, w2, p) for observed bigrams, ``contexts`` (w1, lam)
    for backoff weights, ``cont`` (w2, pcont) for the continuation
    distribution — plus the scalar discount/type-count.  All tables are
    corpus-derived DataFrames; nothing model-sized ever lives on the
    driver, so the fit scales to any corpus."""

    def __init__(
        self,
        probs: DataFrame,
        contexts: DataFrame,
        cont: DataFrame,
        discount: float,
        n_bigram_types: int,
        _bg: DataFrame | None = None,
    ):
        self.probs = probs
        self.contexts = contexts
        self.cont = cont
        self.discount = discount
        self.n_bigram_types = n_bigram_types
        # the checkpointed bigram-count table every model table derives
        # from — the model's resident state, released by unpersist()
        self._bg = _bg

    def unpersist(self) -> None:
        """Release the fitted model's checkpointed bigram table (its
        only resident state).  The model's DataFrames re-derive from
        lineage after this but every action re-runs the corpus
        tokenize+count — call when done with the model, the same
        lifecycle discipline as the iterative operators' checkpoints."""
        if self._bg is not None:
            self._bg.unpersist()

    # -- fit -------------------------------------------------------------

    @classmethod
    def fit(
        cls,
        corpus: DataFrame,
        text_col: str = "text",
        discount: float = DEFAULT_DISCOUNT,
    ) -> "BigramKN":
        if not 0.0 < discount < 1.0:
            # D outside (0,1) breaks the probability axioms: D≥1 can
            # zero every observed term, D≤0 un-discounts and λ goes
            # non-positive — fail at fit, not as NaN perplexities later
            raise ValueError(f"KN discount must be in (0, 1), got {discount}")
        bg = (
            doc_bigrams(corpus, text_col)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c12"))
            # every derived table (and every later score) re-reads
            # this: checkpoint so the tokenize+pair+count subtree runs
            # once.  The blocks are the MODEL's resident state —
            # BigramKN.unpersist() releases them when the caller is
            # done (a fit-scoped unpersist would silently re-run the
            # corpus count on every score action)
            .localCheckpoint(eager=True)
        )
        ctx = bg.groupBy("w1").agg(
            F.sum("c12").alias("c1"),
            F.count(F.lit(1)).alias("n1_fwd"),  # N1+(w1 ·)
        )
        n1_bwd = bg.groupBy("w2").agg(
            F.count(F.lit(1)).alias("n1_bwd")  # N1+(· w2)
        )
        n_types = bg.count()  # N1+(· ·)
        d = F.lit(float(discount))
        cont = n1_bwd.select(
            "w2", (F.col("n1_bwd") / F.lit(float(n_types))).alias("pcont")
        )
        contexts = ctx.select(
            "w1",
            (d * F.col("n1_fwd") / F.col("c1")).alias("lam"),
            "c1",
        )
        probs = (
            bg.join(contexts, "w1")
            .join(cont, "w2")
            .select(
                "w1",
                "w2",
                (
                    F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
                    + F.col("lam") * F.col("pcont")
                ).alias("p"),
            )
        )
        return cls(probs, contexts.drop("c1"), cont, discount, n_types, _bg=bg)

    # -- score -----------------------------------------------------------

    def score(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        p_floor: float = 1e-9,
    ) -> DataFrame:
        """(id_col, n_bigrams, avg_nll) — per-document mean negative
        log-likelihood under the fitted model, the CCNet-style quality
        signal (lower = more natural under the training corpus).

        Backoff exactly as the formula dictates, via two LEFT joins:
        observed bigram → full interpolated p; unseen bigram in a SEEN
        context → λ(w1)·Pcont(w2); unseen context → Pcont(w2); a w2 the
        model has never seen ANYWHERE has Pcont = 0 and floors at
        ``p_floor`` (the standard OOV guard — log 0 would poison the
        doc's score).  Docs with <2 tokens report n_bigrams=0 and NULL
        avg_nll: no evidence is not the same as perfect fluency."""
        bgs = doc_bigrams(docs, text_col, keep_cols=[id_col])
        joined = (
            bgs.join(self.probs, ["w1", "w2"], "left")
            .join(self.contexts, "w1", "left")
            .join(self.cont, "w2", "left")
            .select(
                id_col,
                F.greatest(
                    F.coalesce(
                        F.col("p"),  # observed bigram
                        F.col("lam") * F.col("pcont"),  # seen ctx backoff
                        F.col("pcont"),  # unseen ctx: continuation only
                    ),
                    F.lit(float(p_floor)),  # fully-OOV floor
                ).alias("_p"),
            )
        )
        scored = joined.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum(F.log("_p")) / F.count(F.lit(1))).alias("avg_nll"),
        )
        # <2-token docs emitted no bigram rows: restore them with NULL
        # scores so the output covers every input document.  NULL-SAFE
        # id join — the corpus-wide id convention (a NULL-id doc's
        # score must reach its row, not vanish into an unmatched left
        # side; groupBy above already grouped NULL ids together)
        ids = docs.select(id_col).distinct()
        return ids.join(
            scored,
            on=ids[id_col].eqNullSafe(scored[id_col]),
            how="left",
        ).select(
            ids[id_col].alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_nll",
        )
