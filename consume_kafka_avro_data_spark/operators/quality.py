"""Learned quality filtering — the classifier stage of an LLM data
pipeline (charter U7), complementing the repo's two heuristic gates.

Public-knowledge lineage: GPT-3 (Brown et al. 2020, Appendix A) and
CCNet (Wenzek et al. 2020) filter web corpora with a LINEAR classifier
over bag-of-words features, trained to separate a small trusted corpus
(label 1) from raw crawl (label 0), then keep documents by predicted
probability.  The heuristic siblings already shipped here are
``operators/text.quality_score`` (feature thresholds) and the Gopher
rule gate (``q_gopher_rules``); this module adds the LEARNED tier as a
standard Spark ML pipeline, because that is exactly what MLlib's
tokenize → hash → logistic-regression stack is for:

* featurization is map-only (RegexTokenizer + HashingTF: fixed-width
  sparse vectors, no vocabulary shuffle, no fitting pass);
* training is MLlib's L-BFGS logistic regression — per-iteration cost
  is one treeAggregate over the corpus, driver state is ONE
  coefficient vector of ``n_features`` floats (2¹⁵ by default: 256 KB
  at any corpus size);
* scoring is map-only again — at 100 TB the filter runs at parquet
  scan speed, like every other per-document feature extractor.

Determinism: featurization is hash-based (no RNG); LBFGS from a fixed
zero init is deterministic up to float aggregation order — runs are
reproducible on a fixed layout, and tests pin classification QUALITY
(separability on held-out docs) rather than bit-exact coefficients,
which would pin an aggregation order the engine does not promise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: defaults sized so driver state (the coefficient vector) is KBs and
#: hash collisions stay rare at quality-filter vocabulary sizes
N_FEATURES = 1 << 15


def quality_training_frame(
    high: DataFrame, low: DataFrame
) -> DataFrame:
    """Label a trusted corpus 1 and a raw corpus 0 — the GPT-3/CCNet
    weak-labeling recipe (no hand labels; the trusted side IS the
    label).  Only the text column is kept: training must not see
    incidental columns that leak the split."""
    text_col = "text"
    return high.select(
        F.col(text_col).alias("text"), F.lit(1.0).alias("label")
    ).unionByName(
        low.select(F.col(text_col).alias("text"), F.lit(0.0).alias("label"))
    )


def _pipeline(n_features: int, reg_param: float, max_iter: int):
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    return Pipeline(
        stages=[
            # the corpus-wide tokenization convention (lowercase,
            # whitespace runs) — operators/text.tokens' shape, expressed
            # as the ML-pipeline transformer so the fitted model carries
            # its own featurization
            RegexTokenizer(
                inputCol="text",
                outputCol="_toks",
                pattern=r"\s+",
                toLowercase=True,
            ),
            HashingTF(
                inputCol="_toks", outputCol="features", numFeatures=n_features
            ),
            LogisticRegression(
                featuresCol="features",
                labelCol="label",
                maxIter=max_iter,
                regParam=reg_param,
                family="binomial",
            ),
        ]
    )


def train_quality_classifier(
    labeled: DataFrame,
    n_features: int = N_FEATURES,
    max_iter: int = 50,
):
    """Fit the tokenize → hash → logistic-regression pipeline on a
    (text, label) frame (see :func:`quality_training_frame`).  Returns
    the fitted ``PipelineModel`` — persist with ``model.save(path)``
    and reload with ``PipelineModel.load`` (both tested), so the
    deployed filter is a load + one map-only transform."""
    reg_param = 1e-3
    if "label" not in labeled.columns or "text" not in labeled.columns:
        raise ValueError(
            "training frame needs (text, label) columns — build it with "
            "quality_training_frame(high, low)"
        )
    return _pipeline(n_features, reg_param, max_iter).fit(labeled)


def quality_probability(
    model,
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Score documents with a fitted classifier: appends ``quality_prob`` =
    P(label=1 | text) and drops the pipeline's intermediate columns.
    NULL text scores as empty text (the corpus-wide NULL convention) —
    the transformer would otherwise throw on nulls mid-scan.

    The caller's columns come back UNTOUCHED (NULL text stays NULL; a
    pre-existing ``text`` column is never clobbered when scoring some
    other ``text_col``): the originals ride through the transform
    packed in a struct, and the model's fixed ``text`` input column is
    a derived coalesced copy that never escapes."""
    from pyspark.ml.functions import vector_to_array

    out_col = "quality_prob"
    orig = "_orig"
    while orig in docs.columns:
        orig += "_"
    prepped = docs.select(
        F.struct(*docs.columns).alias(orig),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    scored = model.transform(prepped)
    return scored.select(
        *[F.col(orig).getField(c).alias(c) for c in docs.columns],
        vector_to_array(F.col("probability")).getItem(1).alias(out_col),
    )
