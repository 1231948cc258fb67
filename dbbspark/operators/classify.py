"""Trainable quality classifier — the fasttext-shaped linear model every
published pretraining-data pipeline uses for model-based quality
filtering (training-pipeline closure, SURVEY.md §2.11; the heuristic
quality signals live in queries/text.py, the LM-perplexity filter in
operators/lm.py — this is the third, supervised leg).

The published recipe (GPT-3/LLaMA-style "quality classifier"): label a
small positive set (reference corpus) against random crawl negatives,
train a linear classifier over hashed bag-of-words+bigram features, keep
documents whose positive probability clears a threshold (optionally with
probabilistic pareto-sampling near the boundary). A linear model over
hashed n-grams is exactly fasttext's architecture, re-expressed here on
Spark ML primitives so both training and scoring are distributed:

- featurization: tokenize (JVM regex) → unigrams + bigrams → HashingTF
  into a fixed 2^18-dim sparse vector. Hashing means NO vocabulary
  state: the "model" is one dense coefficient vector, broadcastable to
  any cluster size, and featurization is identical at train and score
  time by construction.
- training: `pyspark.ml` LogisticRegression (distributed L-BFGS). The
  labeled set is typically small (10⁴-10⁶ docs) — training cost is
  irrelevant next to scoring cost.
- scoring: the fitted PipelineModel is a map-only transform (Tungsten
  vector ops, no shuffle, no Python); at 100 TB it fuses into the scan
  like any other projection.

`quality_filter` applies the GPT-3 retention rule: keep when
score > threshold OR when a per-document deterministic lottery
(xxhash64-seeded, so re-runs keep the same documents) beats
exp(-alpha * (threshold - score)) — soft boundary sampling that keeps
some near-miss documents instead of a hard cliff.

`score_linear_portable` is the one scorer the declared queries run
(q_exact_dedup): the same hashed-ngram linear arithmetic with an md5
gram hash and a pinned weight map (``CLF_NUM_FEATURES``,
``CLF_WEIGHT_SCALE``), so the DuckDB oracle re-derives every margin
from `CLF_TOKS_SQL` / `CLF_MARGIN_SQL`. It has a single formulation, an
Arrow pass over `_clf_grams`."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

_TOKEN_PATTERN = r"[^\p{L}\p{N}]+"  # split on non-alphanumeric runs


def _featurize_stages(text_col: str, num_features: int):
    from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer, SQLTransformer

    return [
        RegexTokenizer(
            inputCol=text_col,
            outputCol="__toks",
            pattern=_TOKEN_PATTERN,
            toLowercase=True,
        ),
        NGram(n=2, inputCol="__toks", outputCol="__bigrams"),
        SQLTransformer(
            statement="SELECT *, concat(__toks, __bigrams) AS __grams FROM __THIS__"
        ),
        HashingTF(
            inputCol="__grams", outputCol="__features", numFeatures=num_features
        ),
    ]


def train_quality_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = 1 << 18,
    reg_param: float = 1e-4,
    max_iter: int = 50,
):
    """Fit the hashed-ngram logistic model. ``labeled`` carries
    (text_col, label_col∈{0.0, 1.0}); label 1 = the quality-positive
    class. Returns a PipelineModel whose transform is map-only."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression

    lr = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        regParam=reg_param,
        maxIter=max_iter,
    )
    pipe = Pipeline(stages=_featurize_stages(text_col, num_features) + [lr])
    return pipe.fit(labeled)


def score_quality(
    docs: DataFrame, model, text_col: str = "text", score_col: str = "quality_score"
) -> DataFrame:
    """docs + score_col = P(label=1 | text) from the fitted model; all
    intermediate feature columns dropped. Map-only — no shuffle."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(docs)
    return scored.withColumn(
        score_col, vector_to_array(F.col("probability")).getItem(1)
    ).drop("__toks", "__bigrams", "__grams", "__features",
           "rawPrediction", "probability", "prediction")


# The portable scorer's fixed hashed-ngram model: gram buckets and the
# spread of the pinned weights, shared by the Spark scorer and the
# DuckDB oracle SQL below.
CLF_NUM_FEATURES = 4096
CLF_WEIGHT_SCALE = 0.01

_NONPRINT = re.compile(r"[^ -~]")
_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def _clf_grams(text: str) -> list[str]:
    """The portable scorer's gram list for one text, in fold order:
    ASCII-fold (bytes outside 0x20-0x7E become spaces), lowercase, split
    on non-alphanumeric runs, drop empties, then the unigrams followed by
    the adjacent bigrams."""
    toks = [t for t in _NON_ALNUM.split(_NONPRINT.sub(" ", text).lower()) if t]
    if len(toks) < 2:
        return toks
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def score_linear_portable(
    docs: DataFrame,
    text_col: str = "text",
    score_col: str = "clf_score",
) -> DataFrame:
    """Engine-portable scoring twin of `score_quality` — the same
    hashed-ngram linear-model arithmetic (lowercase, split on
    non-alphanumeric runs, unigrams + bigrams, hashed bag-of-grams →
    linear margin → logistic link), re-expressed so EVERY step is
    re-derivable in a second SQL engine, which is what puts the
    classifier scoring path under the DuckDB value oracle
    (q_exact_dedup fold, r13; `CLF_TOKS_SQL` / `CLF_MARGIN_SQL`). Two
    substitutions vs the ml pipeline, both pinned:

    - the gram hash is the md5-derived bigint (`dedup.md5_int_py` %
      ``CLF_NUM_FEATURES``) — HashingTF's murmur3_x86_32 has no DuckDB
      equivalent; the hash FAMILY changes, the hashed-bag-of-grams
      architecture does not (`_clf_grams` is pinned against
      RegexTokenizer+NGram in tests/test_classify.py);
    - the coefficient vector is the pinned deterministic map
      w(j) = ((j·2654435761 mod 2000003) − 1000001)/1000001 ·
      ``CLF_WEIGHT_SCALE`` (a Knuth-multiplicative spread of the bucket
      index over (−scale, scale)) instead of fitted L-BFGS weights —
      scoring arithmetic is identical either way: the sparse dot
      product is the sum over gram OCCURRENCES of w(h(gram)).

    Tokenization is ASCII-folded first so both engines tokenize
    identically without depending on locale/ICU case-mapping
    differences for exotic code points.

    One ArrowEvalPython node computes the margin per batch (r14, guide
    §4): the weight arithmetic is exact int64 then one float64
    division/multiply, folded left to right over `_clf_grams`. Gram
    weights are a pure function of the gram, so a per-batch memo
    collapses Zipf-repeated grams to one md5 each (558× repetition in
    the fixture; bounded at 1M entries so executor memory stays capped
    on adversarial vocabularies). No cross-run state: the memo lives and
    dies inside each Arrow batch call. Interleaved A/B on the
    q_exact_dedup host at sf0.1 against a Spark higher-order-function
    form of the same margin: 1.19 → 0.55 s.

    Map-only, no shuffle. Returns docs + ``{score_col}_margin`` +
    ``score_col`` (sigmoid of the margin); NULL text → NULL
    margin/score."""
    import pandas as pd
    from pyspark.sql import types as T

    # no type annotations: pandas_udf would try to resolve them against
    # the function-local `pd` import and reject the signature
    def _margin_batch(text):
        import hashlib

        md5 = hashlib.md5
        memo: dict[str, float] = {}

        def w(g: str) -> float:
            v = memo.get(g)
            if v is None:
                h = int(md5(g.encode()).hexdigest()[:15], 16)
                v = (
                    ((h % CLF_NUM_FEATURES) * 2654435761 % 2000003 - 1000001)
                    / 1000001.0
                    * CLF_WEIGHT_SCALE
                )
                if len(memo) < 1_000_000:
                    memo[g] = v
            return v

        out = []
        for t in text.tolist():
            if t is None:
                out.append(None)
                continue
            acc = 0.0
            for g in _clf_grams(t):
                acc += w(g)
            out.append(acc)
        # float64 end to end: NaN never arises from finite weight sums,
        # so None→NaN→null round-trips exactly on the Arrow boundary
        return pd.Series(out, dtype="float64")

    margin_udf = F.pandas_udf(_margin_batch, T.DoubleType())
    m = docs.withColumn(f"{score_col}_margin", margin_udf(F.col(text_col)))
    return m.withColumn(
        score_col,
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(f"{score_col}_margin"))),
    )


def CLF_TOKS_SQL(text_expr: str) -> str:
    """DuckDB SQL for `score_linear_portable`'s token list (ASCII-fold →
    lower → split on non-alphanumeric runs → drop empties) — put this in
    a CTE so the split evaluates once per doc."""
    return (
        f"list_filter(string_split_regex(lower(regexp_replace({text_expr}, "
        f"'[^ -~]', ' ', 'g')), '[^a-z0-9]+'), t -> t <> '')"
    )


def CLF_MARGIN_SQL(toks_expr: str) -> str:
    """DuckDB SQL re-deriving `score_linear_portable`'s margin from an
    already-derived token-list column — kept in lockstep with
    `_clf_grams` and the scorer's weight map (the oracle side of the
    r13 fold)."""
    return f"""coalesce(list_sum(list_transform(
        CASE WHEN len({toks_expr}) >= 2
             THEN list_concat({toks_expr},
                    list_transform(range(1, len({toks_expr})),
                      i -> {toks_expr}[i] || ' ' || {toks_expr}[i+1]))
             ELSE {toks_expr} END,
        g -> (((CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
                % {CLF_NUM_FEATURES}) * 2654435761) % 2000003 - 1000001)
             / 1000001.0 * {CLF_WEIGHT_SCALE})), 0.0)"""


def quality_filter(
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
    threshold: float = 0.5,
    alpha: float | None = None,
    seed: int = 0,
) -> DataFrame:
    """Keep rows clearing the threshold; with ``alpha``, additionally keep
    near-misses with probability exp(-alpha * (threshold - score)) — the
    GPT-3 pareto-style soft boundary. The lottery is xxhash64(id, seed)
    mapped to [0,1): deterministic per document, so a re-run (or a
    backfill on another cluster) keeps exactly the same set."""
    keep = F.col(score_col) > F.lit(threshold)
    if alpha is not None:
        u = (
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000_007))
            / F.lit(1_000_000_007.0)
        )
        keep = keep | (
            u < F.exp(-F.lit(alpha) * (F.lit(threshold) - F.col(score_col)))
        )
    return scored.where(keep)
