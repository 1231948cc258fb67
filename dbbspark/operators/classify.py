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
some near-miss documents instead of a hard cliff."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

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


def score_linear_portable(
    docs: DataFrame,
    text_col: str = "text",
    score_col: str = "clf_score",
    num_features: int = 4096,
    weight_scale: float = 0.01,
) -> DataFrame:
    """Engine-portable scoring twin of `score_quality` — the same
    hashed-ngram linear-model arithmetic (lowercase, split on
    non-alphanumeric runs, unigrams + bigrams, hashed bag-of-grams →
    linear margin → logistic link), re-expressed so EVERY step is
    re-derivable in a second SQL engine, which is what puts the
    classifier scoring path under the DuckDB value oracle
    (q_exact_dedup fold, r13). Two substitutions vs the ml pipeline,
    both pinned and documented:

    - the gram hash is the md5-derived bigint (`dedup.MD5_INT_SPARK_SQL` %
      ``num_features``) — HashingTF's murmur3_x86_32 has no DuckDB
      equivalent; the hash FAMILY changes, the hashed-bag-of-grams
      architecture does not (featurization parity with
      RegexTokenizer+NGram is pinned in tests/test_classify.py);
    - the coefficient vector is the pinned deterministic map
      w(j) = ((j·2654435761 mod 2000003) − 1000001)/1000001 ·
      ``weight_scale`` (a Knuth-multiplicative spread of the bucket
      index over (−scale, scale)) instead of fitted L-BFGS weights —
      scoring arithmetic is identical either way: the sparse dot
      product is the sum over gram OCCURRENCES of w(h(gram)).

    Tokenization is ASCII-folded first (bytes outside 0x20-0x7E become
    separators) so both engines tokenize identically without depending
    on locale/ICU case-mapping differences for exotic code points.
    Map-only, JVM-side, no UDF — fuses into the scan like the ml
    scorer's transform. Returns docs + ``score_col`` (sigmoid of the
    margin) and ``{score_col}_margin``."""
    from .dedup import MD5_INT_SPARK_SQL

    ascii_txt = F.regexp_replace(F.col(text_col), "[^ -~]", " ")
    toks = F.filter(
        F.split(F.lower(ascii_txt), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    d = docs.withColumn("__toks", toks)
    grams = (
        "CASE WHEN size(__toks) >= 2 THEN concat(__toks, "
        "transform(sequence(1, greatest(size(__toks) - 1, 0)), "
        "i -> concat(__toks[i-1], ' ', __toks[i]))) ELSE __toks END"
    )
    # doubles as 1.0D: a bare 1.0 is DECIMAL in Spark SQL
    weight = (
        f"(((({MD5_INT_SPARK_SQL('g')} % {int(num_features)}) * 2654435761L) "
        f"% 2000003 - 1000001) / 1000001.0D * {float(weight_scale)!r}D)"
    )
    margin = F.expr(f"aggregate({grams}, 0.0D, (acc, g) -> acc + {weight})")
    return (
        d.withColumn(f"{score_col}_margin", margin)
        .withColumn(
            score_col,
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(f"{score_col}_margin"))),
        )
        .drop("__toks")
    )


def score_linear_portable_arrow(
    docs: DataFrame,
    text_col: str = "text",
    score_col: str = "clf_score",
    num_features: int = 4096,
    weight_scale: float = 0.01,
) -> DataFrame:
    """Arrow-pass twin of `score_linear_portable` — bit-identical output
    (r14, guide §4): the expression form pays an interpreted
    higher-order `aggregate` with one JVM md5 per gram OCCURRENCE
    (~120/doc) and never reaches whole-stage codegen. Here ONE
    ArrowEvalPython node computes the margin per batch:

    - tokenize/bigram rules mirror the expression form per code point
      (ASCII fold regex, lower, split on non-alphanumeric runs — all
      exact-equivalent on the post-fold ASCII text);
    - the weight arithmetic is exact int64 → one float64 division/
      multiply in the same order, and the margin is the same
      left-to-right float fold, so margins are BIT-identical (pinned
      against the expression form in tests/test_classify.py, 0
      mismatches at sf0.1 in plans/r14/probe_exact_dedup_arrow.py);
    - gram weights are a pure function of the gram, so a per-batch memo
      collapses Zipf-repeated grams to one md5 each (558× repetition in
      the fixture; bounded at 1M entries so executor memory stays
      capped on adversarial vocabularies). No cross-run state: the memo
      lives and dies inside each Arrow batch call.

    Interleaved A/B on the q_exact_dedup host at sf0.1: 1.19 → 0.55 s.
    Returns docs + ``{score_col}_margin`` + ``score_col`` exactly like
    the expression form (NULL text → NULL margin/score)."""
    import pandas as pd
    from pyspark.sql import types as T

    import re as _re

    nonprint = _re.compile(r"[^ -~]")
    splitter = _re.compile(r"[^a-z0-9]+")

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
                    ((h % num_features) * 2654435761 % 2000003 - 1000001)
                    / 1000001.0
                    * weight_scale
                )
                if len(memo) < 1_000_000:
                    memo[g] = v
            return v

        out = []
        for t in text.tolist():
            if t is None:
                out.append(None)
                continue
            toks = [x for x in splitter.split(nonprint.sub(" ", t).lower()) if x]
            if len(toks) >= 2:
                grams = toks + [
                    f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
                ]
            else:
                grams = toks
            acc = 0.0
            for g in grams:
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


def CLF_MARGIN_SQL(toks_expr: str, num_features: int = 4096,
                   weight_scale: float = 0.01) -> str:
    """DuckDB SQL re-deriving `score_linear_portable`'s margin from an
    already-derived token-list column — kept in lockstep with the Spark
    expressions above (the oracle side of the r13 fold)."""
    return f"""coalesce(list_sum(list_transform(
        CASE WHEN len({toks_expr}) >= 2
             THEN list_concat({toks_expr},
                    list_transform(range(1, len({toks_expr})),
                      i -> {toks_expr}[i] || ' ' || {toks_expr}[i+1]))
             ELSE {toks_expr} END,
        g -> (((CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
                % {num_features}) * 2654435761) % 2000003 - 1000001)
             / 1000001.0 * {weight_scale})), 0.0)"""


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
