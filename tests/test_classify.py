"""Quality classifier (operators/classify.py): separation on a synthetic
quality split, deterministic soft-boundary lottery, map-only scoring."""
from __future__ import annotations

import math

import pytest

from dbbspark.operators.classify import (
    quality_filter,
    score_quality,
    train_quality_classifier,
)

GOOD = [
    "the committee published its annual report on regional water quality",
    "researchers observed a measurable decline in seasonal rainfall totals",
    "the library extended its opening hours after community consultation",
    "engineers completed the bridge inspection ahead of schedule",
    "the orchestra performed three new commissions this season",
    "local farmers adopted drought resistant crop varieties last year",
    "the museum restored a collection of nineteenth century maps",
    "city council approved funding for two new cycling corridors",
]
BAD = [
    "click here buy now cheap cheap best price click here",
    "win win win free free casino bonus click subscribe now",
    "cheap pills best price free shipping click click buy",
    "subscribe now win free bonus casino casino best odds",
    "buy cheap buy cheap free free free click here now",
    "best casino bonus free spins click subscribe win now",
    "free shipping best price buy now click here cheap",
    "casino bonus subscribe win free pills cheap click",
]


@pytest.fixture(scope="module")
def model_and_scored(spark):
    labeled = spark.createDataFrame(
        [(t, 1.0) for t in GOOD] + [(t, 0.0) for t in BAD],
        "text string, label double",
    )
    model = train_quality_classifier(labeled, num_features=1 << 12)
    held_out = spark.createDataFrame(
        [
            (1, "the committee reviewed the annual rainfall report"),
            (2, "click now free casino bonus cheap pills"),
        ],
        "doc_id long, text string",
    )
    scored = score_quality(held_out, model)
    return model, scored


def test_separates_held_out(spark, model_and_scored):
    _, scored = model_and_scored
    s = {r["doc_id"]: r["quality_score"] for r in scored.collect()}
    assert s[1] > 0.8 and s[2] < 0.2


def test_scoring_is_map_only(spark, model_and_scored):
    _, scored = model_and_scored
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle in the scoring path


def test_schema_clean_after_scoring(spark, model_and_scored):
    _, scored = model_and_scored
    assert set(scored.columns) == {"doc_id", "text", "quality_score"}


def test_hard_threshold_filter(spark, model_and_scored):
    _, scored = model_and_scored
    kept = quality_filter(scored, threshold=0.5).collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_soft_boundary_is_deterministic_and_monotone(spark):
    # synthetic scores straddling the threshold; no model needed
    rows = [(i, 0.5 - i * 0.004) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, quality_score double")
    a = {r["doc_id"] for r in quality_filter(df, alpha=10.0, seed=7).collect()}
    b = {r["doc_id"] for r in quality_filter(df, alpha=10.0, seed=7).collect()}
    assert a == b  # same lottery on re-run
    strict = {r["doc_id"] for r in quality_filter(df).collect()}
    assert strict <= a  # soft mode only ever keeps MORE
    assert len(a) > len(strict)  # and does keep some near-misses
    far = {r["doc_id"] for r in quality_filter(df, alpha=200.0, seed=7).collect()}
    assert len(far) <= len(a)  # steeper decay keeps fewer


def test_portable_featurization_matches_ml_pipeline(spark):
    """The portable scorer's gram list (`_clf_grams`, the helper its
    Arrow UDF folds over) must equal the ml pipeline's
    RegexTokenizer+NGram output (as multisets) on ASCII text — the
    parity pin behind the r13 oracle fold, which swaps only the hash
    family and weights, never the featurization semantics."""
    from collections import Counter

    from pyspark.ml.feature import NGram, RegexTokenizer

    from dbbspark.operators.classify import _TOKEN_PATTERN, _clf_grams

    rows = [
        (1, "The committee, published. its 2024 report!"),
        (2, "one"),
        (3, ""),
        (4, "  leading   and trailing  "),
        (5, "MIXED case AND123 numbers456 split"),
        (6, "punct-only !!! ??? ..."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tok = RegexTokenizer(
        inputCol="text", outputCol="toks", pattern=_TOKEN_PATTERN,
        toLowercase=True,
    )
    ng = NGram(n=2, inputCol="toks", outputCol="bigrams")
    ml = {
        r["doc_id"]: Counter(r["toks"]) + Counter(r["bigrams"])
        for r in ng.transform(tok.transform(docs)).collect()
    }
    portable = {doc_id: Counter(_clf_grams(text)) for doc_id, text in rows}
    assert portable == ml


def test_portable_score_is_deterministic_and_map_only(spark):
    """The portable scorer is a pure projection (no Exchange) and its
    margin is reproducible across plans."""
    from dbbspark.operators.classify import score_linear_portable

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "beta beta beta"), (3, "")],
        "doc_id long, text string",
    )
    scored = score_linear_portable(docs)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    a = {r["doc_id"]: r["clf_score_margin"] for r in scored.collect()}
    b = {
        r["doc_id"]: r["clf_score_margin"]
        for r in score_linear_portable(docs.repartition(3)).collect()
    }
    assert a == b
    assert a[3] == 0.0  # empty doc: zero grams, zero margin
    # occurrence weighting: repeated gram contributes per occurrence
    one = score_linear_portable(
        spark.createDataFrame([(1, "beta")], "doc_id long, text string")
    ).first()["clf_score_margin"]
    assert abs(a[2] - (3 * one + 2 * _bigram_w(spark, "beta beta"))) < 1e-12


def _bigram_w(spark, gram):
    from dbbspark.operators.dedup import md5_int_py

    return (
        ((md5_int_py(gram) % 4096) * 2654435761) % 2000003 - 1000001
    ) / 1000001.0 * 0.01


def test_scorer_margins_match_oracle_sql(spark):
    """The scorer's margins equal the DuckDB oracle's re-derivation
    (`CLF_TOKS_SQL` → `CLF_MARGIN_SQL`, the q_exact_dedup check) within
    1e-12 on edge rows: empty and whitespace-only text, single-token
    docs, repeated grams, non-ASCII fold, a long doc. NULL text scores
    NULL on the Spark side (the oracle SQL coalesces it to 0.0; the
    fixtures hold no NULL text)."""
    import duckdb
    import pandas as pd

    from dbbspark.operators.classify import (
        CLF_MARGIN_SQL,
        CLF_TOKS_SQL,
        score_linear_portable,
    )

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "beta"),
        (5, "beta beta beta beta"),
        (6, "The QUICK brown-fox; jumps_over 42 lazy dogs!"),
        (7, "café naïve 中文 résumé"),
        (8, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clf_score_margin"], r["clf_score"])
        for r in score_linear_portable(docs).collect()
    }
    assert got[1] == (None, None)
    texts = pd.DataFrame(rows[1:], columns=["doc_id", "text"])  # noqa: F841
    want = dict(
        duckdb.sql(
            f"""WITH tk AS (SELECT doc_id, {CLF_TOKS_SQL('text')} AS toks
                            FROM texts)
                SELECT doc_id, CAST({CLF_MARGIN_SQL('toks')} AS DOUBLE)
                FROM tk"""
        ).fetchall()
    )
    assert set(want) == {d for d, _ in rows[1:]}
    for doc_id, margin in want.items():
        m, score = got[doc_id]
        assert abs(m - margin) <= 1e-12, (doc_id, m, margin)
        assert abs(score - 1.0 / (1.0 + math.exp(-m))) <= 1e-15
    assert want[2] == want[3] == 0.0 and want[5] != 0.0
