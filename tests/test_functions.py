"""Unit tests for the shared column builders in dbbspark.functions
(the declared queries exercise them end-to-end against the DuckDB
oracle; these pin semantics on crafted inputs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbbspark.functions import dup_ratio, ngram_array


def _metrics(spark, text: str) -> dict:
    df = spark.createDataFrame([(text,)], ["text"]).select(
        F.split("text", " ").alias("toks")
    )
    row = df.select(
        dup_ratio("toks").alias("tok"),
        dup_ratio(ngram_array("toks", 2)).alias("g2"),
        dup_ratio(ngram_array("toks", 3)).alias("g3"),
        ngram_array("toks", 3).alias("g3_arr"),
    ).first()
    return row.asDict()


def test_repetition_signals_separate_spam_from_clean(spark):
    spam = _metrics(spark, "buy now " * 20 + "buy now")  # one bigram looped
    clean = _metrics(spark, " ".join(f"w{i}" for i in range(42)))
    assert clean["tok"] == 0.0 and clean["g2"] == 0.0 and clean["g3"] == 0.0
    assert spam["tok"] > 0.9  # 42 tokens, 2 distinct
    assert spam["g2"] > 0.9  # "buy now"/"now buy" dominate
    assert spam["g3"] > 0.9


def test_ngram_array_short_doc_edges(spark):
    # shorter than n -> empty array, never a descending-sequence blowup
    assert _metrics(spark, "one two")["g3_arr"] == []
    assert _metrics(spark, "a")["g3_arr"] == []
    # exactly n tokens -> single n-gram, zero dup ratio
    m = _metrics(spark, "a b c")
    assert m["g3_arr"] == ["a b c"] and m["g3"] == 0.0


def test_char_weighted_repetition_fractions(spark):
    """r10 Gopher char-weighted forms (functions.dup_char_fraction /
    top_run_char_fraction): hand-computed fractions over sorted arrays,
    plus the empty / all-equal / zero-char edges."""
    from dbbspark.functions import dup_char_fraction, top_run_char_fraction

    def frac(values, fn):
        df = spark.createDataFrame([(values,)], "arr array<string>")
        return df.select(
            fn(F.array_sort(F.col("arr"))).alias("f")
        ).first()["f"]

    # lines: "aaaa" twice (4 dup chars), "bb" once -> 4 / (4+4+2)
    assert frac(["aaaa", "bb", "aaaa"], dup_char_fraction) == round(4 / 10, 4)
    # no duplicates -> 0; all-equal -> (k-1)/k of the chars
    assert frac(["x", "yy"], dup_char_fraction) == 0.0
    assert frac(["ccc"] * 4, dup_char_fraction) == round(9 / 12, 4)
    # empty array and zero-length elements -> 0.0, no divide error
    assert frac([], dup_char_fraction) == 0.0
    assert frac(["", ""], dup_char_fraction) == 0.0

    # top run: "ab ab ab" (6 chars) vs "cdcd" (4) -> 6 / 10
    assert frac(["ab", "cdcd", "ab", "ab"], top_run_char_fraction) == round(
        6 / 10, 4
    )
    # a LONG rare gram can beat a frequent short one: count*len decides
    assert frac(
        ["zzzzzzzzzz", "a", "a", "a"], top_run_char_fraction
    ) == round(10 / 13, 4)
    assert frac([], top_run_char_fraction) == 0.0


# --- r14: q_doc_metrics Arrow-pass equivalence pins ------------------------


def _hof_doc_metrics(docs):
    """The r13 interpreted-HOF projection of q_doc_metrics' text-derived
    columns, reconstructed verbatim (same expression trees) — the
    equivalence oracle for the r14 one-Arrow-pass rewrite."""
    from dbbspark.functions import (
        dup_char_fraction,
        dup_ratio,
        ngram_array,
        top_run_char_fraction,
    )
    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL
    from dbbspark.operators.winnow import fingerprints_expr, gram_hashes_expr

    toks = F.split(F.col("text"), " ")
    docs = docs.withColumn(
        "__wtext",
        F.when(
            F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 20 == 0,
            F.col("text"),
        ),
    )
    m = docs.select(
        "doc_id",
        toks.alias("__toks"),
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to", "in", "is"))
        ).alias("sw_hits"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("bpe_ish_tokens"),
        F.array_sort(F.split(F.col("text"), "\n")).alias("__lines_s"),
        F.expr(gram_hashes_expr("__wtext", 8, MD5_INT_SPARK_SQL("{g}"))).alias("__wg"),
    ).select(
        "*",
        ngram_array(F.col("__toks"), 2).alias("__g2"),
        ngram_array(F.col("__toks"), 3).alias("__g3"),
    ).select(
        "*",
        F.array_sort(F.col("__g2")).alias("__g2s"),
        F.expr(fingerprints_expr("__wg", 4)).alias("__wfp"),
    )
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("bpe_ish_tokens").cast("bigint").alias("bpe_ish_tokens"),
        F.col("sw_hits").cast("bigint").alias("en_hits"),
        dup_ratio(F.col("__toks")).alias("dup_token_ratio"),
        dup_ratio(F.col("__g2")).alias("dup_2gram_ratio"),
        dup_ratio(F.col("__g3")).alias("dup_3gram_ratio"),
        dup_char_fraction(F.col("__lines_s")).alias("dup_line_char_frac"),
        top_run_char_fraction(F.col("__g2s")).alias("top_2gram_char_frac"),
        F.size(F.col("__wfp")).cast("bigint").alias("wfp_n"),
        F.array_min(F.col("__wfp")).alias("wfp_min"),
    )


def _arrow_doc_metrics(docs):
    """The r14 derivation: counts from the Arrow pass + the query's JVM
    finishes (kept in lockstep with queries/text.py q_doc_metrics)."""
    from dbbspark.queries.text import doc_text_metrics

    m = docs.select(
        "doc_id", doc_text_metrics(F.col("text"), F.col("doc_id")).alias("__m")
    ).select("doc_id", "__m.*")

    def ratio(d, n):
        return F.when(
            F.col(n) > 0, F.round(1.0 - F.col(d).cast("double") / F.col(n), 4)
        ).otherwise(F.lit(0.0))

    return m.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("bpe_ish_tokens").cast("bigint").alias("bpe_ish_tokens"),
        F.col("sw_hits").cast("bigint").alias("en_hits"),
        ratio("d_tok", "n_tokens").alias("dup_token_ratio"),
        ratio("d_g2", "n_g2").alias("dup_2gram_ratio"),
        ratio("d_g3", "n_g3").alias("dup_3gram_ratio"),
        F.when(F.col("line_tot").isNull(), F.lit(None).cast("double"))
        .when(F.col("line_tot") > 0,
              F.round(F.col("line_dup").cast("double") / F.col("line_tot"), 4))
        .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        F.when(F.col("g2_tot") > 0,
               F.round(F.col("g2_best").cast("double") / F.col("g2_tot"), 4))
        .otherwise(F.lit(0.0)).alias("top_2gram_char_frac"),
        F.col("wfp_n").cast("bigint").alias("wfp_n"),
        F.col("wfp_min").alias("wfp_min"),
    )


def _winnow_stratum_ids(n=4):
    """doc_ids inside the 5% portable-md5 winnow stratum."""
    from dbbspark.operators.dedup import md5_int_py

    out, i = [], 0
    while len(out) < n:
        if md5_int_py(str(i)) % 20 == 0:
            out.append(i)
        i += 1
    return out


def test_doc_metrics_arrow_pass_equals_hof_expressions_on_edges(spark):
    """r14 pin (VERDICT r13 item 1): the one-Arrow-pass metric counts +
    JVM finishes reproduce the r13 interpreted-HOF expressions EXACTLY,
    including the hostile edges: NULL text, empty text, single token,
    consecutive/trailing spaces (split keeps empties), newline dup
    lines, zero-length lines, short-gram winnow docs, and in-stratum
    winnow docs (k=8 md5 grams, w=4 minima)."""
    sids = _winnow_stratum_ids(4)
    rows = [
        (1000003, None),
        (1000005, ""),
        (1000007, "a"),
        (1000009, "a  b "),
        (1000011, "x\ny\nx\ny\nz"),
        (1000013, "the the the of of to"),
        (1000015, "\n\n"),
        (sids[0], "short"),             # in stratum, len < 8 -> no grams
        (sids[1], "exactly8"),          # one gram
        (sids[2], "abcabcabcabc"),      # overlapping grams, dup minima
        (sids[3], "the quick brown fox jumps over the lazy dog the quick"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = {r["doc_id"]: r for r in _hof_doc_metrics(docs).collect()}
    new = {r["doc_id"]: r for r in _arrow_doc_metrics(docs).collect()}
    assert set(old) == set(new)
    for k in old:
        assert old[k] == new[k], f"\nold={old[k]}\nnew={new[k]}"


def test_doc_metrics_arrow_pass_equals_hof_expressions_on_fixture(spark, sf_dir):
    """Same pin over the whole sf fixture (real text distribution)."""
    from dbbspark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = {r["doc_id"]: r for r in _hof_doc_metrics(docs).collect()}
    new = {r["doc_id"]: r for r in _arrow_doc_metrics(docs).collect()}
    assert set(old) == set(new)
    bad = [k for k in old if old[k] != new[k]]
    assert not bad, f"{len(bad)} mismatches, first: {old[bad[0]]} vs {new[bad[0]]}"


def test_url_host_is_invariant_to_id_suffix(spark):
    """r14 pin: HOST_SQL/REGISTERED_DOMAIN_SQL over each q_doc_metrics
    URL stratum are invariant to the appended doc_id (the host capture
    stops at '/', ':' or '?'), so applying the operators to the literal
    prefix — which Catalyst constant-folds — computes the same values."""
    from dbbspark.operators.urls import HOST_SQL, REGISTERED_DOMAIN_SQL

    prefixes = [
        "https://WWW.News.example.com/Story/",
        "http://user@Blog.Test.co.uk:8080/p?q=",
    ]
    for p in prefixes:
        df = spark.createDataFrame(
            [(p,), (p + "0",), (p + "123456789",)], "u string"
        )
        vals = df.select(
            F.expr(HOST_SQL("u")).alias("h"),
            F.expr(REGISTERED_DOMAIN_SQL("u")).alias("d"),
        ).collect()
        assert len({(v["h"], v["d"]) for v in vals}) == 1, vals


def test_doc_metrics_stratum_cases_equal_operator_forms(spark):
    """r14 pin: the generated constant-stratum CASE SQL (url host/domain
    + script class counts) equals the per-row operator forms
    (HOST_SQL/REGISTERED_DOMAIN_SQL over the synthesized URL column,
    SCRIPT_COUNT_SQL over the stratum column) for every residue class,
    including the NULL strata."""
    from dbbspark.operators.script import SCRIPT_CLASSES, SCRIPT_COUNT_SQL
    from dbbspark.operators.urls import HOST_SQL, REGISTERED_DOMAIN_SQL
    from dbbspark.queries.text import (
        _SCRIPT_COUNT_CASE_SQL,
        _URL_DOMAIN_CASE_SQL,
        _URL_HOST_CASE_SQL,
        _script_stratum_col,
    )

    docs = spark.range(0, 66 * 2).select(F.col("id").alias("doc_id"))
    did = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("https://WWW.News.example.com/Story/"), did))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("http://user@Blog.Test.co.uk:8080/p?q="), did))
        .when(F.col("doc_id") % 6 == 2, F.lit("files.example.org/data"))
        .when(F.col("doc_id") % 6 == 3, F.lit("https://a.b.co.jp/x"))
        .when(F.col("doc_id") % 6 == 4, F.lit("http://single-label-host/path"))
        .otherwise(F.lit(None).cast("string"))
    )
    rows = docs.select(
        "doc_id", url.alias("url"), _script_stratum_col().alias("stratum")
    ).select(
        "doc_id",
        F.expr(HOST_SQL("url")).alias("h_op"),
        F.expr(_URL_HOST_CASE_SQL).alias("h_case"),
        F.expr(REGISTERED_DOMAIN_SQL("url")).alias("d_op"),
        F.expr(_URL_DOMAIN_CASE_SQL).alias("d_case"),
        *[
            F.expr(SCRIPT_COUNT_SQL("stratum", n)).alias(f"n_{n}")
            for n in SCRIPT_CLASSES
        ],
        *[
            F.expr(_SCRIPT_COUNT_CASE_SQL[n]).alias(f"case_n_{n}")
            for n in SCRIPT_CLASSES
        ],
    ).collect()
    for r in rows:
        assert r["h_op"] == r["h_case"], r
        assert r["d_op"] == r["d_case"], r
        for n in SCRIPT_CLASSES:
            assert r[f"n_{n}"] == r[f"case_n_{n}"], (n, r)


def test_round_half_up_py_matches_spark_round(spark):
    """r14 pin: round_half_up_py ≡ F.round on doubles — exact .5 ties
    at several scales, negatives, repr-edge doubles (0.1+0.2), very
    small/large magnitudes, and None."""
    from dbbspark.functions import round_half_up_py

    vals = [
        0.00005, 0.00015, 0.000049999, -0.00005, -0.00015,
        0.5, 1.5, 2.5, -2.5, 0.12345, 0.123456789,
        0.1 + 0.2, 1e-12, -1e-12, 123456.789054999, 98765.000050001,
        2.0 ** 52 + 0.5, 0.0, -0.0, 1.00005, 0.9999950000001,
    ]
    for scale in (4, 6):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = [r["r"] for r in
               df.select(F.round("x", scale).alias("r")).collect()]
        want = [round_half_up_py(v, scale) for v in vals]
        assert got == want, list(zip(vals, got, want))
    assert round_half_up_py(None, 4) is None


@pytest.mark.parametrize("name", ["n tokens", "we`ird"])
def test_operators_quote_caller_column_names(spark, name):
    """Caller-supplied column names reach generated SQL through
    `sql_ident`: a name with a space or an embedded backtick gives the
    same result as a plain name (before quoting, each of these raised
    ParseException or an attribute-name syntax error)."""
    from dbbspark.functions import sql_ident
    from dbbspark.operators.fuzzy import fuzzy_join
    from dbbspark.operators.packing import pack_sequences
    from dbbspark.operators.sketches import cms_estimate, cms_sketch_weighted
    from dbbspark.operators.winnow import winnow_fingerprints

    words = ["alpha", "alpah", "beta", "bet", "gamma", "the quick brown fox"]

    def run(col):
        q = sql_ident(col)
        df = spark.createDataFrame(
            [(i, w, len(w)) for i, w in enumerate(words)],
            f"doc_id long, {q} string, n bigint",
        )
        toks = spark.createDataFrame(
            [(w, i + 1) for i, w in enumerate(words)], f"{q} string, count long"
        )
        cms = cms_sketch_weighted(toks, col, depth=3, width=16, portable=True)
        return [
            sorted(
                pack_sequences(
                    df.select("doc_id", F.col("n").alias(col)), "doc_id", col,
                    budget=4, num_buckets=2,
                ).collect()
            ),
            sorted(
                (r[0], sorted(r[1]))
                for r in winnow_fingerprints(df, "doc_id", col, k=3, w=2).collect()
            ),
            sorted(
                fuzzy_join(
                    df.withColumnRenamed("doc_id", "id_a"),
                    df.withColumnRenamed("doc_id", "id_b"),
                    col,
                    max_distance=1,
                ).collect()
            ),
            sorted(cms.collect()),
            sorted(
                cms_estimate(cms, toks, col, depth=3, width=16, portable=True).collect()
            ),
        ]

    got, want = run(name), run("plain")
    assert got == want
