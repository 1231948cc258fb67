"""Substage probe for q_doc_metrics (round 14, guide §1): time the
composed projection with individual legs removed, warm best-of-3 per
variant, interleaved in ONE session so window noise cannot fake a
decomposition. Noop sink per guide §1.4."""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dbbspark.session import get_spark  # noqa: E402
from dbbspark.tables import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def t(df):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def build_variant(spark, drop=()):
    """Rebuild the q_doc_metrics projection with named legs dropped."""
    from dbbspark.operators.curriculum import curriculum_stages
    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL
    from dbbspark.operators.urls import HOST_SQL, REGISTERED_DOMAIN_SQL
    from dbbspark.operators.winnow import fingerprints_expr, gram_hashes_expr
    from dbbspark.functions import (
        dup_char_fraction,
        dup_ratio,
        ngram_array,
        top_run_char_fraction,
    )
    from dbbspark.queries.text import (
        _SCRIPT_STRATA,
        _STOPWORDS,
        _script_stratum_col,
    )
    from dbbspark.operators.script import (
        SCRIPT_CLASSES,
        SCRIPT_COUNT_SQL,
        script_derivations,
    )

    docs = load_table(spark, SF_DIR, "documents")
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
    toks = F.split(F.col("text"), " ")
    if "winnow" not in drop:
        docs = docs.withColumn(
            "__wtext",
            F.when(F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 20 == 0,
                   F.col("text")),
        )
    cols = [
        "doc_id", "lang", "n_chars",
        toks.alias("__toks"),
        F.size(toks).alias("n_tokens"),
    ]
    if "url" not in drop:
        cols.append(url.alias("__url"))
    if "sw" not in drop:
        cols.append(F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).alias("sw_hits"))
    else:
        cols.append(F.lit(0).alias("sw_hits"))
    if "bpe" not in drop:
        cols.append(F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("bpe_ish_tokens"))
    else:
        cols.append(F.lit(0).alias("bpe_ish_tokens"))
    if "lines" not in drop:
        cols.append(F.array_sort(F.split(F.col("text"), "\n")).alias("__lines_s"))
    if "script" not in drop:
        docs = docs.withColumn("__stratum", _script_stratum_col())
        cols.extend(
            F.expr(SCRIPT_COUNT_SQL("__stratum", n)).alias(f"n_{n}")
            for n in SCRIPT_CLASSES
        )
    if "winnow" not in drop:
        cols.append(F.expr(gram_hashes_expr("__wtext", 8, MD5_INT_SPARK_SQL("{g}"))).alias("__wg"))
    m = docs.select(*cols)
    sel2 = ["*"]
    if "grams" not in drop:
        sel2 += [ngram_array(F.col("__toks"), 2).alias("__g2"),
                 ngram_array(F.col("__toks"), 3).alias("__g3")]
    m = m.select(*sel2)
    sel3 = ["*"]
    if "grams" not in drop:
        sel3.append(F.array_sort(F.col("__g2")).alias("__g2s"))
    if "winnow" not in drop:
        sel3.append(F.expr(fingerprints_expr("__wg", 4)).alias("__wfp"))
    m = m.select(*sel3)
    atl = F.col("n_chars").cast("double") / F.col("n_tokens")
    rate = (F.when(F.col("lang") == "en", 50).when(F.col("lang") == "de", 20)
            .otherwise(10))
    gate = F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 100
    m, _ = curriculum_stages(
        m.withColumn("difficulty", F.col("n_tokens").cast("double")),
        "difficulty", stages=4, cuts=[32.0, 56.0, 76.0])
    out_cols = [
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("bpe_ish_tokens").cast("bigint").alias("bpe_ish_tokens"),
        F.round(atl, 4).alias("avg_token_len"),
        F.round(F.col("sw_hits").cast("double") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        (F.col("n_tokens").between(20, 1000) & atl.between(3, 12)).alias("passes_quality"),
        F.col("sw_hits").cast("bigint").alias("en_hits"),
        F.when(F.col("sw_hits") * 10 >= F.col("n_tokens"), "en-like").otherwise("other").alias("lang_guess"),
        (gate < rate).alias("in_sample"),
        F.col("stage").cast("int").alias("curriculum_stage"),
    ]
    if "grams" not in drop:
        out_cols += [
            dup_ratio(F.col("__toks")).alias("dup_token_ratio"),
            dup_ratio(F.col("__g2")).alias("dup_2gram_ratio"),
            dup_ratio(F.col("__g3")).alias("dup_3gram_ratio"),
            top_run_char_fraction(F.col("__g2s")).alias("top_2gram_char_frac"),
        ]
    else:
        out_cols.append(dup_ratio(F.col("__toks")).alias("dup_token_ratio"))
    if "url" not in drop:
        out_cols += [F.expr(HOST_SQL("__url")).alias("url_host"),
                     F.expr(REGISTERED_DOMAIN_SQL("__url")).alias("url_domain")]
    if "lines" not in drop:
        out_cols.append(dup_char_fraction(F.col("__lines_s")).alias("dup_line_char_frac"))
    if "script" not in drop:
        _ratios, _dom = script_derivations()
        out_cols += [_dom.alias("script_dom"),
                     F.round(_ratios[0], 4).alias("script_latin_ratio")]
    if "winnow" not in drop:
        out_cols += [F.size(F.col("__wfp")).cast("bigint").alias("wfp_n"),
                     F.array_min(F.col("__wfp")).alias("wfp_min")]
    return m.select(*out_cols)


def main():
    from dbbspark.catalog import load_all

    spark = get_spark("probe-doc-metrics")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    catalog = load_all()

    variants = {
        "full_catalog": lambda: catalog["q_doc_metrics"].builder(spark, SF_DIR),
        "full_rebuilt": lambda: build_variant(spark),
        "no_grams": lambda: build_variant(spark, drop=("grams",)),
        "no_winnow": lambda: build_variant(spark, drop=("winnow",)),
        "no_script": lambda: build_variant(spark, drop=("script",)),
        "no_lines": lambda: build_variant(spark, drop=("lines",)),
        "no_url": lambda: build_variant(spark, drop=("url",)),
        "no_sw_bpe": lambda: build_variant(spark, drop=("sw", "bpe")),
    }
    results = {k: [] for k in variants}
    for _round in range(3):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"probe:{name}")
            results[name].append(t(fn()))
    print("\n=== q_doc_metrics substage probe (warm best-of-3, interleaved) ===")
    full = min(results["full_rebuilt"])
    for name, rs in results.items():
        best = min(rs)
        delta = full - best if name.startswith("no_") else 0.0
        print(f"{name:16s} best={best:6.3f}  all={['%.3f' % r for r in rs]}"
              + (f"  leg_cost≈{delta:6.3f}" if name.startswith("no_") else ""))


if __name__ == "__main__":
    main()
