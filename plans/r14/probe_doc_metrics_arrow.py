"""A/B probe: q_doc_metrics current (interpreted HOF lambdas) vs the
candidate one-Arrow-pass form (all text-derived metrics as INTEGER
counts from one pandas_udf; every ratio/round stays in JVM so float
parity is structural). Interleaved warm best-of-3 in ONE session
(guide §1); plus an exact value-equality check (collect + compare)."""

from __future__ import annotations

import re
import sys
import time

sys.path.insert(0, "/root/repo")

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F, types as T  # noqa: E402

from dbbspark.session import get_spark  # noqa: E402
from dbbspark.tables import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

_STOPWORDS = frozenset(("the", "a", "of", "and", "to", "in", "is"))
_BPE_RE = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")

_SCHEMA = T.StructType([
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("sw_hits", T.IntegerType()),
    T.StructField("bpe_ish_tokens", T.IntegerType()),
    T.StructField("d_tok", T.IntegerType()),
    T.StructField("n_g2", T.IntegerType()),
    T.StructField("d_g2", T.IntegerType()),
    T.StructField("n_g3", T.IntegerType()),
    T.StructField("d_g3", T.IntegerType()),
    T.StructField("line_dup", T.LongType()),
    T.StructField("line_tot", T.LongType()),
    T.StructField("g2_best", T.LongType()),
    T.StructField("g2_tot", T.LongType()),
    T.StructField("wfp_n", T.IntegerType()),
    T.StructField("wfp_min", T.LongType()),
])


def _metrics_batch(text: pd.Series, did: pd.Series) -> pd.DataFrame:
    import hashlib
    from collections import Counter

    out = {f.name: [] for f in _SCHEMA.fields}
    ap = {k: v.append for k, v in out.items()}
    for t, d in zip(text.tolist(), did.tolist()):
        if t is None:
            ap["n_tokens"](None); ap["sw_hits"](None)
            ap["bpe_ish_tokens"](None); ap["d_tok"](None)
            ap["n_g2"](0); ap["d_g2"](0); ap["n_g3"](0); ap["d_g3"](0)
            ap["line_dup"](None); ap["line_tot"](None)
            ap["g2_best"](0); ap["g2_tot"](0)
            ap["wfp_n"](0); ap["wfp_min"](None)
            continue
        toks = t.split(" ")
        n = len(toks)
        ap["n_tokens"](n)
        ap["sw_hits"](sum(1 for w in toks if w in _STOPWORDS))
        ap["bpe_ish_tokens"](len(_BPE_RE.findall(t)))
        ap["d_tok"](len(set(toks)))
        # bigrams / trigrams as tuples (tokens cannot contain ' ', so
        # tuple distinctness == joined-string distinctness)
        g2 = list(zip(toks, toks[1:]))
        g3 = set(zip(toks, toks[1:], toks[2:]))
        ap["n_g2"](len(g2))
        ap["d_g2"](len(set(g2)))
        ap["n_g3"](max(n - 2, 0))
        ap["d_g3"](len(g3))
        # char-weighted line-dup stats (code points == Python len)
        lc = Counter(t.split("\n"))
        dup = tot = 0
        for line, c in lc.items():
            ll = len(line)
            dup += (c - 1) * ll
            tot += c * ll
        ap["line_dup"](dup)
        ap["line_tot"](tot)
        # top 2-gram char stats: len('a b') = len(a)+len(b)+1
        best = tot2 = 0
        for (a, b), c in Counter(g2).items():
            gl = len(a) + len(b) + 1
            v = c * gl
            tot2 += v
            if v > best:
                best = v
        ap["g2_best"](best)
        ap["g2_tot"](tot2)
        # winnow C43: 5% md5 stratum, k=8 portable-md5 grams, w=4 minima
        h = hashlib.md5(str(d).encode()).hexdigest()
        if int(h[:15], 16) % 20 == 0 and len(t) >= 8:
            g = [
                int(hashlib.md5(t[i:i + 8].encode("utf-8")).hexdigest()[:15], 16)
                for i in range(len(t) - 7)
            ]
            if len(g) < 4:
                fp = [min(g)]
            else:
                fp = list(dict.fromkeys(
                    min(g[j:j + 4]) for j in range(len(g) - 3)
                ))
            ap["wfp_n"](len(fp))
            ap["wfp_min"](min(fp))
        else:
            ap["wfp_n"](0)
            ap["wfp_min"](None)
    # Nullable columns MUST ride pandas' Int64 extension dtype: an
    # object/None column coerces to float64 on the Arrow boundary and
    # 60-bit md5 ints round in a 53-bit mantissa (observed off-by-1..4).
    return pd.DataFrame(
        {k: pd.array(v, dtype="Int64") for k, v in out.items()}
    )


doc_text_metrics = F.pandas_udf(_metrics_batch, _SCHEMA)


def build_arrow_variant(spark):
    from dbbspark.operators.curriculum import curriculum_stages
    from dbbspark.functions import sql_str
    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL
    from dbbspark.operators.script import (
        SCRIPT_CLASSES,
        SCRIPT_COUNT_SQL,
        script_derivations,
    )
    from dbbspark.operators.urls import HOST_SQL, REGISTERED_DOMAIN_SQL
    from dbbspark.queries.text import _SCRIPT_STRATA

    docs = load_table(spark, SF_DIR, "documents")
    did = F.col("doc_id").cast("string")
    # url host/domain: the regex operators applied to each stratum's
    # LITERAL prefix (host cannot extend past '/', ':' or '?' — the id
    # suffix never reaches it), so Catalyst constant-folds the regex at
    # plan time; values identical by the operators' own arithmetic.
    strata_urls = [
        "https://WWW.News.example.com/Story/",
        "http://user@Blog.Test.co.uk:8080/p?q=",
        "files.example.org/data",
        "https://a.b.co.jp/x",
        "http://single-label-host/path",
    ]
    host_col = F.lit(None).cast("string")
    dom_col = F.lit(None).cast("string")
    for i in reversed(range(5)):
        u = sql_str(strata_urls[i])
        host_col = F.when(F.col("doc_id") % 6 == i, F.expr(HOST_SQL(u))).otherwise(host_col)
        dom_col = F.when(
            F.col("doc_id") % 6 == i, F.expr(REGISTERED_DOMAIN_SQL(u))
        ).otherwise(dom_col)
    # script counts: the operator's regexp_count over each stratum
    # LITERAL, constant-folded per branch
    script_cols = []
    for n in SCRIPT_CLASSES:
        c = F.expr(SCRIPT_COUNT_SQL("CAST(NULL AS STRING)", n))
        for i in reversed(range(len(_SCRIPT_STRATA))):
            c = F.when(
                F.col("doc_id") % 11 == i,
                F.expr(SCRIPT_COUNT_SQL(sql_str(_SCRIPT_STRATA[i]), n)),
            ).otherwise(c)
        script_cols.append(c.alias(f"n_{n}"))

    m = docs.select(
        "doc_id", "lang", "n_chars",
        doc_text_metrics(F.col("text"), F.col("doc_id")).alias("__m"),
        host_col.alias("url_host"), dom_col.alias("url_domain"),
        *script_cols,
    ).select(
        "doc_id", "lang", "n_chars", "url_host", "url_domain",
        *[f"n_{n}" for n in SCRIPT_CLASSES],
        F.col("__m.n_tokens").alias("n_tokens"),
        F.col("__m.sw_hits").alias("sw_hits"),
        F.col("__m.bpe_ish_tokens").alias("bpe_ish_tokens"),
        F.col("__m.d_tok").alias("d_tok"),
        F.col("__m.n_g2").alias("n_g2"),
        F.col("__m.d_g2").alias("d_g2"),
        F.col("__m.n_g3").alias("n_g3"),
        F.col("__m.d_g3").alias("d_g3"),
        F.col("__m.line_dup").alias("line_dup"),
        F.col("__m.line_tot").alias("line_tot"),
        F.col("__m.g2_best").alias("g2_best"),
        F.col("__m.g2_tot").alias("g2_tot"),
        F.col("__m.wfp_n").alias("wfp_n0"),
        F.col("__m.wfp_min").alias("wfp_min0"),
    )
    atl = F.col("n_chars").cast("double") / F.col("n_tokens")
    rate = (F.when(F.col("lang") == "en", 50).when(F.col("lang") == "de", 20)
            .otherwise(10))
    gate = F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 100
    _script_ratios, _script_dom = script_derivations()
    m, _cuts = curriculum_stages(
        m.withColumn("difficulty", F.col("n_tokens").cast("double")),
        "difficulty", stages=4, cuts=[32.0, 56.0, 76.0])

    def ratio(d, n):
        return F.when(
            F.col(n) > 0,
            F.round(1.0 - F.col(d).cast("double") / F.col(n), 4),
        ).otherwise(F.lit(0.0))

    return m.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("bpe_ish_tokens").cast("bigint").alias("bpe_ish_tokens"),
        F.round(atl, 4).alias("avg_token_len"),
        F.round(F.col("sw_hits").cast("double") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        ratio("d_tok", "n_tokens").alias("dup_token_ratio"),
        ratio("d_g2", "n_g2").alias("dup_2gram_ratio"),
        ratio("d_g3", "n_g3").alias("dup_3gram_ratio"),
        (F.col("n_tokens").between(20, 1000) & atl.between(3, 12)).alias("passes_quality"),
        F.col("sw_hits").cast("bigint").alias("en_hits"),
        F.when(F.col("sw_hits") * 10 >= F.col("n_tokens"), "en-like")
        .otherwise("other").alias("lang_guess"),
        (gate < rate).alias("in_sample"),
        F.col("stage").cast("int").alias("curriculum_stage"),
        "url_host", "url_domain",
        F.when(F.col("line_tot").isNull(), F.lit(None).cast("double"))
        .when(F.col("line_tot") > 0,
              F.round(F.col("line_dup").cast("double") / F.col("line_tot"), 4))
        .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        F.when(F.col("g2_tot") > 0,
               F.round(F.col("g2_best").cast("double") / F.col("g2_tot"), 4))
        .otherwise(F.lit(0.0)).alias("top_2gram_char_frac"),
        _script_dom.alias("script_dom"),
        F.round(_script_ratios[0], 4).alias("script_latin_ratio"),
        F.col("wfp_n0").cast("bigint").alias("wfp_n"),
        F.col("wfp_min0").alias("wfp_min"),
    )


def main():
    from dbbspark.catalog import load_all

    spark = get_spark("probe-doc-metrics-arrow")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()
    catalog = load_all()

    def t(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # exact-equality check first
    cur = catalog["q_doc_metrics"].builder(spark, SF_DIR)
    new = build_arrow_variant(spark)
    assert cur.schema == new.schema, f"\nCUR {cur.schema}\nNEW {new.schema}"
    a = {r["doc_id"]: r for r in cur.collect()}
    b = {r["doc_id"]: r for r in new.collect()}
    assert set(a) == set(b)
    bad = 0
    for k in a:
        if a[k] != b[k]:
            bad += 1
            if bad < 5:
                print("MISMATCH", a[k], b[k])
    print(f"value check: {len(a)} rows, {bad} mismatches")
    if bad:
        return

    variants = {
        "current": lambda: catalog["q_doc_metrics"].builder(spark, SF_DIR),
        "arrow": lambda: build_arrow_variant(spark),
    }
    results = {k: [] for k in variants}
    for _ in range(4):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"ab:{name}")
            results[name].append(t(fn()))
    for name, rs in results.items():
        print(f"{name:8s} best={min(rs):6.3f}  all={['%.3f' % r for r in rs]}")


if __name__ == "__main__":
    main()
