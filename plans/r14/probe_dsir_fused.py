#!/usr/bin/env python
"""q_dsir weight-scoring restructure probe: the 4 model joins
(ng_t, cc_t, ng_s, cc_s) collapse to 2 when both models come from
train_ngram_lm_pair's ONE shared per-gram count relation —
join the gram stream once against (gram_h -> __ct, __cs) and once
against the context sums (ctx_h -> cc_t, cc_s).  Value identity:
coalesce(c,0) treats a missing gram and a zero-count gram the same,
and each model's context sum over its >0 grams equals the sum over
ALL grams (zeros add nothing).

Measures interleaved warm A/B of the full q_dsir frame and checks
exact row equality of the outputs.
"""
from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dbbspark.session import cut_lineage, get_spark  # noqa: E402
from dbbspark.tables import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def build_current(spark):
    from dbbspark.catalog import load_all

    return load_all()["q_dsir"].builder(spark, SF_DIR)


def build_fused(spark):
    """q_dsir with the 2-join fused scoring pass (prototype)."""
    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL
    from dbbspark.operators.lm import (
        _exploded_grams,
        _gram_pairs_col,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    target_cond = F.col("lang") == "en"
    base = docs.select(target_cond.alias("__t"), F.col("text").alias("__txt"))
    counts = (
        base.select("__t", F.split(F.col("__txt"), " ").alias("__toks"))
        .select(
            "__t", F.explode(_gram_pairs_col(F.col("__toks"), 2)).alias("g")
        )
        .select(
            "__t",
            F.col("g.gram_h").alias("gram_h"),
            F.col("g.ctx_h").alias("ctx_h"),
        )
        .groupBy("gram_h")
        .agg(
            F.first("ctx_h").alias("ctx_h"),
            F.count("*").alias("__cs"),
            F.count(F.when(F.col("__t"), 1)).alias("__ct"),
        )
        .transform(cut_lineage, eager=False)
    )
    vt, vs = (
        base.select("__t", F.explode(F.split(F.col("__txt"), " ")).alias("t"))
        .agg(
            F.countDistinct(F.when(F.col("__t"), F.col("t"))).alias("vt"),
            F.countDistinct("t").alias("vs"),
        )
        .first()
    )
    k = 1.0
    pairs = _exploded_grams(docs, "doc_id", "text", 2, outer=True)
    ng = counts.select(
        "gram_h",
        F.col("__ct").alias("__c_t"),
        F.col("__cs").alias("__c_s"),
    )
    cc = counts.groupBy("ctx_h").agg(
        F.sum("__ct").alias("__cc_t"), F.sum("__cs").alias("__cc_s")
    )
    joined = pairs.join(ng, "gram_h", "left").join(cc, "ctx_h", "left")

    def _logp(tag, vocab):
        return F.when(
            F.col("gram_h").isNotNull(),
            F.log(
                (
                    F.coalesce(F.col(f"__c_{tag}"), F.lit(0)).cast("double")
                    + F.lit(k)
                )
                / (
                    F.coalesce(F.col(f"__cc_{tag}"), F.lit(0)).cast("double")
                    + F.lit(k) * F.lit(float(vocab))
                )
            ),
        )

    w = (
        joined.groupBy("doc")
        .agg(
            F.count("gram_h").alias("n_grams"),
            (-F.avg(_logp("t", int(vt or 0)))).alias("__nll_t"),
            (-F.avg(_logp("s", int(vs or 0)))).alias("__nll_s"),
        )
        .select(
            "doc",
            "n_grams",
            (
                F.col("n_grams") * (F.col("__nll_s") - F.col("__nll_t"))
            ).alias("log_ratio"),
        )
        .transform(cut_lineage, eager=False)
    )
    u = (
        F.expr(MD5_INT_SPARK_SQL("CAST(doc AS STRING)")) % F.lit(1_000_000_007)
        + F.lit(0.5)
    ) / F.lit(1_000_000_007.0)
    gumbel = F.col("log_ratio") - F.log(-F.log(u))
    return w.select(
        F.col("doc").alias("doc_id"),
        "n_grams",
        F.round("log_ratio", 4).alias("log_ratio"),
        F.coalesce(gumbel >= F.lit(1.346), F.lit(False)).alias(
            "dsir_selected"
        ),
    )


def main():
    spark = get_spark("probe-dsir")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    def t(build):
        t0 = time.perf_counter()
        df = build(spark)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # value identity first
    cur = build_current(spark).orderBy("doc_id").collect()
    fus = build_fused(spark).orderBy("doc_id").collect()
    assert len(cur) == len(fus), (len(cur), len(fus))
    bad = [(a, b) for a, b in zip(cur, fus) if a != b]
    print(f"rows={len(cur)} mismatches={len(bad)}")
    if bad:
        for a, b in bad[:5]:
            print("  cur", a, "\n  fus", b)
        return

    res = {"current": [], "fused": []}
    for _ in range(5):
        res["current"].append(t(build_current))
        res["fused"].append(t(build_fused))
    for n, xs in res.items():
        print(f"{n:8s} best={min(xs):6.3f} all={['%.3f' % x for x in xs]}")


if __name__ == "__main__":
    main()
