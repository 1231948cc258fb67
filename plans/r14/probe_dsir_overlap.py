#!/usr/bin/env python
"""q_dsir training-phase overlap probe: train_ngram_lm_pair runs the
vocabulary job (full corpus explode+agg, eager .first()) and then the
per-gram count relation materializes lazily inside the scoring job.
Both are independent full passes over the corpus — submit the count
materialization (eager cut) and the vocab job from two driver threads
so they back-fill each other (guide §2.6), exactly the
q_pack_sequences device.

Checks value equality of the final q_dsir frame and interleaved A/B.
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


def build_overlap(spark):
    from concurrent.futures import ThreadPoolExecutor

    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL
    from dbbspark.operators.lm import (
        NgramLM,
        _gram_pairs_col,
        dsir_select_flag,
        dsir_weights,
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
    )
    vocab_df = base.select(
        "__t", F.explode(F.split(F.col("__txt"), " ")).alias("t")
    ).agg(
        F.countDistinct(F.when(F.col("__t"), F.col("t"))).alias("vt"),
        F.countDistinct("t").alias("vs"),
    )
    with ThreadPoolExecutor(2) as pool:
        f_counts = pool.submit(cut_lineage, counts, True)  # eager
        f_vocab = pool.submit(vocab_df.first)
        counts_cut = f_counts.result()
        vt, vs = f_vocab.result()

    def _lm(count_col, vocab):
        ng = counts_cut.where(F.col(count_col) > 0).select(
            "gram_h", "ctx_h", F.col(count_col).alias("c")
        )
        cc = ng.groupBy("ctx_h").agg(F.sum("c").alias("c_ctx"))
        return NgramLM(
            ngram_counts=ng.select("gram_h", "c"),
            context_counts=cc,
            vocab_size=int(vocab or 0),
            n=2,
            pair_counts=counts_cut,
            pair_col=count_col,
        )

    lm_t, lm_s = _lm("__ct", vt), _lm("__cs", vs)
    w = dsir_weights(
        docs, lm_t, lm_s, "doc_id", "text", broadcast_model=False
    ).transform(cut_lineage, eager=False)
    u = (
        F.expr(MD5_INT_SPARK_SQL("CAST(doc AS STRING)")) % F.lit(1_000_000_007)
        + F.lit(0.5)
    ) / F.lit(1_000_000_007.0)
    return w.select(
        F.col("doc").alias("doc_id"),
        "n_grams",
        F.round("log_ratio", 4).alias("log_ratio"),
        dsir_select_flag("log_ratio", cut=1.346, u_col=u).alias(
            "dsir_selected"
        ),
    )


def main():
    spark = get_spark("probe-dsir-ov")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    cur = build_current(spark).orderBy("doc_id").collect()
    new = build_overlap(spark).orderBy("doc_id").collect()
    bad = sum(a != b for a, b in zip(cur, new))
    print(f"rows={len(cur)}/{len(new)} mismatches={bad}")
    if bad or len(cur) != len(new):
        return

    def t(build):
        t0 = time.perf_counter()
        build(spark).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    res = {"current": [], "overlap": []}
    for _ in range(5):
        res["current"].append(t(build_current))
        res["overlap"].append(t(build_overlap))
    for n, xs in res.items():
        print(f"{n:8s} best={min(xs):6.3f} all={['%.3f' % x for x in xs]}")


if __name__ == "__main__":
    main()
