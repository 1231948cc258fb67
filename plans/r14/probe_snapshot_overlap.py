#!/usr/bin/env python
"""q_training_pipeline C51 fold: snapshot_diff(include_drift=False)
runs four driver jobs in strict sequence — two bottom-k sketch
collects and two row counts over the quality/sampled checkpoints.
All four are independent and their values are materialization-order-
invariant (a count is a count, a bottom-k set is a bottom-k set), so
they can share a 4-thread pool (guide §2.6).

Measures the full q_training_pipeline row, current vs overlapped, and
checks value equality.
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

    return load_all()["q_training_pipeline"].builder(spark, SF_DIR)


def build_overlap(spark):
    from concurrent.futures import ThreadPoolExecutor

    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL, sha_dedup_keep_first
    from dbbspark.operators.sketches import corpus_overlap, kmv_sketch

    docs = load_table(spark, SF_DIR, "documents")
    toks = F.split(F.col("text"), " ")
    quality = docs.select(
        "doc_id", "text", "lang",
        F.size(toks).alias("n_tokens"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("atl"),
    ).where(
        F.col("n_tokens").between(20, 1000) & F.col("atl").between(3, 12)
    ).transform(cut_lineage, eager=False)
    deduped = sha_dedup_keep_first(quality, "text", "doc_id")
    sampled = deduped.where(
        F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 100 < 80
    ).transform(cut_lineage, eager=False)
    agg = sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("token_budget"),
    )
    key_sql = "sha2(CAST(text AS BINARY), 256)"
    key = F.expr(key_sql)
    hc, domain = F.expr(MD5_INT_SPARK_SQL(key_sql)), (0, 2**60)
    ska = kmv_sketch(quality, key, k=128, hash_col=hc)
    skb = kmv_sketch(sampled, key, k=128, hash_col=hc)
    with ThreadPoolExecutor(4) as pool:
        fa = pool.submit(ska.collect)
        fb = pool.submit(skb.collect)
        fc = pool.submit(quality.count)
        fd = pool.submit(sampled.count)
        ha = [r["h"] for r in fa.result()]
        hb = [r["h"] for r in fb.result()]
        rows_old, rows_new = fc.result(), fd.result()
    ov = corpus_overlap_lists(ha, hb, 128, domain, corpus_overlap)
    inter = ov["jaccard"] * ov["card_union"]
    sd = {
        "rows_old": rows_old, "rows_new": rows_new,
        "row_delta": rows_new - rows_old,
        "distinct_old_est": ov["card_a"],
        "distinct_new_est": ov["card_b"],
        "jaccard": ov["jaccard"],
        "survived_frac": ov["containment_a_in_b"],
        "novel_frac": 1.0 - ov["containment_b_in_a"],
        "added_est": max(0.0, ov["card_b"] - inter),
        "removed_est": max(0.0, ov["card_a"] - inter),
    }
    summary = spark.createDataFrame(
        [(
            int(sd["rows_old"]), int(sd["rows_new"]), int(sd["row_delta"]),
            float(sd["jaccard"]), float(sd["survived_frac"]),
            float(sd["novel_frac"]), float(sd["distinct_old_est"]),
            float(sd["distinct_new_est"]), float(sd["added_est"]),
            float(sd["removed_est"]),
        )],
        "snap_rows_old long, snap_rows_new long, snap_row_delta long, "
        "__j double, __sv double, __nv double, __da double, __db double, "
        "__ad double, __rm double",
    ).select(
        "snap_rows_old", "snap_rows_new", "snap_row_delta",
        F.round("__j", 3).alias("snap_jaccard"),
        F.round("__sv", 3).alias("snap_survived"),
        F.round("__nv", 3).alias("snap_novel"),
        F.round("__da", 3).alias("snap_distinct_old"),
        F.round("__db", 3).alias("snap_distinct_new"),
        F.round("__ad", 3).alias("snap_added"),
        F.round("__rm", 3).alias("snap_removed"),
    )
    return agg.crossJoin(F.broadcast(summary))


def corpus_overlap_lists(ha, hb, k, domain, corpus_overlap):
    """Mirror corpus_overlap over pre-collected hash lists."""
    from dbbspark.operators.sketches import kmv_cardinality

    ha, hb = sorted(ha), sorted(hb)
    if not ha or not hb:
        return {"jaccard": 0.0, "containment_a_in_b": 0.0,
                "containment_b_in_a": 0.0, "card_a": float(len(ha)),
                "card_b": float(len(hb)),
                "card_union": float(len(set(ha) | set(hb)))}
    union = sorted(set(ha) | set(hb))[:k]
    x = set(union)
    j = len(x & set(ha) & set(hb)) / len(union)
    card_a = kmv_cardinality(ha, k, domain)
    card_b = kmv_cardinality(hb, k, domain)
    if len(union) < k:
        card_union = float(len(union))
    else:
        lo, span = domain
        card_union = (k - 1) / ((union[-1] - lo + 1) / span)
    inter = j * card_union
    return {
        "jaccard": j,
        "containment_a_in_b": min(1.0, inter / card_a) if card_a else 0.0,
        "containment_b_in_a": min(1.0, inter / card_b) if card_b else 0.0,
        "card_a": card_a, "card_b": card_b, "card_union": card_union,
    }


def main():
    spark = get_spark("probe-snap-ov")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    cur = sorted(map(tuple, build_current(spark).collect()))
    new = sorted(map(tuple, build_overlap(spark).collect()))
    print(f"rows={len(cur)}/{len(new)} equal={cur == new}")
    if cur != new:
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
