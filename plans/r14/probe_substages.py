#!/usr/bin/env python
"""Substage timing probe for the remaining top bench rows at sf0.1.

Usage: python plans/r14/probe_substages.py <query> [reps]

Each query exposes named sub-builders (cumulative prefixes of the real
pipeline, built EXACTLY like the query builds them); warm interleaved
noop timings localize where the row's seconds go before any change is
attempted (guide §1).
"""
from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dbbspark.session import cut_lineage, get_spark  # noqa: E402
from dbbspark.tables import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def stages_embed_normalize(spark):
    from dbbspark.operators.similarity import (
        cluster_balanced_sample,
        ivf_assign,
        quantize_embeddings,
        semantic_dedup,
    )

    def emb():
        return load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )

    def normed():
        e = emb()
        norm = F.sqrt(
            F.aggregate(
                F.transform(F.col("e"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        l2 = F.transform(F.col("e"), lambda x: x / F.col("__norm"))
        nm = e.withColumn("__norm", norm).select("vec_id", l2.alias("l2"))
        norm_sq = F.aggregate(
            F.transform(F.col("l2"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return nm.select("vec_id", F.round(norm_sq, 6).alias("norm_sq"))

    def quant():
        q = quantize_embeddings(emb(), id_col="vec_id", vec_col="e")
        q_sum = F.expr(
            "aggregate(sequence(1, dim), 0L, (acc, i) -> acc + "
            "(CASE WHEN conv(hex(substring(qvec, i, 1)), 16, 10) > 127 "
            " THEN CAST(conv(hex(substring(qvec, i, 1)), 16, 10) AS BIGINT) - 256 "
            " ELSE CAST(conv(hex(substring(qvec, i, 1)), 16, 10) AS BIGINT) END))"
        )
        return q.select("vec_id", q_sum.alias("q_sum"))

    def quant_raw():
        return quantize_embeddings(emb(), id_col="vec_id", vec_col="e")

    def assign_cut():
        e = emb()
        cents = e.where(F.col("vec_id") % 50 == 0)
        return ivf_assign(
            e, cents, id_col="vec_id", vec_col="e", keep_vec=True
        ).transform(cut_lineage, eager=False)

    def cbs():
        e = emb()
        cents = e.where(F.col("vec_id") % 50 == 0)
        t = assign_cut()
        return cluster_balanced_sample(
            e, cents, per_cell=16, id_col="vec_id", vec_col="e",
            portable_rank=True, assigned=t,
        )

    def sd():
        e = emb()
        cents = e.where(F.col("vec_id") % 50 == 0)
        t = assign_cut()
        return semantic_dedup(
            e, cents, eps=0.6, id_col="vec_id", vec_col="e", assigned=t
        )

    return {
        "normed": normed,
        "quant_raw": quant_raw,
        "quant_sum": quant,
        "assign": assign_cut,
        "cbs": cbs,
        "sd": sd,
    }


def stages_reconcile(spark):
    from dbbspark.domain import desdm, failures, sispi

    def loads():
        s = sispi(spark, SF_DIR)
        d = desdm(spark, SF_DIR)
        return s.select(F.lit(1).alias("x")).unionByName(
            d.select(F.lit(1).alias("x"))
        )

    def outer():
        s = sispi(spark, SF_DIR).select(
            "expnum", "nite", "propid", "obstype", "delivered",
            F.lit(True).alias("_s"),
        )
        d = desdm(spark, SF_DIR).select(
            "expnum",
            F.col("nite").alias("x_nite"),
            F.col("propid").alias("x_propid"),
            F.col("obstype").alias("x_obstype"),
            F.lit(True).alias("_d"),
        )
        return cut_lineage(s.join(d, "expnum", "full"))

    def fails():
        return failures(spark, SF_DIR)

    return {"loads": loads, "outer_cut": outer, "failures": fails}


def stages_pack(spark):
    from dbbspark.operators.mixing import epoch_repeats
    from dbbspark.operators.packing import pack_sequences
    from dbbspark.operators.select import budget_select

    def docs():
        return load_table(spark, SF_DIR, "documents")

    def reps():
        return (
            epoch_repeats(
                docs().select("doc_id", "source"),
                {"src0": 2.5, "src1": 0.5, "src2": 3.0},
                default=1.0,
                epoch_seed=0,
            )
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_copies"))
        )

    def toks_cut():
        return docs().select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias(
                "n_tokens"
            ),
            (F.col("n_chars") % 97).cast("double").alias("score"),
        ).transform(cut_lineage, eager=True)

    def pack_leg():
        return pack_sequences(toks_cut(), "doc_id", "n_tokens", 512, 8)

    def budget_leg():
        return budget_select(toks_cut(), 10_000, "doc_id", "score", "n_tokens", 8)

    return {
        "reps": reps,
        "toks_cut": toks_cut,
        "pack_leg": pack_leg,
        "budget_leg": budget_leg,
    }


def stages_multimodal(spark):
    from dbbspark.operators.phash import (
        decode_and_thumbnails,
        dhash_col,
        hamming_ball_stats,
        thumb_variance_col,
    )
    from dbbspark.queries.multimodal import _TWIN_OFFSET

    def front():
        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", F.col("text").cast("binary").alias("content")
        )
        return (
            decode_and_thumbnails(docs, kind="image", on_unregistered="fake")
            .select(
                "doc_id",
                dhash_col("thumb").alias("dhash"),
                F.round(thumb_variance_col("thumb") * 6561)
                .cast("bigint")
                .alias("thumb_var_x6561"),
            )
        )

    def hashed_cut():
        from dbbspark.catalog import load_all  # noqa: F401

        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", F.col("text").cast("binary").alias("content")
        )
        h = (
            decode_and_thumbnails(docs, kind="image", on_unregistered="fake")
            .select(
                "doc_id",
                dhash_col("thumb").alias("dhash"),
                "thumb",
            )
            .select(
                "doc_id",
                "dhash",
                F.expr(
                    "(dhash & -2) | (CASE WHEN element_at(thumb, 1) + 1.0D >"
                    " element_at(thumb, 2) THEN 1L ELSE 0L END)"
                ).alias("twin_hash"),
            )
        )
        return cut_lineage(h)

    def stats():
        h = hashed_cut()
        corpus = h.select(F.col("doc_id").alias("id"), F.col("dhash").alias("h"))
        twins = h.select(
            (F.col("doc_id") + _TWIN_OFFSET).alias("id"),
            F.col("twin_hash").alias("h"),
        )
        u = corpus.unionByName(twins)
        return hamming_ball_stats(u, "id", "h", max_distance=4)

    return {"front": front, "stats_2of3": stats}


def stages_dedup_clusters(spark):
    import dbbspark.operators.dedup as D

    def docs():
        return load_table(spark, SF_DIR, "documents")

    def pairs():
        return D.jaccard_pairs(
            docs(), "doc_id", "text", shingle_n=3, threshold=0.5, max_df=1000
        )

    def cc_time():
        # driver-regime operator: returns (ranked, local_rows) and runs
        # its jobs at call time — time the call, emit a dummy frame
        t0 = time.perf_counter()
        ranked, local_rows = D.cluster_rank_adaptive(
            pairs(), src="doc_a", dst="doc_b", damping=0.85, max_iter=3
        )
        print(f"    [cluster_rank_adaptive call: "
              f"{time.perf_counter() - t0:.3f}s rows="
              f"{len(local_rows) if local_rows is not None else 'dist'}]")
        return spark.range(1)

    def jmap_time():
        from dbbspark.operators.audit import member_rep_jaccard_map
        from dbbspark.operators.dedup import md5_int_py

        _ranked, local_rows = D.cluster_rank_adaptive(
            pairs(), src="doc_a", dst="doc_b", damping=0.85, max_iter=3
        )
        stratum = [
            (n, c)
            for n, c, _rank in local_rows
            if n != c and md5_int_py("purity-v1" + str(n)) % 100 < 25
        ]
        comp_rows = [{"node": n, "component": c} for n, c in stratum]
        comp_rows += [
            {"node": c, "component": c} for c in {c for _n, c in stratum}
        ]
        t0 = time.perf_counter()
        member_rep_jaccard_map(
            load_table(spark, SF_DIR, "documents"), comp_rows,
            "doc_id", "text", 3,
        )
        print(f"    [jmap call: {time.perf_counter() - t0:.3f}s]")
        return spark.range(1)

    return {"pairs": pairs, "cc_full": cc_time, "cc_jmap": jmap_time}


def stages_text_stats(spark):
    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL
    from dbbspark.operators.funnel import funnel_blame
    from dbbspark.operators.spans import duplicate_ngram_spans

    def docs():
        return load_table(spark, SF_DIR, "documents")

    def blamed():
        d = docs()
        block_ids = d.where(
            F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 20 == 0
        ).select("doc_id")
        return funnel_blame(
            d,
            [
                ("blocklist", block_ids),
                ("too_short", F.col("n_chars") < 100),
                ("bad_lang", ~F.col("lang").isin("en", "de")),
            ],
        )

    def spans():
        return duplicate_ngram_spans(
            docs().select("doc_id", "text"), "doc_id", "text", n=5, min_count=2
        )

    def per_doc():
        return spans().groupBy("doc").agg(
            F.count("*").alias("_nsp"),
            F.sum(F.col("span_end") - F.col("span_start")).alias("_sptok"),
        )

    return {"blamed": blamed, "spans": spans, "per_doc": per_doc}


GROUPS = {
    "q_embed_normalize": stages_embed_normalize,
    "q_reconcile_anti": stages_reconcile,
    "q_pack_sequences": stages_pack,
    "q_multimodal_decode": stages_multimodal,
    "q_dedup_clusters": stages_dedup_clusters,
    "q_text_stats": stages_text_stats,
}


def main():
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("probe-sub")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    from dbbspark.catalog import load_all

    catalog = load_all()

    builders = dict(GROUPS[name](spark))
    builders["FULL"] = lambda: catalog[name].builder(spark, SF_DIR)

    def t(b):
        t0 = time.perf_counter()
        b().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    res = {n: [] for n in builders}
    for _ in range(reps):
        for n, b in builders.items():
            spark.sparkContext.setJobDescription(f"{name}:{n}")
            res[n].append(t(b))
    for n, xs in res.items():
        print(f"{n:12s} best={min(xs):6.3f} all={['%.3f' % x for x in xs]}")


if __name__ == "__main__":
    main()
