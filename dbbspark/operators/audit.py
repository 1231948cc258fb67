"""Dedup-cluster purity audit — "did connected components over-merge?"
(closure operator, SURVEY.md §2.11 C50).

Near-dup clustering is candidate pairs → connected components (C12),
and transitivity is its known failure mode: A~B and B~C chain A into
C's cluster even when Jaccard(A, C) is far below the threshold, so one
promiscuous boilerplate document can weld unrelated clusters and the
keep-one-per-cluster policy then DELETES unrelated documents. This
audit measures that before the delete:

- per member: exact Jaccard between the member and its cluster
  REPRESENTATIVE (the min-id node — which is exactly the component
  label connected components produce, and the doc `q_dedup_clusters`-style
  policies keep);
- per cluster: member count + min/avg member-to-rep Jaccard;
- a `suspect` flag for members below a floor (the evidence for
  splitting or re-thresholding before committing the dedup).

Member-to-rep is LINEAR in corpus size (one comparison per member),
not the O(cluster²) of all-pairs purity — the 100 TB-visitable version
of the check. Distributed shape: one semi-join to restrict shingling to
involved docs, one (component, shingle-hash) equi-join between member
and rep mention streams, two aggregations, no posting arrays. A
membership relation that fits the driver bound runs the same
arithmetic on the driver instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import sql_ident
from ..session import collect_if_small
from .dedup import shingle_hash_docs

# Driver bound of `cluster_purity`, in membership rows — the same size
# class as the dup-cluster graphs the CC driver regime takes.
DRIVER_MEMBER_BOUND = 200_000


def cluster_purity(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    suspect_below: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """(per_member, per_cluster) purity relations.

    ``components`` is the C12 output: (node, component) with component =
    min node id of the cluster. per_member: (component, member,
    jaccard, suspect) for every NON-representative member. per_cluster:
    (component, n_members, min_jaccard, avg_jaccard, n_suspect).
    Singleton clusters (no non-rep members) don't appear — nothing was
    merged, nothing to audit.

    Short documents (< ``shingle_n`` tokens) have empty shingle sets; a
    member-rep pair where BOTH sets are empty is scored by exact text
    identity (byte-identical → 1.0, else 0.0) rather than NULL, so the
    per-cluster min/avg count them and a purity-floor delete policy
    still drops genuinely identical short duplicates.

    Size-adaptive through `session.collect_if_small`: when the
    membership relation fits ``DRIVER_MEMBER_BOUND`` rows, the involved
    docs' shingle sets collect to the driver (one semi-joined
    aggregation instead of the six tiny-relation joins of the
    distributed plan — ~2.2 s of shuffle-stage overhead at sf0.1 for a
    KB-scale audit) and the exact same jaccard/identity arithmetic runs
    in python. Past the bound the distributed plan runs unchanged — the
    100 TB audit shape. Driver ≡ distributed pinned in
    tests/test_audit.py.
    """
    comp = components.select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )
    involved = comp.select(F.col("node").alias(id_col)).distinct()
    pdf = collect_if_small(comp, DRIVER_MEMBER_BOUND)
    if pdf is not None:
        comp_rows = [
            {"node": n, "component": c}
            for n, c in zip(pdf["node"].tolist(), pdf["component"].tolist())
        ]
        return _cluster_purity_driver(
            docs, comp_rows, id_col, text_col, shingle_n, suspect_below
        )
    # distinct shingle hashes per involved doc + per-doc set size —
    # tuple-hashed without building shingle strings (r14; equality
    # classes identical, see shingle_hash_docs)
    sh = shingle_hash_docs(
        docs.join(involved, id_col, "left_semi"), id_col, text_col, shingle_n
    )
    mentions = sh.select(F.col("doc"), F.explode("hs").alias("h"))
    sizes = mentions.groupBy("doc").agg(F.count("*").alias("n_sh"))

    # Exact text hash per involved doc: documents shorter than
    # `shingle_n` tokens produce NO shingles, so their member-to-rep
    # comparison would be 0/0. The hash resolves that stratum exactly —
    # byte-identical short docs score 1.0, different ones 0.0 — instead
    # of a NULL that the per-cluster min/avg would silently skip and a
    # purity-floor delete policy would silently retain.
    txt_hash = docs.join(involved, id_col, "left_semi").select(
        F.col(id_col).alias("doc"),
        F.xxhash64(F.coalesce(F.col(text_col), F.lit(""))).alias("_th"),
    )

    members = comp.where(F.col("node") != F.col("component"))
    mem_mentions = members.join(
        mentions.withColumnRenamed("doc", "node"), "node"
    ).select("component", F.col("node").alias("member"), "h")
    rep_mentions = (
        comp.select("component").distinct()
        .join(mentions.withColumnRenamed("doc", "component"), "component")
        .select("component", "h")
    )
    inter = (
        mem_mentions.join(rep_mentions.hint("shuffle_merge"), ["component", "h"])
        .groupBy("component", "member")
        .agg(F.count("*").alias("_inter"))
    )
    per_member = (
        members.select("component", F.col("node").alias("member"))
        .join(inter, ["component", "member"], "left")
        .join(
            sizes.select(F.col("doc").alias("member"), F.col("n_sh").alias("_nm")),
            "member",
            "left",
        )
        .join(
            sizes.select(
                F.col("doc").alias("component"), F.col("n_sh").alias("_nr")
            ),
            "component",
            "left",
        )
        .join(
            txt_hash.select(F.col("doc").alias("member"), F.col("_th").alias("_hm")),
            "member",
            "left",
        )
        .join(
            txt_hash.select(
                F.col("doc").alias("component"), F.col("_th").alias("_hr")
            ),
            "component",
            "left",
        )
        .select(
            "component",
            "member",
            F.when(
                # both shingle sets empty (sub-shingle_n docs): decide by
                # exact text identity instead of emitting NULL (0/0)
                F.coalesce(F.col("_nm"), F.lit(0))
                + F.coalesce(F.col("_nr"), F.lit(0))
                == 0,
                F.when(F.col("_hm") == F.col("_hr"), F.lit(1.0)).otherwise(
                    F.lit(0.0)
                ),
            )
            .otherwise(
                F.coalesce(F.col("_inter"), F.lit(0))
                / (
                    F.coalesce(F.col("_nm"), F.lit(0))
                    + F.coalesce(F.col("_nr"), F.lit(0))
                    - F.coalesce(F.col("_inter"), F.lit(0))
                )
            )
            .alias("jaccard"),
        )
        .withColumn("suspect", F.col("jaccard") < F.lit(suspect_below))
    )
    per_cluster = per_member.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.min("jaccard").alias("min_jaccard"),
        F.avg("jaccard").alias("avg_jaccard"),
        F.sum(F.col("suspect").cast("long")).alias("n_suspect"),
    )
    return per_member, per_cluster


def member_rep_jaccard_map(
    docs,
    comp_rows,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> dict:
    """{member → exact member-to-rep jaccard} for pre-collected
    (node, component) rows — the driver regime's core, shared
    by `_cluster_purity_driver` and the q_dedup_clusters C50 fold
    (which already holds the component rows and fuses the result into
    one output frame instead of paying a join). ONE distributed job:
    the involved docs' shingle-hash sets + text hashes collect from a
    broadcast-semi-joined two-column scan; the jaccard /
    both-empty-identity arithmetic runs in python — value-identical to
    the distributed plan (same xxhash64 shingle hashes, same exact
    integer ratio)."""
    spark = docs.sparkSession
    involved_ids = {r["node"] for r in comp_rows}
    # ONE narrow projection, ONE job: shingle hash set + text hash per
    # involved doc from a broadcast-semi-joined two-column scan (the
    # sh-join-th two-pass form cost a second scan + a join for nothing).
    # Inlined rather than shingle_docs: that helper DROPS sub-shingle_n
    # docs, whose absent text hash would misread two DIFFERENT short
    # docs as identical here; they keep an empty set + real hash
    # instead. Two projections so the token split evaluates once.
    from .dedup import shingles_from_tokens, tokens_col

    # Small id sets (every driver-regime call by construction) restrict
    # via an IN-set predicate instead of the broadcast semi-join: the
    # filter PUSHES DOWN into the parquet scan (row-group stats + late
    # materialization prune the text column before it is read), where a
    # join restriction cannot — measured ~2× on the sf0.1 stratum fold.
    if len(involved_ids) <= 10_000:
        base = docs.select(id_col, text_col).where(
            F.col(id_col).isin(list(involved_ids))
        )
    else:
        inv = spark.createDataFrame(
            [(i,) for i in involved_ids], f"{sql_ident(id_col)} long"
        )
        base = docs.select(id_col, text_col).join(
            F.broadcast(inv), id_col, "left_semi"
        )
    sh = base.select(
        F.col(id_col).alias("doc"),
        tokens_col(text_col).alias("__toks"),
        F.xxhash64(F.coalesce(F.col(text_col), F.lit(""))).alias("_th"),
    ).select(
        "doc",
        F.when(
            F.size("__toks") >= shingle_n,
            F.array_distinct(
                F.transform(
                    shingles_from_tokens(F.col("__toks"), shingle_n),
                    lambda s: F.xxhash64(s),
                )
            ),
        )
        .otherwise(F.expr("cast(array() as array<bigint>)"))
        .alias("_hs"),
        "_th",
    )
    state = {
        r["doc"]: (set(r["_hs"]), r["_th"]) for r in sh.collect()
    }
    out = {}
    for r in comp_rows:
        m, c = r["node"], r["component"]
        if m == c:
            continue
        sm, hm = state.get(m, (set(), None))
        sr, hr = state.get(c, (set(), None))
        if not sm and not sr:
            # hm/hr are None when the node has NO doc row at all; the
            # distributed plan's `_hm == _hr` predicate is NULL-false
            # there, so a missing hash must never count as identical.
            j = 1.0 if (hm is not None and hm == hr) else 0.0
        else:
            inter = len(sm & sr)
            j = inter / (len(sm) + len(sr) - inter)
        out[m] = float(j)
    return out


def _cluster_purity_driver(
    docs, comp_rows, id_col, text_col, shingle_n, suspect_below
):
    """Driver regime for `cluster_purity` — one job via
    `member_rep_jaccard_map`, then local assembly."""
    from pyspark.sql import types as T

    spark = docs.sparkSession
    jmap = member_rep_jaccard_map(docs, comp_rows, id_col, text_col, shingle_n)
    rows = sorted(
        (r["component"], r["node"], jmap[r["node"]],
         jmap[r["node"]] < suspect_below)
        for r in comp_rows
        if r["node"] != r["component"]
    )
    schema = T.StructType([
        T.StructField("component", T.LongType()),
        T.StructField("member", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("suspect", T.BooleanType()),
    ])
    per_member = spark.createDataFrame(rows, schema)
    per_cluster = per_member.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.min("jaccard").alias("min_jaccard"),
        F.avg("jaccard").alias("avg_jaccard"),
        F.sum(F.col("suspect").cast("long")).alias("n_suspect"),
    )
    return per_member, per_cluster
