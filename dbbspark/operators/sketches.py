"""Mergeable corpus sketches — incremental telemetry for a rolling corpus
(training-pipeline closure, SURVEY.md §2.11 C40).

`corpus_report` (operators/vocab.py) answers the dataset-card questions
with ONE aggregation — but it rescans the whole corpus every time. At
100 TB with a streaming front door (streaming/linededup.py etc.) that is
the wrong shape: each micro-batch should contribute a CONSTANT-size
sketch row, and "stats so far" should be a union of those rows, never a
corpus rescan. Everything here is chosen to be exactly mergeable:

- Scalar totals (docs / tokens / chars) merge by SUM.
- Distinct counts (unique documents, vocabulary size) are Apache
  DataSketches HLL sketches via Spark's native `hll_sketch_agg`,
  merged with `hll_union_agg` — both JVM aggregates, sketch binaries
  are ~KB regardless of corpus size.
- Token frequencies are a count-min sketch (Cormode & Muthukrishnan
  2005) represented as a SPARSE RELATION of (row, col, count) cells
  rather than an opaque binary: at most depth×width rows after the
  map-side combine, exactly mergeable by union + groupBy + SUM, and
  point-queryable entirely Spark-side (the same xxhash64(token, row)
  expressions compute the query positions, so no hash function is ever
  reimplemented driver-side). Estimates carry the classic guarantee:
  est >= true, and est <= true + (e/width)·N with prob 1-(1/2)^depth.

Scale shape: one pass over the batch (explode mentions × depth struct
array, map-side combine), per-batch state <= depth×width + 1 rows; the
merged "card" is an aggregation over #batches tiny rows. Nothing ever
rescans prior batches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import batch_lit, sql_ident
from .dedup import tokens_col

# Defaults: eps = e/width ~ 0.00066, delta = 2^-5 ~ 3% per query.
CMS_DEPTH = 5
CMS_WIDTH = 4096


def corpus_sketch(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """ONE-row sketch of a document batch: scalar totals plus HLL
    sketches for distinct-document (sha256 of text) and distinct-token
    cardinalities. The row is a few KB; rows from different batches
    merge exactly via `merge_corpus_sketches`.

    Two aggregations (doc-grain and mention-grain — the token HLL needs
    the explode, which can't live inside an aggregate) cross-joined as
    one-row frames; both are map-side-combined sketch aggregates."""
    toks = tokens_col(text_col)
    body = F.coalesce(F.col(text_col), F.lit(""))
    doc_side = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks).cast("bigint")).alias("total_tokens"),
        F.sum(F.length(body).cast("bigint")).alias("total_chars"),
        F.hll_sketch_agg(F.sha2(body.cast("binary"), 256)).alias("doc_hll"),
    )
    token_side = (
        docs.select(F.explode(toks).alias("token"))
        .agg(F.hll_sketch_agg("token").alias("token_hll"))
    )
    return doc_side.crossJoin(token_side)


def merge_corpus_sketches(sketches: DataFrame) -> DataFrame:
    """Merge per-batch sketch rows (any number, any order) into one row
    with the same schema. SUM for scalars, hll_union_agg for sketches —
    commutative and associative, so batch boundaries never matter."""
    return sketches.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("total_chars").alias("total_chars"),
        F.hll_union_agg("doc_hll").alias("doc_hll"),
        F.hll_union_agg("token_hll").alias("token_hll"),
    )


def sketch_card(merged: DataFrame) -> dict:
    """Dataset-card dict from a merged sketch row: totals, estimated
    distinct docs / vocabulary size, and the implied duplicate rate.
    Only the one result row reaches the driver."""
    row = merged.select(
        "n_docs",
        "total_tokens",
        "total_chars",
        F.hll_sketch_estimate("doc_hll").alias("distinct_docs"),
        F.hll_sketch_estimate("token_hll").alias("vocab_size"),
    ).first()
    n = row["n_docs"] or 0
    distinct = row["distinct_docs"] or 0
    return {
        "n_docs": n,
        "total_tokens": row["total_tokens"] or 0,
        "total_chars": row["total_chars"] or 0,
        "distinct_docs": distinct,
        "vocab_size": row["vocab_size"] or 0,
        "approx_dup_rate": max(0.0, 1.0 - distinct / n) if n else 0.0,
    }


def write_batch_sketch(
    docs: DataFrame, batch_id: int, sketch_dir: str, text_col: str = "text"
) -> None:
    """Persist one batch's sketch row under ``sketch_dir/batch=<id>`` via
    dynamic-partition overwrite — the same retry-idempotence contract as
    the streaming gates' doc sinks: a re-run of the same batch_id
    replaces exactly its own row, never appends a duplicate."""
    row = corpus_sketch(docs, text_col).withColumn("batch", batch_lit(batch_id))
    (
        row.coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(sketch_dir)
    )


def incremental_card(spark, sketch_dir: str) -> dict:
    """Dataset card of everything sketched so far: read the per-batch
    rows (#batches tiny rows), merge, estimate. Never rescans a corpus.
    Empty/missing dir → the all-zero card."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(sketch_dir).drop("batch")
    except AnalysisException:
        return {
            "n_docs": 0,
            "total_tokens": 0,
            "total_chars": 0,
            "distinct_docs": 0,
            "vocab_size": 0,
            "approx_dup_rate": 0.0,
        }
    return sketch_card(merge_corpus_sketches(rows))


def _cms_cells(
    token_sql: str, depth: int, width: int, portable: bool = False
) -> Column:
    """Array of (row, col) cell positions for one token mention
    (``token_sql`` is the token EXPRESSION as Spark SQL text). The
    depth hash functions are xxhash64 seeded by the row index carried as
    an extra hashed column — the SAME expressions serve build and query,
    so estimates need no driver-side hashing. ``portable=True`` swaps
    the per-row hash for the md5-derived bigint of ``token || '#' ||
    row`` (the C43/C44 portable-hash convention) so an oracle engine
    can re-derive every cell position — the C40 value-oracle fold
    (q_token_freq, r12); production keeps the cheaper xxhash64.

    r14: the array is GENERATED SQL parsed by one expr() call — the
    Column-built form paid ~0.2 s of py4j round trips per plan build
    (×2 for build+query in q_token_freq). Cell positions pinned ≡ the
    Column forms in tests/test_sketches.py."""
    from .dedup import MD5_INT_SPARK_SQL

    def col_for(r: int) -> str:
        if portable:
            h = MD5_INT_SPARK_SQL(f"concat({token_sql}, '#{r}')")
        else:
            h = f"xxhash64({token_sql}, {r})"
        return f"pmod({h}, {int(width)})"

    entries = ", ".join(
        f"struct({r} AS row, {col_for(r)} AS col)" for r in range(depth)
    )
    return F.expr(f"array({entries})")


def cms_sketch(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    lowercase: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Count-min sketch of the batch's token stream as a sparse
    (row, col, count) relation — at most depth×width rows regardless of
    batch size (map-side combine caps the shuffle at the cell count)."""
    toks = tokens_col(text_col)
    if lowercase:
        toks = F.transform(toks, F.lower)
    mentions = docs.select(F.explode(toks).alias("token"))
    cells = mentions.select(
        F.explode(_cms_cells(sql_ident("token"), depth, width, portable)).alias("cell")
    )
    return cells.groupBy(
        F.col("cell.row").alias("row"), F.col("cell.col").alias("col")
    ).agg(F.count("*").alias("count"))


def cms_sketch_weighted(
    counts: DataFrame,
    token_col: str = "token",
    count_col: str = "count",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    portable: bool = False,
) -> DataFrame:
    """`cms_sketch` from a pre-aggregated (token, count) relation:
    per-cell count = Σ counts of the tokens landing there — provably the
    same sparse relation as hashing every mention (grouping by token
    commutes with the cell groupBy), at |vocab|×depth hash evaluations
    instead of |mentions|×depth. The right shape whenever a frequency
    relation already exists (vocab stats pipelines, the C40 fold — the
    portable md5 hash is ~20× xxhash64, so hashing mentions blew the
    fold host's 2.5 s budget while this form is ~free). Equivalence to
    the mention form is pinned in tests/test_sketches.py."""
    cells = counts.select(
        F.col(sql_ident(count_col)).alias("__w"),
        F.explode(
            _cms_cells(sql_ident(token_col), depth, width, portable)
        ).alias("cell"),
    )
    return cells.groupBy(
        F.col("cell.row").alias("row"), F.col("cell.col").alias("col")
    ).agg(F.sum("__w").alias("count"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CMS relations built with the SAME (depth, width): union +
    per-cell SUM. Exact — merged table equals the one-shot table."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "col").agg(F.sum("count").alias("count"))


def cms_estimate(
    cms: DataFrame,
    queries: DataFrame,
    token_col: str = "token",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    lowercase: bool = True,
    portable: bool = False,
) -> DataFrame:
    """(token, est) point estimates for each query token: recompute the
    depth cell positions with the same expressions, left-join against
    the sketch (missing cell → 0), take the per-token MIN across rows.
    The query side is small by construction (a vocab probe list), so the
    join broadcasts it; the sketch side is <= depth×width rows anyway."""
    token_sql = f"lower({sql_ident(token_col)})" if lowercase else sql_ident(token_col)
    probes = queries.select(
        F.col(sql_ident(token_col)).alias("token"),
        F.explode(_cms_cells(token_sql, depth, width, portable)).alias("cell"),
    ).select("token", F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
    joined = probes.join(cms, ["row", "col"], "left")
    return joined.groupBy("token").agg(
        F.min(F.coalesce(F.col("count"), F.lit(0))).alias("est")
    )


# ---------------------------------------------------------------------------
# KMV bottom-k sketches — cross-corpus overlap estimation (SURVEY.md §2.11
# C44). "How much of corpus B is already inside corpus A?" is the question
# a dedup/mixing plan asks BEFORE paying the cross-corpus join; a k-minimum-
# values sketch (Beyer et al., SIGMOD 2007) answers it from two k-row
# aggregates. Each corpus contributes ONE TakeOrdered pass (orderBy+limit k
# compiles to a per-partition top-k + driver merge, never a global sort);
# sketches merge by union + re-take, and the driver only ever holds k longs.

KMV_K = 1024
# Signed-long hash values are order-isomorphic to their unsigned
# normalization, so bottom-k over the signed values IS bottom-k over (0,1].
_U64 = 2.0**64
_LONG_MIN = -(2**63)


def kmv_sketch(
    df: DataFrame,
    key: Column | str,
    k: int = KMV_K,
    hash_col: Column | None = None,
) -> DataFrame:
    """Bottom-k distinct hash values of `key` as a k-row relation
    (column ``h``). ONE aggregation: distinct is a partial-agg groupBy on
    the hash, the bottom-k a TakeOrdered. Null keys are skipped (a null
    element is not a set member).

    ``hash_col`` overrides the hash (default xxhash64 — full int64
    range). Passing ``F.expr(dedup.MD5_INT_SPARK_SQL(...))`` gives an
    engine-portable sketch the DuckDB oracle can re-derive hash-for-hash
    (the r11 fold in q_approx_distinct); estimators over a non-default
    hash must normalize over the matching domain (`kmv_cardinality`'s
    ``domain``)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.xxhash64(c) if hash_col is None else hash_col
    return (
        df.where(c.isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Sketch of the UNION of two keyed sets: union + distinct + re-take.
    Exactly the sketch the one-shot pass over A ∪ B would produce."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def _norm(h: int) -> float:
    return (h - _LONG_MIN + 1) / _U64


def kmv_cardinality(
    hashes: list[int], k: int, domain: tuple[int, int] | None = None
) -> float:
    """Distinct-count estimate from a sketch's hash list: if the sketch
    saturated (|S| = k), N̂ = (k-1)/u_(k) (u_(k) = k-th smallest value
    normalized to (0,1]); an unsaturated sketch holds EVERY distinct
    hash, so the count is exact. ``domain=(lo, span)`` normalizes a
    non-default hash (e.g. MD5_INT_SPARK_SQL's [0, 2^60) — the portable-fold
    hash); default is xxhash64's full signed-int64 range."""
    if len(hashes) < k:
        return float(len(hashes))
    if domain is None:
        return (k - 1) / _norm(max(hashes))
    lo, span = domain
    return (k - 1) / ((max(hashes) - lo + 1) / span)


def corpus_overlap(
    sketch_a: "DataFrame | list[int]",
    sketch_b: "DataFrame | list[int]",
    k: int = KMV_K,
    domain: tuple[int, int] | None = None,
) -> dict:
    """Jaccard + both containments between two corpora from their KMV
    sketches alone. Estimator (Beyer et al. §4): take X = the k smallest
    hashes of the union; J ≈ |X ∩ A ∩ B| / |X|, |A∪B| from X's k-th
    value, |A∩B| = J·|A∪B|, containment(B⊆A) = |A∩B|/|B|. Everything
    after the two k-row collects is driver arithmetic on ≤ 3k longs.

    Relative error ~ 1/√k (k=1024 → ~3%); with UNSATURATED sketches the
    answer is exact (the sketches are the full hash sets).

    ``domain`` normalizes a non-default hash (see `kmv_cardinality`) —
    sketches built over `dedup.MD5_INT_SPARK_SQL` pass ``(0, 2**60)`` so the
    saturated estimators divide by the right u_(k); without it a
    portable-hash sketch would silently normalize over xxhash64's int64
    range (the r13 snapshot-diff fold's requirement).

    Either sketch may also be a pre-collected list of hash ints (r14):
    callers that overlap the two collect jobs on driver threads
    (snapshot_diff's fold mode) hand the results in directly — the
    arithmetic is identical.
    """
    ha = sorted(
        sketch_a if isinstance(sketch_a, list)
        else (r["h"] for r in sketch_a.collect())
    )
    hb = sorted(
        sketch_b if isinstance(sketch_b, list)
        else (r["h"] for r in sketch_b.collect())
    )
    if not ha or not hb:
        return {"jaccard": 0.0, "containment_a_in_b": 0.0,
                "containment_b_in_a": 0.0, "card_a": float(len(ha)),
                "card_b": float(len(hb)), "card_union": float(len(set(ha) | set(hb)))}
    union = sorted(set(ha) | set(hb))[:k]
    x = set(union)
    j = len(x & set(ha) & set(hb)) / len(union)
    card_a = kmv_cardinality(ha, k, domain)
    card_b = kmv_cardinality(hb, k, domain)
    if len(union) < k:
        card_union = float(len(union))
    elif domain is None:
        card_union = (k - 1) / _norm(union[-1])
    else:
        lo, span = domain
        card_union = (k - 1) / ((union[-1] - lo + 1) / span)
    inter = j * card_union
    return {
        "jaccard": j,
        "containment_a_in_b": min(1.0, inter / card_a) if card_a else 0.0,
        "containment_b_in_a": min(1.0, inter / card_b) if card_b else 0.0,
        "card_a": card_a,
        "card_b": card_b,
        "card_union": card_union,
    }
