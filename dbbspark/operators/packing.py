"""Sequence packing — laying documents end-to-end in a fixed order and
cutting the token stream into fixed-length training sequences (the
"concat-and-chunk" packing LLM data pipelines run after dedup/filtering;
closure operator beyond the reference's surface, SURVEY.md §2.11).

The whole operator is one exact global prefix sum over the token counts.
The naive Spark form — `sum().over(Window.orderBy(id))` — is an
unpartitioned window: every row flows through ONE task, a non-starter at
100 TB. Here the prefix sum is the classic two-pass distributed scan:

1. range-partition by the packing order, per-partition running sums
   computed inside Arrow batches (`mapInPandas`, carrying the running
   total across batches — no per-row Python);
2. the per-partition TOTALS (num_buckets rows, not data rows) are
   prefix-summed driver-side and broadcast-joined back as offsets.

Bucketing is invisible in the result: prefix sums are associative, so the
output is a pure function of (id, tokens, budget) — which is what lets a
single-window DuckDB oracle check the distributed implementation exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from dbbspark.functions import sql_ident
from dbbspark.session import cut_lineage


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 512,
    num_buckets: int = 32,
) -> DataFrame:
    """Assign each document its span of fixed-`budget` training sequences.

    Documents are concatenated in ascending `id_col` order; sequence `s`
    covers tokens [s*budget, (s+1)*budget). Output per doc:
    ``seq_first``/``seq_last`` (the sequence ids the doc straddles) and
    ``seq_offset`` (position of the doc's first token within seq_first).
    Docs with zero tokens get seq_last < seq_first by convention — filter
    them upstream (quality gates already drop empty docs).

    `num_buckets` only sets scan parallelism; any value yields identical
    output. Rows shuffle once (the range partition); the second pass
    moves only `num_buckets` scalar totals.
    """
    # internal names: caller names never reach SQL text or mapInPandas
    # (which rejects a name with a backtick)
    d = (
        docs.select(
            F.col(sql_ident(id_col)).alias("_id"),
            F.col(sql_ident(token_col)).alias("_tok"),
        )
        .repartitionByRange(num_buckets, F.col("_id"))
        .sortWithinPartitions("_id")
        .withColumn("_bucket", F.spark_partition_id())
    )

    def part_cumsum(batches):
        run = 0
        for pdf in batches:
            if pdf.empty:
                continue
            c = pdf["_tok"].cumsum() + run
            run = int(c.iloc[-1])
            out = pdf.copy()
            out["_cum_in_bucket"] = c
            yield out

    schema = "_id long, _tok bigint, _bucket int, _cum_in_bucket bigint"
    # Lazy local checkpoint: materialized by the totals action below, then
    # REUSED by the final join — without it the scan + cumsum pass runs
    # twice (shuffle outputs aren't shared across separate actions). The
    # checkpointed relation is 4 numeric columns, never the text.
    with_partial = d.mapInPandas(part_cumsum, schema).transform(cut_lineage, eager=False)

    # Bucket totals → exclusive prefix offsets. num_buckets rows: driver
    # arithmetic on a broadcastable dim, never on data rows.
    totals = (
        with_partial.groupBy("_bucket")
        .agg(F.max("_cum_in_bucket").alias("_total"))
        .collect()
    )
    offset, offsets = 0, []
    for row in sorted(totals, key=lambda r: r["_bucket"]):
        offsets.append((row["_bucket"], offset))
        offset += row["_total"]
    spark = docs.sparkSession
    off_df = spark.createDataFrame(offsets, "_bucket int, _offset bigint")

    # integer `div`, not `/`: double division rounds above 2^53 tokens.
    return (
        with_partial.join(F.broadcast(off_df), "_bucket")
        .select(
            "_id",
            "_tok",
            (F.col("_cum_in_bucket") + F.col("_offset")).alias("_cum"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_tok").alias(token_col),
            F.expr(f"(_cum - _tok) div {budget}").alias("seq_first"),
            F.expr(f"(_cum - 1) div {budget}").alias("seq_last"),
            F.expr(f"(_cum - _tok) % {budget}").alias("seq_offset"),
        )
    )


def token_balanced_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    n_shards: int = 32,
    num_buckets: int = 32,
) -> DataFrame:
    """(id, tokens, shard): cut the id-ordered token stream into
    `n_shards` contiguous shards of ~equal TOKEN mass (± one document) —
    the writer-side step that makes training shards finish together.
    Row-count sharding (repartition) balances rows, not work: a shard of
    long documents tokenizes/trains slower than a shard of short ones.

    Rides the same two-pass distributed prefix sum as `pack_sequences`
    with budget = ceil(total/n_shards): a doc belongs to the shard its
    FIRST token lands in, so shards are contiguous id ranges — order
    within shards is preserved for curriculum-style consumption. One
    metadata-cheap total-sum job plus the prefix-sum pass; output is a
    pure function of (ids, tokens, n_shards)."""
    total = docs.agg(F.sum(F.col(token_col).cast("bigint"))).first()[0] or 0
    if total == 0:
        return docs.select(id_col, token_col).withColumn("shard", F.lit(0).cast("bigint"))
    budget = math.ceil(total / n_shards)
    packed = pack_sequences(docs, id_col, token_col, budget, num_buckets)
    return packed.select(id_col, token_col, F.col("seq_first").alias("shard"))


def global_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """The corpus in a deterministic pseudo-random GLOBAL order — the
    final shuffle every training pipeline runs so batches don't replay
    crawl/source locality. Order key = xxhash64(id, seed): stable across
    runs, cluster sizes, and input layouts (unlike rand(), whose draw
    depends on partition assignment), so a resumed or re-run job
    reproduces byte-identical shards.

    repartitionByRange + sortWithinPartitions = one range-shuffle and a
    per-partition sort — never a single-reducer global sort; downstream
    writers consume partitions in order (partition i's keys all precede
    partition i+1's), which is exactly the semantics sharded training
    readers need. Change ``seed`` per epoch for fresh orders.

    The sort tiebreaks on ``id_col``: 64-bit hash collisions are
    EXPECTED at corpus scale (birthday bound ≈ n²/2⁶⁵ — a few percent
    at 10⁹ rows), and without the tiebreak two colliding docs' relative
    order would follow scan order, quietly breaking the byte-identical
    claim exactly at the scale it matters. Colliding keys land in one
    range partition, so the local tiebreak is globally total."""
    key = F.xxhash64(F.col(id_col), F.lit(seed))
    out = docs.withColumn("__shuffle_key", key)
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    return (
        out.repartitionByRange(n, "__shuffle_key")
        .sortWithinPartitions("__shuffle_key", id_col)
        .drop("__shuffle_key")
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 0,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, chunk_id, text, n_tokens[, keep_cols...]): each document
    split into whitespace-token chunks of at most ``max_tokens``,
    consecutive chunks sharing ``overlap`` tokens — the context-length
    splitting step for documents longer than the training sequence (the
    sliding window keeps passages that straddle a cut learnable from at
    least one chunk). ``keep_cols`` ride along onto every chunk row
    (per-doc metadata — shard ids, source labels — without a join back).

    Pure expression math, map-only (no shuffle, no Python): the chunk
    count per doc is 1 + ceil((n - max_tokens) / stride) with
    stride = max_tokens - overlap; chunk i is slice(toks, i*stride,
    max_tokens). Docs at or under the budget come back as one chunk,
    byte-identical. Empty AND null-text docs yield one empty chunk
    (report-don't-drop: a null text must surface as a row, not vanish —
    null would propagate through size() into a null chunk count and
    posexplode would emit nothing).
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n = F.size(toks)
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(max_tokens)) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, max_tokens),
    )
    keep = list(keep_cols or [])
    exploded = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.posexplode(chunks).alias("chunk_id", "__chunk"),
    )
    return exploded.select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", "__chunk").alias(text_col),
        F.size("__chunk").alias("n_tokens"),
        *keep,
    )
