"""Streaming near-dedup gate — rolling-corpus ingestion with an LSH
signature index (training-pipeline closure; composes §2.11 C2/C17 with
the §2.9 streaming surface).

A crawl never arrives at once: each micro-batch of documents must be
deduplicated against everything previously ACCEPTED without ever
re-pairing the corpus against itself. The gate keeps a persisted MinHash
signature index (`num_perm` longs per accepted doc — the compact dedup
state; the documents themselves are not re-read) and, per micro-batch:

1. signs the batch (`minhash_signatures` — map-side);
2. pairs it against the index + itself (`lsh_incremental_pairs`:
   new×corpus and new×new bucket collisions, never corpus×corpus);
3. rejects batch docs that collide with the corpus, and — within the
   batch — any doc with a smaller-id colliding neighbor (greedy
   keep-lowest; for a collision chain a<b<c this keeps only `a`,
   matching what batch LSH dedup + keep-first clustering converges to
   on cliques, and staying one-pass on chains);
4. appends accepted docs to the output, THEN their signatures to the
   index — registry-last ordering, same crash-consistency stance as
   ingest.py's archive-then-registry: a crash between the writes can
   re-admit a duplicate on retry, never lose an accepted doc.

State lives in parquet, not in streaming state: the index must outlive
the query (it IS the corpus memory), survives restarts via the
checkpoint + availableNow pattern, and at billions of docs is bucketed
by (band, sig) (`operators.bucketing`) so step 2 co-locates without
shuffling the corpus side.

Crash/retry semantics: foreachBatch is at-least-once, so both sinks
write ``batch=<batch_id>`` partitions via dynamic-partition overwrite —
a retried batch replaces exactly its own partition instead of appending
a second copy. The index therefore grows by one partition per batch
(append-shaped, O(batch) work) while staying retry-idempotent;
``maintenance.compact_gate_index`` periodically collapses the committed
partitions into one reserved ``batch=-1`` partition (a value no live
batch_id can overwrite) to keep file counts bounded.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import batch_lit
from ..operators.dedup import lsh_incremental_pairs, minhash_signatures


def _index_signatures(
    spark: SparkSession, index_dir: str, before: int | None = None
) -> DataFrame:
    """The persisted (doc, perm, minhash) index; empty on first run.

    ``before`` excludes batch partitions >= before: the retry path must
    not see the signatures a crashed attempt of the SAME batch already
    wrote (batch docs colliding with their own index rows would reject
    the entire batch). Partition pruning makes the filter free. Spark-FS
    probe (AnalysisException), not os.path.exists — see
    ingest._registry_names."""
    try:
        idx = spark.read.parquet(index_dir)
        if before is not None and "batch" in idx.columns:
            idx = idx.where(F.col("batch") < before)
        return idx.select("doc", "perm", "minhash")
    except AnalysisException:
        return spark.createDataFrame(
            [], "doc long, perm bigint, minhash bigint"
        )


def gate_batch(
    batch: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    index_bloom: list[int] | None = None,
    index_banded: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(accepted_docs, accepted_signatures) for one batch against an
    index. Pure DataFrame logic — shared by the streaming foreachBatch
    and direct batch callers (which is what pins streaming == batch in
    tests).

    ``index_bloom`` (operators.bloom word table over the corpus's
    xxhash64(band, sig) bucket keys) lets the candidate join skip
    new-side band rows that provably collide with nothing — identical
    accept/reject decisions either way (pinned in tests).

    ``index_banded``: ``index_sigs`` is the PRE-BANDED (doc, band, sig)
    form — at corpus scale a bucketed table built by
    `maintenance.materialize_banded_sig_index`, which skips the
    per-trigger corpus banding groupBy and reads the corpus already
    co-located (the lsh_incremental_pairs corpus_banded contract;
    decisions identical, pinned)."""
    sigs = minhash_signatures(batch, id_col, text_col, num_perm, shingle_n)
    pairs = lsh_incremental_pairs(
        sigs, index_sigs, bands, rows_per_band, corpus_band_bloom=index_bloom,
        corpus_banded=index_banded,
    )
    # vs corpus: doc_a is always the new-batch doc. Within batch:
    # doc_a < doc_b, reject the larger id (greedy keep-lowest).
    rejected = (
        pairs.where(F.col("against") == "corpus")
        .select("doc_a")
        .unionByName(pairs.where(F.col("against") == "new").select(F.col("doc_b").alias("doc_a")))
        .distinct()
        .withColumnRenamed("doc_a", id_col)
    )
    accepted = batch.join(rejected, id_col, "left_anti")
    accepted_sigs = sigs.join(
        accepted.select(F.col(id_col).alias("doc")), "doc", "left_semi"
    )
    return accepted, accepted_sigs


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    accepted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    use_bloom: bool = False,
    lock_wait: float = 0.0,
    lock_break_stale_after: float | None = None,
) -> None:
    """One micro-batch's side effects, idempotent under foreachBatch
    retry (module-level so the retry contract is directly testable).
    Docs first, index last (never lose an accepted doc); both sinks are
    batch=<id> dynamic-partition overwrites, so a re-run replaces its
    own partitions, never duplicates them — and the index read excludes
    partitions >= batch_id so the re-run can't collide the batch with
    its own crashed attempt's signatures.

    ``use_bloom`` maintains a broadcast Bloom filter over the index's
    (band, sig) bucket keys next to the index (same versioned layout and
    predecessor rule as linededup's): the candidate join then skips the
    band rows the filter proves new. Updated by UNIONING in the accepted
    batch's own bucket keys — one batch-sized aggregation, the corpus is
    never rescanned. Missing filter self-heals to the plain join.

    Concurrency (r12): the read->write section holds
    ``commit.exclusive_lock`` on the index root — the lock
    remove_from_index / takedown / compact_gate_index hold for their
    two-rename partition swaps — so a gate read can never land inside a
    swap window and re-admit a surviving signature's duplicates
    (loser-aborts by default; ``lock_wait`` switches to bounded
    retry-with-backoff so a live stream rides out brief maintenance,
    ``lock_break_stale_after`` recovers from a driver killed -9 inside
    a locked batch — see mediadedup.process_batch for the full
    contract)."""
    from ..commit import exclusive_lock
    from .linededup import load_bloom

    spark = batch.sparkSession
    bid = int(batch_id)
    with exclusive_lock(
        spark, index_dir, purpose=f"gate_batch={bid}",
        wait=lock_wait, break_stale_after=lock_break_stale_after,
    ):
        return _process_batch_locked(
            batch, bid, index_dir, accepted_dir, id_col, text_col,
            num_perm, bands, rows_per_band, shingle_n, use_bloom,
            prior_bloom=(
                load_bloom(spark, index_dir, before=bid) if use_bloom else None
            ),
        )


def _process_batch_locked(
    batch, bid, index_dir, accepted_dir, id_col, text_col,
    num_perm, bands, rows_per_band, shingle_n, use_bloom, prior_bloom,
) -> None:
    from ..operators.bloom import build_bloom
    from ..operators.dedup import _band_signatures
    from .linededup import _save_bloom

    spark = batch.sparkSession
    accepted, accepted_sigs = gate_batch(
        batch,
        _index_signatures(spark, index_dir, before=bid),
        id_col,
        text_col,
        num_perm,
        bands,
        rows_per_band,
        shingle_n,
        index_bloom=prior_bloom,
    )
    for df, sink in ((accepted, accepted_dir), (accepted_sigs, index_dir)):
        (
            df.withColumn("batch", batch_lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(sink)
        )
    if use_bloom:
        # No prior filter but the index may hold pre-flag batches: build
        # from the FULL index, not the batch alone — a batch-only filter
        # saved as corpus coverage silently accepts near-dups of the
        # older corpus on every later batch (ADVICE r9).
        src = (
            spark.read.parquet(index_dir).where(F.col("batch") == bid)
            if prior_bloom is not None
            else spark.read.parquet(index_dir).where(F.col("batch") <= bid)
        )
        batch_words = build_bloom(
            _band_signatures(
                src.select("doc", "perm", "minhash"),
                bands,
                rows_per_band,
            )
            .select(F.xxhash64("band", "sig").alias("__bk"))
            .distinct(),
            "__bk",
            num_bits=(len(prior_bloom) * 64) if prior_bloom else 1 << 24,
        )
        if prior_bloom is not None:
            batch_words = [a | b for a, b in zip(prior_bloom, batch_words)]
        _save_bloom(spark, index_dir, bid, batch_words)


def streaming_near_dedup(
    docs: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    use_bloom: bool = False,
):
    """Run the gate over a streaming DataFrame of documents; returns the
    started StreamingQuery (caller awaits termination — availableNow in
    tests, continuous in production)."""

    def _one_batch(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch,
            batch_id,
            index_dir,
            accepted_dir,
            id_col,
            text_col,
            num_perm,
            bands,
            rows_per_band,
            shingle_n,
            use_bloom=use_bloom,
        )

    return (
        docs.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
