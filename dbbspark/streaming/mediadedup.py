"""Streaming perceptual media-dedup gate — rolling ingestion of media
files with a persisted 64-bit hash index (completes the gate family:
linededup for boilerplate lines, neardedup for text LSH, annindex for
embeddings, THIS for image/audio perceptual fingerprints — the C56
operators under the same operational contract; the reference's
checksum dup-gate `bin/save_DBB_stagein_to_DBB.py:100-109` generalized
to content that re-encodes).

A media crawl never arrives at once: each micro-batch must be gated
against every previously ACCEPTED file without re-pairing the corpus
with itself — and md5 can't do it, because a resized or re-encoded
copy shares no bytes with its original. The gate keeps a persisted
(id, phash) index — EIGHT BYTES of dedup state per accepted file; the
media bytes are never re-read — and, per micro-batch:

1. decodes + hashes the batch (`thumbnails` → dHash/aHash/audio hash —
   the ONE Python crossing, map-only, fused with the scan);
2. pairs it against the index + itself (`hamming_incremental_pairs`:
   new×corpus and new×new band collisions, never corpus×corpus, exact
   under the d+1-band pigeonhole);
3. rejects batch files within ``max_distance`` of an accepted corpus
   hash, and — within the batch — any file with a smaller-id colliding
   neighbor (greedy keep-lowest, the neardedup convergence contract);
4. appends accepted files to the output, THEN their hashes to the
   index — registry-last crash ordering: a crash between the writes
   can re-admit a duplicate on retry, never lose an accepted file.

Undecodable media hashes NULL, collides with nothing, and is ACCEPTED
un-indexed (quarantine's concern, not dedup's — the thumbnails()
stance).

Crash/retry semantics are neardedup's exactly: both sinks write
``batch=<batch_id>`` dynamic-partition overwrites (a retry replaces its
own partitions), the index read excludes partitions >= batch_id (the
retry must not collide the batch with its own crashed attempt's
hashes), and ``maintenance.compact_gate_index`` bounds file counts.

Scale: per-trigger join cost is |batch| + collided corpus postings.
Unlike the text gates this gate keeps no broadcast Bloom filter over
the corpus's (band, val) bucket keys: a 64-bit hash at d+1 bands gives
each band a ~2^13-value key space, which even a few thousand accepted
files saturate, so such a filter stops proving absence almost at once
(measured — BASELINE.md r10 backfill regime: zero of 109,018
candidates removed, gate wall 5.64 → 12.42 s). The real scale lever at
billions of accepted files is storing the banded index bucketed by
(band, val) (`operators.bucketing`) so the join co-locates without
shuffling the corpus side.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import batch_lit
from ..operators.phash import (
    ahash_col,
    audio_hash_col,
    dhash_col,
    hamming_incremental_pairs,
    thumbnails,
)

_HASHES = {"dhash": dhash_col, "ahash": ahash_col, "audio": audio_hash_col}


def _batches_root(index_dir: str) -> str:
    # Sibling dir (the linededup `.bloom` device): the index root is read
    # with partition discovery, which a foreign subdirectory would break.
    return f"{index_dir.rstrip('/')}.batches"


def _mark_batch_done(spark: SparkSession, index_dir: str, bid: int) -> None:
    """Record batch completion INDEPENDENTLY of hash rows: a batch whose
    accepted files were all NULL-hash/undecodable writes zero index rows
    (accepted un-indexed by design), so the index's max batch partition
    alone cannot distinguish 'completed with nothing to index' from
    'crashed between the accepted and index writes' — the crash detector
    would refuse forever (ADVICE r9). One tiny batch=<id> partition,
    dynamic-overwrite idempotent under retry; written LAST, so a marker
    at batch N proves every write of batch N landed."""
    (
        spark.createDataFrame([(1,)], "done int")
        .withColumn("batch", F.lit(int(bid)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(_batches_root(index_dir))
    )


def last_completed_batch(spark: SparkSession, index_dir: str) -> int:
    """Highest batch id known complete on the index side: the max over
    hash partitions AND completion markers (-1 when neither exists).
    Hash partitions count because pre-marker indexes (and crash windows
    between the index write and the marker write) still prove the index
    write itself landed — the only write whose loss orphans dedup
    state."""
    mx = -1
    for d in (index_dir, _batches_root(index_dir)):
        try:
            df = spark.read.parquet(d)
            if "batch" in df.columns:
                v = df.agg(F.max("batch")).first()[0]
                if v is not None:
                    mx = max(mx, int(v))
        except AnalysisException:
            continue
    return mx


def _index_hashes(
    spark: SparkSession,
    index_dir: str,
    before: int | None = None,
    id_type: str = "string",
) -> DataFrame:
    """The persisted (mid, phash) index; empty on first run. ``before``
    excludes batch partitions >= before — the retry rule (see module
    doc). Spark-FS probe, not os.path.exists (object stores).
    ``id_type`` shapes the first-run empty relation only — callers pass
    the batch id column's own type so the pair union never sees a
    string/long conflict on the very first batch."""
    try:
        idx = spark.read.parquet(index_dir)
        if before is not None and "batch" in idx.columns:
            idx = idx.where(F.col("batch") < before)
        return idx.select("mid", "phash")
    except AnalysisException:
        return spark.createDataFrame([], f"mid {id_type}, phash long")


def gate_batch(
    batch_hashes: DataFrame,
    index_hashes: DataFrame,
    id_col: str = "path",
    hash_col: str = "phash",
    max_distance: int = 4,
    bands: int | None = None,
    index_banded: bool = False,
) -> DataFrame:
    """Accepted rows of ``batch_hashes`` (all its columns) against an
    index of prior hashes. Pure DataFrame logic — shared by the
    streaming foreachBatch and direct batch callers (which is what pins
    streaming == batch in tests). NULL-hash rows are accepted: they
    match nothing by the hamming_pairs contract.

    ``index_banded``: ``index_hashes`` is the PRE-BANDED (mid, phash,
    band, val) form — at corpus scale a bucketed table built by
    `maintenance.materialize_banded_index`, which the band join reads
    already co-located so only the batch side shuffles (the
    `banded_hash_index` contract; decisions identical, pinned)."""
    sel = [F.col("mid").alias(id_col), F.col("phash").alias(hash_col)]
    if index_banded:
        sel += [F.col("band"), F.col("val")]
    pairs = hamming_incremental_pairs(
        batch_hashes,
        index_hashes.select(*sel),
        id_col,
        hash_col,
        max_distance=max_distance,
        bands=bands,
        corpus_banded=index_banded,
    )
    # vs corpus: id_a is always the new-batch id. Within batch:
    # id_a < id_b, reject the larger id (greedy keep-lowest).
    rejected = (
        pairs.where(F.col("against") == "corpus")
        .select("id_a")
        .unionByName(
            pairs.where(F.col("against") == "new")
            .select(F.col("id_b").alias("id_a"))
        )
        .distinct()
        .withColumnRenamed("id_a", id_col)
    )
    return batch_hashes.join(rejected, id_col, "left_anti")


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    accepted_dir: str,
    kind: str = "pgm",
    id_col: str = "path",
    content_col: str = "content",
    hash_kind: str | None = None,
    max_distance: int = 4,
    bands: int | None = None,
    min_thumb_variance: float | None = None,
    lock_wait: float = 0.0,
    lock_break_stale_after: float | None = None,
) -> None:
    """One micro-batch's side effects, idempotent under foreachBatch
    retry (module-level so the retry contract is directly testable).
    Files first, index last; both sinks are batch=<id> dynamic-partition
    overwrites; the index read excludes partitions >= batch_id.

    Concurrency (r12, VERDICT r11 item 3): the whole read->write section
    runs under ``commit.exclusive_lock`` on the INDEX root — the same
    lock takedown / remove_from_index / compact_gate_index hold for
    their two-rename partition swaps. Without it a gate read landing
    between a swap's rename-out and rename-in sees the index WITHOUT a
    surviving partition and re-admits its duplicates — a state that is
    neither serialization. Loser-aborts (C55) by default: the later
    acquirer raises ConcurrentWriteError, which fails the foreachBatch
    and TERMINATES the streaming query — restart the query to replay
    the batch idempotently. For deployments that run maintenance beside
    a live gate, pass ``lock_wait`` (seconds, r13 — ADVICE r12): the
    batch then retries acquisition with backoff for that long before
    giving up, riding out a brief compaction/takedown swap without
    killing the query (maintenance keeps loser-aborts). A DRIVER killed
    -9 inside the section leaves the lock file and every later trigger
    aborts; ``lock_break_stale_after`` (seconds) is the explicit
    operator remedy — the next batch breaks a lock older than the
    horizon and recovers (recovery ≡ uninterrupted pinned in
    tests/test_gate_maintenance_race.py). Never set it below the
    longest legitimate batch+maintenance duration: mtime alone cannot
    tell a crash from a slow holder (commit.py). An in-process crash
    releases the lock via the context manager and needs neither knob.

    ``hash_kind`` defaults by media kind ('audio' for wav, else
    'dhash'), matching `cli media-dedup`. ``min_thumb_variance`` NULLs
    degenerate (flat) media's thumbnails — solid frames hash NULL, match
    nothing, and are accepted un-indexed (the `thumbnails` policy; M
    black stills then cost O(M), not O(M²) band-bucket pairs)."""
    from ..commit import exclusive_lock

    with exclusive_lock(
        batch.sparkSession, index_dir, purpose=f"gate_batch={int(batch_id)}",
        wait=lock_wait, break_stale_after=lock_break_stale_after,
    ):
        _process_batch_locked(
            batch, batch_id, index_dir, accepted_dir, kind, id_col,
            content_col, hash_kind, max_distance, bands, min_thumb_variance,
        )


def _process_batch_locked(
    batch, batch_id, index_dir, accepted_dir, kind, id_col,
    content_col, hash_kind, max_distance, bands, min_thumb_variance,
) -> None:
    spark = batch.sparkSession
    bid = int(batch_id)
    hk = hash_kind or ("audio" if kind == "wav" else "dhash")
    if hk not in _HASHES:
        raise ValueError(f"hash_kind={hk!r} not in {sorted(_HASHES)}")
    if bands is None:
        bands = max_distance + 1
    # on_unregistered='error': a gate hashing sha256 fakes would dedup
    # garbage silently — refuse at plan time, the cli media-dedup stance
    hashed = thumbnails(
        batch,
        kind=kind,
        content_col=content_col,
        on_unregistered="error",
        min_variance=min_thumb_variance,
    ).select(*batch.columns, _HASHES[hk]("thumb").alias("phash"))
    accepted = gate_batch(
        hashed,
        _index_hashes(
            spark,
            index_dir,
            before=bid,
            id_type=batch.schema[id_col].dataType.simpleString(),
        ),
        id_col,
        "phash",
        max_distance,
        bands,
    )
    accepted_hashes = accepted.where(F.col("phash").isNotNull()).select(
        F.col(id_col).alias("mid"), "phash"
    )
    for df, sink in (
        (accepted.drop("phash"), accepted_dir),
        (accepted_hashes, index_dir),
    ):
        (
            df.withColumn("batch", batch_lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(sink)
        )
    _mark_batch_done(spark, index_dir, bid)


def streaming_media_dedup(
    media: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    kind: str = "pgm",
    id_col: str = "path",
    content_col: str = "content",
    hash_kind: str | None = None,
    max_distance: int = 4,
    bands: int | None = None,
    min_thumb_variance: float | None = None,
):
    """Run the gate over a streaming DataFrame of media files; returns
    the started StreamingQuery (caller awaits termination — availableNow
    in tests, continuous in production)."""

    def _one_batch(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch,
            batch_id,
            index_dir,
            accepted_dir,
            kind=kind,
            id_col=id_col,
            content_col=content_col,
            hash_kind=hash_kind,
            max_distance=max_distance,
            bands=bands,
            min_thumb_variance=min_thumb_variance,
        )

    return (
        media.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _index_frames(
    spark: SparkSession,
    index_dir: str,
    before: int | None = None,
    id_type: str = "string",
) -> DataFrame:
    """The persisted clip-frame index (mid, fidx, fhash, n_sampled,
    fvar) — n_samples rows of hashes (+ one double of thumb variance,
    the degenerate-frame policy input) per accepted clip; empty on
    first run. A legacy index predating the fvar column reads it NULL,
    which the policy treats as live (today's behavior, never silent
    dropping). Same ``before`` retry rule as `_index_hashes`."""
    try:
        idx = spark.read.option("mergeSchema", "true").parquet(index_dir)
        if before is not None and "batch" in idx.columns:
            idx = idx.where(F.col("batch") < before)
        if "fvar" not in idx.columns:
            idx = idx.withColumn("fvar", F.lit(None).cast("double"))
        return idx.select("mid", "fidx", "fhash", "n_sampled", "fvar")
    except AnalysisException:
        return spark.createDataFrame(
            [], f"mid {id_type}, fidx int, fhash long, n_sampled int, fvar double"
        )


def gate_clip_batch(
    batch_frames: DataFrame,
    index_frames: DataFrame,
    id_col: str = "path",
    max_distance: int = 6,
    min_frac: float = 0.5,
    bands: int | None = None,
    min_thumb_variance: float | None = None,
) -> DataFrame:
    """Rejected clip ids of a `clip_fingerprints` batch against a clip
    index — the frame-sequence form of `gate_batch`: Hamming-ball
    pairing over DISTINCT frame hashes (new×corpus + new×new, never
    corpus×corpus, with per-(clip, hash) multiplicities carried as
    counts — `score_clip_pairs`' representative routing, so an
    identical frame shared by M corpus clips costs one representative
    in the band join, never M posting rows per band), then the
    fraction-of-frames-matched rule on each leg. A batch clip is
    rejected when it scores against an ACCEPTED corpus clip, or —
    within the batch — against a smaller-id batch clip (greedy
    keep-lowest, the gate family's convergence contract). Temporal
    offsets and frame drops are tolerated exactly as in
    `video_near_dup`: frames match regardless of index. On the corpus
    leg same-id pairs are KEPT — a re-submitted path must reject
    against its indexed self, exactly as a re-submitted still does.

    ``min_thumb_variance`` (VERDICT r9 item 1): degenerate frames —
    solid black/white, fades, title cards — are excluded from pairing
    AND from the fraction denominators on both legs, so a shared title
    card neither welds unrelated clips nor (at corpus scale) emits a
    candidate row per (batch black frame × corpus black frame). Batch
    clips with NO live frames take a separate linear leg: their
    signature (min frame hash) rejects against an accepted
    all-degenerate corpus clip's signature within ``max_distance``, or
    a smaller-id all-degenerate batch clip's — two all-black clips
    still dedup, via bucket-min arithmetic instead of pair emission. A
    legacy index without the fvar column reads all-live (no degenerate
    corpus stratum) until re-indexed."""
    from ..operators.phash import hamming_incremental_pairs
    from ..operators.video import _clip_hash_counts, _hash_ball, _live_frames
    from ..session import cut_lineage

    if not 0.0 < min_frac <= 1.0:
        raise ValueError("min_frac must be in (0, 1]")
    new_ch = cut_lineage(
        _clip_hash_counts(_live_frames(batch_frames, min_thumb_variance), id_col),
        replicated=True,
    )
    corp_ch = _clip_hash_counts(
        _live_frames(index_frames, min_thumb_variance), "mid"
    )
    new_sizes = new_ch.groupBy("_cid").agg(F.sum("_nf").alias("_n"))
    corp_sizes = corp_ch.groupBy("_cid").agg(F.sum("_nf").alias("_n"))

    def _passing(cand: DataFrame, a_sizes: DataFrame, b_sizes: DataFrame):
        """Clip pairs passing BOTH fraction thresholds over a candidate
        relation (_ca, _ha, _nfa, _hb, _nfb): a frame matches the other
        side iff its hash has >= 1 ball edge there, so each side's
        matched count folds through its distinct-hash level."""
        ma = (
            cand.groupBy("_ca", "_cb", "_ha")
            .agg(F.max("_nfa").alias("_nfa"))
            .groupBy("_ca", "_cb")
            .agg(F.sum("_nfa").alias("_m_a"))
        )
        mb = (
            cand.groupBy("_ca", "_cb", "_hb")
            .agg(F.max("_nfb").alias("_nfb"))
            .groupBy("_ca", "_cb")
            .agg(F.sum("_nfb").alias("_m_b"))
        )
        return (
            ma.join(mb, ["_ca", "_cb"])
            .join(
                a_sizes.select(F.col("_cid").alias("_ca"), F.col("_n").alias("_n_a")),
                "_ca",
            )
            .join(
                b_sizes.select(F.col("_cid").alias("_cb"), F.col("_n").alias("_n_b")),
                "_cb",
            )
            .where(
                (F.col("_m_a") / F.col("_n_a") >= min_frac)
                & (F.col("_m_b") / F.col("_n_b") >= min_frac)
            )
        )

    def _expand(a_ch: DataFrame, ball: DataFrame, b_ch: DataFrame) -> DataFrame:
        return (
            a_ch.select(
                F.col("_cid").alias("_ca"),
                F.col("_h").alias("_ha"),
                F.col("_nf").alias("_nfa"),
            )
            .join(ball, "_ha")
            .join(
                b_ch.select(
                    F.col("_cid").alias("_cb"),
                    F.col("_h").alias("_hb"),
                    F.col("_nf").alias("_nfb"),
                ),
                "_hb",
            )
        )

    # corpus leg: directed new-hash → corpus-hash ball via the
    # incremental banding (identical hashes collide in every band and
    # emit once at distance 0; never corpus×corpus)
    ball_corp = hamming_incremental_pairs(
        new_ch.select("_h").distinct().select(
            F.col("_h").alias("id"), F.col("_h").alias("h")
        ),
        corp_ch.select("_h").distinct().select(
            F.col("_h").alias("id"), F.col("_h").alias("h")
        ),
        "id",
        "h",
        max_distance=max_distance,
        bands=bands,
    ).where(F.col("against") == "corpus").select(
        F.col("id_a").alias("_ha"), F.col("id_b").alias("_hb")
    )
    vs_corpus = _passing(
        cut_lineage(_expand(new_ch, ball_corp, corp_ch), replicated=True),
        new_sizes,
        corp_sizes,
    ).select(F.col("_ca").alias(id_col))

    # within batch: full directed ball over the batch's distinct hashes
    # (self-loops included — two batch clips sharing a frame), canonical
    # _ca < _cb so rejecting _cb is greedy keep-lowest
    ball_new = _hash_ball(new_ch.select("_h").distinct(), max_distance, bands)
    vs_new = _passing(
        cut_lineage(
            _expand(new_ch, ball_new, new_ch).where(F.col("_ca") < F.col("_cb")),
            replicated=True,
        ),
        new_sizes,
        new_sizes,
    ).select(F.col("_cb").alias(id_col))

    rejected = vs_corpus.unionByName(vs_new)

    if min_thumb_variance is not None:
        rejected = rejected.unionByName(
            _degenerate_clip_rejections(
                batch_frames,
                index_frames,
                id_col,
                max_distance,
                bands,
                min_thumb_variance,
            )
        )
    return rejected.distinct()


def _degenerate_clip_rejections(
    batch_frames: DataFrame,
    index_frames: DataFrame,
    id_col: str,
    max_distance: int,
    bands: int | None,
    min_thumb_variance: float,
) -> DataFrame:
    """Rejected ids among the batch's ALL-degenerate clips (no frame
    clearing the variance threshold): signature = min frame hash; reject
    when an accepted all-degenerate corpus clip's signature is within
    the ball, or a smaller-id all-degenerate batch clip's is. Linear by
    construction: corpus signatures dedup to DISTINCT values before the
    incremental banding, and the within-batch keep-lowest rule is
    bucket-min arithmetic (a clip has a smaller-id colliding neighbor
    iff it is not its own signature bucket's min, or an adjacent
    bucket's min id is smaller) — no pair of degenerate clips is ever
    materialized."""
    from ..operators.phash import hamming_incremental_pairs
    from ..operators.video import _hash_ball
    from ..session import cut_lineage

    live = F.col("fvar").isNull() | (F.col("fvar") >= min_thumb_variance)

    def _degen(frames: DataFrame, cid: str) -> DataFrame:
        per = frames.groupBy(F.col(cid).alias("_cid")).agg(
            F.sum(F.when(live, 1).otherwise(0)).alias("_nl"),
            F.min("fhash").alias("_sig"),
        )
        return per.where((F.col("_nl") == 0) & F.col("_sig").isNotNull())

    new_dg = cut_lineage(_degen(batch_frames, id_col), replicated=True)
    corp_sigs = _degen(index_frames, "mid").select("_sig").distinct()
    hit = (
        hamming_incremental_pairs(
            new_dg.select("_sig").distinct().select(
                F.col("_sig").alias("id"), F.col("_sig").alias("h")
            ),
            corp_sigs.select(F.col("_sig").alias("id"), F.col("_sig").alias("h")),
            "id",
            "h",
            max_distance=max_distance,
            bands=bands,
        )
        .where(F.col("against") == "corpus")
        .select(F.col("id_a").alias("_sig"))
        .distinct()
    )
    rej_corp = new_dg.join(hit, "_sig").select(F.col("_cid").alias(id_col))
    sig_min = cut_lineage(
        new_dg.groupBy("_sig").agg(F.min("_cid").alias("_bmin")),
        replicated=True,
    )
    adj = (
        _hash_ball(
            sig_min.select(F.col("_sig").alias("_h")), max_distance, bands
        )
        .where(F.col("_ha") != F.col("_hb"))
        .join(
            sig_min.select(
                F.col("_sig").alias("_hb"), F.col("_bmin").alias("_omin")
            ),
            "_hb",
        )
        .groupBy(F.col("_ha").alias("_sig"))
        .agg(F.min("_omin").alias("_adjmin"))
    )
    rej_new = (
        new_dg.join(sig_min, "_sig")
        .join(adj, "_sig", "left")
        .where(
            (F.col("_cid") > F.col("_bmin"))
            | (F.col("_cid") > F.coalesce(F.col("_adjmin"), F.col("_cid")))
        )
        .select(F.col("_cid").alias(id_col))
    )
    return rej_corp.unionByName(rej_new)


def process_clip_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    accepted_dir: str,
    kind: str = "pnmseq",
    id_col: str = "path",
    content_col: str = "content",
    n_samples: int = 8,
    max_distance: int = 6,
    min_frac: float = 0.5,
    bands: int | None = None,
    min_thumb_variance: float | None = None,
    lock_wait: float = 0.0,
    lock_break_stale_after: float | None = None,
) -> None:
    """One micro-batch of CLIPS through the perceptual gate — the
    frame-sequence counterpart of `process_batch`, same crash/retry
    contract (files first, index last; batch=<id> dynamic-partition
    overwrites; index read excludes partitions >= batch_id). The index
    holds n_samples (fidx, fhash, fvar) rows per accepted clip — 8
    bytes of hash plus the thumb variance per sampled frame of dedup
    state; the clip bytes are never re-read. Undecodable clips yield no
    fingerprint rows, pass the gate, and are never indexed (the
    `clip_fingerprints` malformed-clip stance). ``min_thumb_variance``
    is the degenerate-frame policy (see `gate_clip_batch`) — set it on
    real crawls, where black/fade/title frames dominate. Runs under the
    index root's ``commit.exclusive_lock`` like `process_batch` — the
    torn-read window against takedown/compaction swaps is the same, as
    are the ``lock_wait`` (bounded retry instead of loser-aborts) and
    ``lock_break_stale_after`` (crashed-driver lock recovery) knobs."""
    from ..commit import exclusive_lock

    with exclusive_lock(
        batch.sparkSession, index_dir, purpose=f"gate_clip_batch={int(batch_id)}",
        wait=lock_wait, break_stale_after=lock_break_stale_after,
    ):
        _process_clip_batch_locked(
            batch, batch_id, index_dir, accepted_dir, kind, id_col,
            content_col, n_samples, max_distance, min_frac, bands,
            min_thumb_variance,
        )


def _process_clip_batch_locked(
    batch, batch_id, index_dir, accepted_dir, kind, id_col,
    content_col, n_samples, max_distance, min_frac, bands,
    min_thumb_variance,
) -> None:
    from ..operators.video import clip_fingerprints
    from ..session import cut_lineage

    spark = batch.sparkSession
    bid = int(batch_id)
    # replicated: the decode cut must survive a single executor loss
    # (the chaos test's exact window — see session.cut_lineage)
    frames = cut_lineage(
        clip_fingerprints(
            batch,
            kind=kind,
            id_col=id_col,
            content_col=content_col,
            n_samples=n_samples,
        ),
        replicated=True,
    )
    rejected = gate_clip_batch(
        frames,
        _index_frames(
            spark,
            index_dir,
            before=bid,
            id_type=batch.schema[id_col].dataType.simpleString(),
        ),
        id_col,
        max_distance,
        min_frac,
        bands,
        min_thumb_variance=min_thumb_variance,
    )
    accepted = batch.join(rejected, id_col, "left_anti")
    accepted_frames = frames.join(
        rejected, id_col, "left_anti"
    ).select(
        F.col(id_col).alias("mid"), "fidx", "fhash", "n_sampled", "fvar"
    )
    for df, sink in ((accepted, accepted_dir), (accepted_frames, index_dir)):
        (
            df.withColumn("batch", batch_lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(sink)
        )
    _mark_batch_done(spark, index_dir, bid)
