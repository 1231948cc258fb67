"""Streaming line-dedup gate — rolling-corpus boilerplate removal over a
persisted line-frequency index (composes §2.11 C26 with the §2.9
streaming surface; same stance as streaming/neardedup.py).

Batch CCNet line dedup (operators/lines.py) needs corpus-wide line
frequencies, which a rolling crawl never has all at once. The gate keeps
a persisted (h, df) index — one row per distinct normalized line ever
seen, the compact state — and per micro-batch:

1. explodes the batch into line mentions with normalized-line hashes
   (`line_mentions` — map-side), once: `process_batch` caches them for
   all of its writes, and the emitted documents' spine (one row per
   input row) comes from the same mentions, so the batch's source is
   read once per batch;
2. folds the batch's own per-hash counts into the index counts: a line
   is boilerplate once its cumulative df (index + batch) reaches
   ``min_df``, so a banner repeated 100× inside ONE batch is caught
   immediately, not on the next batch;
3. emits the batch's documents with boilerplate lines removed, THEN
   merges the updated counts into the index — docs-first/index-last
   crash ordering: a crash between the writes can at most under-count
   df on retry (re-admitting a boilerplate line), never lose an output
   document.

The cumulative-df rule makes the stream STRICTER over time, matching
what a batch run over the full corpus would remove once every line's
true df is visible. Early batches may emit lines whose df only later
crosses the threshold — the inherent prefix-knowledge gap of any
one-pass gate; re-running batch `dedup_lines` over the accumulated
output closes it exactly, and `index_df` exposes the index so reports
can quantify the gap.

The index is one row per distinct normalized line, far smaller than the
corpus; the merge reads + rewrites it per batch (availableNow cadence).
At crawl scale, partition the index dir by a hash prefix of ``h`` and
rewrite only the partitions the batch touches (the same device as
operators.bucketing for the registry).

Crash/retry semantics (foreachBatch is at-least-once — a crash after a
side-effect but before the checkpoint commit re-runs the batch with the
SAME batch_id):

- documents land in ``out_dir/batch=<batch_id>`` via dynamic-partition
  overwrite, so a retried batch replaces exactly its own partition —
  output is idempotent, never appended twice;
- the index is a VERSIONED full snapshot persisted through the
  multi-writer commit protocol (``dbbspark/commit.py``): each batch
  stage-writes the updated index and CAS-commits it as
  ``index_dir/v=<slot>`` with the BATCH id encoded as a
  ``batch=<batch_id>`` partition dir inside the snapshot (discoverable
  from dir names — no parquet reads during resolution). A crashed
  attempt leaves at most an orphaned ``_staging`` dir or a burned slot,
  never a half-visible snapshot; the retry resolves the newest
  committed snapshot whose batch id PRECEDES its own (a crashed attempt
  of the same batch may have fully committed — reading the batch's own
  counts back would double them) and commits a fresh slot. Old
  snapshots are pruned after the new one commits, keeping the newest
  snapshot of the two highest batch ids so a retry's predecessor always
  survives (VERDICT r6 item 1 — this replaces a bespoke
  ``v=<id>+_SUCCESS`` scheme whose resolution swallowed FS errors and
  fell back to a root read that could surface uncommitted rows).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..commit import (
    commit_snapshot,
    committed_versions,
    prune_commit_records,
)
from ..functions import batch_lit
from ..maintenance import _fs_and_path
from ..operators.bloom import split_by_bloom
from ..operators.lines import line_mentions


def _snapshot_batches(
    spark: SparkSession, root: str
) -> list[tuple[int, int]]:
    """(version, batch_id) for every committed snapshot under ``root``,
    ascending by version. The batch id is read from the snapshot's
    single ``batch=<id>`` partition dir name. Missing root is []; real
    filesystem errors PROPAGATE (never read as "no index exists" —
    that is VERDICT r6's scenario B, an empty/multiplied index fed back
    into gate decisions)."""
    vs = committed_versions(spark, root)
    if not vs:
        return []
    fs, _, jvm = _fs_and_path(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    out: list[tuple[int, int]] = []
    for v in vs:
        try:
            entries = fs.listStatus(Path(f"{root.rstrip('/')}/v={v}"))
        except Exception as e:
            # a concurrent prune deleted this version between the commit
            # listing and here — it is simply no longer committed; skip
            # it. ONLY that: any other FS error still propagates (the
            # whole point of the r6 fix).
            if "FileNotFoundException" in str(e):
                continue
            raise
        for st in entries:
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("batch="):
                try:
                    out.append((v, int(name[6:])))
                except ValueError:
                    continue
                break
    return out


def _has_protocol_state(spark: SparkSession, root: str) -> bool:
    """True when ``root`` has ever seen the versioned protocol (any
    ``v=`` dir or a ``_commits`` log — committed or not). Gates the
    flat-layout fallback: a crashed FIRST commit must read as an empty
    index, never as "flat layout, read the root" (VERDICT r6 scenario
    A: partition discovery over the root would surface the crashed
    attempt's rows as the prior index)."""
    fs, hroot, jvm = _fs_and_path(spark, root)
    if not fs.exists(hroot):
        return False
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if name == "_commits" or name == "_staging" or name.startswith("v="):
            return True
    return False


def _legacy_style_dirs(spark: SparkSession, root: str) -> list[int]:
    """``v=<n>`` dirs in the pre-protocol (r6-era) SHAPE: ``_SUCCESS``
    plus data files directly inside, NO ``batch=<id>`` partition subdir.
    A protocol snapshot always nests its rows under a single
    ``batch=<id>`` dir (`_commit_for_batch` partitions by it), so the
    shape distinguishes legacy dirs even once a partially-completed
    migration has created the ``_commits`` log (ADVICE r8, medium —
    the old no-log test read a half-migrated dir as "not legacy" and
    silently dropped the unmigrated tail)."""
    fs, hroot, jvm = _fs_and_path(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v=")):
            continue
        try:
            n = int(name[2:])
        except ValueError:
            continue
        if not fs.exists(Path(st.getPath(), "_SUCCESS")):
            continue
        if any(
            e.isDirectory() and e.getPath().getName().startswith("batch=")
            for e in fs.listStatus(st.getPath())
        ):
            continue  # protocol snapshot (or foreign copy of one)
        out.append(n)
    return sorted(out)


def _unmigrated_legacy(spark: SparkSession, root: str) -> list[int]:
    """Legacy-style snapshot ids whose counts the commit protocol has
    NOT yet adopted: all of them when nothing is committed, else those
    EXCEEDING the max committed batch id — the missing tail of a
    migration that crashed between its two commits (ADVICE r8, medium).
    Legacy ids at or below the max committed batch are already-migrated
    (or superseded) orphans; they read as [] here and are swept by the
    next `migrate_legacy_index` call."""
    legacy = _legacy_style_dirs(spark, root)
    if not legacy:
        return []
    committed = [b for _, b in _snapshot_batches(spark, root)]
    if not committed:
        return legacy
    mx = max(committed)
    return [n for n in legacy if n > mx]


def migrate_legacy_index(spark: SparkSession, index_dir: str) -> dict[str, list[int]]:
    """In-place upgrade of a pre-protocol gate dir (ADVICE r7, medium):
    re-commit the newest TWO legacy ``v=<batch_id>`` snapshots through
    the commit protocol (two, not one — the retry-predecessor invariant
    must survive migration: a stream resuming on a crashed checkpoint
    re-runs its last batch id and resolves the snapshot BEFORE it), then
    delete the legacy dirs. The ``<index>.bloom`` sibling migrates too
    when it has legacy state. Returns ``{root: [batch ids committed by
    THIS call]}`` per root that had legacy dirs (ADVICE r8, low — the
    bloom sibling's migration is reported, not folded into the index
    root's); idempotent: a fully-migrated dir returns ``{}``.

    Crash-safe and RESUMABLE (ADVICE r8, medium): commits land in
    ascending batch order before any legacy dir is deleted, and a re-run
    detects legacy-style dirs by SHAPE (`_legacy_style_dirs`) rather
    than by the absence of a ``_commits`` log — so a crash between the
    two commits leaves a dir the re-run finishes (it commits exactly the
    legacy ids above the max committed batch, preserving version/batch
    monotonicity for resolution) instead of a half-migrated index whose
    newest counts are silently lost. A crash after the commits but
    before the deletes leaves orphan legacy dirs that resolution ignores
    and the re-run sweeps."""
    migrated: dict[str, list[int]] = {}
    for root in (index_dir, _bloom_root(index_dir)):
        legacy = _legacy_style_dirs(spark, root)
        if not legacy:
            continue
        pending = _unmigrated_legacy(spark, root)
        # fresh migration: the newest two carry the invariant; a resumed
        # one commits only the missing tail (ascending — slot order must
        # follow batch order or `_resolve_snapshot`'s (version, batch)
        # max would prefer the older batch)
        todo = sorted(set(legacy[-2:]) & set(pending))
        for n in todo:
            df = spark.read.parquet(f"{root.rstrip('/')}/v={n}")
            if "batch" in df.columns:  # defensive: never double-tag
                df = df.drop("batch")
            _commit_for_batch(spark, root, df, n)
        fs, _, jvm = _fs_and_path(spark, root)
        Path = jvm.org.apache.hadoop.fs.Path
        for n in legacy:
            fs.delete(Path(f"{root.rstrip('/')}/v={n}"), True)
        migrated[root] = todo
    return migrated


def _resolve_snapshot(
    spark: SparkSession, root: str, before: int | None
) -> str | None:
    """Path of the newest committed snapshot whose batch id is < before
    (or newest overall when before is None); None when no snapshot
    qualifies."""
    pairs = _snapshot_batches(spark, root)
    eligible = [(v, b) for v, b in pairs if before is None or b < before]
    if not eligible:
        return None
    v, b = max(eligible)
    return f"{root.rstrip('/')}/v={v}/batch={b}"


def index_df(
    spark: SparkSession, index_dir: str, before: int | None = None
) -> DataFrame:
    """The persisted (h, df) line-frequency index; empty on first run.

    Resolves the newest committed snapshot through the commit protocol
    (see module docstring). ``before`` bounds the search to snapshots
    whose BATCH id is < before — the retry path must resolve the
    PREDECESSOR snapshot, never one a crashed attempt of the same batch
    already committed (reading the batch's own counts back would double
    them). When the protocol has ever touched the dir but no snapshot
    qualifies, the index is empty by definition — never fall through to
    reading the root. The flat-root read is ONLY for a true
    pre-versioning layout (data files, no ``v=`` dirs, no commit log).
    Filesystem errors propagate — an unreachable index is an error, not
    an empty index."""
    if _unmigrated_legacy(spark, index_dir):
        # pre-protocol v=<batch_id>+_SUCCESS snapshots the commit
        # protocol has not adopted (ADVICE r7/r8, medium): either a
        # never-migrated dir, or a migration that crashed between its
        # two commits (the committed prefix WOULD resolve below, and
        # the newest legacy counts would silently vanish — the gate
        # would re-admit known boilerplate). Refuse either way;
        # migrate_legacy_index finishes the job idempotently.
        raise RuntimeError(
            f"{index_dir}: legacy pre-protocol index snapshots present "
            "(v=<batch> dirs with _SUCCESS, not adopted by the _commits "
            "log). Run dbbspark.streaming.linededup.migrate_legacy_index("
            "spark, index_dir) once before resuming the stream."
        )
    path = _resolve_snapshot(spark, index_dir, before)
    if path is None:
        if not _has_protocol_state(spark, index_dir):
            try:  # pre-versioning flat layout, or first run (missing dir)
                return spark.read.parquet(index_dir).select("h", "df")
            except AnalysisException:
                pass
        return spark.createDataFrame([], "h bigint, df bigint")
    return spark.read.schema("h bigint, df bigint").parquet(path)


def gate_batch(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    index_bloom: list[int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(deduped_docs, updated_index) for one batch against the index.
    Pure DataFrame logic — shared by the streaming foreachBatch and
    direct batch callers (pins streaming == cumulative batch in tests).

    Both frames derive from ``line_mentions(batch, id_col, text_col)``
    alone — the emitted documents' spine too, so ``batch`` is never read
    outside them — and the updated index adds the same per-hash batch
    ``counts`` the gate decision uses. Nothing is cached here: a caller
    that runs both frames owns the caching — persist that mentions frame
    first (Spark's cache lookup substitutes it by plan) and unpersist it
    after the last action, as `process_batch` does.

    Every input row comes out once, keyed by its id: a NULL text is
    emitted as ``""``, and rows sharing an id each get the lines of all
    of them, merged in line-number order.

    ``index_bloom`` (a word table from operators.bloom covering the
    index's line hashes) short-circuits the index join for lines the
    filter proves NEW — the dominant case on a healthy crawl. Rows the
    filter can't rule out take the join they would have taken anyway, so
    results are byte-identical with or without it (false positives cost
    a join row, false negatives can't happen). At scale this is the
    difference between shuffling every batch mention and shuffling only
    the few that might be known boilerplate.
    """
    if min_df < 2:
        raise ValueError("min_df must be >= 2 (1 would delete every line)")
    mentions = line_mentions(batch, id_col, text_col)
    # Blank lines (h NULL) are exempt from dedup — and routed AROUND the
    # hash-keyed shuffles entirely: a window or join keyed on h would
    # otherwise send every blank line in the batch to ONE task (the NULL
    # key co-locates; at bulk-backfill batch sizes that is a straggler),
    # and a NULL key can never match the index anyway.
    blanks = (
        mentions.where(F.col("h").isNull())
        .withColumn("df_batch", F.lit(None).cast("long"))
        .withColumn("df_prior", F.lit(None).cast("long"))
    )
    live = mentions.where(F.col("h").isNotNull())
    prior = index.withColumnRenamed("df", "df_prior")
    # hub-skew-safe batch df (same device as operators/lines.py): a
    # partial-aggregated groupBy plus an AQE-skew-splittable join, never
    # a count window on h — bulk backfill batches carry the same
    # by-design hub lines the corpus does
    counts = live.groupBy("h").agg(F.count("*").alias("df_batch"))
    counted = live.join(counts, "h")
    if index_bloom is not None:
        maybe, new = split_by_bloom(counted, index_bloom, "h")
        joined = maybe.join(prior, "h", "left").unionByName(
            new.withColumn("df_prior", F.lit(None).cast("long"))
        )
    else:
        joined = counted.join(prior, "h", "left")
    joined = joined.unionByName(blanks)
    tagged = joined.withColumn(
        "df_total",
        F.col("df_batch") + F.coalesce(F.col("df_prior"), F.lit(0)),
    )
    keep = F.col("h").isNull() | (F.col("df_total") < min_df)
    survivors = tagged.where(keep)
    reassembled = survivors.groupBy("doc").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias(text_col)
    )
    # one row per input row: line 0 of each text, or the single
    # NULL-line row of a NULL text
    spine = mentions.where(
        F.coalesce(F.col("line_no"), F.lit(0)) == 0
    ).select("doc")
    deduped = (
        spine.join(reassembled, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )
    updated = (
        counts.join(prior, "h", "full")
        .select(
            "h",
            (
                F.coalesce(F.col("df_batch"), F.lit(0))
                + F.coalesce(F.col("df_prior"), F.lit(0))
            ).alias("df"),
        )
    )
    return deduped, updated


def _bloom_root(index_dir: str) -> str:
    # The filter lives in a SIBLING dir (<index>.bloom), never inside
    # index_dir: the near-dedup index reads its root with partition
    # discovery, which a foreign subdirectory would break.
    return f"{index_dir.rstrip('/')}.bloom"


def _commit_for_batch(
    spark: SparkSession, root: str, df: DataFrame, batch_id: int,
    coalesce: int | None = None,
) -> None:
    """Commit ``df`` as the next snapshot under ``root`` with the batch
    id encoded as its single ``batch=<id>`` partition dir (what
    `_resolve_snapshot` reads back), then prune: keep the newest
    snapshot of the two highest batch ids. A count-based keep-2 would be
    wrong under retries — a retried batch commits a SECOND snapshot for
    the same batch id, and keep-2-by-version would then prune the
    predecessor a further retry still needs."""
    tagged = df.withColumn("batch", batch_lit(batch_id))
    if coalesce is not None:
        tagged = tagged.coalesce(coalesce)

    def write_fn(path: str) -> None:
        tagged.write.partitionBy("batch").parquet(path)
        # an EMPTY snapshot (legitimate: remove_docs_from_line_index can
        # zero the whole index) writes no batch=<id> dir — partition
        # dirs come from rows — leaving an unpairable version that the
        # legacy-layout detector would refuse. Materialize the batch dir
        # with a schema'd empty parquet so resolve/read work unchanged.
        fs, hpath, _jvm = _fs_and_path(spark, path)
        has_batch = fs.exists(hpath) and any(
            st.getPath().getName().startswith("batch=")
            for st in fs.listStatus(hpath)
        )
        if not has_batch:
            df.limit(0).coalesce(1).write.mode("overwrite").parquet(
                f"{path.rstrip('/')}/batch={int(batch_id)}"
            )

    commit_snapshot(spark, root, write_fn)
    try:  # prune is best-effort: a missed pass costs space, retried next batch
        pairs = _snapshot_batches(spark, root)
        keep_batches = sorted({b for _, b in pairs})[-2:]
        keep_versions = {
            max(v for v, b in pairs if b == kb) for kb in keep_batches
        }
        fs, _, jvm = _fs_and_path(spark, root)
        Path = jvm.org.apache.hadoop.fs.Path
        for v, _b in pairs:
            if v not in keep_versions:
                fs.delete(Path(f"{root.rstrip('/')}/v={v}"), True)
        # keep the commit log bounded too: one tiny record per trigger
        # adds up to an O(N) listing per resolve over a stream's life.
        # The hour horizon is the live-writer guard (this gate is
        # single-writer behind the checkpoint lock, but the protocol
        # contract is multi-writer); nightly maintenance on a quiesced
        # gate may pass 0.
        prune_commit_records(spark, root, older_than_sec=3600.0)
    except Exception:
        pass


def load_bloom(
    spark: SparkSession, index_dir: str, before: int | None = None
) -> list[int] | None:
    """The persisted bloom word table covering the index's hashes, or
    None when absent (first run / feature off / crashed write — the
    caller then takes the plain-join path, which is byte-identical).
    Same predecessor rule as index_df: the retry path must resolve the
    snapshot a crashed attempt of the SAME batch did not write. A
    snapshot that resolves but won't parse also heals to None — unlike
    the index, the filter never changes results, only join volume."""
    path = _resolve_snapshot(spark, _bloom_root(index_dir), before)
    if path is None:
        return None
    try:
        row = spark.read.parquet(path).first()
        return list(row["words"]) if row else None
    except Exception:
        return None


def _save_bloom(
    spark: SparkSession, index_dir: str, batch_id: int, words: list[int]
) -> None:
    _commit_for_batch(
        spark, _bloom_root(index_dir),
        spark.createDataFrame([(words,)], "words array<long>"),
        batch_id, coalesce=1,
    )


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    use_bloom: bool = False,
    sketch_dir: str | None = None,
) -> None:
    """One micro-batch's side effects, idempotent under foreachBatch
    retry (module-level so the retry contract is directly testable):
    docs → ``out_dir/batch=<id>`` dynamic overwrite first, index
    snapshot (commit-protocol, tagged ``batch=<id>``) second, prune
    last. Re-running the same (batch, batch_id) leaves gate DECISIONS
    byte-identical: the doc partition is replaced with identical rows
    and the snapshot is recomputed from the same predecessor (the retry
    resolves by batch id, skipping any snapshot a crashed attempt of
    this very batch committed).

    The batch's line mentions are exploded once: this function persists
    them, every write below (docs, sketch, index snapshot, bloom) reads
    that copy, and the ``finally`` releases it — on success or on a
    crash mid-batch.

    ``sketch_dir`` adds per-batch telemetry (operators/sketches.py): a
    one-row mergeable sketch of the EMITTED documents lands under
    ``sketch_dir/batch=<id>`` (same dynamic-overwrite idempotence as the
    doc sink), so `incremental_card` can report "stats of the gated
    output so far" without ever rescanning out_dir.

    ``use_bloom`` maintains a broadcast Bloom filter next to the index
    (operators/bloom.py): the gate joins only mentions the filter can't
    prove new, and the filter is updated by UNIONING in the batch's own
    hashes (bit_or of word tables — one batch-sized aggregation, the
    corpus is never rescanned). Missing/corrupt filter self-heals to
    the plain join; results are identical either way."""
    from ..operators.bloom import build_bloom

    spark = batch.sparkSession
    bid = int(batch_id)
    prior_bloom = load_bloom(spark, index_dir, before=bid) if use_bloom else None
    # gate_batch re-derives these mentions; Spark's cache lookup matches
    # the identical plan, so every write below reads this one copy and
    # the batch's source runs once.
    mentions = line_mentions(batch, id_col, text_col).persist()
    try:
        deduped, updated = gate_batch(
            batch,
            index_df(spark, index_dir, before=bid),
            id_col,
            text_col,
            min_df,
            index_bloom=prior_bloom,
        )
        (
            deduped.withColumn("batch", batch_lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(out_dir)
        )
        if sketch_dir is not None:
            from ..operators.sketches import write_batch_sketch

            # Telemetry of what this batch EMITTED; a retry recomputes the
            # identical deduped frame and replaces its own partition.
            write_batch_sketch(deduped, bid, sketch_dir, text_col=text_col)
        # New snapshot reads the predecessor and stage-writes into a private
        # _staging dir before the CAS rename — no read-under-write and no
        # checkpoint materialization, and a crash mid-write leaves only an
        # orphan staging dir (gc_staging's business), never a readable
        # partial snapshot.
        _commit_for_batch(spark, index_dir, updated, bid)
        if use_bloom:
            # No prior filter but the index may hold pre-flag history (flag
            # enabled mid-stream, or a snapshot healed to None): build from
            # the full updated index, not the batch alone — a batch-only
            # filter saved as corpus coverage makes every later batch
            # silently skip joins against the older corpus (ADVICE r9).
            src = (
                mentions.where(F.col("h").isNotNull()).select("h")
                if prior_bloom is not None
                else updated.select("h")
            )
            batch_words = build_bloom(
                src.distinct(),
                "h",
                # Union compatibility: a filter is only OR-able with one of
                # the same geometry, so inherit the prior's size.
                num_bits=(len(prior_bloom) * 64) if prior_bloom else 1 << 24,
            )
            if prior_bloom is not None:
                batch_words = [a | b for a, b in zip(prior_bloom, batch_words)]
            _save_bloom(spark, index_dir, bid, batch_words)
    finally:
        mentions.unpersist()
    # Pruning happens inside _commit_for_batch: keep the newest snapshot
    # of the two highest BATCH ids. The predecessor must survive until
    # the checkpoint commits (a retry of this batch_id re-reads it);
    # batch N+1 running at all proves N committed, and its prune pass
    # retires N-1.


def streaming_line_dedup(
    docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    use_bloom: bool = False,
    sketch_dir: str | None = None,
):
    """Run the gate over a streaming DataFrame of documents; returns the
    started StreamingQuery (availableNow in tests, continuous in
    production)."""

    def _one_batch(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch, batch_id, index_dir, out_dir, id_col, text_col, min_df,
            use_bloom=use_bloom, sketch_dir=sketch_dir,
        )

    return (
        docs.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
