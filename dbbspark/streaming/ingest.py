"""The stage-in → archive ingest pipeline, batch and streaming.

Reference flow (`bin/save_DBB_stagein_to_DBB.py:120-217,221-293,308-321`):
scan notify dir → pair notify/data files → per file: parse notify,
filetype dispatch, duplicate gate, validity gate, metadata+checksum
extraction, md5 compare, path templating, copy+verify+retry, DB register,
commit, ack; failures → rollback + quarantine move + DBB_BAD_FILE insert.

Spark-native shape (SURVEY.md §3.1): the per-file loop disappears. One
declarative pipeline classifies the whole batch, then a single persisted
DataFrame feeds three sinks:

  pairs → filetype (P1) → md5 (F11/P3) → metadata extract (U3) →
  registry IN-subquery (J8/ST8) → reject-reason CASE (F16) →
      ├─ valid      → archive parquet, partitionBy(filetype, nite)  (S9)
      │               + registry append                             (S10)
      └─ rejected   → quarantine parquet, partitionBy(year, month)  (S11)

Exactly-once semantics (ST4): the reference's per-file commit/rollback is
replaced by (a) Spark's committed file output (no torn files), (b) the
registry duplicate gate making re-runs no-ops for already-ingested
names, and (c) the streaming checkpoint ensuring each notify file is
processed by at most one micro-batch. The notify-delete ack (`:198,293`) is subsumed by
(b)+(c) — re-presenting an ingested file classifies it as a duplicate.
The multi-sink batch is not atomic, but the DATA-PLANE sinks are
crash-replay idempotent: the archive write is partitioned by a
deterministic per-batch token (`batch=<token>` — the streaming epoch id
under foreachBatch; an order-independent content hash of the batch's
data names in cron/replay mode) and written with dynamic-partition
OVERWRITE, so a replay after a crash between the archive write and the
(deliberately last) registry append replaces its own crashed attempt's
rows instead of appending them twice — the same files-first/index-last
discipline the dedup gate family uses (streaming/mediadedup.py,
streaming/linededup.py). The registry stays exactly-once via the
duplicate gate + append-last ordering. The quarantine sink alone stays
append-mode: it is an audit LOG whose replays must add rows, never
rewrite history — a crash replay may leave a duplicate failure row
(distinct uniq name/timestamp), benign under its keep-last read
pattern.

Scale notes (100 TB, 1000 executors):
- data-file bytes never shuffle: pairing broadcasts the (tiny) notify
  side; classification is narrow (map-side) from scan to write, and the
  sinks read the cached batch through a `coalesce` sized from its bytes
  (one partition per `spark.sql.files.maxPartitionBytes`), so the file
  count of every sink follows data volume, not input splits;
- the one shuffle is the per-reason summary aggregate (a handful of
  rows); the registry gate is an ExistenceJoin, broadcast while the
  registry's names fit the broadcast threshold — past that it shuffles
  the night and the registry's names on filename (bucket the registry by
  `filename` to keep that shuffle co-located);
- archive writes are partitioned by (filetype, nite) — the reference's
  `${band}/${nite}` directory templating (F6) expressed as data-driven
  layout, giving partition pruning to every downstream read; the
  trailing batch=<token> dir accumulates one entry per ingest batch
  (same shape as the gate indexes' batch dirs) — `compact_partitioned`
  with ["filetype", "nite", "batch"] (C24) bounds file/dir counts, and
  tokens never collide, so compacted history stays immutable;
- quarantine is a side output of the same scan (no second read).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..plans.keywords import KeywordSchema
from ..sources.multimodal import HEADER_ENTRIES_SQL, KV_METADATA_SQL
from ..sources.notify import NOTIFY_SUFFIX, parse_notify_binary, read_stagein_pairs

# Fixed schema of the binaryFile source (needed explicitly for readStream).
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)

# DBB_BAD_FILE-equivalent quarantine schema (bin/save_DBB_stagein_to_DBB.py
# :274-291); rows are projected onto exactly these columns (P8 column
# intersection).
BAD_FILE_COLUMNS = (
    "orig_filename",
    "rejected_msg",
    "rejected_date",
    "filesize",
    "filetype",
    "task_id",
    "uniq_fullname",
    "delivery_date",
)

REASON_MISSING_DATA = "missing data file"
REASON_UNKNOWN_FILETYPE = "unknown filetype"
REASON_CHECKSUM = "checksum mismatch"
REASON_MISSING_HEADER = "missing header value"
REASON_DUPLICATE = "duplicate file"


@dataclass(frozen=True)
class IngestConfig:
    notify_dir: str
    delivery_dir: str
    archive_root: str
    registry_path: str
    quarantine_path: str
    # filetype dispatch rules (P1): evaluated in order; first match wins.
    # (name, startswith-prefix or None, endswith-suffix or None)
    filetypes: tuple[tuple[str, str | None, str | None], ...] = (
        ("raw", None, ".fits"),
        ("snmanifest", "manifest_SN", ".json"),
    )
    # per-filetype declared metadata schema (Y/N/R; §1.1.2)
    keyword_schemas: dict[str, KeywordSchema] = field(default_factory=dict)


@dataclass(frozen=True)
class IngestResult:
    archived: int
    quarantined: int
    by_reason: dict[str, int]


def _filetype_col(cfg: IngestConfig) -> F.Column:
    """Extension-dispatch CASE chain (P1,
    bin/save_DBB_stagein_to_DBB.py:36-45)."""
    expr = F.lit(None).cast("string")
    for name, prefix, suffix in reversed(cfg.filetypes):
        cond = F.lit(True)
        if prefix:
            cond = cond & F.col("data_name").startswith(prefix)
        if suffix:
            cond = cond & F.col("data_name").endswith(suffix)
        expr = F.when(cond, F.lit(name)).otherwise(expr)
    return expr


def _registry_names(spark: SparkSession, cfg: IngestConfig) -> DataFrame | None:
    """Filenames already in the archive (duplicate gate J8), or None
    before the first ingest. Read with a declared ``filename string``
    schema: only that column is scanned and no footer job infers the
    schema. Duplicate names are harmless to the IN-subquery that reads
    them (`classify_pairs`), so there is no ``distinct``.

    First-run detection goes through Spark's own filesystem layer (catch
    PATH_NOT_FOUND / empty-path AnalysisException), NOT os.path.exists:
    a driver-local stat always misses hdfs:// or s3a:// registry paths,
    which would silently disable the duplicate gate on exactly the
    deployments that need it."""
    try:
        return spark.read.schema("filename string").parquet(cfg.registry_path).select(
            "filename"
        )
    except AnalysisException:
        # registry not created yet (first ingest) — nothing registered.
        return None


def classify_pairs(
    spark: SparkSession, cfg: IngestConfig, pairs: DataFrame
) -> DataFrame:
    """Add filetype, md5, extracted metadata and the reject-reason CASE
    column to stage-in pairs. The duplicate check is an IN-subquery
    against the registry's names (an ExistenceJoin — no ``distinct``, no
    left join); before the first ingest there is no registry and no
    file is a duplicate. Pure transformation — no writes, no actions."""
    df = (
        pairs.withColumn("filetype", _filetype_col(cfg))
        .withColumn("md5sum", F.md5(F.col("content")))
        .withColumn(
            "nite",
            F.date_format(
                F.col("delivery_ts") - F.expr("INTERVAL 15 HOURS"), "yyyyMMdd"
            ),
        )
    )

    # Metadata extraction (U3): one CASE filetype projection over header
    # entries parsed once per row, and only for filetypes with a declared
    # schema; the others get NULL metadata.
    schemas = {ft: s.as_required_map() for ft, s in cfg.keyword_schemas.items() if s.flags}
    df = df.withColumn(
        "_kv",
        F.when(F.col("filetype").isin(list(schemas)), F.expr(HEADER_ENTRIES_SQL("content"))),
    )
    meta_json, missing = F.lit(None).cast("string"), F.lit(None).cast("array<string>")
    for ft, keywords in schemas.items():
        meta, miss = KV_METADATA_SQL("_kv", keywords)
        is_ft = F.col("filetype") == ft
        meta_json = F.when(is_ft, F.to_json(F.expr(meta))).otherwise(meta_json)
        missing = F.when(is_ft, F.expr(miss)).otherwise(missing)
    df = df.withColumns({"meta_json": meta_json, "meta_missing_required": missing}).drop("_kv")

    # Duplicate gate (J8/ST8): an IN-subquery against the registered
    # names, planned as an ExistenceJoin — no registry shuffle, no
    # dedup. Before the first ingest there is no registry: the flag is
    # NULL and no subquery is planned.
    names = _registry_names(spark, cfg)
    registered = (
        F.lit(None).cast("boolean") if names is None else F.col("data_name").isin(names)
    )

    reason = (
        F.when(F.col("content").isNull(), REASON_MISSING_DATA)
        .when(registered, REASON_DUPLICATE)
        .when(F.col("filetype").isNull(), REASON_UNKNOWN_FILETYPE)
        .when(
            F.col("declared_md5").isNotNull()
            & (F.col("md5sum") != F.col("declared_md5")),
            REASON_CHECKSUM,
        )
        .when(
            F.size(F.coalesce(F.col("meta_missing_required"), F.array())) > 0,
            REASON_MISSING_HEADER,
        )
    )
    return df.withColumn("reject_reason", reason)


def _registry_partitioned(spark: SparkSession, path: str) -> bool:
    """True iff the registry at `path` should be written nite-partitioned:
    a not-yet-created registry (new default) or one already carrying
    nite= partition dirs. A legacy registry holding data files at its
    root keeps appending unpartitioned — a mixed layout is unreadable.
    One FileSystem listing, via the JVM layer so hdfs://-s3a:// paths
    behave like local ones (same rationale as `_registry_names`)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return True
    has_root_data = False
    for s in fs.listStatus(p):
        name = s.getPath().getName()
        if s.isDirectory() and name.startswith("nite="):
            return True
        if not s.isDirectory() and not name.startswith(("_", ".")):
            has_root_data = True
    return not has_root_data


def _batch_summary(classified: DataFrame) -> tuple[str, dict[str | None, int], int]:
    """(token, rows per reject reason, data bytes) of a classified batch
    from ONE aggregate (a partial-aggregated groupBy over a handful of
    reasons).

    The token is deterministic and order/partition-independent: a
    commutative hash-sum over the batch's data names (+ row count), so a
    crash replay of the SAME batch derives the SAME token and its
    dynamic-partition overwrite replaces the crashed attempt's rows. The
    per-reason sums add up to the whole batch's, so grouping leaves the
    token unchanged. ``None`` keys the valid rows."""
    from ..operators.dedup import MD5_INT_SPARK_SQL

    rows = (
        classified.groupBy("reject_reason")
        .agg(
            F.sum(F.expr(MD5_INT_SPARK_SQL("data_name")) % F.lit(1_000_000_007)).alias("s"),
            F.count("*").alias("n"),
            F.sum("filesize").alias("bytes"),
        )
        .collect()
    )
    s = sum(r["s"] or 0 for r in rows)
    n = sum(r["n"] for r in rows)
    by_reason = {r["reject_reason"]: r["n"] for r in rows}
    return f"c{s % (1 << 60):x}n{n}", by_reason, sum(r["bytes"] or 0 for r in rows)


def _write_sinks(
    classified: DataFrame,
    cfg: IngestConfig,
    task_id: str | None,
    batch_token: str | None = None,
) -> IngestResult:
    """Fan the classified batch into archive + registry + quarantine.

    The batch is cached once; one aggregate over the cache (which also
    fills it) yields the reason counts, the token and the batch's bytes.
    The sinks then read the cache coalesced to one partition per
    ``spark.sql.files.maxPartitionBytes`` of data: a small night writes
    one file per archive leaf, and the file count follows bytes, not the
    scan's input splits. Coalescing merges cached partitions without a
    shuffle.

    ``batch_token`` keys the archive/quarantine dynamic-partition
    overwrite (crash-replay idempotence, module docstring); both the
    streaming and cron/replay paths derive a content token (explicit
    tokens are honored but must be globally unique — see ingest_batch)."""
    spark = classified.sparkSession
    cached = classified.withColumn(
        "task_id", F.lit(task_id).cast("string")
    ).persist()
    try:
        token, by_reason, data_bytes = _batch_summary(cached)
        if batch_token is None:
            batch_token = token
        archived = by_reason.pop(None, 0)
        split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        sized = cached.coalesce(max(1, -(-data_bytes // split)))
        valid = sized.where(F.col("reject_reason").isNull())
        rejected = sized.where(F.col("reject_reason").isNotNull())

        # S9: archive placement — partitioned layout replaces the
        # reference's per-file templated copy (+retry+verify: Spark's file
        # committer makes verify-after-copy unnecessary, SURVEY.md §4).
        # The trailing batch=<token> partition + dynamic overwrite makes a
        # crash replay REPLACE its own prior attempt (exactly-once archive
        # under the crash window between this write and the registry
        # append); (filetype, nite) stay leading partition columns, so
        # downstream pruning is unchanged.
        (
            valid.select(
                F.col("data_name").alias("filename"),
                "content",
                "md5sum",
                "filesize",
                "delivery_ts",
                "meta_json",
                "task_id",
                "filetype",
                "nite",
                F.lit(batch_token).alias("batch"),
            ).write.partitionBy("filetype", "nite", "batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(cfg.archive_root)
        )

        # S11: quarantine dead-letter, partitioned by rejection year/month
        # with a collision-proof uniq name (ref `:255-259`), projected onto
        # the DBB_BAD_FILE-style columns (P8).
        bad = (
            rejected.withColumn("rejected_date", F.current_timestamp())
            .withColumn(
                "uniq_fullname",
                F.concat_ws(
                    ".",
                    F.col("data_name"),
                    F.date_format("rejected_date", "yyyyMMddHHmmssSSS"),
                ),
            )
            .select(
                F.col("data_name").alias("orig_filename"),
                F.col("reject_reason").alias("rejected_msg"),
                "rejected_date",
                "filesize",
                "filetype",
                "task_id",
                "uniq_fullname",
                F.col("delivery_ts").alias("delivery_date"),
                F.year("rejected_date").alias("reject_year"),
                F.month("rejected_date").alias("reject_month"),
            )
        )
        bad = bad.select(
            *[c for c in BAD_FILE_COLUMNS if c in bad.columns],
            "reject_year",
            "reject_month",
        )
        # Quarantine stays APPEND on purpose: it is an append-only failure
        # LOG (re-replays must add rows, never rewrite history — a
        # batch-token overwrite would erase the previous attempt's row
        # when the same all-failed name set fails again). A crash replay
        # can therefore add a second, later-timestamped row for the same
        # failure — benign in a log whose current-state queries already
        # take the latest row per filename (keep-last, q_window_dedup
        # shape). The DATA-PLANE sinks (archive, registry) are the
        # exactly-once ones.
        bad.write.partitionBy("reject_year", "reject_month").mode(
            "append"
        ).parquet(cfg.quarantine_path)

        # S10: registry append (no bytes — narrow rows). MUST be the LAST
        # action of the batch: the classification plan READS the registry
        # (duplicate gate), and under foreachBatch the persisted cache is
        # not reliably hit across actions — an action executed after this
        # append would re-evaluate the gate against a registry that
        # already contains the batch's own files and misclassify them as
        # duplicates.
        #
        # r11: written PARTITIONED BY nite, so takedown/compaction can
        # rewrite only the matched nite partitions instead of the whole
        # relation (at 100 TB the registry is billions of rows; a
        # whole-relation rewrite per takedown was the r10 scale gap). A
        # registry that already exists UNPARTITIONED keeps appending
        # unpartitioned — mixing data files at the root with nite= dirs
        # would make the dataset unreadable; takedown's layout probe
        # handles either form.
        reg_writer = valid.select(
            F.col("data_name").alias("filename"),
            "md5sum",
            "filesize",
            "filetype",
            "nite",
            F.col("delivery_ts").alias("delivery_date"),
            "task_id",
        ).write.mode("append")
        if _registry_partitioned(spark, cfg.registry_path):
            reg_writer = reg_writer.partitionBy("nite")
        reg_writer.parquet(cfg.registry_path)
        return IngestResult(
            archived=archived,
            quarantined=sum(by_reason.values()),
            by_reason=by_reason,
        )
    finally:
        cached.unpersist()


def ingest_batch(
    spark: SparkSession,
    cfg: IngestConfig,
    task_id: str | None = None,
    notify_df: DataFrame | None = None,
    batch_token: str | None = None,
) -> IngestResult:
    """One ingest pass over the stage-in area (the cron-invoked batch,
    ST1). Idempotent two ways: a second run after SUCCESS classifies
    everything as duplicates and appends nothing to archive or registry;
    a replay after a CRASH between the archive write and the registry
    append derives the same content-hash ``batch_token`` and its dynamic
    overwrite replaces the crashed attempt's archive rows (both tested
    in tests/test_ingest.py). Streaming derives the same content token
    (an explicit epoch-style token remains supported for callers with
    their own globally-unique batch ids, but epoch ids that can restart
    at 0 — checkpoint resets, multiple streams on one archive — must
    NOT be used: token reuse dynamic-overwrites a prior batch's
    partition)."""
    pairs = read_stagein_pairs(
        spark, cfg.notify_dir, cfg.delivery_dir, notify_df=notify_df
    )
    classified = classify_pairs(spark, cfg, pairs)
    return _write_sinks(classified, cfg, task_id, batch_token=batch_token)


def start_ingest_stream(
    spark: SparkSession,
    cfg: IngestConfig,
    checkpoint_dir: str,
    task_id: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming front-end (ST1-ST4): notify files drive the stream; each
    micro-batch runs the same classify+fan-out core via foreachBatch.

    - trigger(availableNow=True) = the cron-compatible drain-and-exit mode;
      a `processing_time` trigger gives the long-running daemon mode.
    - the checkpoint dir is the reference's singleton lock (§2.9 ST1): one
      active query per checkpoint, restarts resume without reprocessing.
    - completeness (ST2): only the notify stream triggers work; the data
      file is picked up by the per-batch pairing join, so a data file with
      no notify is never touched.
    """
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", f"*{NOTIFY_SUFFIX}")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(cfg.notify_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        notify = parse_notify_binary(batch_df)
        # batch_token=None => the content-hash token (_batch_summary) is
        # derived inside _write_sinks, exactly as in the cron path. The
        # epoch id (f"b{batch_id}") is NOT a safe token here: epoch ids
        # restart at 0 after a checkpoint reset, and two streams sharing
        # one archive root each count from 0 — a later batch writing the
        # same (filetype, nite, batch=b0) leaf would dynamic-overwrite
        # (silently DELETE) the earlier batch's archived rows while the
        # registry still listed them. The content token is globally
        # unique per batch content and still replay-stable (a crash
        # replay of the same epoch re-derives the same token).
        ingest_batch(spark, cfg, task_id=task_id, notify_df=notify)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def replay_quarantine(
    spark: SparkSession,
    cfg: IngestConfig,
    reasons: tuple[str, ...] | None = None,
    task_id: str | None = None,
) -> IngestResult:
    """Re-run the ingest gate over previously-quarantined files (the
    operator workflow behind the reference's DBB_BAD_FILE table: fix the
    cause — corrected notify metadata, registry cleanup, restored data
    file — then re-stage; bin/save_DBB_stagein_to_DBB.py:274-291 keeps
    the failure rows precisely so this is possible).

    Reads the quarantine table (optionally only ``reasons``), re-pairs
    the named files from the CURRENT stage-in area, and pushes them
    through the SAME classify + sinks path as a normal batch: files whose
    cause was fixed archive + register; files that fail again append a
    fresh quarantine row (new uniq name) — so replay is idempotent and
    the quarantine stays an append-only failure LOG (history is never
    rewritten; current-state queries use the latest row per filename,
    the keep-last dedup shape of q_window_dedup).

    Scale: the quarantine name set is small (failures, not the corpus) —
    it broadcasts into a semi-join against the re-scanned pairing, so
    the byte-carrying side never shuffles."""
    bad = spark.read.parquet(cfg.quarantine_path)
    if reasons:
        bad = bad.where(F.col("rejected_msg").isin(list(reasons)))
    names = bad.select(
        F.col("orig_filename").alias("data_name")
    ).distinct()
    pairs = read_stagein_pairs(spark, cfg.notify_dir, cfg.delivery_dir).join(
        F.broadcast(names), "data_name", "left_semi"
    )
    return _write_sinks(classify_pairs(spark, cfg, pairs), cfg, task_id)
