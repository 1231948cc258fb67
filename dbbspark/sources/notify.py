"""Stage-in scan + notify-file parsing (SURVEY.md §2.1 S1/S3/S4).

The reference scans a notify directory, strips the ``.dbb`` suffix to find
each notification's data file, and processes pairs in mtime (delivery)
order, parsing ``key = value`` notify lines into a per-file dict
(`bin/save_DBB_stagein_to_DBB.py:308-321`, `:49-56`). Here the scan is a
`binaryFile` read (path/modificationTime/length/content columns), the
pairing is an equi-join on the suffix-stripped path, and the kv parse is
`KV_ENTRIES_SQL` — the package's one ``key = value`` line parse, shared
by notify files, data-file headers (`multimodal.extract_kv_metadata`) and
the config source — all JVM-side, no Python loop.

Scale notes (100 TB / millions of files):
- file listing is distributed (InMemoryFileIndex lists in parallel tasks);
- notify files are tiny → their side of the pair join broadcasts;
- data-file *content* is only materialized for rows that survive the
  pairing filter, because `binaryFile` supports column pruning — plans
  that don't touch `content` never read the bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import sql_str

NOTIFY_SUFFIX = ".dbb"

# Python's `str.splitlines()` break set and `str.strip()` whitespace set as
# Java regexes, so the SQL parse reads a file exactly as the reference's
# Python dict parse does (Spark's `trim` strips spaces only).
_LINE_BREAKS = r"\r\n|[\n\r\x0b\x0c\x1c\x1d\x1e\x85\u2028\u2029]"
_STRIP = r"(?U)^[\s\x1c-\x1f]+|[\s\x1c-\x1f]+\z"


def UTF8_TEXT_SQL(content: str) -> str:
    """The binary expression ``content`` read as UTF-8 text exactly as
    Python's ``decode('utf-8', 'replace')`` reads it: one U+FFFD per
    maximal invalid subpart. A bare cast never raises but can fold several
    invalid bytes into one U+FFFD (``ED A0`` gives one, Python two);
    `make_valid_utf8` replaces them as Python does."""
    return f"make_valid_utf8(cast({content} AS string))"


def STRIP_SQL(text: str) -> str:
    """The SQL expression ``text`` with Python-`strip()` whitespace
    removed from both ends."""
    return f"regexp_replace({text}, {sql_str(_STRIP)}, '')"


def KV_ENTRIES_SQL(text: str) -> str:
    """The one ``key = value`` parse (bin/save_DBB_stagein_to_DBB.py:49-56),
    as Spark SQL over the string expression ``text``: an
    array<struct<key, value>> in file order, one entry per line holding an
    ``=``. The key is the stripped, lowercased text before the first
    ``=``; the value is the stripped text after it; ``#`` lines are
    skipped. A NULL ``text`` gives NULL. Callers read a key's LAST entry
    (`KV_MAP_SQL`, `multimodal.extract_kv_metadata`)."""
    key = STRIP_SQL("substring_index(l, '=', 1)")
    value = STRIP_SQL("substr(l, instr(l, '=') + 1)")
    return (
        f"filter(transform(filter(split({text}, {sql_str(_LINE_BREAKS)}), "
        f"l -> instr(l, '=') > 0), "
        f"l -> named_struct('key', lower({key}), 'value', {value})), "
        "e -> NOT startswith(e.key, '#'))"
    )


def KV_MAP_SQL(text: str) -> str:
    """`KV_ENTRIES_SQL` folded into a map<string,string>, a later key
    replacing an earlier one. Never `str_to_map` / `map_from_entries` over
    raw lines: under Spark's default ``mapKeyDedupPolicy=EXCEPTION`` a
    file that repeats a key (or two keys differing only by case) would
    throw DUPLICATED_MAP_KEY and fail the WHOLE micro-batch. The fold is
    O(lines²): fine for notify and config files, never for data files."""
    return (
        f"aggregate({KV_ENTRIES_SQL(text)}, cast(map() AS map<string,string>), "
        "(m, e) -> map_concat(map_filter(m, (k, v) -> k != e.key), "
        "map(e.key, e.value)))"
    )


def parse_config_text(spark: SparkSession, path: str) -> dict[str, str]:
    """Config source (S3): ``key = value`` file → driver-side dict.

    Config is plan-time input (it parameterizes the pipeline), so a
    driver-side read is correct — it never scales with data volume.
    """
    rows = (
        spark.read.text(path, wholetext=True)
        .select(F.expr(KV_MAP_SQL("make_valid_utf8(value)")))
        .collect()
    )
    return dict(rows[0][0]) if rows else {}


def parse_notify_binary(df: DataFrame) -> DataFrame:
    """Turn raw binaryFile rows (path/modificationTime/length/content) of
    ``*.dbb`` files into parsed notify records. Shared by the batch scan
    and the streaming front-end's micro-batches."""
    notify = df.select(
        F.col("path").alias("notify_path"),
        F.col("modificationTime").alias("delivery_ts"),
        F.expr(KV_MAP_SQL(UTF8_TEXT_SQL("content"))).alias("notify"),
    )
    return notify.withColumn(
        "data_name",
        F.element_at(
            F.split(
                F.regexp_replace("notify_path", NOTIFY_SUFFIX.replace(".", r"\.") + "$", ""),
                "/",
            ),
            -1,
        ),
    ).withColumn("declared_md5", F.col("notify").getItem("md5sum"))


def read_notify_dir(spark: SparkSession, notify_dir: str) -> DataFrame:
    """Notify-file source (S4): one row per ``*.dbb`` file with the parsed
    kv map and the delivery timestamp (file mtime = arrival order,
    `bin/save_DBB_stagein_to_DBB.py:316`)."""
    return parse_notify_binary(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*{NOTIFY_SUFFIX}")
        .load(notify_dir)
    )


def read_stagein_pairs(
    spark: SparkSession,
    notify_dir: str,
    delivery_dir: str,
    notify_df: DataFrame | None = None,
) -> DataFrame:
    """Notify-dir scan + pairing (S1): join each notify record to its data
    file by basename; keep notify rows whose data file is missing (NULL
    data columns — routed to quarantine downstream, mirroring the skip at
    `bin/save_DBB_stagein_to_DBB.py:143-149`).

    Delivery order (`orderBy mtime`, ref `:316`) is not imposed here: the
    set-oriented pipeline processes the whole batch atomically, so arrival
    order only matters to the streaming front-end's trigger, not to
    per-row work.
    """
    notify = notify_df if notify_df is not None else read_notify_dir(spark, notify_dir)
    data = (
        spark.read.format("binaryFile")
        .load(delivery_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("data_name"),
            F.col("path").alias("data_path"),
            F.col("length").alias("filesize"),
            F.col("content"),
        )
    )
    # Notify side is tiny rows (kv text); data side carries the bytes. A
    # left-outer join preserving notify can't broadcast-build the notify
    # side (Spark would fall back to shuffling the byte-carrying data side),
    # so: broadcast INNER join for matched pairs + broadcast anti-join for
    # notify rows whose data file is missing — the data bytes never shuffle.
    # CAVEAT: Spark's binaryFile source does not list 0-byte files, so an
    # EMPTY notify file is invisible here — its data file stays unpicked.
    # `unnotified_data_files` surfaces those (plus not-yet-notified files)
    # as a monitoring diagnostic instead of silently losing them.
    matched = data.join(F.broadcast(notify), "data_name", "inner")
    missing = (
        notify.join(
            F.broadcast(data.select("data_name")), "data_name", "left_anti"
        )
        .withColumn("data_path", F.lit(None).cast("string"))
        .withColumn("filesize", F.lit(None).cast("long"))
        .withColumn("content", F.lit(None).cast("binary"))
    )
    return matched.select(*sorted(matched.columns)).unionByName(
        missing.select(*sorted(missing.columns))
    )


def unnotified_data_files(
    spark: SparkSession, notify_dir: str, delivery_dir: str
) -> DataFrame:
    """Data files with no visible notify record — either not yet notified
    (normal in-flight state, ST2) or notified by a 0-byte file the
    binaryFile source cannot see (see CAVEAT above). A monitor query, not
    part of the ingest path; names-only anti-join, no bytes read."""
    notify_names = read_notify_dir(spark, notify_dir).select("data_name")
    data_names = (
        spark.read.format("binaryFile")
        .load(delivery_dir)
        .select(F.element_at(F.split("path", "/"), -1).alias("data_name"))
    )
    return data_names.join(F.broadcast(notify_names), "data_name", "left_anti")
