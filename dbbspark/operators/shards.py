"""WebDataset-style tar shard export (SURVEY.md §2.11 C36).

Multimodal training loaders (WebDataset, torchdata tar readers) consume
`.tar` shards of co-named members — `<key>.<ext>` for the payload,
`<key>.json` for metadata — streamed sequentially, shard-per-worker. The
export step from a curated Spark table is itself a scale problem: 100 TB
of (id, binary, metadata) rows must become tens of thousands of
size-bounded tar files without a driver loop or a single-reducer sort.

Spark mapping:

- SHARD ASSIGNMENT is the same distributed prefix-sum shape as
  `packing.pack_sequences`: range-partition by id, per-partition running
  byte totals in Arrow batches, bucket totals (not rows) prefix-summed
  driver-side — each doc gets its byte offset in the global stream and
  its shard = offset // shard_bytes. Deterministic: a pure function of
  (id, size, shard_bytes), so re-exports are reproducible.
- TAR ASSEMBLY groups by shard id (ONE shuffle of exactly the payload
  bytes, unavoidable for co-locating a shard's members) and builds the
  archive in-memory per group with the stdlib tarfile — pax format,
  zeroed mtimes so the same input yields byte-identical shards.
- The result is a (shard, tar, n_docs, bytes) frame: write it as
  parquet-with-binary (the transport the rest of the engine already
  handles), or `save_tar_files` it to real `.tar` files for loaders
  (local-fs export helper; on object stores, upload the binary column
  with the store's native multipart API instead).

The reference's closest analog is the archive placement sink (one file
at a time, `bin/save_DBB_stagein_to_DBB.py:76-107`); this is the bulk
training-export counterpart.
"""

from __future__ import annotations

import io
import json
import tarfile

import pandas as pd  # module-level: lets typing.get_type_hints resolve the
# grouped-pandas callables' annotations (pyspark infers eval type from them)

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def assign_shards(
    docs: DataFrame,
    shard_bytes: int,
    id_col: str = "doc_id",
    content_col: str = "content",
    num_buckets: int = 32,
) -> DataFrame:
    """Add ``shard`` (long): documents concatenated in ascending id
    order, cut every ``shard_bytes`` of payload. Two-pass distributed
    prefix sum — same accounting as packing.pack_sequences; the driver
    holds only ``num_buckets`` totals. A doc larger than ``shard_bytes``
    gets a shard of its own (its offset starts a new shard; successors
    move past it)."""
    if shard_bytes <= 0:
        raise ValueError("shard_bytes must be positive")
    sized = docs.withColumn(
        "__sz", F.coalesce(F.length(F.col(content_col)).cast("long"), F.lit(0))
    )
    d = (
        sized.repartitionByRange(num_buckets, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("__bucket", F.spark_partition_id())
    )

    def part_cumsum(batches):
        run = 0
        for pdf in batches:
            if pdf.empty:
                continue
            ends = pdf["__sz"].cumsum() + run
            out = pdf.copy()
            out["__local_start"] = ends - pdf["__sz"]
            run = int(ends.iloc[-1])
            yield out

    schema = T.StructType(
        d.schema.fields + [T.StructField("__local_start", T.LongType())]
    )
    # Lazy local checkpoint (the pack_sequences device): the totals
    # action below materializes this relation and the final join REUSES
    # it. Without the cut, the join re-runs the lineage from the range
    # partition — whose SAMPLED boundaries can differ between runs, so
    # the bucket offsets collected from run 1 would be applied to run
    # 2's different bucket contents. Invisible on small fixtures (both
    # sample passes see every row), REAL at scale: the r11 sf1 catalog
    # run caught exactly this as off-by-a-few shard ids on ~2% of rows.
    from dbbspark.session import cut_lineage

    local = d.mapInPandas(part_cumsum, schema).transform(
        cut_lineage, eager=False
    )
    totals = (
        local.groupBy("__bucket")
        .agg((F.max(F.col("__local_start") + F.col("__sz"))).alias("t"))
        .collect()
    )
    offs, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["__bucket"]):
        offs[row["__bucket"]] = acc
        acc += row["t"] or 0
    off_df = local.sparkSession.createDataFrame(
        [(b, o) for b, o in offs.items()], "__bucket int, __off long"
    )
    return (
        local.join(F.broadcast(off_df), "__bucket")
        .withColumn(
            # integer `div`, not `/`: double division rounds above 2^53
            # payload bytes (the pack_sequences discipline)
            "shard",
            F.expr(f"(__local_start + __off) div {int(shard_bytes)}"),
        )
        .drop("__bucket", "__local_start", "__off", "__sz")
    )


def build_tar_shards(
    docs: DataFrame,
    shard_bytes: int = 64 * 1024 * 1024,
    id_col: str = "doc_id",
    content_col: str = "content",
    ext: str = "bin",
    meta_cols: list[str] | None = None,
    num_buckets: int = 32,
) -> DataFrame:
    """(shard, tar binary, n_docs, bytes): size-bounded WebDataset-style
    tar shards. Each doc contributes ``<id>.<ext>`` (the payload) and
    ``<id>.json`` (the selected metadata columns); members are id-sorted
    within a shard and mtime-zeroed, so output bytes are a pure function
    of the input. One shuffle (groupBy shard) carries the payload."""
    meta_cols = meta_cols or []
    assigned = assign_shards(docs, shard_bytes, id_col, content_col, num_buckets)
    cols = [id_col, content_col, *meta_cols, "shard"]

    def make_tar(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.PAX_FORMAT) as tf:
            for row in pdf.itertuples(index=False):
                rd = row._asdict()
                ident = rd[id_col]
                payload = bytes(rd[content_col] or b"")
                info = tarfile.TarInfo(name=f"{ident}.{ext}")
                info.size = len(payload)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(payload))
                meta = json.dumps(
                    {c: _jsonable(rd[c]) for c in meta_cols}, sort_keys=True
                ).encode()
                minfo = tarfile.TarInfo(name=f"{ident}.json")
                minfo.size = len(meta)
                minfo.mtime = 0
                tf.addfile(minfo, io.BytesIO(meta))
        data = buf.getvalue()
        return pd.DataFrame(
            {
                "shard": [int(key[0])],
                "tar": [data],
                "n_docs": [len(pdf)],
                "bytes": [len(data)],
            }
        )

    return (
        assigned.select(*cols)
        .groupBy("shard")
        .applyInPandas(make_tar, "shard long, tar binary, n_docs long, bytes long")
    )


def _jsonable(v):
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)


def save_tar_files(
    shards: DataFrame, out_dir: str, prefix: str = "shard"
) -> list[str]:
    """Write each shard row as ``<out_dir>/<prefix>-%06d.tar`` via the
    Hadoop FS API (hdfs/s3a/file alike). The BYTES move straight from
    the executor-produced frame through the driver one shard at a time
    (toLocalIterator — never the whole export in driver memory); for
    object-store exports at full scale, prefer keeping the binary
    column and uploading with the store's bulk API."""
    from ..maintenance import _fs_and_path

    spark = shards.sparkSession
    fs, root, jvm = _fs_and_path(spark, out_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(root)
    written = []
    for row in shards.select("shard", "tar").toLocalIterator():
        name = f"{prefix}-{int(row['shard']):06d}.tar"
        out = fs.create(Path(root, name), True)
        try:
            out.write(bytearray(row["tar"]))
        finally:
            out.close()
        written.append(name)
    return sorted(written)
