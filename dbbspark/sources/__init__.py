"""Sources: stage-in scan, notify/config parsing, logs, multimodal binary.

Maps SURVEY.md §2.1 S1-S8 onto Spark's file sources. Everything returns a
DataFrame built from `binaryFile` / `text` reads plus JVM-side column
expressions — no driver-side file iteration, so the same code lists one
directory on local[32] or a million-file bucket on a cluster (file listing
is parallelized by the InMemoryFileIndex).
"""

from .notify import (
    parse_config_text,
    read_notify_dir,
    read_stagein_pairs,
    unnotified_data_files,
)
from .httpindex import fetch_index, nightsum_nites, parse_index
from .logs import read_log, last_matching_line
from .multimodal import (
    extract_kv_metadata,
    fits_header_decode,
    read_binary_docs,
)
from .textcorpus import read_csv_docs, read_jsonl_docs

__all__ = [
    "parse_config_text",
    "read_notify_dir",
    "read_stagein_pairs",
    "unnotified_data_files",
    "fetch_index",
    "read_jsonl_docs",
    "read_csv_docs",
    "nightsum_nites",
    "parse_index",
    "read_log",
    "last_matching_line",
    "read_binary_docs",
    "extract_kv_metadata",
    "fits_header_decode",
]
