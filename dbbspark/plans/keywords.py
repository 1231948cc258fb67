"""Declared per-filetype metadata schemas with Y/N/R flags (SURVEY.md
§1.1.2).

The reference declares file metadata externally: a CSV of
``KEYWORD,primary_hdu_flag,extension_hdu_flag`` with flags in {Y, N, R}
(`etc/decam_src_keywords.txt:1-264`) — required (R), optional (Y), absent
(N). A missing required header aborts that file's ingestion
(`bin/save_DBB_stagein_to_DBB.py:212-215`); our pipeline routes it to
quarantine instead (dead-letter, never job failure).

Spark mapping (SURVEY.md §1.4): R → non-nullable field enforced by an
ingest-time null check; Y → nullable field; N → excluded by projection.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T


@dataclass(frozen=True)
class KeywordSchema:
    """keyword -> flag ('Y' optional | 'R' required); 'N' keywords are
    dropped at parse time (excluded by projection).

    The schema declares WHAT to extract, never how: the header format
    comes from each file's bytes (`sources.multimodal.HEADER_ENTRIES_SQL`
    reads FITS primary headers and `KEY = value` text alike)."""

    flags: tuple[tuple[str, str], ...]

    @property
    def required(self) -> tuple[str, ...]:
        return tuple(k for k, f in self.flags if f == "R")

    @property
    def optional(self) -> tuple[str, ...]:
        return tuple(k for k, f in self.flags if f == "Y")

    def as_required_map(self) -> dict[str, bool]:
        """keyword -> required? (input shape for extract_kv_metadata)."""
        return {k: f == "R" for k, f in self.flags}

    def struct_type(self) -> T.StructType:
        """Typed struct for the extracted metadata; R fields declared
        non-nullable (enforced by the ingest null check, not by Spark —
        Spark treats nullability as advisory on read)."""
        return T.StructType(
            [
                T.StructField(k.lower(), T.StringType(), f != "R")
                for k, f in self.flags
            ]
        )


def parse_keyword_csv(text: str, use_extension_flag: bool = False) -> KeywordSchema:
    """Parse ``KEYWORD,primary_flag,extension_flag`` lines (the
    decam_src_keywords.txt format). ``use_extension_flag`` selects the
    extension-HDU column instead of the primary-HDU column."""
    flags: list[tuple[str, str]] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = [p.strip() for p in line.split(",")]
        if len(parts) < 3:
            continue
        kw, primary, ext = parts[0], parts[1].upper(), parts[2].upper()
        flag = ext if use_extension_flag else primary
        if flag in ("Y", "R"):
            flags.append((kw.upper(), flag))
    return KeywordSchema(flags=tuple(flags))
