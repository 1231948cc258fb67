"""Multimodal columns: opaque binary content + typed metadata (SURVEY.md
§2.11 C5, §2.10 U3).

The reference treats file bytes as opaque except for a per-filetype plugin
that extracts a declared keyword schema from them (FITS headers,
`etc/decam_src_keywords.txt`; invoked at `bin/save_DBB_stagein_to_DBB.py:160`).
The Spark-native form: a `binary` column travels with the row; header
extraction is one Spark SQL projection producing a typed struct next to
the bytes (no Python worker). Media decoding is an Arrow-batched
transform over `mapInPandas`.

Decoders for real media formats (image resize, audio resample, frame
sampling) need libraries not present in this container; they are STUBBED
behind `register_decoder` with a deterministic fake as the default, but the
Spark-side plumbing — schema, batch iteration, partition sizing — is real
and tested.

Scale notes:
- `binaryFile` prunes `content` when unprojected, so metadata-only plans
  never read bytes;
- media decoding runs per Arrow batch (`spark.sql.execution.arrow
  .maxRecordsPerBatch` bounds memory per task), not per row;
- keep bytes out of shuffles: extract → drop `content` → then join/agg.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions import sql_ident, sql_str
from .notify import KV_ENTRIES_SQL, STRIP_SQL, UTF8_TEXT_SQL

# ---------------------------------------------------------------------------
# Binary document reader

def read_binary_docs(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Read a directory of opaque files as (path, modificationTime, length,
    content) — the multimodal base table (SURVEY.md §1.4 "binary file
    content")."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


# ---------------------------------------------------------------------------
# Header metadata extraction: one SQL projection, no Python worker. The
# format comes from the bytes (the reference dispatches a plugin per
# filetype, bin/save_DBB_stagein_to_DBB.py:160): FITS cards for a file
# opening with the SIMPLE card, else `notify.KV_ENTRIES_SQL` text lines.

# The first card of every FITS primary header (FITS Standard 4.0 §4.4.1).
_FITS_MAGIC = b"SIMPLE  = "
# ASCII `str.isspace()`: FITS headers are ASCII, so no (?U).
_BLANK = r"[\s\x1c-\x1f]"
# A card whose first 8 characters strip to END.
_END_KEY = "|".join(f"{_BLANK}{{{a}}}END{_BLANK}{{{5 - a}}}" for a in range(6))
# Whole 80-byte cards from the first byte up to the END card: \G chains
# each match to the end of the previous one, so the scan stops at END.
_FITS_CARDS = rf"(?s)\G(?!{_END_KEY})(.{{80}})"
_FITS_STRING = r"^'((?:[^']|'')*)"
_HIGH_BYTE = r"[\x80-\xff]"
_LSTRIP, _RSTRIP = f"^{_BLANK}+", rf"{_BLANK}+\z"
_QUOTE, _QUOTE2 = sql_str("'"), sql_str("''")


def fits_header_decode(raw: bytes) -> dict[str, str]:
    """Primary-HDU FITS header decoder — real format, no libraries.

    FITS headers are ASCII: 80-byte cards, `KEYWORD = value / comment`,
    terminated by an END card (FITS Standard 4.0 §4.4; the reference
    parses the same headers via its per-filetype plugin,
    bin/save_DBB_stagein_to_DBB.py:160). String values are
    single-quoted with `''` escaping; non-string values end at the
    comment slash. Returns {KEYWORD: value-string}; typed casting is the
    caller's schema concern (plans/keywords.py Y/N/R flags).
    `FITS_ENTRIES_SQL` is the same parse in Spark SQL."""
    out: dict[str, str] = {}
    for off in range(0, len(raw) - len(raw) % 80, 80):
        card = raw[off : off + 80].decode("ascii", "replace")
        key = card[:8].strip()
        if key == "END":
            break
        if card[8:10] != "= ":
            continue  # COMMENT / HISTORY / CONTINUE / blank cards
        body = card[10:].lstrip()
        if body.startswith("'"):
            buf, i, s = [], 1, body
            while i < len(s):
                if s[i] == "'":
                    if i + 1 < len(s) and s[i + 1] == "'":
                        buf.append("'")
                        i += 2
                        continue
                    break
                buf.append(s[i])
                i += 1
            out[key.upper()] = "".join(buf).rstrip()
        else:
            out[key.upper()] = body.split("/")[0].strip()
    return out


def FITS_ENTRIES_SQL(content: str) -> str:
    """`fits_header_decode` as Spark SQL over the binary expression
    ``content``, in `KV_ENTRIES_SQL`'s shape: one (lowercased key, value)
    entry per ``KEYWORD = value`` card before END, in card order. Bytes
    >= 0x80 read as U+FFFD, as ascii ``replace`` decodes them."""
    cards = (
        f"regexp_extract_all(decode({content}, 'ISO-8859-1'), "
        f"{sql_str(_FITS_CARDS)}, 1)"
    )
    keyed = (
        f"transform(filter(transform({cards}, "
        f"c -> regexp_replace(c, {sql_str(_HIGH_BYTE)}, '\ufffd')), "
        "c -> substr(c, 9, 2) = '= '), "
        f"c -> named_struct('key', lower({STRIP_SQL('substr(c, 1, 8)')}), "
        f"'body', regexp_replace(substr(c, 11), {sql_str(_LSTRIP)}, '')))"
    )
    string = (
        f"regexp_replace(replace(regexp_extract(e.body, {sql_str(_FITS_STRING)}, 1), "
        f"{_QUOTE2}, {_QUOTE}), {sql_str(_RSTRIP)}, '')"
    )
    plain = STRIP_SQL("substring_index(e.body, '/', 1)")
    return (
        f"transform({keyed}, e -> named_struct('key', e.key, 'value', "
        f"IF(startswith(e.body, {_QUOTE}), {string}, {plain})))"
    )


def HEADER_ENTRIES_SQL(content: str) -> str:
    """The header's (key, value) entries from the binary expression
    ``content``: `FITS_ENTRIES_SQL` for a file opening with the SIMPLE
    card, else `KV_ENTRIES_SQL` over the bytes read as UTF-8 the way
    Python's ``replace`` decode reads them (`notify.UTF8_TEXT_SQL`; never
    raises)."""
    return (
        f"CASE WHEN startswith({content}, X'{_FITS_MAGIC.hex()}') "
        f"THEN {FITS_ENTRIES_SQL(content)} "
        f"ELSE {KV_ENTRIES_SQL(UTF8_TEXT_SQL(content))} END"
    )


def KV_METADATA_SQL(kv: str, keywords: dict[str, bool]) -> tuple[str, str]:
    """(meta, missing) Spark SQL over the entries expression ``kv``.
    ``meta`` is a struct with one string field per keyword (the name
    lowercased) holding that keyword's LAST entry; ``missing`` lists the
    required keywords with no entry, in ``keywords`` order. A NULL ``kv``
    reports every required keyword missing. Each lookup is one pass over
    the entries — linear in the file's line count."""

    def last(k: str) -> str:
        return f"try_element_at(filter({kv}, e -> e.key = {sql_str(k.lower())}), -1).value"

    fields = ", ".join(f"{sql_str(k.lower())}, {last(k)}" for k in keywords)
    missing = ", ".join(
        f"IF({last(k)} IS NULL, {sql_str(k)}, NULL)" for k, req in keywords.items() if req
    )
    return (
        f"named_struct({fields})",
        f"cast(array_compact(array({missing})) AS array<string>)",
    )


def extract_kv_metadata(
    df: DataFrame, keywords: dict[str, bool], content_col: str = "content"
) -> DataFrame:
    """Extract a declared keyword schema out of file bytes: adds a
    ``meta`` struct (one nullable string field per keyword) and
    ``meta_missing_required`` (absent R-flagged keys). ``keywords`` maps
    KEYWORD -> required? (the R flag of `etc/decam_src_keywords.txt`;
    SURVEY.md §1.1.2). Malformed bytes never raise: they report required
    keys missing, and ingest quarantines the file instead of aborting
    like the reference's SystemExit (bin/save_DBB_stagein_to_DBB.py
    :212-215)."""
    meta, missing = KV_METADATA_SQL("_kv", keywords)
    return (
        df.withColumn("_kv", F.expr(HEADER_ENTRIES_SQL(sql_ident(content_col))))
        .withColumns({"meta": F.expr(meta), "meta_missing_required": F.expr(missing)})
        .drop("_kv")
    )


# ---------------------------------------------------------------------------
# Media decode stubs (image/audio/video feature extraction)

_DECODERS: dict[str, Callable[[bytes], dict]] = {}


def _load_default_codecs() -> None:
    """Activate the built-in real codecs (sources/codecs.py registers
    pgm/ppm/fits/wav on import). Called lazily by the seam entry points
    so library users get them without an explicit import; codecs.py
    imports from THIS module, so the import must happen at call time,
    never at module top."""
    from . import codecs  # noqa: F401


def register_decoder(kind: str, fn: Callable[[bytes], dict]) -> None:
    """Register a real decoder for ``kind`` (the built-ins cover
    pgm/ppm/fits/wav — sources/codecs.py; kinds without a registration
    fall back to the deterministic fake)."""
    _DECODERS[kind] = fn


def _fake_decode(raw: bytes) -> dict:
    """Deterministic stand-in for a media decoder: stable pseudo-features
    derived from a content digest. Replace via `register_decoder`.

    Fallback contract (SURVEY C5): this stub serves the DECODE leg only
    — it keeps `q_multimodal_decode` oracle-verifiable for kinds with no
    registered codec. The resize and frame-sampling legs deliberately
    have NO such fallback: an unregistered kind yields NULL there,
    never fabricated bytes."""
    h = hashlib.sha256(raw).digest()
    return {
        "width": 64 + h[0],
        "height": 64 + h[1],
        "n_frames": 1 + h[2] % 8,
        "feature": [b / 255.0 for b in h[:8]],
    }


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def decode_media(
    df: DataFrame, kind: str = "image", content_col: str = "content"
) -> DataFrame:
    """Attach decoded media features as a ``decoded`` struct column.

    Runs the registered decoder for ``kind`` over Arrow batches via
    mapInPandas — the production shape for "decode 100 TB of images":
    one Python worker per task, bytes never leave the executor, output
    is a narrow typed struct. Real codecs for pgm/ppm/fits/wav live in
    sources/codecs.py (registered on import); the deterministic fake
    remains the fallback for kinds with no registered decoder. A
    decoder raising on malformed bytes yields decoded=NULL for that row
    — quarantine's concern, never a job abort (same stance as
    extract_kv_metadata vs the reference's SystemExit,
    bin/save_DBB_stagein_to_DBB.py:212-215).
    """
    _load_default_codecs()
    decoder = _DECODERS.get(kind, _fake_decode)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("decoded", DECODE_SCHEMA, True)]
    )

    def _one(raw) -> dict | None:
        if raw is None:
            return None
        try:
            return decoder(bytes(raw))
        except Exception:  # malformed media → NULL, row survives
            return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["decoded"] = [_one(raw) for raw in pdf[content_col]]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


# Frame sampling (video/audio → per-frame feature rows)

_FRAME_EXTRACTORS: dict[str, tuple[Callable[[bytes], int], Callable[[bytes, list[int]], list[list[float]]]]] = {}


_RESIZERS: dict[str, Callable[[bytes, int, int], bytes]] = {}


def register_resizer(kind: str, fn: Callable[[bytes, int, int], bytes]) -> None:
    """Register a real (raw, width, height) -> raw resizer for ``kind``
    (built-ins cover pgm/ppm/fits — sources/codecs.py). There is NO
    fake fallback for resize: emitting fabricated bytes as "the resized
    image" would poison downstream consumers, so unregistered kinds
    yield NULL rows instead."""
    _RESIZERS[kind] = fn


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    kind: str = "pgm",
    content_col: str = "content",
) -> DataFrame:
    """Attach a ``resized`` struct (re-encoded bytes + target dims) —
    the decode → resample → re-encode leg of the multimodal pipeline
    (thumbnailing / input-normalization before feature extraction).

    Same execution shape as `decode_media`: Arrow-batched mapInPandas,
    bytes never leave the executor, malformed media → NULL row (the
    quarantine stance), map-only so it fuses with the binaryFile scan.
    Real resizers for pgm/ppm/fits are registered by sources/codecs.py
    (nearest-neighbor by pixel-center index mapping, format-preserving
    re-encode)."""
    _load_default_codecs()
    resizer = _RESIZERS.get(kind)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("resized", RESIZED_SCHEMA, True)]
    )

    def _one(raw) -> dict | None:
        if raw is None or resizer is None:
            return None
        try:
            return {
                "content": resizer(bytes(raw), width, height),
                "width": width,
                "height": height,
            }
        except Exception:  # malformed media → NULL, row survives
            return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["resized"] = [_one(raw) for raw in pdf[content_col]]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def register_frame_extractor(
    kind: str,
    count_fn: Callable[[bytes], int],
    extract_fn: Callable[[bytes, list[int]], list[list[float]]],
) -> None:
    """Register a real frame pipeline for ``kind``: ``count_fn`` reads
    just the container header (frame count, no decode); ``extract_fn``
    (raw_bytes, frame_indices) seeks straight to the requested frames and
    decodes ONLY those — the whole point of sampling before decoding.
    The deterministic fakes stand in where the container has no codecs."""
    _FRAME_EXTRACTORS[kind] = (count_fn, extract_fn)


def _fake_frame_count(raw: bytes) -> int:
    return 1 + hashlib.sha256(raw).digest()[2] % 8


def _fake_extract(raw: bytes, idxs: list[int]) -> list[list[float]]:
    """Per-frame pseudo-features: digest(content || frame_idx) — stable,
    value-testable, distinct per frame."""
    out = []
    for i in idxs:
        h = hashlib.sha256(raw + i.to_bytes(4, "big")).digest()
        out.append([b / 255.0 for b in h[:8]])
    return out


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def sample_frames(
    df: DataFrame,
    k: int = 4,
    kind: str = "video",
    content_col: str = "content",
    id_col: str = "path",
) -> DataFrame:
    """(id, frame_idx, n_frames, feature): ``k`` evenly-spaced frames
    per media document — the frame-sampling plumbing for video/audio
    training columns. Index policy: round(i·(n-1)/(k-1)) for i<k (first
    and last frame always included; all n when n <= k), chosen BEFORE
    decoding so a real extractor touches only the sampled frames.

    mapInPandas over Arrow batches (one Python worker per task, bytes
    stay on the executor); output is a narrow exploded relation — at
    100 TB the wide binary column never shuffles, only the per-frame
    features do. Null-content rows emit no frames (the ingest layer's
    quarantine owns reporting them)."""
    if k <= 0:
        raise ValueError("k must be positive")
    _load_default_codecs()
    count_frames, extract = _FRAME_EXTRACTORS.get(
        kind, (_fake_frame_count, _fake_extract)
    )
    out_schema = T.StructType(
        [df.schema[id_col]] + list(FRAME_SCHEMA.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ident, raw in zip(pdf[id_col], pdf[content_col]):
                if raw is None:
                    continue
                raw = bytes(raw)
                n = count_frames(raw)
                if n <= k:
                    idxs = list(range(n))
                else:
                    idxs = sorted({round(i * (n - 1) / (k - 1)) for i in range(k)})
                feats = extract(raw, idxs)
                for i, f in zip(idxs, feats):
                    rows.append((ident, i, n, f))
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_idx", "n_frames", "feature"]
            )

    return df.mapInPandas(run, schema=out_schema)
