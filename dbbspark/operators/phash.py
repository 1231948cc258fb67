"""Perceptual image/audio near-dup (SURVEY.md §2.11 C56; VERDICT r6
item 2 — the gap between the codec seam and the dedup layer).

Exact-md5 dedup misses an image that was RESIZED or RE-ENCODED; a
100 TB multimodal corpus needs a content fingerprint over the decoded
signal, not the container bytes. This module closes that gap with the
classic perceptual hashes, structured Spark-first:

1. **Thumbnail extraction** — the ONLY Python crossing, Arrow-batched
   `mapInPandas` over the binary column: decode via the real codecs
   (sources/codecs.py: netpbm/FITS; WAV for audio), grayscale by
   channel-mean, then a ``grid×grid`` BLOCK-MEAN downscale (area
   averaging — stable under resizes and lossless re-encodes, unlike
   nearest-neighbor sampling). Output is a tiny ``array<double>``; the
   wide binary column never leaves the scan stage.
2. **Hash assembly — pure JVM expressions** over the thumbnail array:
   dHash (horizontal-gradient sign, the industry-standard 64-bit
   fingerprint), aHash (above-mean sign), and an energy-delta hash for
   audio (sign of successive window-energy deltas — invariant under
   amplitude scaling). Whole-stage-codegen territory; no Python in the
   hash itself, so the same expression doubles as the DuckDB oracle
   (queries/multimodal.py folds the fake-thumb form into
   q_multimodal_decode).
3. **Hamming-ball blocking** — the simhash band-split device
   (operators/dedup.py): split the 64-bit hash into ``max_distance+1``
   bands; two hashes within Hamming distance d share at least one band
   EXACTLY (pigeonhole), so candidates reduce to an equi-join on
   (band, band_value) with Σ bucket² candidate cost, then an exact
   ``bit_count(a^b) <= d`` verify. Never all-pairs; at corpus scale the
   band join is one shuffle on bucket keys (AQE-splittable — constant
   images make hot buckets).

Downstream, the pairs feed the SAME machinery text dedup uses:
C12 `connected_components_adaptive` for clusters and the C50 purity
audit apply unchanged.

The reference never had media dedup (its checksum gate is exact md5,
bin/save_DBB_stagein_to_DBB.py:100-109); this is LLM-pipeline closure,
not parity.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

MIN_LONG = "(-9223372036854775807 - 1)"  # 1<<63 without signed overflow

# ---------------------------------------------------------------------------
# Thumbnail extraction (Python, Arrow-batched; the decode crossing)

GRID = 9  # 9×9 block means → 8×8 horizontal gradients → 64-bit dHash
AUDIO_WINDOWS = 65  # 65 window energies → 64 sign-of-delta bits


def _block_mean(arr: np.ndarray, grid: int) -> np.ndarray:
    """grid×grid area means of a 2-D array (row-major). Cell boundaries
    by even index partition; images smaller than the grid repeat edge
    pixels (cells never empty)."""
    h, w = arr.shape
    ys = np.linspace(0, h, grid + 1).astype(np.int64)
    xs = np.linspace(0, w, grid + 1).astype(np.int64)
    out = np.empty((grid, grid), dtype=np.float64)
    for r in range(grid):
        y0, y1 = ys[r], max(ys[r + 1], ys[r] + 1)
        if y0 >= h:
            y0, y1 = h - 1, h
        for c in range(grid):
            x0, x1 = xs[c], max(xs[c + 1], xs[c] + 1)
            if x0 >= w:
                x0, x1 = w - 1, w
            out[r, c] = arr[y0:y1, x0:x1].mean()
    return out


def _netpbm_gray(raw: bytes) -> np.ndarray:
    from ..sources.codecs import _netpbm_array

    data, w, h, channels, _maxval = _netpbm_array(raw)
    a = np.asarray(data, dtype=np.float64)
    if channels == 3:
        return a.reshape(h, w, 3).mean(axis=2)
    return a.reshape(h, w)


def _fits_gray(raw: bytes) -> np.ndarray:
    from ..sources.codecs import _BITPIX_DTYPE
    from ..sources.multimodal import fits_header_decode

    hdr = fits_header_decode(raw)
    if hdr.get("SIMPLE") != "T":
        raise ValueError("not a FITS primary HDU")
    w, h = int(hdr["NAXIS1"]), int(hdr["NAXIS2"])
    dtype = _BITPIX_DTYPE[int(hdr["BITPIX"])]
    end = raw.find(b"END     ")
    if end < 0:
        raise ValueError("no END card")
    off = ((end // 2880) + 1) * 2880
    a = np.frombuffer(raw, dtype=dtype, count=w * h, offset=off)
    return a.astype(np.float64).reshape(h, w)


def _image_thumb(gray_fn: Callable[[bytes], np.ndarray], grid: int):
    def thumb(raw: bytes) -> list[float]:
        return [float(x) for x in _block_mean(gray_fn(raw), grid).ravel()]

    return thumb


def _wav_energies(raw: bytes, windows: int = AUDIO_WINDOWS) -> list[float]:
    """RMS energy of ``windows`` contiguous equal spans covering the
    sample stream (channel-mixed) after leading/trailing silence is
    trimmed. Sign-of-delta over these is invariant under amplitude
    scaling — the audio analogue of dHash's gradient signs — and the
    trim (samples below 1% of peak at either end) makes it robust to
    the other common re-encode artifact, pad/append silence, which
    would otherwise shift every duration-relative window (VERDICT r7).
    Relative threshold, so trim and amplitude invariance compose."""
    from ..sources.codecs import _wav_layout

    off, nbytes, nch, width, _rate = _wav_layout(raw)
    dtype = "<i2" if width == 2 else "u1"
    a = np.frombuffer(raw, dtype=dtype, count=nbytes // width, offset=off)
    a = ((a.astype(np.float64) - 128.0) / 128.0) if width == 1 else a / 32768.0
    if nch > 1:
        a = a[: (a.size // nch) * nch].reshape(-1, nch).mean(axis=1)
    if a.size:
        peak = float(np.max(np.abs(a)))
        if peak > 0.0:
            live = np.flatnonzero(np.abs(a) > 0.01 * peak)
            a = a[live[0] : live[-1] + 1] if live.size else a
    if a.size == 0:
        return [0.0] * windows
    bounds = np.linspace(0, a.size, windows + 1).astype(np.int64)
    out = []
    for i in range(windows):
        seg = a[bounds[i] : max(bounds[i + 1], bounds[i] + 1)]
        out.append(float(math.sqrt(float(np.mean(seg * seg)))))
    return out


def _fake_thumb(raw: bytes, n: int = GRID * GRID) -> list[float]:
    """Deterministic stand-in thumbnail for kinds with no registered
    codec — sha256-derived byte values (0..255, exact in double), the
    same device as sources.multimodal._fake_decode. SQL-derivable, so
    the oracle fold in q_multimodal_decode hash-verifies the whole
    mapInPandas + JVM-hash path (DuckDB recomputes the bytes from its
    own sha256)."""
    buf = b""
    i = 0
    while len(buf) < n:
        suffix = b"" if i == 0 else bytes([i])
        buf += hashlib.sha256(raw + suffix).digest()
        i += 1
    return [float(b) for b in buf[:n]]


_THUMBNAILERS: dict[str, Callable[[bytes], list[float]]] = {}


def register_thumbnailer(kind: str, fn: Callable[[bytes], list[float]]) -> None:
    """Register a raw-bytes → thumbnail extractor for ``kind`` (built-ins
    cover pgm/ppm/fits/wav; unregistered kinds use the sha256 fake)."""
    _THUMBNAILERS[kind] = fn


def _load_default_thumbnailers() -> None:
    if "pgm" in _THUMBNAILERS:
        return
    register_thumbnailer("pgm", _image_thumb(_netpbm_gray, GRID))
    register_thumbnailer("ppm", _image_thumb(_netpbm_gray, GRID))
    register_thumbnailer("fits", _image_thumb(_fits_gray, GRID))
    register_thumbnailer("wav", _wav_energies)


_WARNED_FAKE_KINDS: set[str] = set()


def thumbnails(
    df: DataFrame,
    kind: str = "pgm",
    content_col: str = "content",
    on_unregistered: str | None = None,
    min_variance: float | None = None,
) -> DataFrame:
    """Attach a ``thumb`` array<double> column: 81 block means (images),
    65 window energies (wav). Arrow-batched mapInPandas, map-only —
    fuses with the binaryFile scan; drop ``content`` right after so the
    bytes never shuffle. Malformed media → thumb NULL (quarantine's
    concern, same stance as decode_media).

    ``on_unregistered`` controls the seam for kinds with no registered
    thumbnailer (VERDICT r7 — a typo'd kind must not silently yield
    signal-free fingerprints):

    - ``'fake'`` — the deterministic sha256 stand-in (the oracle fold's
      documented decode-leg contract; SQL-derivable);
    - ``'null'`` — thumb NULL, matching nothing (the refusal stance of
      the resize/frame legs);
    - ``'error'`` — raise at plan time;
    - ``None`` (default) — ``'fake'`` plus a once-per-kind warning, so
      legacy callers keep today's behavior but a typo is visible.

    ``min_variance`` is the degenerate-media policy knob (VERDICT r9
    item 1): a thumbnail whose value variance falls below it — solid
    black/white frames, test cards, silence — is NULLed, so the file
    hashes NULL and MATCHES NOTHING. Rationale: a corpus's degenerate
    stratum piles one identical hash into every band bucket, making
    all-pairs emission O(M²) in the stratum size; flat media carries no
    perceptual identity worth pairing on, and a gate accepts it
    un-indexed (the undecodable-media stance). Callers who DO want
    flat-media grouping use `hamming_groups`' representative form,
    which is linear by construction."""
    _load_default_thumbnailers()
    if on_unregistered not in (None, "fake", "null", "error"):
        raise ValueError(
            "on_unregistered must be one of 'fake'|'null'|'error' (or "
            "None for fake-with-warning)"
        )
    fn = _THUMBNAILERS.get(kind)
    if fn is None:
        if on_unregistered == "error":
            raise ValueError(
                f"thumbnails: no registered thumbnailer for kind={kind!r} "
                f"(registered: {sorted(_THUMBNAILERS)}); pass "
                "on_unregistered='fake'|'null' or register one"
            )
        if on_unregistered == "null":
            return df.withColumn(
                "thumb", F.lit(None).cast(T.ArrayType(T.DoubleType()))
            )
        if on_unregistered is None and kind not in _WARNED_FAKE_KINDS:
            import warnings

            _WARNED_FAKE_KINDS.add(kind)
            warnings.warn(
                f"thumbnails: kind={kind!r} has no registered thumbnailer"
                " — using the deterministic sha256 FAKE (content-equality"
                " fingerprints only, no perceptual signal). Pass "
                "on_unregistered='fake' to silence, 'null'/'error' to "
                "refuse.",
                stacklevel=2,
            )
        fn = _fake_thumb
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField("thumb", T.ArrayType(T.DoubleType()), True)]
    )

    def _one(raw) -> list[float] | None:
        if raw is None:
            return None
        try:
            vals = fn(bytes(raw))
        except Exception:  # malformed media → NULL, row survives
            return None
        if (
            min_variance is not None
            and vals is not None
            and float(np.var(np.asarray(vals, dtype=np.float64))) < min_variance
        ):
            return None  # degenerate (flat) media → NULL, matches nothing
        return vals

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["thumb"] = [_one(raw) for raw in pdf[content_col]]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def decode_and_thumbnails(
    df: DataFrame,
    kind: str = "image",
    thumb_kind: str | None = None,
    content_col: str = "content",
    on_unregistered: str | None = None,
    min_variance: float | None = None,
) -> DataFrame:
    """`decode_media` + `thumbnails` in ONE Arrow crossing (r14, guide
    §4): the composed pair ships the payload across the Python boundary
    four times (in+out per mapInPandas pass) and re-serializes the
    decoded struct through the second pass untouched. Here the bytes
    cross ONCE and ``content_col`` is dropped inside the worker, so only
    the narrow features (``decoded`` struct + ``thumb`` array) return to
    the JVM. Interleaved A/B on the q_multimodal_decode front at sf0.1:
    1.97 → 0.78 s best-of-5 (plans/r14/probe_multimodal_fused.py), 0/5000
    value mismatches vs the composed pair.

    Per-row semantics are EXACTLY the composed operators' (pinned in
    tests/test_phash.py): NULL content → decoded/thumb NULL; a decoder
    or thumbnailer raising → that column NULL, row survives;
    ``min_variance`` NULLs degenerate thumbs; ``on_unregistered``
    follows `thumbnails` ('fake'/'null'/'error'/None-warn).
    ``thumb_kind`` defaults to ``kind``. Output: ``df``'s columns minus
    ``content_col``, then ``decoded``, then ``thumb`` — the composed
    pipeline's columns after the caller's usual ``drop(content)``."""
    from ..sources.multimodal import (
        DECODE_SCHEMA,
        _DECODERS,
        _fake_decode,
        _load_default_codecs,
    )

    _load_default_codecs()
    _load_default_thumbnailers()
    if on_unregistered not in (None, "fake", "null", "error"):
        raise ValueError(
            "on_unregistered must be one of 'fake'|'null'|'error' (or "
            "None for fake-with-warning)"
        )
    tkind = kind if thumb_kind is None else thumb_kind
    decoder = _DECODERS.get(kind, _fake_decode)
    tfn = _THUMBNAILERS.get(tkind)
    thumb_disabled = False
    if tfn is None:
        if on_unregistered == "error":
            raise ValueError(
                f"decode_and_thumbnails: no registered thumbnailer for "
                f"kind={tkind!r} (registered: {sorted(_THUMBNAILERS)}); "
                "pass on_unregistered='fake'|'null' or register one"
            )
        if on_unregistered == "null":
            thumb_disabled = True
        else:
            if on_unregistered is None and tkind not in _WARNED_FAKE_KINDS:
                import warnings

                _WARNED_FAKE_KINDS.add(tkind)
                warnings.warn(
                    f"decode_and_thumbnails: kind={tkind!r} has no "
                    "registered thumbnailer — using the deterministic "
                    "sha256 FAKE (content-equality fingerprints only). "
                    "Pass on_unregistered='fake' to silence, "
                    "'null'/'error' to refuse.",
                    stacklevel=2,
                )
            tfn = _fake_thumb

    keep = [f for f in df.schema.fields if f.name != content_col]
    out_schema = T.StructType(
        keep
        + [
            T.StructField("decoded", DECODE_SCHEMA, True),
            T.StructField("thumb", T.ArrayType(T.DoubleType()), True),
        ]
    )
    keep_names = [f.name for f in keep]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dec: list[dict | None] = []
            th: list[list[float] | None] = []
            for raw in pdf[content_col]:
                if raw is None:
                    dec.append(None)
                    th.append(None)
                    continue
                b = bytes(raw)
                try:
                    dec.append(decoder(b))
                except Exception:  # malformed media → NULL, row survives
                    dec.append(None)
                if thumb_disabled:
                    th.append(None)
                    continue
                try:
                    vals = tfn(b)
                except Exception:
                    vals = None
                if (
                    min_variance is not None
                    and vals is not None
                    and float(np.var(np.asarray(vals, dtype=np.float64)))
                    < min_variance
                ):
                    vals = None  # degenerate (flat) media → matches nothing
                th.append(vals)
            out = pdf[keep_names].copy()
            out["decoded"] = dec
            out["thumb"] = th
            yield out

    return df.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Hash assembly (pure JVM expressions; no Python, no shuffle)

def _bit_term(cond_sql: str, b: int) -> str:
    if b == 63:
        return f"(CASE WHEN {cond_sql} THEN {MIN_LONG} ELSE 0L END)"
    return f"(CASE WHEN {cond_sql} THEN shiftleft(1L, {b}) ELSE 0L END)"


def _assemble(thumb_col: str, terms: list[str]) -> Column:
    """Sum the bit terms into a BIGINT hash, NULL for a NULL thumbnail
    (undecodable media must match NOTHING — without the guard every
    broken file hashes to 0 and they all pair with each other)."""
    return F.expr(
        f"CASE WHEN {thumb_col} IS NULL THEN NULL "
        f"ELSE ({' + '.join(terms)}) END"
    ).cast("bigint")


def dhash_col(thumb_col: str = "thumb", grid: int = GRID) -> Column:
    """64-bit dHash from a grid×grid thumbnail: bit r*(g-1)+c is the
    sign of the horizontal gradient thumb[r][c] > thumb[r][c+1], over
    the first (g-1) rows × (g-1) gradients — with the default 9×9 grid
    exactly 8×8 = 64 bits. One codegen'd projection."""
    if grid < 2 or (grid - 1) ** 2 > 64:
        # shiftleft(1L, b) wraps mod 64 in the JVM for b > 63, silently
        # folding distinct gradients onto the same bits (ADVICE r7)
        raise ValueError(
            f"dhash_col: grid={grid} needs (grid-1)^2 <= 64 bits "
            "(a 64-bit hash holds at most a 9x9 thumbnail's gradients)"
        )
    terms = []
    for r in range(grid - 1):
        for c in range(grid - 1):
            b = r * (grid - 1) + c
            i, j = r * grid + c + 1, r * grid + c + 2  # element_at is 1-based
            terms.append(
                _bit_term(
                    f"element_at({thumb_col}, {i}) > element_at({thumb_col}, {j})",
                    b,
                )
            )
    return _assemble(thumb_col, terms)


def ahash_col(thumb_col: str = "thumb", grid: int = GRID) -> Column:
    """64-bit aHash: bit per cell of the top-left 8×8 subgrid, set when
    the cell exceeds the subgrid mean (strict — ties clear)."""
    if grid < 8:
        raise ValueError(
            f"ahash_col: grid={grid} < 8 — the top-left 8x8 subgrid "
            "would index past the thumbnail"
        )
    cells = [
        f"element_at({thumb_col}, {r * grid + c + 1})"
        for r in range(8)
        for c in range(8)
    ]
    mean = "((" + " + ".join(cells) + ") / 64.0)"
    terms = [_bit_term(f"{cell} > {mean}", b) for b, cell in enumerate(cells)]
    return _assemble(thumb_col, terms)


def audio_hash_col(
    energies_col: str = "thumb", windows: int = AUDIO_WINDOWS
) -> Column:
    """64-bit energy-delta hash from ``windows`` energies: bit i is the
    sign of e[i+1] > e[i] — amplitude-scale invariant."""
    terms = [
        _bit_term(
            f"element_at({energies_col}, {i + 2}) > element_at({energies_col}, {i + 1})",
            i,
        )
        for i in range(windows - 1)
    ]
    return _assemble(energies_col, terms)


def thumb_variance_col(thumb_col: str = "thumb") -> Column:
    """Population variance of the thumbnail values — the degenerate-media
    detector (VERDICT r9 item 1): a solid/black/fade frame or a silent
    audio span has near-zero block-mean variance, while any real scene
    structure clears single-digit thresholds on the 0-255 scale. Pure
    JVM (higher-order aggregate over the array), NULL for NULL thumbs —
    one projection, codegen territory, no Python."""
    s1 = f"aggregate({thumb_col}, 0D, (a, x) -> a + x)"
    s2 = f"aggregate({thumb_col}, 0D, (a, x) -> a + x * x)"
    n = f"cast(size({thumb_col}) as double)"
    return F.expr(
        f"CASE WHEN {thumb_col} IS NULL THEN NULL "
        f"ELSE {s2} / {n} - pow({s1} / {n}, 2) END"
    )


def _fill_band_telemetry(
    banded: DataFrame, telemetry: dict, corpus_banded: DataFrame | None = None
) -> None:
    """Aggregate the banded relation's bucket histogram into ``telemetry``
    (the no-silent-caps stance jaccard's max_df cap takes for drops,
    VERDICT r9 item 6): a degenerate-stratum blow-up should be a visible
    number BEFORE it is a hung job. ``sum_bucket_sq`` bounds the
    self-join candidate volume (Σ n·(n−1)/2 ≤ Σ n²); with
    ``corpus_banded`` the candidate volume is the cross form
    Σ new·corpus over shared buckets. One eager aggregate, only when the
    caller opts in."""
    counts = banded.groupBy("band", "val").agg(F.count("*").alias("_n"))
    if corpus_banded is None:
        row = counts.agg(
            F.count("*").alias("n_buckets"),
            F.coalesce(F.max("_n"), F.lit(0)).alias("max_bucket"),
            F.coalesce(F.sum(F.col("_n") * F.col("_n")), F.lit(0)).alias(
                "sum_bucket_sq"
            ),
        ).first()
        telemetry.update(
            n_buckets=int(row["n_buckets"]),
            max_bucket=int(row["max_bucket"]),
            sum_bucket_sq=int(row["sum_bucket_sq"]),
        )
    else:
        corp = corpus_banded.groupBy("band", "val").agg(
            F.count("*").alias("_c")
        )
        row = (
            counts.join(corp, ["band", "val"])
            .agg(
                F.count("*").alias("n_buckets"),
                F.coalesce(
                    F.max(F.col("_n") * F.col("_c")), F.lit(0)
                ).alias("max_bucket"),
                F.coalesce(
                    F.sum(F.col("_n") * F.col("_c")), F.lit(0)
                ).alias("sum_bucket_sq"),
            )
            .first()
        )
        telemetry.update(
            n_buckets=int(row["n_buckets"]),
            max_bucket=int(row["max_bucket"]),
            sum_bucket_sq=int(row["sum_bucket_sq"]),
        )
    import logging

    logging.getLogger(__name__).info(
        "hamming banding telemetry: %s", telemetry
    )


def dhash_oracle_sql(thumb_sql: Callable[[int], str], grid: int = GRID) -> str:
    """The DuckDB form of `dhash_col` for oracle folds: ``thumb_sql(i)``
    renders the SQL for 0-based thumbnail element i (e.g. the sha256
    reconstruction of `_fake_thumb`). Bit 63 avoids DuckDB's checked
    1<<63 overflow via the min-long literal, matching the Spark side."""
    terms = []
    for r in range(grid - 1):
        for c in range(grid - 1):
            b = r * (grid - 1) + c
            cond = f"{thumb_sql(r * grid + c)} > {thumb_sql(r * grid + c + 1)}"
            val = MIN_LONG if b == 63 else f"(1::BIGINT << {b})"
            terms.append(f"(CASE WHEN {cond} THEN {val} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def fake_thumb_sql(content_sql: str, i: int) -> str:
    """DuckDB reconstruction of `_fake_thumb` element ``i``: byte i of
    sha256(content) ++ sha256(content||chr(1)) ++ sha256(content||chr(2))
    as an integer (hex pair 2i+1..2i+2 of the concatenated digests)."""
    block, off = divmod(i, 32)
    src = content_sql if block == 0 else f"({content_sql} || chr({block}))"
    return f"CAST(('0x' || substr(sha256({src}), {2 * off + 1}, 2)) AS INT)"


# ---------------------------------------------------------------------------
# Hamming-ball blocking (band split → equi-join → exact verify)

def _band_cols(hash_col: str, bands: int) -> list[Column]:
    """Split a 64-bit hash into ``bands`` contiguous bit ranges (the
    last band takes the remainder). Logical shifts — the sign bit is
    data here."""
    width = 64 // bands
    out = []
    for b in range(bands):
        lo = b * width
        w = (64 - lo) if b == bands - 1 else width
        shifted = F.shiftrightunsigned(F.col(hash_col), lo)
        if w >= 64:
            # bands=1 (the d=0 exact-match case): the band IS the hash —
            # a (1<<64)-1 mask would overflow the long literal
            val = shifted
        else:
            val = shifted.bitwiseAND(F.lit((1 << w) - 1))
        out.append(
            F.struct(F.lit(b).alias("band"), val.alias("val"))
        )
    return out


def _first_clean_band(xor: Column, bands: int) -> Column:
    """Index of the FIRST band (ascending) whose bit range of ``xor`` is
    all-zero. On a band-join candidate row some band is clean by
    construction, so the nested CASE's fallback (the last band) is only
    reached when it is itself the first clean one."""
    width = 64 // bands
    expr: Column = F.lit(bands - 1)
    for b in range(bands - 2, -1, -1):
        clean = (
            F.shiftrightunsigned(xor, b * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            == 0
        )
        expr = F.when(clean, F.lit(b)).otherwise(expr)
    return expr


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int = 6,
    bands: int | None = None,
    telemetry: dict | None = None,
) -> DataFrame:
    """(id_a, id_b, distance): all pairs within Hamming distance
    ``max_distance`` of each other's 64-bit perceptual hash, id_a <
    id_b, NULL hashes matching nothing.

    EXACT under the default ``bands = max_distance + 1``: d differing
    bits can dirty at most d bands, so with bands >= d+1 some band of
    the pair is identical (pigeonhole) and the (band, value) equi-join
    surfaces it; the ``bit_count(xor) <= d`` verifier then prunes to
    the true ball. More bands stay exact but get narrower — less
    selective buckets, more candidates — so d+1 is the sweet spot;
    fewer than d+1 bands can dirty EVERY band and silently lose true
    pairs, and is refused.

    Scale shape (same as simhash/minhash banding): candidates cost
    Σ bucket² over (band, value) buckets, never |corpus|². Constant or
    near-constant media (solid frames) pile into hot buckets — the
    groupBy is partial-aggregated and the verify join is
    AQE-skew-splittable, the lines.py device.

    Each pair is emitted EXACTLY ONCE without a distinct pass (VERDICT
    r7): a pair sharing k clean bands would surface from all k joins,
    so the verify keeps only the row whose join band is the FIRST clean
    band of the pair — computable from the two hashes already on the
    row, deleting the pair-relation exchange the old ``.distinct()``
    paid (its cost grew with pair count × band multiplicity; identical
    hashes share ALL d+1 bands)."""
    if bands is None:
        bands = max_distance + 1
    if bands < max_distance + 1:
        raise ValueError(
            f"bands={bands} < max_distance+1={max_distance + 1} would miss "
            "true pairs (pigeonhole needs one clean band)"
        )
    if bands > 64:
        raise ValueError("bands > 64: a 64-bit hash has at most 64 bands")
    hashes = df.select(
        F.col(id_col).alias("_pid"), F.col(hash_col).alias("_ph")
    ).where(F.col(hash_col).isNotNull())
    banded = hashes.select(
        "_pid", "_ph", F.explode(F.array(*_band_cols("_ph", bands))).alias("bv")
    ).select("_pid", "_ph", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    if telemetry is not None:
        # opt-in bucket histogram (Σ bucket², max bucket) — an eager
        # aggregate that re-evaluates the hash projection once; pass a
        # lineage-cut relation if that matters
        _fill_band_telemetry(banded.select("band", "val"), telemetry)
    a = banded.alias("a")
    b = banded.alias("b")
    xor = F.col("a._ph").bitwiseXOR(F.col("b._ph"))
    dist = F.bit_count(xor)
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a._pid") < F.col("b._pid")),
    ).where(dist <= max_distance)
    if bands > 1:  # canonical emission: only the first clean band's row
        joined = joined.where(F.col("a.band") == _first_clean_band(xor, bands))
    return joined.select(
        F.col("a._pid").alias("id_a"),
        F.col("b._pid").alias("id_b"),
        dist.alias("distance"),
    )


def hamming_pairs_brute(
    df: DataFrame, id_col: str, hash_col: str, max_distance: int = 6
) -> DataFrame:
    """All-pairs reference implementation (tests pin blocked ≡ brute on
    small corpora; never the scale path)."""
    hashes = df.select(
        F.col(id_col).alias("_pid"), F.col(hash_col).alias("_ph")
    ).where(F.col(hash_col).isNotNull())
    a, b = hashes.alias("a"), hashes.alias("b")
    dist = F.bit_count(F.col("a._ph").bitwiseXOR(F.col("b._ph")))
    return (
        a.join(b, F.col("a._pid") < F.col("b._pid"))
        .where(dist <= max_distance)
        .select(
            F.col("a._pid").alias("id_a"),
            F.col("b._pid").alias("id_b"),
            dist.alias("distance"),
        )
    )


def banded_hash_index(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int = 6,
    bands: int | None = None,
) -> DataFrame:
    """The persistable BANDED form of a hash index — one (id, hash,
    band, val) row per band of each non-null hash. THE scale lever for
    the incremental gates (the bucketed-registry device, C9): write it
    once with ``bucketing.write_bucketed(out, table, ["band", "val"])``
    and pass ``spark.table(table)`` to `hamming_incremental_pairs` with
    ``corpus_banded=True`` — the per-trigger band join then reads the
    corpus ALREADY CO-LOCATED on its join keys, so only the (small)
    batch side shuffles, never the billions-of-rows corpus (plan-pinned
    in tests: one Exchange, bucketed scan). Storage is bands× the flat
    index (still ~tens of bytes/file); band geometry is fixed at write
    time — rebucket when max_distance policy changes."""
    if bands is None:
        bands = max_distance + 1
    if bands < max_distance + 1:
        raise ValueError(
            f"bands={bands} < max_distance+1={max_distance + 1} would miss "
            "true pairs (pigeonhole needs one clean band)"
        )
    if bands > 64:
        raise ValueError("bands > 64: a 64-bit hash has at most 64 bands")
    return (
        df.where(F.col(hash_col).isNotNull())
        .select(
            id_col,
            hash_col,
            F.explode(F.array(*_band_cols(hash_col, bands))).alias("bv"),
        )
        .select(
            id_col,
            hash_col,
            F.col("bv.band").alias("band"),
            F.col("bv.val").alias("val"),
        )
    )


def hamming_incremental_pairs(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int = 6,
    bands: int | None = None,
    telemetry: dict | None = None,
    corpus_banded: bool = False,
) -> DataFrame:
    """(id_a, id_b, distance, against): Hamming-ball pairs of NEW rows
    against a persisted corpus hash index plus within the batch itself —
    never corpus×corpus. The rolling-crawl shape for perceptual media,
    exactly `lsh_incremental_pairs`' contract for text: ``against`` ∈
    {'corpus', 'new'}; id_a is always the new-batch id; for 'new' pairs
    id_a < id_b. EXACT under the same d+1-band pigeonhole as
    `hamming_pairs` (verify ``bit_count(xor) <= d`` prunes to the true
    ball), and each pair is emitted exactly once via the same
    first-clean-band canonical emission — no distinct pass on either
    leg.

    Scale: the band join touches only buckets a NEW hash lands in —
    cost scales with |new| + collided corpus postings, never |corpus|².
    At billions of accepted media, persist the index in the BANDED form
    (`banded_hash_index` written via `bucketing.write_bucketed` on
    ["band", "val"]) and pass it with ``corpus_banded=True`` — the
    corpus is then read already co-located on the join keys and only
    the batch side shuffles (plan-pinned). A banded corpus must carry
    (id_col, hash_col, band, val) with the SAME band geometry as this
    call; mismatched geometry is refused when detectable (band ids out
    of range), and identical decisions vs the un-banded path are
    pinned in tests.

    There is no Bloom pre-filter on the new side (the text gates have
    one): with d+1 bands each band key holds ~13 bits, so a filter over
    the corpus's bucket keys saturates after a few thousand hashes and
    proves nothing absent (BASELINE.md r10)."""
    if bands is None:
        bands = max_distance + 1
    if bands < max_distance + 1:
        raise ValueError(
            f"bands={bands} < max_distance+1={max_distance + 1} would miss "
            "true pairs (pigeonhole needs one clean band)"
        )
    if bands > 64:
        raise ValueError("bands > 64: a 64-bit hash has at most 64 bands")

    def banded(df: DataFrame) -> DataFrame:
        hashes = df.select(
            F.col(id_col).alias("_pid"), F.col(hash_col).alias("_ph")
        ).where(F.col(hash_col).isNotNull())
        return hashes.select(
            "_pid",
            "_ph",
            F.explode(F.array(*_band_cols("_ph", bands))).alias("bv"),
        ).select(
            "_pid", "_ph",
            F.col("bv.band").alias("band"), F.col("bv.val").alias("val"),
        )

    new_b = banded(new)
    if corpus_banded:
        missing = {id_col, hash_col, "band", "val"} - set(corpus.columns)
        if missing:
            raise ValueError(
                f"corpus_banded=True needs columns {sorted(missing)} "
                "(build with banded_hash_index)"
            )
        corpus_b = corpus.select(
            F.col(id_col).alias("_pid"),
            F.col(hash_col).alias("_ph"),
            "band",
            "val",
        )
    else:
        corpus_b = banded(corpus)
    if telemetry is not None:
        # cross-form candidate volume: Σ new·corpus over shared buckets
        _fill_band_telemetry(
            new_b.select("band", "val"),
            telemetry,
            corpus_banded=corpus_b.select("band", "val"),
        )
    a, b = new_b.alias("a"), corpus_b.alias("b")
    xor = F.col("a._ph").bitwiseXOR(F.col("b._ph"))
    dist = F.bit_count(xor)
    vs_corpus = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val")),
        )
        .where(dist <= max_distance)
        .where(
            F.lit(bands == 1) | (F.col("a.band") == _first_clean_band(xor, bands))
        )
        .select(
            F.col("a._pid").alias("id_a"),
            F.col("b._pid").alias("id_b"),
            dist.alias("distance"),
            F.lit("corpus").alias("against"),
        )
    )
    vs_new = hamming_pairs(new, id_col, hash_col, max_distance, bands).withColumn(
        "against", F.lit("new")
    )
    return vs_corpus.unionByName(vs_new)


def hamming_groups(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int = 6,
    bands: int | None = None,
) -> DataFrame:
    """(id, group): near-dup GROUPS under Hamming distance — the shape a
    100 TB dedup actually needs. `hamming_pairs`' all-pairs contract is
    inherently quadratic inside an identical-hash bucket (a million
    copies of the same solid frame = 5·10¹¹ pairs that all say the same
    thing); grouping only ever needs a spanning structure, so this runs
    the banding over DISTINCT hashes (one representative per value — the
    min id), takes connected components of the representative pair
    graph, and broadcasts the group labels back to every row by hash —
    identical-hash members join their representative's group without a
    single intra-bucket pair materializing. Row ids must be non-null and
    unique; NULL hashes get no group row (undecodable media is
    quarantine's concern, same stance as `hamming_pairs`).

    Semantics: identical to connected components over the full
    `hamming_pairs` graph (pinned in tests) — within an identical-hash
    bucket every member is distance 0 from the representative, and
    cross-bucket edges survive because representative hashes are the
    bucket hashes. Note the usual CC caveat: components chain, so two
    members of one group can exceed ``max_distance`` from each other
    (use `audit.cluster_purity` to verify before deleting,
    exactly as for text LSH clusters)."""
    hashes, reps, pairs = _rep_graph(df, id_col, hash_col, max_distance, bands)
    from .dedup import connected_components_adaptive

    comps = connected_components_adaptive(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    rep_groups = reps.join(
        comps, reps._rep == comps.node, "left"
    ).select(
        "_ph", F.coalesce("component", "_rep").alias("group")
    )
    # the label join-back is hub-keyed BY DESIGN (an identical-hash
    # bucket sends every member to one hash key) — safe because it is a
    # JOIN with a 1-row build side per key, the AQE-skew-splittable
    # shape (operators/lines.py device), never a window or groupBy on
    # the hub key
    return hashes.join(rep_groups, "_ph").select(
        F.col("_mid").alias(id_col), "group"
    )


def _rep_graph(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int,
    bands: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared representative-graph core for `hamming_groups` /
    `hamming_ball_stats`: (hashes, reps, pairs) where ``hashes`` is the
    non-null (_mid, _ph) projection, ``reps`` one row per DISTINCT hash
    (_ph, _rep=min id, _cnt=bucket size), and ``pairs`` the banding
    pair graph over the representatives. ``reps`` is lineage-pinned:
    it feeds both the pair graph (materialized eagerly inside CC) and
    the per-row join-back, so the distinct-hash groupBy and the
    upstream hash evaluation run once, not once per consumer. Bounded
    by the corpus's distinct hashes, the same size class CC
    checkpoints."""
    from ..session import cut_lineage

    hashes = df.select(
        F.col(id_col).alias("_mid"), F.col(hash_col).alias("_ph")
    ).where(F.col(hash_col).isNotNull())
    reps = cut_lineage(
        hashes.groupBy("_ph").agg(
            F.min("_mid").alias("_rep"), F.count("*").alias("_cnt")
        )
    )
    pairs = hamming_pairs(
        reps.select(F.col("_rep").alias("id"), F.col("_ph").alias("h")),
        "id",
        "h",
        max_distance=max_distance,
        bands=bands,
    )
    return hashes, reps, pairs


# Driver bound of `hamming_ball_stats`, in distinct-hash reps: at or
# under it the rep graph is banded and labelled on the driver.
DRIVER_REP_THRESHOLD = 2_000_000


def hamming_ball_stats(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_distance: int = 6,
    bands: int | None = None,
    by_hash: bool = False,
) -> DataFrame:
    """(id, group, n_near, n_group): near-dup group label, Hamming-ball
    neighbor count, and group size per row — from ONE banding over
    DISTINCT hashes. The naive n_near (explode `hamming_pairs` over all
    rows, count per id) is quadratic inside an identical-hash bucket —
    a million copies of one solid frame materialize 5·10¹¹ pairs that
    each add 1 to a counter. Bucket counts make that sum closed-form:

        n_near(i) = (cnt(h_i) - 1)                      # same-hash rows
                  + Σ cnt(B) over buckets B ≠ h_i with dist(h_i, B) ≤ d

    so only representative pairs (distinct-hash ball edges) ever
    materialize, and every member of a bucket inherits its
    representative's stats through the same hub-safe hash join
    `hamming_groups` uses for labels. ``group`` matches
    `hamming_groups` exactly (same rep graph, same CC); ``n_group``
    counts members (Σ bucket sizes over the component). NULL hashes get
    no row, same stance as `hamming_pairs`. All reduce steps run on
    rep-sized relations (distinct hashes), never on the row corpus.

    Size-adaptive through `session.collect_if_small`: when the
    distinct-hash reps fit ``DRIVER_REP_THRESHOLD`` (with a hot-bucket
    guard on the candidate volume), one O(R·bands + E α)
    dict-banding + union-find + weight pass over the collected reps
    replaces the distributed banding join, CC, and three rep-level
    joins — at small scale those are pure scheduler floor (~15 extra
    jobs), measured 3.3 s → ~2.2 s on the sf0.1 bench query. Past the
    bound (or on a pathological band distribution) the distributed
    plan runs unchanged, so the 100 TB shape is exactly the rep-graph
    algebra above; both regimes are pinned equivalent (and ≡ brute
    force) in tests.

    ``by_hash=True`` (r14): return the per-DISTINCT-hash stats relation
    (``hash_col``, group, n_near, n_group) instead of joining it back
    onto every input row. A row's stats are a function of its hash
    alone, so a caller that already holds the hash column joins this
    relation directly — one hub-safe hash join in ITS plan — instead
    of paying this operator's row-level join-back and then re-joining
    on id (q_multimodal_decode's shape: the id-keyed form re-derived
    the 3-leg hash union inside the final join). Join-by-hash ≡ the
    id-keyed output composed through the (id, hash) projection, NULL
    hashes absent from both; pinned in tests/test_phash.py."""
    hashes, reps, pairs = _rep_graph(df, id_col, hash_col, max_distance, bands)
    from ..session import collect_if_small, cut_lineage

    # the probe both materializes the lineage-cut reps AND ships them
    # when they fit — one job in the common case
    pdf = collect_if_small(reps, DRIVER_REP_THRESHOLD)
    if pdf is not None:
        rep_rows = [
            {"_ph": a, "_rep": b, "_cnt": c}
            for a, b, c in zip(
                pdf["_ph"].tolist(), pdf["_rep"].tolist(), pdf["_cnt"].tolist()
            )
        ]
        res = _ball_stats_driver(
            hashes, reps, rep_rows, max_distance, bands, id_col,
            hash_col if by_hash else None,
        )
        if res is not None:
            return res
    # pairs feeds CC AND the weight computation — pin so the banding
    # runs once (CC's own eager cut then materializes from this pin)
    return _ball_stats_distributed(
        hashes, reps, cut_lineage(pairs), id_col,
        hash_col if by_hash else None,
    )


def _driver_ball_pairs(hs, max_distance: int, bands: int | None):
    """Distinct-hash ball pairs on the driver: the same d+1-band
    pigeonhole `hamming_pairs` proves (d dirty bits dirty ≤ d bands →
    some band is identical), as a dict of (band, value) buckets over
    64-bit ints. Returns None when a hot bucket / candidate blow-up
    says the distributed banding should handle it instead. Output pins
    ≡ `hamming_pairs` in tests."""
    if bands is None:
        bands = max_distance + 1
    if bands < max_distance + 1 or bands > 64:
        raise ValueError(f"bands={bands} invalid for max_distance={max_distance}")
    base, extra = divmod(64, bands)
    cuts = []
    lo = 0
    for i in range(bands):
        w = base + (1 if i < extra else 0)
        cuts.append((lo, (1 << w) - 1))
        lo += w
    buckets: dict = {}
    for h in hs:
        for k, (shift, mask) in enumerate(cuts):
            buckets.setdefault((k, (h >> shift) & mask), []).append(h)
    # Σ bucket² candidate budget — a pathological band distribution
    # (many similar hashes) is the distributed plan's job
    if sum(len(v) * (len(v) - 1) // 2 for v in buckets.values() if len(v) > 1) > 20_000_000:
        return None
    pairs = set()
    for vs in buckets.values():
        for i in range(len(vs) - 1):
            a = vs[i]
            for b in vs[i + 1 :]:
                # mask to unsigned 64-bit BEFORE bit_count: hashes are
                # signed longs and Python's bit_count is |x|'s popcount,
                # not two's-complement — a mixed-sign xor would diverge
                # from the JVM's Long.bitCount
                if ((a ^ b) & 0xFFFFFFFFFFFFFFFF).bit_count() <= max_distance:
                    pairs.add((a, b) if a < b else (b, a))
    return pairs


def _ball_stats_driver(
    hashes, reps, rep_rows, max_distance, bands, id_col, by_hash_col=None
):
    """Driver regime of `hamming_ball_stats`: dict banding over the
    collected distinct hashes, then union-find (min-id root, path
    compression — the `connected_components_adaptive` contract) plus
    weight/size accumulation in one pass, shipped back as one
    broadcastable local relation keyed by hash. Returns None when the
    candidate volume guard trips (caller falls back to the distributed
    regime)."""
    from pyspark.sql import types as T

    rep_of = {r["_ph"]: r["_rep"] for r in rep_rows}
    cnt = {r["_rep"]: r["_cnt"] for r in rep_rows}
    hash_pairs = _driver_ball_pairs(list(rep_of), max_distance, bands)
    if hash_pairs is None:
        return None
    parent = {r: r for r in cnt}
    weight = dict.fromkeys(parent, 0)

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for ha, hb in hash_pairs:
        a, b = rep_of[ha], rep_of[hb]
        weight[a] += cnt[b]
        weight[b] += cnt[a]
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    gsize: dict = {}
    for rep in parent:
        root = find(rep)
        gsize[root] = gsize.get(root, 0) + cnt[rep]
    out = [
        (r["_ph"], find(r["_rep"]), weight[r["_rep"]] + cnt[r["_rep"]] - 1,
         gsize[find(r["_rep"])])
        for r in rep_rows
    ]
    schema = T.StructType([
        T.StructField("_ph", reps.schema["_ph"].dataType),
        T.StructField("group", reps.schema["_rep"].dataType),
        T.StructField("n_near", T.LongType()),
        T.StructField("n_group", T.LongType()),
    ])
    labeled = hashes.sparkSession.createDataFrame(out, schema)
    if by_hash_col is not None:
        return labeled.select(
            F.col("_ph").alias(by_hash_col), "group", "n_near", "n_group"
        )
    return hashes.join(labeled, "_ph").select(
        F.col("_mid").alias(id_col), "group", "n_near", "n_group"
    )


def _ball_stats_distributed(hashes, reps, pairs, id_col, by_hash_col=None):
    """Distributed regime of `hamming_ball_stats` — rep-level joins and
    aggregations only; the plan at 100 TB."""
    from ..session import cut_lineage
    from .dedup import connected_components_adaptive

    comps = connected_components_adaptive(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    by_rep = reps.select("_rep", "_ph", "_cnt")
    pr = (
        pairs.select("id_a", "id_b")
        .join(
            by_rep.select(
                F.col("_rep").alias("id_a"),
                F.col("_ph").alias("ph_a"),
                F.col("_cnt").alias("cnt_a"),
            ),
            "id_a",
        )
        .join(
            by_rep.select(
                F.col("_rep").alias("id_b"),
                F.col("_ph").alias("ph_b"),
                F.col("_cnt").alias("cnt_b"),
            ),
            "id_b",
        )
    )
    # each ball edge contributes the OTHER bucket's member count to
    # both endpoint hashes; rep-sized aggregation, never corpus-sized
    contrib = (
        pr.select(F.col("ph_a").alias("_ph"), F.col("cnt_b").alias("w"))
        .unionByName(
            pr.select(F.col("ph_b").alias("_ph"), F.col("cnt_a").alias("w"))
        )
        .groupBy("_ph")
        .agg(F.sum("w").alias("_w"))
    )
    rep_stats = (
        reps.join(comps, reps._rep == comps.node, "left")
        .join(contrib, "_ph", "left")
        .select(
            "_ph",
            "_cnt",
            F.coalesce("component", "_rep").alias("group"),
            (
                F.coalesce(F.col("_w"), F.lit(0)) + F.col("_cnt") - 1
            ).cast("long").alias("n_near"),
        )
    )
    # group size by groupBy + join on the rep-sized frame (not a window:
    # a mega-component would make the window key a hub; the join is the
    # AQE-splittable shape). rep_stats is rep-sized — pin it so the
    # sizes aggregation and the join-back share one evaluation.
    rep_stats = cut_lineage(rep_stats)
    sizes = rep_stats.groupBy("group").agg(F.sum("_cnt").alias("n_group"))
    labeled = rep_stats.join(sizes, "group").select(
        "_ph", "group", "n_near", F.col("n_group").cast("long").alias("n_group")
    )
    if by_hash_col is not None:
        return labeled.select(
            F.col("_ph").alias(by_hash_col), "group", "n_near", "n_group"
        )
    return hashes.join(labeled, "_ph").select(
        F.col("_mid").alias(id_col), "group", "n_near", "n_group"
    )


def phash_near_dup(
    df: DataFrame,
    kind: str = "pgm",
    id_col: str = "path",
    content_col: str = "content",
    max_distance: int = 6,
    hash_kind: str = "dhash",
) -> DataFrame:
    """End-to-end perceptual near-dup: decode → thumbnail → 64-bit hash
    (dhash/ahash for images, energy-delta for wav) → Hamming-ball pairs.
    Feed the result to `connected_components_adaptive` for clusters and
    `audit.cluster_purity` for purity — the text-dedup machinery applies
    unchanged."""
    hash_fn = {
        "dhash": dhash_col,
        "ahash": ahash_col,
        "audio": audio_hash_col,
    }[hash_kind]
    hashed = thumbnails(df, kind=kind, content_col=content_col).select(
        id_col, hash_fn("thumb").alias("phash")
    )
    return hamming_pairs(hashed, id_col, "phash", max_distance=max_distance)
