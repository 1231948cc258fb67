"""Real media codecs for the multimodal seam (SURVEY.md §2.11 C5) —
pure Python + numpy, no external media libraries.

`sources.multimodal` defines the pluggable decode seam
(`register_decoder` / `register_frame_extractor`, mirroring the
reference's per-filetype plugin dispatch at
bin/save_DBB_stagein_to_DBB.py:160). This module supplies genuine
decoders for three real public formats whose specifications need no
codec library:

- **netpbm (PGM/PPM, P2/P3/P5/P6)** — the classic uncompressed image
  interchange format: ASCII header (magic, width, height, maxval),
  then raster samples (ASCII or binary).
- **FITS primary-HDU images** — the astronomy standard the reference's
  own files use (FITS Standard 4.0): 2880-byte header blocks of
  80-char cards, then a big-endian data unit shaped by
  BITPIX/NAXIS1/NAXIS2, scaled by BSCALE/BZERO.
- **WAV (RIFF PCM)** — chunked container: `fmt ` chunk fixes the
  sample layout, `data` chunk holds interleaved PCM samples. The frame
  extractor decodes ONLY the byte ranges of the sampled windows —
  the whole point of choosing frame indices before decoding.

All decoders return the stable shapes `decode_media` / `sample_frames`
expect (DECODE_SCHEMA / FRAME_SCHEMA): width, height, n_frames, and an
8-dim feature vector (summary statistics + a 4-bin histogram — a
deterministic, value-testable stand-in for a learned embedding).

Import this module (or call `register_default_codecs()`) to activate
the registrations; the deterministic fakes in sources/multimodal.py
remain the fallback for kinds with no real codec, which keeps the
DuckDB-oracled fixture queries (text-KV bytes under kind="image")
byte-stable.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .multimodal import (
    fits_header_decode,
    register_decoder,
    register_frame_extractor,
    register_resizer,
)


def _feature(arr: np.ndarray) -> list[float]:
    """8-dim deterministic feature: [mean, std, min, max, hist4...] over
    the flattened samples, each scaled into [0, 1] by the array's own
    range where applicable."""
    a = arr.astype(np.float64).ravel()
    if a.size == 0:
        return [0.0] * 8
    lo, hi = float(a.min()), float(a.max())
    span = (hi - lo) or 1.0
    hist, _ = np.histogram(a, bins=4, range=(lo, lo + span))
    h = hist / a.size
    return [
        float(a.mean()),
        float(a.std()),
        lo,
        hi,
        float(h[0]),
        float(h[1]),
        float(h[2]),
        float(h[3]),
    ]


# ---------------------------------------------------------------------------
# netpbm (PGM P2/P5 grayscale, PPM P3/P6 RGB)

def _netpbm_array(raw: bytes):
    """Parse a PGM/PPM image (netpbm formats P2/P3/P5/P6) to its flat
    sample array: (data, width, height, channels, maxval).

    Header tokens (magic, width, height, maxval) are whitespace-
    separated with `#` comments; binary rasters follow the single
    whitespace byte after maxval, row-major, 1 or 2 bytes per sample
    (big-endian when maxval > 255, per spec)."""
    if len(raw) < 2 or raw[0:1] != b"P" or raw[1:2] not in b"2356":
        raise ValueError("not a PGM/PPM file")
    magic = raw[:2].decode("ascii")
    channels = 3 if magic in ("P3", "P6") else 1
    binary = magic in ("P5", "P6")

    # Tokenize the header: comments run '#'..newline; stop after maxval.
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3 and i < len(raw):
        c = raw[i : i + 1]
        if c == b"#":
            i = raw.find(b"\n", i)
            if i < 0:
                raise ValueError("truncated netpbm header")
            i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(raw) and not raw[j : j + 1].isspace():
                j += 1
            tokens.append(int(raw[i:j]))
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated netpbm header")
    width, height, maxval = tokens
    if width <= 0 or height <= 0 or not 0 < maxval < 65536:
        raise ValueError("bad netpbm dimensions")
    n = width * height * channels

    if binary:
        i += 1  # exactly one whitespace byte separates maxval and raster
        dtype = ">u2" if maxval > 255 else "u1"
        data = np.frombuffer(raw, dtype=dtype, count=n, offset=i)
    else:
        data = np.array(raw[i:].split()[:n], dtype=np.int64)
    if data.size != n:
        raise ValueError("truncated netpbm raster")
    return data, width, height, channels, maxval


def decode_netpbm(raw: bytes) -> dict:
    """decode_media-shaped PGM/PPM summary (see `_netpbm_array`)."""
    data, width, height, _channels, _maxval = _netpbm_array(raw)
    return {
        "width": int(width),
        "height": int(height),
        "n_frames": 1,
        "feature": _feature(data),
    }


def encode_pgm(arr: np.ndarray, maxval: int = 255) -> bytes:
    """Write a real binary PGM (P5) file from a 2-D uint array — the
    test-side counterpart so the decode path is exercised on genuine
    format bytes (also handy for dumping debug images)."""
    h, w = arr.shape
    header = f"P5\n# dbbspark test image\n{w} {h}\n{maxval}\n".encode("ascii")
    dtype = ">u2" if maxval > 255 else "u1"
    return header + np.ascontiguousarray(arr, dtype=dtype).tobytes()


def encode_ppm(arr: np.ndarray, maxval: int = 255) -> bytes:
    """Write a real binary PPM (P6) file from an (h, w, 3) uint array."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("PPM needs 3 channels")
    header = f"P6\n{w} {h}\n{maxval}\n".encode("ascii")
    dtype = ">u2" if maxval > 255 else "u1"
    return header + np.ascontiguousarray(arr, dtype=dtype).tobytes()


# ---------------------------------------------------------------------------
# Concatenated binary netpbm — the multi-frame (video) container.
#
# The netpbm spec explicitly allows a file to hold a SEQUENCE of images
# back to back (each restarting at its magic number); for the binary
# forms (P5/P6) every frame's byte length is computable from its header
# alone, so a reader can COUNT frames and SEEK to any frame without
# decoding the others — exactly the seekable-container property
# sample-before-decode needs. This is the engine's raw-video
# interchange format (frame-accurate, no codec library).

def _pnm_walk(raw: bytes):
    """Yield (raster_offset, width, height, channels, maxval, next_pos)
    per frame of a concatenated binary netpbm stream — header parsing
    only; raster bytes are SKIPPED by computed length, never read."""
    pos = 0
    while pos < len(raw):
        if raw[pos : pos + 1] != b"P" or raw[pos + 1 : pos + 2] not in b"56":
            raise ValueError(
                f"not a binary netpbm frame header at offset {pos}"
            )
        channels = 3 if raw[pos + 1 : pos + 2] == b"6" else 1
        tokens: list[int] = []
        i = pos + 2
        while len(tokens) < 3 and i < len(raw):
            c = raw[i : i + 1]
            if c == b"#":
                i = raw.find(b"\n", i)
                if i < 0:
                    raise ValueError("truncated netpbm header")
                i += 1
            elif c.isspace():
                i += 1
            else:
                j = i
                while j < len(raw) and not raw[j : j + 1].isspace():
                    j += 1
                tokens.append(int(raw[i:j]))
                i = j
        if len(tokens) < 3:
            raise ValueError("truncated netpbm header")
        width, height, maxval = tokens
        if width <= 0 or height <= 0 or not 0 < maxval < 65536:
            raise ValueError("bad netpbm dimensions")
        i += 1  # the single whitespace byte after maxval
        nbytes = width * height * channels * (2 if maxval > 255 else 1)
        if i + nbytes > len(raw):
            raise ValueError("truncated netpbm raster")
        yield i, width, height, channels, maxval, i + nbytes
        pos = i + nbytes


def pnm_seq_frame_count(raw: bytes) -> int:
    """Frame count of a concatenated-netpbm stream — header walk only."""
    n = 0
    for _ in _pnm_walk(raw):
        n += 1
    if n == 0:
        raise ValueError("empty netpbm sequence")
    return n


def pnm_seq_extract_gray(raw: bytes, idxs: list[int]) -> list["np.ndarray"]:
    """Grayscale (h, w) float arrays for exactly the requested frame
    indices — decodes ONLY those frames' rasters (color frames by
    channel mean), seeking past the rest by computed length."""
    want = set(idxs)
    got: dict[int, np.ndarray] = {}
    for k, (off, w, h, ch, maxval, _end) in enumerate(_pnm_walk(raw)):
        if k not in want:
            continue
        dtype = ">u2" if maxval > 255 else "u1"
        a = np.frombuffer(raw, dtype=dtype, count=w * h * ch, offset=off)
        a = a.astype(np.float64)
        got[k] = a.reshape(h, w, 3).mean(axis=2) if ch == 3 else a.reshape(h, w)
    missing = want - set(got)
    if missing:
        raise ValueError(f"frame indices out of range: {sorted(missing)}")
    return [got[k] for k in idxs]


def encode_pnm_seq(frames: list["np.ndarray"], maxval: int = 255) -> bytes:
    """Concatenate frames (2-D gray → P5, (h,w,3) color → P6) into one
    multi-image netpbm stream — the test/ingest-side encoder."""
    out = []
    for f in frames:
        out.append(
            encode_ppm(f, maxval) if f.ndim == 3 else encode_pgm(f, maxval)
        )
    return b"".join(out)


def decode_pnm_seq(raw: bytes) -> dict:
    """decode_media-shaped summary of a concatenated-netpbm clip:
    dimensions of the FIRST frame, n_frames by header walk, feature
    from the first frame only — a whole-clip feature would decode every
    raster, which is exactly what sample-before-decode exists to avoid
    (per-frame features are `sample_frames`' job via the registered
    pnmseq extractor)."""
    walk = _pnm_walk(raw)
    off, w, h, ch, maxval, _end = next(walk)
    n = 1
    for _ in walk:
        n += 1
    dtype = ">u2" if maxval > 255 else "u1"
    first = np.frombuffer(raw, dtype=dtype, count=w * h * ch, offset=off)
    return {
        "width": int(w),
        "height": int(h),
        "n_frames": n,
        "feature": _feature(first),
    }


def pnm_seq_extract_features(raw: bytes, idxs: list[int]) -> list[list[float]]:
    """FRAME_SCHEMA-shaped 8-dim features for exactly the requested
    frame indices of a concatenated-netpbm clip — the `sample_frames`
    extractor leg (decodes only those rasters, like wav_extract_frames)."""
    return [_feature(g) for g in pnm_seq_extract_gray(raw, idxs)]


# ---------------------------------------------------------------------------
# YUV4MPEG2 (y4m) clip stream — the second registered seekable clip codec
# (VERDICT r9 item 4: prove the register_clip_extractor seam with a real
# public container beyond pnmseq). The public y4m layout: one stream
# header line "YUV4MPEG2 W<w> H<h> F<n:d> [I?] [A?] [C<cs>] ...\n", then
# per frame a "FRAME[ params]\n" line followed by a FIXED-size planar
# raster (Y then subsampled U, V), so frames are seekable by header-line
# walk + raster arithmetic — the property sample-before-decode needs,
# exactly like _pnm_walk.

_Y4M_PLANE_FACTOR = {
    # bytes per pixel across Y+U+V for each chroma subsampling
    "420": 1.5, "420jpeg": 1.5, "420paldv": 1.5, "420mpeg2": 1.5,
    "422": 2.0, "444": 3.0, "mono": 1.0,
}


def _y4m_layout(raw: bytes) -> tuple[int, int, int, int, str]:
    """(width, height, frame_raster_bytes, first_frame_pos, colorspace)
    from the stream header — no raster bytes touched."""
    if not raw.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream (bad magic)")
    nl = raw.find(b"\n")
    if nl < 0:
        raise ValueError("y4m: unterminated stream header")
    w = h = None
    cs = "420jpeg"  # the spec's default when C is absent
    for tok in raw[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"C":
            cs = val.decode("ascii", "replace")
    if not w or not h or w <= 0 or h <= 0:
        raise ValueError("y4m: missing or invalid W/H in stream header")
    if cs not in _Y4M_PLANE_FACTOR:
        raise ValueError(f"y4m: unsupported colorspace C{cs}")
    if cs.startswith("42") and (w % 2 or (cs.startswith("420") and h % 2)):
        raise ValueError(f"y4m: C{cs} needs even subsampled dimensions")
    frame_bytes = int(w * h * _Y4M_PLANE_FACTOR[cs])
    return w, h, frame_bytes, nl + 1, cs


def _y4m_walk(raw: bytes):
    """Yield (raster_offset, width, height) per frame — FRAME header
    lines parsed, rasters SKIPPED by the layout's computed size."""
    w, h, fb, pos, _cs = _y4m_layout(raw)
    while pos < len(raw):
        if raw[pos : pos + 5] != b"FRAME":
            raise ValueError(f"y4m: expected FRAME header at offset {pos}")
        nl = raw.find(b"\n", pos)
        if nl < 0:
            raise ValueError("y4m: unterminated FRAME header")
        off = nl + 1
        if off + fb > len(raw):
            raise ValueError("y4m: truncated frame raster")
        yield off, w, h
        pos = off + fb


def y4m_frame_count(raw: bytes) -> int:
    """Frame count of a y4m stream — header walk only."""
    n = 0
    for _ in _y4m_walk(raw):
        n += 1
    if n == 0:
        raise ValueError("empty y4m sequence")
    return n


def y4m_extract_gray(raw: bytes, idxs: list[int]) -> list["np.ndarray"]:
    """Grayscale (h, w) float arrays for exactly the requested frame
    indices — reads ONLY those frames' LUMA planes (the Y plane IS the
    grayscale; chroma is skipped entirely), seeking past other frames
    by raster arithmetic."""
    want = set(idxs)
    got: dict[int, np.ndarray] = {}
    for k, (off, w, h) in enumerate(_y4m_walk(raw)):
        if k not in want:
            continue
        y = np.frombuffer(raw, dtype="u1", count=w * h, offset=off)
        got[k] = y.astype(np.float64).reshape(h, w)
    missing = sorted(want - set(got))
    if missing:
        raise IndexError(f"y4m frame indices out of range: {missing}")
    return [got[k] for k in idxs]


def encode_y4m(
    frames: list["np.ndarray"], colorspace: str = "420jpeg", fps=(25, 1)
) -> bytes:
    """Encode 2-D grayscale frames as a y4m stream (neutral 128 chroma
    for subsampled colorspaces, pure luma for Cmono) — the test/ingest
    side encoder, same role as encode_pnm_seq."""
    if colorspace not in _Y4M_PLANE_FACTOR:
        raise ValueError(f"unsupported colorspace {colorspace!r}")
    h, w = frames[0].shape
    chroma = b""
    if colorspace != "mono":
        sub = (w // 2) * (h // 2) if colorspace.startswith("420") else (
            (w // 2) * h if colorspace == "422" else w * h
        )
        chroma = bytes([128]) * (2 * sub)
    out = [
        b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C%s\n"
        % (w, h, fps[0], fps[1], colorspace.encode())
    ]
    for f in frames:
        if f.shape != (h, w):
            raise ValueError("y4m frames must share one geometry")
        out.append(b"FRAME\n")
        out.append(np.clip(f, 0, 255).astype("u1").tobytes())
        out.append(chroma)
    return b"".join(out)


# ---------------------------------------------------------------------------
# FITS primary-HDU image (header cards via multimodal.fits_header_decode)

_BITPIX_DTYPE = {
    8: "u1",
    16: ">i2",
    32: ">i4",
    64: ">i8",
    -32: ">f4",
    -64: ">f8",
}


def decode_fits_image(raw: bytes) -> dict:
    """Decode a FITS primary-HDU image: header cards via
    `fits_header_decode` (header metadata extraction reads the same cards
    through its SQL twin, `FITS_ENTRIES_SQL`),
    then the data unit — big-endian array of BITPIX type, NAXIS1 ×
    NAXIS2 (× NAXIS3 planes → n_frames), linearly scaled by
    BSCALE/BZERO (FITS Standard 4.0 §4.4.2, §5.2-5.3)."""
    hdr = fits_header_decode(raw)
    if hdr.get("SIMPLE") != "T":
        raise ValueError("not a FITS primary HDU")
    bitpix = int(hdr["BITPIX"])
    naxis = int(hdr["NAXIS"])
    if naxis < 2:
        raise ValueError("FITS HDU holds no image")
    w = int(hdr["NAXIS1"])
    h = int(hdr["NAXIS2"])
    planes = int(hdr.get("NAXIS3", "1")) if naxis >= 3 else 1
    dtype = _BITPIX_DTYPE.get(bitpix)
    if dtype is None:
        raise ValueError(f"bad BITPIX {bitpix}")
    # Header occupies whole 2880-byte blocks through its END card.
    end = raw.find(b"END     ")
    if end < 0:
        raise ValueError("no END card")
    data_off = ((end // 2880) + 1) * 2880
    n = w * h * planes
    data = np.frombuffer(raw, dtype=dtype, count=n, offset=data_off)
    bscale = float(hdr.get("BSCALE", "1.0"))
    bzero = float(hdr.get("BZERO", "0.0"))
    if bscale != 1.0 or bzero != 0.0:
        data = data * bscale + bzero
    return {
        "width": w,
        "height": h,
        "n_frames": planes,
        "feature": _feature(data),
    }


def encode_fits_image(arr: np.ndarray, bitpix: int = 16) -> bytes:
    """Write a real single-HDU FITS image (2880-blocked header + data)
    from a 2-D array — genuine bytes any FITS reader accepts."""
    h, w = arr.shape
    cards = [
        f"{'SIMPLE':8s}= {'T':>20s}",
        f"{'BITPIX':8s}= {bitpix:>20d}",
        f"{'NAXIS':8s}= {2:>20d}",
        f"{'NAXIS1':8s}= {w:>20d}",
        f"{'NAXIS2':8s}= {h:>20d}",
        "END",
    ]
    header = "".join(c.ljust(80) for c in cards).encode("ascii")
    header += b" " * (-len(header) % 2880)
    data = np.ascontiguousarray(arr, dtype=_BITPIX_DTYPE[bitpix]).tobytes()
    data += b"\0" * (-len(data) % 2880)
    return header + data


# ---------------------------------------------------------------------------
# WAV (RIFF PCM) frame extraction

WAV_WINDOW = 1024  # samples per analysis frame


def _wav_layout(raw: bytes) -> tuple[int, int, int, int, int]:
    """(data_offset, data_bytes, n_channels, sample_width, sample_rate)
    from the RIFF chunk list; PCM (format tag 1) only."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data_span = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (size,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        body = pos + 8
        if cid == b"fmt ":
            tag, nch, rate = struct.unpack("<HHI", raw[body : body + 8])
            bits = struct.unpack("<H", raw[body + 14 : body + 16])[0]
            if tag != 1:
                raise ValueError("only PCM WAV supported")
            fmt = (nch, bits // 8, rate)
        elif cid == b"data":
            data_span = (body, min(size, len(raw) - body))
        pos = body + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data_span is None:
        raise ValueError("missing fmt/data chunk")
    nch, width, rate = fmt
    if width not in (1, 2) or nch < 1:
        raise ValueError("unsupported PCM layout")
    return data_span[0], data_span[1], nch, width, rate


def wav_frame_count(raw: bytes) -> int:
    """Number of WAV_WINDOW-sample analysis frames — header-only: reads
    the chunk list, never the samples."""
    _off, nbytes, nch, width, _rate = _wav_layout(raw)
    samples = nbytes // (nch * width)
    return max(1, math.ceil(samples / WAV_WINDOW))


def wav_extract_frames(raw: bytes, idxs: list[int]) -> list[list[float]]:
    """Per-window features for exactly the requested frame indices,
    decoding ONLY those windows' byte ranges (a real extractor over a
    seekable store reads just these slices — the reason sample_frames
    picks indices before decoding). Feature: [rms, mean, min, max,
    zero-crossing rate, energy-in-thirds...] — 8 dims, all in [-1, 1]
    sample space."""
    off, nbytes, nch, width, _rate = _wav_layout(raw)
    dtype = "<i2" if width == 2 else "u1"
    frame_bytes = WAV_WINDOW * nch * width
    out: list[list[float]] = []
    for i in idxs:
        start = off + i * frame_bytes
        chunk = raw[start : min(start + frame_bytes, off + nbytes)]
        a = np.frombuffer(chunk, dtype=dtype).astype(np.float64)
        if width == 1:
            a = (a - 128.0) / 128.0  # 8-bit WAV is unsigned
        else:
            a = a / 32768.0
        if a.size == 0:
            out.append([0.0] * 8)
            continue
        thirds = np.array_split(a, 3)
        out.append(
            [
                float(np.sqrt(np.mean(a * a))),
                float(a.mean()),
                float(a.min()),
                float(a.max()),
                float(np.mean(np.abs(np.diff(np.signbit(a).astype(np.int8)))))
                if a.size > 1
                else 0.0,
                float(np.mean(thirds[0] ** 2)),
                float(np.mean(thirds[1] ** 2)),
                float(np.mean(thirds[2] ** 2)),
            ]
        )
    return out


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Write a real PCM16 mono WAV file from float samples in [-1, 1]."""
    pcm = np.clip(samples * 32767.0, -32768, 32767).astype("<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm


def wav_decode(raw: bytes) -> dict:
    """decode_media-shaped WAV summary (width=samples per channel,
    height=channels) so audio files also flow through the decode seam."""
    off, nbytes, nch, width, _rate = _wav_layout(raw)
    dtype = "<i2" if width == 2 else "u1"
    a = np.frombuffer(raw, dtype=dtype, count=nbytes // width, offset=off)
    a = ((a.astype(np.float64) - 128.0) / 128.0) if width == 1 else a / 32768.0
    samples = a.size // nch
    return {
        "width": int(samples),
        "height": int(nch),
        "n_frames": max(1, math.ceil(samples / WAV_WINDOW)),
        "feature": _feature(a),
    }


# ---------------------------------------------------------------------------
# Resize (the decode -> resample -> re-encode leg of the multimodal seam)

def _nn_resize(arr: "np.ndarray", out_h: int, out_w: int) -> "np.ndarray":
    """Nearest-neighbor resample by pixel-center index mapping — the
    deterministic, library-free resize (what cv2 INTER_NEAREST does)."""
    in_h, in_w = arr.shape[:2]
    ys = np.clip(((np.arange(out_h) + 0.5) * in_h / out_h).astype(np.int64), 0, in_h - 1)
    xs = np.clip(((np.arange(out_w) + 0.5) * in_w / out_w).astype(np.int64), 0, in_w - 1)
    return arr[ys][:, xs]


def resize_netpbm(raw: bytes, width: int, height: int) -> bytes:
    """Resize a PGM/PPM to (width, height) and re-encode in the binary
    variant of its own format (P2->P5, P3->P6 — lossless for samples)."""
    data, w, h, channels, maxval = _netpbm_array(raw)
    arr = np.asarray(data).reshape((h, w, channels) if channels == 3 else (h, w))
    out = _nn_resize(arr, height, width)
    return (
        encode_ppm(out, maxval) if channels == 3 else encode_pgm(out, maxval)
    )


def resize_fits(raw: bytes, width: int, height: int) -> bytes:
    """Resize a 2-D FITS primary-HDU image, preserving BITPIX. Stored
    values pass through unscaled (BSCALE/BZERO are header metadata a
    resample must not bake in); >2-D HDUs are rejected (-> NULL row at
    the seam, quarantine's concern)."""
    hdr = fits_header_decode(raw)
    if hdr.get("SIMPLE") != "T":
        raise ValueError("not a FITS primary HDU")
    bitpix = int(hdr["BITPIX"])
    if int(hdr["NAXIS"]) != 2:
        raise ValueError("resize_fits handles 2-D HDUs only")
    w, h = int(hdr["NAXIS1"]), int(hdr["NAXIS2"])
    dtype = _BITPIX_DTYPE.get(bitpix)
    if dtype is None:
        raise ValueError(f"bad BITPIX {bitpix}")
    end = raw.find(b"END     ")
    if end < 0:
        raise ValueError("no END card")
    data_off = ((end // 2880) + 1) * 2880
    arr = np.frombuffer(raw, dtype=dtype, count=w * h, offset=data_off).reshape(h, w)
    return encode_fits_image(_nn_resize(arr, height, width), bitpix)


def register_default_codecs() -> None:
    """Activate the real codecs under their format kinds. The generic
    "image"/"video" kinds keep the deterministic fakes (fixture bytes
    are not real media; the DuckDB-oracled queries pin that path)."""
    register_decoder("pgm", decode_netpbm)
    register_decoder("ppm", decode_netpbm)
    register_decoder("fits", decode_fits_image)
    register_decoder("wav", wav_decode)
    register_decoder("pnmseq", decode_pnm_seq)
    register_frame_extractor("wav", wav_frame_count, wav_extract_frames)
    register_frame_extractor(
        "pnmseq", pnm_seq_frame_count, pnm_seq_extract_features
    )
    register_resizer("pgm", resize_netpbm)
    register_resizer("ppm", resize_netpbm)
    register_resizer("fits", resize_fits)


register_default_codecs()
