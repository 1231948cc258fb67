"""Video / frame-sequence perceptual near-dup (SURVEY.md §2.11 — the
C5 × C56 composition; VERDICT r7 item 1 / r8 item 2, the last media
modality without a content fingerprint).

A re-encoded, resized, frame-dropped, or trimmed copy of a clip shares
no bytes with the original, so the exact-checksum gate (the reference's
dup test, bin/save_DBB_stagein_to_DBB.py:100-109) and even the still-
image perceptual gate (operators/phash.py) can't see it — a clip is a
SEQUENCE, and its identity has to survive temporal edits. This module
closes that gap Spark-first, reusing every proven piece:

1. **Clip fingerprinting** — ONE Arrow-batched mapInPandas crossing per
   clip: frame COUNT by header walk (sources/codecs.py `_pnm_walk` —
   rasters skipped by computed length), evenly-spaced index selection
   (the C5 sample-before-decode policy, sources/multimodal.py
   `sample_frames`), decode ONLY those rasters, and a 9×9 block-mean
   thumbnail per sampled frame. The wide binary column never leaves the
   scan stage; what shuffles is n_samples tiny arrays per clip.
2. **Per-frame 64-bit dHash — pure JVM** (`operators.phash.dhash_col`
   over the exploded frame relation): the same horizontal-gradient-sign
   fingerprint stills use, stable under re-encode (monotone sample
   scaling) and resize (block means are area averages).
3. **Frame-level Hamming-ball banding** — `operators.phash.
   hamming_pairs` over composite (clip, frame) ids: band-split →
   equi-join → `bit_count` verify → exactly-once canonical emission.
   Candidates cost Σ bucket² over (band, value) buckets, never
   |frames|²; with constant n_samples per clip the frame corpus is just
   n_samples × the clip corpus — the stills shape, at stills cost.
4. **Clip-pair scoring** — frames match REGARDLESS of index (temporal
   offsets and frame drops shift indices; requiring alignment would
   miss exactly the edits that matter), then one narrow groupBy on
   (clip_a, clip_b) counts how many of each side's sampled frames found
   a near frame on the other side. A pair is a near-dup when BOTH
   fractions reach ``min_frac`` — one-sided containment (a clip vs a
   montage embedding one of its scenes) surfaces below the symmetric
   threshold and is the caller's policy call.

Downstream, scored pairs feed the SAME machinery every other dedup
family uses: C12 `connected_components_adaptive` for clusters, C50
`cluster_purity` for purity before deletion.

The container is concatenated binary netpbm (``pnmseq``) — a real
public format (the netpbm spec allows back-to-back images) whose frames
are seekable by header arithmetic alone, i.e. the property
sample-before-decode needs; `register_clip_extractor` is the seam for
real seekable codecs at deployment.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..session import cut_lineage
from .phash import GRID, _block_mean, dhash_col, hamming_pairs, thumb_variance_col

_CLIP_EXTRACTORS: dict[
    str,
    tuple[Callable[[bytes], int], Callable[[bytes, list[int]], list[np.ndarray]]],
] = {}


def register_clip_extractor(
    kind: str,
    count_fn: Callable[[bytes], int],
    extract_gray_fn: Callable[[bytes, list[int]], list[np.ndarray]],
) -> None:
    """Register a seekable-clip codec for ``kind``: ``count_fn`` returns
    the frame count WITHOUT decoding rasters; ``extract_gray_fn``
    returns 2-D grayscale float arrays for exactly the requested frame
    indices (built-in: ``pnmseq``)."""
    _CLIP_EXTRACTORS[kind] = (count_fn, extract_gray_fn)


def _load_default_extractors() -> None:
    if "pnmseq" in _CLIP_EXTRACTORS:
        return
    from ..sources.codecs import (
        pnm_seq_extract_gray,
        pnm_seq_frame_count,
        y4m_extract_gray,
        y4m_frame_count,
    )

    register_clip_extractor("pnmseq", pnm_seq_frame_count, pnm_seq_extract_gray)
    register_clip_extractor("y4m", y4m_frame_count, y4m_extract_gray)


def _sample_idxs(n: int, k: int) -> list[int]:
    """The `sample_frames` index policy: round(i·(n-1)/(k-1)), first and
    last frame always included; all n when n <= k."""
    if n <= k:
        return list(range(n))
    return sorted({round(i * (n - 1) / (k - 1)) for i in range(k)})


def clip_fingerprints(
    df: DataFrame,
    kind: str = "pnmseq",
    id_col: str = "path",
    content_col: str = "content",
    n_samples: int = 8,
    grid: int = GRID,
) -> DataFrame:
    """(id, n_frames, n_sampled, fidx, fhash, fvar): one row per SAMPLED
    frame of each clip, ``fhash`` its 64-bit block-mean dHash, ``fidx``
    the real frame index in the container, and ``fvar`` the thumbnail's
    value variance — the degenerate-frame detector `score_clip_pairs`'
    ``min_thumb_variance`` policy keys on (a solid/black/fade frame has
    ~zero block-mean variance). One mapInPandas decode crossing (count →
    sample → decode-only-sampled → thumbnail); the hash AND the variance
    are JVM projections over the exploded frame relation — no Python
    past the thumbnails, nothing wide past the scan. Malformed clips
    yield no rows (quarantine's concern, the decode_media stance); an
    unregistered ``kind`` raises at plan time (a clip corpus has no
    meaningful deterministic fake — the thumbnails() seam discussion)."""
    if n_samples <= 0:
        raise ValueError("n_samples must be positive")
    _load_default_extractors()
    if kind not in _CLIP_EXTRACTORS:
        raise ValueError(
            f"clip_fingerprints: no registered clip extractor for "
            f"kind={kind!r} (registered: {sorted(_CLIP_EXTRACTORS)}); "
            "register_clip_extractor(kind, count_fn, extract_gray_fn)"
        )
    count_fn, extract_fn = _CLIP_EXTRACTORS[kind]
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField(
                "fsamples",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("fidx", T.IntegerType(), False),
                            T.StructField(
                                "thumb", T.ArrayType(T.DoubleType()), False
                            ),
                        ]
                    )
                ),
                True,
            ),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ident, raw in zip(pdf[id_col], pdf[content_col]):
                if raw is None:
                    continue
                try:
                    raw = bytes(raw)
                    n = count_fn(raw)
                    idxs = _sample_idxs(n, n_samples)
                    grays = extract_fn(raw, idxs)
                    samples = [
                        (int(i), [float(x) for x in _block_mean(g, grid).ravel()])
                        for i, g in zip(idxs, grays)
                    ]
                    rows.append((ident, int(n), samples))
                except Exception:
                    continue  # malformed clip → no frame rows
            yield pd.DataFrame(rows, columns=[id_col, "n_frames", "fsamples"])

    exploded = (
        df.mapInPandas(run, schema=out_schema)
        .select(
            id_col,
            "n_frames",
            F.size("fsamples").alias("n_sampled"),
            F.explode("fsamples").alias("s"),
        )
        .select(
            id_col,
            "n_frames",
            "n_sampled",
            F.col("s.fidx").alias("fidx"),
            dhash_col("s.thumb", grid=grid).alias("fhash"),
            thumb_variance_col("s.thumb").alias("fvar"),
        )
    )
    return exploded


def video_near_dup(
    df: DataFrame,
    kind: str = "pnmseq",
    id_col: str = "path",
    content_col: str = "content",
    n_samples: int = 8,
    max_distance: int = 6,
    min_frac: float = 0.5,
    bands: int | None = None,
    min_thumb_variance: float | None = None,
) -> DataFrame:
    """(id_a, id_b, frac_a, frac_b, n_frame_pairs, min_distance): clip
    pairs where at least ``min_frac`` of EACH side's sampled frames has
    a near frame (Hamming ≤ ``max_distance``) on the other side, id_a <
    id_b. Robust by construction to re-encoding and resizing (per-frame
    dHash), frame drops and temporal offsets (index-free frame matching
    + fractional threshold); disjoint clips share no frame buckets and
    never pair.

    Scale shape: one decode pass (lineage cut — the frame relation
    feeds the per-(clip, hash) fold, the distinct-hash band join, and
    the size lookup), banding over DISTINCT frame hashes (the rep-graph
    device — identical frames across M clips cost one representative),
    then narrow clip-pair aggregations and AQE-handled size joins.
    Nothing is ever all-pairs at the clip or frame level; set
    ``min_thumb_variance`` on real crawls so solid/fade/title frames
    neither pair nor dilute scores (see `score_clip_pairs`).

    Feed the pairs to `connected_components_adaptive` for clusters and
    `audit.cluster_purity` before keep-one deletion, exactly as for text LSH
    and still-image near-dup; group all-degenerate clips separately
    with `degenerate_clip_groups`."""
    if not 0.0 < min_frac <= 1.0:
        raise ValueError("min_frac must be in (0, 1]")
    frames = cut_lineage(
        clip_fingerprints(
            df,
            kind=kind,
            id_col=id_col,
            content_col=content_col,
            n_samples=n_samples,
        )
    )
    return score_clip_pairs(
        frames,
        id_col=id_col,
        max_distance=max_distance,
        min_frac=min_frac,
        bands=bands,
        min_thumb_variance=min_thumb_variance,
    )


def _live_frames(
    frames: DataFrame, min_thumb_variance: float | None
) -> DataFrame:
    """Frames eligible for perceptual pairing under the degenerate-frame
    policy: all of them when the knob is off; otherwise only frames whose
    thumbnail variance clears the threshold. A NULL ``fvar`` (legacy
    fingerprint relations/indexes predating the column) counts LIVE —
    the safe default is today's behavior, not silent dropping."""
    if min_thumb_variance is None:
        return frames
    if "fvar" not in frames.columns:
        raise ValueError(
            "min_thumb_variance needs an 'fvar' column "
            "(re-run clip_fingerprints; legacy relations lack it)"
        )
    return frames.where(
        F.col("fvar").isNull() | (F.col("fvar") >= min_thumb_variance)
    )


def _clip_hash_counts(frames: DataFrame, id_col: str) -> DataFrame:
    """(_cid, _h, _nf): the representative form of a frame relation —
    one row per (clip, distinct frame hash) with its multiplicity. THIS
    is what kills the degenerate-frame quadratic (VERDICT r9 item 1):
    M frames of one clip sharing a hash collapse to one row before any
    banding join, so an identical-hash bucket contributes one
    representative per clip, never one row per frame."""
    return frames.groupBy(
        F.col(id_col).alias("_cid"), F.col("fhash").alias("_h")
    ).agg(F.count("*").alias("_nf"))


def _hash_ball(
    hashes: DataFrame, max_distance: int, bands: int | None,
    telemetry: dict | None = None,
) -> DataFrame:
    """(_ha, _hb, distance): the DIRECTED Hamming ball over a relation
    of distinct 64-bit hashes (column ``_h``) — every banding pair in
    both orders plus the distance-0 self-loop, so a one-sided join
    against it enumerates each hash's full neighborhood exactly once."""
    hp = hamming_pairs(
        hashes.select(F.col("_h").alias("id"), F.col("_h").alias("h")),
        "id",
        "h",
        max_distance=max_distance,
        bands=bands,
        telemetry=telemetry,
    )
    return (
        hp.select(
            F.col("id_a").alias("_ha"), F.col("id_b").alias("_hb"), "distance"
        )
        .unionByName(
            hp.select(
                F.col("id_b").alias("_ha"),
                F.col("id_a").alias("_hb"),
                "distance",
            )
        )
        .unionByName(
            hashes.select(
                F.col("_h").alias("_ha"),
                F.col("_h").alias("_hb"),
                F.lit(0).alias("distance"),
            )
        )
    )


def score_clip_pairs(
    frames: DataFrame,
    id_col: str = "path",
    max_distance: int = 6,
    min_frac: float = 0.5,
    bands: int | None = None,
    min_thumb_variance: float | None = None,
    telemetry: dict | None = None,
) -> DataFrame:
    """The pure-JVM scoring half of `video_near_dup`, over an existing
    `clip_fingerprints` relation (id, n_sampled, fidx, fhash[, fvar]) —
    lets a pipeline fingerprint once and score under several thresholds,
    and keeps the decode cost and the pair cost separately measurable.
    ``frames`` is re-traversed internally; pass it lineage-cut or cached.

    Degenerate-frame hazard, RESOLVED in code (VERDICT r9 item 1) by the
    two prescribed forms composed:

    1. **Representative routing** (always on): banding runs over the
       corpus's DISTINCT frame hashes — the `hamming_groups` rep-graph
       device — and per-(clip, hash) multiplicities are carried as
       counts, so an identical-hash bucket (M clips sharing a solid
       frame) costs one representative in the band join, never M²
       frame-instance rows. Matched-frame counts are recovered exactly:
       a frame matches the other side iff its hash has a ball edge
       (including the distance-0 self-loop) to one of the other side's
       hashes.
    2. **``min_thumb_variance``** (policy knob, default off): frames
       whose thumbnail variance falls below it — solid black/white,
       fades, title cards — are excluded from pairing and from the
       fraction DENOMINATORS, so a title card neither links unrelated
       clips nor dilutes a true re-encode's score, and the pair output
       for a planted degenerate stratum stays LINEAR in the stratum
       size (pinned in tests). Clips with no live frames emit no pairs
       here; group the all-degenerate stratum with
       `degenerate_clip_groups` — two all-black clips are each other's
       dups, but as a GROUP label (linear), never as O(M²) pairs.

    Output (id_a, id_b, frac_a, frac_b, n_frame_pairs, min_distance)
    is unchanged; with the knob off it is row-identical to the previous
    frame-instance formulation (pinned ≡ brute force in tests)."""
    if not 0.0 < min_frac <= 1.0:
        raise ValueError("min_frac must be in (0, 1]")
    live = _live_frames(frames, min_thumb_variance)
    # ch feeds the size lookup, the distinct-hash ball, and both sides
    # of the expansion join — pin it so the groupBy runs once
    ch = cut_lineage(_clip_hash_counts(live, id_col))
    sizes = ch.groupBy("_cid").agg(F.sum("_nf").alias("_n"))
    ball = _hash_ball(
        ch.select("_h").distinct(), max_distance, bands, telemetry=telemetry
    )
    # expand hash-level ball edges to clip pairs, canonical id_a < id_b;
    # each (frame_a, frame_b) instance pair is counted exactly once:
    # its (hash_a, hash_b) edge appears once in the directed ball, and
    # only the clip order with _ca < _cb survives
    cand = cut_lineage(
        ch.select(
            F.col("_cid").alias("_ca"),
            F.col("_h").alias("_ha"),
            F.col("_nf").alias("_nfa"),
        )
        .join(ball, "_ha")
        .join(
            ch.select(
                F.col("_cid").alias("_cb"),
                F.col("_h").alias("_hb"),
                F.col("_nf").alias("_nfb"),
            ),
            "_hb",
        )
        .where(F.col("_ca") < F.col("_cb"))
    )
    if telemetry is not None:
        # the expansion volume IS the degenerate-stratum cost: M clips
        # sharing a flat frame put M rows behind one self-loop edge —
        # this count is what the min_thumb_variance policy keeps linear
        # (pinned in tests); cand is lineage-cut, so the count is one
        # cheap action over materialized blocks
        telemetry["n_candidates"] = cand.count()
    # left stats fold through the per-_ha level (one frame of A matches
    # iff its hash has >= 1 ball edge into B, so A's matched count is
    # the sum of _nfa over DISTINCT matched hashes)
    left = (
        cand.groupBy("_ca", "_cb", "_ha")
        .agg(
            F.max("_nfa").alias("_nfa"),
            F.sum(F.col("_nfa") * F.col("_nfb")).alias("_np"),
            F.min("distance").alias("_mind"),
        )
        .groupBy("_ca", "_cb")
        .agg(
            F.sum("_nfa").alias("_m_a"),
            F.sum("_np").alias("n_frame_pairs"),
            F.min("_mind").alias("min_distance"),
        )
    )
    right = (
        cand.groupBy("_ca", "_cb", "_hb")
        .agg(F.max("_nfb").alias("_nfb"))
        .groupBy("_ca", "_cb")
        .agg(F.sum("_nfb").alias("_m_b"))
    )
    return (
        left.join(right, ["_ca", "_cb"])
        .join(sizes.select(F.col("_cid").alias("_ca"), F.col("_n").alias("_n_a")), "_ca")
        .join(sizes.select(F.col("_cid").alias("_cb"), F.col("_n").alias("_n_b")), "_cb")
        .select(
            F.col("_ca").alias("id_a"),
            F.col("_cb").alias("id_b"),
            (F.col("_m_a") / F.col("_n_a")).alias("frac_a"),
            (F.col("_m_b") / F.col("_n_b")).alias("frac_b"),
            "n_frame_pairs",
            "min_distance",
        )
        .where(
            (F.col("frac_a") >= min_frac) & (F.col("frac_b") >= min_frac)
        )
    )


def degenerate_clip_groups(
    frames: DataFrame,
    min_thumb_variance: float,
    id_col: str = "path",
    max_distance: int = 6,
    bands: int | None = None,
) -> DataFrame:
    """(id, group): near-dup GROUP labels for the all-degenerate stratum
    — clips with NO frame clearing ``min_thumb_variance`` (all black,
    all white, a solid fade). `score_clip_pairs` deliberately excludes
    them: two all-black clips ARE near-dups, but M of them have O(M²)
    true pairs saying one thing, so the scalable output is a group
    label (membership in a degenerate-frame group is its own signal —
    the C57 docstring's prescription, now code). Each clip's signature
    is the min of its frame hashes; grouping is `hamming_groups` over
    the signatures, whose representative form makes an identical-
    signature bucket cost one rep and a hub-safe label join-back —
    linear in the stratum size. Clips with any live frame get no row
    (they belong to the pair path)."""
    from .phash import hamming_groups

    if "fvar" not in frames.columns:
        raise ValueError(
            "degenerate_clip_groups needs an 'fvar' column "
            "(re-run clip_fingerprints; legacy relations lack it)"
        )
    per = frames.groupBy(F.col(id_col).alias("_cid")).agg(
        F.sum(
            F.when(
                F.col("fvar").isNull()
                | (F.col("fvar") >= min_thumb_variance),
                1,
            ).otherwise(0)
        ).alias("_nl"),
        F.min("fhash").alias("_sig"),
    )
    degen = per.where((F.col("_nl") == 0) & F.col("_sig").isNotNull())
    return hamming_groups(
        degen.select("_cid", "_sig"),
        "_cid",
        "_sig",
        max_distance=max_distance,
        bands=bands,
    ).withColumnRenamed("_cid", id_col)
