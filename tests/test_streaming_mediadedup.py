"""Streaming perceptual media-dedup gate (streaming/mediadedup.py): a
rolling media crawl ingested in micro-batches must accept each
perceptual family's first arrival and reject later re-encodes/resizes —
across batch boundaries via the persisted 8-byte-per-file hash index —
while undecodable bytes pass through unindexed."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from dbbspark.sources.codecs import encode_pgm, resize_netpbm
from dbbspark.streaming.mediadedup import (
    gate_batch,
    process_batch,
    streaming_media_dedup,
)
from test_phash import _smooth_image


def _img(seed: int) -> bytes:
    return encode_pgm(_smooth_image(seed))


def _resized(seed: int, size: int = 32) -> bytes:
    return resize_netpbm(encode_pgm(_smooth_image(seed)), size, size)


def _drop(spark, src, rows, name):
    """Land one parquet FILE in the stream root (the file source does
    not recurse into the directory a DataFrame write would create)."""
    stage = f"{src}_{name}_stage"
    spark.createDataFrame(rows, "path string, content binary").coalesce(
        1
    ).write.parquet(stage)
    os.makedirs(src, exist_ok=True)
    shutil.move(
        glob.glob(f"{stage}/part-*.parquet")[0],
        os.path.join(str(src), f"{name}.parquet"),
    )
    shutil.rmtree(stage)


def _run(spark, src, tmp, **kw):
    q = streaming_media_dedup(
        spark.readStream.schema("path string, content binary").parquet(str(src)),
        str(tmp / "idx"),
        str(tmp / "accepted"),
        str(tmp / "ck"),
        **kw,
    )
    q.awaitTermination()


def _accepted(spark, tmp):
    return {
        r["path"]
        for r in spark.read.parquet(str(tmp / "accepted")).collect()
    }


def test_gate_across_micro_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1: a2 is a resized re-encode of a1 → keep a1 (min id); b1 distinct
    _drop(
        spark, src,
        [("a1", _img(1)), ("a2", _resized(1)), ("b1", _img(2))],
        "b1",
    )
    _run(spark, src, tmp_path)
    assert _accepted(spark, tmp_path) == {"a1", "b1"}

    # batch 2: a3 collides with the INDEXED a1 → rejected; c1 fresh
    _drop(spark, src, [("a3", _resized(1, 48)), ("c1", _img(3))], "b2")
    _run(spark, src, tmp_path)
    assert _accepted(spark, tmp_path) == {"a1", "b1", "c1"}

    # index holds one 64-bit hash per accepted file, nothing else
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert {r["mid"] for r in idx.collect()} == {"a1", "b1", "c1"}


def test_retry_is_idempotent(spark, tmp_path):
    """Re-running the same batch_id (foreachBatch at-least-once retry)
    must neither duplicate accepted files/hashes nor reject the batch
    against its own crashed attempt's index rows."""
    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    b1 = spark.createDataFrame(
        [("a1", _img(1)), ("a2", _resized(1)), ("b1", _img(2))],
        "path string, content binary",
    )
    process_batch(b1, 0, idx, acc)
    first = {r["path"] for r in spark.read.parquet(acc).collect()}
    process_batch(b1, 0, idx, acc)  # retry
    again = {r["path"] for r in spark.read.parquet(acc).collect()}
    assert first == again == {"a1", "b1"}
    assert spark.read.parquet(idx).count() == 2


def test_undecodable_accepted_and_not_indexed(spark, tmp_path):
    """Garbage bytes hash NULL, pass the gate, and are NOT indexed."""
    rows1 = [("a1", _img(1)), ("junk", b"\x00not media")]
    rows2 = [("a2", _resized(1)), ("b1", _img(5)), ("junk2", b"P5 garbage")]
    idx = str(tmp_path / "idx")
    acc = str(tmp_path / "acc")
    b1 = spark.createDataFrame(rows1, "path string, content binary")
    b2 = spark.createDataFrame(rows2, "path string, content binary")
    process_batch(b1, 0, idx, acc)
    process_batch(b2, 1, idx, acc)
    assert {r["mid"] for r in spark.read.parquet(idx).collect()} == {"a1", "b1"}
    assert {r["path"] for r in spark.read.parquet(acc).collect()} == {
        "a1", "junk", "b1", "junk2",
    }


def test_incremental_pairs_equal_full_banding(spark):
    """hamming_incremental_pairs must equal hamming_pairs over
    (new ∪ corpus) restricted to pairs touching a new id — with each
    pair emitted exactly once (canonical first-clean-band emission on
    BOTH legs, no distinct) — on a corpus with identical hashes,
    chained buckets, and sign-bit values."""
    from dbbspark.operators.phash import hamming_incremental_pairs, hamming_pairs

    corpus_rows = [(100, 7), (101, 7), (102, 1 << 40), (103, -42)]
    new_rows = [(1, 7), (2, 6), (3, -42), (4, 1 << 20), (5, 6)]
    corpus = spark.createDataFrame(corpus_rows, "id long, h long")
    new = spark.createDataFrame(new_rows, "id long, h long")
    got = hamming_incremental_pairs(new, corpus, "id", "h", max_distance=4).collect()
    keys = [(r["id_a"], r["id_b"], r["against"]) for r in got]
    assert len(keys) == len(set(keys))  # exactly-once emission
    full = hamming_pairs(
        new.unionByName(corpus), "id", "h", max_distance=4
    ).collect()
    new_ids = {i for i, _ in new_rows}
    expect = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if a in new_ids and b in new_ids:
            expect.add((a, b, "new"))
        elif a in new_ids or b in new_ids:
            n, c = (a, b) if a in new_ids else (b, a)
            expect.add((n, c, "corpus"))
    assert set(keys) == expect
    # distances carried through correctly on both legs
    h = dict(corpus_rows + new_rows)
    assert all(
        r["distance"]
        == ((h[r["id_a"]] ^ h[r["id_b"]]) & 0xFFFFFFFFFFFFFFFF).bit_count()
        for r in got
    )


def test_stream_equals_batch_caller(spark, tmp_path):
    """The availableNow streaming wrapper and direct process_batch calls
    over the same arrival order produce identical accepted sets."""
    rows1 = [("a1", _img(11)), ("b1", _img(12))]
    rows2 = [("a2", _resized(11)), ("c1", _img(13))]
    src = str(tmp_path / "src")
    _drop(spark, src, rows1, "b1")
    _run(spark, src, tmp_path)
    _drop(spark, src, rows2, "b2")
    _run(spark, src, tmp_path)
    sidx, sacc = str(tmp_path / "midx"), str(tmp_path / "macc")
    process_batch(
        spark.createDataFrame(rows1, "path string, content binary"), 0, sidx, sacc
    )
    process_batch(
        spark.createDataFrame(rows2, "path string, content binary"), 1, sidx, sacc
    )
    assert _accepted(spark, tmp_path) == {
        r["path"] for r in spark.read.parquet(sacc).collect()
    } == {"a1", "b1", "c1"}


def test_gate_batch_greedy_keep_lowest_chain(spark):
    """Within one batch, a collision chain a<b<c keeps only a (greedy
    keep-lowest — the batch-LSH convergence contract shared with
    neardedup)."""
    hashes = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", 3), ("z", -1)],  # -1: all 64 bits set
        "path string, phash long",
    )
    empty = spark.createDataFrame([], "mid string, phash long")
    got = {
        r["path"]
        for r in gate_batch(hashes, empty, max_distance=2).collect()
    }
    assert got == {"a", "z"}


# --- clip gate (frame-sequence form) ---------------------------------------


def _clip_bytes(n=24, phase=0.0, seed=None, drop=None, trim=0):
    """Smooth space-time field clip as pnmseq bytes (the test_video
    fixture shape); drop='1/3' drops every third frame, trim cuts the
    head, seed -> pure noise (matches nothing)."""
    import numpy as np

    from dbbspark.sources.codecs import encode_pnm_seq

    h, w = 48, 64
    if seed is not None:
        rng = np.random.default_rng(seed)
        frames = [
            rng.integers(0, 256, size=(h, w)).astype(np.uint8) for _ in range(n)
        ]
    else:
        y, x = np.mgrid[0:h, 0:w]
        frames = []
        for t in range(n):
            f = 128 + 80 * np.sin(
                2 * np.pi * 2.0 * x / w + 0.12 * t + phase
            ) * np.cos(2 * np.pi * 1.5 * y / h - 0.08 * t)
            frames.append(np.clip(f, 0, 255).astype(np.uint8))
    if drop:
        frames = [f for i, f in enumerate(frames) if i % 3 != 2]
    if trim:
        frames = frames[trim:]
    return encode_pnm_seq(frames)


def test_clip_gate_across_micro_batches(spark, tmp_path):
    """Batch 2's re-cut (frame-dropped) and trimmed copies of a batch-1
    accepted clip must reject against the PERSISTED frame index; a
    disjoint clip and an undecodable blob pass (the blob unindexed)."""
    from dbbspark.streaming.mediadedup import process_clip_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    b1 = spark.createDataFrame(
        [("a1", _clip_bytes()), ("z1", _clip_bytes(seed=7))],
        "path string, content binary",
    )
    process_clip_batch(b1, 0, idx, acc)
    assert {
        r["path"] for r in spark.read.parquet(acc).collect()
    } == {"a1", "z1"}

    b2 = spark.createDataFrame(
        [
            ("a2", _clip_bytes(drop="1/3")),
            ("a3", _clip_bytes(trim=3)),
            ("q1", _clip_bytes(phase=2.0)),
            ("junk", b"\x00not a clip"),
        ],
        "path string, content binary",
    )
    process_clip_batch(b2, 1, idx, acc)
    got = {r["path"] for r in spark.read.parquet(acc).collect()}
    assert got == {"a1", "z1", "q1", "junk"}
    # index: n_samples frame rows per accepted DECODABLE clip only
    rows = spark.read.parquet(idx).groupBy("mid").count().collect()
    assert {r["mid"]: r["count"] for r in rows} == {
        "a1": 8, "z1": 8, "q1": 8,
    }


def test_clip_gate_retry_and_within_batch(spark, tmp_path):
    """Retry of the same batch_id is idempotent, and within one batch a
    re-encode chain keeps only the smallest id."""
    from dbbspark.streaming.mediadedup import process_clip_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    b = spark.createDataFrame(
        [
            ("a1", _clip_bytes()),
            ("a2", _clip_bytes(drop="1/3")),
            ("a3", _clip_bytes(trim=3)),
            ("z1", _clip_bytes(seed=11)),
        ],
        "path string, content binary",
    )
    for _ in range(2):  # second run = foreachBatch retry
        process_clip_batch(b, 0, idx, acc)
        assert {
            r["path"] for r in spark.read.parquet(acc).collect()
        } == {"a1", "z1"}
        assert spark.read.parquet(idx).count() == 2 * 8


def test_clip_resubmitted_path_rejects_against_its_indexed_self(spark, tmp_path):
    """Regression: the intra-clip same-cid filter must not suppress
    corpus evidence — a clip path re-submitted in a LATER batch pairs
    with its own indexed frames (distance 0, frac 1.0) and rejects,
    exactly as a re-submitted still does. (A retry of the SAME batch id
    is different: before=bid hides the crashed attempt's rows.)"""
    from dbbspark.streaming.mediadedup import process_clip_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    b = spark.createDataFrame(
        [("a1", _clip_bytes())], "path string, content binary"
    )
    process_clip_batch(b, 0, idx, acc)
    process_clip_batch(b, 1, idx, acc)  # re-SUBMISSION, not a retry
    rows = spark.read.parquet(acc).collect()
    assert [(r["path"], r["batch"]) for r in rows] == [("a1", 0)]
    assert spark.read.parquet(idx).count() == 8


def test_zero_hash_batch_marks_completion(spark, tmp_path):
    """ADVICE r9: a batch whose accepted files were all undecodable
    writes zero index rows by design — the completion marker must still
    advance so the crash detector does not read it as a crashed run,
    while a true crash (neither hashes nor marker) still reads behind."""
    import shutil

    from dbbspark.streaming.mediadedup import last_completed_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    assert last_completed_batch(spark, idx) == -1
    process_batch(
        spark.createDataFrame(
            [("junk", b"\x00not media")], "path string, content binary"
        ),
        0, idx, acc,
    )
    # accepted but nothing indexable — completion still recorded
    assert {r["path"] for r in spark.read.parquet(acc).collect()} == {"junk"}
    assert last_completed_batch(spark, idx) == 0
    # a real batch advances both hash partitions and markers
    process_batch(
        spark.createDataFrame([("a1", _img(1))], "path string, content binary"),
        1, idx, acc,
    )
    assert last_completed_batch(spark, idx) == 1
    # simulate a crash of batch 2 between the accepted and index writes:
    # accepted advances, hashes and marker do not → detector reads 1
    (
        spark.createDataFrame([("x", b"")], "path string, content binary")
        .withColumn("batch", F.lit(2))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(acc)
    )
    assert last_completed_batch(spark, idx) == 1
    # markers survive an index-dir rebuild only if untouched; a clip
    # gate writes them too (shared helper) — covered by the cli tests
    shutil.rmtree(idx)
    assert last_completed_batch(spark, idx) == 1  # markers alone still count


def _degen_clip(kind="black", n=6):
    """All-degenerate clip bytes: solid black, or a near-flat decreasing
    ramp (variance ~8, dHash far from the solid hash)."""
    import numpy as np

    from dbbspark.sources.codecs import encode_pnm_seq

    if kind == "black":
        f = np.zeros((24, 32), dtype=np.uint8)
    else:
        f = np.tile(np.linspace(110, 100, 32).astype(np.uint8), (24, 1))
    return encode_pnm_seq([f] * n)


def test_clip_gate_degenerate_policy(spark, tmp_path):
    """With min_thumb_variance: (a) a title-card frame shared with an
    accepted corpus clip must NOT weld an unrelated batch clip; (b) an
    all-black batch clip rejects against an accepted all-black CORPUS
    clip via the linear signature leg; (c) within one batch two
    all-black clips keep the lowest id; (d) a near-flat ramp clip is a
    DIFFERENT degenerate signature and passes."""
    import numpy as np

    from dbbspark.sources.codecs import encode_pnm_seq
    from dbbspark.streaming.mediadedup import process_clip_batch

    title = np.full((24, 32), 128, dtype=np.uint8)

    def card_clip(seed):
        rng = np.random.default_rng(seed)
        return encode_pnm_seq(
            [title, title]
            + [rng.integers(0, 256, (24, 32)).astype(np.uint8) for _ in range(6)]
        )

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    kw = dict(n_samples=8, min_frac=0.25, min_thumb_variance=25.0)
    b1 = spark.createDataFrame(
        [
            ("t1", bytearray(card_clip(1))),
            ("v1", bytearray(_degen_clip("black"))),
            ("v2", bytearray(_degen_clip("black"))),  # within-batch dup of v1
        ],
        "path string, content binary",
    )
    process_clip_batch(b1, 0, idx, acc, **kw)
    assert {
        r["path"] for r in spark.read.parquet(acc).collect()
    } == {"t1", "v1"}  # keep-lowest among the black pair

    b2 = spark.createDataFrame(
        [
            ("t2", bytearray(card_clip(2))),      # shares ONLY title cards
            ("v3", bytearray(_degen_clip("black"))),  # dup of corpus v1
            ("r1", bytearray(_degen_clip("ramp"))),   # different flat signature
        ],
        "path string, content binary",
    )
    process_clip_batch(b2, 1, idx, acc, **kw)
    got = {r["path"] for r in spark.read.parquet(acc).collect()}
    assert got == {"t1", "v1", "t2", "r1"}
    # the index stores fvar alongside each frame hash
    assert "fvar" in spark.read.parquet(idx).columns


def test_clip_gate_policy_keeps_live_path_verdicts(spark, tmp_path):
    """The variance policy must not change verdicts on ordinary content:
    the frame-dropped re-cut still rejects against the index, the
    disjoint clip still passes (same corpus as the un-gated test)."""
    from dbbspark.streaming.mediadedup import process_clip_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    kw = dict(min_thumb_variance=25.0)
    b1 = spark.createDataFrame(
        [("a1", _clip_bytes()), ("z1", _clip_bytes(seed=7))],
        "path string, content binary",
    )
    process_clip_batch(b1, 0, idx, acc, **kw)
    b2 = spark.createDataFrame(
        [
            ("a2", _clip_bytes(drop="1/3")),
            ("a3", _clip_bytes(trim=3)),
            ("q1", _clip_bytes(phase=2.0)),
        ],
        "path string, content binary",
    )
    process_clip_batch(b2, 1, idx, acc, **kw)
    assert {
        r["path"] for r in spark.read.parquet(acc).collect()
    } == {"a1", "z1", "q1"}


def test_still_gate_min_variance_accepts_flat_unindexed(spark, tmp_path):
    """Stills: with min_thumb_variance, solid frames hash NULL — they
    are accepted UN-indexed (M black stills cost O(M), never O(M²) band
    pairs) while real content still dedups across batches."""
    import numpy as np

    from dbbspark.sources.codecs import encode_pgm

    flat1 = encode_pgm(np.zeros((24, 24), dtype=np.uint8))
    flat2 = encode_pgm(np.full((24, 24), 7, dtype=np.uint8))
    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    kw = dict(min_thumb_variance=25.0)
    process_batch(
        spark.createDataFrame(
            [("a1", _img(1)), ("f1", flat1)], "path string, content binary"
        ),
        0, idx, acc, **kw,
    )
    process_batch(
        spark.createDataFrame(
            [("a2", _resized(1)), ("f2", flat2)],
            "path string, content binary",
        ),
        1, idx, acc, **kw,
    )
    assert {r["path"] for r in spark.read.parquet(acc).collect()} == {
        "a1", "f1", "f2",
    }
    assert {r["mid"] for r in spark.read.parquet(idx).collect()} == {"a1"}


def test_gate_batch_banded_index_identical(spark, tmp_path):
    """gate_batch over the materialized banded bucketed index must
    decide exactly as over the flat index (the corpus-scale read
    layout, maintenance.materialize_banded_index)."""
    from dbbspark.maintenance import materialize_banded_index
    from dbbspark.streaming.mediadedup import _index_hashes

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    process_batch(
        spark.createDataFrame(
            [("a1", _img(1)), ("b1", _img(2))], "path string, content binary"
        ),
        0, idx, acc,
    )
    from dbbspark.operators.phash import dhash_col, thumbnails

    batch = spark.createDataFrame(
        [("a2", _resized(1)), ("c1", _img(3))], "path string, content binary"
    )
    hashed = thumbnails(batch, kind="pgm").select(
        "path", dhash_col("thumb").alias("phash")
    ).localCheckpoint()
    flat = {
        r["path"]
        for r in gate_batch(hashed, _index_hashes(spark, idx)).collect()
    }
    try:
        n = materialize_banded_index(spark, idx, "t_media_banded")
        assert n == 2 * 5  # 2 hashes x (d+1 = 5) bands
        banded = {
            r["path"]
            for r in gate_batch(
                hashed, spark.table("t_media_banded"), index_banded=True
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS t_media_banded")
    assert flat == banded == {"c1"}
