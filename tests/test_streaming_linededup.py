"""Streaming line-dedup gate (streaming/linededup.py): boilerplate
lines must be removed once their CUMULATIVE df (index + batch) reaches
min_df — within one batch and across micro-batches via the persisted
frequency index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbbspark.streaming.linededup import (
    gate_batch,
    index_df,
    process_batch,
    streaming_line_dedup,
)

BOILER = "subscribe to our newsletter"
BODY1 = "first article body text"
BODY2 = "second article body text"
BODY3 = "third article body text"
BODY4 = "fourth article body text"


def _stream(spark, src):
    return spark.readStream.schema("doc_id long, text string").parquet(str(src))


def _drop(spark, src, rows, name):
    import glob
    import os
    import shutil

    stage = f"{src}_{name}_stage"
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(stage)
    os.makedirs(src, exist_ok=True)
    shutil.move(
        glob.glob(f"{stage}/part-*.parquet")[0],
        os.path.join(str(src), f"{name}.parquet"),
    )
    shutil.rmtree(stage)


def _run(spark, src, tmp, min_df=2):
    q = streaming_line_dedup(
        _stream(spark, src),
        str(tmp / "idx"),
        str(tmp / "out"),
        str(tmp / "ck"),
        min_df=min_df,
    )
    q.awaitTermination()


def _texts(spark, tmp):
    return {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(tmp / "out")).collect()
    }


def test_gate_within_and_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1: the boiler line appears twice → caught IN-batch for both
    _drop(
        spark,
        src,
        [(1, f"{BOILER}\n{BODY1}"), (2, f"{BOILER}\n{BODY2}"), (3, BODY3)],
        "b1",
    )
    _run(spark, src, tmp_path)
    got = _texts(spark, tmp_path)
    assert got[1] == BODY1 and got[2] == BODY2  # cumulative rule: both cut
    assert got[3] == BODY3

    # batch 2: one more occurrence — index df already 2, so cut; body kept
    _drop(spark, src, [(4, f"{BOILER}\n{BODY4}")], "b2")
    _run(spark, src, tmp_path)
    got = _texts(spark, tmp_path)
    assert got[4] == BODY4
    # index remembers all three mentions of the boiler line
    idx = {r["h"]: r["df"] for r in index_df(spark, str(tmp_path / "idx")).collect()}
    assert 3 in set(idx.values())


def test_first_occurrence_passes_then_stream_tightens(spark, tmp_path):
    src = str(tmp_path / "src")
    # a single occurrence is NOT boilerplate yet → passes through
    _drop(spark, src, [(1, f"{BOILER}\n{BODY1}")], "b1")
    _run(spark, src, tmp_path)
    assert _texts(spark, tmp_path)[1] == f"{BOILER}\n{BODY1}"

    # second occurrence crosses min_df → cut from the NEW doc only
    # (doc 1 already emitted — the documented prefix-knowledge gap)
    _drop(spark, src, [(2, f"{BOILER}\n{BODY2}")], "b2")
    _run(spark, src, tmp_path)
    got = _texts(spark, tmp_path)
    assert got[2] == BODY2
    assert got[1] == f"{BOILER}\n{BODY1}"


def test_batch_caller_equals_streaming(spark, tmp_path):
    # direct gate_batch over one batch == what the stream emitted
    batch = spark.createDataFrame(
        [(1, f"{BOILER}\n{BODY1}"), (2, f"{BOILER}\n{BODY2}"), (3, BODY3)],
        "doc_id long, text string",
    )
    empty = index_df(spark, str(tmp_path / "nonexistent-idx"))
    deduped, updated = gate_batch(batch, empty)
    got = {r["doc_id"]: r["text"] for r in deduped.collect()}
    assert got == {1: BODY1, 2: BODY2, 3: BODY3}
    # updated index: every distinct normalized line with its batch count
    counts = {r["df"] for r in updated.collect()}
    assert 2 in counts  # the boiler line
    assert updated.where(F.col("h").isNull()).count() == 0


def _gated_rows(spark, rows, tmp_path):
    """(doc_id, text) rows the gate emits for one batch, sorted — the
    cached path (`process_batch`) and the direct one (`gate_batch`)
    must agree, then the cached path's output is returned."""
    schema = "doc_id long, text string"
    deduped, _ = gate_batch(
        spark.createDataFrame(rows, schema),
        index_df(spark, str(tmp_path / "nonexistent-idx")),
    )
    direct = sorted(tuple(r) for r in deduped.collect())
    out = str(tmp_path / "out")
    process_batch(spark.createDataFrame(rows, schema), 0, str(tmp_path / "idx"), out)
    cached = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert cached == direct
    return cached


def test_null_text_emits_one_empty_document(spark, tmp_path):
    """A NULL text counts no lines and comes out once, as ``""``."""
    rows = [(1, f"{BOILER}\n{BODY1}"), (2, None), (3, f"{BOILER}\n{BODY3}")]
    assert _gated_rows(spark, rows, tmp_path) == [(1, BODY1), (2, ""), (3, BODY3)]
    index = {r["df"] for r in index_df(spark, str(tmp_path / "idx")).collect()}
    assert index == {1, 2}


def test_duplicate_ids_each_emit_the_merged_lines(spark, tmp_path):
    """Rows sharing an id keep one output row each; every one of them
    carries the surviving lines of all of them in line-number order, and
    a NULL-text row among them adds nothing."""
    rows = [
        (1, f"{BOILER}\n{BODY1}"),
        (1, f"{BODY2}\n{BOILER}"),
        (1, None),
        (2, BODY3),
    ]
    merged = f"{BODY2}\n{BODY1}"
    assert _gated_rows(spark, rows, tmp_path) == [
        (1, merged), (1, merged), (1, merged), (2, BODY3)
    ]


def test_min_df_validation(spark, tmp_path):
    batch = spark.createDataFrame([(1, BODY1)], "doc_id long, text string")
    with pytest.raises(ValueError):
        gate_batch(batch, index_df(spark, str(tmp_path / "x")), min_df=1)


def test_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the SAME batch_id
    (crash after side-effects, before checkpoint commit) must leave
    output rows and index counts byte-identical — no doubled docs, no
    doubled df."""
    from dbbspark.streaming.linededup import process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, f"{BOILER}\n{BODY1}"), (2, f"{BOILER}\n{BODY2}")],
        "doc_id long, text string",
    )
    process_batch(b1, 0, idx, out)
    b2 = spark.createDataFrame(
        [(3, f"{BOILER}\n{BODY3}")], "doc_id long, text string"
    )
    process_batch(b2, 1, idx, out)
    docs_once = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    )
    idx_once = sorted(
        (r["h"], r["df"]) for r in index_df(spark, idx).collect()
    )
    # retry batch 1 twice more — crashed-attempt re-runs
    process_batch(b2, 1, idx, out)
    process_batch(b2, 1, idx, out)
    assert sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    ) == docs_once
    assert sorted(
        (r["h"], r["df"]) for r in index_df(spark, idx).collect()
    ) == idx_once
    # the boiler line's df counts each doc exactly once: 2 (b1) + 1 (b2)
    assert max(df for _, df in idx_once) == 3


def test_crashed_snapshot_not_read_by_retry(spark, tmp_path):
    """A committed-but-unacknowledged v=<bid> snapshot must be invisible
    to the retry of batch <bid> (reading it would double the batch's own
    counts), while the predecessor snapshot survives pruning."""
    from dbbspark.streaming.linededup import process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, f"{BOILER}\n{BODY1}")], "doc_id long, text string"
    )
    process_batch(b1, 0, idx, out)
    # batch 1 ran fully (v=1 exists) but checkpoint never committed
    b2 = spark.createDataFrame(
        [(2, f"{BOILER}\n{BODY2}")], "doc_id long, text string"
    )
    process_batch(b2, 1, idx, out)
    # retry of batch 1 resolves the v=0 predecessor, not its own v=1
    assert {
        r["df"] for r in index_df(spark, idx, before=1).collect()
    } == {1}
    process_batch(b2, 1, idx, out)
    dfs = sorted(r["df"] for r in index_df(spark, idx).collect())
    # boiler counted once per doc (2), each body line once — NOT doubled
    # to 4/2 by the retry re-reading its own v=1 snapshot
    assert dfs == [1, 1, 2]


def test_first_batch_crash_leaves_index_empty_for_retry(spark, tmp_path):
    """VERDICT r6 scenario A: the FIRST-ever snapshot write crashes
    before commit. The retry must see an EMPTY index — never read the
    crashed attempt's partial rows back as the 'prior index' (the old
    root-path fallback did exactly that) — so its gate decisions are
    byte-identical to a run that never crashed."""
    from dbbspark.streaming.linededup import process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, f"{BOILER}\n{BODY1}"), (2, f"{BOILER}\n{BODY2}")],
        "doc_id long, text string",
    )
    # clean run for the expected decisions
    cidx, cout = str(tmp_path / "cidx"), str(tmp_path / "cout")
    process_batch(b1, 0, cidx, cout)
    expected = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(cout).collect()
    )

    # crash shape 1: writer died mid-stage — orphan _staging only
    fake = spark.createDataFrame([(123, 99)], "h long, df long")
    fake.write.parquet(f"{idx}/_staging/deadtoken/batch=0")
    assert index_df(spark, idx, before=0).count() == 0  # not 1
    # crash shape 2: burned slot — commit record, no data dir
    import os

    os.makedirs(f"{idx}/_commits", exist_ok=True)
    open(f"{idx}/_commits/0", "w").write("{}")
    assert index_df(spark, idx, before=0).count() == 0
    # crash shape 3 (the old layout's hazard): a v= data dir with real
    # parquet rows but no _SUCCESS and no commit record
    fake.write.parquet(f"{idx}/v=7/batch=0")
    spark._jvm.org.apache.hadoop.fs.Path  # force jvm init
    fs, root, jvm = __import__(
        "dbbspark.maintenance", fromlist=["_fs_and_path"]
    )._fs_and_path(spark, f"{idx}/v=7")
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{idx}/v=7/_SUCCESS"), False)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{idx}/v=7/batch=0/_SUCCESS"), False)
    assert index_df(spark, idx, before=0).count() == 0

    # the retry now runs against the truly-empty index: decisions match
    process_batch(b1, 0, idx, out)
    got = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    assert got == expected


def test_fs_error_during_resolution_propagates(spark, tmp_path, monkeypatch):
    """VERDICT r6 scenario B: a transient FS failure while listing the
    commit log must RAISE — the old code swallowed it into 'no versions'
    and read the root, multiplying the index by the union of retained
    snapshots."""
    import dbbspark.commit as commit_mod
    from dbbspark.streaming.linededup import process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, f"{BOILER}\n{BODY1}")], "doc_id long, text string"
    )
    process_batch(b1, 0, idx, out)
    real = commit_mod._fs_and_path

    class BrokenFS:
        def __init__(self, inner):
            self._inner = inner

        def exists(self, p):
            return self._inner.exists(p)

        def listStatus(self, p):
            raise IOError("injected transient FS failure")

        def __getattr__(self, name):
            return getattr(self._inner, name)

    def broken(sp, path):
        fs, hpath, jvm = real(sp, path)
        return BrokenFS(fs), hpath, jvm

    monkeypatch.setattr(commit_mod, "_fs_and_path", broken)
    with pytest.raises(Exception, match="injected transient FS failure"):
        index_df(spark, idx)


def test_double_crash_retry_predecessor_survives_prune(spark, tmp_path):
    """A retried batch commits a SECOND snapshot for the same batch id;
    pruning must keep the newest snapshot of the two highest BATCH ids
    (not the two highest versions), or a further retry of that batch
    would resolve an empty index and emit different docs."""
    from dbbspark.streaming.linededup import process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, f"{BOILER}\n{BODY1}")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(2, f"{BOILER}\n{BODY2}")], "doc_id long, text string"
    )
    process_batch(b1, 0, idx, out)
    process_batch(b2, 1, idx, out)  # attempt A: commits, prunes
    process_batch(b2, 1, idx, out)  # attempt B: second batch=1 snapshot
    # a THIRD retry still resolves the batch=0 predecessor, not empty
    assert {r["df"] for r in index_df(spark, idx, before=1).collect()} == {1}
    process_batch(b2, 1, idx, out)
    dfs = sorted(r["df"] for r in index_df(spark, idx).collect())
    assert dfs == [1, 1, 2]  # boiler 2 (once per doc), bodies 1 each


def test_soak_state_stays_bounded(spark, tmp_path):
    """Mini-soak (the bench_scale gate_soak op measures the full curve):
    15 batches with maintenance interleaved must leave BOUNDED state —
    at most two retained snapshots, a commit log that record-pruning
    keeps at O(retained), no staging orphans — and the index df counts
    must equal what one batch run over the whole corpus would see."""
    import os

    from dbbspark.commit import (
        committed_versions,
        gc_staging,
        prune_commit_records,
    )
    from dbbspark.streaming.linededup import process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    n_batches = 15
    for i in range(n_batches):
        batch = spark.createDataFrame(
            [(i * 10 + j, f"{BOILER}\nbody {i} {j}") for j in range(4)],
            "doc_id long, text string",
        )
        process_batch(batch, i, idx, out)
        if (i + 1) % 5 == 0:
            gc_staging(spark, idx, older_than_sec=0.0)
            prune_commit_records(spark, idx, older_than_sec=0.0)
    # bounded state: <=2 snapshot data dirs, commit log pruned to
    # O(retained), no staging leftovers
    vs = committed_versions(spark, idx)
    assert len(vs) <= 2
    records = os.listdir(os.path.join(idx, "_commits"))
    assert len(records) <= 6  # retained + up-to-5 since the last prune
    staging = os.path.join(idx, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    # the rolling index still carries the TOTAL df across all batches
    dfs = {r["df"] for r in index_df(spark, idx).collect()}
    assert n_batches * 4 in dfs  # the boiler line: every doc, every batch


def test_legacy_layout_raises_then_migrates(spark, tmp_path):
    """ADVICE r8 (medium): a pre-protocol v=<batch>+_SUCCESS index dir
    must never silently resolve as EMPTY on in-place upgrade — index_df
    refuses until migrate_legacy_index backfills the commit protocol,
    after which the gate resumes with its accumulated counts."""
    import shutil

    from dbbspark.streaming.linededup import (
        migrate_legacy_index,
        process_batch,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    # build a REAL index state, then rewrite it in the legacy layout:
    # (h, df) rows directly under v=<batch_id> (Spark leaves _SUCCESS),
    # no _commits log
    b1 = spark.createDataFrame(
        [(1, f"{BOILER}\n{BODY1}"), (2, f"{BOILER}\n{BODY2}")],
        "doc_id long, text string",
    )
    process_batch(b1, 0, idx, out)
    state = [(r["h"], r["df"]) for r in index_df(spark, idx).collect()]
    shutil.rmtree(idx)
    spark.createDataFrame(state, "h long, df long").write.parquet(f"{idx}/v=0")
    with pytest.raises(RuntimeError, match="legacy"):
        index_df(spark, idx)
    assert migrate_legacy_index(spark, idx) == {idx: [0]}
    assert migrate_legacy_index(spark, idx) == {}  # idempotent: no-op
    got = {r["h"]: r["df"] for r in index_df(spark, idx).collect()}
    assert got == dict(state)
    # the gate continues counting on top of the migrated index: the
    # boiler line sits at df=2 already, so the next batch cuts it
    b2 = spark.createDataFrame(
        [(3, f"{BOILER}\n{BODY3}")], "doc_id long, text string"
    )
    process_batch(b2, 1, idx, out)
    texts = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    assert texts[3] == BODY3


def test_legacy_migration_preserves_retry_predecessor(spark, tmp_path):
    """Migration re-commits the newest TWO legacy snapshots: a stream
    resuming on a crashed checkpoint re-runs its last batch id and must
    resolve the snapshot BEFORE it, exactly as under the protocol."""
    from dbbspark.streaming.linededup import migrate_legacy_index

    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [(11, 1)], "h long, df long"
    ).write.parquet(f"{idx}/v=3")
    spark.createDataFrame(
        [(11, 2), (22, 1)], "h long, df long"
    ).write.parquet(f"{idx}/v=4")
    assert migrate_legacy_index(spark, idx) == {idx: [3, 4]}
    # newest resolves batch 4; the retry of batch 4 resolves batch 3
    assert {
        r["h"]: r["df"] for r in index_df(spark, idx).collect()
    } == {11: 2, 22: 1}
    assert {
        r["h"]: r["df"] for r in index_df(spark, idx, before=4).collect()
    } == {11: 1}


def test_legacy_migration_resumes_after_crash_between_commits(spark, tmp_path):
    """ADVICE r8 (medium): a migration that crashed after committing the
    older of its two snapshots must not read as "done" on re-run — the
    _commits log exists, but the newest legacy counts are still only in
    the legacy dir. index_df refuses, and migrate_legacy_index commits
    exactly the missing tail (preserving version/batch monotonicity)."""
    from dbbspark.streaming.linededup import (
        _commit_for_batch,
        migrate_legacy_index,
    )

    idx = str(tmp_path / "idx")
    spark.createDataFrame([(11, 1)], "h long, df long").write.parquet(
        f"{idx}/v=3"
    )
    spark.createDataFrame(
        [(11, 2), (22, 1)], "h long, df long"
    ).write.parquet(f"{idx}/v=4")
    # simulate the crash state: batch 3 committed, batch 4 not, legacy
    # dirs still present (deletes only happen after all commits)
    _commit_for_batch(
        spark, idx, spark.createDataFrame([(11, 1)], "h long, df long"), 3
    )
    with pytest.raises(RuntimeError, match="legacy"):
        index_df(spark, idx)  # would otherwise resolve batch 3 and lose 4
    assert migrate_legacy_index(spark, idx) == {idx: [4]}
    assert {
        r["h"]: r["df"] for r in index_df(spark, idx).collect()
    } == {11: 2, 22: 1}
    assert {
        r["h"]: r["df"] for r in index_df(spark, idx, before=4).collect()
    } == {11: 1}


def test_legacy_migration_sweeps_orphans_after_crash_before_delete(
    spark, tmp_path
):
    """A crash after both commits but before the legacy-dir deletes
    leaves orphans resolution ignores; the re-run deletes them and
    commits nothing new."""
    import os

    from dbbspark.streaming.linededup import (
        _commit_for_batch,
        migrate_legacy_index,
    )

    idx = str(tmp_path / "idx")
    spark.createDataFrame([(11, 1)], "h long, df long").write.parquet(
        f"{idx}/v=3"
    )
    spark.createDataFrame([(11, 2)], "h long, df long").write.parquet(
        f"{idx}/v=4"
    )
    _commit_for_batch(
        spark, idx, spark.createDataFrame([(11, 1)], "h long, df long"), 3
    )
    _commit_for_batch(
        spark, idx, spark.createDataFrame([(11, 2)], "h long, df long"), 4
    )
    # both committed: the index resolves without refusal, orphans or not
    assert {r["h"]: r["df"] for r in index_df(spark, idx).collect()} == {11: 2}
    assert migrate_legacy_index(spark, idx) == {idx: []}
    legacy_left = [
        d
        for d in os.listdir(idx)
        if d.startswith("v=")
        and os.path.exists(os.path.join(idx, d, "_SUCCESS"))
        and not any(
            e.startswith("batch=") for e in os.listdir(os.path.join(idx, d))
        )
    ]
    assert legacy_left == []
    assert {r["h"]: r["df"] for r in index_df(spark, idx).collect()} == {11: 2}


def test_legacy_migration_reports_bloom_sibling(spark, tmp_path):
    """ADVICE r8 (low): a bloom-sibling-only migration is visible in the
    return value — per-root ids, not [] pretending nothing happened."""
    from dbbspark.streaming.linededup import (
        _bloom_root,
        migrate_legacy_index,
    )

    idx = str(tmp_path / "idx")
    bloom = _bloom_root(idx)
    spark.createDataFrame(
        [(7, 1)], "h long, df long"
    ).write.parquet(f"{bloom}/v=2")
    assert migrate_legacy_index(spark, idx) == {bloom: [2]}
    assert migrate_legacy_index(spark, idx) == {}


def test_bloom_enabled_mid_stream_covers_prior_corpus(spark, tmp_path):
    """ADVICE r9: turning use_bloom on over an index with pre-flag
    history must save a filter covering the FULL index, not the enabling
    batch — else later batches skip joins against the older corpus and
    boilerplate lines sail through."""
    from dbbspark.streaming.linededup import process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    # batch 0 (bloom off): BOILER reaches df=2 — at min_df=2 any later
    # occurrence must be cut
    process_batch(
        spark.createDataFrame(
            [(1, f"{BOILER}\n{BODY1}"), (2, f"{BOILER}\n{BODY2}")],
            "doc_id long, text string",
        ),
        0, idx, out,
    )
    # batch 1: bloom turns ON with a doc that shares nothing with the
    # pre-flag corpus; the saved filter must cover BOILER anyway
    process_batch(
        spark.createDataFrame([(3, BODY3)], "doc_id long, text string"),
        1, idx, out, use_bloom=True,
    )
    # batch 2: BOILER again — a batch-only filter from batch 1 would
    # prove its hash absent, skip the join, and keep the line (bug)
    process_batch(
        spark.createDataFrame(
            [(4, f"{BOILER}\n{BODY4}")], "doc_id long, text string"
        ),
        2, idx, out, use_bloom=True,
    )
    texts = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    assert texts[4] == BODY4  # boilerplate cut against pre-flag corpus
