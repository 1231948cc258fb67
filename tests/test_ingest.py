"""Ingest-pipeline invariants (SURVEY.md §5 item 3, FIXTURES.md §4).

Mirrors the reference's operational checks: checksum-mismatch rows land in
quarantine and nowhere else; duplicate ingestion is idempotent (second run
adds 0 registry rows); missing required headers quarantine instead of
aborting; the streaming checkpoint prevents reprocessing.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import pytest
from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from dbbspark.plans.keywords import parse_keyword_csv
from dbbspark.sources.logs import last_matching_line, read_log
from dbbspark.sources.multimodal import decode_media, read_binary_docs
from dbbspark.sources.notify import parse_config_text, read_stagein_pairs
from dbbspark.streaming.ingest import (
    IngestConfig,
    IngestResult,
    REASON_CHECKSUM,
    REASON_DUPLICATE,
    REASON_MISSING_DATA,
    REASON_MISSING_HEADER,
    REASON_UNKNOWN_FILETYPE,
    ingest_batch,
    start_ingest_stream,
)
from dbbspark.streaming.provenance import create_task, read_tasks

KEYWORDS = parse_keyword_csv("EXPNUM,R,N\nOBSTYPE,Y,N\nIGNORED,N,Y\n")


def _write(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


def _stage(tmp, name: str, data: bytes, md5: str | None = "auto", notify_extra: str = ""):
    """Create a data file + its .dbb notify file."""
    _write(os.path.join(tmp, "delivery", name), data)
    lines = notify_extra
    if md5 == "auto":
        md5 = hashlib.md5(data).hexdigest()
    if md5 is not None:
        lines += f"md5sum = {md5}\n"
    _write(os.path.join(tmp, "notify", name + ".dbb"), lines.encode())


@pytest.fixture()
def area(tmp_path):
    tmp = str(tmp_path)
    for d in ("notify", "delivery", "archive", "registry", "quarantine", "ckpt", "task"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    # good FITS-ish file with required header present
    _stage(tmp, "DECam_00000001.fits", b"EXPNUM = 1\nOBSTYPE = object\npayload")
    # good manifest
    _stage(tmp, "manifest_SN_X1.json", b'{"field": "X1"}')
    # checksum mismatch
    _stage(tmp, "DECam_00000002.fits", b"EXPNUM = 2\nbits", md5="0" * 32)
    # unknown filetype
    _stage(tmp, "mystery.dat", b"whatever")
    # missing required header (EXPNUM is R-flagged)
    _stage(tmp, "DECam_00000003.fits", b"OBSTYPE = zero\nbits")
    # notify with no data file
    _write(os.path.join(tmp, "notify", "ghost.fits.dbb"), b"md5sum = abc\n")
    return tmp


def _cfg(tmp) -> IngestConfig:
    return IngestConfig(
        notify_dir=os.path.join(tmp, "notify"),
        delivery_dir=os.path.join(tmp, "delivery"),
        archive_root=os.path.join(tmp, "archive", "data"),
        registry_path=os.path.join(tmp, "registry", "files"),
        quarantine_path=os.path.join(tmp, "quarantine", "bad"),
        keyword_schemas={"raw": KEYWORDS},
    )


def _reasons(spark, cfg) -> dict[str, list[str]]:
    rows = spark.read.parquet(cfg.quarantine_path).collect()
    out: dict[str, list[str]] = {}
    for r in rows:
        out.setdefault(r["rejected_msg"], []).append(r["orig_filename"])
    return out


def test_batch_ingest_routing(spark, area):
    cfg = _cfg(area)
    res: IngestResult = ingest_batch(spark, cfg, task_id="t-1")

    assert res.archived == 2
    assert res.quarantined == 4
    reasons = _reasons(spark, cfg)
    assert reasons[REASON_CHECKSUM] == ["DECam_00000002.fits"]
    assert reasons[REASON_UNKNOWN_FILETYPE] == ["mystery.dat"]
    assert reasons[REASON_MISSING_HEADER] == ["DECam_00000003.fits"]
    assert reasons[REASON_MISSING_DATA] == ["ghost.fits"]

    # archive holds exactly the valid files, partitioned by filetype
    arch = spark.read.parquet(cfg.archive_root)
    names = {r["filename"] for r in arch.select("filename").collect()}
    assert names == {"DECam_00000001.fits", "manifest_SN_X1.json"}
    assert {r["filetype"] for r in arch.collect()} == {"raw", "snmanifest"}
    # metadata extracted into the typed side-struct (as json here)
    meta = {
        r["filename"]: r["meta_json"]
        for r in arch.select("filename", "meta_json").collect()
    }
    assert '"expnum":"1"' in meta["DECam_00000001.fits"].replace(" ", "")

    # registry rows carry provenance task_id
    reg = spark.read.parquet(cfg.registry_path)
    assert reg.count() == 2
    assert {r["task_id"] for r in reg.collect()} == {"t-1"}


def _parquet_files_per_leaf(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[os.path.relpath(dirpath, root)] = n
    return out


def test_small_night_writes_one_file_per_leaf(spark, area):
    """A small night is written from one right-sized partition: one
    Parquet file per archive (filetype, nite, batch) leaf and per
    registry nite partition, however many input splits the scan made."""
    for i in range(10, 22):
        _stage(area, f"DECam_{i:08d}.fits", f"EXPNUM = {i}\npayload".encode())
    for i in range(4):
        _stage(area, f"manifest_SN_Y{i}.json", b"{}")
    cfg = _cfg(area)
    assert ingest_batch(spark, cfg).archived == 18
    archive = _parquet_files_per_leaf(cfg.archive_root)
    assert len(archive) == 2 and set(archive.values()) == {1}, archive
    registry = _parquet_files_per_leaf(cfg.registry_path)
    assert set(registry.values()) == {1}, registry


def test_reingest_is_idempotent(spark, area):
    cfg = _cfg(area)
    first = ingest_batch(spark, cfg)
    assert first.archived == 2
    # same stage-in contents re-presented (notify ack replaced by registry
    # gate): nothing new archived, previously-good files now duplicates
    second = ingest_batch(spark, cfg)
    assert second.archived == 0
    assert second.by_reason[REASON_DUPLICATE] == 2
    assert spark.read.parquet(cfg.registry_path).count() == 2
    arch = spark.read.parquet(cfg.archive_root)
    assert arch.count() == 2


def test_archive_exactly_once_on_crash_replay(spark, area):
    """ST4 hardening: a crash AFTER the archive write but BEFORE the
    (deliberately last) registry append used to double-append the archive
    on replay. The batch-token dynamic overwrite makes the replay REPLACE
    its own crashed attempt's rows: archive count unchanged, one batch
    partition per file, registry exactly-once."""
    import shutil

    cfg = _cfg(area)
    first = ingest_batch(spark, cfg)
    assert first.archived == 2
    arch1 = spark.read.parquet(cfg.archive_root)
    assert arch1.count() == 2
    tok1 = {r["batch"] for r in arch1.select("batch").distinct().collect()}
    assert len(tok1) == 1

    # simulate the crash window: archive write landed, registry append
    # did not — replay sees an unregistered batch and re-ingests it.
    shutil.rmtree(cfg.registry_path)
    replay = ingest_batch(spark, cfg)
    assert replay.archived == 2
    arch2 = spark.read.parquet(cfg.archive_root)
    assert arch2.count() == 2, "replay must overwrite, not append"
    # same stage-in contents => same content-derived token
    assert {
        r["batch"] for r in arch2.select("batch").distinct().collect()
    } == tok1
    assert spark.read.parquet(cfg.registry_path).count() == 2

    # a later, DIFFERENT batch appends under its own token (no cross-batch
    # clobber): re-present only new files by clearing the registry gate
    # for them is not possible here, so assert the token derivation
    # directly instead.
    from dbbspark.streaming.ingest import _batch_summary

    schema = "data_name string, reject_reason string, filesize long"
    other = spark.createDataFrame(
        [("zzz.fits", None, 1), ("aaa.fits", None, 1)], schema
    )
    t_other = _batch_summary(other)[0]
    t_same_reordered = _batch_summary(
        spark.createDataFrame([("aaa.fits", None, 1), ("zzz.fits", None, 1)], schema)
    )[0]
    t_split = _batch_summary(
        spark.createDataFrame([("aaa.fits", None, 1), ("zzz.fits", REASON_DUPLICATE, 1)], schema)
    )[0]
    assert t_other == t_same_reordered, "token must be order-independent"
    assert t_split == t_other, "token must not depend on the reason split"
    assert t_other not in tok1


def test_explicit_batch_token_replay_overwrites(spark, area):
    """Callers with their own globally-unique batch ids may pass an
    EXPLICIT token; a replay under the same token must overwrite its own
    partition just like the derived content-token path. (The streaming
    path itself derives content tokens — epoch ids restart after a
    checkpoint reset and are NOT globally unique; see the reset test.)"""
    import shutil

    cfg = _cfg(area)
    first = ingest_batch(spark, cfg, batch_token="b7")
    assert first.archived == 2
    shutil.rmtree(cfg.registry_path)  # crash window: registry not landed
    replay = ingest_batch(spark, cfg, batch_token="b7")
    assert replay.archived == 2
    arch = spark.read.parquet(cfg.archive_root)
    assert arch.count() == 2
    assert {r["batch"] for r in arch.select("batch").distinct().collect()} == {
        "b7"
    }


def test_streaming_token_unique_across_checkpoint_reset(spark, area):
    """ADVICE r10 (medium): streaming epoch ids restart at 0 after a
    checkpoint reset (and two streams on one archive root each count from
    0), so the archive's dynamic-partition overwrite must NOT be keyed by
    epoch id — a post-reset batch landing in the same (filetype, nite)
    leaf under the reused token would silently DELETE the earlier batch's
    archived rows while the registry still listed them. The streaming
    path now derives the content-hash token; a reset drain appends under
    its own token and the original rows survive."""
    import shutil

    cfg = _cfg(area)
    ckpt = os.path.join(area, "ckpt", "reset")
    q = start_ingest_stream(spark, cfg, ckpt, available_now=True)
    q.awaitTermination(120)
    arch1 = spark.read.parquet(cfg.archive_root)
    tok1 = {r["batch"] for r in arch1.select("batch").distinct().collect()}
    assert arch1.count() == 2
    assert all(t.startswith("c") for t in tok1), "content tokens expected"

    # checkpoint RESET + one new file: the fresh stream's first epoch id
    # is 0 again. Old notify files replay as registry duplicates; the new
    # file archives into the SAME (filetype, nite) leaf as the first
    # drain; the original rows must survive the overwrite.
    shutil.rmtree(ckpt)
    _stage(area, "DECam_00000009.fits", b"EXPNUM = 9\nOBSTYPE = object\nnew")
    q2 = start_ingest_stream(spark, cfg, ckpt, available_now=True)
    q2.awaitTermination(120)
    arch = spark.read.parquet(cfg.archive_root)
    assert arch.count() == 3
    names = {r["filename"] for r in arch.select("filename").collect()}
    assert {"DECam_00000001.fits", "DECam_00000009.fits"} <= names


def test_streaming_checkpoint_no_reprocess(spark, area):
    cfg = _cfg(area)
    ckpt = os.path.join(area, "ckpt", "ingest")
    q = start_ingest_stream(spark, cfg, ckpt, available_now=True)
    q.awaitTermination(120)
    assert spark.read.parquet(cfg.registry_path).count() == 2

    # drain again with the same checkpoint: notify files already consumed,
    # no new micro-batch work, still 2 registry rows (not duplicates — the
    # stream never re-reads them)
    q2 = start_ingest_stream(spark, cfg, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(cfg.registry_path).count() == 2
    quarantined = spark.read.parquet(cfg.quarantine_path)
    assert quarantined.where(quarantined.rejected_msg == REASON_DUPLICATE).count() == 0

    # a newly staged file IS picked up by the next drain
    _stage(area, "DECam_00000009.fits", b"EXPNUM = 9\nnew bits")
    q3 = start_ingest_stream(spark, cfg, ckpt, available_now=True)
    q3.awaitTermination(120)
    assert spark.read.parquet(cfg.registry_path).count() == 3


def test_streaming_multi_batch_rate_limit(spark, area):
    """maxFilesPerTrigger splits the drain into several micro-batches;
    later batches must see earlier batches' registry rows (a duplicate
    staged twice under different notify timing would quarantine)."""
    cfg = _cfg(area)
    ckpt = os.path.join(area, "ckpt", "multi")
    q = start_ingest_stream(
        spark, cfg, ckpt, available_now=True, max_files_per_trigger=2
    )
    q.awaitTermination(180)
    # same outcome as the single-batch drain: 2 archived, 4 quarantined
    assert spark.read.parquet(cfg.registry_path).count() == 2
    reasons = _reasons(spark, cfg)
    assert sum(len(v) for v in reasons.values()) == 4
    # progress shows more than one micro-batch actually ran
    assert len(q.recentProgress) > 1


def test_streaming_failure_replay_is_exactly_once(spark, area, monkeypatch):
    """ST4: a micro-batch that fails mid-processing is replayed after
    restart (checkpoint not advanced), and the replay does not duplicate
    archive/registry rows — the exactly-once contract under failure."""
    import pyspark.errors

    import dbbspark.streaming.ingest as ingest_mod

    cfg = _cfg(area)
    ckpt = os.path.join(area, "ckpt", "replay")
    orig = ingest_mod.ingest_batch
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected batch failure")
        return orig(*args, **kwargs)

    monkeypatch.setattr(ingest_mod, "ingest_batch", flaky)
    q = ingest_mod.start_ingest_stream(spark, cfg, ckpt, available_now=True)
    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
        q.awaitTermination()
    assert calls["n"] == 1
    assert not os.path.exists(cfg.registry_path) or not [
        f for f in os.listdir(cfg.registry_path) if f.endswith(".parquet")
    ]

    # restart with the same checkpoint: the failed batch replays
    q2 = ingest_mod.start_ingest_stream(spark, cfg, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert calls["n"] == 2
    reg = spark.read.parquet(cfg.registry_path)
    assert reg.count() == 2
    assert reg.select("filename").distinct().count() == 2


def test_provenance_task_threading(spark, area, tmp_path):
    cfg = _cfg(area)
    task_path = os.path.join(area, "task", "tasks")
    tid = create_task(spark, task_path, label="DBB_stagein_to_DBB")
    ingest_batch(spark, cfg, task_id=tid)
    tasks = read_tasks(spark, task_path)
    assert tasks.where(tasks.task_id == tid).count() == 1
    # every archive + quarantine row traces to the root task
    assert {
        r["task_id"] for r in spark.read.parquet(cfg.archive_root).collect()
    } == {tid}
    assert {
        r["task_id"] for r in spark.read.parquet(cfg.quarantine_path).collect()
    } == {tid}


def test_pairing_missing_data_has_null_content(spark, area):
    pairs = read_stagein_pairs(
        spark, os.path.join(area, "notify"), os.path.join(area, "delivery")
    )
    rows = {r["data_name"]: r for r in pairs.collect()}
    assert rows["ghost.fits"]["content"] is None
    assert rows["DECam_00000001.fits"]["content"] is not None
    assert rows["DECam_00000002.fits"]["declared_md5"] == "0" * 32


def test_archive_reads_partition_prune(spark, area):
    """The partitioned archive layout (S9) must give downstream readers
    partition pruning — the reference's manual one-nite-at-a-time querying
    (bin/monitor_DBB_stagein.py:794-797) for free."""
    cfg = _cfg(area)
    ingest_batch(spark, cfg)
    arch = spark.read.parquet(cfg.archive_root)
    pruned = arch.where(arch.filetype == "raw")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "filetype" in pf, pf
    assert pruned.count() == 1
    # content survives the archive round-trip byte-for-byte (md5 parity)
    row = pruned.select("filename", "content", "md5sum").first()
    assert hashlib.md5(bytes(row["content"])).hexdigest() == row["md5sum"]


def test_unnotified_data_files_diagnostic(spark, area):
    from dbbspark.sources.notify import unnotified_data_files

    # a data file with an EMPTY notify (invisible to binaryFile) and one
    # with no notify at all both surface in the diagnostic
    _write(os.path.join(area, "delivery", "early.fits"), b"no notify yet")
    _write(os.path.join(area, "delivery", "emptynotify.fits"), b"bits")
    _write(os.path.join(area, "notify", "emptynotify.fits.dbb"), b"")
    rows = unnotified_data_files(
        spark, os.path.join(area, "notify"), os.path.join(area, "delivery")
    ).collect()
    assert {r["data_name"] for r in rows} == {"early.fits", "emptynotify.fits"}


def test_config_source(spark, tmp_path):
    p = str(tmp_path / "x.cfg")
    _write(p, b"# comment\nNotify_Dir = /a/b\n\narchive = root\n")
    assert parse_config_text(spark, p) == {"notify_dir": "/a/b", "archive": "root"}


def test_config_and_notify_read_invalid_utf8_like_python(spark, tmp_path):
    """Invalid UTF-8 in a config or notify value reads as Python's
    'replace' decode reads it: ``ED A0`` is two U+FFFD, not the one a
    bare cast gives."""
    from dbbspark.sources.notify import read_notify_dir

    raw = b"key = a\xed\xa0b\n"
    expected = {"key": "a\ufffd\ufffdb"}  # raw.decode("utf-8", "replace")
    p = str(tmp_path / "bad.cfg")
    _write(p, raw)
    assert parse_config_text(spark, p) == expected
    os.makedirs(tmp_path / "notify")
    _write(str(tmp_path / "notify" / "x.fits.dbb"), raw)
    assert read_notify_dir(spark, str(tmp_path / "notify")).collect()[0]["notify"] == expected


def test_log_source_last_matching(spark, tmp_path):
    p = str(tmp_path / "dts.log")
    _write(
        p,
        b"0101 01:00:00 start\n"
        b"0102 02:00:00 XSUM ok a\n"
        b"0103 03:00:00 XSUM ok b\n"
        b"0104 04:00:00 ERR boom\n",
    )
    log = read_log(spark, p)
    last = last_matching_line(log, "XSUM").collect()
    assert len(last) == 1 and last[0]["line"].endswith("XSUM ok b")
    assert last[0]["ts_utc"] is not None


def test_cli_roundtrip(spark, area, capsys):
    """The three reference executables as CLI subcommands: create-task →
    ingest (task id threaded from config) → monitor."""
    from dbbspark import cli

    task_table = os.path.join(area, "task", "t")
    assert cli.main(["create-task", "--task-table", task_table]) == 0
    task_id = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(task_id) == 32

    kw = os.path.join(area, "keywords.txt")
    _write(kw, b"EXPNUM,R,N\nOBSTYPE,Y,N\n")
    cfg_path = os.path.join(area, "ingest.cfg")
    _write(
        cfg_path,
        "\n".join(
            [
                "# stage-in config",
                f"notify_dir = {area}/notify",
                f"delivery_dir = {area}/delivery",
                f"archive_root = {area}/archive/data",
                f"registry_path = {area}/registry/files",
                f"bad_file_dir = {area}/quarantine/bad",
                f"dts_task_id = {task_id}",
                f"keywords_csv = {kw}",
            ]
        ).encode(),
    )
    assert cli.main(["ingest", "--config", cfg_path]) == 0
    out = capsys.readouterr().out
    assert "archived=2" in out and "quarantined=4" in out
    reg = spark.read.parquet(os.path.join(area, "registry", "files"))
    assert {r["task_id"] for r in reg.collect()} == {task_id}

    from conftest import SF_DIR

    report_dir = os.path.join(area, "report")
    assert cli.main(["monitor", "--sf-dir", SF_DIR, "--out", report_dir]) == 0
    assert os.path.exists(os.path.join(report_dir, "summary.html"))


def test_http_index_parse(spark):
    from dbbspark.sources.httpindex import nightsum_nites, parse_index

    html_text = (
        '<html><body>\n<a href="nightsum-2026-08-01/index.html">n1</a>\n'
        '<a href="nightsum-2026-08-02/index.html">n2</a>'
        '<a href="other.html">x</a>\n'
        '<a href="nightsum-2026-08-01/index.html">dup</a>\n</body></html>'
    )
    assert parse_index(spark, html_text).count() == 4
    nites = {r["nite"] for r in nightsum_nites(spark, html_text).collect()}
    assert nites == {"20260801", "20260802"}


def test_multimodal_decode_stub(spark, tmp_path, area):
    docs = read_binary_docs(spark, os.path.join(area, "delivery"))
    out = decode_media(docs).select("path", "decoded").collect()
    assert all(r["decoded"]["width"] >= 64 for r in out)
    assert all(len(r["decoded"]["feature"]) == 8 for r in out)
    # deterministic: same bytes → same features across runs
    again = decode_media(docs).select("path", "decoded").collect()
    assert {r["path"]: r["decoded"] for r in out} == {
        r["path"]: r["decoded"] for r in again
    }


def _fits_header(cards: list[tuple[str, str]]) -> bytes:
    """Real FITS primary-HDU header bytes: 80-char cards, END, padded to a
    2880-byte block."""
    out = b""
    for k, v in cards:
        out += f"{k:<8}= {v}".ljust(80).encode("ascii")
    out += b"END".ljust(80)
    return out.ljust(2880, b" ")


def test_fits_header_decoder_parses_real_cards():
    from dbbspark.sources.multimodal import fits_header_decode

    raw = _fits_header(
        [
            ("SIMPLE", "T"),
            ("EXPNUM", "227557 / exposure number"),
            ("OBSTYPE", "'object  '           / observation type"),
            ("OBSERVER", "'O''Neill'"),
        ]
    ) + b"\x00binary data follows"
    kv = fits_header_decode(raw)
    assert kv["EXPNUM"] == "227557"
    assert kv["OBSTYPE"] == "object"  # quotes stripped, padding trimmed
    assert kv["OBSERVER"] == "O'Neill"  # '' escape
    assert "END" not in kv


def test_custom_decoder_threads_through_extract(spark, tmp_path):
    """A FITS header (SIMPLE card first) drives extract_kv_metadata with
    no decoder argument — the format comes from the bytes; files whose
    header misses an R-flagged key report it in meta_missing_required."""
    from dbbspark.sources.multimodal import extract_kv_metadata

    good = _fits_header([("SIMPLE", "T"), ("EXPNUM", "7"), ("OBSTYPE", "'zero'")])
    bad = _fits_header([("SIMPLE", "T"), ("OBSTYPE", "'dark'")])  # EXPNUM (R) absent
    _write(str(tmp_path / "good.fits"), good)
    _write(str(tmp_path / "bad.fits"), bad)
    docs = read_binary_docs(spark, str(tmp_path))
    out = extract_kv_metadata(docs, {"EXPNUM": True, "OBSTYPE": False})
    rows = {
        os.path.basename(r["path"]): r
        for r in out.select("path", "meta", "meta_missing_required").collect()
    }
    assert rows["good.fits"]["meta"]["expnum"] == "7"
    assert rows["good.fits"]["meta_missing_required"] == []
    assert rows["bad.fits"]["meta"]["obstype"] == "dark"
    assert rows["bad.fits"]["meta_missing_required"] == ["EXPNUM"]


def test_raising_decoder_quarantines_not_aborts(spark, area):
    """A data file of malformed (invalid UTF-8) bytes must quarantine
    (missing required headers), never fail the batch — the pipeline's
    replacement for the reference's SystemExit."""
    _stage(area, "DECam_00000004.fits", b"\xff\xfe\x80OBSTYPE = \xc3\n\xed\xa0\x80")
    cfg = _cfg(area)
    res = ingest_batch(spark, cfg, task_id="t-dec")
    # neither DECam_00000003.fits nor the malformed file has EXPNUM →
    # quarantined as missing-header; the good raw file still archives.
    assert res.archived == 2
    reasons = _reasons(spark, cfg)
    assert sorted(reasons[REASON_MISSING_HEADER]) == [
        "DECam_00000003.fits",
        "DECam_00000004.fits",
    ]


def test_real_fits_header_archives_through_ingest(spark, area):
    """A real FITS file (SIMPLE card first, EXPNUM card, binary data
    block) archives through the default keyword schema with its header
    values in meta_json."""
    raw = _fits_header(
        [
            ("SIMPLE", "T"),
            ("BITPIX", "16"),
            ("NAXIS", "0"),
            ("EXPNUM", "227557 / exposure number"),
            ("OBSTYPE", "'object  '           / observation type"),
        ]
    ) + bytes(range(256)) * 12
    _stage(area, "DECam_00227557.fits", raw)
    cfg = _cfg(area)
    res = ingest_batch(spark, cfg)
    assert res.archived == 3
    meta = (
        spark.read.parquet(cfg.archive_root)
        .where(F.col("filename") == "DECam_00227557.fits")
        .select("meta_json")
        .collect()
    )
    assert [json.loads(r["meta_json"]) for r in meta] == [
        {"expnum": "227557", "obstype": "object"}
    ]


@pytest.mark.parametrize(
    "notify, reason",
    [
        (lambda md5: f"md5sum = {md5}\r\n".encode(), None),
        (lambda md5: f"md5sum\t=\t{'0' * 32}\n".encode(), REASON_CHECKSUM),
        (lambda md5: f"md5sum = {md5}".encode() + b"\xff\n", REASON_CHECKSUM),
    ],
    ids=["crlf_line_ends", "tab_separated", "non_utf8_byte"],
)
def test_notify_lines_parse_like_the_reference(spark, area, notify, reason):
    """Notify lines split and strip as Python's splitlines()/strip() do:
    a CRLF file with the right md5 archives, a tab-separated wrong md5 is
    a checksum mismatch, and a non-UTF-8 byte corrupts only its own file
    (quarantined), never the batch."""
    data = b"EXPNUM = 10\npayload"
    _write(os.path.join(area, "delivery", "DECam_00000010.fits"), data)
    _write(
        os.path.join(area, "notify", "DECam_00000010.fits.dbb"),
        notify(hashlib.md5(data).hexdigest()),
    )
    cfg = _cfg(area)
    res = ingest_batch(spark, cfg)
    reasons = _reasons(spark, cfg)
    if reason is None:
        assert res.archived == 3
        assert all("DECam_00000010.fits" not in v for v in reasons.values())
    else:
        assert res.archived == 2
        assert sorted(reasons[reason]) == ["DECam_00000002.fits", "DECam_00000010.fits"]


def kv_text_decode(raw: bytes) -> dict[str, str]:
    """Reference `KEY = value` parse in plain Python (the reference's
    per-file dict parse, bin/save_DBB_stagein_to_DBB.py:49-56): last
    occurrence wins, keys uppercased."""
    kv: dict[str, str] = {}
    for line in raw.decode("utf-8", "replace").splitlines():
        if "=" in line:
            k, v = line.split("=", 1)
            kv[k.strip().upper()] = v.strip()
    return kv


# Python's splitlines() breaks and strip() blanks (the latter mixing
# ASCII, \x1c-\x1f and Unicode spaces), plus '=', '#', non-ASCII text and
# arbitrary bytes: every input on which SQL and Python parses could differ.
_BREAKS = ["\n", "\r\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x85",
           "\u2028", "\u2029"]
_BLANKS = [" ", "\t", "\x1f", "\xa0", "\u2003", "\u3000"]
_KV_KEYS = ("A", "B", "AB", "BA")
_blanks = st.lists(st.sampled_from(_BLANKS), max_size=3).map("".join)
_noise = st.lists(
    st.sampled_from(["=", "#", "\xe9", "\U0001F600", *_BREAKS, *_BLANKS]).map(str.encode)
    | st.text(max_size=3).map(str.encode)
    | st.binary(max_size=3),
    max_size=5,
).map(b"".join)
_kv_line = st.tuples(
    _blanks,
    st.sampled_from(["", "", "#"]),
    st.sampled_from(["a", "A", "b", "B", "ab", "Ab", "bA", "BA"]),
    _blanks,
).map(lambda t: ("".join(t) + "=").encode())
_kv_file = st.lists(
    st.tuples(_kv_line | st.just(b""), _noise, st.sampled_from(_BREAKS).map(str.encode)),
    max_size=8,
).map(lambda lines: b"".join(b"".join(t) for t in lines))


@given(files=st.lists(_kv_file, min_size=1, max_size=8))
# a surrogate-half byte run: Python reads two U+FFFD, a bare cast one
@example(files=[b"a=\xed\xa0\n"])
@settings(max_examples=12, deadline=None)
def test_sql_kv_lookup_matches_python_reference(spark, files):
    """Property: extract_kv_metadata's SQL lookup of each keyword equals
    the Python reference parse, on text mixing mixed-case ASCII keys,
    line breaks, blanks, '#', Unicode and arbitrary bytes."""
    from hypothesis import assume

    from dbbspark.sources.multimodal import extract_kv_metadata

    assume(not any(f.startswith(b"SIMPLE  = ") for f in files))
    keywords = {k: i % 2 == 0 for i, k in enumerate(_KV_KEYS)}
    docs = spark.createDataFrame(list(enumerate(files)), "i int, content binary")
    rows = {r["i"]: r for r in extract_kv_metadata(docs, keywords).collect()}
    for i, raw in enumerate(files):
        row = rows[i]
        ref = kv_text_decode(raw)
        assert row["meta"].asDict() == {k.lower(): ref.get(k) for k in _KV_KEYS}, raw
        assert row["meta_missing_required"] == [
            k for k, req in keywords.items() if req and k not in ref
        ], raw


def test_duplicate_notify_keys_last_wins_not_crash(spark, area):
    """A notify file repeating a key (or differing only in case) must parse
    last-value-wins like the reference's dict parse — under Spark's default
    mapKeyDedupPolicy=EXCEPTION a naive str_to_map would throw
    DUPLICATED_MAP_KEY and take down the whole micro-batch."""
    from dbbspark.sources.notify import read_notify_dir

    data = b"EXPNUM = 9\npayload"
    good_md5 = hashlib.md5(data).hexdigest()
    _stage(
        area,
        "DECam_00000009.fits",
        data,
        md5=None,
        notify_extra=f"md5sum = {'f' * 32}\nMD5SUM = {good_md5}\nextra = 1\n",
    )
    notify = read_notify_dir(spark, os.path.join(area, "notify"))
    row = notify.where(F.col("data_name") == "DECam_00000009.fits").collect()[0]
    assert row["declared_md5"] == good_md5  # last occurrence wins
    assert row["notify"]["extra"] == "1"
    # and the full batch still ingests: the file checksums clean
    res = ingest_batch(spark, _cfg(area))
    assert res.archived == 3  # the two originals + this one


def test_replay_quarantine_after_fix(spark, area):
    """The operator workflow: a checksum-mismatch file is quarantined;
    the upstream re-delivers a corrected notify file; replay archives it.
    Files whose cause is NOT fixed re-quarantine (append-only log), and
    already-archived files are untouched (replay scopes to the named
    failures only)."""
    import hashlib as _h

    from dbbspark.streaming.ingest import replay_quarantine

    cfg = _cfg(area)
    first = ingest_batch(spark, cfg, task_id="t-1")
    assert first.by_reason.get("checksum mismatch", 0) == 1

    # fix: corrected notify md5 for the mismatched file
    data = open(os.path.join(area, "delivery", "DECam_00000002.fits"), "rb").read()
    _write(
        os.path.join(area, "notify", "DECam_00000002.fits.dbb"),
        f"md5sum = {_h.md5(data).hexdigest()}\n".encode(),
    )

    res = replay_quarantine(spark, cfg, reasons=("checksum mismatch",))
    assert res.archived == 1 and res.quarantined == 0
    # now registered: the file appears in the registry exactly once
    reg = spark.read.parquet(cfg.registry_path)
    assert reg.where(reg.filename == "DECam_00000002.fits").count() == 1

    # replaying ALL reasons now: the fixed file re-fails as a duplicate
    # (it is registered), unfixed ones re-fail with their original reason
    res2 = replay_quarantine(spark, cfg)
    assert res2.archived == 0
    assert res2.by_reason.get("duplicate file", 0) >= 1
    assert res2.by_reason.get("unknown filetype", 0) == 1
    # quarantine stayed append-only: the original failure rows remain
    q = spark.read.parquet(cfg.quarantine_path)
    assert q.where(q.orig_filename == "DECam_00000002.fits").count() >= 2


def test_registry_written_nite_partitioned(spark, area):
    """r11: new registries are written partitioned by nite so takedown /
    compaction can rewrite only matched partitions; appends land inside
    the partitioned layout and the duplicate gate reads it unchanged."""
    cfg = _cfg(area)
    ingest_batch(spark, cfg)
    assert any(
        d.startswith("nite=") for d in os.listdir(cfg.registry_path)
    ), "new registry should be nite-partitioned"
    assert spark.read.parquet(cfg.registry_path).count() == 2

    _stage(area, "DECam_00000009.fits", b"EXPNUM = 9\nOBSTYPE = object\nnew")
    res = ingest_batch(spark, cfg)
    assert res.archived == 1  # prior two are duplicates via the gate
    reg = spark.read.parquet(cfg.registry_path)
    assert reg.count() == 3
    assert reg.select("filename").distinct().count() == 3


def test_registry_legacy_layout_preserved(spark, area):
    """An existing UNPARTITIONED registry keeps its layout on append —
    mixing root data files with nite= dirs would make the dataset
    unreadable. The probe (`_registry_partitioned`) must return False."""
    import datetime

    cfg = _cfg(area)
    spark.createDataFrame(
        [(
            "old.fits", "0" * 32, 1, "raw", "20260101",
            datetime.datetime(2026, 1, 1), None,
        )],
        "filename string, md5sum string, filesize long, filetype string, "
        "nite string, delivery_date timestamp, task_id string",
    ).write.parquet(cfg.registry_path)

    ingest_batch(spark, cfg)
    assert not any(
        d.startswith("nite=") for d in os.listdir(cfg.registry_path)
    ), "legacy registry layout must be preserved"
    reg = spark.read.parquet(cfg.registry_path)
    assert reg.count() == 3  # old.fits + the 2 archived files


def test_repeated_night_compiles_no_new_classes(spark, area, tmp_path):
    """A night's generated classes stay in the code cache for the next
    one (session.STATIC_CONFS): a second, identical ingest + line-gate
    pass compiles almost nothing. With Spark's default 100-entry cache a
    night's working set (well over 100 classes) evicts itself, and the
    second pass recompiles most of it."""
    from dbbspark.streaming.linededup import process_batch

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    docs = [(i, f"nav home\nbody {i}\n\nfooter") for i in range(4)] + [(9, None)]

    def night(root) -> int:
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        cfg = dataclasses.replace(
            _cfg(area),
            archive_root=str(root / "archive"),
            registry_path=str(root / "registry"),
            quarantine_path=str(root / "quarantine"),
        )
        ingest_batch(spark, cfg, task_id="t-1")
        batch = spark.createDataFrame(docs, "doc_id long, text string")
        process_batch(batch, 0, str(root / "index"), str(root / "gated"))
        return compiles.METRIC_COMPILATION_TIME().getCount() - before

    first = night(tmp_path / "a")
    second = night(tmp_path / "b")
    # the quarantine sink's rejected_date is current_timestamp(), which
    # Spark folds into a long literal inlined into the generated source:
    # one class per pass, compiled for the driver's and the executor's
    # class loader; the rest is headroom for AQE's runtime choices
    assert second <= 8, (first, second)
