"""Command-line entry points mirroring the reference's three executables.

| reference executable | here |
|---|---|
| `bin/save_DBB_stagein_to_DBB.py --config <cfg>`   | `python -m dbbspark.cli ingest --config <cfg>` |
| `bin/monitor_DBB_stagein.py …`                    | `python -m dbbspark.cli monitor --sf-dir … --out …` |
| `bin/create_task_save_DBB_stagein_to_DBB.py --label <l>` | `python -m dbbspark.cli create-task --task-table … --label <l>` |

The config file is the reference's ``key = value`` format
(`bin/save_DBB_stagein_to_DBB.py:22-32`); recognized keys:

    notify_dir      = /stage/notify         (required)
    delivery_dir    = /stage/delivery       (required)
    archive_root    = /archive/data         (required)
    registry_path   = /archive/registry     (required)
    bad_file_dir    = /archive/quarantine   (required; reference name)
    checkpoint_dir  = /archive/_checkpoint  (stream mode)
    dts_task_id     = <task id>             (reference name; provenance)
    keywords_csv    = /etc/keywords.txt     (Y/N/R schema for 'raw')

Cron-compatibility: `ingest --stream` uses trigger(availableNow) — each
cron invocation drains pending files and exits; the checkpoint dir is the
singleton lock (SURVEY.md §2.9 ST1).
"""

from __future__ import annotations

import argparse
import re
import sys

from pyspark.sql import SparkSession


def _session(app: str) -> SparkSession:
    from .session import get_spark

    return get_spark(app)


def _ingest_config(spark: SparkSession, cfg_path: str):
    from .plans.keywords import parse_keyword_csv
    from .sources.notify import parse_config_text
    from .streaming.ingest import IngestConfig

    cfg = parse_config_text(spark, cfg_path)
    missing = [
        k
        for k in ("notify_dir", "delivery_dir", "archive_root", "registry_path", "bad_file_dir")
        if k not in cfg
    ]
    if missing:
        raise SystemExit(f"config missing required keys: {', '.join(missing)}")
    keyword_schemas = {}
    if "keywords_csv" in cfg:
        with open(cfg["keywords_csv"]) as f:
            keyword_schemas["raw"] = parse_keyword_csv(f.read())
    return (
        IngestConfig(
            notify_dir=cfg["notify_dir"],
            delivery_dir=cfg["delivery_dir"],
            archive_root=cfg["archive_root"],
            registry_path=cfg["registry_path"],
            quarantine_path=cfg["bad_file_dir"],
            keyword_schemas=keyword_schemas,
        ),
        cfg,
    )


def cmd_ingest(args: argparse.Namespace) -> int:
    """`dbbspark ingest`: scan/stream a notify dir into archive +
    registry + quarantine (the reference's save_DBB_stagein_to_DBB)."""
    from .streaming.ingest import ingest_batch, start_ingest_stream

    spark = _session("dbbspark-ingest")
    cfg, raw = _ingest_config(spark, args.config)
    task_id = raw.get("dts_task_id")
    if args.stream:
        ckpt = raw.get("checkpoint_dir")
        if not ckpt:
            raise SystemExit("stream mode requires checkpoint_dir in config")
        q = start_ingest_stream(spark, cfg, ckpt, task_id=task_id, available_now=True)
        q.awaitTermination()
        print("stream drained; checkpoint:", ckpt)
        return 0
    res = ingest_batch(spark, cfg, task_id=task_id)
    print(
        f"archived={res.archived} quarantined={res.quarantined} "
        f"by_reason={res.by_reason}"
    )
    return 0


def cmd_monitor(args: argparse.Namespace) -> int:
    """`dbbspark monitor`: write the four reconciliation HTML pages
    (the reference's monitor_DBB_stagein)."""
    from .monitor import write_report

    spark = _session("dbbspark-monitor")
    write_report(spark, args.sf_dir, args.out)
    print("report written to", args.out)
    if args.fuzzy_keys:
        import json

        from .monitor import reconcile_with_renames

        matches, m_res, x_res = reconcile_with_renames(
            spark, args.sf_dir, max_distance=args.fuzzy_distance
        )
        print(
            json.dumps(
                {
                    "renamed_matches": matches.count(),
                    "missing_after_fuzzy": m_res.count(),
                    "extra_after_fuzzy": x_res.count(),
                }
            )
        )
    return 0


def cmd_create_task(args: argparse.Namespace) -> int:
    """`dbbspark create-task`: create the provenance root task row
    (create_task_save_DBB_stagein_to_DBB)."""
    from .streaming.provenance import create_task

    spark = _session("dbbspark-task")
    task_id = create_task(spark, args.task_table, label=args.label)
    # the reference prints the id to paste into the config as dts_task_id
    # (bin/create_task_save_DBB_stagein_to_DBB.py:43)
    print(task_id)
    return 0


def cmd_replay(args: argparse.Namespace) -> int:
    """`dbbspark replay`: re-drive quarantined files through the ingest
    gate after the cause is fixed (C32)."""
    from .streaming.ingest import replay_quarantine

    spark = _session("dbbspark-replay")
    cfg, raw = _ingest_config(spark, args.config)
    res = replay_quarantine(
        spark,
        cfg,
        reasons=tuple(args.reason) if args.reason else None,
        task_id=raw.get("dts_task_id"),
    )
    print(
        f"archived={res.archived} requarantined={res.quarantined} "
        f"by_reason={res.by_reason}"
    )
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """Training-data curation chain over a documents table: normalize →
    exact dedup → near-dedup (LSH + connected components) → line dedup →
    heuristic quality gate → deterministic global shuffle → parquet out.
    The fuller menu (classifier, DSIR, packing, splits) is composed in
    examples/curation_pipeline.py; this subcommand is the operational
    core a cron job runs."""
    from pyspark.sql import functions as F

    from .operators.dedup import (
        connected_components_adaptive,
        lsh_candidate_pairs_direct,
        sha_dedup_keep_first,
    )
    from .operators.lines import dedup_lines
    from .operators.normalize import normalize_docs
    from .operators.packing import global_shuffle
    from .tables import load_table

    spark = _session("dbbspark-curate")
    raw = normalize_docs(load_table(spark, args.sf_dir, "documents"))
    docs = sha_dedup_keep_first(raw, "text", "doc_id")
    exact_dropped = raw.select("doc_id").join(
        docs.select("doc_id"), "doc_id", "left_anti"
    )
    pairs = lsh_candidate_pairs_direct(docs, "doc_id", "text")
    comps = connected_components_adaptive(pairs, "doc_a", "doc_b")
    dropped = (
        comps.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    if args.purity_floor is not None:
        # Verify-before-delete (operators/audit.py C50): a member is a
        # real duplicate of its KEPT representative only if its exact
        # member-to-rep Jaccard clears the floor; transitively-welded
        # dissimilar docs stay in the corpus instead of being deleted.
        from .operators.audit import cluster_purity

        per_member, _ = cluster_purity(docs, comps)
        dropped = per_member.where(
            F.col("jaccard") >= F.lit(args.purity_floor)
        ).select(F.col("member").alias("doc_id"))
    docs = docs.join(dropped, "doc_id", "left_anti")
    docs = dedup_lines(
        docs.select("doc_id", "text"), "doc_id", "text", min_df=args.line_min_df
    ).join(docs.drop("text"), "doc_id")
    toks = F.size(F.split(F.col("text"), " "))
    short_ids = docs.where(toks < args.min_tokens).select("doc_id")
    docs = docs.where(toks >= args.min_tokens)
    script_dropped = None
    if args.keep_scripts:
        # C49 multilingual routing: keep only docs whose dominant
        # writing system is in the allow-list (map-only, per-character —
        # works where stopword language-ID can't see non-Latin text).
        from .operators.script import script_profile

        wanted = [s.strip() for s in args.keep_scripts.split(",") if s.strip()]
        keep_ids = (
            script_profile(docs, "doc_id", "text")
            .where(F.col("dominant_script").isin(*wanted))
            .select("doc_id")
        )
        script_dropped = docs.select("doc_id").join(
            keep_ids, "doc_id", "left_anti"
        )
        docs = docs.join(keep_ids, "doc_id", "left_semi")
    if args.funnel:
        import json

        from .operators.funnel import funnel_audit

        # Stage id-sets were computed above as the pipeline ran; the
        # audit re-expresses them as first-drop blame over the raw input
        # (min_tokens runs on the line-deduped text, so its id-set — not
        # a predicate on raw text — is the faithful stage spec).
        stages = [
            ("exact_dedup", exact_dropped),
            ("near_dedup", dropped),
            ("min_tokens", short_ids),
        ]
        if script_dropped is not None:
            # without this stage, script-filtered docs would count as
            # __survived__ in the waterfall and misattribute the drops
            stages.append(("script", script_dropped))
        _, waterfall = funnel_audit(
            raw.withColumn("n_tokens", F.size(F.split(F.col("text"), " "))),
            stages,
            token_col="n_tokens",
        )
        print(json.dumps({"funnel": waterfall}))
        if args.funnel_html:
            from .monitor import funnel_page

            with open(args.funnel_html, "w") as fh:
                fh.write(funnel_page(waterfall))
    if args.bpe_merges:
        from .operators.bpe import apply_bpe, train_bpe, word_counts

        merges = train_bpe(word_counts(docs), num_merges=args.bpe_merges)
        docs = apply_bpe(docs, merges)
    order_id = "doc_id"
    if args.repeats:
        # C52: materialize per-source epoch repeats; the order id folds
        # the copy index in so replicated copies spread through the
        # shuffle instead of clustering adjacently
        from .operators.mixing import epoch_repeats

        kv = dict(p.split("=", 1) for p in args.repeats.split(","))
        default = float(kv.pop("*")) if "*" in kv else None
        factors = {k: float(v) for k, v in kv.items()}
        # uid stride must exceed the largest copy index (rep <= floor(r)),
        # else copies of one doc collide with neighboring doc_ids' uid
        # space; derive it from the factors instead of assuming rep < 16
        max_r = max([*factors.values(), default or 0.0, 0.0])
        stride = 1 << max(4, int(max_r).bit_length() + 1)
        docs = epoch_repeats(docs, factors, default=default).withColumn(
            "uid", F.col("doc_id") * stride + F.col("rep")
        )
        order_id = "uid"
    if args.curriculum_stages:
        from .operators.curriculum import curriculum_order

        out_df = curriculum_order(
            docs.withColumn(
                "difficulty", F.size(F.split("text", " ")).cast("double")
            ),
            "difficulty",
            stages=args.curriculum_stages,
            id_col=order_id,
            seed=args.seed,
        ).drop("difficulty")
    else:
        out_df = global_shuffle(docs, order_id, seed=args.seed)
    out_df.write.mode("overwrite").parquet(args.out)
    out = spark.read.parquet(args.out)
    print(f"curated={out.count()} -> {args.out}")
    if args.report:
        import json

        from .operators.vocab import corpus_report

        print(json.dumps(corpus_report(out)))
    if args.tar_shards:
        from .operators.shards import build_tar_shards, save_tar_files

        shards = build_tar_shards(
            out.select(
                "doc_id",
                F.encode("text", "utf-8").alias("content"),
                "source",
            ),
            shard_bytes=args.shard_bytes,
            ext="txt",
            meta_cols=["source"],
        )
        names = save_tar_files(shards, args.tar_shards)
        print(f"tar_shards={len(names)} -> {args.tar_shards}")
    return 0


def cmd_media_dedup(args: argparse.Namespace) -> int:
    """Perceptual near-dup keep-one over a directory of media files —
    the operational wiring for C56/video (VERDICT r8 item 4): stills
    and audio run thumbnails → 64-bit hash → Hamming groups; clips
    (--kind pnmseq) run the frame-sequence operator → connected
    components. In both paths the kept representative is the min path
    per group and a member is dropped only on DIRECT evidence against
    it (a hash-distance re-check, or a scored clip pair) — the C50
    verify-before-delete stance: connected components weld
    transitively, deletion must not. Undecodable files hash NULL, join
    no group, and are always kept (quarantine's concern, not dedup's)."""
    import json

    from pyspark.sql import functions as F

    from .operators.dedup import connected_components_adaptive
    from .session import cut_lineage
    from .sources.multimodal import read_binary_docs

    spark = _session("dbbspark-media-dedup")
    media = read_binary_docs(
        spark, args.src, glob=args.glob, recursive=True
    ).select("path", "content")
    n_files = media.count()
    if args.index is not None:
        # incremental mode: one micro-batch through the C58 streaming
        # media gate — dedup against everything previously ACCEPTED
        # (8-byte hash index; clips: n_samples frame hashes per clip),
        # not just within this directory
        if not args.out:
            raise SystemExit("media-dedup --index requires --out (accepted sink)")
        from pyspark.errors import AnalysisException

        from .streaming.mediadedup import process_batch as gate_media_batch

        bid = args.batch_id
        if bid is None:
            from .streaming.mediadedup import last_completed_batch

            try:
                prior = spark.read.parquet(args.out)
                mx = (
                    prior.agg(F.max("batch")).first()[0]
                    if "batch" in prior.columns
                    else None
                )
                out_mx = -1 if mx is None else int(mx)
            except AnalysisException:
                out_mx = -1
            # files-first/index-last crash ordering: accepted ahead of
            # the index means a crashed run — auto-advancing would
            # permanently orphan that batch's hashes (its dups admitted
            # forever). Refuse; the retry of the SAME batch id over the
            # SAME drop is idempotent and heals it. Completion is read
            # from hash partitions OR the per-batch markers — a batch
            # whose accepted files were all undecodable indexes nothing
            # by design and must not read as a crash (ADVICE r9).
            idx_mx = last_completed_batch(spark, args.index)
            if out_mx > idx_mx:
                raise SystemExit(
                    f"media-dedup --index: accepted sink is at batch "
                    f"{out_mx} but the index is at {idx_mx} "
                    f"— a prior run crashed between its two writes. Re-run "
                    f"that batch's original --src with --batch-id "
                    f"{out_mx} before gating new drops."
                )
            bid = max(out_mx, idx_mx) + 1
        if args.kind in ("pnmseq", "y4m"):
            from .streaming.mediadedup import process_clip_batch

            process_clip_batch(
                media,
                bid,
                args.index,
                args.out,
                kind=args.kind,
                n_samples=args.n_samples,
                max_distance=args.max_distance,
                min_frac=args.min_frac,
                min_thumb_variance=args.min_thumb_variance,
                lock_wait=args.lock_wait,
                lock_break_stale_after=args.lock_break_stale_after,
            )
        else:
            gate_media_batch(
                media,
                bid,
                args.index,
                args.out,
                kind=args.kind,
                hash_kind=args.hash_kind,
                max_distance=args.max_distance,
                min_thumb_variance=args.min_thumb_variance,
                lock_wait=args.lock_wait,
                lock_break_stale_after=args.lock_break_stale_after,
            )
        n_acc = (
            spark.read.parquet(args.out)
            .where(F.col("batch") == bid)
            .count()
        )
        print(
            json.dumps(
                {
                    "files": n_files,
                    "accepted": n_acc,
                    "rejected": n_files - n_acc,
                    "batch": bid,
                    "kind": args.kind,
                }
            )
        )
        return 0
    verify_d = (
        args.verify_distance if args.verify_distance is not None else args.max_distance
    )
    if args.kind in ("pnmseq", "y4m"):
        from .operators.video import video_near_dup

        pairs = cut_lineage(
            video_near_dup(
                media,
                kind=args.kind,
                n_samples=args.n_samples,
                max_distance=args.max_distance,
                min_frac=args.min_frac,
                min_thumb_variance=args.min_thumb_variance,
            ).select("id_a", "id_b")
        )
        comps = connected_components_adaptive(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        groups = comps.select(
            F.col("node").alias("path"), F.col("component").alias("group")
        )
        keeps = groups.groupBy("group").agg(F.min("path").alias("keep"))
        direct = pairs.select(
            F.col("id_a").alias("keep"), F.col("id_b").alias("path")
        ).unionByName(
            pairs.select(F.col("id_b").alias("keep"), F.col("id_a").alias("path"))
        )
        drops = (
            groups.join(keeps, "group")
            .where(F.col("path") != F.col("keep"))
            .join(direct, ["keep", "path"], "left_semi")
            .select("path")
        )
    else:
        from .operators.phash import (
            ahash_col,
            audio_hash_col,
            dhash_col,
            hamming_groups,
            thumbnails,
        )

        hash_kind = args.hash_kind or ("audio" if args.kind == "wav" else "dhash")
        hash_fn = {"dhash": dhash_col, "ahash": ahash_col, "audio": audio_hash_col}[
            hash_kind
        ]
        hashed = cut_lineage(
            thumbnails(
                media,
                kind=args.kind,
                on_unregistered="error",
                min_variance=args.min_thumb_variance,
            ).select("path", hash_fn("thumb").alias("phash"))
        )
        groups = hamming_groups(
            hashed, "path", "phash", max_distance=args.max_distance
        )
        keeps = groups.groupBy("group").agg(F.min("path").alias("keep"))
        drops = (
            groups.join(keeps, "group")
            .where(F.col("path") != F.col("keep"))
            .join(hashed, "path")
            .join(
                hashed.select(
                    F.col("path").alias("keep"), F.col("phash").alias("keep_hash")
                ),
                "keep",
            )
            .where(
                F.bit_count(F.col("phash").bitwiseXOR(F.col("keep_hash")))
                <= F.lit(verify_d)
            )
            .select("path")
        )
    kept = media.select("path").join(drops, "path", "left_anti")
    if args.out:
        kept.write.mode("overwrite").parquet(args.out)
        kept = spark.read.parquet(args.out)
    n_kept = kept.count()
    print(
        json.dumps(
            {
                "files": n_files,
                "kept": n_kept,
                "dropped": n_files - n_kept,
                "kind": args.kind,
            }
        )
    )
    return 0


def cmd_index_remove(args: argparse.Namespace) -> int:
    """Delete ids from a streaming-gate dedup index (retention /
    takedown / quarantine-after-the-fact): batch-partitioned indexes
    (near/media/clip/ANN) rewrite only the affected partitions; with
    --line-index the (h, df) frequency snapshot is decremented by the
    removed docs' recomputed line hashes instead. Run against a
    QUIESCED gate (see maintenance.remove_from_index). After this, a
    re-submission of the removed content is judged fresh."""
    import json

    spark = _session("dbbspark-index-remove")
    if args.line_index:
        from .maintenance import remove_docs_from_line_index

        if not args.docs:
            raise SystemExit("index-remove --line-index requires --docs")
        docs = spark.read.parquet(args.docs)
        out = remove_docs_from_line_index(
            spark, args.index, docs, id_col=args.id_col, text_col=args.text_col
        )
        print(json.dumps(out))
        return 0
    from .maintenance import remove_from_index

    if args.ids:
        ids = [s for s in args.ids.split(",") if s]
    elif args.docs:
        df = spark.read.parquet(args.docs)
        ids = df.select(args.id_col) if args.id_col in df.columns else df
    else:
        raise SystemExit("index-remove requires --ids or --docs")
    out = remove_from_index(spark, args.index, ids, id_col=args.id_col)
    print(json.dumps(out))
    return 0


def _parse_gate_spec(spec: str) -> tuple[str, str]:
    """Parse a ``--gate-index DIR[:IDCOL]`` spec. The tail after the
    last ':' is IDCOL only when it can actually be a column name (an
    identifier: [A-Za-z_][A-Za-z0-9_]*): a URI index path with a port
    must parse as the whole directory whether it has a path tail
    (hdfs://nn:8020/idx, ADVICE r10) or not (hdfs://nn:8020, ADVICE
    r11 — the all-digits '8020' is a port, never a column)."""
    if ":" in spec:
        head, tail = spec.rsplit(":", 1)
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", tail):
            return head, tail
    return spec, "mid"


def cmd_takedown(args: argparse.Namespace) -> int:
    """Composed retention/takedown: remove files from the archive, the
    registry, and any dedup-gate indexes in one operation, with an
    optional quarantine audit row per removed file — the engine form of
    the reference's quarantine-out-of-archive move. Crash mid-way →
    re-run; every leg is idempotent, and C54 `scrub` names whatever a
    partial run left inconsistent."""
    import json

    from .maintenance import takedown

    spark = _session("dbbspark-takedown")
    names = [s for s in args.names.split(",") if s]
    gates = [_parse_gate_spec(spec) for spec in args.gate_index or []]
    out = takedown(
        spark,
        names,
        archive_root=args.archive,
        registry_path=args.registry,
        quarantine_path=args.quarantine,
        gate_indexes=tuple(gates),
        reason=args.reason,
    )
    print(json.dumps(out))
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Small-file maintenance for a partitioned parquet dataset (archive
    sink, streaming-gate state): audit first, rewrite only when the
    worklist is non-empty. ``--gate-index`` compacts a batch=<id>
    streaming-gate dataset into the reserved batch=-1 partition instead
    of the generic per-partition rewrite."""
    from .maintenance import (
        compact_gate_index,
        compact_partitioned,
        small_file_report,
    )

    spark = _session("dbbspark-compact")
    report = small_file_report(spark, args.path, small_bytes=args.small_bytes)
    for row in report[:20]:
        print(
            f"{row.partition or '.'}: files={row.n_files} "
            f"small={row.n_small} bytes={row.total_bytes}"
        )
    if args.audit_only:
        return 0
    # file COUNT across the dataset is what hurts (listing + footers +
    # task launches), so the trigger is total small files, not any single
    # partition's count
    if sum(r.n_small for r in report) <= 1:
        print("nothing to compact")
        return 0
    if args.gate_index:
        backup = compact_gate_index(spark, args.path)
    else:
        if not args.partition_col:
            raise SystemExit("--partition-col is required unless --gate-index")
        backup = compact_partitioned(spark, args.path, args.partition_col)
    # verify the swap before dropping the backup: row counts must match
    n_new = spark.read.parquet(args.path).count()
    n_old = spark.read.parquet(backup).count()
    if n_new != n_old:
        raise SystemExit(
            f"row count changed after compaction ({n_old} -> {n_new}); "
            f"backup kept at {backup}"
        )
    if args.drop_backup:
        fs_path = spark._jvm.org.apache.hadoop.fs.Path(backup)
        fs_path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
            fs_path, True
        )
        print(f"compacted {args.path} ({n_new} rows); backup dropped")
    else:
        print(f"compacted {args.path} ({n_new} rows); backup at {backup}")
    return 0


def cmd_gc(args: argparse.Namespace) -> int:
    """Retention maintenance for a versioned-snapshot root (the commit
    protocol's v=<n> layout): drop all but the newest ``--keep-last``
    committed snapshots, reap ``_staging`` orphans older than
    ``--staging-horizon`` seconds (a writer SIGKILL'd between its
    staging write and the commit CAS leaks the staged copy with no
    in-process cleanup; the horizon must exceed the longest snapshot
    write — see commit.gc_staging), and prune dangling commit-log
    records past the same horizon (r7: without record pruning the log
    grows one file per commit forever — O(N) per resolve)."""
    from .commit import (
        committed_versions,
        gc_staging,
        prune_commit_records,
        prune_snapshots,
    )

    spark = _session("dbbspark-gc")
    dropped = prune_snapshots(spark, args.root, keep_last=args.keep_last)
    reaped = gc_staging(spark, args.root, older_than_sec=args.staging_horizon)
    records = prune_commit_records(
        spark, args.root, older_than_sec=args.staging_horizon
    )
    live = committed_versions(spark, args.root)
    print(
        f"pruned versions: {dropped}; staging orphans reaped: {len(reaped)}; "
        f"commit records pruned: {len(records)}; live versions: {live}"
    )
    return 0


def cmd_scrub(args: argparse.Namespace) -> int:
    """Archive integrity scrub (maintenance.verify_archive): recompute
    checksums over the resting archive, cross-check the registry, print
    counts; nonzero exit when anything is wrong (cron-alert shape, like
    profile --checks).

    Driver output is BOUNDED (VERDICT r6 item 5): the command's purpose
    is the unhealthy case — a systematically rotted 100 TB archive
    yields per-file findings, so counts are aggregated Spark-side, the
    full detail goes to a parquet sink (--findings-out), and only a
    capped sample ever reaches the driver."""
    import json

    from pyspark.sql import functions as F

    from .maintenance import verify_archive

    spark = _session("dbbspark-scrub")
    findings = verify_archive(
        spark,
        args.archive,
        registry_path=args.registry,
        sample_fraction=args.sample,
        sample_salt=args.salt,
    )
    if args.findings_out:
        findings.write.mode("overwrite").parquet(args.findings_out)
        findings = spark.read.parquet(args.findings_out)  # reuse, don't recompute
    else:
        # two actions follow (count-by-kind + capped sample); without a
        # sink each would recompute the full archive checksum scan —
        # pin the findings once instead (ADVICE r7)
        findings = findings.localCheckpoint(eager=True)
    by_kind = {
        r["finding"]: r["n"]
        for r in findings.groupBy("finding").agg(F.count("*").alias("n")).collect()
    }
    total = sum(by_kind.values())
    print(json.dumps({"findings": total, "by_kind": by_kind}))
    for r in findings.limit(20).collect():
        print(f"{r['finding']}\t{r['filename']}\t{r['expected']} -> {r['actual']}")
    return 1 if total else 0


def cmd_profile(args: argparse.Namespace) -> int:
    """One-pass per-column data-quality profile of a parquet dataset
    (operators/profile.py C46); with --baseline, also print drift
    findings against a previously-saved profile JSON."""
    import json

    from .operators.profile import profile_drift, profile_table

    spark = _session("dbbspark-profile")
    df = spark.read.parquet(args.path)
    prof = profile_table(df)
    print(json.dumps(prof, default=str))
    if args.baseline:
        with open(args.baseline) as fh:
            before = json.load(fh)
        drift = profile_drift(before, prof)
        print(json.dumps({"drift": drift}))
        if args.drift_html:
            from .monitor import drift_page

            with open(args.drift_html, "w") as fh:
                fh.write(drift_page(drift))
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(prof, fh, default=str)
    if args.checks:
        from .operators.profile import check_table

        with open(args.checks) as fh:
            results = check_table(df, json.load(fh))
        print(json.dumps({"checks": results}))
        if any(not r["passed"] for r in results):
            return 1
    return 0


def cmd_overlap(args: argparse.Namespace) -> int:
    """KMV cross-corpus overlap estimate (operators/sketches.py C44):
    how much of corpus B is already in corpus A, from one bottom-k
    aggregate per side — run BEFORE paying a cross-corpus dedup join."""
    import json

    from pyspark.sql import functions as F

    from .operators.sketches import corpus_overlap, kmv_sketch

    spark = _session("dbbspark-overlap")
    key = F.sha2(F.col(args.key_col).cast("binary"), 256)
    sa = kmv_sketch(spark.read.parquet(args.a), key, k=args.k)
    sb = kmv_sketch(spark.read.parquet(args.b), key, k=args.k)
    print(json.dumps(corpus_overlap(sa, sb, k=args.k)))
    return 0


def cmd_diff(args: argparse.Namespace) -> int:
    """Corpus snapshot diff (operators/snapshot.py C51): the release
    report before swapping a re-curated corpus — deltas, overlap,
    added/removed estimates, profile drift. No cross-corpus join."""
    import json

    from .operators.snapshot import snapshot_diff

    spark = _session("dbbspark-diff")
    report = snapshot_diff(
        spark.read.parquet(args.old),
        spark.read.parquet(args.new),
        key_col=args.key_col,
        k=args.k,
    )
    print(json.dumps(report, default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    """CLI entry point: argparse dispatch over the subcommands."""
    p = argparse.ArgumentParser(prog="dbbspark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="drain the stage-in area into the archive")
    ing.add_argument("--config", required=True)
    ing.add_argument("--stream", action="store_true", help="availableNow streaming drain")
    ing.set_defaults(fn=cmd_ingest)

    mon = sub.add_parser("monitor", help="build the reconciliation report pages")
    mon.add_argument("--sf-dir", required=True)
    mon.add_argument("--out", required=True)
    mon.add_argument(
        "--fuzzy-keys",
        action="store_true",
        help="after the exact anti-joins, pair residual missing x extra "
        "rows by fuzzy filename match (renamed files report as matches, "
        "not missing+extra)",
    )
    mon.add_argument("--fuzzy-distance", type=int, default=1)
    mon.set_defaults(fn=cmd_monitor)

    ct = sub.add_parser("create-task", help="create a provenance root task")
    ct.add_argument("--task-table", required=True)
    ct.add_argument("--label", default="DBB_stagein_to_DBB")
    ct.set_defaults(fn=cmd_create_task)

    rp = sub.add_parser("replay", help="re-gate quarantined files after a fix")
    rp.add_argument("--config", required=True)
    rp.add_argument(
        "--reason",
        action="append",
        help="limit to these rejected_msg values (repeatable; default all)",
    )
    rp.set_defaults(fn=cmd_replay)

    cu = sub.add_parser("curate", help="dedup+clean a documents table into training shards")
    cu.add_argument("--sf-dir", required=True)
    cu.add_argument("--out", required=True)
    cu.add_argument("--line-min-df", type=int, default=5)
    cu.add_argument("--min-tokens", type=int, default=5)
    cu.add_argument("--seed", type=int, default=0)
    cu.add_argument(
        "--funnel",
        action="store_true",
        help="print the per-stage drop waterfall (first-drop blame) as JSON",
    )
    cu.add_argument(
        "--funnel-html",
        help="also write the waterfall as an HTML report page (monitor style)",
    )
    cu.add_argument(
        "--purity-floor",
        type=float,
        default=None,
        help="verify-before-delete: drop a near-dup member only if its exact "
        "member-to-representative Jaccard >= this floor (C50 audit)",
    )
    cu.add_argument(
        "--keep-scripts",
        default=None,
        help="comma list of dominant Unicode scripts to keep "
        "(e.g. 'latin,cyrillic'; C49 routing)",
    )
    cu.add_argument(
        "--repeats",
        default=None,
        help="per-source epoch repeat factors, e.g. 'code=3.0,*=1.0' "
        "('*' = default for unlisted sources, which are otherwise "
        "dropped; C52: floor(r) pinned copies + md5-gated fractional copy)",
    )
    cu.add_argument(
        "--curriculum-stages",
        type=int,
        default=0,
        help="order the output easy->hard in N token-count quantile bands "
        "with seeded within-band shuffle (C53) instead of the flat "
        "global shuffle",
    )
    cu.add_argument(
        "--bpe-merges",
        type=int,
        default=0,
        help="train a BPE tokenizer on the curated docs and attach bpe_tokens",
    )
    cu.add_argument(
        "--report",
        action="store_true",
        help="print the dataset-card summary JSON for the curated output",
    )
    cu.add_argument(
        "--tar-shards",
        default=None,
        help="also export the curated docs as WebDataset-style .tar "
        "shards into this directory",
    )
    cu.add_argument(
        "--shard-bytes",
        type=int,
        default=64 * 1024 * 1024,
        help="payload-byte budget per tar shard (default 64 MiB)",
    )
    cu.set_defaults(fn=cmd_curate)

    md = sub.add_parser(
        "media-dedup",
        help="perceptual near-dup keep-one over a media directory",
    )
    md.add_argument("--src", required=True, help="media directory (binaryFile scan)")
    md.add_argument("--glob", default=None, help="pathGlobFilter, e.g. '*.pgm'")
    md.add_argument(
        "--kind",
        default="pgm",
        help="registered media kind: pgm|ppm|fits|wav (stills/audio) or pnmseq|y4m (clips)",
    )
    md.add_argument(
        "--hash-kind",
        default=None,
        choices=("dhash", "ahash", "audio"),
        help="still/audio hash (default: audio for wav, else dhash)",
    )
    md.add_argument("--max-distance", type=int, default=6)
    md.add_argument(
        "--verify-distance",
        type=int,
        default=None,
        help="direct member-to-keep re-check bound (default: --max-distance)",
    )
    md.add_argument("--n-samples", type=int, default=8, help="sampled frames per clip")
    md.add_argument("--min-frac", type=float, default=0.5, help="clip frame-match fraction")
    md.add_argument(
        "--min-thumb-variance",
        type=float,
        default=None,
        help="degenerate-media policy: frames/stills whose thumbnail "
        "variance falls below this (solid black/white, fades, title "
        "cards) are excluded from perceptual pairing — set on real "
        "crawls so M clips sharing a black frame cost O(M), not O(M²)",
    )
    md.add_argument("--out", default=None, help="write the kept file list (parquet)")
    md.add_argument(
        "--index",
        default=None,
        help="INCREMENTAL mode: gate --src against this persisted hash "
        "index (streaming media gate, C58) instead of self-grouping — "
        "each invocation is one micro-batch (the cron shape); accepted "
        "files land in --out, their hashes in the index",
    )
    md.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="incremental mode: explicit batch id (re-run = idempotent "
        "retry of that batch; default: max committed batch + 1)",
    )
    md.add_argument(
        "--lock-wait",
        type=float,
        default=0.0,
        help="incremental mode: seconds to retry-with-backoff for the "
        "index lock before aborting (default 0 = loser-aborts); set on "
        "deployments that run maintenance beside a live gate",
    )
    md.add_argument(
        "--lock-break-stale-after",
        type=float,
        default=None,
        help="incremental mode: break an index lock older than this "
        "many seconds (crashed-driver recovery — an EXPLICIT operator "
        "decision; never set below the longest legitimate batch "
        "duration)",
    )
    md.set_defaults(fn=cmd_media_dedup)

    ir = sub.add_parser(
        "index-remove",
        help="delete ids from a streaming-gate dedup index (retention/"
        "takedown); re-submission of removed content is then accepted",
    )
    ir.add_argument("--index", required=True, help="gate index directory")
    ir.add_argument(
        "--id-col",
        default="mid",
        help="index id column: mid (media/clips), doc (near-dedup), "
        "vec_id (ANN), or the doc id column with --line-index",
    )
    ir.add_argument("--ids", default=None, help="comma-separated ids")
    ir.add_argument(
        "--docs",
        default=None,
        help="parquet with the ids (or, with --line-index, the removed "
        "docs' id+text — line hashes are recomputed to decrement)",
    )
    ir.add_argument(
        "--line-index",
        action="store_true",
        help="the index is linededup's (h, df) frequency snapshot",
    )
    ir.add_argument("--text-col", default="text")
    ir.set_defaults(fn=cmd_index_remove)

    td = sub.add_parser(
        "takedown",
        help="remove files from archive+registry+gate indexes in one "
        "composed operation (retention/takedown), with an optional "
        "quarantine audit trail",
    )
    td.add_argument("--names", required=True, help="comma-separated filenames")
    td.add_argument("--archive", default=None, help="archive root")
    td.add_argument("--registry", default=None, help="registry parquet path")
    td.add_argument(
        "--quarantine", default=None,
        help="quarantine path for the audit rows (recommended)",
    )
    td.add_argument(
        "--gate-index", action="append", default=None, metavar="DIR[:IDCOL]",
        help="also remove the names from this gate index (repeatable); "
        "IDCOL defaults to mid",
    )
    td.add_argument("--reason", default="takedown")
    td.set_defaults(fn=cmd_takedown)

    co = sub.add_parser(
        "compact", help="audit + rewrite small-file partitions (archive/gate state)"
    )
    co.add_argument("--path", required=True)
    co.add_argument(
        "--partition-col",
        action="append",
        help="partition columns of the dataset (repeatable)",
    )
    co.add_argument(
        "--gate-index",
        action="store_true",
        help="streaming-gate state: collapse batch=<id> partitions into batch=-1",
    )
    co.add_argument("--small-bytes", type=int, default=32 * 1024 * 1024)
    co.add_argument("--audit-only", action="store_true")
    co.add_argument("--drop-backup", action="store_true")
    co.set_defaults(fn=cmd_compact)

    g = sub.add_parser(
        "gc",
        help="snapshot-root retention: prune old versions + reap staging orphans",
    )
    g.add_argument("--root", required=True)
    g.add_argument("--keep-last", type=int, default=2)
    g.add_argument("--staging-horizon", type=float, default=86400.0)
    g.set_defaults(fn=cmd_gc)

    sc = sub.add_parser(
        "scrub",
        help="archive integrity scrub: re-checksum resting files, "
        "cross-check the registry (nonzero exit on findings)",
    )
    sc.add_argument("--archive", required=True)
    sc.add_argument("--registry", default=None)
    sc.add_argument("--sample", type=float, default=None,
                    help="rotating partial scrub fraction (deterministic hash gate)")
    sc.add_argument("--salt", type=int, default=0,
                    help="scrub epoch: vary per run to rotate the sampled slice")
    sc.add_argument("--findings-out", default=None,
                    help="parquet sink for the full findings detail "
                    "(driver prints counts + a 20-row sample either way)")
    sc.set_defaults(fn=cmd_scrub)

    pr = sub.add_parser("profile", help="one-pass per-column data-quality profile")
    pr.add_argument("--path", required=True)
    pr.add_argument("--baseline", help="prior profile JSON to diff against")
    pr.add_argument("--save", help="write this profile as JSON for future diffs")
    pr.add_argument(
        "--checks",
        help="JSON file of declarative expectations (check_table); "
        "exit 1 if any fails",
    )
    pr.add_argument(
        "--drift-html",
        help="with --baseline: also write drift findings as an HTML page",
    )
    pr.set_defaults(fn=cmd_profile)

    ov = sub.add_parser("overlap", help="KMV cross-corpus overlap estimate")
    ov.add_argument("--a", required=True, help="parquet dir of corpus A")
    ov.add_argument("--b", required=True, help="parquet dir of corpus B")
    ov.add_argument("--key-col", default="text", help="identity column (hashed)")
    ov.add_argument("--k", type=int, default=1024)
    ov.set_defaults(fn=cmd_overlap)

    di = sub.add_parser("diff", help="corpus snapshot diff (release report)")
    di.add_argument("--old", required=True, help="parquet dir of the prior snapshot")
    di.add_argument("--new", required=True, help="parquet dir of the new snapshot")
    di.add_argument("--key-col", default="text")
    di.add_argument("--k", type=int, default=1024)
    di.set_defaults(fn=cmd_diff)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
