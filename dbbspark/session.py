"""SparkSession construction with scale-oriented defaults.

The reference runs single-threaded Python (SURVEY.md §4); here all physical
concerns (vectorization, codegen, shuffle, spill, adaptive re-planning) are
delegated to Spark. The settings below are the ones that matter at 100 TB:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy demotion to broadcast),
- explicit shuffle-partition default sized for the local test harness
  (on a real cluster this is overridden; AQE coalesces the excess),
- Arrow enabled so pandas_udf extractors (SURVEY.md §2.10 U3) move data in
  columnar batches instead of row-at-a-time pickling,
- nanosAsLong so TIMESTAMP(NANOS) parquet (the `events` fixture) is
  readable; `tables.py` restores a proper TimestampType column,
- a generated-code cache that holds the working set
  (`spark.sql.codegen.cache.maxEntries` = 4096, Spark's default is 100).
  The cache is one LRU per JVM, keyed by source text and class loader,
  and in local mode every class is cached twice (driver and executor
  loaders). Measured working sets: about 160 entries per `nightly_write`
  pass, 170 per `catalog_suite` pass and 800 for all 50 declared
  queries. At 100 entries the LRU evicted each class before its next
  use, so every warm pass recompiled 140-190 classes (912 for the 50
  queries) and paid Janino plus JIT for them again. The conf is STATIC:
  it is read once, when the JVM's code generator first runs, so it is
  set at session build (`STATIC_CONFS`, read by `get_spark` and the
  test fixture). `apply_runtime_confs` cannot apply it to a session
  someone else built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every entry point applies to whatever session it is
# handed (the verify driver owns session creation, so these must be settable
# on a live session — all of them are SQL runtime confs).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic time semantics: fixture timestamps are naive; interpret
    # them as UTC everywhere so date_format/unix-epoch math matches the
    # DuckDB oracle (which is timezone-naive).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); Spark 4 refuses it unless
    # nanos are surfaced as long (tables.py converts back to timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive query execution: runtime shuffle coalescing + skew handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferFiltersFromGenerate duplicates the generator's input expression
    # into a pre-Generate Filter (size(e)>0 AND isnotnull(e)). For cheap
    # array columns that's a win; for computed arrays (shingling, hashed
    # token transforms) it re-evaluates the whole interpreted transform per
    # row — measured 6× slowdown on the near-dedup operators. Our explode
    # inputs are always computed arrays, so exclude the rule.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Whole-stage classes are cached by source text, and by default the
    # stage id is part of the class name. AQE numbers a query's stages in
    # the order it plans them, which can differ between runs of the same
    # query, so an unchanged pipeline got a new name and was compiled
    # again. Without the id, one pipeline is one class; the id stays in
    # the generated source's comments.
    "spark.sql.codegen.useIdInClassName": "false",
}


# Static confs, set when the session is BUILT: Spark reads them once per
# JVM, and a live session's conf.set refuses them. `get_spark` and the
# test fixture both apply this dict (see the module docstring).
STATIC_CONFS: dict[str, str] = {
    "spark.sql.codegen.cache.maxEntries": "4096",
}


# Conf key that flips every lineage cut in the package from executor-local
# checkpoint blocks to reliable (shared-filesystem) checkpoints. Runtime
# settable: tests/operators flip it on a live session.
CHECKPOINT_DIR_CONF = "spark.dbbspark.checkpointDir"


def cut_lineage(df, eager: bool = False, replicated: bool = False):
    """Truncate a DataFrame's lineage — the package-wide checkpoint seam.

    Every iterative loop (CC rounds, PageRank, BPE merges) and every
    shared-sub-plan pin (prefix sums, posting streams, funnel blame) in the
    package cuts lineage through this ONE helper instead of calling
    ``localCheckpoint`` directly, so the fault-tolerance mode is a config
    switch rather than 30 scattered call sites:

    - default: ``localCheckpoint`` — blocks live on executors; losing an
      executor mid-job kills the job and the (idempotent) job is re-run.
      Right for short single-job pipelines on a stable cluster and for the
      local test harness (no HDFS needed).
    - ``spark.dbbspark.checkpointDir=<shared-fs path>`` (or env
      ``DBBSPARK_CHECKPOINT_DIR`` at session build): reliable
      ``DataFrame.checkpoint`` — blocks are written to the shared
      filesystem, so executor loss/preemption recomputes from the
      checkpoint instead of killing the job. Right for long-lived
      preemptible 1000-executor clusters (SURVEY.md §4). The sites' plans
      do not change shape; only the block store does.

    The SparkContext checkpoint dir is set lazily from the conf the first
    time a reliable cut runs; unsetting the conf (``spark.conf.unset``)
    reverts to local mode even though the context keeps its (now unused)
    dir — routing keys off the dbbspark conf, not the context state.

    ``eager=False`` callers pin a sub-plan so two consumers share one
    execution; ``eager=True`` callers materialize now to cut an iterative
    loop's growing lineage. Both semantics are preserved by
    ``DataFrame.checkpoint``, which accepts the same flag.

    ``replicated=True`` (r12): in LOCAL mode the checkpoint blocks are
    stored MEMORY_AND_DISK_2 — one replica on a second executor — so
    losing a single executor mid-job leaves the cut recoverable instead
    of aborting with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Streaming gate
    batch paths set it: the clip-gate executor chaos test caught the
    unreplicated cut stranding a batch whenever the killed executor
    happened to hold the blocks (the stills gate had survived only
    because its hot path carries no cut). Reliable mode ignores the
    flag — shared-filesystem checkpoints already survive executor loss.
    Iterative drivers (CC/PageRank/BPE) keep the unreplicated default:
    their jobs are short, re-runnable, and replication would double the
    block traffic of every round.
    """
    spark = df.sparkSession
    try:
        ckpt_dir = spark.conf.get(CHECKPOINT_DIR_CONF, "") or ""
    except Exception:
        ckpt_dir = ""
    if not ckpt_dir:
        if replicated:
            from pyspark.storagelevel import StorageLevel

            return df.localCheckpoint(
                eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK_2
            )
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    current = None
    try:
        current = sc.getCheckpointDir()
    except Exception:
        pass
    # setCheckpointDir appends a random subdir; match on prefix so we only
    # re-set when the configured root actually changed. getCheckpointDir
    # returns a fully-qualified URI (file:/... or hdfs://host/...) while the
    # conf value is usually a bare path, so compare path components, not raw
    # strings — otherwise every call re-sets and churns fresh subdirectories.
    # Two refinements (self-review r6): the prefix must end at a path
    # separator (root /tmp/ckpt must NOT match a current dir under
    # /tmp/ckpt-old), and when the conf names a scheme the current URI's
    # scheme must match it (flipping hdfs://nn/data/ckpt -> file:/data/ckpt
    # is a real change even though the paths are equal).
    from urllib.parse import urlparse

    cur = urlparse(current) if current else None
    want = urlparse(ckpt_dir)
    root_path = (want.path or ckpt_dir).rstrip("/")
    matches = (
        cur is not None
        and (not want.scheme or cur.scheme == want.scheme)
        and (
            cur.path == root_path
            or cur.path.startswith(root_path + "/")
        )
    )
    if not matches:
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)


def collect_if_small(df, bound: int):
    """``df``'s rows as a pandas frame, or None when ``df`` has more than
    ``bound`` rows — the package's one driver-vs-distributed decision.

    Every size-adaptive operator (CC, cluster rank, Hamming-ball stats,
    cluster purity, BPE training) runs its driver regime on the frame
    this returns and its distributed plan on None, so the bound is the
    only thing that differs between them. The small case evaluates
    ``df`` once; an overflowing probe evaluates it again for the count
    (and a third time for the full collect), so callers cut an
    expensive upstream first.

    Probe memory: the decision is TWO-phase so the distributed path
    never materializes bound-many driver rows. Phase 1 pulls at most
    min(100 000, bound) + 1 rows through Arrow ``toPandas`` (narrow
    numeric rows cost ~16 B/row in pandas) — the common small case,
    one job. Only when that overflows does a bounded
    ``limit(bound + 1).count()`` decide between collecting the full
    relation (now KNOWN ≤ bound) and returning None."""
    cap = min(100_000, bound)
    pdf = df.limit(cap + 1).toPandas()
    if len(pdf) <= cap:
        return pdf
    del pdf
    if df.limit(bound + 1).count() > bound:
        return None
    return df.toPandas()


def _ship_package(spark: SparkSession) -> None:
    """Distribute the dbbspark package to Python workers via addPyFile.

    Arrow-batched operators (mapInPandas/applyInPandas closures) pickle
    module-level functions BY REFERENCE, so the worker process must be
    able to `import dbbspark` — true when the driver happens to run from
    the repo root, false for any external driver process (the verify
    harness, a spark-submit from elsewhere). Shipping the package as a
    zip is the production deployment step (--py-files) done lazily; in
    local mode it lands on the worker sys.path via SparkFiles. Guarded
    per-SparkContext (a second addPyFile of the same name would throw).
    """
    sc = spark.sparkContext
    if getattr(sc, "_dbbspark_shipped", False):
        return
    import tempfile
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "dbbspark")
    fd, path = tempfile.mkstemp(suffix=".zip", prefix="dbbspark_pkg_")
    os.close(fd)
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(path)
    sc._dbbspark_shipped = True


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply deterministic/scale confs to an externally-created session."""
    try:
        _ship_package(spark)
    except Exception:
        # Shipping is best-effort: in-repo drivers work without it.
        pass
    confs = dict(RUNTIME_CONFS)
    # Small fixture files arrive as ONE split (< maxPartitionBytes), so
    # expression-heavy stages would run on a single core; a split floor
    # parallelizes MB-scale files. Round-4 measured three regimes
    # (one-split-per-core + 128 KB open cost, Spark defaults, and this
    # 8-split + 1 MB middle ground) INTERLEAVED within the same session
    # (diag_regression.py): per-query minima agree within 1-5% — the
    # apparent r3 per-query regressions were external machine
    # interference, not the confs. The middle ground is kept because it
    # creates the fewest tiny tasks while still splitting MB-scale
    # files; on real multi-file 100 TB inputs both values are no-ops
    # (files already exceed these floors).
    confs["spark.sql.files.minPartitionNum"] = "8"
    confs["spark.sql.files.openCostInBytes"] = str(1024 * 1024)
    # Reliable-checkpoint opt-in for preemptible clusters (see cut_lineage).
    env_ckpt = os.environ.get("DBBSPARK_CHECKPOINT_DIR", "")
    if env_ckpt:
        confs[CHECKPOINT_DIR_CONF] = env_ckpt
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf locked down on this session build — leave as-is.
            pass
    return spark


def get_spark(app_name: str = "dbbspark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/config come from spark-submit and this builder only
    contributes SQL confs.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # SPARK_GRAFT_MASTER overrides the master for multi-JVM measurement
    # legs (e.g. local-cluster[2,16,8192] — real executor processes, real
    # serialization + shuffle fetch); default stays one-JVM local[n].
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("DBBSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in STATIC_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
