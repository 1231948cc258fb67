"""Run environment and per-layer metrics of a traced run.

``configure_environment`` must run before pyspark starts the JVM: it keeps
every file the run writes inside the run's work directory and, for a
traced run, turns on an uncompressed, non-rolling Spark event log there.
The program's own session code (``dbbspark.session.get_spark``) runs
unchanged; the settings reach it through ``PYSPARK_SUBMIT_ARGS``.

``layer_metrics`` joins the tracer's spans with the event log by job
group and reports each layer's cost per unit of work (one suite pass for
catalog_suite, one night for nightly_write).
"""

from __future__ import annotations

import glob
import os
import shlex
import statistics

import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# spans whose wall time is Spark execution (the coverage check's scope)
EXEC_LAYERS = ("spark.exec", "streaming.ingest", "streaming.linededup")

# per-layer metric -> (unit, the end-to-end metric and workload it moves);
# pass_s, the median wall of a unit of work, is in every run's summary
# line but not gated: it varies with host load more than any bound
# allows (see perfbench/README.md)
MOVES = {
    "queries.build_s": ("s", "pass_cpu_s, pass_s on catalog_suite (curation queries most)"),
    "queries.build_py4j_calls": ("count", "pass_cpu_s, pass_s on catalog_suite"),
    "queries.build_jobs": ("count", "pass_cpu_s, pass_s on catalog_suite (curation queries)"),
    "spark.exec_s": ("s", "pass_cpu_s, pass_s on catalog_suite"),
    "spark.jobs": ("count", "pass_cpu_s, pass_s on both workloads"),
    "spark.stages": ("count", "pass_cpu_s, pass_s on both workloads"),
    "spark.tasks": ("count", "pass_cpu_s, pass_s on both workloads"),
    "spark.executor_run_s": ("s", "pass_cpu_s, pass_s on both workloads"),
    "spark.executor_cpu_s": ("s", "pass_cpu_s, pass_s on both workloads; tells host noise from code"),
    "spark.scheduler_delay_s": ("s", "pass_s (wall only) on both workloads"),
    "spark.jvm_gc_s": ("s", "pass_cpu_s, pass_s on both workloads"),
    "spark.driver_gap_s": ("s", "pass_s (wall only) on both workloads"),
    "spark.task_failures": ("count", "success_frac, pass_cpu_s, pass_s on both workloads"),
    "spark.driver_peak_rss_mb": ("MB", "memory of the driver JVM plus Python"),
    "spark.shuffle_write_bytes": ("B", "pass_cpu_s, pass_s on catalog_suite (joins), nightly_write (gate)"),
    "spark.shuffle_read_bytes": ("B", "pass_cpu_s, pass_s on catalog_suite (joins), nightly_write (gate)"),
    "spark.spill_bytes": ("B", "pass_cpu_s, pass_s on catalog_suite, nightly_write"),
    "operators.python_udf_s": ("s", "pass_cpu_s, pass_s on catalog_suite (curation queries), nightly_write"),
    "operators.python_rows": ("count", "pass_cpu_s, pass_s on catalog_suite (curation queries)"),
    "session.cuts": ("count", "pass_cpu_s, pass_s on catalog_suite (curation queries)"),
    "tables.scan_bytes": ("B", "pass_cpu_s, pass_s on catalog_suite"),
    "tables.scan_rows": ("count", "pass_cpu_s, pass_s on catalog_suite"),
    "streaming.ingest.batch_s": ("s", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.ingest.jobs": ("count", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.ingest.scan_files": ("count", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.ingest.output_bytes": ("B", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.ingest.files_per_s": ("1/s", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.linededup.batch_s": ("s", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.linededup.jobs": ("count", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.linededup.shuffle_bytes": ("B", "pass_cpu_s, pass_s on nightly_write"),
    "streaming.linededup.docs_per_s": ("1/s", "pass_cpu_s, pass_s on nightly_write"),
    "commit.versions_live": ("count", "pass_cpu_s, pass_s on nightly_write"),
    "commit.index_files": ("count", "pass_cpu_s, pass_s on nightly_write"),
    "commit.staging_orphans": ("count", "pass_cpu_s, pass_s on nightly_write"),
    "commit.stored_bytes_per_input_byte": ("B/B", "disk footprint on nightly_write"),
    "trace.wall_coverage": ("frac", "self-check: spans cover >= 90% of the window"),
    "trace.exec_coverage": ("frac", "self-check: jobs + driver gap cover >= 90% of exec"),
    "trace.unit_s": ("s", "traced pass_s; minus untraced pass_s = tracing overhead"),
    "host.cpu_single_s": ("s", "host noise (bench.cpu_calibration), not a code change"),
    "host.parallel_eff": ("frac", "host noise (bench.cpu_calibration), not a code change"),
}


def configure_environment(work: str, trace: bool) -> None:
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import dbbspark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _metric(name: str, value: float) -> tuple[str, dict]:
    return name, {"value": float(value), "unit": MOVES[name][0]}


def layer_metrics(run, res: dict, app_id: str) -> tuple[dict, bool]:
    """Per-layer metrics, and whether the event log was found and both
    coverage shares reach 90%."""
    logs = glob.glob(os.path.join(run.work, "eventlog", f"{app_id}*"))
    groups = eventlog.parse_file(logs[0]) if logs else {}
    empty = eventlog.GroupStats()
    spans = run.tracer.spans
    units = max(res["units"], 1)

    def stats(sp):
        return groups.get(sp.sid, empty)

    def total(attr: str, layers=None) -> float:
        return sum(
            getattr(stats(sp), attr)
            for sp in spans
            if layers is None or sp.layer in layers
        )

    def walls(layers) -> float:
        return sum(sp.wall for sp in spans if sp.layer in layers)

    def jobs(layers) -> float:
        return sum(len(stats(sp).job_intervals) for sp in spans if sp.layer in layers)

    all_jobs = [iv for g in groups.values() for iv in g.job_intervals]
    gap_ms = attributed_ms = exec_ms = 0.0
    for sp in spans:
        if sp.layer not in EXEC_LAYERS:
            continue
        lo, hi = int(sp.t0 * 1000), int(sp.t1 * 1000)
        exec_ms += hi - lo
        gap_ms += (hi - lo) - eventlog.covered_ms(all_jobs, lo, hi)
        attributed_ms += eventlog.covered_ms(stats(sp).job_intervals, lo, hi)
    wall_cov = sum(sp.wall for sp in spans) / max(res["window_s"], 1e-9)
    exec_cov = (attributed_ms + gap_ms) / exec_ms if exec_ms else 1.0

    nightly = res.get("nightly") or {}
    ingest = nightly.get("ingest") or []
    gate = nightly.get("gate") or []
    commit = nightly.get("commit") or {}
    per = 1.0 / units
    ingest_l, gate_l = ("streaming.ingest",), ("streaming.linededup",)
    values = {
        "queries.build_s": walls(("queries.build",)) * per,
        "queries.build_py4j_calls": sum(
            sp.py4j_calls for sp in spans if sp.layer == "queries.build"
        ) * per,
        "queries.build_jobs": jobs(("queries.build",)) * per,
        "spark.exec_s": walls(("spark.exec",)) * per,
        "spark.jobs": total("jobs") * per,
        "spark.stages": total("stages") * per,
        "spark.tasks": total("tasks") * per,
        "spark.executor_run_s": total("executor_run_ms") / 1e3 * per,
        "spark.executor_cpu_s": total("executor_cpu_ns") / 1e9 * per,
        "spark.scheduler_delay_s": total("scheduler_delay_ms") / 1e3 * per,
        "spark.jvm_gc_s": total("jvm_gc_ms") / 1e3 * per,
        "spark.driver_gap_s": gap_ms / 1e3 * per,
        "spark.task_failures": total("task_failures") * per,
        "spark.driver_peak_rss_mb": res["peak_rss_mb"],
        "spark.shuffle_write_bytes": total("shuffle_write_bytes") * per,
        "spark.shuffle_read_bytes": total("shuffle_read_bytes") * per,
        "spark.spill_bytes": total("spill_bytes") * per,
        "operators.python_udf_s": total("python_ms") / 1e3 * per,
        "operators.python_rows": total("python_rows") * per,
        "session.cuts": sum(sp.cuts for sp in spans) * per,
        "tables.scan_bytes": total("input_bytes") * per,
        "tables.scan_rows": total("input_rows") * per,
        "streaming.ingest.batch_s": walls(ingest_l) * per,
        "streaming.ingest.jobs": jobs(ingest_l) * per,
        "streaming.ingest.scan_files": total("files_read", ingest_l) * per,
        "streaming.ingest.output_bytes": total("output_bytes", ingest_l) * per,
        "streaming.ingest.files_per_s": _rate(ingest),
        "streaming.linededup.batch_s": walls(gate_l) * per,
        "streaming.linededup.jobs": jobs(gate_l) * per,
        "streaming.linededup.shuffle_bytes": total("shuffle_write_bytes", gate_l) * per,
        "streaming.linededup.docs_per_s": _rate(gate),
        "commit.versions_live": commit.get("versions_live", 0),
        "commit.index_files": commit.get("index_files", 0),
        "commit.staging_orphans": commit.get("staging_orphans", 0),
        "commit.stored_bytes_per_input_byte": nightly.get("stored_ratio", 0.0),
        "trace.wall_coverage": wall_cov,
        "trace.exec_coverage": exec_cov,
        "trace.unit_s": statistics.median(res["passes"]) if res["passes"] else 0.0,
    }
    # no event log means no attribution at all: that fails the check too
    ok = bool(logs) and wall_cov >= 0.9 and exec_cov >= 0.9
    return dict(_metric(k, v) for k, v in values.items()), ok


def _rate(samples) -> float:
    """items per second over (wall, items) samples."""
    wall = sum(w for w, _ in samples)
    return sum(n for _, n in samples) / wall if wall else 0.0


def host_metrics() -> dict:
    """bench.cpu_calibration(), the repo's host-throughput probe, run
    after the JVM is gone so it measures the host, not the benchmark."""
    import bench

    cal = bench.cpu_calibration()
    return dict(
        [
            _metric("host.cpu_single_s", cal["single_sec"]),
            _metric("host.parallel_eff", cal["parallel_eff"]),
        ]
    )
