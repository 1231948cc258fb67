#!/usr/bin/env python3
"""Layer-attributed benchmark for dbbspark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one ``local[nproc]`` session,
a closed loop that runs one operation at a time. Inputs come only from
``--seed`` (perfbench/gen.py); outputs are checked against the DuckDB
oracle (catalog_suite) or against the generator's expectations
(nightly_write). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Everything the run writes lives under ``.perfbench_work/`` in the
current directory and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("catalog_suite", "nightly_write")

# The queries catalog_suite measures: a fixed cross-section of the
# relational/monitor queries (scalars, filters, joins, aggregates, windows,
# sets, reconcile, streaming_batch) and of the LLM-data queries (dedup,
# similarity, text, multimodal), chosen to cover every layer: shuffle-heavy
# joins, the one Arrow UDF of the relational side, eager lineage cuts,
# Arrow/pandas workers. perfbench/tests/test_oracle_catalog.py checks the
# whole catalog on the same generated tables.
CORE_QUERIES = (
    "q_reconcile_anti", "q_big_join", "q_skew_salted_join", "q_asof_join",
    "q_grouped_agg_udf", "q_exact_dedup", "q_dedup_clusters", "q_doc_metrics",
)
# catalog passes per run: the first one after the check pass is still
# warming the JIT, and the median of three leaves it (or any other
# outlier pass) out
MIN_PASSES = 3
# generated tables: sf0.01 shape (60000 lineitem rows). At sf0.1 a
# catalog_suite run takes about 90 s, more than a run may take; the
# measured times are in perfbench/README.md.
SCALE = 0.01


def _median(values):
    return statistics.median(values) if values else 0.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.tracer = None

    # -- bookkeeping ------------------------------------------------------

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            _log(f"FAILED: {what}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ----------------------------------------------------------

    def start_session(self):
        from dbbspark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.tracer.bind(spark)
        return spark

    def warm_up(self) -> None:
        """The session warm-up bench.py does: one JVM job and one
        Python-worker job."""
        spark = self.spark
        spark.range(1000).count()
        spark.range(8).repartition(4).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()

    def setup(self, generate) -> tuple[float, object]:
        """Session start (the JVM launch included), input generation and
        warm-up: the cold path a run pays before its first operation.
        Returns its wall and the inputs. It is timed once per run, as a
        second cold start would cost as much again (about 12 s)."""
        t0 = time.perf_counter()
        self.start_session()
        inputs = generate(self.path("inputs"))
        self.warm_up()
        return time.perf_counter() - t0, inputs

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def process_tree(self) -> dict[int, int]:
        """pid -> CPU ticks (user + system, own and reaped children's) of
        this process, the driver JVM and every process under them."""
        children: dict[int, list[int]] = {}
        ticks: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            # fields[1] is the ppid; [11:15] are utime, stime and the same
            # for reaped children (Python workers that exited)
            children.setdefault(int(fields[1]), []).append(int(entry))
            ticks[int(entry)] = sum(int(x) for x in fields[11:15])
        todo = [p for p in (os.getpid(), self.jvm_pid()) if p is not None]
        tree: dict[int, int] = {}
        while todo:
            pid = todo.pop()
            if pid not in tree:
                tree[pid] = ticks.get(pid, 0)
                todo += children.get(pid, [])
        return tree

    def cpu_s(self) -> float:
        """CPU seconds used so far by the whole process tree."""
        return sum(self.process_tree().values()) / os.sysconf("SC_CLK_TCK")

    def jvm_peak_rss_kb(self) -> int:
        pid = self.jvm_pid()
        if pid is None:
            return 0
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers under it have ended."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        started = set(self.process_tree()) - {os.getpid()}
        try:
            gateway.shutdown()
        except (Py4JError, OSError):  # connection already gone
            pass
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(map(_alive, started)):
            time.sleep(0.1)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# catalog workloads


def run_catalog(run: Run) -> dict:
    import gen
    from dbbspark import verify
    from dbbspark.catalog import load_all

    args = run.args
    catalog = load_all()
    names = list(CORE_QUERIES)
    setup_s, sf_dir = run.setup(
        lambda d: (gen.write_tables(d, args.seed, SCALE), d)[1]
    )
    rng = random.Random(args.seed)

    # correctness: every query once against the DuckDB oracle, untimed
    # (this pass also warms the JIT and the Python workers)
    con = verify.duckdb_connect(sf_dir)
    spill = run.path("duckdb_spill")
    con.execute(f"SET temp_directory='{spill}'")
    check_order = names[:]
    rng.shuffle(check_order)
    for name in check_order:
        try:
            res = verify.compare_query(run.spark, con, catalog[name], sf_dir)
            run.record(res["ok"], f"{name}: {res['status']} {res.get('detail', '')}")
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            traceback.print_exc(file=sys.stderr)
            run.record(False, f"{name}: {type(e).__name__}: {e}")
    con.close()

    # measured window: at least MIN_PASSES whole passes (and --seconds),
    # each in a fresh seeded order
    run.tracer.reset()
    passes, by_op = [], {name: [] for name in names}
    t_start, cpu0 = time.perf_counter(), run.cpu_s()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        order = names[:]
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            q0 = time.perf_counter()
            try:
                with run.tracer.span("queries.build", name):
                    df = catalog[name].builder(run.spark, sf_dir)
                with run.tracer.span("spark.exec", name):
                    df.write.format("noop").mode("overwrite").save()
                run.record(True, name)
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                traceback.print_exc(file=sys.stderr)
                run.record(False, f"{name}: {type(e).__name__}: {e}")
            by_op[name].append(time.perf_counter() - q0)
        passes.append(time.perf_counter() - p0)
    window = time.perf_counter() - t_start
    return {
        "setup_s": setup_s,
        "cpu_s": run.cpu_s() - cpu0,
        "passes": passes,
        "by_op": by_op,
        "window_s": window,
        "units": len(passes),
    }


# ---------------------------------------------------------------------------
# nightly_write


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _commit_state(spark, index_dir: str) -> dict:
    from dbbspark.commit import committed_versions

    files = orphans = 0
    for dirpath, dirs, fs in os.walk(index_dir):
        files += len(fs)
        if os.path.basename(dirpath) == "_staging":  # _staging/<token>
            orphans += len(dirs)
    return {
        "versions_live": len(committed_versions(spark, index_dir)),
        "index_files": files,
        "staging_orphans": orphans,
    }


class Campaign:
    """The seeded nightly_write inputs: stage-in nights, each night's
    documents and the reference output of the gate for them. Nights are
    made on demand, in order; night 0 has one file of each kind and warms
    every code path up."""

    def __init__(self, root: str, seed: int):
        import gen

        self.root, self.seed = root, seed
        self.documents = gen.make_documents(seed, SCALE)
        self.ref = gen.GateReference()
        self.archived: list[str] = []
        self.nights, self.docs, self.gated = [], [], []

    def stage(self, k: int) -> "Campaign":
        import gen

        while len(self.nights) <= k:
            n = len(self.nights)
            night = gen.stage_night(
                os.path.join(self.root, f"night{n}"), n, self.seed, self.archived,
                gen.WARMUP_MIX if n == 0 else gen.NIGHT_MIX,
            )
            self.archived += night.archived_names
            docs = gen.night_docs(self.documents, self.seed, n)
            self.nights.append(night)
            self.docs.append(docs)
            self.gated.append(self.ref.gate(docs))
        return self


def check_night(run: Run, campaign: Campaign, out: str, k: int, replay: bool,
                res, window: dict) -> bool:
    """Check night ``k``'s outcome against the generator: ingest reasons,
    registry rows, and the gated output."""
    import gen

    spark, night = run.spark, campaign.nights[k]
    expected = dict(night.expected)
    if replay:  # everything archived before is now a duplicate
        expected[gen.REASON_DUPLICATE] = expected.pop(None, 0) + expected.get(
            gen.REASON_DUPLICATE, 0
        )
    else:
        window["registered"] += night.expected.get(None, 0)
        window["staged_bytes"] += night.staged_bytes
    got = dict(res.by_reason)
    if res.archived:
        got[None] = res.archived
    reg_rows = spark.read.parquet(os.path.join(out, "registry")).count()
    gated = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(os.path.join(out, "gated"))
        .where(f"batch = {k}")
        .collect()
    }
    checks = [
        (got == expected, f"night{k} reasons {got} != {expected}"),
        (
            reg_rows == window["registered"],
            f"night{k} registry rows {reg_rows} != {window['registered']}",
        ),
        (gated == campaign.gated[k], f"night{k} gated output != reference"),
    ]
    for ok, what in checks:
        run.record(ok, what)
    return all(ok for ok, _ in checks)


def night_step(run: Run, campaign: Campaign, out: str, k: int, replay: bool,
               window: dict) -> bool:
    """Ingest night ``k`` and gate its documents (a replay repeats the
    night, which must archive nothing and emit the same documents), then
    check the outcome. The checks stay off the clock: their time is added
    to ``window["paused_s"]``. True if the night ran and passed."""
    import gen
    from dbbspark.plans.keywords import parse_keyword_csv
    from dbbspark.streaming.ingest import IngestConfig, ingest_batch
    from dbbspark.streaming.linededup import process_batch

    spark, tracer = run.spark, run.tracer
    night, docs = campaign.nights[k], campaign.docs[k]
    cfg = IngestConfig(
        notify_dir=night.notify_dir,
        delivery_dir=night.delivery_dir,
        archive_root=os.path.join(out, "archive"),
        registry_path=os.path.join(out, "registry"),
        quarantine_path=os.path.join(out, "quarantine"),
        keyword_schemas={"raw": parse_keyword_csv(gen.KEYWORD_CSV)},
    )
    n0, cpu0 = time.perf_counter(), run.cpu_s()
    try:
        with tracer.span("streaming.ingest", f"night{k}") as sp_i:
            res = ingest_batch(spark, cfg, task_id=f"night{k}")
        with tracer.span("streaming.linededup", f"night{k}") as sp_g:
            batch = spark.createDataFrame(docs, "doc_id long, text string")
            process_batch(
                batch, k, os.path.join(out, "index"), os.path.join(out, "gated")
            )
        with tracer.span("commit", f"night{k}"):
            window["commit"] = _commit_state(spark, os.path.join(out, "index"))
    except Exception as e:  # noqa: BLE001 - a failing night is a result
        run.record(False, f"night{k}: {type(e).__name__}: {e}")
        traceback.print_exc(file=sys.stderr)
        return False
    wall, cpu = time.perf_counter() - n0, run.cpu_s() - cpu0
    kind = ".replay" if replay else ""
    window["ops"]["ingest_batch" + kind].append(sp_i.wall)
    window["ops"]["process_batch" + kind].append(sp_g.wall)
    window["nights"].append(wall)
    window["cpu_s"] += cpu
    window["ingest"].append((sp_i.wall, len(os.listdir(night.notify_dir))))
    window["gate"].append((sp_g.wall, len(docs)))

    c0 = time.perf_counter()
    try:
        return check_night(run, campaign, out, k, replay, res, window)
    except Exception as e:  # noqa: BLE001 - a check that cannot run failed
        run.record(False, f"night{k} check: {type(e).__name__}: {e}")
        traceback.print_exc(file=sys.stderr)
        return False
    finally:
        window["paused_s"] += time.perf_counter() - c0


def run_nightly(run: Run) -> dict:
    """Night 0 warms up (checked, not timed). Then each measured pass is
    a fresh night and its replay, repeated until ``--seconds`` have been
    measured or a night fails."""
    args = run.args
    setup_s, campaign = run.setup(lambda d: Campaign(d, args.seed).stage(1))
    out = run.path("campaign")
    window = {"registered": 0, "staged_bytes": 0}

    def fresh_window() -> None:
        window.update(
            nights=[], ingest=[], gate=[], paused_s=0.0, cpu_s=0.0,
            ops={f"{op}{kind}": [] for op in ("ingest_batch", "process_batch")
                 for kind in ("", ".replay")},
        )

    fresh_window()
    night_step(run, campaign, out, 0, False, window)
    fresh_window()
    run.tracer.reset()
    passes, ok, k = [], True, 0
    t_start = time.perf_counter()
    while ok and (
        not passes or time.perf_counter() - t_start - window["paused_s"] < args.seconds
    ):
        k += 1
        c0 = time.perf_counter()
        campaign.stage(k)
        window["paused_s"] += time.perf_counter() - c0
        done = len(window["nights"])
        ok = night_step(run, campaign, out, k, False, window)
        ok = night_step(run, campaign, out, k, True, window) and ok
        passes.append(sum(window["nights"][done:]))
    window_s = time.perf_counter() - t_start - window["paused_s"]
    stored = sum(
        _dir_bytes(os.path.join(out, d))
        for d in ("archive", "registry", "quarantine", "index", "gated")
    )
    staged = window["staged_bytes"]
    window["stored_ratio"] = stored / staged if staged else 0.0
    return {
        "setup_s": setup_s,
        "cpu_s": window["cpu_s"],
        "passes": passes,
        "by_op": window["ops"],
        "window_s": window_s,
        "units": len(passes),
        "nightly": window,
    }


# ---------------------------------------------------------------------------
# metrics


def end_to_end_metrics(run: Run, res: dict) -> dict:
    values = {
        "setup_s": (res["setup_s"], "s"),
        "pass_cpu_s": (res["cpu_s"] / max(res["units"], 1), "s"),
        "success_frac": (1.0 - run.failed / max(run.attempted, 1), "frac"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dbbspark")):
        print("perfbench: no dbbspark package next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(
        os.path.abspath(".perfbench_work"),
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
    )
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    from layers import configure_environment  # noqa: E402 - path set above

    configure_environment(work, args.trace == 1)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass


def _run(args, work: str) -> int:
    from layers import MOVES, host_metrics, layer_metrics
    from spans import Tracer

    try:
        import dbbspark.catalog  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    run = Run(args, work)
    run.tracer = Tracer(enabled=args.trace == 1)
    coverage_ok = True
    try:
        if args.workload == "nightly_write":
            res = run_nightly(run)
        else:
            res = run_catalog(run)
        e2e = metrics = end_to_end_metrics(run, res)
        res["peak_rss_mb"] = (
            run.jvm_peak_rss_kb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024.0
        if args.trace:
            # stopping the context flushes and closes its event log
            app_id = run.spark.sparkContext.applicationId
            run.spark.stop()
            run.spark = None
            metrics, coverage_ok = layer_metrics(run, res, app_id)
            if not coverage_ok:
                run.problems.append("span coverage under 90%")
    finally:
        run.shutdown()
    if args.trace:
        metrics.update(host_metrics())
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "units": res["units"],
        "pass_s": round(_median(res["passes"]), 3),
        "passes_s": [round(x, 3) for x in res["passes"]],
        "window_s": round(res["window_s"], 3),
        "end_to_end": {k: round(v["value"], 4) for k, v in e2e.items()},
        "op_median_s": {k: round(_median(v), 3) for k, v in res["by_op"].items()},
        "problems": run.problems[:20],
    }
    if args.trace:
        summary["moves"] = {k: v[1] for k, v in MOVES.items()}
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and coverage_ok,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    sys.exit(main())
