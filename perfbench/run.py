"""Benchmark of the ingest service, end to end and by layer.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

``--workload`` is ``backfill``, ``steady`` or ``queries`` (the last needs
``--sf-dir``; see perfbench/README.md). With ``--trace 0`` the last
stdout line is one JSON object with the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics and the tracing overhead.
Progress and Spark's own logging go to stderr. If an output of the
program is wrong the run prints ``"correct": false`` and exits with code
1; any other failure exits with code 2 and prints no result. A detail
record — set-up repetitions, per-unit figures, the effective Spark conf
and, in a traced run, every span — is written to ``perfbench/_out/``.

Everything the run creates lives under ``perfbench/_work/`` and is
removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: driver heap: get_spark's 16g default does not fit a 15 GB box
DRIVER_MEM = "4g"

LAYER_TARGETS = [
    ("session.get_spark", "session", "get_spark"),
    ("fs_scan.scan_directory", "sources.fs_scan", "scan_directory"),
    ("csv_ingest.read_ticks_csv", "sources.csv_ingest", "read_ticks_csv"),
    ("registry.dedup_new_files", "operators.registry", "dedup_new_files"),
    ("registry.transition_statuses", "operators.registry", "transition_statuses"),
    ("registry.current_state", "operators.registry", "current_state"),
    ("registry.upload_status_rollup", "operators.registry", "upload_status_rollup"),
    ("service.run_cycle", "streaming.service", "run_cycle"),
    ("registry.state", "streaming.service", "RegistryLog.state"),
    ("registry.append", "streaming.service", "RegistryLog.append"),
    ("registry.compact", "streaming.service", "RegistryLog.compact"),
    ("upload.claim", "streaming.upload", "claim_ready_files"),
    ("upload.run_upload_batch", "streaming.upload", "run_upload_batch"),
    ("clickhouse_http.write", "sinks.clickhouse_http", "ClickHouseHttpSink.write"),
    ("cleanup.run_cleanup", "streaming.cleanup", "run_cleanup"),
]

#: per-layer metrics of the service workloads, as BENCHMARK.json lists them
SERVICE_LAYERS = [
    "session.get_spark_s", "fs_scan.scan_directory_s",
    "csv_ingest.read_ticks_csv_s", "registry.dedup_new_files_s",
    "registry.transition_statuses_s", "registry.current_state_s",
    "registry.upload_status_rollup_s", "registry.state_s",
    "registry.state_calls", "registry.append_s", "registry.append_calls",
    "registry.compact_s", "registry.log_events", "registry.log_bytes",
    "service.run_cycle_s", "service.run_cycle_self_s", "service.eager_jobs",
    "upload.claim_s", "upload.run_upload_batch_s",
    "upload.run_upload_batch_self_s", "clickhouse_http.write_s",
    "clickhouse_http.write_calls", "wire.posts", "wire.retried_posts",
    "wire.rows", "wire.raw_bytes", "wire.gz_bytes", "wire.post_window_s",
    "cleanup.run_cleanup_s", "cleanup.deleted", "spark.jobs", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_write_bytes", "spark.idle_gap_s", "spark.core_busy_share",
    "trace.overhead_share",
]

_UNITS = {"rows_per_s": "rows/s", "files_per_s": "files/s"}


def unit_of(metric: str) -> str:
    if metric in _UNITS:
        return _UNITS[metric]
    for suffix, unit in (("_share", "share"), ("_bytes", "bytes"), ("_s", "s")):
        if metric.endswith(suffix):
            return unit
    return "count"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class StandIn:
    """The ClickHouse HTTP stand-in, as a child process."""

    def __init__(self, work: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "standin.py")],
            stdout=subprocess.PIPE, cwd=work, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.stop()
            raise RuntimeError("stand-in did not start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def stats(self, since: int = 0) -> dict:
        with urllib.request.urlopen(f"{self.url}/_stats?since={since}",
                                    timeout=30) as resp:
            return json.loads(resp.read())

    def n_posts(self) -> int:
        return self.stats(10**12)["n_posts"]

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


class RssSampler:
    """Peak resident set size of this process and its descendants (the
    JVM and the Python workers), leaving out the stand-in's process."""

    def __init__(self, exclude: int | None, interval: float = 0.25):
        self.exclude, self.interval = exclude, interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid == self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
            todo.extend(children.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


class Context:
    """What the service workloads share: session, sink, stand-in, tracer."""

    def __init__(self, seed: int, work: str, standin: StandIn, tracer):
        from crypto_data_service_loader_spark import session
        from crypto_data_service_loader_spark.sinks.clickhouse_http import (
            ClickHouseHttpSink,
        )
        from crypto_data_service_loader_spark.streaming import service

        self.seed, self.work, self.standin, self.tracer = seed, work, standin, tracer
        self.session, self.service = session, service
        self.sink = ClickHouseHttpSink(url=standin.url, table="ticks")
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))


def set_env(work: str) -> None:
    """Only the knobs the program already reads, plus where Spark, the JVM
    and Python put temporary files, so that nothing lands outside the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: HotSpot writes its perf counters to /tmp otherwise
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def stop_spark() -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def spark_conf(spark) -> dict:
    return dict(sorted(spark.sparkContext.getConf().getAll()))


def get_spark_s(tracer) -> float:
    return statistics.median(
        s.dur for s in tracer.spans if s.name == "session.get_spark"
    )


# -- service workloads -----------------------------------------------------------
def setup(ctx, wl) -> float:
    """Session start plus the workload's warm-up cycle; returns their
    timed seconds (input generation is not timed)."""
    ctx.tracer.unit = "setup"
    t0 = time.monotonic()
    ctx.spark = ctx.session.get_spark()
    session_s = time.monotonic() - t0
    warm_s = wl.warmup()
    log(f"set-up: session {session_s:.3f} s + warm-up {warm_s:.3f} s")
    return session_s + warm_s


def measure(ctx, wl, seconds: float, trace_run: bool) -> tuple[list, list]:
    """Run timed units in whole periods (a steady period is PERIOD cycles)
    until `seconds` have passed. A trace run runs twice as many periods,
    an even number, and traces every second unit, so that traced and
    untraced units alternate under the same warm-up drift. Returns the
    units, each marked `traced`, and the layer figures of the traced
    ones."""
    import workloads
    from spans import unit_metrics

    @contextlib.contextmanager
    def timed(uid):
        clock = workloads.Clock()
        ctx.tracer.unit = uid
        ctx.tracer.enabled = traced
        clock.t0 = time.monotonic()
        try:
            yield clock
        finally:
            clock.t1 = time.monotonic()
            ctx.tracer.enabled = False
            ctx.tracer.unit = None

    units: list = []
    layers: list = []
    start, periods = time.monotonic(), 0
    while (time.monotonic() - start < seconds * (1 + trace_run)
           or (trace_run and periods % 2)):
        periods += 1
        for _ in range(wl.PERIOD):
            traced = trace_run and len(units) % 2 == 1
            posts_before = ctx.standin.n_posts()
            unit = wl.run_unit(timed)
            unit.traced = traced
            units.append(unit)
            log(f"unit {unit.uid}: {unit.wall:.3f} s, {unit.files} files, "
                f"{unit.rows} rows{' (traced)' if traced else ''}")
            if not traced:
                continue
            ctx.tracer.harvest_jobs(ctx.spark)
            posts = ctx.standin.stats(posts_before)["posts"]
            m = unit_metrics(ctx.tracer, unit.uid, unit.wall, ctx.cores, posts)
            m["service.eager_jobs"] = m.get("service.run_cycle_jobs", 0)
            if "deleted" in unit.stats:
                m["cleanup.deleted"] = unit.stats["deleted"]
            m["registry.log_events"], m["registry.log_bytes"] = (
                workloads.log_size(ctx.spark, wl.registry_path())
            )
            layers.append(m)
    return units, layers


def run_service(args, work: str, tracer, sampler, detail: dict):
    """Returns (attempted, failed, metric values)."""
    import workloads
    from spans import summarize

    standin = StandIn(work)
    sampler.exclude = standin.proc.pid
    try:
        ctx = Context(args.seed, work, standin, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            tracer.install(LAYER_TARGETS)
            tracer.enabled = True
        detail["setup_s"] = setup(ctx, wl)
        tracer.enabled = False
        detail["spark_conf"] = spark_conf(ctx.spark)
        units, layers = measure(ctx, wl, args.seconds, args.trace == 1)
        wl.final_gate()
    finally:
        standin.stop()
    detail["units"] = [
        {"id": u.uid, "wall": u.wall, "files": u.files, "rows": u.rows,
         "traced": u.traced, "stats": u.stats} for u in units
    ]
    attempted = sum(u.files for u in units)
    failed = sum(u.failed for u in units)
    if args.trace:
        detail["layer_units"] = layers
        values = summarize(layers, SERVICE_LAYERS)
        values["session.get_spark_s"] = get_spark_s(tracer)
        values["trace.overhead_share"] = (
            statistics.median(u.wall for u in units if u.traced)
            / statistics.median(u.wall for u in units if not u.traced) - 1.0
        )
    else:
        wall = sum(u.wall for u in units)
        values = {
            "setup_s": detail["setup_s"],
            "rows_per_s": sum(u.rows for u in units) / wall,
            "files_per_s": attempted / wall,
            "cycle_p50_s": statistics.median(u.wall for u in units),
        }
    return attempted, failed, values


# -- queries workload ------------------------------------------------------------
def run_queries(args, tracer, detail: dict):
    """Returns (attempted, failed, metric values)."""
    import __spark_entry__ as entry
    import queries
    from spans import summarize, unit_metrics

    from crypto_data_service_loader_spark import session

    fns = queries.check_keys(entry)
    if args.trace:
        tracer.install(LAYER_TARGETS[:1])
        tracer.enabled = True
    t0 = time.monotonic()
    spark = session.get_spark()
    start_s = time.monotonic() - t0
    tracer.enabled = False
    detail["setup_s"] = start_s + queries.gate_pass(
        spark, fns, entry.oracle_sql(), args.sf_dir
    )
    log(f"set-up (session + gate pass): {detail['setup_s']:.3f} s")
    detail["spark_conf"] = spark_conf(spark)
    cores = len(os.sched_getaffinity(0))

    def passes(traced: bool) -> tuple[list, list]:
        walls, results, layers = [], [], []
        start = time.monotonic()
        while not walls or time.monotonic() - start < args.seconds:
            unit = f"{'t' if traced else 'u'}{len(walls)}"
            tracer.enabled = traced
            t = time.monotonic()
            res = queries.run_pass(spark, fns, args.sf_dir, tracer, unit)
            walls.append(time.monotonic() - t)
            tracer.enabled = False
            results.append(res)
            log(f"pass {unit}: {walls[-1]:.3f} s, {len(res['failed'])} failed")
            if traced:
                tracer.harvest_jobs(spark)
                layers.append(queries.pass_layers(
                    unit_metrics(tracer, unit, walls[-1], cores, [])
                ))
        return walls, results, layers

    if args.trace:
        base_walls, _, _ = passes(False)
    walls, results, layers = passes(args.trace == 1)
    detail["units"] = [{"wall": w, **r} for w, r in zip(walls, results)]
    attempted = len(fns) * len(results)
    failed = sum(len(r["failed"]) for r in results)
    if args.trace:
        names = sorted({k for m in layers for k in m})
        values = summarize(layers, names)
        values["session.get_spark_s"] = get_spark_s(tracer)
        values["trace.overhead_share"] = (
            statistics.median(walls) / statistics.median(base_walls) - 1.0
        )
        detail["layer_units"] = layers
    else:
        per_key = [
            statistics.median(sum(r["keys"][k]) for r in results
                              if k in r["keys"])
            for k in fns if any(k in r["keys"] for r in results)
        ]
        values = {
            "setup_s": detail["setup_s"],
            "query_pass_s": statistics.median(walls),
            "query_geomean_s": queries.geomean(per_key),
        }
    return attempted, failed, values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "steady", "queries"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", help="tables of the queries workload")
    args = ap.parse_args(argv)
    if args.workload == "queries" and not args.sf_dir:
        ap.error("--workload queries needs --sf-dir")

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    set_env(work)
    sys.path.insert(0, ROOT)
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    sampler = None
    correct, error = True, None
    try:
        # the program must be importable before anything is started
        import workloads
        from spans import Tracer

        tracer = Tracer()
        sampler = RssSampler(exclude=None)
        try:
            if args.workload == "queries":
                attempted, failed, values = run_queries(args, tracer, detail)
            else:
                attempted, failed, values = run_service(
                    args, work, tracer, sampler, detail
                )
        except workloads.GateError as exc:
            correct, error, values = False, str(exc), {}
            attempted = failed = 0
            log(f"CORRECTNESS GATE FAILED: {exc}")
        detail["peak_rss_mb"] = sampler.stop()
    finally:
        if sampler is not None:
            sampler.stop()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    detail["error"] = error
    if args.trace:
        detail["spans"] = [
            [s.sid, s.name, s.parent, s.unit, s.t0, s.t1,
             [j["id"] for j in s.jobs]]
            for s in tracer.spans
        ]
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report, print no result, fail
        traceback.print_exc()
        sys.exit(2)
