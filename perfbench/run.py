"""Application-level benchmark for puma_matcher_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload matcher --seed 1 --seconds 30 --trace 0

One run starts a fresh Spark application, checks every output of its
passes against the recorded fingerprints, and prints one JSON object as
the last line of stdout.  ``--trace 0`` runs one cold pass and reports
the end-to-end metrics; ``--trace 1`` runs a cold pass, warm passes for
``--seconds`` and one traced pass, and reports the per-layer metrics.
See README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import engine  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
BENCHMARK_PATH = os.path.join(ROOT, "BENCHMARK.json")

#: a run must end well inside the 180 s a run is given
RUN_BUDGET_S = 165.0


def declared_metrics(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(BENCHMARK_PATH, encoding="utf-8") as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None once the process is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields


def descendants() -> list[int]:
    """Pids of this process's live descendants (the JVM and its Python
    workers)."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (fields := _proc_stat(int(entry))) is not None:
            parent_of[int(entry)] = int(fields[1])
    me = os.getpid()
    out = []
    for pid in parent_of:
        p = parent_of.get(pid)
        while p is not None and p != me:
            p = parent_of.get(p)
        if p == me:
            out.append(pid)
    return out


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM the session started and wait until it and its Python
    workers have exited (``SparkSession.stop`` leaves the JVM running for
    reuse).  Closing its stdin makes the gateway exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    children = descendants()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    alive = children
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _proc_stat(p) is not None]
    if alive:
        log(f"processes still running after stop: {alive}")


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled from /proc."""

    def __init__(self, enabled: bool, interval_s: float = 0.2):
        self.enabled = enabled
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self._interval)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=5)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["matcher", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--driver-memory",
        default="4g",
        help="driver heap (local mode: the only JVM heap)",
    )
    return ap.parse_args(argv)


def session_env(driver_memory: str, work: str) -> None:
    """Pin what the session reads from the environment; the JVM and the
    Python workers inherit it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory
    # Python workers import the package (UDFs, the manifest source)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def start_spark(work: str):
    from puma_matcher_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside its checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        **engine.RETENTION_CONF,
    }
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoint"))
    spark.range(1).count()
    return spark


def reset_caches(spark) -> None:
    from puma_matcher_spark.functions import caching
    from puma_matcher_spark.sources.testdata import reset_table_cache

    reset_table_cache()
    caching.drain()
    spark.catalog.clearCache()


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class Runner:
    def __init__(self, spark, workload: str, data_dir: str, work: str):
        self.spark = spark
        self.workload = workload
        self.fn = workloads.PASSES[workload]
        self.expected = workloads.load_expected()[workload]
        self.data_dir = data_dir
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def run_pass(self, label: str) -> dict:
        """One closed-loop pass; a pass fails on an exception, on
        running past the run budget, or on a wrong output."""
        reset_caches(self.spark)
        out_dir = os.path.join(self.work, f"pass-{len(self.passes)}")
        remaining = max(5.0, RUN_BUDGET_S - (time.perf_counter() - T0))
        timer = threading.Timer(remaining, self.spark.sparkContext.cancelAllJobs)
        rec = {"label": label, "ok": False}
        self.attempted += 1
        start_ms = time.time() * 1e3
        t = time.perf_counter()
        timer.start()
        try:
            outputs = self.fn(self.spark, self.data_dir, out_dir)
            rec["seconds"] = time.perf_counter() - t
            rec["mismatched"] = workloads.check(outputs, self.expected)
            rec["ok"] = not rec["mismatched"]
        except Exception:  # noqa: BLE001 — a failed pass is a result
            rec["seconds"] = time.perf_counter() - t
            rec["error"] = traceback.format_exc(limit=8)
            log(f"{label} pass raised:\n{rec['error']}")
        finally:
            timer.cancel()
        rec["start_ms"], rec["end_ms"] = start_ms, time.time() * 1e3
        if not rec["ok"]:
            self.failed += 1
        if rec.get("mismatched"):
            log(f"{label} pass: wrong outputs {rec['mismatched']}")
        shutil.rmtree(out_dir, ignore_errors=True)
        self.passes.append(rec)
        log(f"{label} pass {rec['seconds']:.2f}s ok={rec['ok']}")
        return rec

    def warm_passes(self, seconds: float, on_pass=None) -> list[dict]:
        """Warm passes for ``seconds``: never starts a pass expected to
        end past the window, but always runs at least one."""
        warm: list[dict] = []
        began = time.perf_counter()
        while True:
            rec = self.run_pass("warm")
            if on_pass is not None:
                on_pass(rec)
            warm.append(rec)
            elapsed = time.perf_counter() - began
            if elapsed + rec["seconds"] > seconds:
                break
            if time.perf_counter() - T0 + 2 * rec["seconds"] > RUN_BUDGET_S:
                break
        return warm


def median_of(recs: list[dict], key: str) -> float | None:
    values = [r[key] for r in recs if r.get("ok")]
    return statistics.median(values) if values else None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("puma_matcher_spark") is None:
        log(f"package puma_matcher_spark not found under {ROOT}")
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    session_env(args.driver_memory, work)
    spark = None
    try:
        # RSS sampling competes with the driver for the interpreter lock,
        # so it runs only in the traced run
        with RssSampler(enabled=bool(args.trace)) as rss:
            spark = start_spark(work)
            setup_s = time.perf_counter() - T0
            log(f"setup {setup_s:.2f}s")
            result = measure(spark, args, work, setup_s, rss)
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def measure(spark, args, work: str, setup_s: float, rss: RssSampler) -> dict:
    import inputs
    from bench import _time_sentinel  # the repository's host sentinel

    data_dir = os.path.join(work, "data")
    items = sum(inputs.write_inputs(args.workload, data_dir, args.seed).values())
    _time_sentinel(spark)  # the first call also pays for code generation
    diagnostics = {"sentinel_before_s": _time_sentinel(spark)}
    runner = Runner(spark, args.workload, data_dir, work)

    if args.trace:
        store = engine.StatusStore(spark)
        counters: list[dict] = []
        last_job = store.last_job_id()

        def read_counters(rec):
            nonlocal last_job
            c = engine.pass_counters(store, last_job, rec["start_ms"], rec["end_ms"])
            c["functions.caching.cached_bytes"] = cached_bytes(spark)
            counters.append(c)
            last_job = store.last_job_id()

        read_counters(runner.run_pass("cold"))
        warm = runner.warm_passes(args.seconds, on_pass=read_counters)
        metrics = {
            k: statistics.median(c[k] for c in counters[1:]) for k in counters[0]
        }
        metrics["process.peak_rss_mb"] = rss.peak_bytes / 2**20
        metrics["pass.warm_s"] = median_of(warm, "seconds")
        metrics.update(traced_pass(spark, runner, store, args, metrics["pass.warm_s"]))
    else:
        # one cold pass only: with warm passes too, a run would not fit
        # the time the benchmark's runs are given (see README.md)
        cold = runner.run_pass("cold")
        cold_s = cold["seconds"] if cold["ok"] else None
        metrics = {
            "setup_s": setup_s,
            "cold_s": cold_s,
            "items_per_s": items / cold_s if cold_s else None,
        }
    diagnostics["sentinel_after_s"] = _time_sentinel(spark)
    diagnostics["passes"] = [
        {k: v for k, v in p.items() if k not in ("start_ms", "end_ms")}
        for p in runner.passes
    ]
    log("diagnostics " + json.dumps(diagnostics))
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in declared_metrics(args.trace).items()
            if metrics.get(name) is not None
        },
    }


def traced_pass(spark, runner: Runner, store, args, untraced_warm_s) -> dict:
    from spans import Tracer

    tracer = Tracer(spark)
    tracer.install()
    last_job = store.last_job_id()
    try:
        tracer.begin_pass(len(runner.passes))
        rec = runner.run_pass("traced")
    finally:
        tracer.end_pass()
        tracer.uninstall()
    metrics = tracer.layer_metrics(engine.group_totals(store, last_job))
    if rec["ok"] and untraced_warm_s is not None:
        metrics["trace.overhead_s"] = rec["seconds"] - untraced_warm_s
    spans_path = os.path.join(
        WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.json"
    )
    with open(spans_path, "w", encoding="utf-8") as fh:
        json.dump([s.to_json() for s in tracer.spans], fh)
    log(f"spans written to {spans_path}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
