"""Benchmark of the engine: named workloads of registry queries in one
SparkSession, timed end to end and, in a traced run, layer by layer.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

One run, from the root of a checkout:

1. generates the input tables once per checkout (``perfbench/gen.py``,
   fixed data seed) under ``.perfbench/``;
2. sets up ``SETUP_REPS`` times: a SparkSession plus the layout
   conversion (``bench.ingest``) into a fresh directory; ``setup_s`` is
   the median;
3. verifies every call of the workload once, untimed;
4. runs one untimed warm-up pass, then timed closed-loop passes from one
   client thread until ``--seconds`` have passed. Each pass clears the
   catalog cache and the plan memo, then builds each call's DataFrame
   and writes it to the noop sink, in an order the seed rotates.

``--trace 1`` runs all of that, then restarts the session with the Spark
event log on, repeats the warm-up and timed passes, and folds the log
into per-layer numbers (``ledger.py``). The last stdout line is the JSON
result; the line before it records the environment and details.

The engine writes its side tables under fixed ``/tmp/minispark_*`` roots;
the run relocates those roots, and every temp directory,
into ``.perfbench/`` so that it reads and writes only inside the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
SF = 0.001
DATA_SEED = 42
SETUP_REPS = 3
DRIVER_MEM = "2g"

# Span levels whose self time is reported: the pass (cache clears and
# gaps), the Python-side build and action outside any job, Catalyst,
# micro-batch overhead outside jobs, scheduling inside a job outside its
# stages, and stage wall time.
SELF_TIME_LAYERS = ("pass", "build", "action", "catalyst", "batch", "job", "stage")

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
}


def now_ms() -> float:
    return time.time() * 1000


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: Path) -> dict:
    """Pin cores, memory and every temp location before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(tmp)
    # The JVM's perf-data files go to /tmp whatever the temp dir is.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {"cores": cores, "driver_mem": DRIVER_MEM, "tmp": str(tmp)}


def relocate_side_tables(tmp: str) -> None:
    """Point the engine's fixed ``/tmp/...`` side-table roots into ``tmp``."""
    from minispark_spark.sources import sidecache

    original = sidecache.side_dir

    def side_dir(root: str, sf_dir: str, leaf: str) -> str:
        return original(os.path.join(tmp, os.path.relpath(root, "/")), sf_dir, leaf)

    for name, mod in list(sys.modules.items()):
        if name.startswith("minispark_spark"):
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, side_dir)


def environment_record(env: dict, seed: int) -> dict:
    import pyspark

    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True
    ).stderr
    commit = None
    if (ROOT / ".git").exists():
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = out.stdout.strip() or None
    # A checkout without git history is still identified by its sources.
    digest = hashlib.sha1()
    for path in sorted([ROOT / "bench.py", *(ROOT / "minispark_spark").rglob("*.py")]):
        digest.update(str(path.relative_to(ROOT)).encode() + b"\0" + path.read_bytes())
    return {
        "cores": env["cores"],
        "driver_mem": env["driver_mem"],
        "pyspark": pyspark.__version__,
        "java": java.splitlines()[0] if java else None,
        "python": platform.python_version(),
        "commit": commit,
        "source_sha1": digest.hexdigest(),
        "seed": seed,
        "sf": SF,
        "data_seed": DATA_SEED,
    }


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc while enabled.

    A peak counts only when two consecutive samples both reach it: a
    child the JVM has spawned but not yet exec'd shares the JVM's memory
    and would otherwise count it twice for an instant."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self._last_kb = 0
        self.enabled = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            if self.enabled:
                self.sample()

    def sample(self) -> None:
        now = tree_rss_kb(os.getpid())
        self.peak_kb = max(self.peak_kb, min(now, self._last_kb))
        self._last_kb = now


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    found, frontier = [], list(children.get(pid, []))
    while frontier:
        p = frontier.pop()
        found.append(p)
        frontier.extend(children.get(p, []))
    return found


def tree_rss_kb(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


PR_SET_CHILD_SUBREAPER = 36
JVM_EXIT_S = 30


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that a
    Python worker whose JVM has exited is re-parented here, not to init,
    and ``stop_processes`` can still stop and reap it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes() -> None:
    """Stop the JVM and every other process the run started, and reap
    each one, so that nothing outlives the run.

    The JVM exits when its stdin closes; left alone it does so only after
    this process has exited. A JVM still running after ``JVM_EXIT_S``, and
    any process still running once the JVM has ended, is killed."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=JVM_EXIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            # Killed grandchildren not yet re-parented here.
            time.sleep(0.05)


def ensure_data() -> Path:
    """The input tables, generated once per checkout (atomic rename)."""
    from perfbench import gen

    data = WORK / f"data-sf{SF}-seed{DATA_SEED}"
    if not data.is_dir():
        staging = WORK / f"data-staging-{os.getpid()}"
        gen.write(str(staging), SF, DATA_SEED)
        try:
            staging.rename(data)
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)
    return data


def start_session(conf: dict):
    from minispark_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Drop the engine's session caches while the session can still
    unpersist them, then stop it (the JVM stays up for the next one)."""
    from minispark_spark.registry import clear_plan_cache

    spark.catalog.clearCache()
    clear_plan_cache()
    spark.stop()


class Runner:
    """One workload in one session; records every timed execution."""

    def __init__(self, spark, workload: str, ingest_dir: str, seed: int, trace: bool) -> None:
        from perfbench import workloads

        self.spark = spark
        self.calls = {c.name: c for c in workloads.calls(workload)}
        self.groups = workloads.WORKLOADS[workload]
        self.dir = ingest_dir
        self.seed = seed
        self.trace = trace
        self.execs = []
        self.passes = []
        self.failures: list[str] = []
        self.cache = {"builds": 0, "storage_mb_peak": 0.0, "persisted_after_clear": 0, "clear_ms": 0.0}

    def verify(self, con) -> tuple[int, int]:
        """Check every call once; returns (attempted, failed)."""
        from minispark_spark.registry import clear_plan_cache

        self.spark.catalog.clearCache()
        clear_plan_cache()
        failed = 0
        for name in self.calls:
            try:
                ok, msg = self.calls[name].verify(self.spark, con, self.dir)
            except Exception as e:  # noqa: BLE001 - a failed call is a result
                ok, msg = False, f"{type(e).__name__}: {e}"
            if not ok:
                failed += 1
                self.failures.append(f"verify {name}: {msg[:300]}")
        return len(self.calls), failed

    def _persistent_ids(self) -> set[int]:
        return {int(k) for k in self.spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    def _storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)

    def run_pass(self, pass_no: int) -> None:
        from minispark_spark import tracing
        from minispark_spark.registry import clear_plan_cache

        from perfbench.ledger import Execution, Pass
        from perfbench.workloads import pass_order

        sc = self.spark.sparkContext
        start = now_ms()
        self.spark.catalog.clearCache()
        clear_plan_cache()
        clear_ms = now_ms() - start
        probe_ms = 0.0
        if self.trace:
            t = now_ms()
            self.cache["clear_ms"] += clear_ms
            self.cache["persisted_after_clear"] += len(self._persistent_ids())
            probe_ms += now_ms() - t
        for name in pass_order(self.groups, self.seed, pass_no):
            exec_id = f"p{pass_no}:{name}"
            if self.trace:
                t = now_ms()
                before = self._persistent_ids()
                probe_ms += now_ms() - t
            t0 = now_ms()
            build_end = catalyst_ms = None
            error = None
            try:
                with tracing.tagged(sc, exec_id):
                    df = self.calls[name].build(self.spark, self.dir)
                    build_end = now_ms()
                    if self.trace:
                        df._jdf.queryExecution().executedPlan()
                        catalyst_ms = now_ms() - build_end
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed call is a result
                error = f"{type(e).__name__}: {e}"
                self.failures.append(f"pass {pass_no} {name}: {error[:300]}")
            end = now_ms()
            self.execs.append(
                Execution(exec_id, name, pass_no, t0, build_end or end, end, catalyst_ms or 0.0, error)
            )
            if self.trace:
                self.cache["builds"] += len(self._persistent_ids() - before)
                self.cache["storage_mb_peak"] = max(self.cache["storage_mb_peak"], self._storage_mb())
                probe_ms += now_ms() - end
        self.passes.append(Pass(pass_no, start, now_ms(), clear_ms, probe_ms))

    def run_for(self, seconds: float, rss: RssSampler | None = None) -> list:
        """Complete passes, numbered from 1 (pass 0 is the warm-up), until
        ``seconds`` have passed; returns them."""
        done = len(self.passes)
        t0 = time.perf_counter()
        pass_no = 1
        while True:
            if rss is not None:
                rss.enabled = True
            self.run_pass(pass_no)
            if rss is not None:
                rss.enabled = False
                rss.sample()
            pass_no += 1
            if time.perf_counter() - t0 >= seconds:
                return self.passes[done:]


def timed(runner: Runner) -> list:
    """The executions of the timed passes (pass 0 is the warm-up)."""
    return [e for e in runner.execs if e.pass_no > 0]


def end_to_end(setup_s: list[float], passes, execs, rss_kb: int) -> tuple[dict, dict]:
    from perfbench import ledger

    lat = [(e.end - e.start) / 1000 for e in execs if e.error is None] or [0.0]
    pct, tail_value = ledger.tail(lat)
    values = {
        "setup_s": statistics.median(setup_s),
        "pass_s": statistics.median([(p.end - p.start) / 1000 for p in passes]),
        "query_p50_s": statistics.median(lat),
        "peak_rss_mb": rss_kb / 1024,
    }
    per_call: dict[str, list[float]] = {}
    for e in execs:
        per_call.setdefault(e.name, []).append((e.end - e.start) / 1000)
    detail = {
        "query_tail_s": tail_value,
        "tail_percentile": pct,
        "executions": len(execs),
        "passes": len(passes),
        "call_s": {k: statistics.median(v) for k, v in per_call.items()},
        "pass_walls_s": [(p.end - p.start) / 1000 for p in passes],
    }
    return values, detail


def layers(workload: str, runner: Runner, passes, base_pass_s: float, ingest_s: list[float], trace_dir: Path, out: Path) -> dict:
    """Per-layer numbers of the traced passes, plus the chrome trace."""
    from minispark_spark import tracing

    from perfbench import ledger

    execs = timed(runner)
    app_id = runner.spark.sparkContext.applicationId
    stop_session(runner.spark)
    lines = []
    for path in tracing._event_log_files(str(trace_dir), app_id):
        with open(path) as f:
            lines.extend(f)
    fold = ledger.fold_event_log(lines, execs)
    n = len(passes)
    values = ledger.layer_metrics(fold, execs, n)
    spans = ledger.build_spans(workload, passes, execs, fold)
    selfs = ledger.self_times_s(spans)
    for cat in SELF_TIME_LAYERS:
        values[f"self.{cat}_s"] = selfs.get(cat, 0.0) / n
    cache = runner.cache
    traced_pass_s = statistics.median([(p.end - p.start) / 1000 for p in passes])
    values.update(
        {
            "cache.builds": cache["builds"] / n,
            "cache.storage_mb_peak": cache["storage_mb_peak"],
            "cache.persisted_after_clear": cache["persisted_after_clear"] / n,
            "cache.clear_s": cache["clear_ms"] / 1000 / n,
            "sources.ingest_s": statistics.median(ingest_s),
            "trace.overhead_frac": traced_pass_s / base_pass_s - 1,
            "trace.accounted_frac": ledger.accounted_frac(passes, execs),
        }
    )
    with open(out, "w") as f:
        json.dump({"traceEvents": ledger.chrome_trace(spans)}, f)
    return values


def run(args: argparse.Namespace, run_dir: Path) -> int:
    env = pin_environment(run_dir)
    sys.path.insert(0, str(ROOT))
    import bench
    from minispark_spark.registry import _ensure_loaded
    from tests.oracle_check import duckdb_conn

    from perfbench import ledger, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    _ensure_loaded()
    relocate_side_tables(env["tmp"])
    record = environment_record(env, args.seed)
    data = ensure_data()
    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # A heap committed up front keeps the JVM's resident size from
        # tracking when the collector happens to grow it.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={env['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }

    setup_s, ingest_s = [], []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        spark = start_session(conf)
        t1 = time.perf_counter()
        bench.INGEST_DIR = str(run_dir / f"ingest{rep}")
        ingest_dir = bench.ingest(spark, str(data))
        t2 = time.perf_counter()
        setup_s.append(t2 - t0)
        ingest_s.append(t2 - t1)

    runner = Runner(spark, args.workload, ingest_dir, args.seed, trace=False)
    t_verify = time.perf_counter()
    attempted, failed = runner.verify(duckdb_conn(str(data)))
    record["verify_s"] = time.perf_counter() - t_verify
    # The verification pass collects; one untimed noop pass more settles
    # the write path and the JIT before timing starts.
    runner.run_pass(0)
    with RssSampler() as rss:
        passes = runner.run_for(args.seconds, rss)
    values, detail = end_to_end(setup_s, passes, timed(runner), rss.peak_kb)
    executed = runner.execs
    if args.trace:
        stop_session(spark)
        trace_dir = run_dir / "eventlog"
        from minispark_spark import tracing

        spark = start_session({**conf, **tracing.trace_confs(str(trace_dir))})
        traced = Runner(spark, args.workload, ingest_dir, args.seed, trace=True)
        traced.run_pass(0)
        traced_passes = traced.run_for(args.seconds)
        chrome = WORK / f"trace-{args.workload}-{args.seed}.json"
        metrics = layers(args.workload, traced, traced_passes, values["pass_s"], ingest_s, trace_dir, chrome)
        executed = executed + traced.execs
        runner.failures += traced.failures
        detail["chrome_trace"] = str(chrome.relative_to(ROOT))
        detail["accounts_for_pass"] = ledger.accounts_for_pass(traced_passes, timed(traced))
        units = None
    else:
        stop_session(spark)
        metrics = values
        units = END_TO_END_UNITS
    attempted += len(executed)
    failed += sum(e.error is not None for e in executed)
    record.update(detail)
    record.update(
        {
            "workload": args.workload,
            "first_timed_order": workloads.pass_order(runner.groups, args.seed, 1),
            "failed_frac": failed / attempted,
            "failures": runner.failures,
            "setup_reps_s": setup_s,
        }
    )
    print(json.dumps({"record": record}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k] if units else layer_unit(k)} for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from the unit word in its name."""
    for word, unit in (("ms", "ms"), ("s", "s"), ("mb", "MB"), ("frac", "ratio")):
        if word in re.split(r"[._]", name):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "minispark_spark" / "registry.py").is_file() or not (ROOT / "bench.py").is_file():
        print("perfbench: the engine sources are not in this checkout", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    adopt_orphans()
    try:
        return run(args, run_dir)
    finally:
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
