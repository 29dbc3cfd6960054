"""The benchmark driver behind ``run.py``: environment, session,
set-up, timed runs, checks and the result line.

The result is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("bootstrap", "incremental", "stream")
#: driver heap: the data is small, and the machine's memory is shared
HEAP = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_env(run_dir: Path) -> int:
    """Pin everything the package reads from the environment, before the
    JVM starts (it inherits this environment, and so do its Python
    workers). Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    for k in [k for k in os.environ if k.startswith("SPINELINK_")]:
        del os.environ[k]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        # get_spark: local[cpus] with cpus shuffle partitions; getOrCreate
        # re-applies this default when the CLI asks for its session
        SPARK_GRAFT_CPUS=str(cpus),
        SPINELINK_DRIVER_MEM=HEAP,
        SPINELINK_LOCAL_DIR=str(run_dir / "spark-local"),
        # the Arrow (pandas UDF) workers import the package from here
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        OMP_NUM_THREADS="1",
        TMPDIR=str(tmp),
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return cpus


def start_session(run_dir: Path, trace: bool):
    from spinebasedrecordlinkage_jl_spark import get_spark

    conf = {
        # a fixed-size heap: RSS then depends on the program, not on
        # when the heap happened to grow
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.sql.streaming.checkpointLocation": str(run_dir / "streaming"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                # zstandard is not installed: keep the log plain, one file
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reset_state(spark) -> None:
    """Between runs, outside the timed region: drop cached blocks and
    collect garbage on both sides, so every run starts alike."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _children() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _subtree(pid: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share most of theirs) are split between their sharers, so the sum
    over a process tree does not count them twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """High-water memory of the JVM plus its descendants (the Python
    workers): the largest sum of their proportional set sizes, sampled
    every 100 ms from /proc."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            total = sum(_pss_kb(p) for p in _subtree(self.pid, _children()))
            self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def shutdown() -> None:
    """Stop Spark and the JVM, and wait until the JVM and every process
    under it (the Python workers) has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = _subtree(gw.proc.pid, _children())
    gw.shutdown()
    # the JVM exits when its stdin closes
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def measure(args, run_dir: Path, cpus: int) -> dict:
    from . import check
    from .runners import make_runner
    from .workloads import inputs_dir, load

    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_session(run_dir, trace)
    jvm_s = time.perf_counter() - t0
    inputs = load(args.workload, inputs_dir(WORK / "cache", args.workload, args.seed))
    oracle = check.cached_oracle(inputs)
    runner = make_runner(inputs)
    log(f"{args.workload} seed={args.seed}: {inputs.n_records} records, digest {inputs.digest}")

    reps = 0

    def fresh_dir() -> Path:
        nonlocal reps
        reps += 1
        shutil.rmtree(run_dir / f"run-{reps - 1}", ignore_errors=True)
        return run_dir / f"run-{reps}"

    # set-up: session start + input load + one warm-up run on the same
    # inputs (same plans, so the codegen caches hold what the timed runs
    # need); every timed run then starts from this same warm-up state
    t0 = time.perf_counter()
    runner.load(spark)
    load_s = time.perf_counter() - t0
    runner.run(spark, fresh_dir())
    reset_state(spark)
    setup_s = jvm_s + time.perf_counter() - t0
    log(f"set-up {setup_s:.2f}s (session {jvm_s:.2f}s, load {load_s:.2f}s)")

    jvm_pid = spark.sparkContext._gateway.proc.pid
    runs, attempted, failed = [], 0, 0
    reference = scores = None
    with RssSampler(jvm_pid) as rss:
        t_start = time.perf_counter()
        while True:
            out = fresh_dir()
            try:
                r = runner.run(spark, out)
                digest, got = runner.outputs(spark, out)
            except Exception as exc:  # a failed run counts, then we go on
                log(f"run failed: {exc!r}")
                attempted += 1
                failed += 1
            else:
                units = max(len(r.batch_s), 1)
                attempted += units
                if reference is None:
                    # the first good run is the reference for the rest
                    reference = digest
                    scores = check.score(oracle, got)
                    log(f"output {digest}; {scores}")
                if digest != reference:
                    log(f"output digest {digest} != {reference}")
                    failed += units
                else:
                    runs.append(r)
            reset_state(spark)
            # whole runs until --seconds have passed
            if time.perf_counter() - t_start >= args.seconds:
                break
    if not runs:
        raise RuntimeError("every timed run failed")
    log(f"runs {[round(r.run_s, 3) for r in runs]}")

    code = check.code_digest(ROOT / "spinebasedrecordlinkage_jl_spark")
    repeats = check.repeats_across_runs(inputs, args.workload, code, reference)
    ok = check.passes(scores) and repeats
    if not ok:
        log(f"correctness gate failed: {scores}, repeats across runs: {repeats}")
        failed = attempted

    run_s = statistics.median(r.run_s for r in runs)
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "records_per_s": (inputs.n_records / run_s, "1/s"),
        "batch_p50_s": (statistics.median(b for r in runs for b in r.batch_s), "s"),
        "pairwise_f1": (scores["pairwise_f1"], "ratio"),
        "linked_frac": (scores["linked_frac"], "ratio"),
        "peak_rss_mb": (rss.peak_kb * 1024 / 1e6, "MB"),
    }
    if trace:
        from .trace import traced_run

        metrics = traced_run(spark, runner, fresh_dir(), reference, run_s, run_dir, cpus)
    return {
        "correct": ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def prepare(args, run_dir: Path) -> None:
    """Generate the seed's inputs and the oracle's answer, in a session
    of their own."""
    from . import check
    from .workloads import ensure_inputs

    spark = start_session(run_dir, trace=False)
    check.cached_oracle(ensure_inputs(spark, WORK / "cache", args.workload, args.seed))


def main() -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    result = None
    try:
        cpus = pin_env(run_dir)
        try:
            import spinebasedrecordlinkage_jl_spark  # noqa: F401
        except ImportError as exc:
            log(f"cannot import the package from {ROOT}: {exc}")
            return 2
        from .workloads import inputs_dir

        if (inputs_dir(WORK / "cache", args.workload, args.seed) / "oracle.json").exists():
            result = measure(args, run_dir, cpus)
        else:
            prepare(args, run_dir)
    finally:
        shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        # measure in a fresh process, exactly as when the inputs were
        # already cached
        os.execv(sys.executable, [sys.executable, *sys.argv])
    print(json.dumps(result))
    return 0
