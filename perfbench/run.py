#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sync|search|pipeline --seed N \
        --seconds S --trace 0|1

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics when ``--trace 0``, the per-layer metrics when ``--trace 1``. The
line before it carries the provenance stamp and the run's detail. A traced
run also writes its spans to ``.perfbench/traces/``. The exit code is 1 when
a correctness check failed, 2 when the run could not start.

Everything the run writes goes under a fresh ``.perfbench/run-*`` directory
of the checkout (Spark local dirs, temp files, staged input, checkpoints,
bulk bodies, index state), which is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
CPUS = "4"  # the workloads are defined at local[4]
DRIVER_MEM = "2g"
WORKLOADS = ("sync", "search", "pipeline")
AMBIENT_CPUS = os.environ.get("SPARK_GRAFT_CPUS")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "heap_retained_mb": "MB",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "build.ms": "ms", "build.jobs": "count",
    "catalyst.ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_overhead_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.cpu_share": "ratio",
    "exec.gc_ms": "ms", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.overhead_ms": "ms", "stream.wal_commit_ms": "ms",
    "wire.bulk_write_ms": "ms", "wire.bulk_actions": "count",
    "wire.bulk_bodies": "count", "wire.bulk_bytes": "bytes",
    "state.merge_ms": "ms", "state.rows": "count", "state.files": "count",
    "retry.ms": "ms", "retry.rounds": "count", "retry.actions": "count",
    "retry.amplification": "ratio",
    "residue.dirs": "count", "residue.persisted_rdds": "count",
    "trace.overhead_pct": "%", "trace.spans": "count",
}


def _isolate(root: str) -> None:
    """Point every temp, local and warehouse dir of this process, the JVM it
    launches and the Python workers into ``root``."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} "
            # the whole heap resident from the start: peak RSS then moves
            # with off-heap and Python memory, not with when G1 grew the heap
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' "
            "pyspark-shell"
        ),
    })
    tempfile.tempdir = tmp


def _fingerprint(path: str) -> str:
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def _provenance(spark, args, fixtures: str) -> dict:
    return {
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": CPUS,
        "ambient_SPARK_GRAFT_CPUS": AMBIENT_CPUS,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "fixtures": fixtures,
        "fixtures_sha1": _fingerprint(fixtures),
        "engine_sha1": _fingerprint(os.path.join(ROOT, "hbase_observer_es_spark")),
        "git_commit": _git_commit(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "traced": bool(args.trace),
    }


def _peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _heap_retained_mb(spark) -> float:
    """JVM heap in use after full collections: what stays on the heap."""
    import gc

    jvm = spark.sparkContext._jvm
    gc.collect()  # drop Python's handles on JVM objects
    # Spark's context cleaner releases shuffle and broadcast state only after
    # a collection found its owner unreachable; that takes a second or two
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(1)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _scratch_dirs() -> set[str]:
    """Directories under the engine's ``.scratch`` (two levels deep)."""
    base = os.path.join(ROOT, ".scratch")
    found = set()
    for entry in _subdirs(base):
        found.add(entry)
        found.update(_subdirs(entry))
    return found


def _subdirs(path: str) -> list[str]:
    try:
        return [e.path for e in os.scandir(path) if e.is_dir()]
    except FileNotFoundError:
        return []


def _proc_start(pid: int) -> str | None:
    """The start time of a live process, or None once it has ended (a zombie
    has ended too). With the pid it names one process even if pids wrap."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def _descendants() -> dict[int, str]:
    """Every live process below this one, pid -> start time."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = {}, [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            start = _proc_start(pid)
            if start is not None:
                found[pid] = start
                todo.append(pid)
    return found


def _stop_processes() -> None:
    """End the JVM and the Python workers it forked, and wait for each.

    ``spark.stop()`` leaves the JVM running; it exits only when it sees its
    stdin close, and its Python workers exit when they see the JVM gone, so
    both would outlive this process by a moment if left to themselves."""
    procs = _descendants()
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = getattr(SparkContext._gateway, "proc", None)
    if gateway is not None and gateway.stdin is not None:
        try:
            gateway.stdin.close()  # the JVM's signal to call System.exit
        except OSError:
            pass
    for kill in (False, True):  # let them exit, then kill what is left
        alive = [p for p, start in procs.items() if _proc_start(p) == start]
        if not alive:
            break
        for pid in alive if kill else ():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + (10.0 if kill else 30.0)
        while time.monotonic() < deadline and any(
                _proc_start(p) == procs[p] for p in alive):
            if gateway is not None:
                gateway.poll()  # reaps the JVM, a child of this process
            time.sleep(0.05)
    if gateway is not None:
        try:
            gateway.wait(timeout=10)
        except subprocess.TimeoutExpired:
            print("perfbench: the JVM did not exit", file=sys.stderr)


def _end_to_end(ops, setup_s: float, rss_mb: float, heap_mb: float) -> dict[str, float]:
    """End-to-end metrics; timings over the operations the host left alone."""
    from workloads import calm, throughput, typical

    ops = calm(ops)
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "heap_retained_mb": heap_mb,
        "op_p50_ms": typical(ops) * 1000,
        "throughput_per_s": throughput(ops),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import tests.oracle_harness  # noqa: F401
        from hbase_observer_es_spark.io import DEFAULT_SF_DIR as fixtures
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(fixtures):
        print(f"perfbench: fixture dir {fixtures} not found", file=sys.stderr)
        return 2

    os.makedirs(OUT, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=OUT)
    # a terminated run still removes its root and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, root, fixtures)
    finally:
        _stop_processes()
        shutil.rmtree(root, ignore_errors=True)


def _run(args, root: str, fixtures: str) -> int:
    _isolate(root)
    scratch_before = _scratch_dirs()

    from hbase_observer_es_spark.session import get_spark

    from spans import Tracer
    from workloads import STEAL_LIMIT_PCT, QueryWorkload, SyncWorkload, cpu_ticks, steal_pct

    t0 = time.perf_counter()
    spark = get_spark("perfbench", shuffle_partitions=int(CPUS))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.workload == "sync":
            wl = SyncWorkload(spark, os.path.join(root, "sync"), args.seed)
        else:
            wl = QueryWorkload(spark, args.workload, fixtures, args.seed)
        t0 = time.perf_counter()
        attempted, failed = wl.prepare()
        setup_s = time.perf_counter() - T_START
        prepare_s = time.perf_counter() - t0

        ticks0 = cpu_ticks()
        w = wl.window(args.seconds, Tracer(spark, enabled=bool(args.trace)))
        window_steal = steal_pct(ticks0, cpu_ticks())
        heap_mb = _heap_retained_mb(spark)
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
        checks, failed_checks, detail = wl.finish()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = _peak_rss_mb([os.getpid(), jvm_pid])
        provenance = _provenance(spark, args, fixtures)
    finally:
        spark.stop()

    if not w.ops or (args.trace and not w.traced_ops):
        print("perfbench: no timed operation completed", file=sys.stderr)
        return 1
    attempted += w.attempted + checks
    failed += w.failed + failed_checks
    correct = failed == 0

    e2e = _end_to_end(w.ops, setup_s, rss_mb, heap_mb)
    calm_n = sum(op[3] <= STEAL_LIMIT_PCT for op in w.ops)
    detail.update(samples=len(w.ops), calm_samples=calm_n,
                  # false when the host took CPU time away during most of the window
                  comparable=2 * calm_n >= len(w.ops),
                  host_steal_pct=window_steal, session_s=session_s,
                  prepare_s=prepare_s, passes_s=w.passes_s, ops=w.ops, end_to_end=e2e)
    if not args.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(w.layers)
        traced_e2e = _end_to_end(w.traced_ops, setup_s, rss_mb, heap_mb)
        layers["session.start_s"] = session_s
        layers["residue.dirs"] = len(_scratch_dirs() - scratch_before)
        layers["residue.persisted_rdds"] = persisted
        layers["trace.overhead_pct"] = 100 * (traced_e2e["op_p50_ms"] / e2e["op_p50_ms"] - 1)
        layers["trace.spans"] = len(w.spans)
        if isinstance(wl, SyncWorkload):
            layers["state.rows"] = wl.state_rows
            layers["state.files"] = wl.state_files()
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        detail["traced_end_to_end"] = traced_e2e
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        with open(os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"provenance": provenance, "spans": w.spans}, f)

    print(json.dumps({"provenance": provenance, "detail": detail}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
