#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {sync,corpus} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source tree that holds ``hive_to_es_spark/`` and
``tools/``. Inputs are generated from the seed into ``.bench_work/``;
nothing outside the tree is read or written.

``--trace 0`` prints the end-to-end metrics: setup_s (wall time) and the
program's CPU time per pass and per operation, and items per CPU second
(pass_cpu_s, op_cpu_s, items_per_cpu_s; the wall-time figures are in the
record). ``--trace 1`` runs the workload traced and prints the
per-layer metrics; the tracing overhead (``trace.*``) is taken against the
untraced run of the same workload, seed and sources in this tree, and reads
0 when there is none, so run ``--trace 0`` with that seed first.
The line before the result holds the full record: host and provenance tag,
data layout, the workload's own metrics and failures by key.

The benchmark runs in a child process. This process only waits for it and
then stops and reaps every process the run left behind: the Spark JVM
exits on its own only after its parent has gone, and its Python workers
after it, so without this they would outlive the run.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import platform
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("sync", "corpus")
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_s": "s", "items_per_cpu_s": "1/s"}
DRIVER_MEM = "3g"
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36


def _environment(nproc: int) -> None:
    """Point every scratch location of Spark and Python at the work area
    and size the session to the host."""
    for d in ("tmp", "spark-local", "results", "sink", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # HotSpot writes its perf-data file under /tmp whatever the tmpdir.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "pyspark-shell",
        ]),
    })
    time.tzset()
    sys.path[:0] = [ROOT, HERE]


def _provenance(args, nproc: int, spark) -> dict:
    import pyspark

    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "nproc": nproc,
        "cores_used": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master, "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit, "source_sha256": _source_digest(),
    }


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host since boot, in jiffies."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def _source_digest() -> str:
    """Digest of the program's and the benchmark's Python sources."""
    src = hashlib.sha256()
    for top in ("hive_to_es_spark", "perfbench"):
        for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        src.update(f.encode() + fh.read())
    return src.hexdigest()[:16]


def _result_path(args, trace: int) -> str:
    return os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{trace}.json")


def _untraced_result(args) -> dict | None:
    """The untraced result of an earlier run in this tree with the same
    workload, seed, run length and sources, if there is one."""
    try:
        with open(_result_path(args, 0)) as f:
            prev = json.load(f)
        prov = prev["record"]["provenance"]
        if (prov["seconds"] == args.seconds and prov["source_sha256"] == _source_digest()
                and prev["result"]["correct"]):
            return prev["result"]
    except (OSError, KeyError, ValueError):
        pass
    return None


def _descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _reap_all(grace_s: float = 15.0) -> None:
    """Wait until this process has no children left, reaping each. As a
    child subreaper it inherits every orphaned descendant, so no children
    means no descendants. Those still alive after ``grace_s`` get SIGTERM,
    after twice that SIGKILL."""
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for pid in _descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _supervise() -> int:
    """Run this script's benchmark in a child process, then stop and reap
    everything it started; returns the child's exit code."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}", file=sys.stderr)
        return 2
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                             env={**os.environ, CHILD_ENV: "1"})
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: child.terminate())
    try:
        rc = child.wait()
    finally:
        _reap_all()
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [d for d in ("hive_to_es_spark", "tools") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"benchmark needs {missing} next to perfbench/ (run from a source tree)",
              file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return _supervise()
    # Turn SIGTERM into SystemExit so the mock ES and Spark are stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = os.cpu_count() or 1
    _environment(nproc)

    import workloads as W

    untraced = _untraced_result(args) if args.trace else None

    # Inputs are generated before the set-up clock starts.
    mock = None
    t_prep = time.perf_counter()
    prep = getattr(W, f"prepare_{args.workload}")(WORK, args.seed)
    if args.workload == "sync":
        mock = W.MockES(args.seed, os.path.join(WORK, "results", "mock_es.log"))
    spark = None
    try:
        t0 = time.perf_counter()
        from hive_to_es_spark.session import get_spark

        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from hive_to_es_spark.registry import queries

        qs = queries()
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")

        from sparkstats import StatusStore, jvm_pid, peak_rss_mb

        ctx = W.Ctx(spark, qs, args.seed, args.seconds, jvm_pid=jvm_pid(spark),
                    stats=StatusStore(spark))
        ctx.record["provenance"] = _provenance(args, nproc, spark)
        ctx.record["setup"] = {"session.get_spark_s": t1 - t0, "registry.load_s": t2 - t1}
        extra = (mock,) if mock is not None else ()
        t_warm = time.perf_counter()
        warmup = getattr(W, f"warmup_{args.workload}", None)
        if warmup is not None:
            warmup(ctx, prep, *extra)
        mock_base = mock.stats() if mock is not None else None
        if args.trace:
            import layers
            from spans import Tracer

            ctx.tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            layers.install(ctx.tracer)
            first_job = ctx.stats.last_job_id()
        t_run, cpu0 = time.perf_counter(), _cpu_jiffies()
        res = getattr(W, f"run_{args.workload}")(ctx, prep, *extra)
        wall, cpu1 = time.perf_counter() - t_run, _cpu_jiffies()
        # Share of the host's CPU time that the hypervisor gave to other
        # guests while the workload ran: every wall time here slows with it.
        ctx.record["provenance"]["cpu_steal_share"] = (
            (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]) if cpu1[1] > cpu0[1] else 0.0)
        ctx.record["phases_s"] = {"prepare": t0 - t_prep, "setup": t2 - t0,
                                  "warmup": t_run - t_warm, "measure": wall}
        e2e = {"setup_s": t2 - t0, **{k: res[k] for k in E2E_UNITS if k != "setup_s"}}
        ctx.record["wall"] = {k: res[k] for k in ("pass_s", "op_p50_s", "items_per_s")}
        ctx.record["jvm_peak_rss_mb"] = peak_rss_mb(ctx.jvm_pid)
        if args.trace:
            ctx.tracer.close()
            metrics = layers.metrics(ctx, res, wall, nproc, first_job,
                                     mock_base, mock.stats() if mock else None, e2e, untraced)
            ctx.tracer.dump(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}.spans.jsonl"))
            units = layers.UNITS
        else:
            metrics, units = e2e, E2E_UNITS
        if mock is not None:
            ctx.record["mock_es"] = mock.stats()
            for st in ctx.record["mock_es"]["indices"].values():
                st["fingerprint"] = str(st["fingerprint"])
    finally:
        if mock is not None:
            mock.stop()
        if spark is not None:
            spark.stop()

    failed = ctx.n_failed
    ctx.record["e2e"] = e2e
    ctx.record["failed_share"] = failed / max(ctx.attempted, 1)
    ctx.record["failures"] = ctx.failures
    result = {
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    with open(_result_path(args, args.trace), "w") as f:
        json.dump({"record": ctx.record, "result": result}, f, indent=1, default=str)
    print(json.dumps({"record": ctx.record}, default=str))
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
