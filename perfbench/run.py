"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 15 --trace 0

Run from the repository root. Sizes the Spark session from this host only
(cores from the CPU affinity mask, as ``nproc`` counts them; driver memory
from ``/proc/meminfo``), keeps every file it writes inside the checkout,
runs one workload and prints, as the last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer ones and writes the
spans to ``.perfbench_out/``. The line before it stamps the host regime
(cpus, memory, CPU steal during the run, spin-probe base, code hash) and
the workload's detail numbers, so results from different hosts are never
read as one series.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_regime() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = {ln.split(":")[0]: int(ln.split()[1]) for ln in f if ln.split()[1:]}
    total_gb = mem_kb["MemTotal"] / 2**20
    # a quarter of RAM for the driver heap, 1-8 GB: the engine's own default
    # (48g) is sized for a far larger host than most that run this
    driver_gb = int(min(8, max(1, total_gb // 4)))
    return {"cpus": cpus, "mem_total_gb": round(total_gb, 1), "driver_mem": f"{driver_gb}g"}


def spin_base_ms() -> float:
    """Best of 3 fixed single-thread integer spins: the host's speed (and
    any steal at start-up) in one number, stamped next to every result."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i & 7
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def code_sha() -> dict:
    """Hash of the engine's sources, plus the git commit when the checkout
    is a repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "vers_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    try:
        git = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        git = None
    return {"source_sha256": h.hexdigest()[:16], "git_sha": git}


def proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first), or
    None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants() -> list[int]:
    """Pids of every process below this one: the driver JVM, the PySpark
    daemon and its Python workers."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        st = proc_stat(int(pid)) if pid.isdigit() else None
        if st:
            children.setdefault(int(st[1]), []).append(int(pid))
    out: list[int] = []
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def end_processes(grace_s: float = 20.0) -> None:
    """End every process below this one and wait until each has gone.

    The driver JVM exits by itself once its stdin closes, but only after
    this process has; so close that pipe, give the JVM and the workers it
    started ``grace_s`` to leave, then SIGTERM and finally SIGKILL what is
    left. The tree is read while it is whole: a worker whose JVM has died is
    re-parented and no longer found below this process."""
    # (pid, start time): a pid that is reused while we wait is not ours
    procs = {pid: st[19] for pid in descendants() if (st := proc_stat(pid))}
    with contextlib.suppress(Exception):
        from pyspark import SparkContext

        SparkContext._gateway.proc.stdin.close()

    def alive() -> list[int]:
        # reap our own children; a zombie the JVM left counts until the
        # process that adopts it has reaped it too
        for pid in procs:
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(pid, os.WNOHANG)
        return [p for p in procs if (st := proc_stat(p)) and st[19] == procs[p]]

    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        left = alive()
        if sig is not None:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = alive()
        if not left:
            return


def descendants_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of each of this process's descendants, by
    command name: the driver JVM, the PySpark daemon and its Python
    workers."""
    out: dict[str, float] = {}
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(ln.split(":", 1) for ln in f if ":" in ln)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still leaves through the finally blocks that end the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.append(ROOT)
    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        from vers_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from spans import Tracer

    regime = host_regime()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(regime["cpus"]),
        SPARK_GRAFT_SHUFFLE=str(regime["cpus"]),
        SPARK_GRAFT_DRIVER_MEM=regime["driver_mem"],
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    steal0, total0 = cpu_jiffies()
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # prepended to the engine's own JVM flags: keep the driver's
                # temporary files inside the checkout
                "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                # the status store must still hold every job of the run when
                # the traced run reads it at the end
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        try:
            tracer = Tracer(spark, enabled=bool(args.trace))
            tracer.record("session.start", t0, time.perf_counter())
            run = workloads.Run(
                spark=spark, tracer=tracer, work=work, seed=args.seed,
                seconds=args.seconds, t_start=T_START,
            )
            out = workloads.WORKLOADS[args.workload](run)
            peak_rss = descendants_peak_rss_mb()
            tracer.collect_counters()
        finally:
            spark.stop()
    finally:
        end_processes()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
    steal1, total1 = cpu_jiffies()
    stamp = {
        **regime,
        # CPU time the hypervisor gave to other guests while this run ran: a
        # run with a high share measured a contended host, not the program
        "host_steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2),
        "spin_base_ms": round(spin_base_ms(), 1),
        **code_sha(),
    }

    if not run.op_ms:
        print("no operation completed", file=sys.stderr)
        return 1
    p50, n = stats.percentile(run.op_ms, 50)
    run.detail["op_ms_p90"] = stats.percentile(run.op_ms, 90)[0]
    values = {
        **out,
        "op_ms_p50": p50,
        "ops_ok_frac": 1.0 - run.failed / max(1, run.attempted),
        "peak_rss_mb": sum(peak_rss.values()),
    }
    if args.trace:
        by_span: dict[str, list[dict]] = {}
        for s in tracer.spans:
            by_span.setdefault(s.name, []).append(s.counters)
        own = {span for span, _ in workloads.WORKLOAD_SPANS[args.workload]}
        catalogue = workloads.per_layer_catalogue()
        layer, missing = stats.layer_values(by_span, [name for name, _, _ in catalogue], own)
        run.check(not missing, f"trace: not measured: {missing}")
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit, _ in catalogue}
        # the spans whose metrics read 0 because this workload never runs them
        stamp["spans_not_measured"] = sorted({span for span, _ in workloads.SPANS} - own)
        metrics["trace.op_ms_p50"]["value"] = p50
        metrics["trace.hook_ms_per_span"]["value"] = tracer.hook_s * 1000.0 / len(tracer.spans)
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in workloads.E2E}

    print(json.dumps({"stamp": stamp, "op_samples": n, "op_ms": [round(v, 1) for v in run.op_ms],
                      "failures": run.failures[:5],
                      "detail": run.detail, "peak_rss_mb_by_process": peak_rss}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
