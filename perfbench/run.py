"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one SparkSession at
``local[nproc]``, one client in a closed loop.  The run:

1. writes the workload's inputs from ``--seed`` under ``.bench_work/``;
2. starts the session and runs the workload's warm-up passes: trading
   days 0-2 for ``market_refresh``, none for ``registry_sweep``
   (``setup_s`` = session start + warm-up engine time);
3. runs whole passes until ``--seconds`` have elapsed (at least one);
4. checks the outputs (untimed), stops Spark and waits for the JVM.

The last stdout line is the result: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate,
traced run.  The line before it is a JSON detail record (environment,
sample counts, check problems).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

from spans import dir_files  # noqa: E402

HEAP = "3g"
_CPUACCT_V1 = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_CPUSTAT_V2 = "/sys/fs/cgroup/cpu.stat"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_source() -> str:
    if os.access(_CPUACCT_V1, os.R_OK):
        return "cgroup-v1 cpuacct.usage"
    if os.access(_CPUSTAT_V2, os.R_OK):
        return "cgroup-v2 cpu.stat"
    return "procfs self+jvm"


def cpu_seconds(jvm_pid: int | None) -> float:
    """Container CPU-seconds: cgroup when readable, else this process
    plus the JVM."""
    try:
        with open(_CPUACCT_V1) as fh:
            return int(fh.read()) / 1e9
    except OSError:
        pass
    try:
        with open(_CPUSTAT_V2) as fh:
            for line in fh:
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
    except OSError:
        pass
    t = os.times()
    total = t.user + t.system
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        total += (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")
    return total


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class DiskSampler(threading.Thread):
    """Peak bytes under the given directories, sampled every 0.5 s."""

    def __init__(self, dirs):
        super().__init__(daemon=True)
        self.dirs, self.peak = dirs, 0
        self.halt = threading.Event()

    def sample(self) -> None:
        self.peak = max(self.peak, sum(sum(dir_files(d).values()) for d in self.dirs))

    def run(self) -> None:
        while not self.halt.wait(0.5):
            self.sample()


_PROBE_BUF = bytes(range(256)) * (1 << 16)


def host_probe() -> tuple[float, float]:
    """Seconds of a fixed 4-thread hashing job and a fixed pure-Python
    loop: the host's speed around the measured passes, recorded in the
    detail record so that runs on a drifting host can be read."""
    def hash_n():
        for _ in range(16):
            hashlib.sha256(_PROBE_BUF).digest()
    ts = [threading.Thread(target=hash_n) for _ in range(4)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    t1 = time.perf_counter()
    acc = 0
    for i in range(6_000_000):
        acc += i * i % 7
    return t1 - t0, time.perf_counter() - t1


def quantile(xs, q: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def pin_environment(work: str) -> dict:
    cpus = nproc()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # Python workers import the package (Arrow UDFs): give them the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    # keep the JVM's and Python's scratch files inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    return {"nproc": cpus, "cpu_source": cpu_source(), "spark_local_dirs": local,
            "heap": HEAP}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _wait_gone(pids, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, shut the gateway and wait until the JVM and
    every process it started (Python workers) have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = gw.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    _wait_gone(workers, 10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(os.getcwd(), ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    env = pin_environment(work)
    import workloads
    from tradingview_data_pipeline_spark.session import get_spark

    g0 = time.perf_counter()
    wl = workloads.make(args.workload, work, args.seed)
    wl.generate()
    gen_s = time.perf_counter() - g0

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    jvm_proc = spark.sparkContext._gateway.proc
    tracer = None
    if args.trace:
        import layers
        tracer = layers.install(spark)
    disk = DiskSampler([env["spark_local_dirs"], *wl.disk_dirs])
    try:
        wl.start(spark, tracer)
        if tracer:
            disk.start()
        warm_ops, warm_passes = [], []
        for pass_id in range(wl.WARMUP_PASSES):
            wl.prepare(pass_id)
            pass_ops = wl.run_pass(pass_id)
            warm_passes.append(sum(o.seconds for o in pass_ops))
            warm_ops += pass_ops
        warm_s = sum(warm_passes)
        setup_s = start_s + warm_s

        probes = [host_probe()]
        passes, ops = [], []
        steal0 = steal_ticks()
        t_run = time.perf_counter()
        pass_id = wl.WARMUP_PASSES
        while not passes or time.perf_counter() - t_run < args.seconds:
            wl.prepare(pass_id)
            if tracer:
                tracer.pass_id = pass_id
            r0 = wl.released
            c0, p0 = cpu_seconds(jvm_proc.pid), time.perf_counter()
            pass_ops = wl.run_pass(pass_id)
            passes.append({"id": pass_id, "wall": time.perf_counter() - p0,
                           "cpu": cpu_seconds(jvm_proc.pid) - c0,
                           "released": wl.released - r0})
            ops.extend(pass_ops)
            pass_id += 1
        measured_s = time.perf_counter() - t_run
        steal = steal_ticks() - steal0
        probes.append(host_probe())
        f0 = time.perf_counter()
        problems, checked = wl.check()
        check_s = time.perf_counter() - f0
        rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                  + vm_hwm_mb(jvm_proc.pid))
    finally:
        disk.halt.set()
        if disk.is_alive():
            disk.join()
        s0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - s0

    failed = sum(not o.ok for o in warm_ops + ops) + len(problems)
    attempted = len(warm_ops) + len(ops) + checked
    # a run whose reads all failed is reported (correct=false), not lost
    reads = [o.seconds for o in ops if o.read and o.ok] or [o.seconds for o in ops]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **env, "passes": len(passes), "measured_s": round(measured_s, 3),
        "warmup_pass_s": [round(w, 3) for w in warm_passes],
        "pass_s": [round(p["wall"], 3) for p in passes],
        "pass_cpu_s": [round(p["cpu"], 3) for p in passes],
        "read_samples": len(reads),
        "steal_ticks": steal,
        "probe_mt_s": round(statistics.median(p[0] for p in probes), 4),
        "probe_py_s": round(statistics.median(p[1] for p in probes), 4),
        "checks": checked, "gen_s": round(gen_s, 3),
        "start_s": round(start_s, 3), "warmup_s": round(warm_s, 3),
        "check_s": round(check_s, 3), "stop_s": round(stop_s, 3),
        "problems": problems[:20],
        "failed_ops": sorted({o.name for o in warm_ops + ops if not o.ok}),
        "errors": wl.errors[:10],
    }
    if args.trace:
        metrics = layers.metrics(tracer, wl, start_s, warm_s, passes)
        metrics["disk.peak_mb"] = (disk.peak / 2**20, "MB")
        metrics["memory.peak_rss_mb"] = (rss_mb, "MB")
        tracer.dump(os.path.join(os.getcwd(), ".bench_work", "spans",
                                 f"{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(p["wall"] for p in passes), "s"),
            "pass_cpu_s": (statistics.median(p["cpu"] for p in passes), "s"),
            "read_p50_s": (quantile(reads, 0.5), "s"),
            "read_p80_s": (quantile(reads, 0.8), "s"),
        }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


if __name__ == "__main__":
    sys.exit(main())
