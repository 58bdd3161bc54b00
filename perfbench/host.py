"""Run hygiene and host measurements: the per-run temp root, the Spark
session and its processes, peak memory, and the host control."""

from __future__ import annotations

import hashlib
import os
import shutil
import signal
import subprocess
import tempfile
import time

RUNS_DIR = ".perfbench_runs"


def cpus() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def make_root(checkout: str, workload: str, seed: int) -> str:
    """A fresh temp root inside the checkout. Everything a run writes —
    tables, SPARK_LOCAL_DIRS, the JVM's and Python's temp files — goes under
    it, and it is deleted when the run ends."""
    base = os.path.join(checkout, RUNS_DIR)
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(root, sub))
    tmp = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the launcher starts keeps its temp files (and no hsperfdata)
    # under the root
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return root


def remove_root(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    base = os.path.dirname(root)
    try:
        os.rmdir(base)  # only when no other run is using it
    except OSError:
        pass


def exit_on_sigterm() -> None:
    """Turn SIGTERM into SystemExit so ``finally`` blocks clean up."""
    def handler(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, handler)


def start_spark(n_cpus: int):
    from dlkp_spark.contract import ensure_shipped
    from dlkp_spark.session import get_spark

    # a bounded heap: the benchmark's tables are a few MB, and the host's
    # memory is shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    spark = get_spark("perfbench", master=f"local[{n_cpus}]",
                      shuffle_partitions=n_cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    # executor Python workers import dlkp_spark from the shipped zip, not
    # from the caller's sys.path
    ensure_shipped(spark)
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of the driver, the JVM and the live
    Python workers, in MB. Summing per-process peaks bounds the joint peak
    from above; workers that already exited are not counted."""
    me = os.getpid()
    jvm = workers = 0.0
    for pid in descendants(me):
        if _comm(pid) == "java":
            jvm += _hwm_mb(pid)
        elif _comm(pid).startswith("python"):
            workers += _hwm_mb(pid)
    return {"driver": _hwm_mb(me), "jvm": jvm, "workers": workers}


def control_s(sc) -> float:
    """Host control: a fixed CPU loop in the driver plus a no-op Spark job.
    Identical work on every run, so a slow host window shows here. The
    session's first job pays one-off start-up costs, so one untimed no-op
    job runs first."""
    sc.parallelize([0], 1).count()
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(100_000):
        h = hashlib.sha256(h).digest()
    sc.parallelize([0], 1).count()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker under it have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
