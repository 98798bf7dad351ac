"""Deployment settings, provenance and process memory of one run."""

from __future__ import annotations

import hashlib
import os
import subprocess
import tempfile


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of the host's memory, 1-4 GB: the driver JVM is the
    whole local-mode cluster, and the host is shared."""
    return f"{max(1, min(4, int(mem_total_gb() // 4)))}g"


def spark_conf() -> dict[str, str]:
    """Launch settings every Spark session of the benchmark gets.  The
    young generation is fixed at a third of the driver heap, ahead of
    the program's own JVM options: with G1 sizing it adaptively, the
    peak RSS of bulk_fences spread 0.19 over ten seeds (1.96-2.73 GB,
    as the heap happened to grow), against 0.01-0.03 with it fixed,
    and every batch ran faster (warm-up 8-9.5 s against 10.5-12 s)."""
    young_mb = int(driver_mem()[:-1]) * 1024 // 3
    return {"spark.driver.defaultJavaOptions": f"-Xmn{young_mb}m"}


def pin_settings(work: str, ncpus: int) -> dict[str, str]:
    """Set and return the environment every run uses.  Temporary files
    of Spark, the JVM and Python all stay under ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    root = os.getcwd()
    env = {
        "SPARK_GRAFT_CPUS": str(ncpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": local,
        # also reaches the launcher JVM spark-submit starts first, which
        # would otherwise write its perf data under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp  # tempfile caches its directory on first use
    return env


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> dict[str, float]:
    """CPU ticks since boot from /proc/stat (steal, busy and total, over
    every CPU), and this process's own CPU time with that of its reaped
    children (the JVM and, through it, the Python workers), in ticks."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + f[4]  # idle + iowait
    mine = sum(os.times()[:4]) * os.sysconf("SC_CLK_TCK")
    return {"steal": f[7], "busy": sum(f) - idle, "total": sum(f), "self": mine}


def cpu_shares(since: dict[str, float]) -> dict[str, float]:
    """Shares of all CPU time since ``since``: what the hypervisor took
    (steal) and what other processes on the machine used.  Read after
    the JVM has exited, so its time counts as this process's.  Either
    share explains a slow run on a shared host."""
    now = cpu_ticks()
    total = max(1, now["total"] - since["total"])
    others = (now["busy"] - since["busy"]) - (now["self"] - since["self"])
    return {"cpu_steal_share": (now["steal"] - since["steal"]) / total,
            "cpu_others_share": max(0.0, others) / total}


def provenance(root: str) -> dict[str, str]:
    """The git commit when there is one, and always a hash of the
    program's sources (a checkout without .git still has those)."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    h = hashlib.sha256()
    pkg = os.path.join(root, "botkop_telcotraffic_spark_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return {"commit": commit, "source_sha256": h.hexdigest()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``pid`` and every live
    descendant: the driver JVM, the Python driver and its workers."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def stop_jvm(timeout: float = 30.0) -> None:
    """End the Spark gateway JVM this process started and wait for it
    and every other descendant (Python workers) to exit."""
    import signal
    import time

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = [p for p in descendants(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)
