"""Host record and memory readings for every run."""

from __future__ import annotations

import os
import re
import subprocess
import time


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Python driver plus the JVM it launched."""
    pid = jvm_pid(spark)
    return vm_hwm_mb("self") + (vm_hwm_mb(pid) if pid else 0.0)


def jvm_xmx(spark) -> str:
    """The ``-Xmx`` on the JVM's command line, else its max heap in MB."""
    pid = jvm_pid(spark)
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            args = fh.read().decode(errors="replace").split("\0")
        flags = [a for a in args if re.fullmatch(r"-Xmx\S+", a)]
        if flags:
            return flags[-1][4:]
    except (OSError, TypeError):
        pass
    return f"{spark._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20}m"


def stop(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it (the
    JVM exits when its stdin closes; it would otherwise outlive us)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def canary_s(spark) -> float:
    """A fixed CPU-bound job; its time tells a loaded box from a slow PR."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 4).selectExpr("sum(id * id % 97) AS s").collect()
    return time.perf_counter() - t0


def git_head(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def record(spark, root: str) -> dict:
    import pyspark

    return {
        "canary_s": round(canary_s(spark), 4),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "jvm_xmx": jvm_xmx(spark),
        "pyspark": pyspark.__version__,
        "git_head": git_head(root),
    }
