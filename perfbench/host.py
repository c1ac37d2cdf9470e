"""Session start, host record, CPU clock and memory accounting for one benchmark run."""

from __future__ import annotations

import os
import platform
import subprocess


def start_spark(cpus: int):
    """The library's own local session on ``cpus`` cores."""
    from fuggetabouspark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited;
    the Python workers are the JVM's children and exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _source_digest(root: str) -> str:
    """Digest of the library sources, for checkouts that are not git repositories."""
    import hashlib

    h = hashlib.blake2b(digest_size=8)
    pkg = os.path.join(root, "fuggetabouspark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def host_record(root: str, cpus: int) -> dict:
    """What a number from this run depends on; compare only like with like."""
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    with open("/proc/cpuinfo") as f:
        cpu = next((line.split(":", 1)[1].strip() for line in f if line.startswith("model name")),
                   platform.machine())
    return {
        "nproc": cpus,
        "ram_gb": round(mem_kb / 2**20, 1),
        "cpu": cpu,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": _git_commit(root),
        "source_digest": _source_digest(root),
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM plus the driver Python."""
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())


def cpu_clock(spark):
    """A clock reading the CPU seconds (user + system) used so far by the
    driver Python, the driver JVM and every process under the JVM, the
    Python workers included.  A process's reaped children count in its
    own totals, so workers that have exited still count.

    On a virtual machine whose cores are shared, the time a core is taken
    by another guest (steal) stretches wall time but not CPU time."""
    jvm = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    tick = os.sysconf("SC_CLK_TCK")

    def read() -> float:
        procs = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process exited meanwhile
                continue
            # ppid; utime, stime, cutime, cstime
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))

        def under_jvm(pid):
            while pid > 1:
                if pid == jvm:
                    return True
                pid = procs.get(pid, (0, 0))[0]
            return False

        own = os.times()
        return sum(c for p, (_, c) in procs.items() if under_jvm(p)) / tick + own.user + own.system

    return read


def retained_cache_mb(spark) -> float:
    """Spark block-store MB (memory + disk) still held by cached RDDs once
    every unreachable one is gone.  Spark's ContextCleaner unpersists an
    RDD only after both the Python and the JVM side have collected it, at
    times of the garbage collectors' choosing; two forced rounds make the
    figure the persists something still holds, the same on every run."""
    import gc
    import time

    for _ in range(2):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
