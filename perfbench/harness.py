"""Process-level plumbing for the benchmark: paths, Spark start/stop,
memory readings and small statistics helpers.

Everything the benchmark writes lives under ``<checkout>/.bench_work``;
Spark's scratch dirs, the JVM temp dir and Python's ``tempfile`` are all
pointed there before the session starts.
"""

from __future__ import annotations

import os
import resource
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".bench_work"
DRIVER_MEMORY = "1g"  # ample for the benchmark inputs


def log(msg: str) -> None:
    """Progress line on standard error (standard output ends with the result)."""
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def package_present() -> bool:
    return (ROOT / "hbacker_spark" / "__init__.py").is_file() and (ROOT / "tests" / "oracle_harness.py").is_file()


def prepare_env(work: Path) -> None:
    """Env for this process and everything it starts (JVM, Python
    workers, DuckDB): import path, temp dirs and the core count."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DUCK_MEM"] = "1GB"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(work: Path):
    """``local[nproc]`` through the package's own session factory; the
    bench-specific settings ride in ``extra_conf``."""
    from hbacker_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        "hbacker_perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # fixed-size heap: the memory high-water mark then does not hang
            # on when the JVM decides to grow it; no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave it running
                proc.kill()
                proc.wait(timeout=30)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Driver JVM high-water RSS plus this Python process's."""
    proc = jvm_process()
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the driver JVM and any Python workers it runs. The
    kernel leaves out time the hypervisor stole from the VM, which wall
    time on a shared host does not."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = (int(f[11]) + int(f[12])) / _TICK
    me = os.getpid()
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += c
    return total


class Clock:
    """Monotonic seconds since construction."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty list."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
