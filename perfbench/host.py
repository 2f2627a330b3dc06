"""Host state and process bookkeeping read from /proc, plus the Spark
session the benchmark owns: its start, its process tree and its stop."""

from __future__ import annotations

import os
import resource
import signal
import time
from typing import Dict, List, Optional

_CLK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> Dict[str, int]:
    """Aggregate /proc/stat jiffies: total and steal."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(v) for v in parts]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostWatch:
    """Steal delta and loadavg from construction to ``state()``."""

    def __init__(self) -> None:
        self.t0 = cpu_times()
        self.load_start = loadavg()

    def state(self, seed: int) -> Dict[str, float]:
        t1 = cpu_times()
        total = t1["total"] - self.t0["total"]
        steal = t1["steal"] - self.t0["steal"]
        return {
            "nproc": nproc(),
            "seed": seed,
            "steal_s": steal / _CLK,
            "steal_frac": steal / total if total else 0.0,
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
        }


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren
    return s[s.rindex(")") + 2:].split()


def children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> List[int]:
    out, todo = [], children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def proc_cpu_s(pid: int, with_reaped_children: bool = False) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields (1-based in proc(5)): utime 14, stime 15, cutime 16, cstime 17
    ticks = int(f[11]) + int(f[12])
    if with_reaped_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def driver_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class SparkProcs:
    """CPU of the JVM the session launched and of its Python workers."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def jvm_cpu_s(self) -> float:
        return proc_cpu_s(self.jvm_pid)

    def workers_cpu_s(self) -> float:
        # forked workers that exited are in their daemon's reaped-children time
        return sum(proc_cpu_s(p, with_reaped_children=True) for p in descendants(self.jvm_pid))


def start_session(run_dir: str, cores: int, event_log_dir: Optional[str] = None):
    """One local[cores] session whose scratch state stays under run_dir."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "spark-warehouse"))
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        .config("spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if event_log_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    tree = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()  # the gateway server exits on stdin EOF
                proc.wait(timeout=timeout_s)
            except Exception:  # noqa: BLE001 - fall through to kill
                proc.kill()
                proc.wait(timeout=timeout_s)
        # the JVM's Python workers exit on their own once it is gone; they
        # are not our children, so poll until /proc no longer lists them
        deadline = time.monotonic() + timeout_s
        for pid in tree:
            while _alive(pid):
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                    deadline = time.monotonic() + timeout_s
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"
