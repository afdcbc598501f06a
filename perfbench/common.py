"""Shared pieces of the benchmark: environment pinning, host-noise
readings, sample statistics and the run context handed to workloads.

Nothing here imports pyspark, so the smoke test can use it without
starting a JVM.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

HASH_SEED = "0"
DRIVER_MEM = "2g"  # well below host RAM; the engine's own default is 32g


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict[str, str]:
    """Environment every run uses, set before the JVM starts.  Storage,
    Spark scratch and temp files all live under ``work``, inside the
    checkout, so both sides of a comparison use the same filesystem."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    """``extra_conf`` for ``get_spark``: quiet console, scratch inside the
    checkout, and (traced runs only) a Spark event log to parse."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: per-step times are flat after a step or two, where the
        # default tiered compiler kept them falling for 40-60 s
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if event_log:
        d = os.path.join(work, "eventlog")
        os.makedirs(d, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = d
        conf["spark.eventLog.compress"] = "false"
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit, so no process
    outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # TimeoutExpired: the JVM ignored the closed pipe
        proc.kill()
        proc.wait(timeout=30)


# ------------------------------------------------------------ host noise


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest prefix
    match over /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) < 3:
                continue
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


class HostWindow:
    """CPU steal and load average over a timed window.  Recorded in every
    artifact; never used to drop or adjust samples."""

    def __init__(self) -> None:
        self.steal0, self.total0 = _cpu_jiffies()
        self.load0 = os.getloadavg()

    def close(self) -> dict:
        steal1, total1 = _cpu_jiffies()
        dt = max(1, total1 - self.total0)
        return {
            "steal_s": (steal1 - self.steal0) / os.sysconf("SC_CLK_TCK"),
            "steal_share": (steal1 - self.steal0) / dt,
            "loadavg_start": list(self.load0),
            "loadavg_end": list(os.getloadavg()),
        }


# ------------------------------------------------------------ statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[int, float]:
    """The highest whole percentile with at least ``beyond`` samples above
    it, and its value; ``(0, 0.0)`` when the sample is too small to
    support any tail above the median."""
    n = len(xs)
    s = sorted(xs)
    for p in (99, 95, 90, 75):
        idx = int(p / 100 * n)
        if n - idx - 1 >= beyond and idx < n:
            return p, s[idx]
    return 0, 0.0


def summary(xs: list[float]) -> dict:
    p, v = tail(xs)
    return {"n": len(xs), "p50": median(xs), "tail_pct": p, "tail": v}


# ------------------------------------------------------------ run context


class Tally:
    """Operations attempted and failed.  A failed check marks its
    operation failed; nothing is retried."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, msg: str) -> bool:
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(msg)
        return ok


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    work: str  # scratch for this run, removed at exit
    seed: int
    tracer: object
    spark: object = None
    tally: Tally = field(default_factory=Tally)
    timed: bool = False  # False during warm-up: samples are not kept
    samples: dict = field(default_factory=dict)

    def sample(self, name: str, seconds: float) -> None:
        if self.timed:
            self.samples.setdefault(name, []).append(seconds * 1e3)


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
