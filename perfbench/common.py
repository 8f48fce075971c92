"""Session, timing, host probes and worker-RSS sampling shared by the
workloads. Everything the benchmark writes lives under ``<root>/.perfbench``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import signal
import statistics
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs))


def md5_text(s: str) -> str:
    return hashlib.md5(s.encode("utf-8", "surrogatepass")).hexdigest()


def calibration_probe() -> float:
    """Fixed single-core CPU work (integer loop + sha256), best of 3.
    Moves with host contention and clock, never with repo code."""
    buf = bytes(65536)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(600_000):
            acc += i * i
        h = hashlib.sha256()
        for _ in range(200):
            h.update(buf)
        h.digest()
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class Workdir:
    """Per-process scratch tree under ``<root>/.perfbench``; removed on
    close so runs never share files."""

    def __init__(self):
        self.path = os.path.join(WORK_BASE, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("local", "tmp", "warehouse", "events"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)
        except OSError:
            pass


def prepare_env(work: Workdir) -> None:
    """Process environment the JVM and its Python workers inherit: the
    repo root on the workers' import path (so the run works from any
    cwd), and every temp/spill directory inside the work tree."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    os.environ["TMPDIR"] = work.sub("tmp")
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work.sub('tmp')}")


def start_session(work: Workdir, event_log: bool = False):
    from lexoid_spark.session import get_spark

    cores = nproc()
    conf = {
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + work.sub("events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    return spark


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def descendants(root: int) -> dict[int, str]:
    """pid → command name of every live (non-zombie) process below
    ``root``."""
    parent, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        state, ppid = st[st.rindex(")") + 2:].split()[:2]
        if state != "Z":
            comm[int(d)] = st[st.index("(") + 1:st.rindex(")")]
            parent[int(d)] = int(ppid)
    out = {}
    for pid, name in comm.items():
        p = parent.get(pid)
        while p and p != root:
            p = parent.get(p)
        if p == root:
            out[pid] = name
    return out


def reap_descendants() -> None:
    """Wait until every process this one started has exited; after 15 s,
    SIGTERM and then SIGKILL whatever is left (a JVM whose start was
    interrupted never sees its parent go)."""
    me = os.getpid()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        t_end = time.monotonic() + (15.0 if sig is None else 10.0)
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not descendants(me):
                return
            if time.monotonic() >= t_end:
                break
            time.sleep(0.2)


class RssSampler:
    """Peak RSS (VmHWM) of the largest Python process below this one —
    the Spark Python workers — sampled from /proc every 0.2 s on a
    thread, so workers that exit before the end still count. VmHWM is a
    process's lifetime peak: the caller starts the workers fresh."""

    def __init__(self):
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0

    def _loop(self):
        while not self._stop.wait(0.2):
            self.sample()

    def sample(self) -> None:
        for pid, name in descendants(os.getpid()).items():
            if not name.startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kib = max(self.peak_kib,
                                                int(line.split()[1]))
                            break
            except OSError:
                continue


@dataclass
class Timed:
    """Closed-loop timed passes: run ``fn`` back to back until ``seconds``
    have elapsed and at least 3 passes finished. Records each pass's wall
    and the hypervisor steal share during it."""

    walls: list = field(default_factory=list)
    steals: list = field(default_factory=list)

    def run(self, fn, seconds: float) -> None:
        t_end = time.monotonic() + seconds
        while len(self.walls) < 3 or time.monotonic() < t_end:
            ticks = cpu_ticks()
            t0 = time.perf_counter()
            fn()
            self.walls.append(time.perf_counter() - t0)
            self.steals.append(steal_frac(ticks, cpu_ticks()))

    @property
    def median(self) -> float:
        return median(self.walls)


class Stopwatch:
    def __init__(self):
        self.t0 = time.perf_counter()

    def lap(self) -> float:
        t = time.perf_counter()
        el, self.t0 = t - self.t0, t
        return el
