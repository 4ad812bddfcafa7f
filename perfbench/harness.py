"""Process-level plumbing for one benchmark run: the Spark session's
start and full shutdown, the summed-RSS sampler over the driver, its
JVM and the JVM's Python workers, and the run's environment record."""

from __future__ import annotations

import os
import platform
import signal
import threading
import time


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: explains a run slowed by its neighbours."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while scanning
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants
    (user + system, including their reaped children). Time the
    hypervisor gave to other guests is accounted as steal, not here."""
    me = os.getpid()
    total = 0
    for p in [me, *descendants(me)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the scan
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the summed VmRSS of this process and all its descendants
    (spark-submit's JVM, the Python worker daemon and its workers) on a
    background thread; ``peak_mb`` is the highest sum seen. ``cpu_s`` is
    the CPU time the sampling thread itself has used, so a caller can
    take it out of a CPU figure of the whole process tree."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        rss = {p: _rss_mb(p) for p in [me, *descendants(me)]}
        total = sum(rss.values())
        if total > self.peak_mb:
            self.peak_mb = total
            # which processes made the peak, for the run record
            self.peak_by_process = {f"{_comm(p)}-{p}": round(mb, 1) for p, mb in rss.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()
            self.cpu_s = time.thread_time()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(started: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``started`` (taken while the session
    ran: the JVM's Python workers are re-parented once the JVM exits)
    and every remaining descendant has exited; terminate, then kill,
    whatever is left when the timeout expires."""
    me = os.getpid()

    def live() -> list[int]:
        return [p for p in {*started, *descendants(me)} if _alive(p)]

    for sig, wait_s in ((None, timeout_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        left = live()
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            for p in left:
                try:  # reap our own zombies; others' are reaped by their parent
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
            left = live()
        if not left:
            return


def start_spark(cores: int):
    from pysql2neo4j_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (the
    gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def environment(spark, seed: int) -> dict:
    import pandas
    import pyarrow

    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_conf": {k: conf[k] for k in sorted(conf)},
        "seed": seed,
    }
