"""Run-time plumbing shared by the workloads: statistics, spans, the Spark
session's life cycle, and the machine state recorded with each run."""

from __future__ import annotations

import bisect
import glob
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

#: The benchmark never asks for more cores than this, nor more than the
#: machine has.
MAX_CPUS = 4
DRIVER_MEM = "3g"
#: A fixed heap and young generation: G1 otherwise resizes both with load,
#: which makes the JVM's peak resident memory wander from run to run.
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn768m"


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median — the run-to-run spread the benchmark is held to."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer; kept
    until the run ends, then written out with ``dump``. Spans are cheap
    (a few per operation) and the end-to-end latencies come from them, so
    they are recorded in every run."""

    spans: list[Span] = field(default_factory=list)

    def record(self, name: str, layer: str, start: float, end: float,
               parent: int | None = None) -> int:
        self.spans.append(Span(name, layer, start, end, parent))
        return len(self.spans) - 1

    def seconds(self, layer: str | None = None, name: str | None = None,
                since: float = float("-inf")) -> list[float]:
        return [s.seconds for s in self.spans
                if (layer is None or s.layer == layer)
                and (name is None or s.name == name) and s.start >= since]

    def dump(self) -> list[dict]:
        return [{"id": i, "name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent} for i, s in enumerate(self.spans)]


def cpu_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class StealMeter:
    """Samples the share of CPU time the hypervisor steals from this
    virtual machine. On a shared host the stolen share of a run varies
    from a few percent to a fifth, and it stretches every timing of the run
    alike; ``unstolen`` takes it out of an interval, so that the figure
    follows the program rather than the host's other tenants."""

    PERIOD_S = 0.05

    def __init__(self) -> None:
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.samples.append((time.time(), *cpu_ticks()))
            if self._stop.wait(self.PERIOD_S):
                return

    def __enter__(self) -> StealMeter:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def share(self, start: float, end: float) -> float:
        """Stolen share of all CPU time between the last sample at or
        before ``start`` and the first at or after ``end``."""
        times = [t for t, _, _ in self.samples]
        i = max(0, bisect.bisect_right(times, start) - 1)
        j = min(len(times) - 1, bisect.bisect_left(times, end))
        stolen = self.samples[j][1] - self.samples[i][1]
        total = self.samples[j][2] - self.samples[i][2]
        return stolen / total if total > 0 else 0.0

    def unstolen(self, start: float, end: float) -> float:
        """Seconds between ``start`` and ``end`` less the stolen share."""
        return (end - start) * (1.0 - self.share(start, end))


def cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def machine_state() -> dict:
    """Load average and Java processes already running before this run —
    either slows what the run measures."""
    java = []
    for cmdline in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(cmdline, "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if argv0.endswith(b"java"):
            java.append(int(cmdline.split("/")[2]))
    return {"loadavg": os.getloadavg(), "stray_jvms": len(java), "cpus": cpus()}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            child = int(stat.split("/")[2])
            out += [child, *_children(child)]
    return out


class SparkProcess:
    """The Spark driver JVM of a run. ``stop_session`` ends the session
    (and flushes its event log); ``shutdown`` ends the JVM and every
    process it started, and waits for them."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None

    def start_session(self, extra_conf: dict[str, str] | None = None):
        from sport_data_pipeline_spark.session import get_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={self.work_dir}/tmp",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            **(extra_conf or {}),
        }
        # cores and heap come from SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM
        self.spark = get_session("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        family = _children(proc.pid)
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 20
        for pid in family:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
