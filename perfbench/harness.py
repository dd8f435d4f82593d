"""Run-time plumbing shared by the workloads: the Spark session a run owns,
the span tracer of the traced run, the CPU-time and host-steal counters
and the statistics the metrics are reported with."""

from __future__ import annotations

import contextlib
import os
import statistics
import time


def available_cores() -> int:
    """CPUs this process may run on (its affinity mask, not the host)."""
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(samples: list[float], beyond: int = 10):
    """The highest whole percentile p with at least ``beyond`` samples
    strictly above its value, as ``(p, value)``; None if there is none."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        # nearest-rank percentile
        v = xs[max(0, -(-p * n // 100) - 1)]
        if sum(1 for x in xs if x > v) >= beyond:
            return p, v
    return None


class Session:
    """A ``local[cores]`` SparkSession built through the package's
    ``session.build_session``, with every scratch path inside ``workdir``.
    ``stop()`` ends the JVM and waits for it."""

    def __init__(self, cores: int, workdir: str, event_log_dir: str | None = None):
        from quadtree_block_compression_spark.session import build_session
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        extra = {
            "spark.sql.session.timeZone": "UTC",
            # one small split per small file, as in the repo's bench harness
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # a fixed heap and two GC workers (four by default on four
            # CPUs), so that G1's heap sizing and its workers' spinning vary
            # less from one session to the next
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Xms2g"
                                              " -XX:ParallelGCThreads=2"),
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": event_log_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        self.spark = build_session("perfbench", cores=cores,
                                   shuffle_partitions=max(cores, 8), extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM), in MiB."""
        if self._proc is None:
            return 0.0
        with open(f"/proc/{self._proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def stop(self) -> None:
        """Stop Spark, then close the gateway JVM's stdin (it exits on EOF)
        and wait for it, so no process outlives the session."""
        from pyspark import SparkContext
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if self._proc is not None:
            with contextlib.suppress(Exception):
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except Exception:
                self._proc.kill()
                self._proc.wait(timeout=30)


class Tracer:
    """Spans (name, start, end, parent) kept in memory. When enabled, each
    span is also the Spark job group of the jobs started inside it, so the
    event log attributes every job to its innermost span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the part its child spans
        cover (children never overlap: one client thread)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + (s["end"] - s["start"]) - child[s["id"]])
        return out


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time counters (the ``cpu`` line of
    /proc/stat: user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# JIT compiler threads as /proc names them (the name is cut at 15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """The name and the fields after it of a /proc ``stat`` file."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def tree_cpu_seconds() -> tuple[float, float]:
    """CPU time (user + system) of this process and every live descendant,
    plus what reaped children had used; and the part of it that the JVMs'
    JIT compiler threads used. Those threads must not exit
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or their time could not
    be told apart.

    A guest kernel does not charge a task for time its virtual CPU was
    stolen, so this grows far less with host steal than wall time does (it
    still grows some: a contended CPU runs slower, and waiters spin longer)."""
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, rest = _stat_fields(f"/proc/{name}/stat")
        except OSError:
            continue
        pid = int(name)
        kids.setdefault(int(rest[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in rest[11:15])
    total, jit, todo = 0, 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, []))
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            try:
                comm, rest = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(JIT_THREADS):
                jit += int(rest[11]) + int(rest[12])
    tck = os.sysconf("SC_CLK_TCK")
    return total / tck, jit / tck


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``cpu_ticks()`` readings that the
    hypervisor gave to other guests (steal)."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) > 0 and len(d) > 7 else 0.0
