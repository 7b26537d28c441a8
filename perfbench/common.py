"""Shared machinery of the benchmark: the run context, the Spark
session, process accounting from ``/proc``, spans and the event-log
reader. Nothing here imports pyspark at module load, so the entry point
can fail fast in a directory without the program.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
HEAP = "2g"


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# /proc accounting of the Spark JVM and its Python workers
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


class ProcTree:
    """CPU seconds and resident memory of one process tree: the Spark
    JVM plus the Python workers it forks. CPU of a worker that already
    exited is in its parent's cutime/cstime once reaped, so summing
    self + reaped-children time over the live tree counts each second
    once."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        return [self.root, *descendants(self.root)]

    def cpu_split(self) -> tuple[float, float]:
        """(JVM seconds, Python-worker seconds)."""
        jvm, workers = 0.0, 0.0
        for pid in self.pids():
            st = _stat(pid)
            if not st:
                continue
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            ticks = sum(int(x) for x in st[11:15])
            if pid == self.root:
                # the JVM's reaped children are the Python daemon's
                # exited forks at most; count them as worker time
                jvm += (int(st[11]) + int(st[12])) / CLK_TCK
                workers += (int(st[13]) + int(st[14])) / CLK_TCK
            else:
                workers += ticks / CLK_TCK
        return jvm, workers

    def cpu(self) -> float:
        return sum(self.cpu_split())

    def rss_mb(self) -> float:
        """Resident memory of the tree, counting pages the forked Python
        workers share once (the summed Pss of smaps_rollup)."""
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


class MemorySampler:
    """Samples ``used_mb`` (a callable) on a daemon thread; ``peak`` is
    the largest value seen between start() and stop()."""

    def __init__(self, used_mb, every_s: float = 0.25):
        self.used_mb, self.every_s = used_mb, every_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._t: threading.Thread | None = None

    def start(self) -> "MemorySampler":
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.used_mb())
            self._stop.wait(self.every_s)

    def stop(self) -> float:
        self._stop.set()
        if self._t is not None:
            self._t.join(timeout=5)
        self.peak = max(self.peak, self.used_mb())
        return self.peak


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, shared run id. When
    disabled, ``span`` costs one attribute check. When enabled it also
    tags the Spark jobs a span launches with the span id (the job
    description), so the event log can be split per span."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next += 1
            sid = f"{self.run_id}:{self._next}"
        rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None, **attrs}
        stack.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(stack[-1]["id"] if stack else None)
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus the union of the
        intervals its children cover."""
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"]:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str, since: float = 0.0) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["start"] >= since)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

JVM_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "tasks")


def read_event_log(log_dir: str, t0: float, t1: float) -> tuple[dict, dict]:
    """Task metrics of the tasks launched in [t0, t1] (epoch seconds):
    (totals, per-span) where a span is the job description its job
    carried."""
    stage_span: dict[int, str] = {}
    totals = dict.fromkeys(JVM_KEYS, 0.0)
    per_span: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = desc or "untagged"
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    launch = ev["Task Info"]["Launch Time"] / 1000.0
                    m = ev.get("Task Metrics")
                    if m is None or not (t0 <= launch <= t1):
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    vals = {
                        "executor_run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "tasks": 1,
                    }
                    span = stage_span.get(ev["Stage ID"], "untagged")
                    bucket = per_span.setdefault(span, dict.fromkeys(JVM_KEYS, 0.0))
                    for k, v in vals.items():
                        totals[k] += v
                        bucket[k] += v
    return totals, per_span


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


class Ctx:
    """One benchmark process: its work directory inside the checkout,
    the Spark session and the accounting around it."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".bench_out")
        for d in (self.work, self.out_dir, os.path.join(self.work, "tmp")):
            os.makedirs(d, exist_ok=True)
        # every temp file of this process, the JVM and its workers stays
        # inside the checkout
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # also covers the launcher JVM spark-submit runs first
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = None
        # keep the Spark driver heap well below the factory's 8g default
        # (sf0.01-sized inputs need far less, and benchmark hosts are
        # often shared); it is committed and touched up front (see
        # start_spark), so the resident size of the unused heap is
        # exactly committed minus used (see used_mb)
        os.environ["SPARK_DRIVER_MEMORY"] = HEAP
        self.cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        self.spark = None
        self.session = "none"
        self.tree: ProcTree | None = None
        self.tracer = Tracer(False)
        self.event_dir: str | None = None
        self.start_s = 0.0

    def path(self, *parts: str) -> str:
        """A path under the current Spark session's own directory, so a
        later session never resumes an earlier one's checkpoints; its
        parent directory exists."""
        p = os.path.join(self.work, self.session, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """Like ``path``, for a directory that exists."""
        p = os.path.join(self.work, self.session, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_spark(self, master: str | None = None, event_log: bool = False, tag: str = "main"):
        """Start a Spark session; ``start_s`` is how long that took (the
        first call in a process includes importing pyspark and launching
        the JVM)."""
        t0 = time.perf_counter()
        from gmall_realtime_ck_spark.session import get_spark

        self.session = tag
        conf = {
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            self.event_dir = os.path.join(self.work, f"eventlog-{tag}")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        else:
            conf["spark.eventLog.enabled"] = "false"
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", master=master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tree = ProcTree(self.spark.sparkContext._gateway.proc.pid)
        self.tracer = Tracer(event_log, self.spark.sparkContext if event_log else None)
        self._heap_pools: set[str] | None = None
        self.start_s = time.perf_counter() - t0
        return self.spark

    def used_mb(self) -> float:
        """Memory the JVM and its Python workers hold: their summed Pss,
        with the Java heap counted as what the latest garbage collection
        left live instead of its committed size (the heap is touched up
        front, so every committed page is resident; how full the young
        generation gets between collections is the collector's sizing,
        not the program's need)."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        if self._heap_pools is None:
            self._heap_pools = {p.getName() for p in mf.getMemoryPoolMXBeans()
                                if p.getType().toString() == "HEAP"}
        heap = mf.getMemoryMXBean().getHeapMemoryUsage()
        live, last_end = heap.getUsed(), -1
        for gc in mf.getGarbageCollectorMXBeans():
            info = gc.getLastGcInfo()
            if info is not None and info.getEndTime() > last_end:
                last_end = info.getEndTime()
                after = info.getMemoryUsageAfterGc()
                live = sum(after[p].getUsed() for p in self._heap_pools if p in after)
        return self.tree.rss_mb() - (heap.getCommitted() - live) / 2**20

    def memory_sampler(self) -> MemorySampler:
        """Collect garbage once, so every timed region starts from the
        same heap, and start sampling ``used_mb``."""
        self.spark._jvm.java.lang.System.gc()
        return MemorySampler(self.used_mb).start()

    def stop_spark(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def timed_setup(fn, reps: int = 5) -> tuple[float, object]:
    """Run the set-up ``fn`` ``reps`` times; (median seconds, last result)."""
    times, res = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = fn()
        times.append(time.perf_counter() - t0)
    return median(times), res
