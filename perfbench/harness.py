"""Measurement plumbing shared by the workloads: spans, op records, peak
RSS, the Spark session and the Spark event-log reader.

Everything here measures the engine from outside. Spans wrap the calls the
benchmark makes into the engine's public functions; Spark jobs started
inside a span carry the span id as their job group, so the event log (on in
traced runs only) attributes task metrics back to the span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

CORES = 4
DRIVER_MEM = "2g"


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Tracer:
    """In-memory spans: name, layer, start, end, parent, run id and counts.

    Disabled tracers still run the wrapped code; they record nothing and set
    no Spark job group, so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool, run_id: str, spark_getter=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._spark = spark_getter

    def _set_group(self, sid: str | None) -> None:
        spark = self._spark() if self._spark else None
        if spark is not None:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", sid)

    @contextmanager
    def span(self, name: str, layer: str, **counts):
        if not self.enabled:
            yield counts
            return
        sid = uuid.uuid4().hex[:12]
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "run": self.run_id, "name": name,
               "layer": layer, "epoch_start": time.time(),
               "start": time.perf_counter(), "counts": counts}
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            rec["epoch_end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def self_times(self, spans: list[dict] | None = None) -> dict[str, float]:
        """Self seconds per layer over ``spans`` (default: all): each span's
        duration minus the union of its children's intervals."""
        spans = self.spans if spans is None else spans
        kids: dict[str, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            dur = s["end"] - s["start"]
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(dur - covered, 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, f)


class Ops:
    """Closed-loop op records and the attempted/failed tally.

    An op fails when it raises or when its check returns False; either way
    it counts in ``failed`` and its latency is not kept."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lat_ms: dict[str, list[float]] = {}
        self.intervals: list[tuple[float, float]] = []  # every op's start, end
        self.last_cpu_s = 0.0  # CPU seconds of the process tree in the last op
        self.errors: list[str] = []

    def run(self, kind: str, fn, check=None):
        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
            t1 = time.perf_counter()
            self.last_cpu_s = tree_cpu_s() - c0
            self.intervals.append((t0, t1))
            ms = (t1 - t0) * 1e3
            ok = check is None or check(out)
        except Exception as e:  # a failing op is a measurement, not a crash
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
            return None
        if not ok:
            self.failed += 1
            self.errors.append(f"{kind}: wrong result")
            return None
        self.lat_ms.setdefault(kind, []).append(ms)
        return out


class Ctx:
    """What a workload needs: the live session (replaced when set-up
    restarts it), its work directory, the seed, the size scale, the tracer
    and the op tally shared by all passes of one run."""

    def __init__(self, work: str, seed: int, scale: float, tracer: Tracer):
        self.spark = None
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.ops = Ops()

    def n(self, full: int, least: int = 1) -> int:
        """``full`` scaled by the size scale, at least ``least``."""
        return max(least, int(full * self.scale))


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds of the process and its reaped
    children) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime
            out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]) / _TICK)
        except (OSError, IndexError, ValueError):
            continue
    return out


def _children(root: int, table=None) -> list[int]:
    """``root`` and every process below it."""
    by_parent: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in (table or _proc_table()).items():
        by_parent.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(by_parent.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it:
    the driver JVM and the Python workers. The kernel does not charge a
    virtual CPU's steal time to any process, so unlike wall time this does
    not grow when the host runs other guests on our CPUs."""
    table = _proc_table()
    return sum(table[p][1] for p in _children(os.getpid(), table) if p in table)


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    """Resident set size from ``/proc/<pid>/statm``. Proportional set size
    (``smaps_rollup``) would count pages a forked worker shares with its
    daemon once, but reading it walks the JVM's page tables under its mmap
    lock: ~35 ms a sample, which slowed the very ops it measured."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Summed resident memory (RSS) of this process and all its descendants
    (the driver JVM, the Python worker daemon and its workers), sampled
    every ``period`` seconds on a background thread."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.samples: list[tuple[float, int]] = []  # (perf_counter, kB)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in _children(me))
            self.samples.append((time.perf_counter(), kb))
            self._stop.wait(self.period)

    def op_peak_mb(self, intervals) -> float:
        """Median over ``intervals`` (an op's start and end) of the highest
        sample taken during each op or one period after it, so that an op
        shorter than the period still gets a sample. One whole-run maximum
        hinges on a single sample and on when the JVM grew its heap; the
        median of per-op peaks does not."""
        peaks = []
        for lo, hi in intervals:
            inside = [kb for t, kb in self.samples if lo <= t <= hi + self.period]
            if inside:
                peaks.append(max(inside))
        return statistics.median(peaks) / 1024.0 if peaks else 0.0

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def start_spark(event_log_dir: str | None = None):
    """A ``local[4]`` session through the engine's ``session.get_spark``.

    Traced runs first build the session themselves with the event log on
    (a static setting ``get_spark`` does not take); ``get_spark`` then
    returns that session and applies its runtime settings to it."""
    from pyspark.sql import SparkSession

    from pandora_apache_avro_idl_to_apache_parquet_spark.session import get_spark

    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        (SparkSession.builder.master(f"local[{CORES}]")
         .config("spark.driver.memory", DRIVER_MEM)
         .config("spark.ui.enabled", "false")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.compress", "false")
         .config("spark.eventLog.dir", "file://" + event_log_dir)
         .getOrCreate())
    spark = get_spark(app="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _started(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot, or None once it has
    ended (a zombie has ended too). The start time tells a process from a
    later one that reuses its pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if rest[0] in ("Z", "X") else int(rest[19])


def end_processes(grace_s: float = 30.0) -> list[int]:
    """Stop the JVM that pyspark launched and every other process below this
    one, and wait until each has ended. Returns the pids that had to be
    killed.

    ``SparkSession.stop`` leaves the JVM running: it exits when it reads EOF
    on its stdin, that is when this process exits, and the Python worker
    daemon it forked ends after it. Left alone, both would outlive the run.
    So the JVM's stdin is closed here and the JVM waited for; any process
    of the tree (taken before the JVM goes, since its orphans lose their
    parent link) still alive after ``grace_s`` gets SIGTERM, then SIGKILL."""
    import signal
    import subprocess

    me = os.getpid()
    tree = {p: _started(p) for p in _children(me) if p != me}
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gw = SparkContext._gateway if SparkContext is not None else None
    proc = getattr(gw, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if SparkContext is not None:
        SparkContext._gateway = None
        SparkContext._jvm = None

    def alive():
        for p in _children(me):
            if p != me and p not in tree:
                tree[p] = _started(p)
        return [p for p, t in tree.items() if t is not None and _started(p) == t]

    killed = []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for p in alive():
                try:
                    os.kill(p, sig)
                    killed.append(p)
                except OSError:
                    pass
        deadline = time.monotonic() + wait_s
        while True:
            try:  # reap our own children so that they do not stay zombies
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not alive() or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not alive():
            break
    return sorted(set(killed))


def _import_engine(batches):
    import pyarrow as pa

    import pandora_apache_avro_idl_to_apache_parquet_spark.functions.codecs  # noqa: F401

    for b in batches:
        yield pa.RecordBatch.from_arrays([b.column(0)], names=["id"])


def warm_up(spark) -> None:
    """Start the Python workers and import the engine in each of them."""
    (spark.range(0, 4 * CORES, numPartitions=CORES)
     .mapInArrow(_import_engine, "id long").write.format("noop")
     .mode("overwrite").save())


def job_floor_ms(spark, n: int = 7) -> float:
    """Median latency of a trivial Spark job in the running session."""
    xs = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        xs.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(xs)


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            try:
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
            except OSError:
                pass
    return files, size


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def read_event_log(event_log_dir: str) -> dict:
    """Task metrics from the Spark event log, totalled per job group (= span
    id) and overall: tasks, executor CPU and run seconds, GC seconds,
    shuffle bytes written, input bytes and the last task finish time."""
    events = []
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    for path in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True):
        if os.path.isfile(path) and "appstatus" not in os.path.basename(path):
            with open(path) as f:
                events += [json.loads(line) for line in f]
    stage_group: dict[int, str | None] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
    per: dict[str | None, dict] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        m = ev.get("Task Metrics") or {}
        acc = per.setdefault(stage_group.get(ev.get("Stage ID")), {
            "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "input_bytes": 0, "last_finish_ms": 0})
        acc["tasks"] += 1
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        acc["last_finish_ms"] = max(acc["last_finish_ms"],
                                    (ev.get("Task Info") or {}).get("Finish Time", 0))
    return per


def sum_groups(per: dict, groups) -> dict:
    out = {"tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
           "shuffle_bytes": 0, "input_bytes": 0, "last_finish_ms": 0}
    for g in groups:
        acc = per.get(g)
        if not acc:
            continue
        for k, v in acc.items():
            out[k] = max(out[k], v) if k == "last_finish_ms" else out[k] + v
    return out


def descendant_span_ids(spans: list[dict], root_id: str) -> set[str]:
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        s = todo.pop()
        out.add(s)
        todo.extend(kids.get(s, []))
    return out
