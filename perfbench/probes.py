"""Measurement helpers: the benchmark's own process tree (CPU seconds and
resident memory read from /proc), the host calibration probe, the
in-memory span tracer and the Spark event-log reader.

The process tree is this Python process, the Spark JVM it launched and
the JVM's Python workers. Only that tree is counted, never the whole
machine: the host is shared.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> tuple[str, list[str]] | None:
    """(comm, fields from `state` on) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces: fields resume after the last ')'
    return (raw[raw.index("(") + 1:raw.rindex(")")],
            raw[raw.rindex(")") + 2:].split())


class ProcTree:
    """Descendants of `root` (inclusive), re-listed on every read so
    workers started later are counted.

    Of the JVM's children only the Python ones (the worker daemon) are
    followed. The others are helper commands Hadoop's local file system
    shells out to (chmod): between fork and exec such a child repeats
    the JVM's pages in its RSS, a transient second copy of the JVM."""

    def __init__(self, root: int | None = None):
        self.root = str(root or os.getpid())

    def _stats(self) -> list[list[str]]:
        children: dict[str, list[str]] = {}
        stats: dict[str, tuple[str, list[str]]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            st = _stat_fields(pid)
            if st is None:
                continue
            stats[pid] = st
            children.setdefault(st[1][1], []).append(pid)  # [1] = ppid
        out, todo = [], [(self.root, "")]
        while todo:
            pid, parent_comm = todo.pop()
            if pid not in stats:
                continue
            comm, fields = stats[pid]
            if parent_comm == "java" and not comm.startswith("python"):
                continue
            out.append(fields)
            todo.extend((c, comm) for c in children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """utime+stime of live members plus cutime+cstime (reaped
        children), in core-seconds."""
        return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
                   for f in self._stats()) / _TICK

    def rss_mb(self) -> float:
        return sum(int(f[21]) for f in self._stats()) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS every `period` seconds on a
    background thread while the `with` block runs; `.peak_mb` holds
    the highest sample."""

    def __init__(self, tree: ProcTree, period: float = 0.1):
        self.tree, self.period = tree, period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())


def host_calib(cpus: int) -> dict:
    """The fixed elementwise probe bench.py embeds (sqrt/mul/add over
    32 MB, best of 3), single thread and on `cpus` threads. A copy, so
    bench.py stays untouched; the numbers are comparable with its
    `host_calib`."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np
    a = np.random.RandomState(7).rand(4_000_000)

    def work(_i=0):
        x = a
        for _ in range(10):
            x = np.sqrt(x * 1.0000001 + 0.5)
        return float(x[0])

    def best(threads: int) -> float:
        best_t = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            if threads == 1:
                work()
            else:
                with ThreadPoolExecutor(max_workers=threads) as pool:
                    list(pool.map(work, range(threads)))
            best_t = min(best_t, time.perf_counter() - t0)
        return round(best_t, 4)

    return {"eltwise_1t_sec": best(1), "eltwise_allcore_sec": best(cpus)}


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls
    into the program's public functions. Each span also becomes the
    Spark job description of the jobs started inside it, so the event
    log carries the same layer names. Spans are written out by
    `write`, once, at the end of the run."""

    def __init__(self, run_id: str, sc=None):
        self.run_id, self.sc = run_id, sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    None if parent is None else self.spans[parent]["name"])

    def innermost(self, t: float) -> str | None:
        """Name of the innermost span open at epoch time `t`."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return None if best is None else best["name"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def event_log_by_layer(log_dir: str, tracer: Tracer) -> dict[str, dict]:
    """Per-layer task count, shuffle bytes written and bytes spilled
    (memory + disk) from the Spark event log in `log_dir`. A job
    belongs to the layer named by its job description; jobs started
    on threads that do not inherit the description (the sink's
    pipeline slot) are assigned to the innermost span open at their
    submission time."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if not files:
        return {}
    stage_layer: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(max(files, key=os.path.getmtime)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                layer = (props.get("spark.job.description")
                         or tracer.innermost(ev["Submission Time"] / 1000)
                         or "untraced")
                for sid in ev.get("Stage IDs", ()):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"), "untraced")
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc = out.setdefault(layer, {"tasks": 0,
                                             "shuffle_write_bytes": 0,
                                             "spill_bytes": 0})
                acc["tasks"] += 1
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    return out


def tail(values: list[float]) -> tuple[str, float] | None:
    """(label, value) of the highest percentile with at least ten
    samples above it, or None when the sample is too small."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11  # ten samples beyond index k
    pct = int(100 * (k + 1) / n)
    return f"p{pct}", sorted(values)[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
