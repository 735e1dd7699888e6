"""Instruments the benchmark owns: spans, /proc sampling, Spark event log.

Nothing here touches the package under test.  Spans are recorded around
calls into its public entry points, process figures come from ``/proc``,
and Spark's own accounting comes from the event log the benchmark's session
writes when tracing is on.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent and iteration id.

    Spans nest through a stack, so only calls made on the benchmark's own
    thread are recorded; that covers every boundary the benchmark wraps.
    The list is written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, iteration: str):
        return _Span(self, name, iteration)

    def wrap(self, name: str, fn):
        """``fn`` recorded as a span of whatever iteration calls it."""

        def wrapped(*args, **kwargs):
            parent = self.spans[self._stack[-1]]["iteration"] if self._stack else None
            with self.span(name, parent):
                return fn(*args, **kwargs)

        return wrapped

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by direct children (children of
        one span never overlap here: they run on the same thread)."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, iteration: str) -> None:
        self.tracer, self.name, self.iteration = tracer, name, iteration

    def __enter__(self) -> dict:
        t = self.tracer
        self.rec = {
            "id": len(t.spans),
            "name": self.name,
            "iteration": self.iteration,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.time(),
            "end": None,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.time()
        self.tracer._stack.pop()


# ---------------------------------------------------------------------- /proc


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK  # utime stime cutime cstime
    return ppid, comm, cpu


def process_tree(root: int) -> dict[int, tuple[int, str, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
    return tree


def python_workers(tree: dict) -> dict:
    """pyspark daemon and worker processes: python processes below the JVM."""
    jvms = {pid for pid, st in tree.items() if st[1] == "java"}
    out, frontier = {}, [p for p, st in tree.items() if st[0] in jvms]
    while frontier:
        pid = frontier.pop()
        if tree[pid][1].startswith("python"):
            out[pid] = tree[pid]
        frontier.extend(p for p, st in tree.items() if st[0] == pid)
    return out


def tree_cpu_s(root: int) -> float:
    """Cumulative CPU of the process tree below ``root``, itself included."""
    return sum(st[2] for st in process_tree(root).values())


def worker_cpu_s(root: int) -> float:
    """Cumulative CPU of the Python workers: live workers' own time plus,
    through the daemon's cutime/cstime, that of workers already reaped."""
    return sum(st[2] for st in python_workers(process_tree(root)).values())


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, with pages shared
    between processes (the forked Python workers) split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited
        pass
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class MemorySampler:
    """Samples the resident memory (PSS) of the benchmark's process tree --
    this interpreter, the driver JVM, the pyspark daemon and its workers --
    on a thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.samples: list[tuple[float, int, int]] = []  # (t, tree, workers)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            tree = process_tree(root)
            workers = python_workers(tree)
            self.samples.append(
                (
                    time.time(),
                    sum(_pss(pid) for pid in tree),
                    sum(_pss(pid) for pid in workers),
                )
            )
            self._stop.wait(self.interval_s)

    def peak_mb(self, windows: list[tuple[float, float]], workers: bool = False) -> float:
        col = 2 if workers else 1
        vals = [
            s[col]
            for s in self.samples
            if any(a <= s[0] <= b for a, b in windows)
        ]
        return max(vals, default=0) / 2**20


# ------------------------------------------------------------ Spark event log


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the one application logged under
    ``log_dir``, with the timestamps (epoch seconds) used to place them."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {paths}")
    jobs, stages, tasks = [], [], []
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs.append(
                    {
                        "t": e["Submission Time"] / 1000,
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    }
                )
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages.append({"t": si.get("Submission Time", 0) / 1000})
            elif ev == "SparkListenerTaskEnd":
                ti = e.get("Task Info") or {}
                tm = e.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                inp = tm.get("Input Metrics") or {}
                tasks.append(
                    {
                        "t": ti.get("Launch Time", 0) / 1000,
                        "failed": bool(ti.get("Failed"))
                        or (e.get("Task End Reason") or {}).get("Reason") != "Success",
                        "run_s": tm.get("Executor Run Time", 0) / 1000,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000,
                        "shuffle_read": sr.get("Local Bytes Read", 0)
                        + sr.get("Remote Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                        "input": inp.get("Bytes Read", 0),
                    }
                )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def spark_window(log: dict, start: float, end: float, cores: int) -> dict:
    """Spark accounting for one iteration.

    The benchmark is a closed loop with one client, so every job submitted
    between an iteration's start and end belongs to it.  Jobs are placed by
    time rather than by job group because the engine runs some jobs on
    its own driver threads, which do not inherit the group."""

    def inside(x):
        return start <= x["t"] <= end

    tasks = [t for t in log["tasks"] if inside(t)]
    wall = end - start
    return {
        "spark.jobs": sum(1 for j in log["jobs"] if inside(j)),
        "spark.jobs_in_group": sum(1 for j in log["jobs"] if inside(j) and j["group"]),
        "spark.stages": sum(1 for s in log["stages"] if inside(s)),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.task_busy_frac": sum(t["run_s"] for t in tasks) / (wall * cores),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.input_bytes": sum(t["input"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
    }


def dir_stats(root: str, sub: str = "") -> tuple[int, int]:
    """(bytes, files) under ``root/sub``."""
    total = files = 0
    for dirpath, _, names in os.walk(os.path.join(root, sub)):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files
