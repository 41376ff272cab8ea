"""Measurements taken from outside the engine.

* ``/proc`` readers: CPU seconds and peak RSS (VmHWM) of the Spark JVM plus
  every process under it (the PySpark daemon and its Python workers).
* ``Tracer``: spans set by the benchmark around calls into the engine's
  layers. Each span sets the Spark job group, so the event log attributes
  stages, tasks, shuffle bytes, spill and GC to the span that caused them.
  Spans are kept in memory and summarised once, after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields start after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children = defaultdict(list)
    for p in glob.glob("/proc/[0-9]*"):
        pid = int(p[6:])
        f = _stat_fields(pid)
        if f is not None:
            children[int(f[1])].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree under ``root``, including reaped
    children (cutime/cstime) so short-lived workers are not lost."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssWatcher:
    """Polls the process tree; ``peak_mb`` is the largest sum of VmHWM over
    the JVM and the live Python processes under it (VmHWM is itself a
    per-process peak, so short spikes between polls are still counted).

    Other children are skipped: the JVM runs shell commands through a
    vfork'd helper, which shares -- and so reports -- the JVM's whole
    memory until it execs."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak_kb = 0
        self.peak_split: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        hwm = {
            p: _hwm_kb(p)
            for p in process_tree(self.root)
            if p == self.root or _comm(p).startswith("python")
        }
        total = sum(hwm.values())
        if total > self.peak_kb:
            self.peak_kb = total
            # where the peak sits: the JVM vs the Python processes under it
            self.peak_split = {
                "jvm_mb": hwm.get(self.root, 0) / 1024.0,
                "python_processes": len(hwm) - 1,
                "python_mb": (total - hwm.get(self.root, 0)) / 1024.0,
            }

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssWatcher":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_probe(seconds: float = 0.25) -> float:
    """Single-thread sha256 rate (hashes/s) over a short window. The load
    average counts only the processes of the VM the benchmark runs in; on a
    shared host this rate drops when neighbours take the CPU, so a slow pass
    can be told apart from a slow program."""
    import hashlib

    h, n = b"", 0
    t0 = time.perf_counter()
    while (elapsed := time.perf_counter() - t0) < seconds:
        for _ in range(1000):
            h = hashlib.sha256(h).digest()
        n += 1000
    return n / elapsed


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around engine calls; each span is a Spark job group.

    ``wrap(module, attr, name)`` replaces ``module.attr`` with a spanned
    version for the lifetime of the tracer (``restore()`` undoes it), so a
    call the engine makes internally -- e.g. ``pipeline.run_pipeline``
    calling ``pagerank`` -- is attributed to its layer. ``localCheckpoint``
    barriers are counted per span: the iterative operators take one per
    superstep plus one for the initial state.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.prefix = ""
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.last_result: dict[str, object] = {}

    def _group(self) -> str:
        return self._stack[-1]["group"] if self._stack else self.prefix + "other"

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "group": f"{self.prefix}{name}",
            "parent": self._stack[-1]["name"] if self._stack else None,
            "barriers": 0,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._group(), "")
            self.spans.append(rec)

    def set_prefix(self, prefix: str) -> None:
        self.prefix = prefix
        self.sc.setJobGroup(self._group(), "")

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr, None)
        if orig is None:
            return

        def spanned(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            self.last_result[name] = out
            return out

        setattr(module, attr, spanned)
        self._patched.append((module, attr, orig))

    def count_barriers(self, df_class) -> None:
        orig = df_class.localCheckpoint
        tracer = self

        def counted(self_df, *args, **kwargs):
            for rec in tracer._stack:
                rec["barriers"] += 1
            return orig(self_df, *args, **kwargs)

        df_class.localCheckpoint = counted
        self._patched.append((df_class, "localCheckpoint", orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC time, shuffle
    write bytes and spill, summed from a finished Spark event log."""
    stage_group: dict[tuple, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    out[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]), "none")
                    out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]), "none")
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc = out[g]
                    acc["tasks"] += 1
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return {g: dict(v) for g, v in out.items()}
