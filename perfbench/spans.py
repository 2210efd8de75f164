"""Spans, counters and Spark event-log metrics for the traced run.

Spans are recorded from OUTSIDE the program: :meth:`Tracer.wrap` replaces a
public function (or method) at every place the package has bound it, so a
call made through any of the package's own modules lands in a span.  Spans
stay in memory; :meth:`Tracer.dumps` renders them once, at the end of a run
(the harness prints them as one line on standard error).

Nothing here runs unless the harness is started with ``--trace 1``: the
untraced run never patches the package.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

PACKAGE = "door2door_etl_spark"


class Tracer:
    """In-memory span recorder.  One ``trace`` id is shared by every span
    of one hour or pass (set with :meth:`operation`)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._trace: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self.last: dict[str, object] = {}  # latest return value per span name

    @property
    def in_operation(self) -> bool:
        return self._trace is not None

    @contextmanager
    def operation(self, trace_id: str):
        prev, self._trace = self._trace, trace_id
        try:
            yield
        finally:
            self._trace = prev

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "trace": self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "wall_start": time.time(), "wall_end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Record a span around ``owner.attr`` and around every other
        binding of the same function inside the package (``from x import
        f`` copies the reference into the importing module)."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = original(*args, **kwargs)
            tracer.last[name] = result
            return result

        wrapper.__wrapped__ = original
        targets = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is original and (mod, key) != (owner, attr):
                    targets.append((mod, key))
        for obj, key in targets:
            self._patched.append((obj, key, getattr(obj, key)))
            setattr(obj, key, wrapper)

    def restore(self) -> None:
        for obj, key, value in reversed(self._patched):
            setattr(obj, key, value)
        self._patched.clear()

    # -- reductions ------------------------------------------------------------
    # Only spans inside an operation count: warm-up and gate calls carry no
    # trace id.
    def _op_spans(self):
        return (s for s in self.spans if s["trace"] is not None and s["end"] is not None)

    def total(self, name: str) -> float:
        """Summed duration of spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self._op_spans() if s["name"] == name)

    def total_prefix(self, prefix: str) -> tuple[float, int]:
        """(seconds, calls) of spans whose name starts with ``prefix`` and
        that are not nested inside another such span."""
        secs, calls = 0.0, 0
        for s in self._op_spans():
            if not s["name"].startswith(prefix):
                continue
            if self._has_ancestor(s, prefix):
                continue
            secs += s["end"] - s["start"]
            calls += 1
        return secs, calls

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus the time their direct children
        cover (children of one span never overlap: one client thread)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self._op_spans():
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return sum(
            (s["end"] - s["start"]) - child_time[s["id"]]
            for s in self._op_spans() if s["name"] == name
        )

    def count(self, name: str) -> int:
        return sum(1 for s in self._op_spans() if s["name"] == name)

    def _has_ancestor(self, span: dict, prefix: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def summary(self) -> dict[str, tuple[int, float]]:
        """(calls, seconds) per span name, measured loop only."""
        out: dict[str, tuple[int, float]] = {}
        for s in self._op_spans():
            calls, secs = out.get(s["name"], (0, 0.0))
            out[s["name"]] = (calls + 1, secs + s["end"] - s["start"])
        return out

    def innermost_at(self, wall: float) -> str | None:
        """Name of the innermost operation span open at epoch time ``wall``."""
        best = None
        for s in self._op_spans():
            if s["wall_start"] <= wall <= s["wall_end"]:
                if best is None or s["wall_start"] >= best["wall_start"]:
                    best = s
        return best["name"] if best else None

    def dumps(self) -> str:
        """Every span and counter as one line of JSON."""
        return json.dumps({"spans": self.spans, "counters": self.counters})


# -- Spark event log ---------------------------------------------------------

_SITE = re.compile(r" at (\S+\.py):\d+")


def call_site_module(stage_name: str) -> str | None:
    """Package module named in a stage's PySpark call site (``count at
    /x/door2door_etl_spark/pipeline/ingestor.py:52`` -> ``pipeline.ingestor``),
    or None when the site is JVM-side or outside the package."""
    m = _SITE.search(stage_name)
    if not m:
        return None
    parts = Path(m.group(1)).with_suffix("").parts
    if PACKAGE not in parts:
        return None
    rest = parts[parts.index(PACKAGE) + 1:]
    return ".".join(rest) or None


def event_log_metrics(log_file: Path, window: tuple[float, float],
                      site_of) -> dict[str, float]:
    """Sum the task metrics of the stages submitted inside ``window`` (epoch
    seconds: the measured loop) in one application's event log.  Stage run
    time is also split by module: the package module named in the stage's
    PySpark call site, else ``site_of(submission epoch seconds)`` — the
    layer whose traced call was open when the stage was submitted (writes
    and adaptive-execution stages carry JVM call sites)."""
    lo, hi = window[0] * 1000, window[1] * 1000
    stage_module: dict[tuple[int, int], str] = {}
    tasks: dict[tuple[int, int], list[dict]] = defaultdict(list)
    with log_file.open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append(ev.get("Task Metrics") or {})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                submitted = info.get("Submission Time") or 0
                if lo <= submitted <= hi:
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_module[key] = (call_site_module(info.get("Stage Name", ""))
                                         or site_of(submitted / 1000.0))
    out: dict[str, float] = defaultdict(float)
    for key, module in stage_module.items():
        out["spark.stages"] += 1
        for m in tasks.get(key, []):
            run_s = m.get("Executor Run Time", 0) / 1000.0
            out["spark.executor_run_s"] += run_s
            out[f"spark.task_s.{module}"] += run_s
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            out["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            out["spark.shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    return dict(out)


# -- memory -------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Summed ``VmHWM`` (peak resident set) of ``pid`` and every live
    descendant: the harness, the JVM and the Python workers.  Workers that
    already exited are not counted; forked workers' shared pages count once
    per process."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
