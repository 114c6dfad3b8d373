"""In-memory spans around the benchmark's calls into each layer, and the
fold of Spark's event log onto them.

A span is (name, start, end, parent, run id). Span names are
`<layer>.<what>`; the layer is the package module the call goes into.
Spans are kept in a list and written out once, when the run ends.

Every operation phase also tags its Spark jobs with a job group, so the
event log can be folded per phase. Jobs that carry another group (the
streaming engine sets its own) are assigned by submission time: the loop
is closed, so at most one phase is open at any moment.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PREFIX = "perfbench/"

#: physical-plan node names that cross the Python worker boundary (a
#: Python data source scans as `BatchScan <format name>`)
PYTHON_NODE_MARKERS = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "InPandas",
    "InArrow",
    "PythonUDTF",
    "BatchScan hiveberg",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        #: attributes stamped on every span opened from now on
        self.context: dict = {}

    def bind(self, sc) -> None:
        """Tag the jobs of grouped spans through this SparkContext."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.run_id, {**self.context, **attrs})
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if group is not None and self._sc is not None:
            sp.attrs["group"] = _GROUP_PREFIX + group
            self._sc.setJobGroup(sp.attrs["group"], name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if group is not None and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        direct children cover."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.seconds
        out: dict[str, float] = defaultdict(float)
        for i, sp in enumerate(self.spans):
            out[sp.name.split(".", 1)[0]] += max(0.0, sp.seconds - child[i])
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "parent": sp.parent,
                            "run_id": sp.run_id,
                            **sp.attrs,
                        }
                    )
                    + "\n"
                )


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_time_s: float = 0.0
    python_bytes: int = 0


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _metric_units(plan: dict, units: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        units[m["accumulatorId"]] = m.get("metricType", "")
    for ch in plan.get("children", []):
        _metric_units(ch, units)


def fold_event_log(log_dir: str, spans: list[Span]) -> dict[int, JobStats]:
    """Fold the event log onto the spans that set a job group; returns
    {index of the span in `spans`: stats of its jobs}."""
    phases = [(i, sp) for i, sp in enumerate(spans) if "group" in sp.attrs]
    by_group = {sp.attrs["group"]: i for i, sp in phases}
    windows = sorted((sp.start * 1000, sp.end * 1000, i) for i, sp in phases)

    def by_time(ms: float) -> int | None:
        for lo, hi, idx in windows:
            if lo <= ms <= hi:
                return idx
        return None

    stage_owner: dict[int, int] = {}
    units: dict[int, str] = {}
    out: dict[int, JobStats] = defaultdict(JobStats)
    python_names = {
        "time to run Python workers": "time",
        "data sent to Python workers": "bytes",
        "data returned from Python workers": "bytes",
    }
    for ev in _events(log_dir):
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _metric_units(ev.get("sparkPlanInfo", {}), units)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            owner = by_group.get(group)
            if owner is None:
                owner = by_time(ev.get("Submission Time", 0))
            if owner is None:
                continue
            out[owner].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = owner
        elif kind == "SparkListenerStageCompleted":
            owner = stage_owner.get(ev["Stage Info"]["Stage ID"])
            if owner is not None:
                out[owner].stages += 1
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev.get("Stage ID"))
            if owner is None:
                continue
            st = out[owner]
            st.tasks += 1
            tm = ev.get("Task Metrics") or {}
            st.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1e3
            st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                what = python_names.get(acc.get("Name"))
                upd = acc.get("Update")
                if what is None or not isinstance(upd, (int, float, str)):
                    continue
                try:
                    val = float(upd)
                except ValueError:
                    continue
                if what == "bytes":
                    st.python_bytes += int(val)
                else:
                    unit = units.get(acc.get("ID"), "timing")
                    st.python_time_s += val / (1e9 if unit == "nsTiming" else 1e3)
    return dict(out)
