"""Spans and counters at the program's layer boundaries.

Spans are recorded from the benchmark's side of each public call; no
code inside the program is touched.  The counters come from library
boundaries: py4j round-trips from a wrapper around the py4j client's
``send_command``, plan shape from the captured ``DataFrame.explain()``
text, and jobs/stages/tasks from ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: the layers (the program's modules); a span name starts with its layer
LAYERS = ("parser", "plans", "engine", "codegen", "spark", "dedup")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int


@dataclass
class Tracer:
    """Spans kept in memory; ``dump`` writes them out once, at exit."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[int, dict[str, float]] = field(default_factory=lambda: defaultdict(dict))
    request: int = -1
    _stack: list[int] = field(default_factory=list)
    py4j: "Py4JCounter | None" = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        calls0 = self.py4j.calls if self.py4j else 0
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()
            if self.py4j and name == "engine.execute":
                self.count("engine.py4j_calls", self.py4j.calls - calls0)

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            c = self.counts[self.request]
            c[key] = c.get(key, 0) + value

    # ------------------------------------------------------------ report

    def self_times(self) -> dict[int, dict[str, float]]:
        """request -> layer -> self seconds (span minus its children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            out[s.request][s.name.split(".")[0]] += s.end - s.start - child[i]
        return out

    def span_seconds(self) -> dict[int, dict[str, float]]:
        """request -> span name -> total seconds."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s.request][s.name] += s.end - s.start
        return out

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
            for req, c in sorted(self.counts.items()):
                fh.write(json.dumps({"request": req, "counts": c}) + "\n")


class Py4JCounter:
    """Counts py4j client round-trips by wrapping ``send_command`` on the
    client class (the pinned-thread ``JavaClient`` inherits it)."""

    def __init__(self):
        from py4j.java_gateway import GatewayClient

        self.calls = 0
        self._cls = GatewayClient
        self._orig = GatewayClient.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            counter.calls += 1
            return counter._orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


# ------------------------------------------------------------ plan shape

_OP_RE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")


def explain_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def plan_counts(text: str) -> dict[str, int]:
    """Operator, shuffle-Exchange and Window counts of a physical plan as
    ``DataFrame.explain()`` prints it."""
    ops = exchanges = windows = 0
    for line in text.splitlines():
        if not line.strip() or line.startswith("=="):
            continue
        m = _OP_RE.match(line)
        if not m:
            continue
        name = m.group(1)
        ops += 1
        exchanges += name == "Exchange"
        windows += name == "Window"
    return {"spark.physical_ops": ops, "spark.exchanges": exchanges,
            "spark.windows": windows}


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, tasks and failed tasks of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is None or info.numCompletedTasks == 0:
            continue
        ran += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.stages": ran,
            "spark.tasks": tasks, "spark.failed_tasks": failed}
