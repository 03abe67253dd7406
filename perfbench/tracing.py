"""In-process tracing for the benchmark: spans around calls into the
program's public functions, counters wrapped around pyspark/py4j library
methods, and per-job Spark metrics read back from a local event log.

Nothing here edits the program: ``Tracer.wrap`` swaps a module attribute
for a recording wrapper inside the benchmark process only. Every caller
that looks the function up through its module (``S.commit_tables``,
``from ..dedup import exact_dedup`` inside a function body) reaches the
wrapper. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time
from dataclasses import dataclass, field


HOOK_LAYER = "trace"
HOOK_GROUP = "pb:trace:0"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0  # gateway round-trips inside the span
    info: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``active``; a disabled tracer only counts.

    Each span labels the Spark jobs it triggers with a job group
    ``pb:<phase>:<span id>`` so the event log attributes every job to
    the innermost span (and phase) that ran it."""

    def __init__(self, spark=None):
        self.spark = spark
        self.active = False
        self.phase = "setup"
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.py4j_calls = 0
        self.materialize: dict[str, list[float]] = {}  # phase -> durations
        self.on_return: dict[str, object] = {}  # span name -> hook(span, result)

    # -- spans ------------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group, False)

    def begin(self, name: str, layer: str, group: str | None = None) -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, layer, self.phase, parent, time.time())
        span.py4j = self.py4j_calls
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(group or f"pb:{self.phase}:{span.id}")
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        span.py4j = self.py4j_calls - span.py4j
        self.stack.pop()
        self._set_group(
            f"pb:{self.phase}:{self.stack[-1].id}" if self.stack else None
        )

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around a block; yields None while the tracer is off."""
        s = self.begin(name, layer) if self.active else None
        try:
            yield s
        finally:
            if s is not None:
                self.end(s)

    def wrap(self, module, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        fn = getattr(module, attr)
        label = name or attr
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            s = tracer.begin(label, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(s)
            hook = tracer.on_return.get(label)
            if hook is not None:
                # A hook's time, gateway calls and Spark jobs are the
                # tracer's, not the program's: it runs in a ``trace``
                # span, which hook_cost and the job group set apart.
                h = tracer.begin("hook:" + label, HOOK_LAYER, HOOK_GROUP)
                try:
                    hook(s, out)
                finally:
                    tracer.end(h)
            return out

        setattr(module, attr, wrapper)

    # -- library counters ---------------------------------------------------
    def count_py4j(self, client) -> None:
        cls = type(client)
        send = cls.send_command
        tracer = self

        def counted(self_, *args, **kwargs):
            tracer.py4j_calls += 1
            return send(self_, *args, **kwargs)

        cls.send_command = counted

    def count_materialize(self, frame_cls) -> None:
        """Count checkpoint/localCheckpoint/persist/cache calls and the
        time they take (an eager checkpoint runs its job inside)."""
        tracer = self
        for attr in ("checkpoint", "localCheckpoint", "persist", "cache"):
            fn = getattr(frame_cls, attr)

            def make(fn):
                @functools.wraps(fn)
                def timed(*args, **kwargs):
                    t0 = time.time()
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        tracer.materialize.setdefault(tracer.phase, []).append(
                            time.time() - t0
                        )

                return timed

            setattr(frame_cls, attr, make(fn))

    # -- reports ------------------------------------------------------------
    def phase_spans(self, phase: str) -> list[Span]:
        return [s for s in self.spans if s.phase == phase]

    def sum_span(self, phase: str, name: str, key: str | None = None) -> float:
        spans = [s for s in self.phase_spans(phase) if s.name == name]
        if key is None:
            return sum(s.end - s.start for s in spans)
        return sum(s.info.get(key, 0) for s in spans)

    def count_span(self, phase: str, name: str) -> int:
        return sum(1 for s in self.phase_spans(phase) if s.name == name)

    def hook_cost(self, phase: str) -> tuple[float, int]:
        """Seconds and gateway calls the on_return hooks took in a phase."""
        hooks = [s for s in self.phase_spans(phase) if s.layer == HOOK_LAYER]
        return sum(s.end - s.start for s in hooks), sum(s.py4j for s in hooks)

    def self_time_by_layer(self, phase: str) -> dict[str, float]:
        """A span's self time is its duration minus the union of its
        children's intervals; summed per layer."""
        spans = self.phase_spans(phase)
        kids: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
            )
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------- plan shape

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Z][A-Za-z]+)")


def plan_shape(df) -> dict[str, int]:
    """Node, exchange and scan counts of ``df``'s executed (initial,
    under AQE) physical plan, from its tree string."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    names = [m.group(1) for m in map(_NODE.match, tree.splitlines()) if m]
    return {
        "plan_nodes": len(names),
        "exchanges": sum(1 for n in names if n.endswith("Exchange")),
        "scans": sum(1 for n in names if "Scan" in n),
    }


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their job group) and per-task metrics from the
    uncompressed, non-rolling event log(s) in ``log_dir``."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev.get("Stage ID"),
                        "launch": info.get("Launch Time", 0),
                        "finish": info.get("Finish Time", 0),
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    for t in tasks:
        t["group"] = job_group.get(stage_job.get(t["stage"], -1), "")
    return {"job_group": job_group, "tasks": tasks}


def spark_phase_metrics(
    log: dict, phase: str, window: tuple[float, float], hook_s: float, cores: int
) -> dict:
    """Spark counters for one phase: jobs/stages/tasks whose job group
    carries the phase label, and the phase wall time during which no
    task of any job ran (the driver gap). ``hook_s``, the time the
    tracer's own hooks took inside the window, is not phase time."""
    prefix = f"pb:{phase}:"
    jobs = [j for j, g in log["job_group"].items() if g.startswith(prefix)]
    tasks = [t for t in log["tasks"] if t["group"].startswith(prefix)]
    wall = window[1] - window[0] - hook_s
    lo, hi = window[0] * 1000, window[1] * 1000
    busy = _union_length([
        (max(t["launch"], lo), min(t["finish"], hi))
        for t in log["tasks"] if t["group"] != HOOK_GROUP
    ]) / 1000
    task_s = sum(t["run_ms"] for t in tasks) / 1000
    mb = 1 / (1 << 20)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len({t["stage"] for t in tasks}),
        "spark.tasks": len(tasks),
        "spark.task_s": task_s,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
        "spark.slot_busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_gap_s": max(0.0, wall - busy),
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) * mb,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) * mb,
        "spark.spill_mb": sum(t["spill"] for t in tasks) * mb,
    }
