"""Layer spans for the traced benchmark run, and the Spark event-log split.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
public function or method with a wrapper that opens a span around the
call. While a span is open, Spark work is tagged with the job group
``<op>/<layer>/...``, so the event log can attribute jobs, stages and tasks to
the operation and layer that launched them. Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Any, Callable, Iterator

OP_LAYER = "op"
_GROUP_KEY = "spark.jobGroup.id"
_EXEC_KEY = "spark.sql.execution.id"
_MISSING = object()


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder with Spark job-group tagging.

    ``sc`` is the SparkContext to tag; ``None`` records spans only.
    """

    def __init__(self, sc: Any = None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, time.perf_counter(), 0.0, parent, self.op)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        prev = self._set_group(self._group()) if self.op else _MISSING
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if prev is not _MISSING:
                self._restore_group(prev)

    def _group(self) -> str:
        """``<op>/<layer>/<layer>...``: the layers of the open spans,
        outermost first, so a job counts for every layer it ran under."""
        layers: list[str] = []
        for i in self._stack:
            if not layers or layers[-1] != self.spans[i].layer:
                layers.append(self.spans[i].layer)
        return "/".join([self.op, *layers])

    def parent_name(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]].name if self._stack else None

    def _set_group(self, group: str) -> Any:
        if self.sc is None:
            return _MISSING
        prev = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setJobGroup(group, group)
        return prev

    def _restore_group(self, prev: str | None) -> None:
        if prev is None:
            self.sc.setLocalProperty(_GROUP_KEY, None)
        else:
            self.sc.setJobGroup(prev, prev)

    # ------------------------------------------------------------ wrapping

    def wrap(
        self,
        owner: Any,
        attr: str,
        layer: str,
        metric: str,
        on_result: Callable[["Tracer", tuple, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span named
        ``metric`` in ``layer`` around each call.

        ``on_result(tracer, args, result)`` runs inside the span after an
        outermost call returns (not for a call nested in a span of the
        same metric); use it to record counts at the same boundary.
        """
        own = vars(owner).get(attr, _MISSING)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            outer = self.parent_name() != metric
            with self.span(layer, metric):
                out = orig(*args, **kwargs)
                if on_result is not None and outer:
                    on_result(self, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, own))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, own = self._undo.pop()
            if own is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


# ------------------------------------------------------------ self time


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover.

    Children of one parent never overlap here (one client thread), so the
    covered part is the sum of the children's durations, clipped to the
    parent's interval.
    """
    out = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            out[s.parent] -= max(0.0, min(s.end, p.end) - max(s.start, p.start))
    return out


def layer_split(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per operation: self time per layer, plus ``wall`` (the op span).

    The op span's own self time is the unattributed remainder, reported
    under ``OP_LAYER``. By construction the layers' self times sum to
    ``wall``; ``reconcile`` checks that.
    """
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, t in zip(spans, selfs):
        if s.op is None:
            continue
        out[s.op][s.layer] += t
        if s.layer == OP_LAYER and s.parent is None:
            out[s.op]["wall"] += s.end - s.start
    return {op: dict(v) for op, v in out.items()}


def reconcile(split: dict[str, dict[str, float]], tol: float = 1e-6) -> list[str]:
    """Operations whose self times plus remainder do not add up to wall."""
    bad = []
    for op, layers in split.items():
        total = sum(v for k, v in layers.items() if k != "wall")
        if abs(total - layers.get("wall", 0.0)) > tol * max(1.0, total):
            bad.append(f"{op}: self-time sum {total:.6f} != wall {layers.get('wall')}")
    return bad


def inclusive_by_name(spans: list[Span]) -> dict[str, float]:
    """Total time per span name over all ops, counting a span nested in
    one of the same name once."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.op is None:
            continue
        if s.parent is not None and spans[s.parent].name == s.name:
            continue
        out[s.name] += s.end - s.start
    return dict(out)


# ---------------------------------------------------------- event log


def _span_union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_split(event_log_dir: Path) -> dict[str, dict[str, float]]:
    """Event-log totals per operation, attributed by the ``<op>/<layers>``
    job group the tracer set.

    Per op: jobs, stages, tasks, failed_tasks, task_run_s, task_cpu_s,
    gc_s, input_bytes, shuffle_write_bytes, shuffle_read_bytes,
    spill_bytes, output_bytes, job_span_s, and ``jobs.<layer>``.

    ``input_bytes`` is the file scans' "size of files read" SQL metric:
    the bytes of every file a scan opened, counted once per scan, so it
    divided by the source files' size is how often the sources were
    scanned. (The tasks' own bytesRead misses the vectored parquet reads.)
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    scan_ids: set[int] = set()
    scan_updates: list[tuple[int, int, float]] = []
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(p for p in event_log_dir.iterdir() if p.is_file()):
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "").rsplit(".", 1)[-1]
                if kind in ("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _scan_metric_ids(ev["sparkPlanInfo"], scan_ids)
                elif kind == "SparkListenerDriverAccumUpdates":
                    scan_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get(_GROUP_KEY)
                    if not group or "/" not in group:
                        continue
                    if props.get(_EXEC_KEY) is not None:
                        exec_group.setdefault(int(props[_EXEC_KEY]), group)
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    op, *layers = group.split("/")
                    out[op]["jobs"] += 1
                    for layer in set(layers):
                        out[op][f"jobs.{layer}"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        op = job_group[jid].split("/", 1)[0]
                        intervals[op].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(_GROUP_KEY)
                    if group and "/" in group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        out[group.split("/", 1)[0]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group:
                        _add_task(out[group.split("/", 1)[0]], ev)
    for eid, acc, value in scan_updates:
        if acc in scan_ids and eid in exec_group:
            out[exec_group[eid].split("/", 1)[0]]["input_bytes"] += value
    for op, iv in intervals.items():
        out[op]["job_span_s"] = _span_union(iv)
    return {op: dict(v) for op, v in out.items()}


def _scan_metric_ids(plan: dict, ids: set[int]) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == "size of files read":
            ids.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _scan_metric_ids(child, ids)


def _add_task(acc: dict[str, float], ev: dict) -> None:
    acc["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
