"""Spans around the benchmark's calls into each engine layer, and the
per-layer roll-up that joins them with Spark task metrics.

A span records name, start, end, parent and run id, plus /proc CPU at
both ends. Spans stay in memory and are written out once, at the end of
the run. While a span is open its id is the Spark job group, so every
job it launches can be attributed to it from the session's event log
(enabled only in the traced session) after the session stops.
"""

from __future__ import annotations

import json
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

from harness import cpu_snapshot, median

#: layer names, after the engine modules they cover
LAYERS = (
    "session",
    "signatures",
    "bands",
    "pairs",
    "verify",
    "components",
    "incremental",
    "plaid",
    "ann",
    "forest_vote",
)
#: per-layer quantities every layer reports
LAYER_FIELDS = (
    "wall_s",
    "self_s",
    "jobs",
    "stages",
    "tasks",
    "cpu_s",
    "py_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    cpu0: float = 0.0
    cpu1: float = 0.0
    py0: float = 0.0
    py1: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval that child spans
    cover (overlapping children are counted once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.wall_s - covered


class Tracer:
    """Span recorder. Disabled, it records nothing and sets no job group,
    so the untraced path pays one branch per call site."""

    def __init__(self, run_id: str, enabled: bool, clock):
        self.run_id = run_id
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        cpu, py, _ = cpu_snapshot()
        sp = Span(
            id=f"{self.run_id}:{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=self.clock(),
            cpu0=cpu,
            py0=py,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            sp.cpu1, sp.py1, _ = cpu_snapshot()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def _app_logs(log_dir: Path) -> list[list[Path]]:
    """Event-log files per application, in order: a plain file, or a
    rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    apps = []
    for entry in sorted(log_dir.iterdir()) if log_dir.exists() else []:
        if entry.is_dir():
            parts = [p for p in entry.iterdir() if p.name.startswith("events_")]
            apps.append(sorted(parts, key=lambda p: int(p.name.split("_")[1])))
        else:
            apps.append([entry])
    return apps


def read_event_logs(log_dir: Path) -> dict[str, dict[str, int]]:
    """Per job group: jobs, stages and tasks run, shuffle bytes written
    and bytes spilled (memory + disk), from every event log in
    ``log_dir``. Skipped stages (reused shuffle output) are not counted."""
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for parts in _app_logs(log_dir):
        stage_group: dict[int, str] = {}
        for path in parts:
            with path.open() as f:
                for line in f:
                    _account(json.loads(line), stage_group, out)
    return {k: dict(v) for k, v in out.items()}


def _account(ev: dict, stage_group: dict[int, str], out) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if group is None:
            return
        out[group]["jobs"] += 1
        for sid in ev.get("Stage IDs", []):
            stage_group.setdefault(sid, group)
    elif kind == "SparkListenerStageCompleted":
        sid = ev["Stage Info"]["Stage ID"]
        if sid in stage_group:
            out[stage_group[sid]]["stages"] += 1
    elif kind == "SparkListenerTaskEnd":
        group = stage_group.get(ev.get("Stage ID"))
        if group is None:
            return
        m = ev.get("Task Metrics") or {}
        g = out[group]
        g["tasks"] += 1
        g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def layer_rollup(
    spans: list[Span], groups: dict[str, dict[str, int]], op_name: str
) -> dict[str, float]:
    """``<layer>.<field>`` medians over every traced operation (a span
    named ``op_name``). A layer's numbers in one operation sum its spans
    that are direct children of the operation, each with its whole
    subtree for jobs/stages/tasks/bytes; layers an operation does not
    reach read 0. The ``session`` layer is taken from spans of that name
    outside any operation (set-up)."""
    children = defaultdict(list)
    for sp in spans:
        children[sp.parent].append(sp)

    def subtree(sp: Span):
        yield sp
        for c in children[sp.id]:
            yield from subtree(c)

    def one(sp: Span) -> dict[str, float]:
        row = {
            "wall_s": sp.wall_s,
            "self_s": self_time(sp, children[sp.id]),
            "cpu_s": sp.cpu1 - sp.cpu0,
            "py_cpu_s": sp.py1 - sp.py0,
        }
        for f in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
            row[f] = sum(groups.get(s.id, {}).get(f, 0) for s in subtree(sp))
        return row

    per_layer: dict[str, list[dict[str, float]]] = defaultdict(list)
    ops = [sp for sp in spans if sp.name == op_name]
    for op in ops:
        acc: dict[str, dict[str, float]] = {}
        for c in children[op.id]:
            if c.name not in LAYERS:
                continue
            row = one(c)
            tot = acc.setdefault(c.name, dict.fromkeys(LAYER_FIELDS, 0.0))
            for f in LAYER_FIELDS:
                tot[f] += row[f]
        for layer in LAYERS:
            if layer != "session":
                per_layer[layer].append(acc.get(layer, dict.fromkeys(LAYER_FIELDS, 0.0)))
    per_layer["session"] = [one(sp) for sp in spans if sp.name == "session"]

    out = {}
    for layer in LAYERS:
        rows = per_layer.get(layer) or [dict.fromkeys(LAYER_FIELDS, 0.0)]
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = median([r[f] for r in rows])
    return out


def counts_median(spans: list[Span], op_name: str) -> dict[str, float]:
    """Medians over operations of the counts recorded on layer spans
    (``span.counts``), keyed ``<layer>.<count>``."""
    vals: dict[str, list[float]] = defaultdict(list)
    by_parent = defaultdict(list)
    for sp in spans:
        by_parent[sp.parent].append(sp)
    for op in (sp for sp in spans if sp.name == op_name):
        for c in by_parent[op.id]:
            for k, v in c.counts.items():
                vals[f"{c.name}.{k}"].append(float(v))
    return {k: median(v) for k, v in vals.items()}
