"""Spans around calls into the engine's layers, and per-layer numbers from
the Spark event log.

The spans are recorded from the benchmark's side of the call boundary: the
benchmark wraps its own calls (``incremental_update``, ``build_ivf_index``,
``ivf_index_topk``, ``get_spark``) and, while a traced operation runs,
patches the two names the engine resolves at call time:

* ``CheckpointManager.get_or_compute``: one span per pipeline stage, named by
  the stage (``pipeline.run_pipeline`` and ``incremental_update`` both call
  it through the class);
* ``cluster.connected_components``: ``pipeline`` and ``incremental`` call it
  through the module attribute.

Every span sets the Spark job group to its own id on entry and restores the
parent's group on exit, so the event log attributes each Spark job (and its
tasks' run time, GC, shuffle and spill) to the innermost open span.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# pipeline stage (with or without the fold's ``_delta`` suffix) -> layer
STAGE_LAYER = {
    "ingest": "ingest",
    "embed": "vectors",
    "block_index": "blocking",
    "block_sizes": "blocking",
    "blocks": "blocking",
    "pairs": "pairs",
    "clusters": "cluster",
}
STAGE_LAYERS = ("ingest", "vectors", "blocking", "pairs", "cluster",
                "incremental", "ann_index")
STAGE_METRICS = ("wall_s", "self_s", "task_s", "gc_s", "jobs", "tasks",
                 "task_skew", "shuffle_write_bytes", "spill_bytes", "rows_out")


def stage_layer(stage: str) -> str:
    return STAGE_LAYER[stage.removesuffix("_delta")]


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: Span | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced operations: no spans, no patches, no job groups."""

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()

    def patched(self):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # set once the session exists (get_spark is a span)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"perfbench-{len(self.spans)}", name, layer, parent,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def patched(self):
        from mel_spark.operators import cluster
        from mel_spark.sources.checkpoint import CheckpointManager

        orig_goc = CheckpointManager.get_or_compute
        orig_cc = cluster.connected_components
        tracer = self

        def get_or_compute(mgr, stage, *args, **kwargs):
            with tracer.span(stage, stage_layer(stage)) as sp:
                sp.attrs["marker"] = mgr._marker(stage)
                return orig_goc(mgr, stage, *args, **kwargs)

        def connected_components(*args, **kwargs):
            with tracer.span("connected_components", "cluster") as sp:
                sp.attrs["cc_dir"] = kwargs.get("checkpoint_dir")
                return orig_cc(*args, **kwargs)

        CheckpointManager.get_or_compute = get_or_compute
        cluster.connected_components = connected_components
        try:
            yield
        finally:
            CheckpointManager.get_or_compute = orig_goc
            cluster.connected_components = orig_cc


def _read_json(path: str | None) -> dict:
    if not path or not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def span_counts(spans: list[Span]) -> dict[str, float]:
    """Counts the engine already persisted for the traced stages, read after
    the operation: checkpoint marker row counts and the CC round state."""
    rows: dict[str, float] = {}
    rounds = 0
    for sp in spans:
        if "marker" in sp.attrs:
            sp.attrs["rows"] = _read_json(sp.attrs["marker"]).get("rows", 0)
            rows[sp.name.removesuffix("_delta")] = sp.attrs["rows"]
        if sp.attrs.get("cc_dir"):
            state = _read_json(os.path.join(sp.attrs["cc_dir"], "_CC_STATE.json"))
            rounds += state.get("iteration", -1) + 1
    return {"rows": rows, "rounds": rounds}


# ---------------------------------------------------------------- event log

def _iter_events(evlog_dir: str):
    """Events of the (uncompressed, rolling) event log under ``evlog_dir``:
    ``eventlog_v2_<app>/events_<n>_<app>`` files, in order."""
    for root, _, names in sorted(os.walk(evlog_dir)):
        for name in sorted(n for n in names if n.startswith("events_")):
            with open(os.path.join(root, name), encoding="utf-8") as f:
                for line in f:
                    yield json.loads(line)


def group_metrics(evlog_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, task run time, GC, shuffle write, spill,
    bytes read by scans, and each stage's task run times (for skew). Same
    event fields as tools/evlog_stages.py, keyed by job group instead of
    stage."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "task_ms": 0, "gc_ms": 0,
            "shuffle_write": 0, "spill": 0, "bytes_read": 0, "stage_tasks": {},
        })

    for ev in _iter_events(evlog_dir):
        typ = ev.get("Event")
        if typ == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                acc(group)["jobs"] += 1
        elif typ == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif typ == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            a = acc(group)
            run = m.get("Executor Run Time", 0)
            a["tasks"] += 1
            a["task_ms"] += run
            a["gc_ms"] += m.get("JVM GC Time", 0)
            a["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            a["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            a["stage_tasks"].setdefault(ev["Stage ID"], []).append(run)
    return out


def op_layers(spans: list[Span], wall: float, groups: dict[str, dict]) -> dict[str, float]:
    """Per-layer metrics of ONE traced operation whose spans are ``spans``
    and whose timed region lasted ``wall`` seconds.

    A span's self time is its duration minus its children's; a layer's wall
    is the summed duration of its outermost spans. Root spans cover part of
    the operation; the rest is reported as unattributed, so the layers' self
    times plus ``trace.unattributed_s`` add up to ``wall``."""
    child_dur: dict[str, float] = {}
    for sp in spans:
        if sp.parent is not None:
            child_dur[sp.parent.id] = child_dur.get(sp.parent.id, 0.0) + sp.dur
    per: dict[str, dict] = {layer: {"wall_s": 0.0, "self_s": 0.0, "task_s": 0.0,
                                    "gc_s": 0.0, "jobs": 0, "tasks": 0,
                                    "shuffle_write_bytes": 0, "spill_bytes": 0,
                                    "rows_out": 0, "_max": 0, "_med": 0}
                            for layer in STAGE_LAYERS}
    bytes_read = 0
    for sp in spans:
        L = per[sp.layer]
        if sp.parent is None or sp.parent.layer != sp.layer:
            L["wall_s"] += sp.dur
        L["self_s"] += sp.dur - child_dur.get(sp.id, 0.0)
        L["rows_out"] += sp.attrs.get("rows", 0)
        g = groups.get(sp.id)
        if g is None:
            continue
        L["task_s"] += g["task_ms"] / 1000.0
        L["gc_s"] += g["gc_ms"] / 1000.0
        L["jobs"] += g["jobs"]
        L["tasks"] += g["tasks"]
        L["shuffle_write_bytes"] += g["shuffle_write"]
        L["spill_bytes"] += g["spill"]
        bytes_read += g["bytes_read"]
        for runs in g["stage_tasks"].values():
            L["_max"] += max(runs)
            L["_med"] += statistics.median(runs)
    out: dict[str, float] = {}
    for layer, L in per.items():
        # task skew: summed per-stage max task time over summed per-stage
        # median task time (1.0 = no straggler on any stage)
        L["task_skew"] = L["_max"] / L["_med"] if L["_med"] else 0.0
        for k in STAGE_METRICS:
            out[f"{layer}.{k}"] = L[k]
    roots = sum(sp.dur for sp in spans if sp.parent is None)
    out["trace.unattributed_s"] = wall - roots
    out["checkpoint.bytes_read"] = bytes_read
    return out
