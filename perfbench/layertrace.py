"""Outside-in layer tracing for the contract-engine benchmark.

The engine is not modified. Instead each layer's entry point is rebound
from here (module attribute or class attribute) to a wrapper that, on
entry, records the time and sets ``spark.job.description`` to the layer
name. The description is deliberately left set after the wrapped call
returns: several entry points return a lazy DataFrame whose job fires in
the caller (``fused_vocab_miss_agg`` is collected by the engine after it
returns), and those jobs belong to the layer that built them.

So one traced iteration is cut into *epochs*: an epoch starts when a layer
is entered and ends when the next layer is entered or the iteration ends.
A layer's ``wall_s`` is the time of its epochs, its ``driver_s`` is that
time minus the time covered by its own Spark jobs, and everything else is
read from Spark's JSON event log, where every job and stage carries the
description that was set when it was submitted.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from typing import Dict, List, Optional, Sequence, Tuple

ITERATION_PROPERTY = "perfbench.iteration"
DESCRIPTION_PROPERTY = "spark.job.description"

# Layer name -> entry points, as (module path, attribute path). The names
# are the engine's own modules; ``checkpoint.discover`` is entered through
# ``validate_resumable``, whose first action is the partition-discovery scan.
LAYERS: Dict[str, Tuple[Tuple[str, str], ...]] = {
    "compiler": (("data_contract_engine_spark.engine", "compile_contract"),),
    "sinks": (("data_contract_engine_spark.sources.sinks", "write_violations"),),
    "operators.uniqueness": (
        ("data_contract_engine_spark.operators.uniqueness", "duplicate_report"),
        ("data_contract_engine_spark.operators.uniqueness",
         "multi_duplicate_reports"),
    ),
    "operators.referential": (
        ("data_contract_engine_spark.operators.referential",
         "fused_vocab_miss_agg"),
    ),
    "operators.drift": (
        ("data_contract_engine_spark.operators.drift", "score_histograms_pandas"),
    ),
    "engine.report": (
        ("data_contract_engine_spark.engine", "ValidationRun.report"),
    ),
    "checkpoint.discover": (
        ("data_contract_engine_spark.checkpoint", "validate_resumable"),
    ),
    "checkpoint.done_partitions": (
        ("data_contract_engine_spark.checkpoint",
         "CheckpointStore.done_partitions"),
    ),
    "checkpoint.write_done": (
        ("data_contract_engine_spark.checkpoint", "CheckpointStore.write_done"),
    ),
}

METRICS: Dict[str, str] = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_rows": "count",
    "output_rows": "count",
    "output_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
}

# label of the time inside an iteration before any layer is entered
OUTSIDE = "iteration"


def _resolve(module_path: str, attr_path: str):
    owner = importlib.import_module(module_path)
    parts = attr_path.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


class LayerTracer:
    """Rebinds the entry points in :data:`LAYERS` while installed and
    records epoch boundaries per traced iteration."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.epochs: List[Tuple[int, str, float]] = []  # (iteration, layer, t)
        self.windows: Dict[int, Tuple[float, float]] = {}
        self.calls: Dict[str, int] = {}
        self._saved: List[Tuple[object, str, object]] = []
        self._iteration: Optional[int] = None

    def _set_layer(self, layer: str) -> None:
        self.sc.setLocalProperty(DESCRIPTION_PROPERTY, layer)
        if self._iteration is not None:
            self.epochs.append((self._iteration, layer, time.time()))

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tracer.calls[layer] = tracer.calls.get(layer, 0) + 1
            tracer._set_layer(layer)
            return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for layer, entries in LAYERS.items():
            for module_path, attr_path in entries:
                owner, name = _resolve(module_path, attr_path)
                original = owner.__dict__[name]
                self._saved.append((owner, name, original))
                setattr(owner, name, self._wrap(layer, original))

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._saved):
            setattr(owner, name, original)
        self._saved.clear()
        self.sc.setLocalProperty(DESCRIPTION_PROPERTY, None)
        self.sc.setLocalProperty(ITERATION_PROPERTY, None)

    def begin(self, iteration: int) -> None:
        self._iteration = iteration
        self.sc.setLocalProperty(ITERATION_PROPERTY, str(iteration))
        self.windows[iteration] = (time.time(), 0.0)
        self._set_layer(OUTSIDE)

    def end(self) -> None:
        it = self._iteration
        self.windows[it] = (self.windows[it][0], time.time())
        self._iteration = None
        self.sc.setLocalProperty(ITERATION_PROPERTY, None)
        self.sc.setLocalProperty(DESCRIPTION_PROPERTY, None)

    def epoch_intervals(
        self, iterations: Sequence[int]
    ) -> Dict[str, List[Tuple[float, float]]]:
        """layer -> [(start, end)] epochs within the given iterations."""
        out: Dict[str, List[Tuple[float, float]]] = {}
        for it in iterations:
            marks = [(layer, t) for i, layer, t in self.epochs if i == it]
            end = self.windows[it][1]
            for k, (layer, t) in enumerate(marks):
                t_next = marks[k + 1][1] if k + 1 < len(marks) else end
                out.setdefault(layer, []).append((t, t_next))
        return out


def _union_within(
    intervals: List[Tuple[float, float]], windows: List[Tuple[float, float]]
) -> float:
    """Length of the union of ``intervals`` clipped to ``windows``."""
    clipped = []
    for a, b in intervals:
        for wa, wb in windows:
            lo, hi = max(a, wa), min(b, wb)
            if hi > lo:
                clipped.append((lo, hi))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(path: str, iterations: Sequence[int]):
    """Per-layer job/stage/task totals for the given traced iterations.

    Returns ``(per_layer, job_intervals)``: per_layer maps layer -> metric
    totals from task metrics; job_intervals maps layer -> [(start, end)]
    wall intervals of its jobs (seconds since the epoch)."""
    wanted = {str(i) for i in iterations}
    stage_layer: Dict[Tuple[int, int], str] = {}
    job_layer: Dict[int, str] = {}
    job_start: Dict[int, float] = {}
    intervals: Dict[str, List[Tuple[float, float]]] = {}
    totals: Dict[str, Dict[str, float]] = {}

    def bucket(layer: str) -> Dict[str, float]:
        return totals.setdefault(layer, {m: 0.0 for m in METRICS})

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get(ITERATION_PROPERTY) not in wanted:
                    continue
                layer = props.get(DESCRIPTION_PROPERTY) or OUTSIDE
                job_layer[ev["Job ID"]] = layer
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                bucket(layer)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_layer:
                    intervals.setdefault(job_layer[jid], []).append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                if props.get(ITERATION_PROPERTY) not in wanted:
                    continue
                info = ev["Stage Info"]
                stage_layer[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    props.get(DESCRIPTION_PROPERTY) or OUTSIDE
                )
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                tm = ev.get("Task Metrics")
                if layer is None or not tm:
                    continue
                b = bucket(layer)
                b["tasks"] += 1
                b["executor_run_s"] += tm["Executor Run Time"] / 1e3
                b["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                b["gc_s"] += tm["JVM GC Time"] / 1e3
                b["input_rows"] += tm["Input Metrics"]["Records Read"]
                b["output_rows"] += tm["Output Metrics"]["Records Written"]
                b["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
                b["shuffle_write_bytes"] += (
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                )
                sr = tm["Shuffle Read Metrics"]
                b["shuffle_read_bytes"] += (
                    sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                )
                b["spill_bytes"] += tm["Disk Bytes Spilled"]
    return totals, intervals


def layer_metrics(tracer: LayerTracer, event_log: str, iterations: Sequence[int]):
    """Per-layer metrics averaged per traced iteration.

    Returns ``(flat, detail)``: ``flat`` maps ``"<layer>.<metric>"`` to a
    value for every layer in :data:`LAYERS` (zeros for a layer the workload
    never enters); ``detail`` maps each layer, and :data:`OUTSIDE` for time
    before the first layer entry, to its metric dict."""
    totals, job_iv = read_event_log(event_log, iterations)
    epochs = tracer.epoch_intervals(iterations)
    n = max(len(iterations), 1)
    detail: Dict[str, Dict[str, float]] = {}
    for layer in list(LAYERS) + [OUTSIDE]:
        m = dict(totals.get(layer) or {k: 0.0 for k in METRICS})
        wins = epochs.get(layer, [])
        m["wall_s"] = sum(b - a for a, b in wins)
        m["driver_s"] = max(m["wall_s"] - _union_within(job_iv.get(layer, []), wins), 0.0)
        detail[layer] = {k: v / n for k, v in m.items()}
    flat = {
        f"{layer}.{k}": detail[layer][k] for layer in LAYERS for k in METRICS
    }
    return flat, detail
