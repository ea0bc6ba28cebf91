"""Layer tracing from the benchmark's own files.

The program is not touched. In a traced run :class:`Tracer` wraps the
public functions of each layer (``LAYERS``) where they are looked up, so
every call records a span (name, layer, start, end, parent, run id) and
tags the Spark jobs it starts with ``setJobDescription("layer:<name>")``.
Spark's event log then attributes each job's task metrics to a layer
(:func:`job_metrics`), and :func:`layer_table` joins both into per-layer
numbers.

Attribution rule for lazy DataFrames. A layer owns the jobs that run while
its function is on the stack. When a layer function called from plan code
(``run_dedup``, ``run_curation``, the benchmark's own loop) returns an
unevaluated DataFrame, plan code evaluates it right away — a checkpoint or
a stage write — so the layer keeps ownership, as a ``:lazy`` span, until
the next layer boundary. ``StageStore.write`` evaluates the pending plan
inside its parquet write: that write is a child span of the layer that
produced the plan, and the rest of the stage write (re-read, lineage and
manifest) is ``storage``. Inside another layer the caller owns what its
callees return. Whatever no layer owns is the root span's self time,
reported as ``trace.unattributed_s``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time

from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

ROOT = "plan"

# layer → (module, function) pairs; the layers are the package's modules
LAYERS = {
    "codegen": [("iscc_specs_spark.operators.codegen", "compute_codes")],
    "lsh": [
        ("iscc_specs_spark.operators.lsh", "rep_codes"),
        ("iscc_specs_spark.operators.lsh", "band_rows_table"),
        ("iscc_specs_spark.operators.lsh", "dup_pairs"),
        ("iscc_specs_spark.operators.lsh", "minhash_bands"),
        ("iscc_specs_spark.operators.lsh", "simhash_bands"),
        ("iscc_specs_spark.plans.dedup", "lsh_metrics"),
    ],
    "cluster": [("iscc_specs_spark.operators.cluster", "assign_clusters")],
    "canonical": [("iscc_specs_spark.plans.dedup", "canonical_pick")],
    "ingest": [("iscc_specs_spark.streaming.ingest", "process_dedup_batch")],
    "substring": [
        ("iscc_specs_spark.operators.substring", "substring_cut"),
        ("iscc_specs_spark.operators.substring", "substring_matches"),
        ("iscc_specs_spark.operators.substring", "anchor_table"),
    ],
    "semantic": [
        ("iscc_specs_spark.operators.semantic", "featurize_text"),
        ("iscc_specs_spark.operators.semantic", "semantic_dedup"),
        ("iscc_specs_spark.operators.ann", "ivf_build"),
    ],
    "textstats": [
        ("iscc_specs_spark.operators.textstats", "quality_scores"),
        ("iscc_specs_spark.operators.textstats", "token_counts"),
    ],
}
STORAGE = "storage"
SPARK_LAYERS = [*LAYERS, STORAGE]

# layer → the end-to-end metric and workload a change to it should move
# (recorded before measuring; a prediction, not a measurement)
LAYER_TARGETS = {
    "kernel": "docs_per_s on stream_ingest; barely curate_rewrite",
    "codegen": "docs_per_s on both workloads, batch_s.p50 on stream_ingest",
    "lsh": "docs_per_s and batch_s.p90 on stream_ingest",
    "cluster": "curate_s on stream_ingest; docs_per_s on curate_rewrite",
    "canonical": "curate_s on stream_ingest; docs_per_s on curate_rewrite",
    "storage": "docs_per_s on curate_rewrite (14 stage writes)",
    "ingest": "batch_s.p90 and docs_per_s on stream_ingest",
    "substring": "docs_per_s and curate_s on curate_rewrite only",
    "semantic": "docs_per_s and curate_s on curate_rewrite only",
    "textstats": "docs_per_s and curate_s on curate_rewrite only",
}


def _is_lazy(result) -> bool:
    if isinstance(result, DataFrame):
        return True
    return isinstance(result, tuple) and any(isinstance(r, DataFrame) for r in result)


class Tracer:
    """Span recorder; spans stay in memory until the run ends."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.deferred: dict | None = None
        self.producer: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    # --- spans -----------------------------------------------------------
    def _open(self, layer: str, name: str, now: float) -> dict:
        span = {
            "id": len(self.spans), "name": name, "layer": layer, "start": now,
            "end": None, "parent": self.stack[-1]["id"] if self.stack else None,
            "run": self.run_id,
        }
        self.spans.append(span)
        return span

    def _boundary(self) -> float:
        now = time.perf_counter()
        if self.deferred is not None:
            self.deferred["end"] = now
            self.deferred = None
        return now

    def _describe(self, layer: str) -> None:
        self.sc.setJobDescription(f"layer:{layer}")

    def enter(self, layer: str, name: str) -> dict:
        span = self._open(layer, name, self._boundary())
        self.stack.append(span)
        self._describe(layer)
        return span

    def exit(self, span: dict, result=None) -> None:
        now = self._boundary()
        self.stack.pop()
        span["end"] = now
        at_plan_level = len(self.stack) == 1
        if at_plan_level and span["layer"] != STORAGE and _is_lazy(result):
            self.producer = span["layer"]
            self.deferred = self._open(span["layer"], span["name"] + ":lazy", now)
            self._describe(span["layer"])
        elif self.stack:
            self._describe(self.stack[-1]["layer"])

    def root(self, name: str) -> "_Root":
        return _Root(self, name)

    # --- wrappers --------------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.enter(layer, fn.__qualname__)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer.exit(span, result)

        return traced

    def _wrap_writer(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(writer, *args, **kwargs):
            top = tracer.stack[-1] if tracer.stack else None
            if top is None or top["layer"] != STORAGE:
                return fn(writer, *args, **kwargs)
            layer = tracer.producer or STORAGE
            span = tracer.enter(layer, f"{layer}:materialize")
            try:
                return fn(writer, *args, **kwargs)
            finally:
                tracer.exit(span)

        return traced

    def _patch(self, owner, name: str, new) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self) -> None:
        """Wrap every layer function at every place the package binds it
        (``from x import f`` copies the binding into the importer)."""
        for layer, funcs in LAYERS.items():
            for mod_name, fn_name in funcs:
                orig = getattr(importlib.import_module(mod_name), fn_name)
                wrapped = self._wrap(orig, layer)
                for mod in list(sys.modules.values()):
                    if getattr(mod, "__name__", "").startswith("iscc_specs_spark"):
                        for attr, val in list(vars(mod).items()):
                            if val is orig:
                                self._patch(mod, attr, wrapped)
        from iscc_specs_spark.sources.storage import StageStore

        self._patch(StageStore, "write", self._wrap(StageStore.write, STORAGE))
        self._patch(DataFrameWriter, "parquet", self._wrap_writer(DataFrameWriter.parquet))
        self.sc.setLocalProperty("perfbench.run", self.run_id)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()
        self.sc.setLocalProperty("perfbench.run", None)
        self.sc.setJobDescription(None)


class _Root:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.span = self.tracer.enter(ROOT, self.name)
        return self.span

    def __exit__(self, *exc):
        self.tracer.exit(self.span)
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part covered by its child spans."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def job_metrics(event_log: str, run_id: str) -> dict[str, dict]:
    """Aggregate ``SparkListenerTaskEnd`` metrics of the jobs tagged with
    ``run_id``, by the layer in their job description."""
    stage_layer: dict[int, str] = {}
    per: dict[str, dict] = {}

    def bucket(layer: str) -> dict:
        return per.setdefault(layer, {
            "jobs": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        })

    with open(event_log) as f:
        for line in f:
            if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
                continue
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if props.get("perfbench.run") != run_id:
                    continue
                desc = props.get("spark.job.description") or ""
                layer = desc[len("layer:"):] if desc.startswith("layer:") else ROOT
                bucket(layer)["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_layer.setdefault(sid, layer)
            elif e["Event"] == "SparkListenerTaskEnd":
                layer = stage_layer.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if layer is None or not tm:
                    continue
                b = bucket(layer)
                b["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                b["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                b["shuffle_write_mb"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                b["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    return per


def layer_table(spans: list[dict], jobs: dict[str, dict], cores: int) -> dict[str, dict]:
    """Per layer: self wall time, task totals, jobs, and idle time (wall
    minus task time spread over the cores — the barrier and scheduler
    floor). The root row is the unattributed plan time."""
    st = self_times(spans)
    table: dict[str, dict] = {}
    for layer in [ROOT, *SPARK_LAYERS]:
        wall = sum(st[s["id"]] for s in spans if s["layer"] == layer)
        j = jobs.get(layer, {})
        run_s = j.get("task_run_s", 0.0)
        table[layer] = {
            "wall_s": wall,
            "task_cpu_s": j.get("task_cpu_s", 0.0),
            "task_run_s": run_s,
            "shuffle_write_mb": j.get("shuffle_write_mb", 0.0),
            "spill_mb": j.get("spill_mb", 0.0),
            "jobs": j.get("jobs", 0),
            "idle_s": wall - run_s / cores,
        }
    return table
