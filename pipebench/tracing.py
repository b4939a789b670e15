"""Per-layer tracing for the traced run.

Spans are opened around calls into each layer's public functions by
replacing the module attributes the program looks up at call time (for
example ``pipeline.read_history``). A span records wall clock and sets
the Spark job group to its layer name, so the event log (enabled only in
the traced run) attributes every job and its task metrics to a layer.
Jobs that run outside any span belong to ``pipeline``; jobs under a
streaming query's own group (its run id) belong to ``streaming.ingest``.
A layer's self time is its spans' wall clock minus the part covered by
child spans, so the self times of all layers add up to the root spans.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import pandas as pd

GROUP = "spark.jobGroup.id"

LAYERS = [
    "sources.history",
    "plans.dims",
    "sources.enrichment",
    "plans.facts",
    "pipeline",
    "plans.marts",
    "streaming.ingest",
    "operators.writer",
]
COMMON = [
    "self_s", "spark_jobs", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_bytes", "spill_bytes", "rows_out",
]  # fmt: skip

#: (module path, attribute, layer) of every wrapped public function.
TARGETS = [
    ("spotify_streaming_etl_pipeline_spark.pipeline", "run", "pipeline"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "read_history", "sources.history"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "delta_filter", "sources.history"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "max_loaded_ts", "sources.history"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "fetch_in_batches", "sources.enrichment"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "enrich_partitions", "sources.enrichment"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "build_fact_tracks", "plans.facts"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "build_fact_podcasts", "plans.facts"),
    ("spotify_streaming_etl_pipeline_spark.pipeline", "write_fact", "plans.facts"),
    *(
        ("spotify_streaming_etl_pipeline_spark.plans.dims", name, "plans.dims")
        for name in (
            "distinct_uris", "artist_uris_from_track_envelopes",
            "podcast_uris_from_episode_envelopes", "new_entities",
            "clean_tracks", "clean_artists", "clean_episodes", "clean_podcasts",
            "load_dim", "build_dim_reason", "sentinel_episode", "sentinel_podcast",
        )
    ),  # fmt: skip
    ("spotify_streaming_etl_pipeline_spark.plans.marts", "get_aggregated_data", "plans.marts"),
    ("spotify_streaming_etl_pipeline_spark.plans.marts", "get_chart_data", "plans.marts"),
    ("spotify_streaming_etl_pipeline_spark.plans.marts", "album_stats", "plans.marts"),
    ("spotify_streaming_etl_pipeline_spark.streaming.ingest", "start_fact_tracks_ingest", "streaming.ingest"),
    ("spotify_streaming_etl_pipeline_spark.streaming.ingest", "read_history_stream", "streaming.ingest"),
    ("spotify_streaming_etl_pipeline_spark.streaming.ingest", "build_fact_tracks", "plans.facts"),
    ("spotify_streaming_etl_pipeline_spark.operators.writer", "idempotent_append", "operators.writer"),
]  # fmt: skip


def _rows(result) -> int:
    """Rows a call handed back to Python; lazy DataFrames count 0 (their
    rows are produced by whichever later action forces them)."""
    if isinstance(result, pd.DataFrame):
        return len(result)
    records = getattr(result, "records", None)
    if isinstance(records, list):
        return len(records)
    return 0


class Tracer:
    """Spans in memory; ``install`` wraps the targets, ``uninstall``
    restores them."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self.rows_out: dict[str, int] = defaultdict(int)
        self.missing: set[str] = set()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str = ""):
        stack = self._stack()
        # A span opened on a callback thread (a streaming foreachBatch)
        # is a child of whatever the main thread is waiting in.
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                {"layer": layer, "name": name, "parent": parent,
                 "start": time.perf_counter(), "end": None}
            )  # fmt: skip
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, layer)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.perf_counter()
            self.sc.setLocalProperty(GROUP, prev)

    def wrap(self, fn, layer: str, name: str):
        def traced(*args, **kwargs):
            with self.span(layer, name):
                result = fn(*args, **kwargs)
            self.rows_out[layer] += _rows(result)
            return result

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        for module_path, attr, layer in TARGETS:
            module = importlib.import_module(module_path)
            fn = getattr(module, attr, None)
            if fn is None:
                if f"{module_path}.{attr}" not in self.missing:
                    self.missing.add(f"{module_path}.{attr}")
                    print(f"warning: {module_path}.{attr} is missing: its work folds into pipeline", file=sys.stderr)
                continue
            self._patched.append((module, attr, fn))
            setattr(module, attr, self.wrap(fn, layer, attr))

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["layer"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def root_seconds(self, layers: set[str]) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["parent"] is None and s["layer"] in layers
        )


# ---------------------------------------------------------------------------
# Event log -> task metrics by layer
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _plan_metric_names(c, out)


def layer_of(group: str | None) -> str:
    if group is None:
        return "pipeline"
    return group if group in LAYERS else "streaming.ingest"


def parse_event_log(path: Path, window: tuple[float, float]) -> dict:
    """Sum task metrics of the jobs submitted inside ``window`` (epoch
    seconds) by the layer of their job group. Also returns JSON-scan
    bytes/records and the SQL metrics posted outside tasks ('number of
    files read')."""
    lo, hi = (int(window[0] * 1000), int(window[1] * 1000))
    stage_layer: dict[int, str] = {}
    json_stages: set[int] = set()
    exec_layer: dict[int, str] = {}
    metric_names: dict[int, str] = {}
    accum_updates: list[tuple[int, int, int]] = []
    per = {layer: defaultdict(float) for layer in LAYERS}
    scan = {"json_bytes": 0, "json_rows": 0}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if not lo <= ev["Submission Time"] <= hi:
                    continue
                props = ev.get("Properties") or {}
                layer = layer_of(props.get(GROUP))
                per[layer]["spark_jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_layer.setdefault(sid, layer)
                if props.get("spark.sql.execution.id") is not None:
                    exec_layer.setdefault(int(props["spark.sql.execution.id"]), layer)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                for rdd in info.get("RDD Info", []):
                    scope = json.loads(rdd.get("Scope") or "{}")
                    if rdd.get("Name") == "FileScanRDD" and scope.get("name", "").startswith(
                        "Scan json"
                    ):
                        json_stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                layer = stage_layer.get(sid)
                tm = ev.get("Task Metrics")
                if layer is None or not tm:
                    continue
                m = per[layer]
                m["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["gc_s"] += tm["JVM GC Time"] / 1e3
                m["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                m["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                m["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                m["rows_out"] += tm["Output Metrics"]["Records Written"]
                if sid in json_stages:
                    scan["json_bytes"] += tm["Input Metrics"]["Bytes Read"]
                    scan["json_rows"] += tm["Input Metrics"]["Records Read"]
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_names(ev["sparkPlanInfo"], metric_names)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    metric_names[m["accumulatorId"]] = m["name"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, value in ev["accumUpdates"]:
                    accum_updates.append((ev["executionId"], acc, value))
    files_read = defaultdict(int)
    for exec_id, acc, value in accum_updates:
        layer = exec_layer.get(exec_id)
        if layer is not None and metric_names.get(acc) == "number of files read":
            files_read[layer] += value
    return {"per_layer": per, "scan": scan, "files_read": dict(files_read)}
