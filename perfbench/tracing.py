"""Per-layer tracing for the facade benchmark.

Two halves:

* ``Tracer`` wraps each layer's public functions (from outside the
  package: module attributes and class attributes are swapped in place,
  and swapped back on ``uninstall``). A wrapper records a span in memory
  and, for its duration, sets the Spark local property ``LAYER_PROP`` to
  its layer in the *calling* thread, so every Spark job submitted inside
  it is tagged with the innermost span. Threads started by the engine
  (``ops/pipeline._parallel_jobs``) do not inherit local properties, so
  each thunk it runs opens its own span on its thread.
* ``layer_metrics`` reads the Spark event log written during the run and
  folds job, task and SQL metrics into per-layer figures.

Jobs are never dropped: a job without a layer tag inside a traced phase
counts as ``trace.unattributed_jobs``.
"""

from __future__ import annotations

import collections
import functools
import glob
import itertools
import json
import os
import re
import threading
import time

import pyarrow as pa

LAYER_PROP = "perfbench.layer"

PKG = "lindorm_tsdb_contest_java_spark"

# layer -> [(module, attribute path)]; a dotted path names a method
LAYERS: dict[str, list[tuple[str, str]]] = {
    "engine": [("engine", f"TranscriptTSDB.{m}") for m in (
        "write", "shutdown", "compact", "run_cascade", "apply_retention",
        "execute_latest_query", "execute_time_range_query",
        "execute_aggregate_query", "execute_downsample_query",
        "execute_percentile_query",
        # flush-eligibility probe and the memtable overlay
        "_fast_flush_chunks", "_fast_flush_input", "_append_flush",
        "_conv_rows", "_overlay_rows", "_dirty_convs",
        "_overlay_rate_tier", "_scoped_rate_tier")],
    # _parallel_jobs runs its thunks on threads of its own: each thunk
    # gets a pipeline span there (see Tracer._wrap)
    "pipeline": [("ops.pipeline", f"RollupPipeline.{m}")
                 for m in ("run", "append_l0", "cascade")]
    + [("ops.pipeline", "_parallel_jobs")],
    "table": [("sources.table", f"SnapshotTable.{m}") for m in (
        "append", "overwrite", "overwrite_partitions",
        "overwrite_partitions_multi", "overwrite_partitioned", "truncate",
        "drop_partitions", "vacuum", "_commit")],
    "segments": [("sources.segments", f) for f in (
        "canonicalize", "encode_segments", "decode_segments",
        "time_range_from_segments")],
    "tiers": [("operators.tiers", f) for f in (
        "build_conv_tier", "rollup_conv_tier", "with_avg",
        "build_latest_tier", "latest_from_tier", "build_rate_tier",
        "rollup_rate_tier", "turn_rate", "tier_percentiles", "gap_fill")],
    "router": [("plans.router", f) for f in (
        "routed_aggregate", "classify_preds", "routed_downsample")],
    "queries": [("operators.queries", f)
                for f in ("latest", "time_range", "aggregate", "downsample")],
    "retention": [("ops.retention", "apply_retention")],
    "datapipe": [("operators.datapipe", f) for f in (
        "with_tokens", "with_shingles", "minhash_signatures",
        "lsh_candidate_pairs", "cosine_topk")],
}

LAYER_METRICS = ("calls", "wall_s", "self_s", "jobs", "tasks", "task_run_s",
                 "task_cpu_s", "gc_s", "task_wait_s", "shuffle_bytes",
                 "spill_bytes", "failed")

_UNITS = {"calls": "count", "jobs": "count", "tasks": "count",
          "failed": "count", "shuffle_bytes": "B", "spill_bytes": "B"}
_EXTRA_UNITS = {
    "pipeline.chunks_run": "count", "pipeline.chunk_skip_ratio": "ratio",
    "table.bytes_written_per_turn": "B/turn", "table.files_written": "count",
    "segments.python_bytes_in": "B", "segments.python_bytes_out": "B",
    "segments.rows_decoded_per_row_returned": "ratio",
    "segments.files_read_ratio": "ratio",
    "trace.unattributed_jobs": "count", "trace.overhead": "ratio",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {f"{lyr}.{m}": _UNITS.get(m, "s")
           for lyr in LAYERS for m in LAYER_METRICS}
    out.update(_EXTRA_UNITS)
    return out


# Python-boundary plan nodes of sources/segments: encode is
# applyInArrow, decode is mapInArrow
_SEGMENT_PY_NODES = {"FlatMapGroupsInArrow", "MapInArrow"}
_DECODE_NODE = "MapInArrow"
_FILE_INDEX = re.compile(r"InMemoryFileIndex\((\d+) paths?\)\[([^\],]*)")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pipeline_runs: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count()
        self._saved: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # ---------- wrapping ----------

    def install(self) -> None:
        import importlib
        import sys

        for layer, targets in LAYERS.items():
            for mod_name, path in targets:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                if "." in path:
                    cls_name, attr = path.split(".")
                    owner = getattr(mod, cls_name)
                    orig = owner.__dict__[attr]
                    self._swap(owner, attr, self._wrap(layer, path, orig))
                    continue
                orig = getattr(mod, path)
                wrapped = self._wrap(layer, path, orig)
                # `from x import f` copies the binding: rebind it in every
                # loaded package module that holds the same object
                for name, other in list(sys.modules.items()):
                    if other is None or not name.startswith(PKG):
                        continue
                    for attr, val in list(vars(other).items()):
                        if val is orig:
                            self._swap(other, attr, wrapped)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _swap(self, owner, attr, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)
                            if not isinstance(owner, type)
                            else owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "_parallel_jobs":
                args = [tracer._thunk(layer, t) for t in args]
            with tracer.span(layer, name):
                out = fn(*args, **kwargs)
            if name == "RollupPipeline.run" and isinstance(out, dict):
                tracer.pipeline_runs.append(dict(out))
            return out
        return wrapper

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    def _thunk(self, layer: str, thunk):
        def run():
            with self.span(layer, "_parallel_jobs.thunk"):
                return thunk()
        return run

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "pipeline_runs": self.pipeline_runs}, f)


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        st = self.t._stack()
        self.parent = st[-1] if st else None
        self.rec = {"id": next(self.t._ids), "layer": self.layer,
                    "name": self.name,
                    "parent": self.parent["id"] if self.parent else None,
                    "thread": threading.current_thread().name,
                    "parent_layers": [s["layer"] for s in st],
                    "child_s": 0.0, "t0": time.time()}
        st.append(self.rec)
        self.t.sc.setLocalProperty(LAYER_PROP, self.layer)
        self.p0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        wall = time.perf_counter() - self.p0
        self.rec.update(wall_s=wall, t1=time.time())
        st = self.t._stack()
        st.pop()
        if self.parent is not None:
            self.parent["child_s"] += wall
        self.t.sc.setLocalProperty(
            LAYER_PROP, self.parent["layer"] if self.parent else None)
        with self.t._lock:
            self.t.spans.append(self.rec)
        return False


# ---------- event log ----------

def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under `log_dir`.
    Spark 4 writes a rolling directory of zstd-compressed JSON lines."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
    events = []
    for path in files:
        comp = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=comp) as f:
            for line in f.read().decode("utf-8").splitlines():
                if line:
                    events.append(json.loads(line))
    return events


def _walk_plan(node: dict, acc_node: dict, scans: list) -> None:
    """Map every SQL metric accumulator to (plan node, metric name), and
    list parquet scans as (files-read accumulator, listed files, first
    path)."""
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        acc_node[m["accumulatorId"]] = (name, m["name"])
    if name.startswith("Scan parquet"):
        hit = _FILE_INDEX.search(node.get("metadata", {}).get("Location", ""))
        files_read = [m["accumulatorId"] for m in node.get("metrics", [])
                      if m["name"] == "number of files read"]
        if hit and files_read:
            scans.append((files_read[0], int(hit.group(1)), hit.group(2)))
    for child in node.get("children", []):
        _walk_plan(child, acc_node, scans)


def layer_metrics(events: list[dict], tracer: Tracer,
                  traced_windows: list[tuple[float, float]],
                  traced_wall_s: float, untraced_wall_s: float,
                  rows_returned: int, turns_written: int) -> dict:
    """Fold the event log and the in-memory spans into the per-layer
    metric dict (names as in BENCHMARK.json's per_layer list).

    Only jobs tagged with a layer count towards layer metrics. A job
    without any tag submitted inside a traced cycle (epoch-second
    `traced_windows`) is unattributed; untagged jobs elsewhere belong
    to threads of untraced phases."""
    layers = list(LAYERS)
    agg = {lyr: collections.Counter() for lyr in layers}

    # spans: calls, wall (outermost span of its layer only, so nested
    # same-layer calls are not double counted), self time
    for s in tracer.spans:
        a = agg[s["layer"]]
        a["calls"] += 1
        if s["layer"] not in s["parent_layers"]:
            a["wall_s"] += s["wall_s"]
        a["self_s"] += max(0.0, s["wall_s"] - s["child_s"])

    def in_traced(ms: int) -> bool:
        return any(lo * 1e3 <= ms <= hi * 1e3 for lo, hi in traced_windows)

    # pass 1: job/stage/execution tags and the plan's accumulator map
    stage_layer: dict[int, str] = {}
    job_layer: dict[int, str] = {}
    exec_layer: dict[int, str] = {}
    acc_node: dict[int, tuple] = {}
    scans: list[tuple[int, int, str]] = []
    unattributed = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get(LAYER_PROP)
            if tag is None and in_traced(e.get("Submission Time", 0)):
                unattributed += 1
            if tag not in agg:
                continue
            job_layer[e["Job ID"]] = tag
            agg[tag]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_layer[sid] = tag
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_layer.setdefault(int(xid), tag)
        elif kind == "SparkListenerJobEnd":
            tag = job_layer.get(e["Job ID"])
            if tag and e.get("Job Result", {}).get("Result") != "JobSucceeded":
                agg[tag]["failed"] += 1
        elif kind.endswith("SparkListenerSQLExecutionStart") \
                or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo", {}), acc_node, scans)

    # pass 2: task metrics of tagged stages, SQL metrics of tagged
    # executions
    driver_acc: collections.Counter = collections.Counter()
    py = collections.Counter()   # (node, metric) of segments' Python nodes
    written_bytes = 0
    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerDriverAccumUpdates"):
            if e.get("executionId") in exec_layer:
                for acc_id, val in e.get("accumUpdates", []):
                    driver_acc[acc_id] += int(val)
            continue
        if kind != "SparkListenerTaskEnd":
            continue
        tag = stage_layer.get(e.get("Stage ID"))
        if tag is None:
            continue
        info = e.get("Task Info", {})
        tm = e.get("Task Metrics") or {}
        for acc in info.get("Accumulables", []):
            node = acc_node.get(acc.get("ID"))
            if node is None or "Update" not in acc:
                continue
            nname, mname = node
            if nname in _SEGMENT_PY_NODES:
                py[(nname, mname)] += int(acc["Update"])
            elif nname.startswith("Execute InsertIntoHadoopFsRelation") \
                    and mname == "written output":
                written_bytes += int(acc["Update"])
        a = agg[tag]
        a["tasks"] += 1
        run_ms = tm.get("Executor Run Time", 0)
        a["task_run_s"] += run_ms / 1e3
        a["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        sched = max(0, dur - run_ms - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0))
        fetch = (tm.get("Shuffle Read Metrics") or {}).get(
            "Fetch Wait Time", 0)
        a["task_wait_s"] += (sched + fetch) / 1e3
        a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        a["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                             + tm.get("Disk Bytes Spilled", 0))
        if info.get("Failed") or e.get("Task End Reason", {}).get(
                "Reason", "Success") != "Success":
            a["failed"] += 1

    written_files = sum(
        driver_acc.get(acc_id, 0) for acc_id, (nname, mname)
        in acc_node.items()
        if nname.startswith("Execute InsertIntoHadoopFsRelation")
        and mname == "number of written files")
    seg_read = seg_listed = 0
    for acc_id, n_paths, first_path in scans:
        if acc_id in driver_acc and re.search(r"/segments(_l0)?/data/",
                                              first_path):
            seg_read += driver_acc[acc_id]
            seg_listed += n_paths

    def ratio(num, den):
        return num / den if den else 0.0

    out: dict[str, float] = {}
    for lyr in layers:
        for m in LAYER_METRICS:
            out[f"{lyr}.{m}"] = float(agg[lyr][m])
    runs = tracer.pipeline_runs
    out["pipeline.chunks_run"] = float(sum(r.get("chunks_run", 0)
                                           for r in runs))
    out["pipeline.chunk_skip_ratio"] = ratio(
        sum(r.get("chunks_done", 0) for r in runs),
        sum(r.get("chunks_total", 0) for r in runs))
    out["table.bytes_written_per_turn"] = ratio(written_bytes,
                                                turns_written)
    out["table.files_written"] = float(written_files)
    out["segments.python_bytes_in"] = float(sum(
        v for (_, m), v in py.items() if m == "data sent to Python workers"))
    out["segments.python_bytes_out"] = float(sum(
        v for (_, m), v in py.items()
        if m == "data returned from Python workers"))
    out["segments.rows_decoded_per_row_returned"] = ratio(
        py[(_DECODE_NODE, "number of output rows")], rows_returned)
    out["segments.files_read_ratio"] = ratio(seg_read, seg_listed)
    out["trace.unattributed_jobs"] = float(unattributed)
    out["trace.overhead"] = ratio(traced_wall_s, untraced_wall_s)
    return out
