"""Per-layer tracing from outside the program.

The traced run replaces each layer's public functions with wrappers
(in every ``zentity_spark`` module that bound them) for the duration of
one operation. A wrapper:

- opens a span (name, start, end, parent span, run id) and tags the
  Spark jobs it starts with a job group of its own;
- materializes the DataFrame the layer returns (``localCheckpoint``), so
  the layer's lazily planned work runs inside its span instead of in
  whichever later call first forces it;
- counts the rows it produced in a ``trace.count`` child span, which is
  excluded from the parent's self time.

After the operation, job and task counts come from ``statusTracker()``
and task run time, shuffle bytes and spill bytes from Spark's status
REST API (the UI is enabled in traced runs only). Spans stay in memory
until ``write`` dumps them. Nothing under ``zentity_spark/`` is edited.
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("transcripts", "blocking", "pairs", "clustering", "pipeline",
          "scoring", "resolve", "streaming", "storage")

# (module, function, span name): the layer calls the traced run wraps.
# Private functions are listed only where the layer has no public entry
# point for the step (the closure loop inside resolve_all).
WRAPPED = (
    ("zentity_spark.transcripts", "build_values", "transcripts.values"),
    ("zentity_spark.transcripts", "build_records", "transcripts.records"),
    ("zentity_spark.transcripts", "assemble_conversations", "transcripts.assemble"),
    ("zentity_spark.blocking", "blocking_keys", "blocking.keys"),
    ("zentity_spark.blocking", "candidate_pairs", "blocking.candidates"),
    ("zentity_spark.pairs", "verify_pairs", "pairs.verify"),
    ("zentity_spark.pairs", "gate_edges", "pairs.gate"),
    ("zentity_spark.clustering", "connected_components", "clustering.cc"),
    ("zentity_spark.pipeline", "resolve_all", "pipeline.resolve_all"),
    ("zentity_spark.pipeline", "_entity_closure", "pipeline.closure"),
    ("zentity_spark.scoring", "score_pairs", "scoring.score"),
    ("zentity_spark.resolve", "resolve", "resolve.request"),
)
STORE_METHODS = (("commit", "storage.commit"), ("maintain", "storage.maintain"),
                 ("compact", "storage.compact"))

# every per-layer metric a traced run reports, in BENCHMARK.json order
PER_LAYER = [
    "transcripts.values_s", "transcripts.values_rows", "transcripts.records_s",
    "transcripts.records_rows", "transcripts.assemble_s",
    "blocking.keys_s", "blocking.key_rows", "blocking.candidates_s",
    "blocking.candidate_pairs", "blocking.max_block_rows", "blocking.dropped_blocks",
    "blocking.key_capped_records",
    "pairs.verify_s", "pairs.verified_pairs", "pairs.verify_yield", "pairs.gate_s",
    "pairs.edges",
    "clustering.cc_s", "clustering.edges_in", "clustering.edges_over_driver_cap",
    "clustering.clusters",
    "pipeline.closure_s", "pipeline.closure_merges",
    "scoring.score_s", "scoring.scored_pairs",
    "resolve.request_s", "resolve.values_rebuild_s", "resolve.hops_per_request",
    "resolve.queries_per_request",
    "streaming.batch_s", "streaming.batch_turn_rows", "streaming.values_scan_rows",
    "streaming.keys_scan_rows", "streaming.scan_rows_per_batch_row",
    "storage.commit_s", "storage.commits", "storage.maintain_s",
    "storage.live_snapshots", "storage.bytes_on_disk", "storage.bytes_per_input_byte",
] + [f"{layer}.{m}" for layer in LAYERS
     for m in ("jobs", "tasks", "busy_ratio", "shuffle_bytes", "spill_bytes")] + [
    "trace.wall_s", "trace.overhead_s",
]

DRIVER_EDGE_CAP = 1_000_000  # clustering.connected_components default


def _first_frame(out):
    """The DataFrame a layer call returned (first element of a tuple)."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out
    if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
        return out[0]
    return None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.maxima: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            self._seq += 1
            sid = self._seq
        rec = {"id": sid, "name": name, "layer": name.split(".", 1)[0],
               "parent": stack[-1]["id"] if stack else None,
               "run": self.run_id, "group": f"{self.run_id}.{sid}"}
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev_group, "")
            with self._lock:
                self.spans.append(rec)

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def maximum(self, key: str, value: float) -> None:
        with self._lock:
            self.maxima[key] = max(self.maxima[key], value)

    # -- wrapping ----------------------------------------------------
    def _wrap(self, fn, name: str, materialize: bool):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
                frame = _first_frame(out) if materialize else None
                if frame is not None:
                    frame = frame.localCheckpoint()
                    out = (frame,) + tuple(out[1:]) if isinstance(out, tuple) else frame
                with tracer.span("trace.count"):
                    tracer._count_layer(name, args, out, frame)
            return out

        traced.__wrapped__ = fn
        return traced

    def _count_layer(self, name, args, out, frame) -> None:
        """Row counts of one layer call (run in the trace.count span)."""
        from pyspark.sql import functions as F

        if name == "transcripts.values":
            self.count("transcripts.values_rows", frame.count())
        elif name == "transcripts.records":
            self.count("transcripts.records_rows", frame.count())
        elif name == "blocking.keys":
            self.count("blocking.key_rows", frame.count())
            if isinstance(out, tuple):
                self.count("blocking.key_capped_records", out[1].count())
        elif name == "blocking.candidates":
            from zentity_spark.blocking import block_size_stats

            self.count("blocking.candidate_pairs", frame.count())
            if out[1] is not None:
                self.count("blocking.dropped_blocks", out[1].count())
            stats = block_size_stats(args[0]).agg(F.max("size_bucket")).first()[0]
            self.maximum("blocking.max_block_rows", stats or 0)
        elif name == "pairs.verify":
            self.count("pairs.verified_pairs", frame.count())
        elif name == "pairs.gate":
            self.count("pairs.edges", frame.count())
        elif name == "clustering.cc":
            edges_in = args[0].count()
            self.count("clustering.edges_in", edges_in)
            self.maximum("clustering.edges_over_driver_cap", float(edges_in > DRIVER_EDGE_CAP))
            self.count("clustering.clusters", frame.select("cluster_id").distinct().count())
        elif name == "pipeline.closure":
            before = args[4].select("cluster_id").distinct().count()
            self.count("pipeline.closure_merges", before - frame.select("cluster_id").distinct().count())
        elif name == "scoring.score":
            self.count("scoring.scored_pairs", frame.count())
        elif name == "storage.commit":
            self.count("storage.commits", 1)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every layer call, in every loaded zentity_spark module that
        bound it, plus SnapshotStore's commit/maintain/compact and the
        streaming micro-batch function."""
        import importlib

        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from zentity_spark.storage import SnapshotStore

        for mod_name, fn_name, span_name in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrap(orig, span_name,
                                 materialize=span_name not in ("resolve.request",))
            for name, mod in list(sys.modules.items()):
                if name.startswith("zentity_spark") and getattr(mod, fn_name, None) is orig:
                    self._patch(mod, fn_name, wrapped)
        for method, span_name in STORE_METHODS:
            self._patch(SnapshotStore, method,
                        self._wrap(getattr(SnapshotStore, method), span_name, materialize=False))

        tracer = self
        orig_foreach = DataStreamWriter.foreachBatch

        def foreach_batch(writer, func):
            def traced_batch(df, batch_id):
                with tracer.span("streaming.batch"):
                    return func(df, batch_id)
            return orig_foreach(writer, traced_batch)

        self._patch(DataStreamWriter, "foreachBatch", foreach_batch)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- job, task and REST metrics ------------------------------------
    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self.sc.uiWebUrl}/api/v1/{path}", timeout=30) as r:
            return json.load(r)

    def _settle(self, timeout_s: float = 30.0) -> None:
        """Wait until the status store has seen every job end."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            running = [j for j in self._rest(f"applications/{self.sc.applicationId}/jobs")
                       if j["status"] == "RUNNING"]
            if not running and not self.sc.statusTracker().getActiveJobsIds():
                return
            time.sleep(0.2)

    def layer_metrics(self) -> dict[str, float]:
        """jobs, tasks, busy_ratio, shuffle and spill bytes per layer,
        attributing each job to the innermost span that started it."""
        self._settle()
        app = self.sc.applicationId
        tracker = self.sc.statusTracker()
        stages = {}
        for s in self._rest(f"applications/{app}/stages"):
            if s["status"] == "COMPLETE":
                stages[s["stageId"]] = s
        child_wall = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_wall[s["parent"]] += s["end"] - s["start"]
        seen_stages: set[int] = set()
        out: dict[str, float] = defaultdict(float)
        self_wall = defaultdict(float)
        task_s = defaultdict(float)
        for s in sorted(self.spans, key=lambda s: s["id"]):
            layer = s["layer"]
            self_wall[layer] += (s["end"] - s["start"]) - child_wall[s["id"]]
            jobs = sorted(tracker.getJobIdsForGroup(s["group"]))
            s["jobs"] = len(jobs)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    if sid in seen_stages or sid not in stages:
                        continue  # skipped here: ran in an earlier job
                    seen_stages.add(sid)
                    st = stages[sid]
                    tasks += st["numCompleteTasks"]
                    task_s[layer] += st["executorRunTime"] / 1000.0
                    out[f"{layer}.shuffle_bytes"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                    out[f"{layer}.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            s["tasks"] = tasks
            out[f"{layer}.jobs"] += len(jobs)
            out[f"{layer}.tasks"] += tasks
        cores = self.sc.defaultParallelism
        for layer in LAYERS:
            wall = self_wall.get(layer, 0.0)
            out[f"{layer}.busy_ratio"] = task_s[layer] / (wall * cores) if wall > 0 else 0.0
        return out

    def span_seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.span_seconds(name))

    def median(self, name: str) -> float:
        vals = self.span_seconds(name)
        return statistics.median(vals) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)
