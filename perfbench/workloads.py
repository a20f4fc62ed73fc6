"""The benchmark workloads.

Each workload generates its inputs from the seed in ``setup``; the run
then warms up with ``warmup_ops`` untimed operations and runs
closed-loop operations: one driver process, the next operation starts
when the previous one has finished. ``op`` returns an ``Op`` holding the
latencies it observed, the input turns it consumed, its pair-level
agreement with ground truth and how many of its outputs were wrong.

batch_resolve    one ``resolve_all`` in a fresh JVM over flat entities
                 (closure off, scored pairs on, ~1 % hot phone key)
chain_closure    one ``resolve_all`` in a fresh JVM over chain entities
                 (closure on, scoring off, heavy hot-value skew)
seeded_requests  one ``resolve()`` request per operation, seeded at one
                 end of a chain entity in a fixed corpus
stream_ingest    one ``incremental_resolve`` stream (delta mode) per
                 operation; its micro-batches are the timed samples
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass

from perfbench import gen

FILLER_TURNS = 8
MIN_F1 = 0.99


@dataclass
class Op:
    latencies: list[float]   # seconds, one per timed sample
    turns: int               # input turns the operation consumed
    wall: float              # seconds from start to finish of the operation
    attempted: int           # runs, requests or micro-batches
    failed: int              # wrong outputs among them
    tp: int = 0              # same-cluster pairs that are same-entity pairs
    pred: int = 0            # same-cluster pairs produced
    true: int = 0            # same-entity pairs in the ground truth
    cpu: float = 0.0         # CPU seconds of the whole process tree


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_counts(assign: dict[str, str], truth: dict[str, str]) -> tuple[int, int, int]:
    """(tp, predicted, true) same-cluster pair counts; a record missing
    from ``assign`` is its own cluster."""
    cells = Counter((assign.get(r, r), e) for r, e in truth.items())
    clusters = Counter(assign.get(r, r) for r in truth)
    entities = Counter(truth.values())
    return (sum(_pairs(n) for n in cells.values()),
            sum(_pairs(n) for n in clusters.values()),
            sum(_pairs(n) for n in entities.values()))


def f1(tp: int, pred: int, true: int) -> float:
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def _size(n: int, scale: float, floor: int) -> int:
    return max(floor, int(n * scale))


class Workload:
    """Shared plumbing: input files under the run's work directory."""

    name = ""
    # untimed operations after set-up, checked and counted like the
    # timed ones: the first operation in a fresh JVM (JIT, codegen,
    # Python workers) costs about twice a warm one
    warmup_ops = 1
    # timed operations per run: at least min_ops, then more until
    # --seconds have passed, but never more than max_ops (None: no cap)
    min_ops = 1
    max_ops = None

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale

    def load(self, corpus: gen.Corpus, tag: str):
        """Write the corpus as parquet and hold its turns in memory."""
        path = os.path.join(self.work, "input", tag, "turns.parquet")
        n = gen.write_turns(path, corpus.conversations, self.seed, FILLER_TURNS)
        turns = self.spark.read.parquet(os.path.dirname(path)).localCheckpoint()
        return turns, n

    def layer_metrics(self, tracer) -> dict[str, float]:
        """Per-layer figures only this workload can observe."""
        return {}


class _Resolve(Workload):
    """One resolve_all per operation; clusters checked by pair F1.

    No warm-up, and one timed operation: the first resolve_all in the
    run's fresh JVM, which is what a batch job pays. A warm-up would
    double the cost of a run, which the regression check's time budget
    does not allow."""

    warmup_ops = 0
    max_ops = 1
    entities = 0      # at --scale 1
    min_entities = 0  # floor for small --scale values

    def corpus(self, n_entities: int) -> gen.Corpus:
        raise NotImplementedError

    def config(self, n_records: int):
        raise NotImplementedError

    def setup(self) -> None:
        from zentity_spark.model import Model

        self.model = Model(gen.MODEL)
        self.data = self.corpus(_size(self.entities, self.scale, self.min_entities))
        self.turns, self.n_turns = self.load(self.data, "corpus")
        self.truth = self.data.truth()

    def op(self, tracer=None) -> Op:
        from pyspark.sql import functions as F

        from zentity_spark.pipeline import resolve_all

        t0 = time.perf_counter()
        result = resolve_all(self.spark, self.turns, self.model, self.config(len(self.truth)))
        clusters = result.clusters.localCheckpoint()
        if result.scored_pairs is not None:
            result.scored_pairs.agg(F.sum("lev_prefix"), F.sum("jw_text")).collect()
        wall = time.perf_counter() - t0
        assign = {r["record_id"]: r["cluster_id"] for r in clusters.collect()}
        tp, pred, true = pair_counts(assign, self.truth)
        wrong = int(f1(tp, pred, true) < MIN_F1 or set(assign) != set(self.truth))
        return Op([wall], self.n_turns, wall, 1, wrong, tp, pred, true)


class BatchResolve(_Resolve):
    name = "batch_resolve"
    entities, min_entities = 600, 100

    def corpus(self, n_entities):
        return gen.flat_corpus(self.seed, n_entities)

    def config(self, n_records):
        from zentity_spark.pipeline import ResolutionConfig

        # the headline configuration of the repository's bench.py
        return ResolutionConfig(entity_closure=False, max_block_size=5000,
                                max_value_frequency=100, score_candidate_pairs=True)


class ChainClosure(_Resolve):
    name = "chain_closure"
    # below ~200 entities the 2 % junk email no longer exceeds the cap
    entities, min_entities = 300, 200

    def corpus(self, n_entities):
        return gen.chain_corpus(self.seed, n_entities, hot=True)

    def config(self, n_records):
        from zentity_spark.pipeline import ResolutionConfig

        # cap at 0.5 % of the records: the junk emails (4 % and 2 %)
        # always exceed it, legitimate blocks (2–3 records) never do
        cap = max(5, n_records // 200)
        return ResolutionConfig(entity_closure=True, max_block_size=cap,
                                score_candidate_pairs=False)


class SeededRequests(Workload):
    name = "seeded_requests"
    # a fixed count: the first requests after the warm-up are still
    # getting cheaper, so a count that varied with speed would move the
    # median between runs
    min_ops = 2

    def setup(self) -> None:
        # four-conversation chains split 2 + 2: every request walks four
        # hops (link email, cross-document name_signup, segment link, none)
        self.data = gen.chain_corpus(self.seed, _size(250, self.scale, 50), hot=False,
                                     shape=(4, 2))
        self.turns, self.n_turns = self.load(self.data, "corpus")
        self.requests = 0
        self.audit: list[list[dict]] = []  # query logs of traced requests

    def op(self, tracer=None) -> Op:
        from zentity_spark.model import Model
        from zentity_spark.resolve import Input, resolve

        entity, attrs = gen.seed_input(self.seed, self.data, self.requests)
        self.requests += 1
        cap: dict = {}
        t0 = time.perf_counter()
        # a fresh model per request: resolve() prunes it to the scope
        hits = {h.record_id for h in resolve(self.spark, self.turns, Model(gen.MODEL),
                                             Input(attributes=attrs), _capture=cap)}
        wall = time.perf_counter() - t0
        if tracer is not None:
            self.audit.append(cap["query_log"])
        want = {c.conv_id for c in self.data.entities[entity]}
        return Op([wall], self.n_turns, wall, 1, int(hits != want),
                  _pairs(len(hits & want)), _pairs(len(hits)), _pairs(len(want)))

    def layer_metrics(self, tracer) -> dict[str, float]:
        logs = self.audit
        n = max(len(logs), 1)
        return {
            "resolve.request_s": tracer.median("resolve.request"),
            "resolve.values_rebuild_s": tracer.median("transcripts.values"),
            "resolve.hops_per_request": sum(max((q["hop"] for q in ql), default=-1) + 1
                                            for ql in logs) / n,
            "resolve.queries_per_request": sum(len(ql) for ql in logs) / n,
        }


class StreamIngest(Workload):
    name = "stream_ingest"
    n_batches = 2

    def setup(self) -> None:
        from zentity_spark.model import Model
        from zentity_spark.pipeline import ResolutionConfig, resolve_all

        self.model = Model(gen.MODEL)
        # the streaming path rejects max_value_frequency; the cap is the
        # batch headline's
        self.config = ResolutionConfig(entity_closure=False, max_block_size=5000)
        self.streams = 0
        self.data = gen.flat_corpus(self.seed, _size(240, self.scale, 40))
        self.truth = self.data.truth()
        self.input_dir = os.path.join(self.work, "input", "corpus")
        self.n_turns = 0
        for i, batch in enumerate(gen.split_batches(self.seed, self.data, self.n_batches)):
            self.n_turns += gen.write_turns(os.path.join(self.input_dir, f"batch-{i:03d}.parquet"),
                                            batch, self.seed, FILLER_TURNS)
        self.input_bytes = sum(os.path.getsize(os.path.join(self.input_dir, f))
                               for f in os.listdir(self.input_dir))
        # the reference the final streaming assignment must equal:
        # resolve_all over the union of all micro-batches
        clusters = resolve_all(self.spark, self.spark.read.parquet(self.input_dir),
                               self.model, self.config).clusters
        self.expected = {r["record_id"]: r["cluster_id"] for r in clusters.collect()}

    def op(self, tracer=None) -> Op:
        from zentity_spark.storage import SnapshotStore
        from zentity_spark.streaming import (current_assignments, incremental_resolve,
                                             read_turn_stream)

        self.streams += 1
        root = os.path.join(self.work, f"stream-{self.streams}")
        t0 = time.perf_counter()
        query = incremental_resolve(
            self.spark, read_turn_stream(self.spark, self.input_dir, max_files_per_trigger=1),
            self.model, os.path.join(root, "store"), config=self.config,
            checkpoint_dir=os.path.join(root, "checkpoint"), clusters_mode="delta")
        query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        self.store = SnapshotStore(os.path.join(root, "store"))
        got = {r["record_id"]: r["cluster_id"]
               for r in current_assignments(self.spark, self.store).collect()}
        tp, pred, true = pair_counts(got, self.truth)
        return Op([p["batchDuration"] / 1000.0 for p in progress],
                  sum(p["numInputRows"] for p in progress), wall,
                  len(progress), int(got != self.expected), tp, pred, true)

    def layer_metrics(self, tracer) -> dict[str, float]:
        rows = [r.asDict() for r in self.store.read_all(self.spark, "stream_metrics").collect()]
        turn_rows = sum(r["batch_turn_rows"] for r in rows)
        values_scan = sum(r["values_scan_rows"] for r in rows)
        keys_scan = sum(r["keys_scan_rows"] for r in rows)
        tables = [t for t in os.listdir(self.store.root)
                  if os.path.isdir(os.path.join(self.store.root, t, "snapshots"))]
        on_disk = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, files in os.walk(self.store.root) for f in files)
        n = max(len(rows), 1)
        return {
            "streaming.batch_s": tracer.median("streaming.batch"),
            "streaming.batch_turn_rows": turn_rows / n,
            "streaming.values_scan_rows": values_scan / n,
            "streaming.keys_scan_rows": keys_scan / n,
            "streaming.scan_rows_per_batch_row": (values_scan + keys_scan) / max(turn_rows, 1),
            "storage.live_snapshots": sum(len(self.store.snapshots(t)) for t in tables),
            "storage.bytes_on_disk": on_disk,
            "storage.bytes_per_input_byte": on_disk / self.input_bytes,
        }


WORKLOADS = {w.name: w for w in (BatchResolve, ChainClosure, SeededRequests, StreamIngest)}
