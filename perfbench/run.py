"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Starts one Spark session sized
for the host (``local[nproc]``, 4 GB driver heap; every other setting is
the program's own default from ``zentity_spark.cli._spark``), generates
the workload's inputs from the seed, warms up where the workload does,
then runs closed-loop operations for ``--seconds`` and checks each
output against ground truth. With ``--trace 1`` two more operations
follow, an untraced one and one with every layer call wrapped (see
``perfbench/trace.py``), and the per-layer metrics are reported instead
of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
holds the same run under the workload-specific metric names
(``resolve_wall_s``, ``seeded_p50_s``, ``ingest_batch_p50_s``, ...) plus
``error_rate``. Everything the run writes lives under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps of traced runs) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DRIVER_HEAP = "4g"


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def start_spark(work: str, ui: bool):
    """One local session: master and heap sized for this host, local dirs
    inside the work directory, UI only when tracing. The remaining
    settings come from the program's session defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_MASTER"] = f"local[{cores}]"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the program too (UDFs), whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the JVM spark-submit runs first to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.enabled": str(ui).lower(),
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--driver-memory {DRIVER_HEAP}",
         f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
        + [f"--conf {k}={v}" for k, v in conf.items()]
        + ["pyspark-shell"])
    from zentity_spark.cli import _spark

    spark = _spark("zentity-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of this process and of the driver JVM."""
    from pyspark import SparkContext

    return {"python": _status_kb("self", "VmHWM") / 1024.0,
            "jvm": _status_kb(SparkContext._gateway.proc.pid, "VmHWM") / 1024.0}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the driver JVM and its Python workers), from /proc/<pid>/stat."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended while the table was read
            procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def attempt(wl, *tracer):
    """One operation. An exception is reported on stderr and counted as a
    failed operation, so the loop keeps its length."""
    from perfbench.workloads import Op

    t, cpu = time.perf_counter(), tree_cpu_s()
    try:
        op = wl.op(*tracer)
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        traceback.print_exc()
        op = Op([], 0, time.perf_counter() - t, attempted=1, failed=1)
    op.cpu = tree_cpu_s() - cpu
    return op


def summarize(ops, loop_wall: float) -> dict[str, float]:
    """The loop's metrics, over the operations that returned an output.
    When every operation raised there are none; the result line still
    reports the failures."""
    from perfbench.workloads import f1

    done = [op for op in ops if op.latencies]
    if not done:
        return {}
    lat = [x for op in done for x in op.latencies]
    tp, pred, true = (sum(getattr(op, k) for op in done) for k in ("tp", "pred", "true"))
    return {
        "op_p50_s": statistics.median(lat),
        "op_max_s": max(lat),
        "ops_per_s": len(lat) / loop_wall,
        "turns_per_s": sum(op.turns for op in done) / sum(op.wall for op in done),
        "pair_f1": f1(tp, pred, true),
        "op_cpu_s": statistics.median(op.cpu for op in done),
    }


UNITS = {"setup_s": "s", "op_p50_s": "s", "op_max_s": "s", "op_cpu_s": "s", "ops_per_s": "1/s",
         "turns_per_s": "turns/s", "pair_f1": "ratio", "peak_rss_mb": "MB"}
# the end-to-end metrics of the last line (BENCHMARK.json); the others go
# on the line before it only, because on a shared host their run-to-run
# spread exceeds the largest bound the regression gate allows: wall
# latencies (op_p50_s, op_max_s, ops_per_s, turns_per_s) move with CPU
# steal from neighbouring machines, peak_rss_mb by ±15–25 % with the
# JVM's heap sizing
END_TO_END = ("setup_s", "op_cpu_s", "pair_f1")

# the workload-specific names the end-to-end metrics go by
NAMED = {
    "batch_resolve": {"op_p50_s": "resolve_wall_s", "op_max_s": "resolve_wall_max_s",
                      "ops_per_s": "resolve_runs_per_s"},
    "chain_closure": {"op_p50_s": "resolve_wall_s", "op_max_s": "resolve_wall_max_s",
                      "ops_per_s": "resolve_runs_per_s"},
    "seeded_requests": {"op_p50_s": "seeded_p50_s", "op_max_s": "seeded_tail_s",
                        "ops_per_s": "seeded_requests_per_s"},
    "stream_ingest": {"op_p50_s": "ingest_batch_p50_s", "op_max_s": "ingest_batch_max_s",
                      "ops_per_s": "ingest_batches_per_s"},
}


def layer_report(tracer, wl, traced_wall: float, untraced_wall: float) -> dict[str, float]:
    from perfbench.trace import PER_LAYER

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(tracer.counts)
    m.update(tracer.maxima)
    for span in ("transcripts.values", "transcripts.records", "transcripts.assemble",
                 "blocking.keys", "blocking.candidates", "pairs.verify", "pairs.gate",
                 "clustering.cc", "pipeline.closure", "scoring.score",
                 "storage.commit", "storage.maintain"):
        m[span + "_s"] = tracer.total(span)
    m["pairs.verify_yield"] = (m["pairs.verified_pairs"] / m["blocking.candidate_pairs"]
                               if m["blocking.candidate_pairs"] else 0.0)
    m.update(tracer.layer_metrics())
    m.update(wl.layer_metrics(tracer))
    m["trace.wall_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - untraced_wall
    return {k: m[k] for k in PER_LAYER}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplier on input sizes (smoke tests use small values)")
    args = p.parse_args(argv)
    import zentity_spark  # noqa: F401 — fail before any set-up when the program is absent

    t0 = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = start_spark(work, ui=bool(args.trace))
    rss = None
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        wl.setup()
        # warm-up operations are checked and counted like timed ones
        ops = [attempt(wl) for _ in range(wl.warmup_ops)]
        setup_s = time.perf_counter() - t0

        loop_start = time.perf_counter()
        timed = [attempt(wl)]
        while len(timed) < wl.min_ops or (time.perf_counter() - loop_start < args.seconds
                                          and len(timed) != wl.max_ops):
            timed.append(attempt(wl))
        loop_wall = time.perf_counter() - loop_start
        ops += timed
        summary = summarize(timed, loop_wall)
        if args.trace:
            from perfbench.trace import Tracer

            # the untraced reference: an operation in the same (warm)
            # state as the traced one that follows it
            ops.append(attempt(wl))
            untraced_wall = ops[-1].wall
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            tracer.install()
            try:
                with tracer.span("bench.op"):
                    ops.append(attempt(wl, tracer))
            finally:
                tracer.uninstall()
            metrics = layer_report(tracer, wl, ops[-1].wall, untraced_wall)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = {k: summary[k] for k in UNITS if k in summary}
            metrics["setup_s"] = setup_s
            rss = peak_rss_mb()
            metrics["peak_rss_mb"] = sum(rss.values())
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(op.attempted for op in ops)
    failed = sum(op.failed for op in ops)
    named = {NAMED[args.workload].get(k, k): {"value": v, "unit": UNITS[k]}
             for k, v in metrics.items() if k in UNITS}
    print(json.dumps({"workload": args.workload,
                      "latencies_s": [x for op in timed for x in op.latencies],
                      "peak_rss_parts_mb": rss,
                      "named": named, "error_rate": failed / attempted}))
    units = {k: UNITS.get(k) or _layer_unit(k) for k in metrics}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                    if args.trace or k in END_TO_END},
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_on_disk"):
        return "bytes"
    if name.endswith(("_ratio", "_yield", "per_batch_row", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
