"""Smoke tests for the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload run starts its own Spark session in a subprocess, exactly
as the benchmark is invoked; the chain and stream runs take minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, summarize  # noqa: E402
from perfbench.trace import PER_LAYER  # noqa: E402
from perfbench.workloads import Op  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _turns(corpus: gen.Corpus, seed: int) -> list[tuple]:
    return list(gen.turn_rows(corpus.conversations, seed, filler_turns=2))


@pytest.mark.parametrize("make", [
    lambda s: gen.flat_corpus(s, 40),
    lambda s: gen.chain_corpus(s, 40, hot=True),
    lambda s: gen.chain_corpus(s, 40, hot=False, shape=(4, 2)),
])
def test_generator_is_deterministic_per_seed_and_seeds_differ(make):
    assert _turns(make(7), 7) == _turns(make(7), 7)
    assert _turns(make(7), 7) != _turns(make(8), 8)


def test_seeded_inputs_and_batches_follow_the_seed():
    a, b = (gen.chain_corpus(s, 40, hot=False, shape=(4, 2)) for s in (7, 8))
    assert gen.seed_input(7, a, 3) == gen.seed_input(7, a, 3)
    assert gen.seed_input(7, a, 3) != gen.seed_input(8, b, 3)
    flat = gen.flat_corpus(7, 40)
    batches = gen.split_batches(7, flat, 4)
    assert sorted(c.conv_id for bt in batches for c in bt) == sorted(flat.truth())
    spread = [len({i for i, bt in enumerate(batches) for c in bt if c.entity == e})
              for e, cs in flat.entities.items() if len(cs) > 1]
    assert spread and all(n > 1 for n in spread)  # conversations split across batches


def test_benchmark_json_names_every_emitted_metric():
    assert [m["name"] for m in BENCH["per_layer"]] == PER_LAYER
    assert [m["name"] for m in BENCH["end_to_end"]] == list(END_TO_END)


def test_a_run_whose_every_operation_raised_still_summarizes():
    assert summarize([Op([], 0, 1.0, attempted=1, failed=1)], 1.0) == {}
    ok = summarize([Op([], 0, 1.0, 1, 1), Op([2.0], 10, 2.0, 1, 0, 1, 1, 1)], 3.0)
    assert ok["op_p50_s"] == 2.0 and ok["pair_f1"] == 1.0


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=1800)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("batch_resolve", 0), ("batch_resolve", 1),
    ("seeded_requests", 0), ("seeded_requests", 1),
    ("chain_closure", 1), ("stream_ingest", 1),
])
def test_workload_passes_its_gate_and_emits_every_metric(workload, trace):
    result = _run(workload, trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCH["end_to_end"] if trace == 0 else BENCH["per_layer"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    units = {m["name"]: m["unit"] for m in wanted}
    assert all(v["unit"] == units[k] for k, v in result["metrics"].items())
