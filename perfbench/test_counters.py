"""Counter repeatability: two warm traced passes must give identical
per-op Spark job, stage and task counts, and byte counters within
``BYTES_TOLERANCE`` (shuffle bytes jitter by a few bytes between passes).

    python3 -m pytest perfbench/test_counters.py -q

Run from the root of a checkout; builds the benchmark inputs on first use.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest

import run
from tracing import Tracer

COUNTS = ("jobs", "stages", "tasks")
BYTES = ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes")
BYTES_TOLERANCE = 0.01


@pytest.fixture(scope="module")
def run_dir():
    path = run.prepare()
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _counters(rec: dict) -> dict:
    return {
        phase: rec[phase] for phase in ("build", "exec") if phase in rec
    }


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_two_warm_traced_passes_repeat_counters(name, run_dir):
    tracer = Tracer(enabled=False)
    spark, wl, _ = run.start(name, 0, run_dir, tracer)
    rng = random.Random(0)
    failures: list[dict] = []
    passes = []
    try:
        run.run_pass(wl, run.pass_order(wl.keys, rng), "warmup", False,
                     failures)
        for i in range(2):
            passes.append({
                r["op"]: _counters(r)
                for r in run.run_pass(wl, run.pass_order(wl.keys, rng),
                                      f"t{i}", True, failures)
            })
    finally:
        spark.stop()
    assert not failures
    first, second = passes
    assert set(first) == set(wl.keys) == set(second)
    for op in wl.keys:
        for phase, a in first[op].items():
            b = second[op][phase]
            for k in COUNTS:
                assert a[k] == b[k], (op, phase, k, a[k], b[k])
            for k in BYTES:
                assert abs(a[k] - b[k]) <= BYTES_TOLERANCE * max(a[k], 1), (
                    op, phase, k, a[k], b[k])
    assert os.path.isdir(run_dir)
