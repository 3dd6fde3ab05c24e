#!/usr/bin/env python3
"""Regenerate the per-key plan-BUILD cost record (build_cost_r{N}.jsonl).

One row per registry key: the number of Py4J driver->JVM round-trips its
DataFrame BUILDER issues at sf0.001 (plan construction only — no action).
This is the committed baseline tests/test_plans.py::
test_plan_lint_build_py4j_calls_bounded enforces (budget = max(1500,
2 x baseline)); regenerate ONLY when builds legitimately change, and
update _BUILD_BASELINE_PATH in the lint to the new file in the same
commit. Counting method mirrors the lint exactly (JavaMember.__call__ is
the dominant round-trip path; field reads / GC traffic are noise-level).

A key's count depends on what ran before it in the same process (warm
schema and plan caches), so the baseline is always ALL keys in one run,
in the lint's own order (sorted key names). ``--only`` is for probing a
key, never for patching rows into the baseline.

Usage: python scripts/gen_build_cost.py [--out build_cost_r22.jsonl]
           [--only key1,key2] [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyetl_spark import registry  # noqa: E402
from pyetl_spark.session import get_session  # noqa: E402


@contextlib.contextmanager
def _count_py4j_calls():
    import py4j.java_gateway as jg

    counter = {"n": 0}
    orig = jg.JavaMember.__call__

    def patched(self, *a, **kw):
        counter["n"] += 1
        return orig(self, *a, **kw)

    jg.JavaMember.__call__ = patched
    try:
        yield counter
    finally:
        jg.JavaMember.__call__ = orig


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="build_cost.jsonl")
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    spark = get_session("pyetl-spark-buildcost")
    registry.load_all()
    keys = args.only.split(",") if args.only else sorted(registry.QUERIES)
    errors = 0
    with open(args.out, "w") as fh:
        for i, key in enumerate(keys, 1):
            t0 = time.perf_counter()
            try:
                with _count_py4j_calls() as c:
                    registry.QUERIES[key](spark, args.sf)
                rec = {
                    "key": key,
                    "py4j_calls": c["n"],
                    "build_secs": round(time.perf_counter() - t0, 3),
                }
            except Exception as exc:  # record, keep sweeping
                errors += 1
                rec = {"key": key, "error": f"{type(exc).__name__}: {exc}"}
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(f"[{i}/{len(keys)}] {rec.get('py4j_calls', 'ERR'):>6} {key}")
    print(f"done: {errors} errors / {len(keys)} keys -> {args.out}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
