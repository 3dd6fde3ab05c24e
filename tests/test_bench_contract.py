"""Driver-contract pin for bench.py's stdout summary line.

The driver reads ONE JSON line from bench.py's stdout tail and requires
the per-query map ("queries") on it.  r15 found the overflow branch
dropping "queries" itself when optional diagnostics (isolated_reruns,
noise_band, sf1 ratios) pushed the line past the ~2 KB tail window; the
fix trims optional sections instead.  These tests pin that behavior
without running Spark.
"""

import json

import pytest

import bench


def _base_compact(n_queries=45):
    return {
        "metric": "suite_seconds",
        "value": 55.4,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_name_{i:03d}": round(0.1 * i, 2) for i in range(n_queries)},
        "max_run_spread": 1.2,
        "detail_file": "bench_detail_local.json",
    }


def test_short_line_keeps_everything():
    compact = _base_compact(n_queries=5)
    compact["noise_band"] = {"rel_diff_pass1": 0.1}
    line = bench.compact_stdout_line(compact)
    parsed = json.loads(line)
    assert "queries" in parsed and len(parsed["queries"]) == 5
    assert "noise_band" in parsed
    assert len(line) <= 1900


def test_overflow_trims_optional_sections_never_queries():
    compact = _base_compact()
    # inflate optional sections past the window
    compact["isolated_reruns"] = {f"key_{i}": 1.234 for i in range(60)}
    compact["sf1_ratio_vs_sf01"] = {f"key_{i}": 2.5 for i in range(40)}
    compact["noise_band"] = {
        "rel_diff_pass1": 0.452,
        "second_pass": True,
        "shared_total_prior": 51.29,
        "shared_total_pass1": 74.486,
        "shared_total_min2": 55.433,
    }
    line = bench.compact_stdout_line(compact)
    parsed = json.loads(line)
    # the contract fields survive
    assert parsed["metric"] == "suite_seconds"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert len(parsed["queries"]) == 45
    # optional sections were trimmed oldest-value-last until it fit
    assert len(line) <= 1900
    assert "isolated_reruns" not in parsed


def test_queries_survive_even_if_line_cannot_fit():
    # pathological: queries alone exceed the window — the line may run
    # long, but "queries" must never be dropped
    compact = _base_compact(n_queries=200)
    compact["isolated_reruns"] = {f"key_{i}": 1.0 for i in range(10)}
    line = bench.compact_stdout_line(compact)
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 200
    assert "isolated_reruns" not in parsed


def test_merge_min_of_two_takes_per_key_min():
    # r16 (VERDICT r15 item 1): the shipped per-query series is the
    # per-key min of the two unconditional suite passes — contention
    # only ever adds time, so the min estimates the quiet machine.
    p1 = {"a": 1.0, "b": 2.0, "c": 0.30}
    p2 = {"a": 0.5, "b": 3.0, "c": 0.30}
    merged = bench.merge_min_of_two(p1, p2)
    assert merged == {"a": 0.5, "b": 2.0, "c": 0.30}


def test_merge_min_of_two_keeps_pass1_keys_missing_from_pass2():
    # never drop a key (the driver contract forbids removals); a key
    # the second pass lacks keeps its pass-1 value
    merged = bench.merge_min_of_two({"a": 1.234}, {})
    assert merged == {"a": 1.234}


@pytest.mark.parametrize(
    "value, on",
    [
        (None, False), ("", False), ("0", False), ("false", False),
        ("No", False), (" FALSE ", False),
        ("1", True), ("true", True), ("yes", True),
    ],
)
def test_env_flag_reads_the_value_not_its_presence(monkeypatch, value, on):
    """SPARK_GRAFT_SINGLE_PASS=0 must not force a single pass."""
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_SINGLE_PASS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SINGLE_PASS", value)
    assert bench.env_flag("SPARK_GRAFT_SINGLE_PASS") is on
