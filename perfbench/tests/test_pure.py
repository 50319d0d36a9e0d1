"""Tests for the benchmark's pure parts: generators, statistics, names, checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import math
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
from measure import canonical, latency_summary, same_result, tail_rank  # noqa: E402
from workloads import REGISTRY_MIX, SQL_TPCH, WORKLOADS, cycles, repeat_share, timed_cycles  # noqa: E402

TPCH = {k: f"-- {k}" for k in SQL_TPCH}


def _take(workload, seed, n=3):
    return [[(op.kind, op.text) for op in c] for c in itertools.islice(cycles(workload, seed, TPCH), n)]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_cycles_deterministic_per_seed(workload):
    assert _take(workload, 7) == _take(workload, 7)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_cycles_differ_across_seeds(workload):
    assert _take(workload, 7) != _take(workload, 8)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_cycle_has_the_same_op_kinds(workload):
    kinds = [sorted(k for k, _ in c) for c in _take(workload, 3, n=5)]
    assert all(k == kinds[0] for k in kinds)
    assert len(set(kinds[0])) == len(kinds[0])


def test_sql_repl_literals_repeat_within_a_run():
    texts = [t for c in _take("sql_repl", 5, n=4) for _, t in c]
    assert 0 < repeat_share(texts) < 1


def test_registry_mix_spans_every_family():
    assert {n.split("_")[0] for n in REGISTRY_MIX} == {"v0", "ext", "pipe"}


def test_unknown_workload_is_refused():
    with pytest.raises(ValueError):
        next(cycles("nope", 1))


def test_tables_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = (datagen.make_tables(s, 0.0001) for s in (1, 1, 2))
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tables_keep_the_fixture_schema_and_key_ranges():
    t = datagen.make_tables(3, 0.001)
    assert t["lineitem"].num_rows == 6000 and t["orders"].num_rows == 1500
    assert str(t["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert max(t["lineitem"].column("l_orderkey").to_pylist()) < t["orders"].num_rows
    ts = t["events"].column("ts").to_pylist()
    assert all(x < y for x, y in zip(ts, ts[1:]))
    assert {len(v) for v in t["embeddings"].column("embedding").to_pylist()} == {datagen.EMBED_DIM}


@pytest.mark.parametrize("n", [1, 5, 10, 11, 12, 24, 48, 100, 1000])
def test_tail_keeps_ten_samples_beyond_it(n):
    lat = [float(i) for i in range(n)]
    s = latency_summary(lat)
    r = tail_rank(n)
    if r is None:
        assert n <= 10 and s["tail"] == max(lat) and s["tail_pct"] == 100.0
    else:
        assert sum(x > s["tail"] for x in lat) == 10
        assert tail_rank(n + 1) == r + 1  # the highest such percentile
    assert s["n"] == n


def test_tail_of_hundred_samples_is_p90():
    s = latency_summary([float(i) for i in range(1, 101)])
    assert (s["tail"], s["tail_pct"], s["p50"]) == (90.0, 90.0, 50.5)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_timed_op_count_puts_the_tail_above_the_median(workload):
    # from 11 to 21 ops the ten samples beyond the tail would put it at or
    # below the median
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    n = timed_cycles(workload, seconds) * len(next(cycles(workload, 1, TPCH)))
    s = latency_summary([float(i) for i in range(n)])
    assert s["tail"] > s["p50"], (n, s["tail_pct"])


def test_metric_names_match_the_result_format():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name


def test_harness_metrics_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_same_result_accepts_one_rounding_step_on_a_boundary():
    cols = ["k", "v"]
    # FLOOR(x * 100 + 0.5) / 100 of a sum that sits on a cent boundary
    assert same_result([("a", 633924.03)], cols, [("a", 633924.02)], cols)
    assert same_result([("a", 1.397)], cols, [("a", 1.3969)], cols)
    # the step must be small against the value, and ints are exact
    assert not same_result([("a", 0.05)], cols, [("a", 0.06)], cols)
    assert not same_result([("a", 700)], cols, [("a", 701)], cols)


def test_canonical_handles_null_nan_and_order():
    rows = [(2, None, float("nan")), (1, "x", 1.5)]
    # columns in name order, NULLs sort last, NaN becomes a marker
    assert canonical(rows, ["b", "a", "c"]) == [("x", 1, 1.5), (None, 2, "NaN")]


def test_same_result_tolerates_float_noise_only():
    cols = ["k", "v"]
    a = [("a", 0.1 + 0.2), ("b", 19460614.95)]
    b = [("b", 19460614.94 + 0.01), ("a", 0.3)]
    assert same_result(a, cols, b, ["K", "V"])
    assert same_result([(None, float("nan"))], cols, [(None, math.nan)], cols)
    assert not same_result([("a", 0.3)], cols, [("a", 0.31)], cols)
    assert not same_result([("a", 1234.56)], cols, [("a", 1234.54)], cols)
    assert not same_result([("a", 1234.56)], cols, [("a", 1234.555)], cols)
    assert not same_result([("a", None)], cols, [("a", 0.0)], cols)
    assert not same_result([("a", 1)], cols, [("a", 1), ("a", 1)], cols)
    assert not same_result([("a", 1)], cols, [("a", 1)], ["k", "w"])


def test_self_time_subtracts_what_children_cover():
    from spans import Span, self_times, subtree

    root = Span(0, "op", None, "op0", 0.0, 10.0)
    build = Span(1, "queries.build", 0, "op0", 1.0, 5.0)
    scan = Span(2, "operators.scan", 1, "op0", 2.0, 3.0)
    run = Span(3, "exec.run", 0, "op0", 5.0, 9.5)
    spans = [root, build, scan, run]
    own = self_times(spans)
    assert own == {0: 1.5, 1: 3.0, 2: 1.0, 3: 4.5}
    assert math.isclose(sum(own.values()), root.end - root.start)
    assert [s.id for s in subtree(spans, build)] == [1, 2]
