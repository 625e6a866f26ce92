"""Self-tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def _span(layer, module, start_ms, end_ms):
    return spans.Span(layer, module, f"{module}_fn", start_ms * 1_000_000, end_ms * 1_000_000)


def test_parse_event_log_fixture():
    with open(FIXTURE) as fh:
        jobs, stages = spans.parse_event_log(fh)
    assert sorted(jobs) == [0, 1]
    assert jobs[0].end_ms > jobs[0].submit_ms
    assert jobs[1].stage_ids == [1, 2]
    assert stages[0].tasks == 4
    assert stages[0].metrics["task_s"] == pytest.approx(sum(stages[0].task_ms) / 1000)
    assert stages[1].metrics["shuffle_write_bytes"] > 0
    assert stages[2].metrics["shuffle_read_bytes"] > 0
    assert stages[2].metrics["python_bytes_sent"] == 1500
    assert stages[2].metrics["python_bytes_received"] == 700
    # stage 2 carries the most task time (2, 2, 2 and 20 ms)
    assert spans.heaviest_stage_skew(stages, [0, 1, 2]) == pytest.approx(20 / 2)
    assert spans.heaviest_stage_skew(stages, [1]) == pytest.approx(4 / 3.5)


def test_recorder_self_time_of_nested_spans():
    rec = spans.Recorder()
    with rec.span("registry", "build", "q"):
        with rec.span("operators", "dedup", "outer"):
            with rec.span("functions", "text", "inner"):
                pass
    by_name = {s.name: s for s in rec.spans}
    outer, inner, root = by_name["outer"], by_name["inner"], by_name["q"]
    assert outer.children_ns == inner.end_ns - inner.start_ns
    assert outer.self_ns == (outer.end_ns - outer.start_ns) - (inner.end_ns - inner.start_ns)
    assert root.children_ns == outer.end_ns - outer.start_ns


def test_self_times_subtract_children():
    outer = _span("operators", "dedup", 0, 100)
    outer.children_ns = 30 * 1_000_000
    inner = _span("functions", "text", 10, 40)
    got = spans.self_times([outer, inner])
    assert got["operators"] == pytest.approx(0.070)
    assert got["operators.dedup"] == pytest.approx(0.070)
    assert got["functions.text"] == pytest.approx(0.030)


def test_jobs_go_to_innermost_open_span():
    root = _span("registry", "build", 0, 100)
    op = _span("operators", "dedup", 10, 60)
    fn = _span("functions", "text", 20, 30)
    later = _span("operators", "events", 70, 80)
    got = spans.attribute([later, fn, root, op], [5, 25, 45, 75, 90, 150])
    assert got == [root, fn, op, later, root, None]


def test_quantile_interpolates_between_samples():
    values = [float(i) for i in range(1, 12)]
    assert run.quantile(values, 0.9) == pytest.approx(10.0)
    assert run.quantile(values, 0.5) == pytest.approx(6.0)
    assert run.quantile([3.0, 1.0, 2.0, 4.0], 0.5) == pytest.approx(2.5)
    assert run.quantile([1.0, 2.0], 0.9) == pytest.approx(1.9)
    assert run.quantile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        run.quantile([], 0.5)


def test_end_to_end_quantiles_run_over_all_warm_executions():
    class _Run:
        setup_s, failed, attempted = 1.0, 0, 9

        def log(self, msg):
            self.msg = msg

    warm = {"samples": {False: {"a": [1.0, 9.0, 1.2], "b": [2.0, 2.2, 2.1],
                                "c": [3.0, 3.1, 2.9]}},
            "passes": 3, "window_s": 30.0}
    r = _Run()
    m = run.end_to_end(r, 5.0, warm)
    assert m["wall_s"][0] == pytest.approx(1.2 + 2.1 + 3.0)
    # sorted: 1.0 1.2 2.0 2.1 2.2 2.9 3.0 3.1 9.0; p90 sits at 7.2 of 0..8
    assert m["query_p50_s"][0] == pytest.approx(2.2)
    assert m["query_p90_s"][0] == pytest.approx(3.1 + 0.2 * (9.0 - 3.1))
    assert m["queries_per_min"][0] == pytest.approx(18.0)
    assert "over 9 warm executions in 3 passes" in r.msg


def test_result_line_carries_the_gated_end_to_end_metrics():
    import json

    class _Run:
        setup_s, failed, attempted = 1.0, 0, 3

        def log(self, msg):
            pass

    warm = {"samples": {False: {"a": [1.0, 2.0, 3.0]}}, "passes": 3, "window_s": 6.0}
    printed = set(run.end_to_end(_Run(), 5.0, warm))
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        gated = {m["name"] for m in json.load(fh)["end_to_end"]}
    assert gated == printed - set(run.UNGATED)


def test_warm_pass_count_is_fixed_by_the_seconds_and_even_when_traced():
    assert run.warm_pass_count(24, 2.6, traced=False) == 9
    assert run.warm_pass_count(24, 2.6, traced=True) == 10
    assert run.warm_pass_count(24, 4.6, traced=False) == 5
    assert run.warm_pass_count(1, 4.6, traced=False) == run.MIN_PASSES
    assert run.warm_pass_count(1, 4.6, traced=True) % 2 == 0


def test_each_query_is_traced_in_half_of_an_even_number_of_passes():
    for spec in WORKLOADS.values():
        queries = spec["queries"]
        for passes in (4, 6):
            for seed in (1, 2):
                traced = {q: 0 for q in queries}
                for p in range(1, passes + 1):
                    for q in pass_order(queries, seed, p):
                        traced[q] += run.traced_in_pass(queries.index(q), p)
                assert set(traced.values()) == {passes // 2}


def test_seed_gives_deterministic_order():
    queries = WORKLOADS["cohort_core"]["queries"]
    first = pass_order(queries, 7, 1)
    assert first == pass_order(queries, 7, 1)
    assert sorted(first) == sorted(queries)
    orders = {tuple(pass_order(queries, seed, p)) for seed in range(3) for p in range(3)}
    assert len(orders) > 1


def test_no_workload_query_shares_a_session_cache():
    from hds_functions_spark.bench_groups import SHARED_CACHE_GROUPS

    shared = {q for members in SHARED_CACHE_GROUPS.values() for q in members}
    for name, spec in WORKLOADS.items():
        assert not shared & set(spec["queries"]), name


def test_workload_queries_are_registered_with_oracles():
    from hds_functions_spark.registry import ORACLES, QUERIES
    import hds_functions_spark.registry_ext  # noqa: F401

    for spec in WORKLOADS.values():
        for q in spec["queries"]:
            assert q in QUERIES and q in ORACLES, q


def test_committed_inputs_cover_every_table_the_oracles_read():
    names = {f[: -len(".parquet")] for f in os.listdir(run.DATA_DIR)
             if f.endswith(".parquet")}
    assert names == {"region", "nation", "customer", "supplier", "part", "orders",
                     "lineitem", "events", "documents", "embeddings"}
