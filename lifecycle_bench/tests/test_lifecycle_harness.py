"""Harness rules: statistics, metric names, BENCHMARK.json, spans.

    python -m pytest lifecycle_bench/tests -q
"""

import json
import math
import os
import statistics

import pytest

import run
import spans
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- statistics ------------------------------------------------------------

def test_no_percentile_below_eleven_samples():
    for n in range(1, 11):
        assert stats.high_percentile(list(range(n))) is None


def test_high_percentile_keeps_ten_samples_beyond():
    for n in range(11, 400):
        vals = [float(i) for i in range(n)]
        p, v = stats.high_percentile(vals)
        rank = math.ceil(p / 100 * n) - 1
        assert v == vals[rank]
        assert n - 1 - rank >= stats.TAIL_SAMPLES
        if p < 99:  # the next percentile up would lose the tail
            assert n - math.ceil((p + 1) / 100 * n) < stats.TAIL_SAMPLES


def test_high_percentile_ignores_input_order():
    vals = [5.0, 1.0, 9.0, 3.0] * 10
    assert stats.high_percentile(vals) == stats.high_percentile(sorted(vals))


def test_summarize():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "n": 3}
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["median"] == 49.5
    assert s["p"] == 90 and s["p_value"] == 89.0
    with pytest.raises(ValueError):
        stats.summarize([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 12.0, 9.9, 10.4, 10.1, 10.8, 9.7]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx(
        (q3 - q1) / statistics.median(vals))
    assert stats.quartile_spread([4.0] * 10) == 0.0
    assert stats.quartile_spread([4.0]) == 0.0


# --- metric-name rules -----------------------------------------------------

@pytest.mark.parametrize("name,ok", [
    ("job_s", True), ("kernels.block.gather_test_ns.1048576", True),
    ("9lives", True), ("a" * 64, True), ("a" * 65, False),
    ("_x", False), (".x", False), ("x y", False), ("x/y", False), ("", False),
])
def test_metric_names(name, ok):
    assert stats.valid_name(name) is ok


@pytest.mark.parametrize("unit,ok", [
    ("s", True), ("keys/s", True), ("%", True), ("ns/key", True),
    ("count", True), ("a" * 17, False), ("bit key", False), ("", False),
])
def test_metric_units(unit, ok):
    assert stats.valid_unit(unit) is ok


def test_check_metric_specs_flags_each_rule():
    good = {"name": "job_s", "unit": "s", "better": "lower", "bound": 0.2}
    assert stats.check_metric_specs([good], bounded=True) == []
    bad = [dict(good, bound=0.3), dict(good, name="job_s"),
           dict(good, name="x", better="up"), dict(good, name="y", unit="")]
    problems = stats.check_metric_specs(bad, bounded=True)
    assert any("bound" in p for p in problems)
    assert any("used twice" in p for p in problems)
    assert any("better" in p for p in problems)
    assert any("unit" in p for p in problems)
    assert stats.check_metric_specs([good], bounded=False)  # extra key


# --- BENCHMARK.json against the harness ------------------------------------

def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["lifecycle_bench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert [w["name"] for w in spec["workloads"]] == list(
        run.BENCHMARK_WORKLOADS)
    assert set(run.BENCHMARK_WORKLOADS) <= set(run.WORKLOAD_NAMES)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for arg in spec["command"]:
        assert not arg.startswith("/") and ".." not in arg


def test_benchmark_json_metrics_match_harness():
    spec = _spec()
    assert stats.check_metric_specs(spec["end_to_end"], bounded=True) == []
    assert stats.check_metric_specs(spec["per_layer"], bounded=False) == []
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert not set(e2e) & set(layer)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# --- spans and event-log attribution ---------------------------------------

def test_spans_nest_and_sum():
    t = spans.Tracer(traced=False)
    t.iteration = 0
    with t.span("iteration"):
        with t.span("build"):
            with t.span("call"):
                pass
        with t.span("probe"):
            pass
    names = {s["name"]: s for s in t.spans}
    assert names["call"]["parent"] == names["build"]["id"]
    assert [s["name"] for s in t.top_level(0)] == ["build", "probe"]
    assert t.descendants(names["build"]["id"]) == {
        names["build"]["id"], names["call"]["id"]}
    top = sum(s["end"] - s["start"] for s in t.top_level(0))
    assert top <= t.seconds("iteration", 0)


def test_stage_costs_attribute_tasks_to_spans(tmp_path):
    def stage(sid, desc):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0},
                "Properties": {"spark.job.description": desc}}

    def task(sid, ms, written):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Stage Attempt ID": 0,
                "Task Metrics": {"Executor Run Time": ms,
                                 "Executor CPU Time": ms * 10 ** 6,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": written},
                                 "Shuffle Read Metrics":
                                     {"Remote Bytes Read": 0,
                                      "Local Bytes Read": 5}}}

    events = [stage(1, f"{spans.JOB_PREFIX}3:build"), task(1, 1500, 100),
              task(1, 500, 20), stage(2, "someone else"), task(2, 9000, 1),
              stage(4, f"{spans.JOB_PREFIX}7:probe"), task(4, 250, 0)]
    (tmp_path / "local-123").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    costs = spans.stage_costs(str(tmp_path), "local-123")
    assert set(costs) == {3, 7}
    assert costs[3]["exec_s"] == pytest.approx(2.0)
    assert costs[3]["shuffle_write"] == 120
    assert costs[3]["shuffle_read"] == 10
    assert costs[3]["tasks"] == 2
    assert costs[7]["exec_s"] == pytest.approx(0.25)
    with pytest.raises(FileNotFoundError):
        spans.stage_costs(str(tmp_path), "local-999")


def test_process_tree_contains_self():
    assert os.getpid() in spans.process_tree(os.getpid())
    assert spans.tree_peak_rss_mb(os.getpid()) > 0


def test_table_only_metrics_stay_out_of_benchmark_json():
    spec = _spec()
    names = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert not set(run.TABLE_ONLY) & set(run.END_TO_END)
    assert "semijoin_s" not in names and "sketch_rows_per_s" not in names


# --- the query pass --------------------------------------------------------

def test_generated_tables_are_seeded_and_shaped():
    import tables
    a, b = tables.build_tables(5, 0.001), tables.build_tables(5, 0.001)
    assert set(a) == set(tables.TABLES)
    for name in tables.TABLES:
        assert a[name].equals(b[name])
    assert not a["orders"].equals(tables.build_tables(6, 0.001)["orders"])
    assert a["lineitem"].num_rows == 6000
    assert tables.build_tables(5, 0.01)["lineitem"].num_rows == 60_000
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_query_metrics_cover_every_group():
    import queries
    units = queries.metric_units()
    assert all(stats.valid_name(n) for n in units)
    for group, names in queries.QUERY_GROUPS.items():
        assert f"queries.{group}_s" in units
        for q in names:
            assert units[f"q.{q}_s"] == "s"
            assert units[f"q.{q}.leaked_rdds"] == "count"


def test_summary_reports_tracing_overhead(tmp_path):
    import spread
    path = str(tmp_path / "summary.json")
    spread.merge_summary(path, "w", {"job_s": [10.0, 12.0, 11.0]})
    spread.merge_summary(path, "w.trace", {"iter.job_s_traced": [12.1]})
    with open(path) as fh:
        summary = json.load(fh)
    assert summary["w"]["job_s"]["median"] == 11.0
    assert summary["w"]["tracing_overhead_frac"] == pytest.approx(0.1)
