"""Tests of the benchmark's own parts: the input generator, the
percentile rule, the /proc CPU reader and the event-log folding.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

# ------------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_declares_what_run_prints():
    with open(os.path.join(run.runtime.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    for key, printed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in declared[key]} == printed
    assert sorted(w["name"] for w in declared["workloads"]) == sorted(run.WORKLOADS)

# ------------------------------------------------------------------ generator


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    ea, eb, ec = gen.make_wide_csv(str(a), 7, 20), gen.make_wide_csv(str(b), 7, 20), gen.make_wide_csv(str(c), 8, 20)
    assert a.read_bytes() == b.read_bytes()
    assert ea == eb
    assert a.read_bytes() != c.read_bytes()
    assert ea.coverage_tenths != ec.coverage_tenths


def test_expected_counts_match_a_pandas_etl(tmp_path):
    path = tmp_path / "wide.csv"
    exp = gen.make_wide_csv(str(path), 3, 60)
    wide = pd.read_csv(path)
    # the cases the expectations must handle are really in the input
    assert wide.duplicated(["entity", "year"]).any()
    assert (wide["year"] < gen.YEAR_MIN).any()
    assert wide.filter(like="coverage__").isna().to_numpy().any()

    tidy = (
        wide.melt(id_vars=["entity", "year"], value_vars=[c for c in wide if c.startswith("coverage__")],
                  var_name="antigen", value_name="coverage_pct")
        .dropna(subset=["coverage_pct"])
    )
    tidy = tidy[tidy["year"].between(gen.YEAR_MIN, gen.YEAR_MAX)]
    tidy = tidy.drop_duplicates(["entity", "antigen", "year"])
    assert len(tidy) == exp.clean_rows
    assert int((tidy["coverage_pct"] * 10).round().sum()) == exp.coverage_tenths
    assert sum(len(s) for s in exp.series.values()) == exp.clean_rows
    row = tidy.iloc[0]
    assert exp.series[(row["entity"], row["antigen"])][row["year"]] == row["coverage_pct"]


def test_request_plan_mix_and_determinism():
    pairs = [(gen.entity_name(i), gen.antigen_name(j)) for i in range(30) for j in range(3)]
    plan = gen.request_plan(5, 0, pairs, 200)
    assert plan == gen.request_plan(5, 0, pairs, 200)
    assert plan != gen.request_plan(5, 1, pairs, 200)
    kinds = [r.kind for r in plan]
    assert kinds.count("index") == 10 and kinds.count("unknown") == 4
    assert all(r.pair not in pairs for r in plan if r.kind == "unknown")
    assert all(r.status == (404 if r.kind == "unknown" else 200) for r in plan)
    # the short plans a run may send still hold every kind
    assert {r.kind for r in plan[:6]} == {"index", "unknown", "dashboard"}


# ------------------------------------------------------------ percentile rule


@pytest.mark.parametrize(
    "n, tail_pct",
    [(1, None), (10, None), (11, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, tail_pct):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    out = measure.summarize(samples)
    assert out["n"] == n and out["p50"] == (n + 1) / 2
    assert out.get("tail_pct") == tail_pct
    if tail_pct is not None:
        beyond = [x for x in samples if x > out["tail"]]
        assert len(beyond) >= 10
        assert out["tail"] == float(math.ceil(round(tail_pct * n / 100, 9)))  # nearest rank


# ----------------------------------------------------------------- /proc CPU


def test_tree_cpu_counts_a_busy_child_alive_and_reaped():
    me = os.getpid()
    before = measure.tree_cpu_s(me)
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.6: pass\nimport sys; sys.stdin.read()"],
        stdin=subprocess.PIPE,
    )
    try:
        deadline = time.time() + 30
        while measure.tree_cpu_s(me) - before < 0.5 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in measure.tree(me)
        alive = measure.cpu_split(me)
        assert alive["jvm"] == alive["pyworker"] == 0.0
        assert measure.tree_cpu_s(me) - before >= 0.5
    finally:
        child.communicate(b"", timeout=30)
    # reaped: its time now sits in this process's cutime
    assert child.pid not in measure.tree(me)
    assert measure.tree_cpu_s(me) - before >= 0.5
    assert measure.tree_peak_rss_mb(me) > 0


# --------------------------------------------------------- event-log folding


def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "A"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor CPU Time": 200_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "B"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 2000, "Completion Time": 2600}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 2400, "Completion Time": 3000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 1_000_000_000,
                          "Shuffle Read Metrics": {"Local Bytes Read": 40, "Remote Bytes Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor CPU Time": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor CPU Time": 9}},
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_folds_by_job_group(tmp_path):
    _event_log(tmp_path / "local-1")
    groups = spans.fold_event_log(str(tmp_path))
    assert set(groups) == {"A", "B"}
    a, b = groups["A"], groups["B"]
    assert (a["jobs"], a["tasks"], a["shuffle_bytes"]) == (1, 1, 100)
    assert a["cpu_s"] == pytest.approx(0.2) and a["stages"] == [(1.0, 1.5)]
    assert (b["jobs"], b["tasks"], b["shuffle_bytes"]) == (1, 2, 42)
    assert b["cpu_s"] == pytest.approx(1.0)
    assert spans.union_length(b["stages"], 1.0, 5.0) == pytest.approx(1.0)
    assert spans.union_length(b["stages"], 2.5, 5.0) == pytest.approx(0.5)


def test_layer_metrics_reparent_server_spans_and_cover_ops():
    def s(id_, name, parent, start, end, **kw):
        return {"id": id_, "name": name, "parent": parent, "start": start, "end": end, **kw}

    recorded = [
        s("c1", "op.request", None, 10.0, 11.0, rid="r1", phase="timed"),
        s("s1", "serve.handler", None, 10.01, 10.99, rid="r1"),
        s("s2", "serve.lock_wait", "s1", 10.02, 10.12),
        s("s3", "analytics.series", "s1", 10.2, 10.4),
        s("s4", "analytics.compare", "s1", 10.5, 10.9, pyworker_cpu_s=0.05),
    ]
    groups = {"s3": {"jobs": 2, "tasks": 3, "stages": [(10.25, 10.35)], "cpu_s": 0.1,
                     "shuffle_bytes": 7},
              "s4": {"jobs": 1, "tasks": 1, "stages": [(10.6, 10.8)], "cpu_s": 0.2,
                     "shuffle_bytes": 0}}
    m = spans.layer_metrics(recorded, groups, "op.request")
    assert m["serve.http_ms"] == pytest.approx(20.0)
    assert m["serve.lock_wait_ms"] == pytest.approx(100.0)
    assert m["analytics.series_ms"] == pytest.approx(200.0)
    assert m["stats.pyworker_cpu_ms"] == pytest.approx(50.0)
    assert m["analytics.jobs_per_req"] == 3
    assert m["spark.stage_busy_s"] == pytest.approx(0.3)
    assert m["spark.outside_stage_s"] == pytest.approx(0.7)
    assert (m["spark.tasks"], m["spark.shuffle_bytes"]) == (4, 7)
    # the handler's own time (0.98 s minus 0.7 s of layer spans) is the gap
    assert m["trace.coverage"] == pytest.approx(0.72)
