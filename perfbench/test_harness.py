"""Unit tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402


def test_percentile_reports_value_and_sample_count():
    assert harness.percentile([4, 1, 3, 2], 50) == (2.5, 4)
    assert harness.percentile([4, 1, 3, 2], 100) == (4.0, 4)
    assert harness.percentile([4, 1, 3, 2], 0) == (1.0, 4)
    assert harness.percentile([7], 90) == (7.0, 1)
    assert harness.percentile(range(11), 90) == (9.0, 11)
    with pytest.raises(ValueError):
        harness.percentile([], 50)
    with pytest.raises(ValueError):
        harness.percentile([1], 101)


def test_self_time_subtracts_children_once():
    t = harness.Tracer(enabled=True)
    root = t.add("root", 0.0, 10.0)
    a = t.add("a", 1.0, 4.0, parent=root)
    t.add("b", 3.0, 6.0, parent=root)  # overlaps a: the union 1-6 counts once
    t.add("a.child", 2.0, 3.0, parent=a)
    t.add("late", 9.0, 12.0, parent=root)  # clipped to the parent's end
    st = harness.self_times(t.spans)
    assert st[root] == pytest.approx(10 - 5 - 1)
    assert st[a] == pytest.approx(3 - 1)
    rollup = harness.self_time_rollup(t.spans)
    assert rollup["root"] == {"count": 1, "total_s": 10.0, "self_s": pytest.approx(4.0)}
    assert rollup["a.child"]["self_s"] == pytest.approx(1.0)


def test_tracer_nests_spans_per_thread_and_writes_them(tmp_path):
    t = harness.Tracer(enabled=True)
    with t.span("outer", trace_id="e0") as outer:
        with t.span("inner", trace_id="e0") as inner:
            pass
    assert t.spans[inner]["parent"] == outer
    assert t.spans[outer]["parent"] is None
    path = tmp_path / "spans.json"
    t.write(str(path))
    doc = json.loads(path.read_text())
    assert [s["name"] for s in doc["spans"]] == ["outer", "inner"]
    assert doc["self_time"]["inner"]["count"] == 1
    off = harness.Tracer(enabled=False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


class FakeClock:
    def __init__(self, now):
        self.now = now

    def __call__(self):
        return self.now

    def sleep(self, s):
        assert s > 0
        self.now += s


def test_release_schedule_keeps_its_timetable_and_reports_lateness():
    clock = FakeClock(100.0)
    cost = {"a": 0.2, "b": 1.5, "c": 0.2}

    def release(item):
        clock.now += cost[item]

    sched = harness.ReleaseSchedule(["a", "b", "c"], 1.0, release, clock=clock, sleep=clock.sleep)
    sched.run(100.0)
    # a slow release delays the next one but never shifts the timetable
    assert sched.due == [100.0, 101.0, 102.0]
    assert sched.lateness() == pytest.approx([0.2, 1.5, 0.7])


def test_job_counter_counts_an_action_with_known_jobs():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        jc = harness.JobCounter(sc)
        with jc.group("two-jobs") as gid:
            sc.parallelize(range(10), 3).count()
            sc.parallelize(range(10), 2).collect()
        sc.parallelize(range(10), 4).count()  # outside the group
        assert jc.counts(gid) == (2, 5)
    finally:
        harness.stop_spark(spark)


def test_stop_spark_ends_the_jvm_and_its_workers():
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    jvm = SparkContext._gateway.proc.pid
    spark.sparkContext.parallelize(range(4), 1).map(lambda x: x + 1).count()  # a Python worker
    assert jvm in harness.descendants(os.getpid())
    harness.stop_spark(spark)
    assert harness.descendants(os.getpid()) == set()


def test_end_processes_escalates_past_the_grace_period():
    import subprocess

    p = subprocess.Popen(["sleep", "60"])
    harness.end_processes([p.pid], timeout=0.2)
    assert p.poll() is not None


def test_state_check_demands_exact_token_arrays():
    import workloads

    want = pd.DataFrame({
        "doc_id": ["d1", "d2"],
        "tokens": [np.array([1, 2], np.int32), np.array([3], np.int32)],
        "n_tok": [2, 1],
        "source": ["web", "wiki"],
        "lang": [None, "en"],
    })
    got = want.iloc[::-1].copy()
    got["tokens"] = [[3], [1, 2]]
    assert workloads.state_mismatch(got, want) is None
    bad = got.copy()
    bad["tokens"] = [[3], [1, 3]]
    assert "tokens differ for d1" in workloads.state_mismatch(bad, want)
    assert "doc_id sets differ" in workloads.state_mismatch(got.iloc[:1], want)
    lang = got.copy()
    lang["lang"] = ["en", "en"]
    assert "lang differs for d1" in workloads.state_mismatch(lang, want)


def test_vocab_recompute_counts_documents_and_occurrences():
    import workloads

    state = pd.DataFrame({"doc_id": ["a", "b"], "tokens": [[5, 5, 7], [7, 9]]})
    v = workloads.vocab_from_state(state)
    assert v.to_dict("list") == {"tok": [5, 7, 9], "n_docs": [1, 2, 1], "n_occ": [2, 2, 1]}
    got = v.rename(columns={}).iloc[::-1]
    assert workloads.vocab_mismatch(got, state) is None
    off = v.copy()
    off.loc[1, "n_occ"] = 3
    assert "n_occ" in workloads.vocab_mismatch(off, state)


def test_metric_names_and_units_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
