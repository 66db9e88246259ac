"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end tests run the benchmark (two `analytics` runs of
30-50 s each on 4 cores) from the root of the checkout.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator ----------------------------------------------------------

def test_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        gen.generate(str(d), seed, 0.0005)
    files = [f"{t}.parquet" for t in gen.TABLES]
    assert sorted(os.listdir(a)) == sorted(files)
    same, diff, _ = filecmp.cmpfiles(a, b, files, shallow=False)
    assert same == files and not diff
    _, diff, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert "lineitem.parquet" in diff


# -- metric names -------------------------------------------------------

def test_benchmark_names_and_units():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]


# -- spans and self time ------------------------------------------------

def _span(sid, start, end, parent=None, layer="x"):
    return spans.Span(sid, f"s{sid}", layer, start, parent, 1, end=end)


def test_union_length():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10), (2, 3)]) == 10
    assert spans.union_length([(3, 3), (4, 2)]) == 0


def test_self_time_subtracts_covered_child_time():
    tree = [_span(1, 0.0, 10.0),
            _span(2, 1.0, 4.0, parent=1),
            _span(3, 3.0, 6.0, parent=1),   # overlaps its sibling
            _span(4, 2.0, 3.0, parent=2),
            _span(5, 9.0, 12.0, parent=1)]  # runs past its parent
    st = spans.self_times(tree)
    assert st[1] == pytest.approx(10 - 5 - 1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)
    assert st[5] == pytest.approx(3)


def test_layer_summary_counts_nested_calls_once():
    tree = [_span(1, 0.0, 10.0, layer="query"),
            _span(2, 1.0, 5.0, parent=1, layer="ops.text"),
            _span(3, 2.0, 4.0, parent=2, layer="ops.text")]
    s = spans.layer_summary(tree)
    assert s["ops.text"]["calls"] == 2
    assert s["ops.text"]["incl_s"] == pytest.approx(4)
    assert s["ops.text"]["self_s"] == pytest.approx(4)
    assert s["query"]["self_s"] == pytest.approx(6)


def test_index_roles():
    dedup = "conduino_spark.operators.dedup"
    assert spans.index_role(dedup, "minhash_index_merge") == ("minhash",
                                                             "merge")
    assert spans.index_role(dedup, "exact_index_write") == ("exact", "merge")
    assert spans.index_role(dedup, "dedup_exact_against") == ("exact",
                                                             "probe")
    assert spans.index_role("conduino_spark.operators.search",
                            "bm25_index_join") == ("bm25", "probe")
    assert spans.index_role(dedup, "minhash_dedup") is None


# -- event log ----------------------------------------------------------

def test_eventlog_parser_on_synthetic_log(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "pb:7"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1500,
                          "Executor CPU Time": 10 ** 9,
                          "JVM GC Time": 100,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 2048},
                          "Input Metrics": {"Bytes Read": 4096}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": True}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 3000},
    ]
    d = tmp_path / "events"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in evs))
    (d / ".local-1.crc").write_text("x")
    [path] = eventlog.log_files(str(d))
    [job] = eventlog.parse(path)
    assert job.description == "pb:7"
    assert (job.submit_ms, job.end_ms) == (1000, 3000)
    assert job.tasks == 2 and job.failed_tasks == 1
    assert job.task_s == pytest.approx(1.5)
    assert job.cpu_s == pytest.approx(1.0)
    assert job.gc_s == pytest.approx(0.1)
    assert (job.shuffle_write_b, job.input_b) == (2048, 4096)
    assert job.stages_skipped == 1


# -- end to end ---------------------------------------------------------

def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_every_benchmark_metric_is_printed(trace):
    b = _benchmark()
    res = _run("analytics", trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in b[key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    if trace:
        # the event-log parser read the run's jobs, and they were
        # attributed to the spans that launched them
        m = res["metrics"]
        assert m["exec.jobs"]["value"] > 0 and m["exec.tasks"]["value"] > 0
        assert m["ops.relational.calls"]["value"] > 0
        assert m["query.self_s"]["value"] > 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         "analytics", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
