"""Tests of the benchmark's own logic. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common, fixtures, run  # noqa: E402
from perfbench.hooks import Traced, read_event_log  # noqa: E402
from perfbench.lifecycle import Lifecycle  # noqa: E402

# -- median / percentile rule ----------------------------------------------


def test_median_and_nearest_rank_percentile():
    assert common.median([3.0, 1.0, 2.0]) == 2.0
    assert common.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    values = [float(i) for i in range(1, 101)]
    assert common.percentile(values, 50) == 50.0
    assert common.percentile(values, 90) == 90.0
    assert common.percentile(values, 100) == 100.0
    assert common.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        common.median([])


def test_top_percentile_keeps_ten_samples_beyond_it():
    assert common.top_percentile(19) is None
    for n in (20, 54, 100, 1000):
        q = common.top_percentile(n)
        values = list(range(n))
        beyond = [v for v in values if v > common.percentile(values, q)]
        assert len(beyond) >= 10
    assert common.top_percentile(100) == 90
    assert common.top_percentile(1000) == 99


# -- warm-up accounting --------------------------------------------------


def test_pass_s_never_includes_the_cold_pass():
    walls = [30.0, 9.0, 8.0, 7.1]
    assert common.warm_passes(walls) == [9.0, 8.0, 7.1]
    assert common.median(common.warm_passes(walls)) == 8.0
    with pytest.raises(ValueError):
        common.warm_passes(walls[:1])
    # a fixed count, not one read from --seconds or a timer
    assert isinstance(run.WARM_PASSES, int) and run.WARM_PASSES >= 2


# -- result canonicalization ---------------------------------------------


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    d = common.digest(["id", "name", "x"], rows)
    assert d == common.digest(["x", "id", "name"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert d != common.digest(["id", "name", "x"], [(1, "a", 2.5), (2, "b", 0.0)])


def test_digest_canonicalizes_cells_like_the_parity_harness():
    import datetime

    import numpy as np

    def same(x, y):
        return common.digest(["c"], [(x,)]) == common.digest(["c"], [(y,)])

    assert same(3.0, 3) and same(float("nan"), None)
    assert same(np.int64(7), 7) and same(np.bool_(True), True) and same(np.float64(0.1), 0.1)
    assert not same(943.475, 943.48)
    assert same(datetime.datetime(2024, 1, 1, 3, 4, 5), "2024-01-01T03:04:05")
    assert same([1.0, None], "[1,<NULL>]")
    assert common.canon_rows(["c"], [(3.0,)]) == ["c", "3"]


def test_frame_digest_matches_row_digest():
    pd = pytest.importorskip("pandas")
    df = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    assert common.frame_digest(df) == common.digest(["a", "b"], [("x", 1), ("y", 2)])


# -- span self-time --------------------------------------------------------


def _span(name, start, end, parent=None):
    return common.Span(name, start, end, parent, "t")


def test_self_time_subtracts_covered_child_interval_once():
    spans = [
        _span("op", 0.0, 10.0),
        _span("build", 1.0, 4.0, parent=0),
        _span("fetch", 3.0, 6.0, parent=0),   # overlaps build: covered 1..6
        _span("inner", 4.5, 5.5, parent=2),   # grandchild: not the op's child
        _span("late", 9.0, 12.0, parent=0),   # clipped to the op's end
    ]
    st = common.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    summary = common.span_summary(spans)
    assert summary["op"] == pytest.approx({"count": 1, "total_s": 10.0, "self_s": 4.0})
    assert common.total_by_name(spans, "fetch") == pytest.approx(3.0)


def test_tracer_nests_spans_and_closes_them_in_order():
    tr = common.Tracer()
    tr.trace_id = "0/q"
    outer = tr.begin("outer")
    assert tr.wrap("inner", lambda x: x + 1)(1) == 2
    tr.finish(outer)
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[1].trace_id == "0/q"
    with pytest.raises(RuntimeError):
        a = tr.begin("a")
        tr.begin("b")
        tr.finish(a)


# -- metric names ------------------------------------------------------------


def test_benchmark_json_names_what_the_command_prints(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert spec["end_to_end"][0]["name"] == "setup_s"
    setup_bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in spec["end_to_end"])

    # the traced run's metrics, computed from an empty trace
    traced = Traced(str(tmp_path))
    os.makedirs(traced.event_dir)
    got = traced.metrics(window_s=1.0, cores=4, pipeline_ratio=0.0)
    assert set(got) | {"trace.overhead_s"} == set(run.PER_LAYER)

    record = {
        "trace": 0, "failed": 0, "attempted": 3,
        "end_to_end": {k: 1.5 for k in run.END_TO_END},
    }
    line = run.summary_line(record)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(e2e)
    assert all(v["unit"] == e2e[k] for k, v in line["metrics"].items())


def test_event_log_totals_only_the_tagged_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "perfbench/0/q/build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 10**8, "JVM GC Time": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
            "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 999}},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_app").write_text("")
    ev = read_event_log(str(tmp_path), "perfbench")
    assert (ev["jobs"], ev["stages"], ev["tasks"]) == (1, 1, 1)
    assert ev["jobs_by_phase"] == {"build": 1}
    assert (ev["run_ms"], ev["cpu_ns"], ev["gc_ms"]) == (200, 10**8, 5)
    assert (ev["shuffle_read"], ev["shuffle_write"], ev["spill"]) == (3, 3, 9)


# -- work-preserving seeds ---------------------------------------------------


def test_seeds_change_values_not_work():
    a, b = fixtures.lake_tables(1), fixtures.lake_tables(2)
    for name in a:
        assert a[name].num_rows == b[name].num_rows, name
        for col in a[name].column_names:
            ca, cb = a[name][col].to_pylist(), b[name][col].to_pylist()
            if col.endswith("key") or col in ("lang", "label", "event_type", "p_brand", "p_size"):
                assert len(set(map(str, ca))) == len(set(map(str, cb))), (name, col)
    da, db = a["documents"]["text"].to_pylist(), b["documents"]["text"].to_pylist()
    assert da != db
    assert sum(len(t.split()) for t in da) == sum(len(t.split()) for t in db)
    for o, c in zip(fixtures.DUP_ORIG, fixtures.DUP_COPY):
        assert da[c] == da[o] + " dup" and db[c] == db[o] + " dup"
    assert sorted(a["documents"]["lang"].to_pylist()) == sorted(b["documents"]["lang"].to_pylist())


def test_lifecycle_overlap_is_seed_independent():
    assert fixtures.expected_lifecycle(1) == fixtures.expected_lifecycle(7)
    rows = {s: sum(len(fixtures.lifecycle_rows(s, 3, k, 0)) for k in range(fixtures.FILES))
            for s in fixtures.LIFECYCLE_ROWS}
    assert rows == fixtures.LIFECYCLE_ROWS
    v0 = fixtures.lifecycle_rows("openalex", 3, 1, 0)
    v1 = fixtures.lifecycle_rows("openalex", 3, 1, 1)
    assert [r["doi"] for r in v0] == [r["doi"] for r in v1]
    assert v0 != v1


def test_lifecycle_citations_correlate_across_sources():
    oa = {r["doi"].split("doi.org/")[1]: r["cited_by_count"]
          for r in fixtures.lifecycle_rows("openalex", 5, 2, 0) if r["doi"]}
    s2 = {r["externalids"]["DOI"].lower(): r["citationcount"]
          for r in fixtures.lifecycle_rows("s2ag", 5, 2, 0) if r["externalids"]["DOI"]}
    both = sorted(oa.keys() & s2.keys())
    assert len(both) > 100
    assert statistics.correlation([oa[d] for d in both], [s2[d] for d in both]) > 0.8


def test_lifecycle_check_reads_the_cli_report():
    lc = Lifecycle(3, "/nonexistent", "code")
    exp = lc.expected
    text = "".join(f"{k.split('.', 1)[1]}: {v} rows staged\n" for k, v in exp.items() if k.startswith("staged."))
    text += f"unified_papers: {exp['unified_papers']} rows\nfulltext_papers: {exp['fulltext_papers']} rows\n"
    assert lc.check("cli update", (0, text)) is None
    assert "unified_papers" in lc.check("cli update", (0, text.replace(str(exp["unified_papers"]), "1")))
    assert "exit code 3" in lc.check("cli update", (3, text + "sanity FAIL: citation_corr\n"))


# -- cached inputs and recorded runs -----------------------------------------


def test_source_hash_follows_the_code(tmp_path):
    pkg = tmp_path / "perfbench"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    h = common.source_hash(str(tmp_path), ("perfbench",))
    (pkg / "__pycache__" / "a.cpython.pyc").write_text("junk")
    (pkg / "notes.txt").write_text("not code")
    assert common.source_hash(str(tmp_path), ("perfbench",)) == h
    (pkg / "a.py").write_text("x = 2\n")
    assert common.source_hash(str(tmp_path), ("perfbench",)) != h


def test_trace_baseline_uses_only_untraced_runs_of_the_same_code(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "CACHE", str(tmp_path))
    os.makedirs(tmp_path / "results")

    def rec(seed, trace, code, run_s):
        return {"seed": seed, "trace": trace, "code": code, "end_to_end": {"run_s": run_s}}

    records = [
        rec(1, 0, "old", 10.0),   # other code: never used
        rec(2, 0, "new", 40.0),
        rec(3, 0, "new", 60.0),
        rec(1, 1, "new", 99.0),   # a traced run: never a baseline
    ]
    with open(run._results_path("library_sf001"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in records)
    args = type("Args", (), {"workload": "library_sf001", "seed": 1, "seconds": 50})()
    assert run._untraced_baseline(args, "new")[0] == 50.0  # median over seeds 2 and 3

    # records are appended, never overwritten; a rerun of seed 1 is preferred
    with open(run._results_path("library_sf001"), "a") as f:
        f.write(json.dumps(rec(1, 0, "new", 44.0)) + "\n")
    assert len(run._recorded_runs("library_sf001")) == 5
    assert run._untraced_baseline(args, "new")[0] == 44.0


# -- the command -------------------------------------------------------------


def test_command_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "library_sf001", "--seed", "1",
         "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
