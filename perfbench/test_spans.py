"""Tests of the benchmark's own arithmetic, on synthetic spans and jobs.

    python3 -m pytest perfbench -q

No Spark session is started.
"""

import json
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd
import pytest

import check
import run

sys.path.insert(0, str(run.ROOT))  # check.compare uses tools.compare
from spans import Span, Tracer, clip, job_wall_s, self_times, union_s


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_s([]) == 0.0
    assert union_s([(0, 1), (2, 3)]) == 2.0
    assert union_s([(0, 2), (1, 3)]) == 3.0
    assert union_s([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_s([(5, 6), (0, 1), (0.5, 2)]) == 3.0
    assert union_s([(1, 1), (2, 1)]) == 0.0


def test_clip_keeps_only_the_part_inside():
    assert clip([(0, 5), (6, 8), (9, 12)], 4, 10) == [(4, 5), (6, 8), (9, 10)]
    assert clip([(0, 1)], 2, 3) == []


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, None, "pass", 0.0, 10.0),
        Span(1, 0, "build", 0.0, 4.0),
        Span(2, 0, "execute", 4.0, 9.0),
        Span(3, 2, "job a", 4.5, 7.0),
        Span(4, 2, "job b", 6.0, 8.0),  # overlaps job a
        Span(5, 3, "stage", 4.5, 7.5),  # sticks out of its job
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(1.0)  # 10 - (4 + 5)
    assert got[1] == pytest.approx(4.0)
    assert got[2] == pytest.approx(1.5)  # 5 - union(4.5..8)
    assert got[3] == pytest.approx(0.0)  # the stage covers job a
    assert got[4] == pytest.approx(2.0)
    assert got[5] == pytest.approx(3.0)


def test_tracer_dump_carries_self_time_and_attrs():
    t = Tracer()
    root = t.add(None, "run", 0.0, 3.0, seed=7)
    t.add(root, "pass 1", 1.0, 2.0)
    rows = t.dump()
    assert rows[0]["self_s"] == pytest.approx(2.0)
    assert rows[0]["seed"] == 7
    assert rows[1]["parent"] == root


def _job(jid, name, start, end, run_s=1.0):
    stage = {"id": jid, "start": start, "end": end, "tasks": 4, "run_s": run_s,
             "cpu_s": run_s / 2, "gc_s": 0.1, "shuffle_write": 100, "shuffle_read": 50,
             "spill": 0, "input_rows": 10}
    return {"id": jid, "name": name, "status": "SUCCEEDED", "start": start, "end": end,
            "stages": [stage]}


def test_pass_layers_folds_jobs_by_phase_and_call_site():
    barrier = _job(1, "localCheckpoint at NativeMethodAccessorImpl.java:0", 0.5, 1.5)
    ml_round = _job(2, "toPandas at /src/reduction_dask_spark/ml.py:121", 1.0, 2.0)
    save = _job(3, "save at NativeMethodAccessorImpl.java:0", 3.0, 5.0, run_s=6.0)
    p = {
        "wall_s": 6.0,
        "queries": [{
            "name": "pipe1_corpus_curation",
            "released": 2,
            "catalyst": {"analysis": 0.1, "optimization": 0.2, "planning": 0.3, "exchanges": 4},
            "spans": {"build": (0.0, 2.5), "execute": (2.8, 5.2), "release": (5.2, 5.3)},
            "jobs": {"build": [barrier, ml_round], "execute": [save], "release": []},
            "write_bytes": 123,
        }],
    }
    m = run.pass_layers(p, "parquet")
    assert m["operators.build_s"] == pytest.approx(2.5)
    assert m["operators.build_jobs"] == 2
    assert m["operators.build_job_wall_s"] == pytest.approx(1.5)  # 0.5..2.0
    assert m["operators.build_driver_s"] == pytest.approx(1.0)
    assert m["caching.barrier_jobs"] == 1
    assert m["ml.driver_jobs"] == 1
    assert m["ml.driver_job_wall_s"] == pytest.approx(1.0)
    assert m["spark.jobs"] == 3
    assert m["spark.job_wall_s"] == pytest.approx(3.5)
    assert m["spark.driver_s"] == pytest.approx(2.5)
    assert m["spark.executor_run_s"] == pytest.approx(8.0)
    assert m["sources.write_s"] == pytest.approx(2.4)
    assert m["sources.write_bytes"] == 123
    assert m["catalyst.exchanges"] == 4
    assert m["trace.pass_unaccounted_s"] == pytest.approx(6.0 - 2.5 - 2.4 - 0.1)
    assert m["pipe1_corpus_curation.exec_s"] == pytest.approx(2.4)
    assert job_wall_s([barrier, ml_round, save]) == pytest.approx(3.5)


def test_fold_takes_the_median_over_traced_passes():
    def one_pass(build_s):
        return {"wall_s": 10.0, "queries": [{
            "name": "q1_pricing_summary", "released": 0,
            "spans": {"build": (0.0, build_s), "execute": (build_s, 9.0), "release": (9.0, 9.0)},
            "jobs": {},
        }]}

    m = run.fold_traced([one_pass(b) for b in (3.0, 1.0, 2.0, 8.0)], "noop")
    assert m["operators.build_s"] == pytest.approx(2.5)
    assert m["q1_pricing_summary.build_s"] == pytest.approx(2.5)
    assert m["spark.exec_s"] == pytest.approx(6.5)
    assert m["pipe1_corpus_curation.build_s"] == 0.0
    assert m["sources.write_s"] == 0.0
    assert set(m) == set(run.PER_LAYER)


def test_warm_figure_sums_each_querys_median():
    def rec(name, build_end, exec_end, cpu_s):
        spans = {"build": (0.0, build_end), "execute": (build_end, exec_end),
                 "release": (exec_end, exec_end + 0.5)}
        return {"name": name, "spans": spans, "cpu_s": cpu_s}

    passes = [
        {"queries": [rec("a", 1.0, 5.0, 9.0), rec("b", 0.5, 1.0, 2.0)]},
        {"queries": [rec("b", 0.5, 2.0, 1.0), rec("a", 1.0, 3.0, 4.0)]},
        {"queries": [rec("a", 1.0, 4.0, 5.0), rec("b", 0.5, 1.5, 3.0)]},
    ]
    total, medians = run.median_pass_s(passes)
    assert medians == pytest.approx({"a": 4.5, "b": 2.0})
    assert total == pytest.approx(6.5)
    assert run.median_pass_s(passes, lambda r: r["cpu_s"])[0] == pytest.approx(5.0 + 2.0)


@pytest.mark.skipif(not Path("/proc/self/stat").exists(), reason="needs /proc")
def test_tree_cpu_counts_child_processes():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ninput()"
    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 10
        while run.tree_cpu_s() - before < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert run.tree_cpu_s() - before >= 0.25
    finally:
        child.communicate(b"\n", timeout=10)


def test_oracle_compare_allows_only_float_rounding():
    want = pd.DataFrame({"k": [1, 2], "v": [1e9, 2.5]})
    assert check.compare(want.iloc[::-1].reset_index(drop=True), want) == []
    assert check.compare(want.assign(v=[1e9 + 0.01, 2.5]), want) == []
    assert check.compare(want.assign(v=[1e9 + 10, 2.5]), want)
    assert check.compare(want.assign(k=[1, 3]), want)
    assert check.compare(want.iloc[:1], want)
    assert check.check("no_such_query", want, {}, None)


def test_benchmark_json_lists_what_the_program_reports():
    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )
