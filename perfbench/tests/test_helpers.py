"""Unit tests for the benchmark's own helpers.  No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.harness import percentile, tail_percentile, timing_summary  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer,
    covered,
    job_totals,
    progress_summary,
    read_event_log,
)


# -- self-time arithmetic ----------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    # children reaching outside the parent count only inside it
    assert covered(2, 6, [(0, 3), (5, 9)]) == 2
    assert covered(0, 10, [(4, 4), (6, 5)]) == 0


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    parent = tr.add("p", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, parent.span_id)
    tr.add("b", 3.0, 6.0, parent.span_id)   # overlaps a
    grand = tr.add("c", 8.0, 9.0, parent.span_id)
    tr.add("d", 8.2, 8.4, grand.span_id)    # grandchild: not subtracted twice
    assert tr.self_time(parent) == pytest.approx(10 - 5 - 1)
    assert tr.self_time(grand) == pytest.approx(0.8)


def test_wrap_nests_spans_and_patch_restores():
    import types

    mod = types.SimpleNamespace()

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    tr = Tracer()
    tr.patch(mod, "inner", "inner")
    tr.patch(mod, "outer", "outer")
    assert mod.outer(1) == 4
    (o,), (i,) = tr.named("outer"), tr.named("inner")
    assert i.parent == o.span_id and o.parent is None
    assert o.start <= i.start <= i.end <= o.end
    tr.unpatch(keep=1)
    assert mod.inner is not inner and mod.outer is outer
    tr.unpatch()
    assert mod.inner is inner


def test_patch_inherited_method_restores_inheritance():
    class Base:
        def f(self):
            return "base"

    class Child(Base):
        pass

    tr = Tracer()
    tr.patch(Child, "f", "f")
    assert Child().f() == "base" and Base.f is not Child.f
    tr.unpatch()
    assert "f" not in vars(Child) and Child().f() == "base"


def test_adopt_picks_innermost_container():
    tr = Tracer()
    outer = tr.add("batch", 0, 10)
    inner = tr.add("commit", 2, 5)
    job = tr.add("job", 3, 4)
    tr.adopt(job, [outer, inner])
    assert job.parent == inner.span_id
    late = tr.add("job", 11, 12)
    tr.adopt(late, [outer, inner])
    assert late.parent is None


# -- listener aggregation ----------------------------------------------------

def _progress(batch, rows, add_ms, ops):
    return {"batchId": batch, "numInputRows": rows,
            "durationMs": {"addBatch": add_ms, "queryPlanning": 10,
                           "walCommit": 5, "commitOffsets": 7,
                           "triggerExecution": add_ms + 30},
            "stateOperators": ops}


def test_progress_summary_sums_batches_and_operators():
    dedup = {"operatorName": "dedupeWithinWatermark", "numRowsUpdated": 90,
             "numRowsDroppedByWatermark": 3, "allUpdatesTimeMs": 400,
             "commitTimeMs": 200, "memoryUsedBytes": 1000,
             "numStateStoreInstances": 64}
    agg = {"operatorName": "stateStoreSave", "numRowsUpdated": 10,
           "allUpdatesTimeMs": 100, "commitTimeMs": 50, "memoryUsedBytes": 10,
           "numShufflePartitions": 64}
    s = progress_summary([_progress(0, 100, 1000, [dedup, agg]),
                          _progress(1, 0, 500, [dict(dedup, numRowsUpdated=0,
                                                     memoryUsedBytes=700)])])
    assert s["batches"] == 2 and s["input_rows"] == 100
    assert s["add_batch_s"] == pytest.approx(1.5)
    assert s["planning_s"] == pytest.approx(0.02)
    assert s["log_commit_s"] == pytest.approx(0.024)
    assert s["trigger_s"] == pytest.approx(1.56)
    assert s["store_commits"] == 64 * 3
    d = s["ops"]["dedupeWithinWatermark"]
    assert d["rows_updated"] == 90 and d["rows_dropped_late"] == 6
    assert d["update_s"] == pytest.approx(0.8) and d["commit_s"] == pytest.approx(0.4)
    assert d["state_bytes"] == 1000
    assert s["ops"]["stateStoreSave"]["rows_updated"] == 10


def test_progress_summary_empty():
    s = progress_summary([])
    assert s["batches"] == 0 and s["ops"] == {} and s["store_commits"] == 0


def test_event_log_jobs_and_totals(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"sql.streaming.queryId": "q",
                                             "spark.job.description": "d"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 100_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 50_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task Metrics": {
            "Executor Run Time": 999}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    (job,) = read_event_log(str(tmp_path))
    assert (job.start, job.end) == (1.0, 2.5)
    assert job.query_id == "q" and job.description == "d"
    assert job.run_s == pytest.approx(0.5) and job.cpu_s == pytest.approx(0.15)
    t = job_totals([job])
    assert t == {"task_cpu_frac": pytest.approx(0.3), "shuffle_write_bytes": 64}
    assert job_totals([])["task_cpu_frac"] == 0.0


# -- percentile sample counts ------------------------------------------------

@pytest.mark.parametrize("n,want", [
    (1, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= 10 - 1e-9


def test_percentile_interpolates():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile(range(101), 90) == 90
    with pytest.raises(ValueError):
        percentile([], 50)


def test_timing_summary_reports_tail_only_when_supported():
    assert timing_summary([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}
    s = timing_summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5 and "p90" in s


# -- output-check helpers ----------------------------------------------------

def test_expected_admission_counts_digest_rejections_and_collapses():
    import pandas as pd

    from perfbench.workloads import expected_admission

    b0 = pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": ["a", "b", "b", "c"]})
    b1 = pd.DataFrame({"doc_id": [4, 5, 6, 7], "text": ["a", "a", "c", "d"]})
    # "c" (id 3) was rejected as a near duplicate: it is not in the corpus,
    # so its re-crawl is not the digest index's to reject
    corpus = pd.DataFrame({"doc_id": [0, 1, 7], "text": ["a", "b", "d"]})
    assert expected_admission([b0, b1], corpus) == (1, 2)


def test_edges_equal_keys_exact_importance_close():
    import pandas as pd

    from perfbench.workloads import _edges_equal

    e = pd.DataFrame({"group_key": ["h"], "win_start": [3], "parent": ["x"], "child": ["y"],
                      "lag": [1], "importance": [0.5],
                      "win_start_ts": pd.to_datetime([0]).astype("datetime64[ns]")})
    assert _edges_equal(e, e.assign(importance=0.5 * (1 + 1e-12)))
    assert not _edges_equal(e, e.assign(importance=0.5001))
    assert not _edges_equal(e, e.assign(lag=2))
    assert not _edges_equal(e, e.iloc[:0])


def test_features_key_sees_the_last_bit():
    import pandas as pd

    from perfbench.workloads import _features_key

    f = pd.DataFrame({"group_key": ["h", "h"], "bucket_idx": [1, 2],
                      "features": [[1.0, 0.1], [2.0, 0.2]]})
    g = f.assign(features=[[1.0, 0.1], [2.0, 0.2 + 2 ** -55]])
    assert _features_key(f) == _features_key(f.copy())
    assert _features_key(f) != _features_key(g)


def test_host_sample_takes_every_fourth_host_and_the_busiest():
    import pandas as pd

    from perfbench.workloads import _host_sample

    hosts = [f"h{i}" for i in range(8)]
    staged = pd.DataFrame({"group_key": hosts + ["h5"], "bucket_idx": [1] * 8 + [2],
                           "features": [[1.0, 0.0]] * 8 + [[9.0, 0.0]]})
    got = _host_sample(staged)
    assert sorted(set(got["group_key"])) == ["h0", "h4", "h5"]
    assert len(got) == 4


def test_watermark_seconds():
    import types

    from perfbench.workloads import _watermark_s

    assert _watermark_s(types.SimpleNamespace(watermark="5 minutes")) == 300
    assert _watermark_s(types.SimpleNamespace(watermark="1 hour")) == 3600


# -- BENCHMARK.json matches what the runner prints ---------------------------

def test_benchmark_json_names_match_runner():
    from perfbench.run import END_TO_END, _unit
    from perfbench.workloads import ALL_LAYERS, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, _unit(n)) for n in ALL_LAYERS]
