import json
from pathlib import Path

import pytest
from spans import Tracer, covered, fold, layer_table, parse_events, read_events

DATA = Path(__file__).parent / "data"


def span(sid, name, layer, start, end, parent=None):
    return {"id": sid, "name": name, "layer": layer, "op": None,
            "parent": parent, "start": start, "end": end}


def job(jid, submit, stages, group=None, rdds=()):
    props = {"callSite.short": f"collect at q{jid}"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
            "Stage IDs": list(stages), "Properties": props,
            "Stage Infos": [{"RDD Info": [{"Name": n} for n in rdds]}]}


def stage(sid, submit, complete, run_ms, tasks=4, rdds=()):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Submission Time": submit, "Completion Time": complete,
        "Number of Tasks": tasks,
        "Accumulables": [
            {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
            {"Name": "internal.metrics.executorCpuTime", "Value": run_ms * 1e6},
        ],
        "RDD Info": [{"Name": n} for n in rdds]}}


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_fold_by_job_group_then_by_time_window():
    spans = [
        span(0, "pass0", "bench", 0, 1000),
        span(1, "plans.g01", "plans", 100, 400, parent=0),
        span(2, "model.star.materialize_warehouse", "model.star", 500, 900, parent=0),
    ]
    events = [
        job(0, 150, [0], group="1"),
        # a library thread pool: no job group, folded by time window
        job(1, 600, [1], rdds=["In-memory table fact_311_complaint"]),
        # submitted outside every op span: the enclosing pass gets it
        job(2, 950, [2]),
        stage(0, 150, 300, 800),
        stage(1, 600, 800, 1200, rdds=["In-memory table fact_311_complaint"]),
        stage(2, 950, 990, 40),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
    ]
    jobs, stages = parse_events(events)
    out = {s["name"]: s for s in fold(spans, jobs, stages, cores=4)}
    g01, build, pass0 = out["plans.g01"], out["model.star.materialize_warehouse"], out["pass0"]
    assert g01["exec_run_s"] == pytest.approx(0.8) and g01["fill_stages"] == 0
    assert build["exec_run_s"] == pytest.approx(1.2)
    assert build["fill_stages"] == 1 and build["fill_tables"] == ["fact_311_complaint"]
    assert build["fill_s"] == pytest.approx(0.2) and build["failed_tasks"] == 1
    assert pass0["exec_run_s"] == pytest.approx(0.04)
    # self time: the pass minus its two children
    assert pass0["self_s"] == pytest.approx(1.0 - 0.3 - 0.4)
    assert g01["busy_ratio"] == pytest.approx(0.8 / (0.3 * 4))
    table = layer_table(list(out.values()), ("plans", "model.star"), cores=4)
    assert table["plans.tasks"] == 4 and table["model.star.failed_tasks"] == 1


def test_tracer_nests_spans():
    tr = Tracer()
    with tr.span("pass0", "bench"):
        with tr.span("plans.g01", "plans", "g01") as s:
            assert s["parent"] == 0
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_fold_captured_sf0001_log():
    """A traced star_query run on the sf0.001-sized inputs: every
    completed stage lands in a span, every warehouse build shows its
    cache-fill stages, and self time never exceeds wall time."""
    spans = json.loads((DATA / "star_query-sf0001-spans.json").read_text())
    jobs, stages = parse_events(read_events(str(DATA / "star_query-sf0001-events.jsonl.gz")))
    folded = fold(spans, jobs, stages, cores=4)
    assert stages and sum(s["tasks"] for s in folded) == sum(
        st["tasks"] for st in stages.values()
    )
    builds = [s for s in folded if s["layer"] == "model.star"]
    assert builds and all(s["fill_stages"] > 0 for s in builds)
    queries = [s for s in folded if s["layer"] == "plans"]
    assert len(queries) >= 13 and all(s["tasks"] > 0 for s in queries)
    for s in folded:
        assert -1e-6 <= s["self_s"] <= s["wall_s"] + 1e-6
        assert s["busy_ratio"] >= 0
