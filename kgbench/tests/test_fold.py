"""The event-log folder on a small canned event log.

    python3 -m pytest kgbench/tests -q

Spans (seconds after T): run [0, 10] > pipeline.build [1, 9] >
{link.scored_edges [2, 5], check.build [6, 7]}.  Jobs: a link job inside
the link span, a processors/ job inside the pipeline span, a check job,
the pipeline's final job, and one job after the run, inside a runner
tail: tail [10.5, 12] > runner.cold [11, 11.8].
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from kgbench import layers, trace  # noqa: E402

T = 1_700_000_000
LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_small.jsonl")


def _span(i, name, layer, a, b, parent):
    return {"id": i, "name": name, "layer": layer, "start": T + a, "end": T + b,
            "parent": parent, "run_id": "canned"}


SPANS = [
    _span(0, "run", None, 0, 10, None),
    _span(1, "pipeline.build", "pipeline", 1, 9, 0),
    _span(2, "link.scored_edges", "link", 2, 5, 1),
    _span(3, "check.build", None, 6, 7, 1),
]
TAIL = [
    _span(4, "tail", None, 10.5, 12, None),
    _span(5, "runner.cold", "runner", 11, 11.8, 4),
]


@pytest.fixture(scope="module")
def folded():
    return trace.fold(trace.read_event_log(LOG), SPANS)


def test_self_times_sum_to_wall(folded):
    rows = folded["rows"]
    assert folded["wall_s"] == pytest.approx(10.0)
    assert sum(r["self_s"] for r in rows.values()) == pytest.approx(10.0)
    assert rows["pipeline"]["self_s"] == pytest.approx(4.0)
    assert rows["link"]["self_s"] == pytest.approx(3.0)
    # the root span's own time plus the check span
    assert rows["unattributed"]["self_s"] == pytest.approx(3.0)


def test_driver_time_is_self_time_outside_jobs(folded):
    rows = folded["rows"]
    assert rows["link"]["driver_s"] == pytest.approx(1.0)
    assert rows["pipeline"]["driver_s"] == pytest.approx(2.7)
    assert rows["unattributed"]["driver_s"] == pytest.approx(2.4)


def test_jobs_go_to_call_site_then_group(folded):
    rows = folded["rows"]
    assert rows["link"]["jobs"] == 1
    assert rows["link"]["tasks"] == 2
    assert rows["link"]["task_s"] == pytest.approx(2.0)
    assert rows["link"]["jvm_cpu_s"] == pytest.approx(1.0)
    assert rows["link"]["shuffle_mb"] == pytest.approx(2.0)
    assert rows["extract"]["jobs"] == 1
    assert rows["extract"]["arrow_mb"] == pytest.approx(4.0)
    assert rows["pipeline"]["jobs"] == 1
    assert rows["unattributed"]["jobs"] == 1
    # the job after the root span is not counted
    assert sum(r["jobs"] for r in rows.values()) == 4


def test_wall_is_outermost_span_of_a_layer(folded):
    rows = folded["rows"]
    assert rows["pipeline"]["wall_s"] == pytest.approx(8.0)
    assert rows["link"]["wall_s"] == pytest.approx(3.0)


def test_jobs_in_named_spans():
    events = trace.read_event_log(LOG)
    got = trace.jobs_in(events, SPANS, "pipeline.build")
    assert got == {"spans": 1, "jobs": 4, "tasks": 5}


def test_subtree_keeps_one_root_and_its_descendants():
    assert [s["id"] for s in trace.subtree(SPANS + TAIL, "run")] == [0, 1, 2, 3]
    assert [s["id"] for s in trace.subtree(SPANS + TAIL, "tail")] == [4, 5]


def test_per_layer_metrics_are_per_cycle():
    """Cycle layers are divided by the cycle count, the runner tail is
    folded on its own and not divided."""
    m = layers.per_layer(trace.read_event_log(LOG), SPANS + TAIL, {}, n_cycles=2)["metrics"]
    v = {k: x["value"] for k, x in m.items()}
    assert v["trace.cycle_s"] == pytest.approx(5.0)
    assert v["pipeline.self_s"] == pytest.approx(2.0)
    assert v["link.self_s"] == pytest.approx(1.5)
    assert v["link.shuffle_mb"] == pytest.approx(1.0)
    assert v["unattributed.self_s"] == pytest.approx(1.5)
    assert v["pipeline.jobs"] == 4  # per pipeline.build span
    assert v["runner.self_s"] == pytest.approx(0.8)
    assert v["runner.wall_s"] == pytest.approx(0.8)
    assert set(v) == {name for name, _ in layers.PER_LAYER}
