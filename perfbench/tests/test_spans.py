"""Span self time and event-log attribution."""

from pathlib import Path

import pytest

import spans

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"


def _span(name, start, end, parent=None, group=None):
    return spans.Span(name, start, end, parent=parent, group=group)


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 1), (2, 3)]) == 2
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    s = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 6.0, parent=0),  # overlaps a: 1..6 covered once
        _span("a.inner", 1.5, 2.0, parent=1),
        _span("open", 7.0, None, parent=0),  # unfinished: no time
    ]
    self_s = spans.self_times(s)
    assert self_s[0] == pytest.approx(5.0)
    assert self_s[1] == pytest.approx(2.5)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[3] == pytest.approx(0.5)
    assert self_s[4] == 0.0


def test_tracer_nests_spans_without_spark():
    t = spans.Tracer("r", enabled=False)
    with t.span("op"):
        with t.span("child") as c:
            c.attrs["rows"] = 3
        with t.span("child2"):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert t.spans[1].attrs == {"rows": 3}
    assert all(s.end is not None and s.group is None for s in t.spans)
    assert spans.within(t.spans, 2, 0) and not spans.within(t.spans, 0, 2)


def test_event_log_charges_jobs_by_group_then_time():
    s = [
        _span("op", 999.9, 1001.5, group="pb-r-0"),
        _span("child", 1000.0, 1000.3, parent=0, group="pb-r-1"),
        _span("stream", 1000.4, 1001.0, parent=0, group="pb-r-2"),
    ]
    with open(FIXTURE, encoding="utf-8") as f:
        own = spans.parse_event_log(f, s)
    assert set(own) == {1, 2}
    child = own[1]
    # job 0 by its group; its skipped stage 1 counts neither stage nor task
    assert (child.jobs, child.stages, child.tasks) == (1, 1, 2)
    assert child.run_s == pytest.approx(0.27)
    assert child.cpu_s == pytest.approx(0.2)
    assert child.gc_s == pytest.approx(0.01)
    assert (child.shuffle_read_bytes, child.shuffle_write_bytes, child.spill_bytes) == (300, 350, 4096)
    assert sorted(child.task_s) == pytest.approx([0.1, 0.2])
    # job 1 ran under the stream's own group: charged to the innermost
    # span open at its submission
    assert (own[2].jobs, own[2].tasks) == (1, 1)
    total = spans.subtree_counters(s, own, 0).summary()
    assert total["spark.jobs"] == 2 and total["spark.tasks"] == 3
    assert total["task.max_s"] == pytest.approx(0.4)
    assert total["task.median_s"] == pytest.approx(0.2)
    assert total["executor.wait_s"] == pytest.approx(0.67 - 0.3)


def test_event_log_files_order_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1", ".x.crc"):
        (d / name).write_text("")
    files = [Path(p).name for p in spans.event_log_files(str(tmp_path))]
    assert files == ["events_2_local-1", "events_10_local-1"]
