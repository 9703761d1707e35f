"""Span recording and event-log totals of the pipeline benchmark."""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layertrace  # noqa: E402


def test_spans_nest_and_carry_the_op():
    tr = layertrace.Tracer()
    with tr.span("op", op=7):
        with tr.span("catalog.append"):
            with tr.span("spark.write"):
                pass
        # a callback thread with no open span of its own
        def callback():
            with tr.span("catalog.scan"):
                pass

        t = threading.Thread(target=callback)
        t.start()
        t.join(5)
        assert not t.is_alive()
    with tr.span("outside"):
        pass
    by = {s["name"]: s for s in tr.spans}
    op = by["op"]["id"]
    assert by["catalog.append"]["parent"] == op
    assert by["spark.write"]["parent"] == by["catalog.append"]["id"]
    assert by["catalog.scan"]["parent"] == op
    assert {by[n]["op"] for n in ("op", "catalog.append", "spark.write")} == {7}
    assert by["outside"]["op"] is None and by["outside"]["parent"] is None


def test_disabled_tracer_records_nothing():
    tr = layertrace.Tracer()
    tr.enabled = False
    with tr.span("op", op=1):
        pass
    assert tr.spans == []
    with layertrace.span(None, "x"):
        pass


def test_wrap_records_calls_and_annotations():
    class Cat:
        def snapshots(self):
            return [1, 2, 3]

    tr = layertrace.Tracer()
    tr.wrap(Cat, "snapshots", "catalog.scan", lambda r, rec: rec.update(entries=len(r)))
    assert Cat().snapshots() == [1, 2, 3]
    assert [(s["name"], s["entries"]) for s in tr.spans] == [("catalog.scan", 3)]


def _task_end(launch_ms, shuffle, python_ms):
    return {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {
            "Launch Time": launch_ms,
            "Accumulables": [
                {"Name": "number of output rows", "Update": "5"},
                {"Name": layertrace.PYTHON_TIME, "Update": str(python_ms)},
            ],
        },
        "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    }


def test_task_totals_per_window(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart"},
        _task_end(1_000, 100, 250),
        _task_end(1_500, 50, 0),
        _task_end(2_500, 7, 1_000),  # between the windows: ignored
        _task_end(3_000, 1, 500),
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for i, chunk in ((2, events[3:]), (1, events[:3])):
        (app / f"events_{i}_local-1").write_text("".join(json.dumps(e) + "\n" for e in chunk))
    read = layertrace.read_event_log(str(tmp_path))
    assert read == events
    totals = layertrace.task_totals(read, [(0.9, 2.0), (3.0, 4.0)])
    assert totals == [
        {"shuffle_bytes": 150, "python_s": 0.25},
        {"shuffle_bytes": 1, "python_s": 0.5},
    ]
