"""Span bookkeeping and the event-log rollup, without a Spark session."""

import json
import types

import pytest

from perfbench import tracing


class FakeContext:
    def __init__(self):
        self.props = {}
        self.descriptions = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setJobDescription(self, value):
        self.props["spark.job.description"] = value
        self.descriptions.append(value)


def _job(job_id, stages, label):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": {"spark.job.description": label} if label else {}}


def _task(stage, ms, read=0, write=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
        "Task Metrics": {
            "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 7 * spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


@pytest.fixture
def event_log(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0], None),                      # unlabelled: ignored
        _task(0, 500, read=1, write=1),
        _job(1, [1, 2], "perfbench:t0:exact"),
        _task(1, 10, write=100), _task(1, 10, write=100), _task(1, 10, write=100),
        _task(2, 10, read=50), _task(2, 10, read=50), _task(2, 90, read=50, spill=4),
        _job(2, [2, 3], "perfbench:t0:cc"),      # stage 2 already belongs to exact
        _task(3, 20, write=8),
        _job(3, [4], "perfbench:t0:cc"),
        _task(4, 30),
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def test_rollup_per_label(event_log):
    stats = tracing.rollup_event_log(event_log)
    assert set(stats) == {"perfbench:t0:exact", "perfbench:t0:cc"}
    exact, cc = stats["perfbench:t0:exact"], stats["perfbench:t0:cc"]
    assert exact.jobs == 1 and cc.jobs == 2
    assert exact.shuffle_write_bytes == 300
    assert exact.shuffle_read_bytes == 300  # remote + local
    assert exact.spill_bytes == 4           # disk bytes only
    # the stage with the longest task: 90 ms over a 10 ms median
    assert exact.task_skew == pytest.approx(9.0)
    assert cc.shuffle_write_bytes == 8
    assert cc.task_skew == 1.0              # single-task stages only


def _traced_pass(tracer, tag, tmp_path):
    """A fake entry point: 'outer' calls 'inner' twice and writes a
    snapshot; both are looked up on a namespace the tracer patches."""
    snap = tmp_path / tag
    snap.mkdir()
    (snap / "part-0").write_bytes(b"x" * 40)
    mod = types.SimpleNamespace()

    def inner():
        return None

    def write():
        return {"rows": 5, "path": str(snap)}

    def outer():
        mod.inner()
        mod.inner()

    mod.inner, mod.write, mod.outer = inner, write, outer
    targets = [(mod, "outer", "incremental", None), (mod, "inner", "catalog", None),
               (mod, "write", "catalog", None)]
    with tracer.traced_pass(tag, targets):
        mod.outer()
        mod.write()
    assert mod.outer is outer  # restored


def test_span_times_and_labels(tmp_path):
    sc = FakeContext()
    tracer = tracing.Tracer(sc)
    _traced_pass(tracer, "t0", tmp_path)
    times = tracer.layer_times("t0")
    assert [s.fn for s in tracer.spans] == ["pass", "outer", "inner", "inner", "write"]
    outer = tracer.spans[1]
    inner = tracer.spans[2:4]
    assert all(s.parent == 1 for s in inner) and tracer.spans[4].parent == 0
    outer_dur = outer.end - outer.start
    nested = sum(s.end - s.start for s in inner)
    assert times["incremental"][0] == pytest.approx(outer_dur)
    assert times["incremental"][1] == pytest.approx(outer_dur - nested)
    # catalog wall: its spans are outermost for their layer
    catalog = tracer.spans[2:5]
    assert times["catalog"][0] == pytest.approx(sum(s.end - s.start for s in catalog))
    assert tracer.rows[("t0", "catalog")] == [5, 5]
    assert tracer.bytes_written["t0"] == 40
    assert "perfbench:t0:catalog" in sc.descriptions
    assert sc.getLocalProperty("spark.job.description") is None  # restored
    top = [s for s in tracer.spans if s.parent == tracer.roots["t0"]]
    assert tracer.top_level_wall("t0") == pytest.approx(sum(s.end - s.start for s in top))


def test_passes_are_kept_apart(tmp_path):
    tracer = tracing.Tracer(FakeContext())
    _traced_pass(tracer, "t0", tmp_path)
    _traced_pass(tracer, "t1", tmp_path)
    assert set(tracer.pass_spans("t0")).isdisjoint(tracer.pass_spans("t1"))
    assert tracer.bytes_written == {"t0": 40, "t1": 40}

