"""Span self-time arithmetic, method patching and the event-log fold."""

import pytest

import tracing
from tracing import Span, Tracer, TraceError, fold_events, merged_length, self_times


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_nested_self_times():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("outer"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.inner"):
                clock.t = 3.5
        clock.t = 4.0
        with tr.span("b"):
            clock.t = 7.0
        clock.t = 10.0
    st = dict(zip((s.name for s in tr.spans), self_times(tr.spans)))
    assert st == {"outer": 10.0 - 2.5 - 3.0, "a": 2.5 - 0.5, "a.inner": 0.5, "b": 3.0}
    assert sum(st.values()) == pytest.approx(10.0)  # self times add up to the root's wall


def test_overlapping_children_are_counted_once():
    spans = [Span("p", 0.0, 10.0), Span("c1", 1.0, 5.0, parent=0), Span("c2", 4.0, 6.0, parent=0)]
    assert self_times(spans) == [5.0, 4.0, 2.0]
    assert merged_length([(1, 5), (4, 6), (8, 20)], 0, 10) == 7


class Target:
    def work(self, x):
        return x * 2


def test_patch_records_spans_and_restores():
    tr = Tracer()
    seen = []
    orig = Target.__dict__["work"]
    with tr.patch([(Target, "work", "layer.work", lambda sp, o, a, r: seen.append((a, r, sp.duration >= 0)))]):
        assert Target().work(3) == 6
    assert Target.__dict__["work"] is orig
    assert [s.name for s in tr.spans] == ["layer.work"]
    assert seen == [((3,), 6, True)]


def test_patch_fails_loudly_on_a_missing_method():
    tr = Tracer()
    with pytest.raises(TraceError, match="renamed"):
        with tr.patch([(Target, "work", "ok", None), (Target, "renamed", "gone", None)]):
            pass
    assert Target.__dict__["work"].__name__ == "work"
    assert not hasattr(Target.__dict__["work"], "__wrapped__")


class FakeSC:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, k, v):  # noqa: N802 - SparkContext's name
        self.props.append((k, v))


def test_job_group_follows_the_innermost_span():
    sc = FakeSC()
    tr = Tracer(sc)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    g = tracing.JOB_GROUP
    assert sc.props == [(g, "outer"), (g, "inner"), (g, "outer"), (g, None)]


def _stage(sid, tasks, run_ms, shuffle=0):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Number of Tasks": tasks,
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
            ],
        },
    }


def test_fold_attributes_stages_to_job_groups():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "apply.mutate"}},
        _stage(0, 8, 400, shuffle=1000),
        _stage(1, 1, 250),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _stage(2, 1, 10),
    ]
    folded = fold_events(events)
    m = folded["apply.mutate"]
    assert (m["jobs"], m["stages"], m["tasks"], m["run_ms"]) == (1, 2, 9, 650)
    assert m["shuffle_write_bytes"] == 1000
    assert m["single_task_stages"] == 1
    assert folded[""]["single_task_stages"] == 0  # a 10 ms single task is noise


class FakeOption:
    def __init__(self, value):
        self.value = value

    def isDefined(self):  # noqa: N802 - Scala's name
        return self.value is not None

    def get(self):
        return self.value


class FakeJavaSC:
    def __init__(self, logger):
        self.logger = logger
        self.calls = []

    def eventLogger(self):  # noqa: N802
        return FakeOption(self.logger)

    def removeSparkListener(self, listener):  # noqa: N802
        self.calls.append(("remove", listener))

    def addSparkListener(self, listener):  # noqa: N802
        self.calls.append(("add", listener))


class FakeJSC:
    def __init__(self, jsc):
        self._sc = jsc

    def sc(self):
        return self._sc


class FakeSparkContext:
    def __init__(self, logger):
        self._jsc = FakeJSC(FakeJavaSC(logger))


def test_event_log_off_detaches_and_reattaches_the_listener():
    sc = FakeSparkContext("event-log")
    with pytest.raises(ZeroDivisionError):
        with tracing.event_log_off(sc):
            assert sc._jsc.sc().calls == [("remove", "event-log")]
            1 / 0
    assert sc._jsc.sc().calls == [("remove", "event-log"), ("add", "event-log")]


def test_event_log_off_fails_loudly_without_an_event_log():
    with pytest.raises(TraceError, match="not enabled"):
        with tracing.event_log_off(FakeSparkContext(None)):
            pass
