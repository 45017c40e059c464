"""Self time from nested spans, job attribution and the tracer's span
rules."""

import threading

from spans import Span, Tracer, attribute_jobs, self_times, union_length


def span(id, module, start, end, parent=-1, main=True):
    return Span(id, f"{module}.f", module, start, end, parent, 0, main)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(1, 2), (0, 10)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        span(0, "plans.a", 0, 10),
        span(1, "operators.b", 1, 4, parent=0),
        span(2, "functions.c", 2, 3, parent=1),
        span(3, "sources.d", 6, 8, parent=0),
        # a callback-thread child overlapping a sibling counts once
        span(4, "streaming.e", 3, 7, parent=0, main=False),
    ]
    st = self_times(spans)
    assert st == {0: 10 - 7, 1: 3 - 1, 2: 1, 3: 2, 4: 4}


def test_self_times_of_a_tree_add_up_to_the_top_span():
    spans = [
        span(0, "plans.a", 0, 10),
        span(1, "operators.b", 1, 4, parent=0),
        span(2, "functions.c", 2, 3, parent=1),
        span(3, "sources.d", 6, 8, parent=0),
    ]
    assert sum(self_times(spans).values()) == 10


def test_child_outside_parent_is_clipped():
    spans = [span(0, "plans.a", 0, 5), span(1, "operators.b", 4, 9, parent=0)]
    assert self_times(spans)[0] == 4


def test_attribute_jobs_by_group_then_submission_time():
    spans = [span(0, "plans.a", 0, 10), span(1, "operators.b", 2, 4, parent=0)]
    jobs = [
        {"jobId": 7, "jobGroup": "span-0", "submissionTime": 3000},
        {"jobId": 8, "jobGroup": "stream-run-id", "submissionTime": 3000},
        {"jobId": 9, "jobGroup": None, "submissionTime": 5000},
        {"jobId": 10, "jobGroup": None, "submissionTime": 20000},
    ]
    assert attribute_jobs(spans, jobs) == {0: [7, 9], 1: [8], -1: [10]}


def test_tracer_opens_spans_only_across_modules():
    tr = Tracer()

    def inner():
        return 1

    def outer():
        return inner_same() + inner_other()

    inner_same = tr.wrap(inner, "plans.x")
    inner_other = tr.wrap(inner, "operators.y")
    outer_w = tr.wrap(outer, "plans.x")
    assert outer_w() == 2 and tr.spans == []  # disabled: nothing recorded
    tr.enabled = True
    outer_w()
    assert [(s.module, s.parent) for s in tr.spans] == [("plans.x", -1), ("operators.y", 0)]


def test_callback_thread_span_hangs_under_the_blocked_span():
    tr = Tracer()
    tr.enabled = True
    blocked = tr.open("streaming.ops.run", "streaming.ops")

    def callback():
        s = tr.open("streaming.manifest.commit", "streaming.manifest")
        tr.close(s)

    t = threading.Thread(target=callback)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.close(blocked)
    child = tr.spans[1]
    assert child.parent == blocked.id and not child.main
