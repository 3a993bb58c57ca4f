"""The event-log reader on a small canned log, and span self time."""

import os

import pytest

from perfbench import trace

CANNED = os.path.join(os.path.dirname(__file__), "data", "eventlog.json")


def test_reader_attributes_jobs_stages_and_tasks_by_description():
    stats = trace.read_event_log(CANNED)
    # job 0 has no benchmark description: ignored
    assert set(stats) == {(7, "build"), (7, "exec")}
    build, ex = stats[(7, "build")], stats[(7, "exec")]
    assert (build.jobs, build.stages, build.tasks, build.input_bytes) == (1, 1, 1, 100)
    assert (ex.jobs, ex.stages, ex.tasks, ex.task_failures) == (1, 2, 4, 1)
    assert ex.input_bytes == 3000
    assert (ex.shuffle_write_bytes, ex.shuffle_records, ex.shuffle_read_bytes) == (1000, 10, 1000)
    assert ex.spill_bytes == 96
    assert ex.output_records == 7
    assert ex.executor_run_s == pytest.approx(0.65)
    assert ex.executor_cpu_s == pytest.approx(0.28)
    assert ex.gc_s == pytest.approx(0.01)
    # stage 2 ran tasks of 100, 100 and 400 ms: max / median = 4
    assert ex.task_skews == [4.0]


def test_plan_nodes_come_from_the_final_adaptive_plan():
    ex = trace.read_event_log(CANNED)[(7, "exec")]
    # the start plan had one Exchange; the last AQE update is what counts
    assert (ex.exchange_nodes, ex.bnlj_nodes, ex.python_exec_nodes, ex.cached_scan_nodes) == (2, 1, 1, 1)


def test_job_submission_times_are_kept_per_phase():
    stats = trace.read_event_log(CANNED)
    assert stats[(7, "build")].job_submit_ms == [1700000001000]
    assert stats[(7, "exec")].job_submit_ms == [1700000005250]


def test_plan_is_the_exec_span_up_to_its_first_job():
    stats = trace.read_event_log(CANNED)
    t = trace.Tracer()
    t.epoch = 1700000000.0
    t.spans = [
        trace.Span("build", 0.5, 5.0, None, 7),
        trace.Span("exec", 5.0, 6.0, None, 7),  # its job was submitted at 5.25
        trace.Span("exec", 8.0, 9.0, None, 8),  # submitted no job
        trace.Span("exec", 1.0, 2.0, None, 3),  # before the first timed op
    ]
    plan, execute = trace.split_exec(t, stats, first_op=7)
    assert plan == pytest.approx(0.25)
    assert execute == pytest.approx(0.75 + 1.0)


def test_description_round_trip():
    assert trace.parse_description(trace.job_description(12, "plan")) == (12, "plan")
    assert trace.parse_description("some other job") is None
    assert trace.parse_description(None) is None


def test_self_time_subtracts_children():
    t = trace.Tracer()
    t.spans = [
        trace.Span("op", 0.0, 10.0, None, 1),
        trace.Span("build", 1.0, 3.0, 0, 1),
        trace.Span("exec", 4.0, 9.0, 0, 1),
        trace.Span("sink", 5.0, 6.0, 2, 1),
    ]
    assert t.self_time() == pytest.approx({"op": 3.0, "build": 2.0, "exec": 4.0, "sink": 1.0})


def test_span_context_records_parent_and_op():
    t = trace.Tracer()
    with t.span("op", op_id=3):
        with t.span("build") as inner:
            pass
    assert [(s.name, s.parent, s.op_id) for s in t.spans] == [("op", None, 3), ("build", 0, 3)]
    assert inner.seconds >= 0.0


def test_tail_percentile_keeps_ten_samples_above_and_never_reads_below_the_median():
    from perfbench.harness import tail_percentile

    xs = [float(i) for i in range(100)]
    assert tail_percentile(xs) == (89.0, 0.9)  # ten samples above 89
    assert tail_percentile(xs[:14]) == (7.0, 8 / 14)  # fewer than 21: upper median
    assert tail_percentile([3.0]) == (3.0, 1.0)
