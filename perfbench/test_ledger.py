"""Tests of the benchmark's metric code; no Spark needed.

    python3 -m pytest perfbench -q

The fixture is a trimmed event log captured from one session that ran
``q6_forecast_revenue`` and then ``stream_dedup_events``, kept to the
stream's first two micro-batches. ``Q6`` and ``STREAM`` are the wall-clock
marks the benchmark recorded for those two executions.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench import ledger
from perfbench.ledger import Execution, Pass, Span

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_two_batch_stream.jsonl"
Q6 = Execution("p0:q6", "q6_forecast_revenue", 0, 1792208213902.045, 1792208217150.6826, 1792208219505.6125)
STREAM = Execution(
    "p0:stream", "stream_dedup_events", 0, 1792208219505.6208, 1792208225643.7593, 1792208225797.4998
)
RUN_ID = "ad136508-20fa-40ee-a61b-3c75eb54b16a"


def fold(*execs: Execution) -> ledger.Fold:
    with open(FIXTURE) as f:
        return ledger.fold_event_log(f, list(execs))


@pytest.mark.parametrize(
    "n, p", [(19, None), (20, 50.0), (22, 50.0), (40, 75.0), (44, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)]
)
def test_tail_percentile_keeps_ten_executions_beyond(n, p):
    assert ledger.tail_percentile(n) == p


def test_tail_value_is_the_nearest_rank():
    values = [float(v) for v in range(44, 0, -1)]
    assert ledger.tail(values) == (75.0, 33.0)
    # Too few executions for any tail: the slowest stands in.
    assert ledger.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_fold_attributes_micro_batch_jobs_to_the_driving_query():
    with open(FIXTURE) as f:
        text = f.read()
    assert text.count(RUN_ID) >= 2  # the batch jobs carry the stream's runId group
    only_stream = fold(STREAM)
    c = only_stream.counters
    # Four setup jobs and two micro-batch jobs before the function returned,
    # then one job in the final action.
    assert c["sched.jobs"] == 7
    assert c["plan.eager_jobs"] == 6
    assert c["stream.batches"] == 2
    assert c["exec.run_ms"] > 0 and c["sched.tasks"] > 0
    assert c["stream.addbatch_ms"] == 1088 + 689
    assert c["stream.protocol_ms"] == (38 + 47 + 46 + 209) + (14 + 57 + 36 + 35)
    assert c["stream.state_rows_peak"] == 5249
    assert only_stream.trigger_ms == [1668, 869]
    assert {s.exec_id for s in only_stream.jobs} == {"p0:stream"}


def test_fold_splits_eager_and_action_jobs_and_ignores_other_executions():
    c = fold(Q6).counters
    assert c["sched.jobs"] == 3 and c["plan.eager_jobs"] == 1
    assert "stream.batches" not in c
    both = fold(Q6, STREAM).counters
    assert both["sched.jobs"] == 10
    assert both["sched.tasks"] == fold(Q6).counters["sched.tasks"] + fold(STREAM).counters["sched.tasks"]


def test_layer_metrics_report_per_pass_numbers():
    f = fold(Q6, STREAM)
    m = ledger.layer_metrics(f, [Q6, STREAM], n_passes=1)
    assert m["stream.batches"] == 2
    assert m["exec.run_s"] == pytest.approx(f.counters["exec.run_ms"] / 1000)
    assert m["plan.build_s"] == pytest.approx((Q6.build_ms + STREAM.build_ms) / 1000)
    assert 0 < m["plan.eager_frac"] < 1
    assert m["sched.ms_per_job"] > 0


def test_spans_nest_batches_and_jobs_under_the_build_phase():
    f = fold(Q6, STREAM)
    passes = [Pass(0, Q6.start - 5, STREAM.end, 5)]
    spans = ledger.build_spans("w", passes, [Q6, STREAM], f)
    by_id = {s.id: s for s in spans}
    batches = [s for s in spans if s.cat == "batch"]
    assert len(batches) == 2
    assert all(by_id[b.parent].cat == "build" and b.exec_id == "p0:stream" for b in batches)
    stages = [s for s in spans if s.cat == "stage"]
    assert stages and all(by_id[s.parent].cat == "job" for s in stages)
    selfs = ledger.self_times_s(spans)
    # Self times partition the root span's wall time.
    assert sum(selfs.values()) == pytest.approx((passes[0].end - passes[0].start) / 1000, rel=1e-6)
    events = ledger.chrome_trace(spans)
    assert len(events) == len(spans) and all(e["ph"] == "X" for e in events)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("q", "query", 0, 100, None, id=0),
        Span("a", "job", 10, 40, 0, id=1),
        Span("b", "job", 30, 60, 0, id=2),
    ]
    assert ledger.self_times_s(spans) == {"query": 0.05, "job": 0.06}


def test_accounting_check_within_ten_percent():
    execs = [Execution("e", "q", 0, 1000, 4000, 10_000)]
    whole = [Pass(0, 800, 10_100, clear_ms=200)]
    assert ledger.accounted_frac(whole, execs) == pytest.approx(9200 / 9300)
    assert ledger.accounts_for_pass(whole, execs)
    gap = [Pass(0, 800, 12_000, clear_ms=200)]
    assert not ledger.accounts_for_pass(gap, execs)
