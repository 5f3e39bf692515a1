"""Bench-harness contract: the driver tail-captures stdout with a
bounded buffer (~2000 chars — round 2's full 61-entry JSON line got
clipped and recorded `parsed: null`), so the slim line bench.py prints
must stay safely under that. Guard it statically: the line size is
driven by the headline set, which must stay small and stable. The
sampling rule (bench.sample) is checked with fake items and a fake
clock, without Spark."""

from __future__ import annotations

import json

import bench
from library_data_warehouse_and_business_analytics_system_spark.plans import QUERIES

#: library- and pipeline-section keys bench.py appends to the slim
#: stdout line
_EXTRA_KEYS = ("library_generate", "library_etl", "library_initial_load",
               "lqy_query1", "lqy_query2", "lqy_query3", "corpus_curation",
               "corpus_curation_durable", "sequence_packing",
               "int8_quantize")


def test_slim_stdout_line_fits_capture_window():
    headline = [n for n, s in QUERIES.items() if s.bench]
    # never grow the headline set silently — it is the cross-round
    # comparable AND the stdout-size budget
    assert len(headline) <= 16, headline
    fake = {
        "metric": "headline_queries_total", "value": 9999.9999,
        "unit": "sec",
        "queries": {n: 9999.9999 for n in headline + list(_EXTRA_KEYS)},
        "all_queries_total": 9999.9999, "n_queries": len(QUERIES),
        "n_skipped": 0, "n_errors": 0, "sf": 0.1,
    }
    line = json.dumps(fake)
    assert len(line) < 1600, (
        f"slim bench line would be {len(line)} chars — risks the "
        "driver's tail-capture clipping it (round-2 failure mode)")


def test_headline_queries_still_registered():
    """Every bench=True name must resolve — a renamed query would
    silently drop out of the headline total."""
    for n, s in QUERIES.items():
        if s.bench:
            assert callable(s.fn), n


class _Clock:
    """Fake clock: only the items' calls advance it."""

    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def _item(clock, name, headline, costs=(1.0,), fail_on=None):
    """A bench item whose n-th call takes ``costs[n]`` seconds (the
    last cost repeats) and raises on call number ``fail_on``."""
    calls = []

    def call():
        calls.append(None)
        if len(calls) == fail_on:
            raise RuntimeError(f"{name} failed")
        clock.t += costs[min(len(calls), len(costs)) - 1]

    return (name, call, headline)


def test_zero_budget_times_every_headline_item_and_skips_the_rest():
    clock = _Clock()
    items = [_item(clock, "head_q", True), _item(clock, "library_etl", True),
             _item(clock, "q1", False), _item(clock, "q2", False)]
    samples, errors, skipped = bench.sample(items, 0.0, clock)
    assert samples == {"head_q": [1.0] * bench.RUNS,
                       "library_etl": [1.0] * bench.RUNS}
    assert skipped == ["q1", "q2"]
    assert errors == {}


def test_failed_later_call_keeps_earlier_samples_and_records_error():
    clock = _Clock()
    items = [_item(clock, "head_q", True, costs=(2.0,), fail_on=2),
             _item(clock, "q1", False, costs=(3.0,), fail_on=2)]
    samples, errors, skipped = bench.sample(items, 1e9, clock)
    assert samples == {"head_q": [2.0], "q1": [3.0]}
    assert set(errors) == {"head_q", "q1"}
    assert "q1 failed" in errors["q1"]
    assert skipped == []


def test_breadth_passes_stop_when_the_budget_is_spent():
    clock = _Clock()
    items = [_item(clock, "head_q", True, costs=(5.0,)),
             _item(clock, "q1", False, costs=(1.0,)),
             _item(clock, "q2", False, costs=(1.0,)),
             _item(clock, "q3", False, costs=(1.0,))]
    # the headline calls spend 15 s, q1 and q2 one second each
    samples, _, skipped = bench.sample(items, 16.5, clock)
    assert samples == {"head_q": [5.0] * bench.RUNS,
                       "q1": [1.0], "q2": [1.0]}
    assert skipped == ["q3"]


def test_estimate_is_the_lower_median():
    clock = _Clock()
    items = [_item(clock, "q1", False, costs=(4.0, 1.0, 9.0)),
             _item(clock, "q2", False, costs=(4.0, 1.0))]
    # the budget runs out during q1's third call, before q2's
    samples, _, _ = bench.sample(items, 15.0, clock)
    assert samples == {"q1": [4.0, 1.0, 9.0], "q2": [4.0, 1.0]}
    assert bench.lower_median(samples["q1"]) == 4.0
    assert bench.lower_median(samples["q2"]) == 1.0


def test_artifact_keeps_section_and_registry_timings_of_one_name():
    """``lqy_query1`` is both a registry query and a library-section
    report: the full artifact keeps both timings and both spreads."""
    assert not QUERIES["lqy_query1"].bench
    full = bench.artifact({"lqy_query1": [3.0, 1.0, 2.0]},
                          {"lqy_query1": [7.0, 5.0, 6.0],
                           "library_generate": [1.0], "library_etl": [2.0]})
    assert full["queries"] == {"lqy_query1": 2.0}
    assert full["stats"] == {"lqy_query1": [1.0, 2.0, 3.0]}
    assert full["sections"]["queries"] == {
        "lqy_query1": 6.0, "library_generate": 1.0, "library_etl": 2.0,
        "library_initial_load": 3.0}
    assert full["sections"]["stats"] == {"lqy_query1": [5.0, 6.0, 7.0]}
    assert full["all_queries_total"] == 2.0 and full["value"] == 0.0
