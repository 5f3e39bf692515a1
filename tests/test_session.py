"""``session.no_aqe``: nested and overlapping windows restore AQE."""

from __future__ import annotations

import threading

from library_data_warehouse_and_business_analytics_system_spark.session import (
    no_aqe,
)

_AQE = "spark.sql.adaptive.enabled"


def test_nested_windows_restore_aqe(spark):
    assert spark.conf.get(_AQE) == "true"
    with no_aqe(spark):
        with no_aqe(spark):
            assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_AQE) == "false"
    assert spark.conf.get(_AQE) == "true"


def test_interleaved_threads_restore_aqe(spark):
    """A enters, B enters, A leaves, B leaves: AQE stays off until the
    last window closes and is on afterwards."""
    a_in, b_in, a_out = threading.Event(), threading.Event(), \
        threading.Event()
    seen = {}

    def a():
        with no_aqe(spark):
            a_in.set()
            b_in.wait(30)
        a_out.set()

    def b():
        a_in.wait(30)
        with no_aqe(spark):
            b_in.set()
            a_out.wait(30)
            seen["after_a"] = spark.conf.get(_AQE)

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert a_out.is_set() and seen == {"after_a": "false"}
    assert spark.conf.get(_AQE) == "true"
