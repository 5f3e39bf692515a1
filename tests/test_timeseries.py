"""ewma_scan: the two-phase distributed scan must equal the pure
sequential recurrence, independently of how many range partitions the
series is split across (partition boundaries are where the carry
algebra could go wrong)."""

from __future__ import annotations

import pytest
import math

from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.timeseries import (
    ewma_scan,
)


def _sequential(rows: list[tuple[str, int, float]], alpha: float,
                ) -> dict[tuple[str, int], float]:
    """Driver-side reference: strict per-key sequential fold."""
    out: dict[tuple[str, int], float] = {}
    state: dict[str, float] = {}
    for k, t, x in sorted(rows):
        if k not in state:
            state[k] = x
        else:
            state[k] = (1.0 - alpha) * state[k] + alpha * x
        out[(k, t)] = state[k]
    return out


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "k string, t int, x double")


def test_ewma_two_phase_matches_sequential(spark):
    rows = [(f"key{i % 3}", t, math.sin(0.7 * t + i) * 100 + 50)
            for i in range(3) for t in range(200)]
    ref = _sequential(rows, alpha=0.5)
    got = ewma_scan(_mkdf(spark, rows), "k", "t", "x",
                    alpha=0.5, n_partitions=7).collect()
    assert len(got) == len(rows)
    for r in got:
        expect = ref[(r["k"], r["t"])]
        assert abs(r["ewma"] - expect) <= 1e-9 * max(1.0, abs(expect)), (
            r["k"], r["t"], r["ewma"], expect)


def test_ewma_partition_count_invariance(spark):
    """The result must not depend on how many partitions the range
    shuffle uses — 1 partition (degenerate: pure sequential) through
    more partitions than rows (every block is a single row)."""
    rows = [("a", t, float((t * 37) % 101)) for t in range(50)] + [
        ("b", t, float(t)) for t in range(5)]
    results = {}
    for parts in (1, 4, 100):
        got = ewma_scan(_mkdf(spark, rows), "k", "t", "x",
                        alpha=0.25, n_partitions=parts).collect()
        results[parts] = {(r["k"], r["t"]): r["ewma"] for r in got}
    ref = _sequential(rows, alpha=0.25)
    for parts, vals in results.items():
        assert set(vals) == set(ref)
        for key, v in vals.items():
            assert abs(v - ref[key]) <= 1e-9 * max(1.0, abs(ref[key])), (
                parts, key)


def test_ewma_alpha_one_is_identity(spark):
    rows = [("k", t, float(t * t % 13)) for t in range(20)]
    got = ewma_scan(_mkdf(spark, rows), "k", "t", "x",
                    alpha=1.0, n_partitions=3).collect()
    for r in got:
        assert r["ewma"] == r["x"]


def test_ewma_rejects_bad_alpha(spark):
    import pytest
    with pytest.raises(ValueError):
        ewma_scan(_mkdf(spark, [("k", 1, 1.0)]), "k", "t", "x", alpha=0.0)


def test_ewma_single_row_keys(spark):
    rows = [(f"k{i}", 0, float(i)) for i in range(10)]
    got = ewma_scan(_mkdf(spark, rows), "k", "t", "x",
                    alpha=0.5, n_partitions=4).collect()
    assert {(r["k"], r["ewma"]) for r in got} == {
        (f"k{i}", float(i)) for i in range(10)}


# ---------------------------------------------------------------------------
# holt_scan: the matrix-carry affine scan vs the pure sequential fold.

from library_data_warehouse_and_business_analytics_system_spark.operators.timeseries import (  # noqa: E402
    holt_scan,
)


def _holt_sequential(rows, alpha, gamma):
    out, state = {}, {}
    om_a, om_g = 1.0 - alpha, 1.0 - gamma
    for k, t, x in sorted(rows):
        if k not in state:
            state[k] = (x, 0.0)
        else:
            lev, trd = state[k]
            l_new = om_a * (lev + trd) + alpha * x
            b_new = gamma * (l_new - lev) + om_g * trd
            state[k] = (l_new, b_new)
        out[(k, t)] = state[k]
    return out


def test_holt_two_phase_matches_sequential(spark):
    rows = [(f"key{i % 3}", t, math.sin(0.3 * t + i) * 50 + 10 * t + 100)
            for i in range(3) for t in range(150)]
    ref = _holt_sequential(rows, 0.5, 0.5)
    got = holt_scan(_mkdf(spark, rows), "k", "t", "x",
                    alpha=0.5, gamma=0.5, n_partitions=7).collect()
    assert len(got) == len(rows)
    for r in got:
        el, eb = ref[(r["k"], r["t"])]
        assert abs(r["level"] - el) <= 1e-9 * max(1.0, abs(el))
        assert abs(r["trend"] - eb) <= 1e-9 * max(1.0, abs(eb))


def test_holt_partition_count_invariance(spark):
    rows = [("a", t, float(t) + ((t * 31) % 17)) for t in range(80)]
    ref = _holt_sequential(rows, 0.25, 0.5)
    for parts in (1, 5, 200):
        got = holt_scan(_mkdf(spark, rows), "k", "t", "x",
                        alpha=0.25, gamma=0.5, n_partitions=parts).collect()
        for r in got:
            el, eb = ref[(r["k"], r["t"])]
            assert abs(r["level"] - el) <= 1e-9 * max(1.0, abs(el)), parts
            assert abs(r["trend"] - eb) <= 1e-9 * max(1.0, abs(eb)), parts


def test_holt_tracks_linear_series_exactly_in_the_limit(spark):
    # a perfectly linear series: level converges to the line and trend
    # to its slope (classic Holt property; loose tolerance, it's a
    # convergence statement)
    rows = [("k", t, 3.0 * t + 7.0) for t in range(200)]
    got = {r["t"]: (r["level"], r["trend"])
           for r in holt_scan(_mkdf(spark, rows), "k", "t", "x",
                              n_partitions=6).collect()}
    lev, trd = got[199]
    assert abs(lev - (3.0 * 199 + 7.0)) < 1e-6
    assert abs(trd - 3.0) < 1e-6


# ---------------------------------------------------------------------------
# cumsum_scan: additive two-phase scan vs sequential running stats.

from library_data_warehouse_and_business_analytics_system_spark.operators.timeseries import (  # noqa: E402
    cumsum_scan,
)


def _cumsum_sequential(rows):
    out, state = {}, {}
    for k, t, x in sorted(rows):
        s, mn, mx = state.get(k, (0.0, float("inf"), float("-inf")))
        s += x
        mn, mx = min(mn, s), max(mx, s)
        state[k] = (s, mn, mx)
        out[(k, t)] = (s, mn, mx)
    return out


def test_cumsum_two_phase_matches_sequential(spark):
    rows = [(f"g{i % 4}", t, math.cos(0.9 * t + i) * 40 - 1.0)
            for i in range(4) for t in range(120)]
    ref = _cumsum_sequential(rows)
    got = cumsum_scan(_mkdf(spark, rows), "k", "t", "x",
                      n_partitions=9).collect()
    assert len(got) == len(rows)
    for r in got:
        es, emn, emx = ref[(r["k"], r["t"])]
        for a, b in ((r["run_sum"], es), (r["run_min"], emn),
                     (r["run_max"], emx)):
            assert abs(a - b) <= 1e-9 * max(1.0, abs(b)), (r["k"], r["t"])


def test_cumsum_partition_count_invariance(spark):
    rows = [("a", t, float((t * 7) % 11) - 5.0) for t in range(60)]
    ref = _cumsum_sequential(rows)
    for parts in (1, 4, 128):
        got = cumsum_scan(_mkdf(spark, rows), "k", "t", "x",
                          n_partitions=parts).collect()
        for r in got:
            es, emn, emx = ref[(r["k"], r["t"])]
            assert abs(r["run_sum"] - es) <= 1e-9 * max(1.0, abs(es)), parts
            assert abs(r["run_min"] - emn) <= 1e-9 * max(1.0, abs(emn)), parts
            assert abs(r["run_max"] - emx) <= 1e-9 * max(1.0, abs(emx)), parts


def test_cusum_identity_on_known_shift(spark):
    # flat series with a level shift: pos_cusum must grow linearly
    # after the shift by the classic max(0, s + d) recursion identity
    rows = [("k", t, 10.0 if t < 50 else 20.0) for t in range(100)]
    mean = (10.0 * 50 + 20.0 * 50) / 100  # 15
    dev = [("k", t, x - mean) for (_, t, x) in rows]
    got = {r["t"]: (r["run_sum"], r["run_min"])
           for r in cumsum_scan(_mkdf(spark, dev), "k", "t", "x",
                                n_partitions=5).collect()}
    # sequential CUSUM reference
    s = 0.0
    for t in range(100):
        d = rows[t][2] - mean
        s = max(0.0, s + d)
        p, pmin = got[t]
        cusum = p - min(0.0, pmin)
        assert abs(cusum - s) < 1e-9, t


# ---------------------------------------------------------------------------
# Mode dispatch (round 8): "grouped" is the numerous-keys path — hash
# partition on the key, zero driver state (no summaries collect, no
# carry broadcast); "auto" probes approx_count_distinct(key) and
# dispatches at max_carry_keys. Both modes must agree with the
# sequential fold; the grouped path must hold at >=1M DISTINCT keys
# with bounded driver memory (the ranged carry would collect and
# broadcast one entry per key there — the r7 verdict's scale trap).

from library_data_warehouse_and_business_analytics_system_spark.operators.timeseries import (  # noqa: E402
    _base_frame,
    _resolve_mode,
)


def test_grouped_mode_matches_sequential_all_scans(spark):
    rows = [(f"key{i % 5}", t, math.sin(0.7 * t + i) * 100 + 50)
            for i in range(5) for t in range(120)]
    df = _mkdf(spark, rows)

    ref_e = _sequential(rows, alpha=0.5)
    for r in ewma_scan(df, "k", "t", "x", alpha=0.5, n_partitions=7,
                       mode="grouped").collect():
        e = ref_e[(r["k"], r["t"])]
        assert abs(r["ewma"] - e) <= 1e-9 * max(1.0, abs(e))

    ref_h = _holt_sequential(rows, 0.25, 0.5)
    for r in holt_scan(df, "k", "t", "x", alpha=0.25, gamma=0.5,
                       n_partitions=7, mode="grouped").collect():
        el, eb = ref_h[(r["k"], r["t"])]
        assert abs(r["level"] - el) <= 1e-9 * max(1.0, abs(el))
        assert abs(r["trend"] - eb) <= 1e-9 * max(1.0, abs(eb))

    ref_c = _cumsum_sequential(rows)
    for r in cumsum_scan(df, "k", "t", "x", n_partitions=7,
                         mode="grouped").collect():
        es, emn, emx = ref_c[(r["k"], r["t"])]
        assert abs(r["run_sum"] - es) <= 1e-9 * max(1.0, abs(es))
        assert abs(r["run_min"] - emn) <= 1e-9 * max(1.0, abs(emn))
        assert abs(r["run_max"] - emx) <= 1e-9 * max(1.0, abs(emx))


def test_grouped_mode_partition_invariance(spark):
    rows = [(f"k{i}", t, float((t * 31 + i * 7) % 23) - 11.0)
            for i in range(20) for t in range(40)]
    ref = _sequential(rows, alpha=0.25)
    for parts in (1, 4, 64):
        got = ewma_scan(_mkdf(spark, rows), "k", "t", "x", alpha=0.25,
                        n_partitions=parts, mode="grouped").collect()
        assert len(got) == len(rows), parts
        for r in got:
            e = ref[(r["k"], r["t"])]
            assert abs(r["ewma"] - e) <= 1e-9 * max(1.0, abs(e)), parts


def test_auto_dispatch_threshold(spark):
    rows = [(f"k{i}", t, 1.0) for i in range(12) for t in range(3)]
    base = _base_frame(_mkdf(spark, rows), "k", "t", "x")
    # 12 distinct keys: grouped above a threshold of 4, ranged at 100k
    assert _resolve_mode(base, "auto", 4) == "grouped"
    assert _resolve_mode(base, "auto", 100_000) == "ranged"
    assert _resolve_mode(base, "ranged", 4) == "ranged"
    assert _resolve_mode(base, "grouped", 100_000) == "grouped"
    import pytest
    with pytest.raises(ValueError):
        _resolve_mode(base, "bogus", 4)
    # both forced modes agree with the sequential fold on the same data
    ref = _sequential(rows, alpha=0.5)
    for mode in ("ranged", "grouped"):
        for r in ewma_scan(_mkdf(spark, rows), "k", "t", "x", alpha=0.5,
                           n_partitions=5, mode=mode).collect():
            e = ref[(r["k"], r["t"])]
            assert abs(r["ewma"] - e) <= 1e-9 * max(1.0, abs(e)), mode


def test_million_keys_bounded_driver(spark):
    """The r7 verdict's scale trap: a scan keyed by user_id-like
    cardinality must NOT collect O(#keys) summaries to the driver.
    1M distinct keys x 2 rows: auto dispatches to grouped (>100k
    default threshold — asserted), which has no summaries pass, no
    collect, and no broadcast at all; correctness spot-checked via
    exact aggregate identities (sum of final run_sums = total sum)."""
    n = 1_000_000
    df = (spark.range(n * 2)
          .select((F.col("id") % n).cast("string").alias("k"),
                  (F.col("id") / n).cast("int").alias("t"),
                  (F.col("id") % 97).cast("double").alias("x")))
    base = _base_frame(df, "k", "t", "x")
    assert _resolve_mode(base, "auto", 100_000) == "grouped"
    res = cumsum_scan(df, "k", "t", "x", n_partitions=32)
    # run_sum at t=1 is the key's total: global identity over all keys
    total = res.filter(F.col("t") == 1).agg(
        F.sum("run_sum").alias("s"), F.count("*").alias("c")).first()
    expect = df.agg(F.sum("x")).first()[0]
    assert total["c"] == n
    assert abs(total["s"] - expect) <= 1e-6 * max(1.0, abs(expect))


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_ewma_extreme_alpha_vectorization_guards(spark):
    """alpha near 1 (decay 1e-10: chunked rescale degenerates to
    chunk=1) and alpha near 0 (decay ~1: full 32k chunks) must both
    stay inside the sequential envelope."""
    rows = [("k", t, math.cos(1.3 * t) * 10 + 5) for t in range(300)]
    for alpha in (0.9999999999, 1e-6, 0.97):
        ref = _sequential(rows, alpha=alpha)
        for r in ewma_scan(_mkdf(spark, rows), "k", "t", "x",
                           alpha=alpha, n_partitions=6).collect():
            e = ref[(r["k"], r["t"])]
            assert abs(r["ewma"] - e) <= 1e-9 * max(1.0, abs(e)), alpha


def test_holt_degenerate_falls_back_to_row_loop(spark):
    """alpha=1 makes the Holt transition defective (det=0) — the eigen
    path must decline and the scalar loop must still be exact."""
    rows = [("k", t, float((t * 13) % 29)) for t in range(100)]
    for a, g in ((1.0, 0.5), (0.5, 1.0), (1.0, 1.0)):
        ref = _holt_sequential(rows, a, g)
        for r in holt_scan(_mkdf(spark, rows), "k", "t", "x",
                           alpha=a, gamma=g, n_partitions=5).collect():
            el, eb = ref[(r["k"], r["t"])]
            assert abs(r["level"] - el) <= 1e-9 * max(1.0, abs(el)), (a, g)
            assert abs(r["trend"] - eb) <= 1e-9 * max(1.0, abs(eb)), (a, g)


def test_vectorize_false_is_exact_and_close_to_vectorized(spark):
    """vectorize=False folds the exact scalar recurrence — within a
    single partition it is BIT-identical to the sequential reference
    (what the floor-grid driver gates rely on); the vectorized fold
    must stay within the 1e-9 envelope of it."""
    rows = [(f"key{i % 3}", t, math.sin(0.3 * t + i) * 50 + 10 * t + 7)
            for i in range(3) for t in range(200)]
    df = _mkdf(spark, rows)
    ref_e = _sequential(rows, alpha=0.5)
    exact = ewma_scan(df, "k", "t", "x", alpha=0.5, n_partitions=1,
                      vectorize=False).collect()
    for r in exact:
        assert r["ewma"] == ref_e[(r["k"], r["t"])], (r["k"], r["t"])
    vec = {(r["k"], r["t"]): r["ewma"]
           for r in ewma_scan(df, "k", "t", "x", alpha=0.5,
                              n_partitions=6).collect()}
    for key, e in ref_e.items():
        assert abs(vec[key] - e) <= 1e-9 * max(1.0, abs(e))

    ref_h = _holt_sequential(rows, 0.5, 0.5)
    exact_h = holt_scan(df, "k", "t", "x", alpha=0.5, gamma=0.5,
                        n_partitions=1, vectorize=False).collect()
    for r in exact_h:
        el, eb = ref_h[(r["k"], r["t"])]
        assert r["level"] == el and r["trend"] == eb, (r["k"], r["t"])


# --- mode="split": the oversized-key escape hatch (r8 verdict #7) ---

from library_data_warehouse_and_business_analytics_system_spark.operators.scan import (  # noqa: E402
    _frozen_blocks,
)
from library_data_warehouse_and_business_analytics_system_spark.operators.timeseries import (  # noqa: E402
    _DEFAULT_SPLIT_THRESHOLD,
    _split_oversized,
)


def test_split_oversized_partitions_keys(spark):
    rows = ([("hot", t, 1.0) for t in range(500)]
            + [(f"k{i}", t, 1.0) for i in range(50) for t in range(4)])
    hot, rest = _split_oversized(_mkdf(spark, rows), "k", threshold=100)
    assert set(r["k"] for r in hot.select("k").distinct().collect()) \
        == {"hot"}
    assert hot.count() == 500 and rest.count() == 200
    assert rest.filter(F.col("k") == "hot").count() == 0


@pytest.mark.slow  # opt-in lane (r14): endurance/equivalence run
def test_split_mode_matches_sequential_all_scans(spark):
    """One 600-row hot key (> threshold 100 → ranged branch) plus a
    40-key tail (grouped branch): all three scans under mode="split"
    stay in the sequential 1e-9 envelope and emit every row once."""
    rows = ([("hot", t, math.sin(0.3 * t) * 40 + 9.0)
             for t in range(600)]
            + [(f"k{i}", t, float((t * 31 + i * 7) % 23) - 11.0)
               for i in range(40) for t in range(30)])
    df = _mkdf(spark, rows)

    ref_e = _sequential(rows, alpha=0.5)
    got = ewma_scan(df, "k", "t", "x", alpha=0.5, n_partitions=8,
                    mode="split", split_threshold=100).collect()
    assert len(got) == len(rows)
    for r in got:
        e = ref_e[(r["k"], r["t"])]
        assert abs(r["ewma"] - e) <= 1e-9 * max(1.0, abs(e))

    ref_h = _holt_sequential(rows, 0.25, 0.5)
    for r in holt_scan(df, "k", "t", "x", alpha=0.25, gamma=0.5,
                       n_partitions=8, mode="split",
                       split_threshold=100).collect():
        el, eb = ref_h[(r["k"], r["t"])]
        assert abs(r["level"] - el) <= 1e-9 * max(1.0, abs(el))
        assert abs(r["trend"] - eb) <= 1e-9 * max(1.0, abs(eb))

    ref_c = _cumsum_sequential(rows)
    for r in cumsum_scan(df, "k", "t", "x", n_partitions=8,
                         mode="split", split_threshold=100).collect():
        es, emn, emx = ref_c[(r["k"], r["t"])]
        assert abs(r["run_sum"] - es) <= 1e-9 * max(1.0, abs(es))
        assert abs(r["run_min"] - emn) <= 1e-9 * max(1.0, abs(emn))
        assert abs(r["run_max"] - emx) <= 1e-9 * max(1.0, abs(emx))


@pytest.mark.slow  # opt-in lane (r14): long single test
def test_split_10m_point_key_bounded_partitions(spark):
    """The documented dead zone (numerous keys AND one oversized key):
    one 10M-point key among 100k two-row keys. mode="split" routes the
    hot key through the ranged carry machinery — its rows RANGE-SPLIT
    across partitions (max per-partition load asserted ≤ 3x ideal, so
    no single grouped partition ever holds the 10M-point series) —
    and the tail through grouped (zero driver state). Exactness via
    closed forms: x=1 ⇒ hot run_sum at position t is t+1."""
    n_hot, n_tail = 10_000_000, 100_000
    hot = spark.range(n_hot).select(
        F.lit("hot").alias("k"), F.col("id").cast("int").alias("t"),
        F.lit(1.0).alias("x"))
    tail = spark.range(n_tail * 2).select(
        (F.col("id") % n_tail).cast("string").alias("k"),
        (F.col("id") / n_tail).cast("int").alias("t"),
        F.lit(2.0).alias("x"))
    df = hot.unionByName(tail)

    parts = 32
    hot_df, rest_df = _split_oversized(df, "k", _DEFAULT_SPLIT_THRESHOLD)
    layout = _frozen_blocks(
        _base_frame(hot_df, "k", "t", "x"), parts, ["k", "t"], sort=True)
    per_part = [r["c"] for r in layout.groupBy(F.spark_partition_id())
                .agg(F.count("*").alias("c")).collect()]
    assert max(per_part) <= 3 * (n_hot // parts)
    assert rest_df.filter(F.col("k") == "hot").count() == 0

    res = cumsum_scan(df, "k", "t", "x", n_partitions=parts, mode="split")
    # hot key: run_sum(t) = t+1 exactly (integer-valued doubles)
    probe = (res.filter((F.col("k") == "hot")
                        & F.col("t").isin(0, 1, 4_999_999, 9_999_999))
             .select("t", "run_sum").collect())
    assert {r["t"]: r["run_sum"] for r in probe} == {
        0: 1.0, 1: 2.0, 4_999_999: 5_000_000.0, 9_999_999: 10_000_000.0}
    # tail: every key's final run_sum is 4.0; count proves full cover
    fin = res.filter((F.col("k") != "hot") & (F.col("t") == 1)).agg(
        F.count("*").alias("c"), F.sum("run_sum").alias("s")).first()
    assert fin["c"] == n_tail and fin["s"] == 4.0 * n_tail


def test_ewma_split_gate_routes_both_branches(spark, sf_dir):
    """The events_daily_ewma_split gate's frame really exercises BOTH
    split routes: click/error (30-point daily series) are above the
    gate's threshold=25 and go ranged; every per-week shard key stays
    below it and goes grouped."""
    from pyspark.sql import functions as F

    from library_data_warehouse_and_business_analytics_system_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    week = F.floor((F.dayofmonth("ts") - F.lit(1)) / F.lit(7))
    skey = (F.when(F.col("event_type").isin("click", "error"),
                   F.col("event_type"))
            .otherwise(F.concat(F.col("event_type"), F.lit("#w"),
                                week.cast("string"))))
    daily = (ev.groupBy(skey.alias("skey"), F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("daily_events")))
    hot, rest = _split_oversized(daily, "skey", threshold=25)
    hot_keys = {r["skey"] for r in hot.select("skey").distinct().collect()}
    rest_keys = {r["skey"]
                 for r in rest.select("skey").distinct().collect()}
    assert hot_keys == {"click", "error"}
    assert rest_keys and all("#w" in k for k in rest_keys)
