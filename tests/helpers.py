"""Differential-compare helpers mirroring the driver's oracle check:
row-count + column names + order-insensitive exact value match; and a
Spark job counter."""

from __future__ import annotations

import datetime as _dt
import uuid

import numpy as np
import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
            if (s.dropna().dt.time == _dt.time(0)).all():
                df[c] = s.dt.strftime("%Y-%m-%d")  # pure dates
            else:
                df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: v.strftime("%Y-%m-%d %H:%M:%S.%f")
                if isinstance(v, _dt.datetime)
                else v.strftime("%Y-%m-%d")
                if isinstance(v, _dt.date)
                else (tuple(v) if isinstance(v, (list, np.ndarray)) else v)
            )
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame,
                        name: str = "", float_rtol: float = 0.0) -> None:
    """Driver-style compare. ``float_rtol=0`` demands bit-exact floats
    (the driver's hash gate); a small rtol is for library-domain report
    tests where both sides round doubles independently."""
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns differ: spark={list(a.columns)} oracle={list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row counts differ: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            # The driver's hash is TYPE-sensitive: an int64 column on
            # one side and a float64 on the other (the DuckDB
            # HUGEINT-for-SUM class — r8's returnflag_priority_counts
            # and r9's bpe_pair_stats red rows) hash differently even
            # when every value is equal. Coercing both sides to
            # float64 here hid exactly that, so refuse the coercion
            # when the dtype KINDS disagree.
            assert av.dtype.kind == bv.dtype.kind or (
                av.dtype.kind in "iu") == (bv.dtype.kind in "iu"), (
                f"{name}: column {c!r} dtype-kind mismatch: "
                f"spark={av.dtype} oracle={bv.dtype} — the driver hash "
                f"rejects int-vs-float even when values are equal; add "
                f"a CAST in the oracle (or the plan) so the types agree"
            )
            av = av.astype("float64")
            bv = bv.astype("float64")
            both_nan = np.isnan(av) & np.isnan(bv)
            if float_rtol:
                with np.errstate(invalid="ignore"):
                    eq = np.isclose(av, bv, rtol=float_rtol, atol=1e-9) | both_nan
            else:
                eq = (av == bv) | both_nan
        else:
            an = pd.isna(a[c]).to_numpy()
            bn = pd.isna(b[c]).to_numpy()
            eq = ((av == bv) & ~an & ~bn) | (an & bn)
        if not bool(np.all(eq)):
            bad = np.flatnonzero(~eq)[:5]
            detail = [(int(i), a[c].iloc[int(i)], b[c].iloc[int(i)]) for i in bad]
            raise AssertionError(
                f"{name}: column {c!r} mismatches at rows {detail} "
                f"({int((~eq).sum())} of {len(a)} rows differ)"
            )


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``: runs ``fn`` under a
    fresh job group and counts the group's jobs."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
