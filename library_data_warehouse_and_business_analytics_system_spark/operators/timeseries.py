"""Time-series gap filling and distributed scans (EWMA / Holt /
running stats) — the series passes a training pipeline runs over
event/sensor streams before windowed featurization.

Scan-family regime (ewma_scan / holt_scan / cumsum_scan)
--------------------------------------------------------

The two-phase range scan ("ranged" mode) exists for the FEW KEYS x
LONG SERIES regime — the case `Window.partitionBy(key)` (or grouped
applyInPandas) cannot handle, because a single key's billion-point
timeline would serialize on one reducer. Its cost is a driver-side
carry chain: one collected block summary per (partition, key) and a
broadcast carry map — O(#keys + #partitions), perfect for dozens of
keys, fatal for billions (the summaries collect and the broadcast
both scale with key count).

The NUMEROUS-KEYS regime needs none of that machinery: many keys
hash-distribute evenly, so each key's (short) series fits one
partition and a plain per-key sequential fold is exact and carry-free
("grouped" mode: repartition on the key, sortWithinPartitions, one
Arrow pass, zero driver state).

All three scans therefore dispatch: ``mode="auto"`` (default) probes
``approx_count_distinct(key)`` (one cheap agg pass) and picks
"grouped" above ``max_carry_keys`` (default 100k), "ranged" below.
Callers that know their regime pass ``mode="ranged"`` or
``mode="grouped"`` explicitly and skip the probe.

The one shape neither base mode loves — numerous keys AND a few
oversized keys whose series would blow a single grouped partition —
has an explicit escape hatch: ``mode="split"`` pays one exact
per-key count pass, routes keys above ``split_threshold`` rows
through the ranged carry machinery (range-split across partitions,
driver state O(#hot keys x #partitions) — bounded because a key only
qualifies by being huge, so there can only be a handful), and the
long tail through grouped, then unions. Auto deliberately does NOT
guess this: the count pass is a real extra shuffle, so the caller
opts in.

Numerics: both modes stay inside the same few-ulp reassociation
envelope (tests pin 1e-9 against the sequential fold; driver gates
snap to a fixed grid). The Arrow passes are numpy-vectorized per key
segment — EWMA via chunked rescaled cumulative sums (chunk length
bounded so the in-chunk rescale ratio stays ~e^30, far from both
underflow and double overflow), Holt via the eigen-decomposition of
its 2x2 affine transition (two independent complex-geometry EWMA
channels), running stats via np.cumsum / minimum.accumulate.
Degenerate parameters (alpha->1 extremes, defective Holt transition)
fall back to the exact scalar row loop.
"""

from __future__ import annotations

import cmath
import math

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .scan import SegmentFold, segment_scan


def gapfill_interpolate(df: DataFrame, key_col: str, date_col: str,
                        val_col: str) -> DataFrame:
    """``(key_col, date_col, v_filled, was_gap)`` on the dense per-key
    day spine; ``df`` must hold one row per (key, date).

    Per series key: build the contiguous day spine from the key's own
    first to last observation, left-join the observed values, and fill
    each hole by linear interpolation between the nearest observed
    values on either side (flat extrapolation at the edges). Scale
    shape: everything is per-key — the spine explode is bounded by
    each key's own date range, and the prev/next scans are two
    ``Window.partitionBy(key)`` passes, so no global window and no
    single-reducer sort; keys are numerous by construction.
    """
    bounds = (df.groupBy(key_col)
              .agg(F.min(date_col).alias("_d0"),
                   F.max(date_col).alias("_d1")))
    spine = bounds.select(
        key_col, F.explode(F.sequence("_d0", "_d1")).alias(date_col))
    full = spine.join(df, [key_col, date_col], "left")

    w_prev = (Window.partitionBy(key_col).orderBy(date_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_next = (Window.partitionBy(key_col).orderBy(date_col)
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    v = F.col(val_col)
    obs_d = F.when(v.isNotNull(), F.col(date_col))
    pv = F.last(v, ignorenulls=True).over(w_prev)
    pd_ = F.last(obs_d, ignorenulls=True).over(w_prev)
    nv = F.first(v, ignorenulls=True).over(w_next)
    nd = F.first(obs_d, ignorenulls=True).over(w_next)

    interp = (pv + (nv - pv)
              * (F.datediff(F.col(date_col), pd_).cast("double")
                 / F.datediff(nd, pd_).cast("double")))
    filled = (F.when(v.isNotNull(), v)
              .when(pv.isNull(), nv)       # leading edge: flat from next
              .when(nv.isNull(), pv)       # trailing edge: flat from prev
              .otherwise(interp))
    return full.select(
        key_col, date_col,
        filled.cast("double").alias("v_filled"),
        v.isNull().alias("was_gap"))


# ---------------------------------------------------------------------------
# Shared scan machinery.
#
# The ranged layout is the two-phase range scan of ``operators/scan.py``
# (``segment_scan``): each partition holds a contiguous slice of each
# key's timeline, per-(partition, key) block summaries chain into
# carries on the driver (exact algebra of the linear recurrence), and a
# second Arrow pass folds each block from its broadcast carry-in. A key
# with a billion points uses every partition its range covers; nothing
# funnels through one task.
#
# The grouped layout: hash repartition on the key alone + sort within
# partitions — every key lives wholly inside one partition, the fold
# pass starts every key from its zero carry, and no summaries pass /
# collect / broadcast exists at all. This is the numerous-keys path
# (see module docstring).
#
# Each scan below is a ``SegmentFold``: its block summary, its carry
# combine and zero, and its per-segment emit; ``_run_scan`` owns the
# mode dispatch shared by all three.

_SCALE_LIMIT = 30.0           # ln(max in-chunk rescale ratio)
_VEC_MIN_DECAY = 1e-250       # below this, rescaling over/underflows
_MAX_CHUNK = 32768
_DEFAULT_MAX_CARRY_KEYS = 100_000
# mode="split": a key above this many rows no longer belongs on one
# grouped partition (~16 MB of (key, ts, double) rows) and is routed
# through the ranged carry machinery instead.
_DEFAULT_SPLIT_THRESHOLD = 2_000_000


def _base_frame(df: DataFrame, key_col: str, order_col: str,
                val_col: str) -> DataFrame:
    return df.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(order_col).alias("t"),
        F.col(val_col).cast("double").alias("x"))


def _split_oversized(df: DataFrame, key_col: str, threshold: int,
                     ) -> tuple[DataFrame, DataFrame]:
    """(hot, rest) for mode="split": keys with more than ``threshold``
    rows vs the tail. One exact count pass (partial-aggregated, so the
    shuffle is #keys not #rows); the hot key set is broadcast for the
    semi/anti routing — bounded by construction, a key qualifies only
    by holding >threshold rows so at N total rows there are at most
    N/threshold of them."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    hot = counts.filter(F.col("_n") > threshold).select(key_col)
    return (df.join(F.broadcast(hot), key_col, "left_semi"),
            df.join(F.broadcast(hot), key_col, "left_anti"))


def _resolve_mode(base: DataFrame, mode: str, max_carry_keys: int) -> str:
    if mode not in ("auto", "ranged", "grouped"):
        raise ValueError(
            f"mode must be auto|ranged|grouped|split, got {mode!r}")
    if mode != "auto":
        return mode
    nkeys = base.agg(
        F.approx_count_distinct("k").alias("n")).first()["n"]
    return "grouped" if nkeys > max_carry_keys else "ranged"


def _run_scan(df: DataFrame, key_col: str, order_col: str, val_col: str,
              fold: SegmentFold, n_partitions: int | None, mode: str,
              max_carry_keys: int, split_threshold: int) -> DataFrame:
    """``(key_col, order_col, val_col, *fold.outputs)`` under ``mode``
    (see the module docstring); "split" runs the hot keys ranged and
    the tail grouped, then unions."""
    if mode == "split":
        hot, rest = _split_oversized(df, key_col, split_threshold)
        kw = dict(fold=fold, n_partitions=n_partitions,
                  max_carry_keys=max_carry_keys,
                  split_threshold=split_threshold)
        return (_run_scan(hot, key_col, order_col, val_col,
                          mode="ranged", **kw)
                .unionByName(_run_scan(rest, key_col, order_col, val_col,
                                       mode="grouped", **kw)))
    base = _base_frame(df, key_col, order_col, val_col)
    mode = _resolve_mode(base, mode, max_carry_keys)
    parts = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    res = segment_scan(base, fold, parts, grouped=mode == "grouped")
    return res.select(
        F.col("k").alias(key_col), F.col("t").alias(order_col),
        F.col("x").alias(val_col), *fold.outputs)


def _head_summary(zero, head, fold_from):
    """Block summary of a recurrence whose series starts at
    ``head(x_1)``: (rows, state folded from ``zero``, state folded
    from the head) — the two states a block can continue from, for a
    carried-in predecessor or for a block that starts its key."""
    def summarize(acc, seg):
        if acc is None:
            return (len(seg), fold_from(zero, seg),
                    fold_from(head(float(seg[0])), seg[1:]))
        n, z0, z1 = acc
        return n + len(seg), fold_from(z0, seg), fold_from(z1, seg)
    return summarize


def _geom_chunk(decay: float) -> int:
    """Rows per vectorized chunk so decay**-chunk stays ≲ e^30."""
    if decay >= 1.0:
        return _MAX_CHUNK
    return max(1, min(_MAX_CHUNK, int(_SCALE_LIMIT / -math.log(decay))))


# ---------------------------------------------------------------------------
# Exponentially weighted moving average as a DISTRIBUTED SCAN.
#
# The recurrence s_1 = x_1, s_t = (1-α)·s_{t-1} + α·x_t is the textbook
# smoothing pass every monitoring / forecasting pipeline runs over its
# series, and the naive Spark expression — a window ordered by time —
# either doesn't exist (no recursive window functions) or collapses a
# key onto one reducer via applyInPandas(key). Ranged mode is the
# two-phase range shape (see above) with a MULTIPLICATIVE carry:
# s_end = carry·(1-α)^n + zero-carry fold, the exact algebra of the
# linear recurrence.
#
# Vectorization: within a chunk of m rows folded from state s0,
#   s_j = (1-α)^j · (s0 + α · Σ_{i≤j} (1-α)^{-i} x_i)
# so one power array + one rescaled cumsum per chunk replaces the row
# loop (~50x per-batch throughput, same story as cumsum_scan's
# e123837 commit). Chunk length is capped so (1-α)^{-i} never exceeds
# ~e^30 — far from overflow, and the precision loss of mixing scales
# mirrors exactly the true decay of old contributions, keeping the
# result within the 1e-9 envelope the tests pin.


def _ewma_fold_from(s: float, xs: np.ndarray, one_minus: float,
                    alpha: float, dcache: np.ndarray | None) -> float:
    """State after folding xs from s via s ← (1-α)s + αx."""
    if dcache is None:                      # extreme decay: exact rows
        for x in xs:
            s = one_minus * s + alpha * float(x)
        return s
    chunk = len(dcache)
    for i in range(0, len(xs), chunk):
        seg = xs[i:i + chunk]
        m = len(seg)
        d = dcache[:m]
        s = d[m - 1] * (s + alpha * float(np.dot(seg, 1.0 / d)))
    return s


def _ewma_emit_from(s: float, xs: np.ndarray, out: np.ndarray, lo0: int,
                    one_minus: float, alpha: float,
                    dcache: np.ndarray | None) -> float:
    """Write the folded values of xs into out[lo0:]; return final s."""
    if dcache is None:
        for j, x in enumerate(xs):
            s = one_minus * s + alpha * float(x)
            out[lo0 + j] = s
        return s
    chunk = len(dcache)
    for i in range(0, len(xs), chunk):
        seg = xs[i:i + chunk]
        m = len(seg)
        d = dcache[:m]
        vals = d * (s + alpha * np.cumsum(seg / d))
        out[lo0 + i:lo0 + i + m] = vals
        s = float(vals[-1])
    return s


def _ewma_fold(alpha: float, vectorize: bool) -> SegmentFold:
    one_minus = 1.0 - alpha
    dcache = (one_minus ** np.arange(1.0, _geom_chunk(one_minus) + 1.0)
              if vectorize and one_minus >= _VEC_MIN_DECAY else None)

    def fold_from(s, xs):
        return _ewma_fold_from(s, xs, one_minus, alpha, dcache)

    def combine(carry, block):
        # carry None: no predecessor, the block starts the key
        n, l0, l1 = block
        return l1 if carry is None else carry * (one_minus ** n) + l0

    def emit(s, seg, outs, lo):
        out = outs["ewma"]
        if s is None:                       # the key starts here
            out[lo] = s = float(seg[0])
            seg, lo = seg[1:], lo + 1
        return _ewma_emit_from(s, seg, out, lo, one_minus, alpha, dcache)

    return SegmentFold(summarize=_head_summary(0.0, float, fold_from),
                       combine=combine, zero=None, emit=emit,
                       outputs=("ewma",))


def ewma_scan(df: DataFrame, key_col: str, order_col: str, val_col: str,
              alpha: float = 0.5, n_partitions: int | None = None,
              mode: str = "auto",
              max_carry_keys: int = _DEFAULT_MAX_CARRY_KEYS,
              vectorize: bool = True,
              split_threshold: int = _DEFAULT_SPLIT_THRESHOLD) -> DataFrame:
    """``(key_col, order_col, val_col, ewma)`` — one row per input row;
    ``(key_col, order_col)`` must be unique. ``alpha`` in (0, 1].

    ``mode``: "ranged" = two-phase range scan (few keys x long series;
    driver carry is O(#keys)); "grouped" = per-key hash partition, no
    driver state (numerous keys); "auto" = probe approx key count and
    dispatch at ``max_carry_keys``; "split" = exact-count keys once,
    ranged for keys above ``split_threshold`` rows, grouped for the
    tail (the numerous-keys-AND-oversized-key shape neither base mode
    handles alone). See the module docstring.

    ``vectorize=False`` folds each segment with the exact scalar
    recurrence instead of the chunked rescaled cumsum — bit-identical
    to a sequential engine's fold within every block, which is what a
    hash-exact cross-engine gate needs (the vectorized fold's few-ulp
    reassociation can flip a floor-grid boundary row; tests pin it at
    1e-9 instead — except on dyadic-exact inputs, where the
    events_daily_ewma_vec gate pins the vectorized fold bit-exactly).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if alpha == 1.0:
        # s_t = x_t under both conventions — no scan state at all.
        base = _base_frame(df, key_col, order_col, val_col)
        return base.select(
            F.col("k").alias(key_col), F.col("t").alias(order_col),
            F.col("x").alias(val_col), F.col("x").alias("ewma"))
    return _run_scan(df, key_col, order_col, val_col,
                     _ewma_fold(alpha, vectorize), n_partitions, mode,
                     max_carry_keys, split_threshold)


# ---------------------------------------------------------------------------
# Holt's linear-trend smoothing (double exponential smoothing) as the
# same two-phase distributed scan, with a 2-vector state and a MATRIX
# carry. The recurrence
#     l_t = (1-α)·(l_{t-1} + b_{t-1}) + α·x_t
#     b_t = γ·(l_t − l_{t-1}) + (1-γ)·b_{t-1}
# is affine in the state s = (l, b): s_t = M·s_{t-1} + v·x_t with
#     M = [[1-α, 1-α], [-γα, 1-γα]],   v = (α, γα).
# A block of n rows composes to s_out = Mⁿ·s_in + u, where u is the
# block's fold from the zero state — the classic Blelloch-scan algebra
# for linear recurrences, which is what makes the per-partition
# summaries chainable on the driver (Mⁿ via numpy matrix_power, log n
# squarings; #blocks ≤ #partitions + #keys as in ewma_scan). Head
# convention: l_1 = x_1, b_1 = 0.
#
# Vectorization: diagonalize M = P·diag(λ1, λ2)·P⁻¹. In eigencoords
# z = P⁻¹·s the recurrence splits into two INDEPENDENT scalar channels
# z_t = λ·z_{t-1} + w·x_t — each exactly the EWMA shape above with a
# (generally complex — for α=γ=0.5 the eigenvalues are a conjugate
# pair) decay, so the same chunked rescaled-cumsum trick applies in
# complex128; converting back (s = P·z, take the real part) costs one
# small matmul per chunk. Defective / degenerate transitions (repeated
# eigenvalue, α=1) fall back to the exact scalar row loop, whose state
# is the (level, trend) pair itself.


def _holt_step_fn(alpha: float, gamma: float):
    om_a, om_g = 1.0 - alpha, 1.0 - gamma

    def step(level: float, trend: float, x: float) -> tuple[float, float]:
        l_new = om_a * (level + trend) + alpha * x
        b_new = gamma * (l_new - level) + om_g * trend
        return l_new, b_new

    return step


def _holt_setup(alpha: float, gamma: float):
    """Eigen machinery (lam, P, Pinv, w, dpow_cache) for the
    vectorized path, or None when the transition is degenerate or
    (near-)defective and the exact row loop should run instead."""
    a = 1.0 - alpha
    d2 = 1.0 - gamma * alpha
    tr, det = a + d2, a                   # det(M) = 1-α
    sq = cmath.sqrt(complex(tr * tr - 4.0 * det))
    lam1, lam2 = (tr + sq) / 2.0, (tr - sq) / 2.0
    # Pinv carries 1/(λ1-λ2); keep the amplification ≤ ~1e3 so the
    # round trip stays far inside the 1e-9 envelope.
    if a == 0.0 or abs(lam1 - lam2) < 1e-3:
        return None
    lmin = min(abs(lam1), abs(lam2))
    if lmin < _VEC_MIN_DECAY:
        return None
    P = np.array([[a, a], [lam1 - a, lam2 - a]], dtype=complex)
    Pinv = np.linalg.inv(P)
    w = Pinv @ np.array([alpha, gamma * alpha], dtype=complex)
    lam = np.array([lam1, lam2], dtype=complex)
    chunk = _geom_chunk(lmin) if lmin < 1.0 else _MAX_CHUNK
    dpow = lam[None, :] ** np.arange(1.0, chunk + 1.0)[:, None]
    return lam, P, Pinv, w, dpow


def _holt_fold_from(z, xs: np.ndarray, step, eig):
    """State after folding xs from z: eigencoords, or the exact
    (level, trend) row loop when ``eig`` is None."""
    if eig is None:
        level, trend = z
        for x in xs:
            level, trend = step(level, trend, float(x))
        return level, trend
    _, _, _, w, dpow = eig
    chunk = len(dpow)
    for i in range(0, len(xs), chunk):
        seg = xs[i:i + chunk]
        m = len(seg)
        d = dpow[:m]
        dot = (seg[:, None] / d).sum(axis=0)
        z = d[m - 1] * (z + w * dot)
    return z


def _holt_emit_from(z, xs: np.ndarray, out_l: np.ndarray,
                    out_b: np.ndarray, lo0: int, step, eig):
    """Write the folded (level, trend) of xs into out_l/out_b[lo0:];
    return the final state."""
    if eig is None:
        level, trend = z
        for j, x in enumerate(xs):
            level, trend = step(level, trend, float(x))
            out_l[lo0 + j], out_b[lo0 + j] = level, trend
        return level, trend
    _, P, _, w, dpow = eig
    chunk = len(dpow)
    for i in range(0, len(xs), chunk):
        seg = xs[i:i + chunk]
        m = len(seg)
        d = dpow[:m]
        cum = np.cumsum(seg[:, None] / d, axis=0)
        zs = d * (z[None, :] + w[None, :] * cum)
        svals = zs @ P.T                    # rows are (l_j, b_j)
        out_l[lo0 + i:lo0 + i + m] = svals[:, 0].real
        out_b[lo0 + i:lo0 + i + m] = svals[:, 1].real
        z = zs[-1]
    return z


def _holt_fold(alpha: float, gamma: float, vectorize: bool) -> SegmentFold:
    step = _holt_step_fn(alpha, gamma)
    eig = _holt_setup(alpha, gamma) if vectorize else None
    # carries are real (level, trend) pairs, chained on the driver; the
    # fold state is the pair itself, or its eigencoords when vectorized
    if eig is None:
        zero = (0.0, 0.0)

        def head(x):
            return x, 0.0

        def to_real(s):
            return s

        def start(carry):
            return carry
    else:
        P, Pinv = eig[1], eig[2]
        zero = np.zeros(2, dtype=complex)

        def head(x):
            return Pinv[:, 0] * x

        def to_real(z):
            s = P @ z
            return s[0].real, s[1].real

        def start(carry):
            return (None if carry is None
                    else Pinv @ np.array(carry, dtype=complex))

    def fold_from(z, xs):
        return _holt_fold_from(z, xs, step, eig)

    om_a = 1.0 - alpha
    M = np.array([[om_a, om_a], [-gamma * alpha, 1.0 - gamma * alpha]])

    def combine(carry, block):
        n, z0, z1 = block
        if carry is None:                   # the block starts the key
            return to_real(z1)
        s_out = (np.linalg.matrix_power(M, n) @ np.array(carry)
                 + np.array(to_real(z0)))
        return float(s_out[0]), float(s_out[1])

    def emit(z, seg, outs, lo):
        out_l, out_b = outs["level"], outs["trend"]
        if z is None:                       # the key starts here
            x1 = float(seg[0])
            out_l[lo], out_b[lo] = x1, 0.0
            z, seg, lo = head(x1), seg[1:], lo + 1
        return _holt_emit_from(z, seg, out_l, out_b, lo, step, eig)

    return SegmentFold(summarize=_head_summary(zero, head, fold_from),
                       combine=combine, zero=None, start=start, emit=emit,
                       outputs=("level", "trend"))


def holt_scan(df: DataFrame, key_col: str, order_col: str, val_col: str,
              alpha: float = 0.5, gamma: float = 0.5,
              n_partitions: int | None = None, mode: str = "auto",
              max_carry_keys: int = _DEFAULT_MAX_CARRY_KEYS,
              vectorize: bool = True,
              split_threshold: int = _DEFAULT_SPLIT_THRESHOLD) -> DataFrame:
    """``(key_col, order_col, val_col, level, trend)`` — one row per
    input row; ``(key_col, order_col)`` must be unique. ``mode`` and
    ``vectorize`` as in :func:`ewma_scan` (``vectorize=False`` runs
    the exact scalar recurrence — the eigen channels' complex-rotation
    round trips reassociate a few more ulps than EWMA's real-valued
    cumsum, enough to flip a floor-grid gate row)."""
    if not 0.0 < alpha <= 1.0 or not 0.0 < gamma <= 1.0:
        raise ValueError(f"alpha/gamma must be in (0, 1], got "
                         f"{alpha}/{gamma}")
    return _run_scan(df, key_col, order_col, val_col,
                     _holt_fold(alpha, gamma, vectorize), n_partitions,
                     mode, max_carry_keys, split_threshold)


# ---------------------------------------------------------------------------
# Grouped running SUM / MIN / MAX as the same two-phase scan with an
# ADDITIVE carry — the primitive behind running-total reports and
# CUSUM change-point detection. ``scan.running_total`` covers the
# SQL-window case; this is the per-key variant with prefix-extrema,
# for series analytics where `Window.partitionBy(key)` would put each
# key on one reducer.
#
# Both Arrow passes are numpy-vectorized per key SEGMENT: np.cumsum is
# a sequential accumulate, np.minimum/maximum.accumulate are exact
# selections — ~50x the row-loop throughput, and still within the same
# few-ulp reassociation envelope the tests pin at 1e-9.

_CUMSUM_ZERO = (0.0, float("inf"), float("-inf"))


def _cumsum_summarize(acc, seg):
    s, mn, mx = _CUMSUM_ZERO if acc is None else acc
    run = s + np.cumsum(seg)
    return (float(run[-1]), min(mn, float(run.min())),
            max(mx, float(run.max())))


def _cumsum_combine(c, block):
    bsum, bmin, bmax = block
    return (c[0] + bsum, min(c[1], c[0] + bmin), max(c[2], c[0] + bmax))


def _cumsum_emit(carry, seg, outs, lo):
    s, mn, mx = carry
    hi = lo + len(seg)
    run = s + np.cumsum(seg)
    outs["run_sum"][lo:hi] = run
    rmin = outs["run_min"][lo:hi] = np.minimum(
        mn, np.minimum.accumulate(run))
    rmax = outs["run_max"][lo:hi] = np.maximum(
        mx, np.maximum.accumulate(run))
    return float(run[-1]), float(rmin[-1]), float(rmax[-1])


_CUMSUM_FOLD = SegmentFold(summarize=_cumsum_summarize,
                           combine=_cumsum_combine, zero=_CUMSUM_ZERO,
                           emit=_cumsum_emit,
                           outputs=("run_sum", "run_min", "run_max"))


def cumsum_scan(df: DataFrame, key_col: str, order_col: str, val_col: str,
                n_partitions: int | None = None, mode: str = "auto",
                max_carry_keys: int = _DEFAULT_MAX_CARRY_KEYS,
                split_threshold: int = _DEFAULT_SPLIT_THRESHOLD,
                ) -> DataFrame:
    """``(key_col, order_col, val_col, run_sum, run_min, run_max)`` —
    prefix sum and prefix extrema OF THE PREFIX SUMS per key;
    ``(key_col, order_col)`` must be unique. Carries are (sum, min,
    max) triples: for a block folded from zero carry, the chained
    state is sum' = sum + block_sum, min' = min(min, sum + block_min)
    (and symmetrically for max) — exact algebra of the additive scan,
    so only float reassociation (a few ulps) separates this from the
    sequential fold; gates snap to a grid as with ewma_scan. ``mode``
    as in :func:`ewma_scan`."""
    return _run_scan(df, key_col, order_col, val_col, _CUMSUM_FOLD,
                     n_partitions, mode, max_carry_keys, split_threshold)
