"""Property-based tests (hypothesis) for the pure-python/numpy kernels —
fast, no Spark session needed."""

from __future__ import annotations

import datetime as dt

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from at_data_pipelines_spark.kernels.portfolio import project_simplex
from at_data_pipelines_spark.llmops.dedup import MINHASH_PRIME, minhash_coefficients
from at_data_pipelines_spark.pipelines.flows import reconstruct_membership
from at_data_pipelines_spark.pipelines.synthetic import trading_calendar


@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=200)
)
@settings(max_examples=200, deadline=None)
def test_simplex_projection_properties(v):
    w = project_simplex(np.array(v, dtype=np.float64))
    assert abs(w.sum() - 1) < 1e-9
    assert (w >= 0).all()
    # idempotence: projecting a point already on the simplex is identity
    # (tolerance scales with input magnitude — theta is computed from
    # cumsums of the raw values)
    scale = max(1.0, np.abs(v).max())
    w2 = project_simplex(w)
    assert np.abs(w2 - w).max() < 1e-15 * scale + 1e-12
    # translation invariance along 1-vector: proj(v + c·1) == proj(v)
    w3 = project_simplex(np.array(v) + 7.5)
    assert np.abs(w3 - w).max() < 1e-14 * scale + 1e-9


@given(st.integers(1, 64), st.integers(0, 10_000))
@settings(max_examples=50, deadline=None)
def test_minhash_coefficients_bounds(k, seed):
    coefs = minhash_coefficients(k, seed)
    assert len(coefs) == k
    for a, b in coefs:
        assert 1 <= a < MINHASH_PRIME and 0 <= b < MINHASH_PRIME
        # overflow safety: a·h + b < 2^63 for any 28-bit base hash h
        assert a * (2**28 - 1) + b < 2**63
    # deterministic per seed
    assert coefs == minhash_coefficients(k, seed)


@given(st.integers(0, 2000))
@settings(max_examples=30, deadline=None)
def test_trading_calendar_deterministic_and_weekday(offset):
    start = dt.date(2020, 1, 1) + dt.timedelta(days=offset)
    end = start + dt.timedelta(days=90)
    cal = trading_calendar(start, end)
    assert cal == trading_calendar(start, end)
    assert all(d.weekday() < 5 for d in cal)
    assert cal == sorted(cal)


@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=10, unique=True),
    st.integers(1, 5),
)
@settings(max_examples=50, deadline=None)
def test_reconstruct_membership_replays_forward(change_days, n_changes):
    """Reverse reconstruction then forward replay reproduces the final
    membership on every date."""
    cal = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(31)]
    rng = np.random.default_rng(sum(change_days) + n_changes)
    tickers = [f"T{i}" for i in range(8)]
    members = set(tickers[:5])
    changes = []
    m = set(members)
    for day in sorted(change_days)[:n_changes]:
        candidates_add = [t for t in tickers if t not in m]
        candidates_rem = sorted(m)
        add = {candidates_add[0]} if candidates_add else set()
        rem = {candidates_rem[0]} if len(candidates_rem) > 1 else set()
        m = (m | add) - rem
        changes.append((cal[day], add, rem))
    current = m
    hist = reconstruct_membership(current, changes, cal)
    # forward replay check: membership on each date equals applying all
    # changes with date <= d to the initial state
    initial = set(hist[hist.date == cal[0]].ticker)
    mm = set(initial)
    ci = sorted(changes, key=lambda c: c[0])
    k = 0
    for d in cal:
        while k < len(ci) and ci[k][0] <= d:
            mm = (mm | ci[k][1]) - ci[k][2]
            k += 1
        assert set(hist[hist.date == d].ticker) == mm
    assert set(hist[hist.date == cal[-1]].ticker) == current


@given(st.integers(1, 5000), st.integers(1, 100))
@settings(max_examples=300, deadline=None)
def test_ntile_closed_form_matches_ansi_rule(n_rows, k):
    """ops.rank.ntile_from encodes NTILE's uneven-bucket rule closed-form:
    the first N mod k buckets get ⌈N/k⌉ rows, the rest ⌊N/k⌋. Check the
    formula (mirrored in pure python) against the explicit bucket list
    for every rank."""
    q, r = divmod(n_rows, k)
    cut = r * (q + 1)

    def formula(rank: int) -> int:
        import math

        if rank <= cut:
            return math.ceil(rank / (q + 1))
        return r + math.ceil((rank - cut) / max(q, 1))

    explicit = [
        bucket + 1
        for bucket in range(k)
        for _ in range(q + (1 if bucket < r else 0))
    ]
    assert len(explicit) == n_rows
    for rank in range(1, n_rows + 1):
        assert formula(rank) == explicit[rank - 1], (n_rows, k, rank)


@given(
    st.lists(
        st.floats(-1e9, 1e9, allow_nan=False).filter(lambda x: x == x),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_partition_value_escape_roundtrip(vals):
    """Hive partition-value escape/unescape round-trips arbitrary value
    spellings (incl. scientific notation, %, specials)."""
    from at_data_pipelines_spark.catalog import (
        _escape_partition_value,
        _unescape_partition_value,
    )

    for v in vals:
        s = repr(v)
        esc = _escape_partition_value(s)
        assert "/" not in esc and "=" not in esc.replace("%3D", "")
        assert _unescape_partition_value(esc) == s


# -- zone-map pruning soundness (catalog.scan) -----------------------------

_zm_floats = st.one_of(
    st.floats(-1e12, 1e12, allow_nan=False), st.just(float("nan"))
)
_zm_ints = st.integers(-(2**40), 2**40)
_zm_strings = st.text(max_size=12)  # includes non-ASCII
_zm_dates = st.dates(dt.date(1971, 1, 1), dt.date(2200, 1, 1))
_zm_datetimes = st.datetimes(
    dt.datetime(1971, 1, 1), dt.datetime(2200, 1, 1)
)


def _spark_min_max(vals):
    """Spark aggregate semantics: nulls skipped; NaN ranks LARGEST among
    doubles (so max of {1.0, NaN} is NaN)."""
    nn = [v for v in vals if v is not None]
    if not nn:
        return None, None
    if any(isinstance(v, float) for v in nn):
        import math

        nans = [v for v in nn if isinstance(v, float) and math.isnan(v)]
        reals = [v for v in nn if not (isinstance(v, float) and math.isnan(v))]
        mx = nans[0] if nans else max(reals)
        mn = min(reals) if reals else nans[0]
        return mn, mx
    return min(nn), max(nn)


def _row_matches(v, lo, hi):
    """Spark SQL semantics of lo <= v AND v <= hi (each side omitted when
    unbounded): NULL never matches; NaN ranks larger than every double;
    a date compared against a datetime promotes to its midnight
    timestamp (Spark's date→timestamp implicit cast)."""
    import math

    def _promote(a, b):
        if (
            isinstance(a, dt.date)
            and not isinstance(a, dt.datetime)
            and isinstance(b, dt.datetime)
        ):
            return dt.datetime.combine(a, dt.time(0)), b
        if (
            isinstance(b, dt.date)
            and not isinstance(b, dt.datetime)
            and isinstance(a, dt.datetime)
        ):
            return a, dt.datetime.combine(b, dt.time(0))
        return a, b

    if v is None:
        return False

    def _cmp(a, b):  # a <= b under Spark's NaN-largest total order
        a, b = _promote(a, b)
        a_nan = isinstance(a, float) and math.isnan(a)
        b_nan = isinstance(b, float) and math.isnan(b)
        if a_nan:
            return b_nan
        if b_nan:
            return True
        return a <= b

    if lo is not None and not _cmp(lo, v):
        return False
    if hi is not None and not _cmp(v, hi):
        return False
    return True


@st.composite
def _zone_case(draw):
    # d2ts / ts2d are the MIXED temporal cases the r6 advisor flagged:
    # date-typed stats probed with datetime bounds and vice versa
    kind = draw(st.sampled_from(["f", "i", "s", "d", "ts", "d2ts", "ts2d"]))
    velem = {
        "f": _zm_floats,
        "i": _zm_ints,
        "s": _zm_strings,
        "d": _zm_dates,
        "ts": _zm_datetimes,
        "d2ts": _zm_dates,
        "ts2d": _zm_datetimes,
    }[kind]
    belem = {"d2ts": _zm_datetimes, "ts2d": _zm_dates}.get(kind, velem)
    vals = draw(st.lists(st.one_of(st.none(), velem), min_size=0, max_size=20))
    lo = draw(st.one_of(st.none(), belem))
    hi = draw(st.one_of(st.none(), belem))
    return kind, vals, lo, hi


@given(_zone_case())
@settings(max_examples=500, deadline=None)
def test_zone_excludes_is_sound(case):
    """If scan()'s pruning (bound coercion + _zone_excludes) says a leaf
    can be skipped, NO row in it can satisfy the predicate under Spark
    comparison semantics — for every value type, with NULLs, NaNs,
    non-ASCII strings, and mixed date/datetime encodings in play.
    (Completeness is not required — failing to prune is always safe —
    but a single unsound exclusion silently drops rows.)"""
    from pyspark.sql import types as T

    from at_data_pipelines_spark.catalog import (
        _NO_PRUNE,
        _prune_bound,
        _stat_encode,
        _zone_excludes,
    )

    kind, vals, lo, hi = case
    mn, mx = _spark_min_max(vals)
    if mn is None and mx is None:
        stats = {"c": [None, None]}
    else:
        emn, emx = _stat_encode(mn), _stat_encode(mx)
        stats = {"c": [emn, emx]} if emn is not None and emx is not None else {}
    # scan()'s coercion step, with the column dtype the kind implies
    dtype = {
        "d": T.DateType(),
        "d2ts": T.DateType(),
        "ts": T.TimestampNTZType(),
        "ts2d": T.TimestampNTZType(),
    }.get(kind, T.StringType())
    lo_p, hi_p = _prune_bound(dtype, lo, "lo"), _prune_bound(dtype, hi, "hi")
    if lo_p is _NO_PRUNE or hi_p is _NO_PRUNE:
        return  # scan refuses to prune on this column: vacuously sound
    if _zone_excludes(stats, {"c": (lo_p, hi_p)}):
        matching = [v for v in vals if _row_matches(v, lo, hi)]
        assert matching == [], (
            f"pruned a leaf containing matches: kind={kind} vals={vals!r} "
            f"bounds=({lo!r}, {hi!r}) stats={stats!r} -> {matching!r}"
        )
