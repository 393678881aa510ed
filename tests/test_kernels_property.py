"""Property-based tests (hypothesis) for the pure-Python analysis kernels
added in round 5: the LTTB selector and the exact-cents replica of Spark's
double→DECIMAL(12,2) cast. Both are driver/executor-side scalar kernels
whose edge cases (tiny series, flat series, tie-heavy data, negative and
half-way values) randomized inputs reach far faster than example tests."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from denali_spark.operators.timeseries import _lttb_select
from denali_spark.streaming.events_stream import _cents
from tests.fuzz_budget import examples


@st.composite
def series(draw):
    n = draw(st.integers(min_value=1, max_value=400))
    # strictly increasing int64 timestamps with random gaps
    gaps = draw(
        st.lists(st.integers(min_value=1, max_value=10_000), min_size=n, max_size=n)
    )
    ts = np.cumsum(np.array(gaps, dtype="int64"))
    vals = np.array(
        draw(
            st.lists(
                st.floats(
                    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
                ),
                min_size=n,
                max_size=n,
            )
        ),
        dtype="float64",
    )
    return ts, vals


@given(series(), st.integers(min_value=2, max_value=120))
@settings(max_examples=examples(150), deadline=None)
def test_lttb_invariants(sv, n_out):
    ts, vals = sv
    idx = _lttb_select(ts, vals, n_out)
    n = len(ts)
    # endpoints always kept (when a reduction happens at all)
    assert idx[0] == 0 and idx[-1] == n - 1
    # strictly increasing positions — no duplicates, order preserved
    assert all(a < b for a, b in zip(idx, idx[1:])) or n == 1
    # size contract: passthrough below n_out, exact n_out above (n_out >= 3),
    # endpoints-only for degenerate n_out < 3
    if n_out >= n:
        assert idx == list(range(n))
    elif n_out < 3:
        assert idx == [0, n - 1]
    else:
        assert len(idx) == n_out
    # all positions valid
    assert all(0 <= i < n for i in idx)


@given(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False))
@settings(max_examples=examples(300), deadline=None)
def test_cents_matches_decimal_cast_semantics(v):
    """_cents must equal Java BigDecimal(double).setScale(2, HALF_UP) — i.e.
    HALF_UP on the EXACT binary expansion of the double, not on its decimal
    string. Cross-check against the decimal module applied to the exact
    Fraction of the double."""
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    got = _cents(v)
    frac = Fraction(v)  # exact binary expansion
    # Decimal(float) IS the exact binary expansion, so quantize(HALF_UP) on
    # it rounds the true value — BigDecimal(double).setScale(2, HALF_UP)
    expect = int(Decimal(v).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100)
    assert got == expect
    # and it is within half a cent of the true value
    assert abs(Fraction(got, 100) - frac) <= Fraction(1, 200) + Fraction(1, 10**12)


def test_lttb_flat_series_ties_deterministic():
    """All-equal values: every triangle area is 0; argmax must pick the
    FIRST index of each bucket every time (stable ties)."""
    ts = np.arange(100, dtype="int64")
    vals = np.zeros(100)
    a = _lttb_select(ts, vals, 10)
    b = _lttb_select(ts, vals, 10)
    assert a == b
    assert len(a) == 10


# --- roaring bitmap / deletion-vector codecs (round 6) ----------------------


@given(
    st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=200_000),       # array/bitmap mix
            st.integers(min_value=0, max_value=2**40),          # multi-bucket
        ),
        max_size=3000,
    )
)
@settings(max_examples=examples(60), deadline=None)
def test_roaring64_roundtrip_property(vals):
    from denali_spark.sources.puffin import (
        deserialize_roaring64,
        serialize_roaring64,
    )

    assert deserialize_roaring64(serialize_roaring64(vals)) == sorted(set(vals))


@given(
    st.lists(st.integers(min_value=0, max_value=2**33), max_size=1500),
)
@settings(max_examples=examples(40), deadline=None)
def test_dv_blob_roundtrip_property(vals):
    from denali_spark.sources.puffin import decode_dv_blob, encode_dv_blob

    blob, card = encode_dv_blob(vals)
    assert card == len(set(vals))
    assert decode_dv_blob(blob) == sorted(set(vals))


@given(st.integers(min_value=4090, max_value=4100))
@settings(max_examples=examples(11), deadline=None)
def test_roaring_container_boundary(card):
    """The array→bitmap container switch at cardinality 4096 must be
    seamless in both directions."""
    from denali_spark.sources.puffin import (
        deserialize_roaring64,
        serialize_roaring64,
    )

    vals = list(range(0, card * 3, 3))  # spill across container keys too
    assert deserialize_roaring64(serialize_roaring64(vals)) == vals
