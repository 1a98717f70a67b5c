"""Round-5 property tests (hypothesis, no Spark session needed):
varint codec totality/round-trip with the malformed-buffer guard, and
range-planner coverage laws for both curves against brute enumeration."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pbf2json_spark import cells, layout, pbf


# --- varint codec -------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1),
                min_size=0, max_size=40))
def test_packed_varint_roundtrip(vals):
    buf = b"".join(pbf._emit_varint(v) for v in vals)
    got, ends = pbf._varints_np_ends(buf)
    assert got.tolist() == [v & 0xFFFFFFFFFFFFFFFF for v in vals]
    assert ends.size == len(vals)
    if vals:
        assert int(ends[-1]) == len(buf) - 1


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=60))
def test_varint_decoder_total_on_garbage(buf):
    """Any byte string either decodes or raises the clean ValueError —
    never an opaque numpy shape/index error."""
    try:
        vals, ends = pbf._varints_np_ends(buf)
    except ValueError as e:
        assert "truncated varint" in str(e)
        # the guard fires iff the buffer ends mid-varint
        assert len(buf) > 0 and (buf[-1] & 0x80) != 0
    else:
        assert vals.size == ends.size
        if len(buf):
            assert (buf[-1] & 0x80) == 0


# --- range planners -----------------------------------------------------------


def _grid_bounds(lat0, lat1, lon0, lon1, res):
    n = 1 << res
    qx0 = max(0, min(n - 1, math.floor((lon0 + 180.0) / 360.0 * n)))
    qx1 = max(0, min(n - 1, math.floor((lon1 + 180.0) / 360.0 * n)))
    qy0 = max(0, min(n - 1, math.floor((lat0 + 90.0) / 180.0 * n)))
    qy1 = max(0, min(n - 1, math.floor((lat1 + 90.0) / 180.0 * n)))
    return qx0, qx1, qy0, qy1


def _expand(ranges):
    out = set()
    for lo, hi in ranges:
        out.update(range(lo, hi + 1))
    return out


_box = st.tuples(
    st.floats(min_value=-90, max_value=90, allow_nan=False),
    st.floats(min_value=-90, max_value=90, allow_nan=False),
    st.floats(min_value=-180, max_value=180, allow_nan=False),
    st.floats(min_value=-180, max_value=180, allow_nan=False),
)


@settings(max_examples=60, deadline=None)
@given(_box, st.integers(min_value=1, max_value=5))
def test_zorder_ranges_cover_property(box, res):
    la, lb, lo, lh = box
    lat0, lat1 = min(la, lb), max(la, lb)
    lon0, lon1 = min(lo, lh), max(lo, lh)
    qx0, qx1, qy0, qy1 = _grid_bounds(lat0, lat1, lon0, lon1, res)
    xs = np.arange(qx0, qx1 + 1, dtype=np.uint64)
    ys = np.arange(qy0, qy1 + 1, dtype=np.uint64)
    gx, gy = np.meshgrid(xs, ys)
    m = cells._spread(gx.ravel()) | (cells._spread(gy.ravel()) << np.uint64(1))
    want = set(
        (np.uint64(res << cells._RES_SHIFT) | m).astype(np.int64).tolist()
    )
    got = layout.zorder_ranges(lat0, lat1, lon0, lon1, res, max_ranges=10**9)
    assert _expand(got) == want


@settings(max_examples=60, deadline=None)
@given(_box, st.integers(min_value=1, max_value=5))
def test_hilbert_ranges_cover_property(box, res):
    la, lb, lo, lh = box
    lat0, lat1 = min(la, lb), max(la, lb)
    lon0, lon1 = min(lo, lh), max(lo, lh)
    qx0, qx1, qy0, qy1 = _grid_bounds(lat0, lat1, lon0, lon1, res)
    xs = np.arange(qx0, qx1 + 1)
    ys = np.arange(qy0, qy1 + 1)
    gx, gy = np.meshgrid(xs, ys)
    want = set(layout.hilbert_d(gx.ravel(), gy.ravel(), res).tolist())
    got = layout.hilbert_ranges(lat0, lat1, lon0, lon1, res, max_ranges=10**9)
    assert _expand(got) == want


@settings(max_examples=40, deadline=None)
@given(_box, st.integers(min_value=2, max_value=6),
       st.integers(min_value=1, max_value=6))
def test_coarsening_superset_property(box, res, budget):
    la, lb, lo, lh = box
    lat0, lat1 = min(la, lb), max(la, lb)
    lon0, lon1 = min(lo, lh), max(lo, lh)
    for planner in (layout.zorder_ranges, layout.hilbert_ranges):
        full = _expand(planner(lat0, lat1, lon0, lon1, res, max_ranges=10**9))
        r = planner(lat0, lat1, lon0, lon1, res, max_ranges=budget)
        assert len(r) <= budget
        assert full <= _expand(r)
        assert r == sorted(r)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=1, max_value=12), st.data())
def test_hilbert_inverse_roundtrip(res, data):
    n = 1 << res
    x = data.draw(st.integers(min_value=0, max_value=n - 1))
    y = data.draw(st.integers(min_value=0, max_value=n - 1))
    d = layout.hilbert_d(np.array([x]), np.array([y]), res)
    rx, ry = layout.hilbert_xy(d, res)
    assert (int(rx[0]), int(ry[0])) == (x, y)
    assert 0 <= int(d[0]) < n * n
