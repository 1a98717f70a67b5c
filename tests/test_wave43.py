"""Wave-43: grid line supercover (vs dense-sampling inclusion + python
integer reference) and rolling-window HLL (vs per-window rebuild, exact
trailing semantics)."""

from __future__ import annotations

import random

import numpy as np

from pbf2json_spark import cells, raster, sketch


# --- line supercover -------------------------------------------------------------


def _ref_line_cells(la0, lo0, la1, lo1, res):
    """Python mirror of the column-walk definition (doubled coords,
    integer floor division)."""
    x0, y0 = (int(v[0]) for v in cells.xy(np.array([la0]), np.array([lo0]), res))
    x1, y1 = (int(v[0]) for v in cells.xy(np.array([la1]), np.array([lo1]), res))
    if x0 <= x1:
        XA, YA, YB = 2 * x0 + 1, 2 * y0 + 1, 2 * y1 + 1
    else:
        XA, YA, YB = 2 * x1 + 1, 2 * y1 + 1, 2 * y0 + 1
    DX = abs(x1 - x0) * 2
    DY = YB - YA
    out = set()
    for c in range(min(x0, x1), max(x0, x1) + 1):
        if DX == 0:
            ra, rb = min(y0, y1), max(y0, y1)
        else:
            xa = max(2 * c, XA)
            xb = min(2 * c + 2, XA + DX)
            ra = (YA * DX + (xa - XA) * DY) // (2 * DX)
            rb = (YA * DX + (xb - XA) * DY) // (2 * DX)
        for r in range(min(ra, rb), max(ra, rb) + 1):
            out.add(int(cells.from_xy(np.array([c]), np.array([r]), res)[0]))
    return out


def test_line_cells_vs_reference(spark):
    rnd = random.Random(43)
    rows = [
        (
            i,
            rnd.uniform(-80, 80), rnd.uniform(-170, 170),
            rnd.uniform(-80, 80), rnd.uniform(-170, 170),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "id long, lat0 double, lon0 double, lat1 double, lon1 double"
    )
    got: dict[int, set] = {}
    for r in raster.line_cells(df, res=6).collect():
        got.setdefault(r["id"], set()).add(r["cell"])
    for i, la0, lo0, la1, lo1 in rows:
        assert got[i] == _ref_line_cells(la0, lo0, la1, lo1, 6), i


def test_line_cells_covers_sampled_path(spark):
    # every cell touched by dense center-to-center sampling is in the cover
    rnd = random.Random(7)
    rows = [
        (
            i,
            rnd.uniform(-60, 60), rnd.uniform(-150, 150),
            rnd.uniform(-60, 60), rnd.uniform(-150, 150),
        )
        for i in range(15)
    ]
    df = spark.createDataFrame(
        rows, "id long, lat0 double, lon0 double, lat1 double, lon1 double"
    )
    res = 5
    got: dict[int, set] = {}
    for r in raster.line_cells(df, res=res).collect():
        got.setdefault(r["id"], set()).add(r["cell"])
    n = 1 << res
    for i, la0, lo0, la1, lo1 in rows:
        x0, y0 = (int(v[0]) for v in cells.xy(np.array([la0]), np.array([lo0]), res))
        x1, y1 = (int(v[0]) for v in cells.xy(np.array([la1]), np.array([lo1]), res))
        cx0, cy0, cx1, cy1 = x0 + 0.5, y0 + 0.5, x1 + 0.5, y1 + 0.5
        for t in np.linspace(0.0, 1.0, 4000):
            x = cx0 + t * (cx1 - cx0)
            y = cy0 + t * (cy1 - cy0)
            gx = min(n - 1, int(x))
            gy = min(n - 1, int(y))
            c = int(cells.from_xy(np.array([gx]), np.array([gy]), res)[0])
            assert c in got[i], (i, gx, gy)


def test_line_cells_endpoints_and_degenerate(spark):
    rows = [(1, 10.0, 10.0, 10.0, 10.0)]  # zero-length segment
    df = spark.createDataFrame(
        rows, "id long, lat0 double, lon0 double, lat1 double, lon1 double"
    )
    out = raster.line_cells(df, res=8).collect()
    c = int(cells.encode(np.array([10.0]), np.array([10.0]), 8)[0])
    assert [r["cell"] for r in out] == [c]


# --- rolling HLL -----------------------------------------------------------------


def test_hll_rolling_vs_rebuild(spark):
    rnd = random.Random(42)
    rows = []
    for day in range(10):
        for _ in range(200):
            rows.append((day, f"u{rnd.randrange(600)}"))
    # day 4 absent: trailing windows must bridge the gap
    rows = [r for r in rows if r[0] != 4]
    df = spark.createDataFrame(rows, "day long, uid string")
    w = 3
    got = {
        r["day"]: (r["n_regs"], r["z_scaled"], r["est_raw"])
        for r in sketch.hll_rolling(df, "uid", "day", window=w, p=6).collect()
    }
    days = sorted({d for d, _ in rows})
    assert set(got) == set(days)
    for d in days:
        win = spark.createDataFrame(
            [r for r in rows if d - w < r[0] <= d], "day long, uid string"
        )
        exp = sketch.hll_estimate(sketch.hll_build(win, "uid", p=6), p=6).collect()[0]
        assert got[d] == (exp["n_regs"], exp["z_scaled"], exp["est_raw"]), d
