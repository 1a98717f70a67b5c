"""Round-5 hardening: unpacked repeated-varint way fields, malformed
packed-varint buffers, and the dtype-KIND parity rule in the local oracle
harness (the DuckDB HUGEINT->float64 signature that kept windowed_events
and rasterize driver-red for rounds 2-4)."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest

from pbf2json_spark import pbf

sys.path.insert(0, "tools")
from check_oracle import compare  # noqa: E402


def _block(strings: list[str], way_msg: bytes) -> bytes:
    table = pbf._emit_len(
        1, b"".join(pbf._emit_len(1, s.encode("utf-8")) for s in strings)
    )
    return table + pbf._emit_len(2, pbf._emit_len(3, way_msg))


def test_unpacked_way_fields_decode_like_packed():
    """Protobuf writers MAY encode repeated varint fields unpacked (one
    tag per element); parsers are required to accept both.  The lean way
    scan used to silently drop unpacked keys/vals/refs (fields 2/3/8)."""
    strings = ["", "highway", "path", "name", "x"]
    refs = [100, 250, 240]  # deltas 100, 150, -10 (zigzag)
    deltas = [refs[0], refs[1] - refs[0], refs[2] - refs[1]]
    unpacked = (
        pbf._emit_int(1, 77)
        + pbf._emit_int(2, 1) + pbf._emit_int(2, 3)   # keys
        + pbf._emit_int(3, 2) + pbf._emit_int(3, 4)   # vals
        + b"".join(pbf._emit_int(8, pbf._zigzag_encode(d)) for d in deltas)
    )
    packed = (
        pbf._emit_int(1, 77)
        + pbf._emit_packed(2, [1, 3])
        + pbf._emit_packed(3, [2, 4])
        + pbf._emit_packed(8, deltas, signed=True)
    )
    got_u = pbf.decode_block_columns(_block(strings, unpacked))["ways"]
    got_p = pbf.decode_block_columns(_block(strings, packed))["ways"]
    assert got_u == got_p
    wid, tk, tv, wrefs = got_u[0]
    assert wid == 77
    assert tk == ["highway", "name"] and tv == ["path", "x"]
    assert list(wrefs) == refs


def test_varints_np_ends_rejects_malformed():
    with pytest.raises(ValueError, match="truncated varint"):
        pbf._varints_np_ends(b"\x80\x80\x80")  # all continuation bits
    with pytest.raises(ValueError, match="truncated varint"):
        pbf._varints_np_ends(b"\x05\x07\x80")  # cut mid-varint
    vals, ends = pbf._varints_np_ends(b"")
    assert vals.size == 0 and ends.size == 0
    vals, _ = pbf._varints_np_ends(b"\x05\xac\x02")
    assert vals.tolist() == [5, 300]


def test_oracle_compare_flags_dtype_kind():
    """int64 123 == float64 123.0 numerically, but the driver's value
    hash is dtype-faithful ("123" vs "123.0").  The local harness must
    fail BEFORE numeric coercion on an int-vs-float column pair — the
    exact divergence an uncast DuckDB SUM(BIGINT)->HUGEINT mirror
    produces."""
    a = pd.DataFrame({"k": [1, 2], "s": np.array([10, 20], dtype=np.int64)})
    b = pd.DataFrame({"k": [1, 2], "s": np.array([10.0, 20.0])})
    errs = compare("probe", a, b)
    assert errs and "dtype-kind" in errs[0]
    # same-kind equal frames still pass
    assert compare("probe", a, a.copy()) == []
    c = pd.DataFrame({"k": [1, 2], "s": np.array([10.0, 20.0])})
    assert compare("probe", b, c) == []
