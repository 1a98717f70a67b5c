"""The hand-kept query registries agree: every name bench.py times is a
registered query, the gate and the extras never share a name, and the
gate holds exactly the 50 entries the driver compares."""

from __future__ import annotations

import __spark_entry__ as entry
import bench


def test_bench_queries_are_registered():
    registered = entry.queries().keys() | entry.extra_queries().keys()
    assert [q for q in bench.BENCH_QUERIES if q not in registered] == []


def test_gate_and_extras_share_no_name():
    """Every tool merges the two dicts with ``{**queries(), **extra_queries()}``,
    where a shared name would silently run only the extra's builder."""
    assert entry.queries().keys() & entry.extra_queries().keys() == set()


def test_gate_has_exactly_50_queries():
    assert len(entry.queries()) == 50
