"""The query table and what is keyed by query name agree: every name
bench.py times, every oracle_sql() key and every suite member is a
registered query, a name registered twice raises, the gate and the extras
never share a name, and the gate holds exactly the 50 entries the driver
compares."""

from __future__ import annotations

import pytest

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


def test_repeated_name_raises():
    row = entry.QUERY_TABLE[0]
    with pytest.raises(ValueError, match=row.name):
        entry.index_queries([row, entry.QUERY_TABLE[1], row._replace(gate=False)])


def test_every_oracle_is_a_registered_query():
    assert entry.oracle_sql().keys() - entry.QUERY_INDEX.keys() == set()


def test_every_suite_member_is_a_registered_query():
    members = {key for spec in entry._suite_specs().values() for _tag, key, *_ in spec}
    assert members - entry.QUERY_INDEX.keys() == set()
