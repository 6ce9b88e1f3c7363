"""Contract tests for the driver surface itself (__spark_entry__): the
rotation machinery must never lose, duplicate, or mistype an entry —
a typo'd name in _FORCE_RECHECK silently no-ops, and a bug in _ordered
would make the driver silently skip entries."""

from __future__ import annotations

import importlib.util
import os
import sys


def _entry_module():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(here, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_rotation_preserves_every_entry():
    e = _entry_module()
    from ibc_spark.registry import ORACLES, QUERIES

    q = e.queries()
    assert list(q) != list(QUERIES) or len(QUERIES) <= 1  # actually reordered
    assert set(q) == set(QUERIES)
    assert len(q) == len(QUERIES)
    o = e.oracle_sql()
    assert set(o) == set(ORACLES)


def test_rotation_sets_name_real_entries():
    e = _entry_module()
    from ibc_spark.registry import QUERIES

    assert e._FORCE_RECHECK <= set(QUERIES), e._FORCE_RECHECK - set(QUERIES)


def test_force_recheck_entries_sort_first():
    e = _entry_module()
    order = list(e.queries())
    for name in e._FORCE_RECHECK:
        assert order.index(name) < len(e._FORCE_RECHECK), name
