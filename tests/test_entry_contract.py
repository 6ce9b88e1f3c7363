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


# Library code that no entry, pipeline, script, bench.py or perfbench
# calls, kept on purpose; every other unreferenced definition is dead.
_KEPT_UNREFERENCED = {
    "pgwire_parallel_read": "SURVEY S3 range-partitioned Postgres source; "
    "the Postgres capstone test reads through it",
    "run_merge_stream": "SURVEY §7.6 foreachBatch MERGE sink",
    "foreach_batch_db_upsert": "K3 foreachBatch keyed upsert into Postgres",
    "dedup_events_stream": "SURVEY §7.6 watermarked streaming dedup",
    "SheetDataSource": "the sheet source format the Postgres capstone streams from",
}


def test_no_test_only_library_code():
    """Every top-level function and class in ``ibc_spark/{io_,ops,
    streaming,pipelines,tools}/`` and ``ibc_spark/registry*.py``, other
    than ``@query`` entries, is referenced by name from ``ibc_spark/``,
    ``scripts/``, ``bench.py``, ``__spark_entry__.py`` or ``perfbench/``
    outside its own body. Imports, package re-exports included, are not
    references, and tests are not callers. Parses source only."""
    import ast

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def sources(*rels):
        for rel in rels:
            path = os.path.join(root, rel)
            if os.path.isfile(path):
                yield path
            for d, dirs, files in os.walk(path):
                dirs[:] = sorted(x for x in dirs if x != "tests")
                yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))

    def parse(path):
        with open(path) as fh:
            return ast.parse(fh.read(), path)

    def is_entry(node):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
            for d in node.decorator_list
        )

    scope = [f"ibc_spark/{d}" for d in ("io_", "ops", "streaming", "pipelines", "tools")]
    scope += sorted(
        f"ibc_spark/{f}"
        for f in os.listdir(os.path.join(root, "ibc_spark"))
        if f.startswith("registry") and f.endswith(".py")
    )
    defs = {
        (os.path.relpath(path, root), node.name)
        for path in sources(*scope)
        for node in parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not is_entry(node)
    }

    referenced: set[str] = set()
    for path in sources("ibc_spark", "scripts", "bench.py", "__spark_entry__.py", "perfbench"):
        tree = parse(path)
        owner = {}  # node -> name of the top-level def whose body holds it
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
                for sub in ast.walk(top):
                    owner[sub] = top.name
        for sub in ast.walk(tree):
            if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
                name = sub.id
            elif isinstance(sub, ast.Attribute):
                name = sub.attr
            else:
                continue
            if owner.get(sub) != name:
                referenced.add(name)

    unreferenced = sorted((path, name) for path, name in defs if name not in referenced)
    dead = [f"{path}::{name}" for path, name in unreferenced if name not in _KEPT_UNREFERENCED]
    assert not dead, f"library code only tests reach — delete it or call it: {dead}"
    stale = sorted(set(_KEPT_UNREFERENCED) - {name for _, name in unreferenced})
    assert not stale, f"now referenced; drop from _KEPT_UNREFERENCED: {stale}"
