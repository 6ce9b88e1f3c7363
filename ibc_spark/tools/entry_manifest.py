"""Mechanical changed-path detection for registry entries (VERDICT r10 #5).

The round-5 rule says: an entry whose semantics (or candidate/pruning
path) changed after its last green driver row must jump the attestation
queue (``__spark_entry__._FORCE_RECHECK``). Until round 11 that relied on
builder memory. This module makes it mechanical:

- ``conf/entry_manifest.json`` records, per registry entry, a HASH of the
  entry's implementation closure (entry function source + oracle SQL +
  the transitive sources of every ``ibc_spark`` function/class it
  references + file hashes of every ``ibc_spark`` module it references)
  and the driver round that hash was last attested green in.
- ``tests/test_entry_manifest.py`` recomputes the hash every pytest run;
  an entry whose hash differs from the recorded one after a green round
  must be in ``_FORCE_RECHECK`` or the test
  fails, naming the entry and the two legitimate ways out.

The closure hash intentionally over-approximates: editing a shared module
(e.g. ``ext/dedup.py``) flags every entry that references it, because
that IS the round-5 lesson — candidate-path edits change outputs in ways
the local fixture may not catch. The escape hatch for provably
semantics-preserving edits is ``ack`` (below), which is honest because
the STRICTER local parity suite re-verifies every acked entry value-exact
on the next pytest run anyway; the manifest's job is to make the
acknowledgement conscious rather than silent.

CLI:
  python -m ibc_spark.tools.entry_manifest refresh   # after a new
      CORRECTNESS_r{N}.json lands: re-record hashes for entries whose
      last green round advanced (their attested code IS the current code)
  python -m ibc_spark.tools.entry_manifest ack NAME [NAME...]  # attest
      that a flagged entry's edit is semantics-preserving AND locally
      parity-green; re-records the hash of exactly the named entries, at
      their existing green round
  python -m ibc_spark.tools.entry_manifest check     # what the test runs
"""

from __future__ import annotations

import dis
import glob
import hashlib
import importlib
import inspect
import json
import os
import re
import sys
import types

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
MANIFEST_PATH = os.path.join(_REPO, "conf", "entry_manifest.json")


def _last_green_rounds() -> dict[str, int]:
    seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and (row.get("hash_match") or row.get("rows_match")):
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


def _is_ours(obj) -> bool:
    mod = getattr(obj, "__module__", None) or (
        obj.__name__ if isinstance(obj, types.ModuleType) else None
    )
    return bool(mod) and (mod == "ibc_spark" or mod.startswith("ibc_spark."))


def _module_file_hash(mod: types.ModuleType, cache: dict[str, str]) -> str:
    path = getattr(mod, "__file__", None)
    if not path:
        return "<no-file>"
    if path not in cache:
        with open(path, "rb") as fh:
            cache[path] = hashlib.md5(fh.read()).hexdigest()
    return cache[path]


def _code_objects(code: types.CodeType):
    """``code`` and every code object nested in it, at any depth."""
    yield code
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _code_objects(const)


def _local_imports(code: types.CodeType) -> dict[str, object]:
    """Objects bound by function-local ``from ibc_spark… import name``
    statements in ``code`` or its nested code objects, by imported name.
    Such names never reach ``__globals__``, so without this an entry that
    imports its helpers inside its body hashes none of them."""
    found: dict[str, object] = {}
    for c in _code_objects(code):
        ins = list(dis.get_instructions(c))
        for prev, cur in zip(ins, ins[1:]):
            mod_name = cur.argval if cur.opname == "IMPORT_NAME" else ""
            if not (mod_name == "ibc_spark" or mod_name.startswith("ibc_spark.")):
                continue
            if not isinstance(prev.argval, tuple):  # plain ``import x.y``
                continue
            mod = importlib.import_module(mod_name)
            for name in prev.argval:
                obj = getattr(mod, name, None)
                if obj is None:  # a submodule not yet imported
                    obj = importlib.import_module(f"{mod_name}.{name}")
                found[name] = obj
    return found


def _closure_parts(fn, *, parts: dict[str, str], cache: dict[str, str]) -> None:
    """Collect ``qualified-name -> content-hash`` for every ibc_spark
    function/class reachable from ``fn`` through referenced global names
    and function-local ``from ibc_spark… import`` names (recursive,
    cycle-safe), and file hashes for referenced ibc_spark modules. Nested
    defs are covered textually by ``getsource``."""
    key = f"{fn.__module__}.{getattr(fn, '__qualname__', fn.__name__)}"
    if key in parts:
        return
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = repr(fn)
    parts[key] = hashlib.md5(src.encode()).hexdigest()
    code = getattr(fn, "__code__", None)
    if code is None:
        return
    names: set[str] = set(code.co_names)
    for const in code.co_consts:  # comprehensions / nested lambdas
        if isinstance(const, types.CodeType):
            names.update(const.co_names)
    globs = getattr(fn, "__globals__", {})
    objs = {name: globs.get(name) for name in names}
    objs.update(_local_imports(code))
    for name in sorted(objs):
        obj = objs[name]
        if obj is None:
            continue
        if isinstance(obj, types.ModuleType):
            if _is_ours(obj):
                parts[f"module:{obj.__name__}"] = _module_file_hash(obj, cache)
        elif isinstance(obj, types.FunctionType) and _is_ours(obj):
            _closure_parts(obj, parts=parts, cache=cache)
        elif inspect.isclass(obj) and _is_ours(obj):
            ckey = f"{obj.__module__}.{obj.__qualname__}"
            if ckey not in parts:
                try:
                    parts[ckey] = hashlib.md5(inspect.getsource(obj).encode()).hexdigest()
                except (OSError, TypeError):
                    parts[ckey] = repr(obj)
        elif isinstance(obj, str) and len(obj) > 64:
            # module-level SQL/format fragments (oracle CTE constants)
            parts[f"const:{name}@{fn.__module__}"] = hashlib.md5(obj.encode()).hexdigest()


def compute_entry_hash(name: str) -> str:
    from ibc_spark.registry import ORACLES, QUERIES

    fn = QUERIES[name]
    parts: dict[str, str] = {}
    cache: dict[str, str] = {}
    _closure_parts(fn, parts=parts, cache=cache)
    payload = json.dumps(
        {"closure": parts, "oracle": ORACLES.get(name, "")}, sort_keys=True
    )
    return hashlib.md5(payload.encode()).hexdigest()


def load_manifest() -> dict:
    try:
        with open(MANIFEST_PATH) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"entries": {}}


def save_manifest(m: dict) -> None:
    with open(MANIFEST_PATH, "w") as fh:
        json.dump(m, fh, indent=1, sort_keys=True)
        fh.write("\n")


def drifted() -> dict[str, int]:
    """Entries whose implementation closure differs from the hash recorded
    at their last green driver round, each mapped to that round —
    ``_FORCE_RECHECK`` members included. Never-green entries and entries
    missing from the manifest are not drift."""
    from ibc_spark.registry import QUERIES

    entries = load_manifest().get("entries", {})
    green = _last_green_rounds()
    return {
        name: green[name]
        for name in QUERIES
        if green.get(name, 0) > 0
        and name in entries
        and compute_entry_hash(name) != entries[name]["hash"]
    }


def check() -> list[str]:
    """Return human-readable violations (empty == clean)."""
    from ibc_spark.registry import QUERIES

    sys.path.insert(0, _REPO)
    excused = __import__("__spark_entry__")._FORCE_RECHECK
    entries = load_manifest().get("entries", {})
    problems = [
        f"{name}: not in conf/entry_manifest.json — run "
        f"`python -m ibc_spark.tools.entry_manifest refresh`"
        for name in QUERIES
        if name not in entries
    ]
    for name, rnd in drifted().items():
        if name not in excused:
            problems.append(
                f"{name}: implementation closure changed since its last green "
                f"driver round (r{rnd}). Either add it to "
                f"_FORCE_RECHECK in __spark_entry__.py, or — if the edit is "
                f"semantics-preserving and tests/test_oracle_parity.py is "
                f"green — run `python -m ibc_spark.tools.entry_manifest ack "
                f"{name}`"
            )
    return problems


def refresh() -> dict[str, str]:
    """Re-record hashes of entries whose last green round advanced past
    the recorded one (the driver attested the current code) or that are
    new/never-green; drop entries no longer registered."""
    from ibc_spark.registry import QUERIES

    manifest = load_manifest()
    entries = manifest.setdefault("entries", {})
    green = _last_green_rounds()
    changed: dict[str, str] = {}
    for name in QUERIES:
        rec = entries.get(name)
        g = green.get(name, 0)
        new_hash = compute_entry_hash(name)
        if rec is None:
            entries[name] = {"hash": new_hash, "green_round": g}
            changed[name] = "added"
        elif g > rec.get("green_round", 0):
            entries[name] = {"hash": new_hash, "green_round": g}
            changed[name] = f"green r{g}"
        elif g == 0:
            if rec["hash"] != new_hash:
                entries[name] = {"hash": new_hash, "green_round": 0}
                changed[name] = "never-green update"
    for name in list(entries):
        if name not in QUERIES:
            del entries[name]
            changed[name] = "removed"
    save_manifest(manifest)
    return changed


def ack(names: list[str]) -> dict[str, str]:
    """Re-record the current hash of exactly ``names``, each at its
    recorded green round; every other row stays as it is."""
    from ibc_spark.registry import QUERIES

    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        raise KeyError(f"not registry entries: {unknown}")
    manifest = load_manifest()
    entries = manifest.setdefault("entries", {})
    for name in names:
        g = entries.get(name, {}).get("green_round", 0)
        entries[name] = {"hash": compute_entry_hash(name), "green_round": g}
    save_manifest(manifest)
    return {name: "acked" for name in names}


def main(argv: list[str]) -> int:
    sys.path.insert(0, _REPO)
    cmd = argv[0] if argv else "check"
    if cmd == "check":
        problems = check()
        for p in problems:
            print(p)
        print(f"{'CLEAN' if not problems else 'VIOLATIONS'}")
        return 1 if problems else 0
    if cmd == "refresh":
        for name, why in sorted(refresh().items()):
            print(f"{why:>20}  {name}")
        return 0
    if cmd == "ack":
        for name, why in sorted(ack(argv[1:]).items()):
            print(f"{why:>20}  {name}")
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
