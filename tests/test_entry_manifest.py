"""Mechanical guards that used to be builder discipline (VERDICT r10 #4/#5).

1. Changed-path detection: every registry entry's implementation-closure
   hash is pinned in ``conf/entry_manifest.json``; an entry edited after
   its last green driver round must be consciously routed (force-recheck,
   defer, or an explicit ``ack`` after local parity passes) — silence
   fails here.
2. Fixture pinning: the probabilistic attestation oracles hard-code
   invariant booleans that are deterministic ON THE CURRENT testdata
   snapshots. If the driver regenerates ``/root/testdata``, those
   constants must be re-validated — this test notices the regeneration
   and names the re-validation command, so the failure mode is a named
   task instead of a mystery hash mismatch.
"""

from __future__ import annotations

import glob
import hashlib
import os

from ibc_spark.tools import entry_manifest as em

# md5 over (filename + bytes) of every parquet file, per SF dir, as of
# round 11. If the driver regenerates testdata: re-run the sweep below,
# eyeball the attestation entries, then update these pins.
_FIXTURE_PINS = {
    "sf0.001": "40d8edd5e82914c45d9eaaeaed8b7ec0",
    "sf0.01": "45f358fd270995565ee29fde902249ff",
}
_REVALIDATE = (
    "IBC_CROSS_SF=1 python -m pytest tests/test_oracle_parity.py -q "
    "-k 'minhash_lsh or ann_topk or knn_graph or sketch_ or compression or "
    "semdedup or neardup or decontaminate or eval_'"
)


def test_no_silent_changed_path_entries():
    problems = em.check()
    assert not problems, "\n".join(problems)


def test_manifest_covers_every_registry_entry():
    from ibc_spark.registry import QUERIES

    entries = em.load_manifest().get("entries", {})
    missing = set(QUERIES) - set(entries)
    stale = set(entries) - set(QUERIES)
    assert not missing and not stale, (
        f"missing={sorted(missing)} stale={sorted(stale)} — run "
        f"`python -m ibc_spark.tools.entry_manifest refresh`"
    )


def test_closure_hash_sees_helper_modules():
    """Sensitivity proof: the hash of an audio entry must include the
    ``ext.multimodal`` module file hash — the exact drift class (entry
    source unchanged, helper semantics changed) that motivated the
    manifest. Recompute with the module file's hash perturbed and assert
    the entry hash moves."""
    from ibc_spark import registry  # noqa: F401  (populate QUERIES)
    from ibc_spark.ext import multimodal

    parts: dict[str, str] = {}
    em._closure_parts(
        registry.QUERIES["multimodal_audio_features"], parts=parts, cache={}
    )
    key = "module:ibc_spark.ext.multimodal"
    assert key in parts
    with open(multimodal.__file__, "rb") as fh:
        assert parts[key] == hashlib.md5(fh.read()).hexdigest()


def test_closure_hash_sees_function_local_imports():
    """An entry that imports its helper inside its body must hash that
    helper: the streaming entries bind ``read_events_stream`` with a
    function-local ``from ibc_spark… import``, so an edit to
    ``streaming/sources.py`` has to flag them."""
    from ibc_spark.registry import QUERIES

    parts: dict[str, str] = {}
    em._closure_parts(QUERIES["streaming_hourly_rollup"], parts=parts, cache={})
    assert "ibc_spark.streaming.sources.read_events_stream" in parts


def test_closure_hash_sees_oracle_text():
    from ibc_spark.registry import ORACLES

    name = "multimodal_audio_resample"
    base = em.compute_entry_hash(name)
    original = ORACLES[name]
    try:
        ORACLES[name] = original + " -- perturbed"
        assert em.compute_entry_hash(name) != base
    finally:
        ORACLES[name] = original


def test_ack_rerecords_only_the_named_entry(tmp_path, monkeypatch):
    """``ack NAME`` must not also re-pin entries whose green round
    advanced (that is ``refresh``'s job): on a copy of the manifest with
    one stale hash and one lagging green round, acking the stale entry
    changes exactly its row."""
    import shutil

    copy = tmp_path / "entry_manifest.json"
    shutil.copy(em.MANIFEST_PATH, copy)
    monkeypatch.setattr(em, "MANIFEST_PATH", str(copy))
    target, lagging = "multimodal_audio_resample", "q1_pricing_summary"
    before = em.load_manifest()
    assert em._last_green_rounds()[lagging] > 1
    before["entries"][target]["hash"] = "0" * 32
    before["entries"][lagging]["green_round"] = 1
    em.save_manifest(before)

    assert em.main(["ack", target]) == 0
    after = em.load_manifest()
    changed = {
        n for n in before["entries"] if before["entries"][n] != after["entries"][n]
    }
    assert changed == {target}
    assert after["entries"][target] == {
        "hash": em.compute_entry_hash(target),
        "green_round": before["entries"][target]["green_round"],
    }


def test_testdata_snapshot_is_the_validated_one():
    changed = []
    for sf, pin in _FIXTURE_PINS.items():
        h = hashlib.md5()
        for p in sorted(glob.glob(f"/root/testdata/{sf}/*.parquet")):
            h.update(os.path.basename(p).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
        if h.hexdigest() != pin:
            changed.append(sf)
    assert not changed, (
        f"/root/testdata {changed} differs from the snapshot the "
        f"attestation-oracle constants were validated on. Re-validate the "
        f"probabilistic entries, then update _FIXTURE_PINS:\n  {_REVALIDATE}"
    )
