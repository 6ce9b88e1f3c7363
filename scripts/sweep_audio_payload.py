"""Audio-family sweep at REALISTIC payload sizes.

The registry faces of the audio entries use oracle-pinned 64-sample
clips, where Arrow/driver overhead dominates and every exponent looks
flat. This sweep drives the OPERATORS directly (attach → features / FIR
resample / VAD, plus the streaming twin built inline) with
``head_len=16384`` — a 1 s clip at 16 kHz — so per-sample
decode/filter/segment cost is the signal.

Two axes over the scale factors named in ``IBC_SWEEP_SFS`` (default
``sf0.1,sf1,sf3``; directories resolved by
``ibc_spark.tools.timing.scale_dir``, missing ones skipped), one session
per SF, each warmed by ``ibc_spark.tools.timing.warm_session`` so the
first timed pipeline does not carry the session's first-query cost:
- corpus axis: every listed SF's documents at 16 k samples/doc —
  exponent should be ~1 (narrow maps).
- payload axis: the first listed SF's documents at head_len 64 → 1024
  → 16384 — time should grow far sub-linearly in samples until
  Python/Arrow overhead is amortized, then linearly.

Long texts are synthesized in-plan (repeat + substring on the document
text — deterministic, no new fixtures). Run:
``[IBC_SWEEP_SFS=sf0.1,sf1] python scripts/sweep_audio_payload.py`` →
JSON on stdout.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from ibc_spark.tools.timing import scale_dir  # noqa: E402

SFS = [
    (name, scale_dir(name))
    for name in os.environ.get("IBC_SWEEP_SFS", "sf0.1,sf1,sf3").split(",")
]


def _docs_with_long_text(spark, sf_dir: str, head_len: int):
    from ibc_spark.io_.sources import read_table

    d = read_table(spark, sf_dir, "documents")
    if head_len <= 64:
        return d
    # repeat the text until it covers head_len chars (empty text stays
    # empty — matches the zero-length-waveform path)
    reps = head_len // 16 + 2  # document texts are >= ~16 chars
    return d.select(
        "doc_id",
        F.substring(F.repeat(F.col("text"), reps), 1, head_len).alias("text"),
    )


def _pipelines(head_len: int):
    from ibc_spark.ext import multimodal as mm

    return {
        "audio_features": lambda docs: mm.audio_features(
            mm.attach_audio(docs, head_len=head_len)
        ),
        "audio_resample_fir": lambda docs: mm.audio_features(
            mm.resample_audio(mm.attach_audio(docs, head_len=head_len), factor=4)
        ),
        "audio_resample_rational": lambda docs: mm.audio_features(
            mm.resample_audio_rational(
                mm.attach_audio(docs, head_len=head_len), up=3, down=4
            )
        ),
        "audio_float_transcode": lambda docs: mm.audio_features(
            mm.transcode_audio_float(mm.attach_audio(docs, head_len=head_len))
        ),
        "audio_vad_segments": lambda docs: mm.vad_segments(
            mm.attach_audio(docs, head_len=head_len)
        ),
    }


def main() -> None:
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    from ibc_spark.tools.timing import cold_samples, median, warm_session

    results: dict[str, dict[str, float]] = {}

    sfs = []
    for sf_name, sf_dir in SFS:
        if os.path.isdir(sf_dir):
            sfs.append((sf_name, sf_dir))
        else:
            print(f"skip {sf_name}: {sf_dir} missing", file=sys.stderr)

    # ---- corpus axis at 16 k samples ----
    for sf_name, sf_dir in sfs:
        spark = warm_session(f"audio_sweep_{sf_name}", sf_dir)
        docs = _docs_with_long_text(spark, sf_dir, 16384)
        for name, pipe in _pipelines(16384).items():
            med = median(cold_samples(spark, lambda: pipe(docs), runs))
            results.setdefault(name, {})[f"{sf_name}@16k"] = round(med, 3)
            print(f"{sf_name}@16k {name}: {med:.2f}s", file=sys.stderr)
        spark.stop()

    # ---- payload axis at the first SF ----
    base_name, base_dir = sfs[0]
    spark = warm_session("audio_sweep_payload", base_dir)
    for head_len in (64, 1024, 16384):
        docs = _docs_with_long_text(spark, base_dir, head_len)
        for name, pipe in _pipelines(head_len).items():
            med = median(cold_samples(spark, lambda: pipe(docs), runs))
            results.setdefault(name, {})[f"{base_name}@{head_len}"] = round(med, 3)
            print(f"{base_name}@{head_len} {name}: {med:.2f}s", file=sys.stderr)
    spark.stop()

    # ---- streaming twin, corpus axis (one SF per session — RocksDB
    # maintenance threads do not survive session restarts; see
    # scale_sweep.py streaming caveat) ----
    from ibc_spark.ext import multimodal as mm
    from ibc_spark.registry_extras import _run_stream_to_memory
    from ibc_spark.streaming.sources import read_documents_stream

    for sf_name, sf_dir in sfs:
        # memory-sink query names must be single-part (no dots)
        safe = sf_name.replace(".", "")
        spark = warm_session(f"audio_sweep_stream_{safe}", sf_dir)
        t0 = time.perf_counter()
        docs = read_documents_stream(spark, sf_dir)
        long_docs = docs.select(
            "doc_id",
            F.substring(F.repeat(F.col("text"), 16384 // 16 + 2), 1, 16384).alias(
                "text"
            ),
        )
        feats = mm.audio_features(mm.attach_audio(long_docs, head_len=16384))
        out = _run_stream_to_memory(
            spark, feats, "append", f"audio_sweep_stream_{safe}"
        )
        n = out.count()
        med = time.perf_counter() - t0
        results.setdefault("streaming_audio_features", {})[f"{sf_name}@16k"] = round(
            med, 3
        )
        print(f"{sf_name}@16k streaming: {med:.2f}s ({n} rows)", file=sys.stderr)
        spark.stop()

    for name, r in results.items():
        # per-decade exponent between consecutive SFs
        for (lo, _), (hi, _) in zip(sfs, sfs[1:]):
            a, b = r.get(f"{lo}@16k"), r.get(f"{hi}@16k")
            if a and b:
                decades = math.log10(float(hi[2:]) / float(lo[2:]))
                r[f"exp_{lo}_to_{hi}@16k"] = round(math.log10(b / a) / decades, 2)
        p64, p16k = r.get(f"{base_name}@64"), r.get(f"{base_name}@16384")
        if p64 and p16k:
            # per-256x-samples decade-normalized growth
            r["exp_payload_64_to_16k"] = round(
                math.log10(p16k / p64) / math.log10(256.0), 2
            )
    load = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps({"results": results, "runs": runs, "load_avg": load}))


if __name__ == "__main__":
    main()
