"""The shared error contract of the per-payload kernels in
``ext/multimodal.py``: each kernel that maps ``(doc_id, payload)`` rows
emits exactly one all-NULL row for a junk or an empty payload, while the
two VAD kernels emit no rows for them; a good payload gives the rows
pinned below (digests of the outputs before the kernels shared one
``mapInPandas`` skeleton)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ibc_spark.ext import multimodal as mm

# one stereo clip: 96 frames of seeded noise, loud enough for both VADs
_WAV = bytes(
    mm.encode_wav(
        np.random.default_rng(7).integers(-32768, 32767, size=192).astype(np.int16),
        channels=2,
    )
)
# four 4x5 RGB frames (5-pixel rows exercise the DIB row padding)
_AVI = bytes(
    mm.encode_avi_raw(
        np.random.default_rng(8).integers(0, 256, size=(4, 4, 5, 3)).astype(np.uint8)
    )
)
_PPM = bytes(
    mm.encode_ppm(np.random.default_rng(9).integers(0, 256, size=(3, 4, 3)).astype(np.uint8))
)

# kernel -> (call, good payload, sha256 prefix of the good payload's rows)
KERNELS = {
    "image_channel_stats": (mm.image_channel_stats, _PPM, "4891c2434294"),
    "video_frame_features": (mm.video_frame_features, _AVI, "68a8d2c92d6f"),
    "scene_cut_frames": (mm.scene_cut_frames, _AVI, "f0c5e0f4c198"),
    "audio_features": (mm.audio_features, _WAV, "bdc4d6d5c01f"),
    "resample_audio": (lambda df: mm.resample_audio(df, factor=4), _WAV, "b050683efbbd"),
    "resample_audio_rational": (
        lambda df: mm.resample_audio_rational(df, up=3, down=4),
        _WAV,
        "2948a51d5ba8",
    ),
    "transcode_audio_pcm": (
        lambda df: mm.transcode_audio_pcm(df, bits=8),
        _WAV,
        "e5c972cea3ed",
    ),
    "transcode_audio_g711": (
        lambda df: mm.transcode_audio_g711(df, law="alaw"),
        _WAV,
        "710164954f10",
    ),
    "transcode_audio_adpcm": (mm.transcode_audio_adpcm, _WAV, "f6c498cfa116"),
    "transcode_audio_flac": (
        lambda df: mm.transcode_audio_flac(df, mid_side=True),
        _WAV,
        "e1bf8f0e9552",
    ),
    "transcode_audio_float": (mm.transcode_audio_float, _WAV, "d43461b02347"),
    "spectral_vad_frames": (mm.spectral_vad_frames, _WAV, "a9ed009562c9"),
    "vad_segments": (mm.vad_segments, _WAV, "82c43ec48e3a"),
}
_VAD = {"spectral_vad_frames", "vad_segments"}


def rows_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()[:12]


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_junk_empty_and_good_payload(spark, name):
    call, good, want = KERNELS[name]
    df = spark.createDataFrame(
        [(1, b"JUNK"), (2, b""), (3, good)], "doc_id long, payload binary"
    )
    rows = call(df).collect()
    bad = sorted(tuple(r) for r in rows if r.doc_id != 3)
    if name in _VAD:
        assert bad == []
    else:
        width = len(rows[0])
        assert bad == [(1,) + (None,) * (width - 1), (2,) + (None,) * (width - 1)]
    good_rows = [r for r in rows if r.doc_id == 3]
    assert good_rows and all(v is not None for r in good_rows for v in r)
    assert rows_digest(good_rows) == want
