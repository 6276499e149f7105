"""Multimodal column plumbing: the frame fanout stage and its codec stub."""

from __future__ import annotations

import numpy as np
import pytest

from block_crawler_spark.operators.multimodal import MEDIA_SCHEMA, sample_frames


def test_frame_sampling_fanout(spark):
    rng = np.random.default_rng(42)
    w, h, c, nf = 8, 6, 1, 10
    videos = [
        (mid, "video", rng.integers(0, 256, w * h * c * nf, dtype=np.uint8).tobytes(),
         (w, h, c, None, None, "rawvideo", nf))
        for mid in (0, 1)
    ]
    # a non-video row is filtered out before the fanout
    audio = (2, "audio", b"\x00\x01" * 100, (None, None, None, 16000, 6, "pcm16", None))
    media = spark.createDataFrame([*videos, audio], MEDIA_SCHEMA)
    frames = sample_frames(media, every_n=2).collect()
    # 2 videos × 10 frames sampled every 2nd → 5 each
    assert len(frames) == 10
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_index"])
        fi = r["frame_index"]
        assert r["frame"] == videos[r["media_id"]][2][fi * w * h : (fi + 1) * w * h]
    assert sorted(by_media) == [0, 1]
    for idxs in by_media.values():
        assert sorted(idxs) == [0, 2, 4, 6, 8]


def test_unsupported_codec_is_clearly_stubbed(spark):
    df = spark.createDataFrame(
        [(1, "video", b"xxxx", (2, 2, 1, None, None, "h264", 1))], MEDIA_SCHEMA
    )
    with pytest.raises(Exception) as ei:
        sample_frames(df, 1).collect()
    assert "NotImplementedError" in str(ei.value) or "requires a video library" in str(ei.value)
