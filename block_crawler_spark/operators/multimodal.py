"""Multimodal columns: media as opaque binary + typed metadata.

Large-scale training pipelines treat media as ``BinaryType`` content columns
with a typed metadata struct, processed by Arrow-batched ``mapInPandas``
stages.  Here that is the 1→N video frame fanout (:func:`sample_frames`,
"rawvideo" payloads; other codecs raise a clearly marked
``NotImplementedError``) and the perceptual dHash family: the 1-D stage
:func:`content_dhash` and the per-blob cores :func:`dhash_blob`,
:func:`image_dhash_blob` and :func:`audio_energy_dhash_blob`, which the
media queries (``plans.media_ops``) call from their own fused stages.

Scale notes: media rows are large (MBs); the stages below never shuffle the
content column — hashes/frames project it away as early as possible, and
fanout stages emit only the slices they keep.  Partition sizing is by bytes,
not rows: repartition upstream so a partition's content fits executor
memory (``spark.sql.files.maxPartitionBytes`` governs the scan side).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_METADATA = StructType(
    [
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("codec", StringType(), True),  # 'raw' | 'jpeg' | 'png' | 'pcm16' | 'rawvideo'
        StructField("n_frames", IntegerType(), True),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("metadata", MEDIA_METADATA, True),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", IntegerType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame sampling: 1 media row → N frame rows (every_n-th frame).

    'rawvideo' = concatenated raw frames of width*height*channels bytes; the
    fanout happens inside the Arrow batch so only kept frames are emitted.
    """
    cols = [f.name for f in FRAME_SCHEMA.fields]

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                meta = r["metadata"]
                if meta["codec"] != "rawvideo":
                    raise NotImplementedError(
                        f"video codec {meta['codec']!r} requires a video library not "
                        "present in this runtime; supply 'rawvideo' payloads"
                    )
                frame_bytes = int(meta["width"]) * int(meta["height"]) * int(meta["channels"] or 1)
                content = r["content"] or b""
                n_frames = int(meta["n_frames"] or (len(content) // frame_bytes))
                for fi in range(0, n_frames, every_n):
                    rows.append(
                        {
                            "media_id": r["media_id"],
                            "frame_index": fi,
                            "frame": content[fi * frame_bytes : (fi + 1) * frame_bytes],
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("kind") == "video").mapInPandas(frames, FRAME_SCHEMA)


DHASH_GRID = 61  # 61 block means → 60 adjacent-difference bits (sign-bit-free)
DHASH_BITS = DHASH_GRID - 1

_WEIGHTS_CACHE: dict[int, np.ndarray] = {}


def _bit_weights(bits: int) -> np.ndarray:
    """MSB-first bit weights as a python-int (object) array — shared by the
    per-blob hash helpers; object dtype keeps the recomposition exact past
    int64 for any future grid width."""
    w = _WEIGHTS_CACHE.get(bits)
    if w is None:
        w = (1 << np.arange(bits - 1, -1, -1, dtype=np.int64)).astype(object)
        _WEIGHTS_CACHE[bits] = w
    return w


def dhash_blob(blob, grid: int = DHASH_GRID) -> tuple[int, int]:
    """The per-blob core of :func:`content_dhash` — (n_bytes, dhash) for one
    binary payload.  Fused Arrow stages (planted transform + fingerprint in
    ONE pass: hash inside the decode stage instead of round-tripping blobs
    between two Python stages) share EXACTLY this arithmetic with
    :func:`content_dhash`."""
    arr = np.frombuffer(bytes(blob or b""), dtype=np.uint8)
    n = len(arr)
    if n == 0:
        return 0, 0
    blk = (np.arange(n, dtype=np.int64) * grid) // n
    s = np.bincount(blk, weights=arr, minlength=grid).astype(np.int64)
    c = np.bincount(blk, minlength=grid).astype(np.int64)
    b = (s[1:] * c[:-1] > s[:-1] * c[1:]).astype(object)
    return n, int((b * _bit_weights(grid - 1)).sum())


def image_dhash_blob(blob, width: int, grid: int = 8) -> tuple[int, int | None]:
    """TWO-DIMENSIONAL perceptual dHash of one raw grayscale image of
    ``width`` pixels per row — (n_bytes, dhash or None when the image lacks
    a grid×grid region: no structure to compare, and pair queries filter
    it).

    Recipe: crop to the largest grid-aligned region (``H_used = H − H %
    grid`` rows, ``W_used = W − W % grid`` cols), block-sum onto the fixed
    grid×grid grid, and emit one bit per HORIZONTALLY adjacent block pair —
    bit(y, x) = 1 iff block(y, x+1) exceeds block(y, x), packed row-major
    MSB-first: (grid−1)·grid = 56 bits, sign-bit-free in an int64.  The
    crop makes every block exactly ``(H_used/grid) × (W_used/grid)``
    pixels, so the comparison is plain integer block sums — exact,
    overflow-free (sums ≤ 255·pixels), and SQL-mirrorable from the hex
    dump.

    RESOLUTION INVARIANCE: a k× pixel-replication upscale of the
    grid-aligned region multiplies every block sum by exactly k², so the
    hash is IDENTICAL, not approximately equal.  A brightness shift (+k
    per pixel) adds the same term to both sides of every comparison."""
    arr = np.frombuffer(bytes(blob or b""), dtype=np.uint8)
    n, w = len(arr), int(width)
    h_rows = n // w if w > 0 else 0
    hu = h_rows - (h_rows % grid)
    wu = w - (w % grid)
    if hu < grid or wu < grid:
        return n, None
    img = arr[: hu * w].reshape(hu, w)[:, :wu].astype(np.int64)
    blocks = img.reshape(grid, hu // grid, grid, wu // grid).sum(axis=(1, 3))
    h = 0
    for y in range(grid):
        for x in range(grid - 1):
            h = (h << 1) | int(blocks[y, x + 1] > blocks[y, x])
    return n, h


def audio_energy_dhash_blob(blob, grid: int) -> tuple[int, int]:
    """Perceptual AUDIO fingerprint of one little-endian pcm16 payload —
    (n_samples, dhash); an odd trailing byte is dropped, so every payload
    hashes.  The signal's ENERGY ENVELOPE is block-downsampled onto a fixed
    ``grid`` of equal-frequency sample ranges (chunk energy = Σ sample²,
    exact int64), one bit per adjacent chunk pair via the cross-multiplied
    comparison ``e[k+1]·c[k] > e[k]·c[k+1]`` (as in :func:`dhash_blob`).

    GAIN: amplifying by any factor g (no clipping) scales every chunk
    energy by exactly g², which cancels in the comparison.  POLARITY: the
    energy of −s equals that of s.  So a louder, quieter or phase-inverted
    copy hashes identically; the fixed grid compares envelope shape, not
    clip length.

    Exactness bound: chunk energies ≤ 2³⁰·n/grid, so the cross-multiply
    stays inside int64 for clips up to ~5.6 M samples (~6 min at 16 kHz
    mono); window longer clips upstream.  Empty content hashes to 0."""
    raw = bytes(blob or b"")
    s = np.frombuffer(raw[: len(raw) // 2 * 2], dtype="<i2").astype(np.int64)
    n = len(s)
    if n == 0:
        return 0, 0
    blk = (np.arange(n, dtype=np.int64) * grid) // n
    e = np.bincount(blk, weights=s * s, minlength=grid).astype(np.int64)
    c = np.bincount(blk, minlength=grid).astype(np.int64)
    b = (e[1:] * c[:-1] > e[:-1] * c[1:]).astype(object)
    return n, int((b * _bit_weights(grid - 1)).sum())


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("dhash", LongType(), False),
    ]
)


def content_dhash(
    content_df: DataFrame, grid: int = DHASH_GRID, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Perceptual difference-hash (dHash) over opaque binary content via the
    Arrow-batched ``mapInPandas`` decode stage (round 13 — VERDICT r12 task
    1: the multimodal near-dup family beyond exact md5).

    The classic dHash recipe (resize → compare adjacent cells), expressed
    over the byte stream: content is block-mean downsampled onto a fixed
    ``grid`` of equal-frequency byte ranges (block ``b`` covers bytes ``i``
    with ``(i*grid) DIV n == b`` — the standard bucketing, every block
    non-empty once ``n >= grid``), and bit ``j`` is 1 iff block ``j+1``'s
    mean exceeds block ``j``'s.  Means are compared CROSS-MULTIPLIED
    (``s[j+1]*c[j] > s[j]*c[j+1]``) so the whole signature is exact integer
    arithmetic — which is also what makes it a DuckDB-oracle-checkable
    fingerprint (the hex-dump nibble walk, like ``media_frame_stats``).

    Perceptual properties (pinned by the planted-transform pytest):
    * global brightness shift (+k to every byte) preserves every bit
      exactly — adding ``k`` to all means adds ``k·c[j]·c[j+1]`` to both
      sides of the cross-multiplied comparison;
    * small local noise / a small crop perturb block means slightly, so
      only bits whose adjacent means nearly tie can flip — near-dups land
      within a few Hamming bits, verified downstream with
      ``bit_count(xor)`` (the SimHash band machinery, reused verbatim);
    * the fixed grid makes the signature length-invariant: a re-encoded /
      padded twin with the same coarse intensity profile hashes nearby.

    60 bits (not 64) keeps the recomposed signature off the BIGINT sign
    bit, so the SQL oracle's arithmetic recomposition stays portable — the
    same trade ``simhash64`` documents for its 32-bit oracle domain.
    Default bands downstream: 4 × 15 bits (32 768 buckets per band);
    pigeonhole gives total recall for Hamming < 4.

    Content is consumed inside the stage and never emitted — output rows
    are 24 bytes, so the band join downstream shuffles signatures, never
    media bytes (the multimodal scale contract).  For video, sample frames
    first (:func:`sample_frames`) and hash the frames; raw payloads hash
    as-is.

    Exactness bound: the binding constraint is the cross-multiplied
    comparison itself — ``s[j+1]·c[j] ≈ 255·n²/grid²`` must stay inside
    int64, which holds for blobs up to ~1.1e10 bytes (~10 GB; the float64
    bincount sums stay integer-exact far past that).  Beyond it numpy
    wraps silently while DuckDB BIGINT raises, so the engines would
    diverge instead of hash-matching — keep single media rows under the
    bound (any realistic frame/image/clip is orders of magnitude below).

    Input: (media_id, content: binary).  Output: (media_id, n_bytes,
    dhash); ``extra_cols`` names input columns passed through unchanged
    (the metadata-passthrough pattern — content itself is still consumed
    in-stage, never emitted).
    """
    schema = StructType(
        DHASH_SCHEMA.fields + [content_df.schema[c] for c in extra_cols]
    )

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_n, out_h = [], []
            for blob in pdf["content"]:
                n, h = dhash_blob(blob, grid)
                out_n.append(n)
                out_h.append(h)
            out = {"media_id": pdf["media_id"], "n_bytes": out_n, "dhash": out_h}
            for c in extra_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return content_df.mapInPandas(hashes, schema)


IMG_DHASH_GRID = 8  # 8×8 block means → 7 horizontal diffs × 8 rows = 56 bits
IMG_DHASH_BITS = (IMG_DHASH_GRID - 1) * IMG_DHASH_GRID

AUDIO_DHASH_GRID = 61  # 61 chunk energies → 60 adjacent-difference bits
