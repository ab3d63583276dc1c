"""Multimodal column conventions + decode plumbing.

Convention: a modality payload is an opaque ``binary`` column plus a
typed metadata struct — ``(payload: binary, mm_kind: string,
n_bytes: long, meta: struct<...>)``. Spark carries binary natively in
parquet; partitioning/pruning work on the metadata columns, never the
payload.

The decode / feature-extract / resize / frame-sample steps are Pandas
UDFs over ``mapInPandas`` (Arrow-batched — the only sane Python path
for byte blobs). The image/audio libraries are NOT in this container,
so the actual decode is STUBBED: ``decode_payload`` raises
``NotImplementedError`` unless ``fake=True``, in which case a
deterministic fake feature vector is produced from the bytes. The
Spark-side plumbing — schema, batch shape, partitioning — is real and
tested (tests/test_multimodal.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MM_KINDS = ["image", "audio", "video"]

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mm_kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def with_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build the multimodal convention columns from a text table (the
    container has no real media; bytes come from utf-8 text). Kind is
    assigned deterministically by id for test coverage of all branches."""
    payload = F.encode(F.col(text_col), "UTF-8")
    kind = (
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        kind.alias("mm_kind"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )


def decode_payload(payload: bytes, kind: str, fake: bool = False) -> list[float]:
    """Decode one payload to a feature vector.

    Real decoders (PIL / librosa / av) are not installed in this
    container — STUB: raises unless ``fake=True``, which returns a
    deterministic 4-dim feature from the raw bytes (length, first,
    middle, last byte)."""
    if not fake:
        raise NotImplementedError(
            f"no {kind} decoder available in this environment; use fake=True"
        )
    if not payload:
        return [0.0, 0.0, 0.0, 0.0]
    return [
        float(len(payload)),
        float(payload[0]),
        float(payload[len(payload) // 2]),
        float(payload[-1]),
    ]


def decode_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched decode over ``mapInPandas``: each Python worker
    receives pandas batches of (doc_id, payload, mm_kind, n_bytes) and
    emits the DECODED_SCHEMA rows. Partition-parallel — on a cluster
    this is the pattern for GPU/codec feature extraction; nothing here
    is driver-side."""

    # The batch fn must be SELF-CONTAINED: cloudpickle serializes
    # references to module-level functions (like decode_payload) by
    # module path, which breaks on executors that don't have this repo
    # on PYTHONPATH (e.g. a driver harness running from another cwd).
    # Nested functions pickle by value, so the decode logic lives here.
    def _decode_one(payload: bytes, kind: str) -> list[float]:
        if not fake:
            raise NotImplementedError(
                f"no {kind} decoder available in this environment; use fake=True"
            )
        if not payload:
            return [0.0, 0.0, 0.0, 0.0]
        return [
            float(len(payload)),
            float(payload[0]),
            float(payload[len(payload) // 2]),
            float(payload[-1]),
        ]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mm_kind": pdf["mm_kind"],
                    "n_bytes": pdf["n_bytes"],
                    "features": [
                        _decode_one(bytes(p), k)
                        for p, k in zip(pdf["payload"], pdf["mm_kind"])
                    ],
                }
            )

    return df.select("doc_id", "payload", "mm_kind", "n_bytes").mapInPandas(
        decode_batches, DECODED_SCHEMA
    )


def with_kind_metadata(df: DataFrame) -> DataFrame:
    """Typed per-kind metadata struct alongside the payload — the
    columns partitioning/filters run on so the binary never moves for a
    metadata-only query. Values are deterministic stand-ins derived from
    n_bytes (no real decoders in this container); a real pipeline fills
    them in the decode step."""
    n = F.col("n_bytes")
    meta = F.struct(
        F.when(F.col("mm_kind") == "image", n % 1920).cast("long").alias("width"),
        F.when(F.col("mm_kind") == "image", n % 1080).cast("long").alias("height"),
        F.when(F.col("mm_kind") == "audio", n * 10).cast("long").alias("duration_ms"),
        F.when(F.col("mm_kind") == "video", n / 100 + 1).cast("long").alias("n_frames"),
    )
    return df.withColumn("meta", meta)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mm_kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("scale_den", LongType()),
    ]
)


def resize_payloads(df: DataFrame, scale_den: int = 4) -> DataFrame:
    """Resize plumbing over ``mapInPandas``: every payload is reduced to
    1/``scale_den`` of its bytes. A real deployment swaps the kernel for
    PIL/libvips inside the same batch function (not installed here —
    the deterministic stand-in keeps every ``scale_den``-th byte, so
    output sizes and bytes are exactly checkable). The batch function
    is self-contained (no module refs) so it ships to any executor."""
    import pandas as pd  # noqa: F811 — worker-side import

    den = int(scale_den)

    def resize_batches(batches):
        for pdf in batches:
            payloads = [bytes(p)[::den] for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mm_kind": pdf["mm_kind"],
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                    "scale_den": [den] * len(payloads),
                }
            )

    return df.select("doc_id", "mm_kind", "payload").mapInPandas(
        resize_batches, RESIZED_SCHEMA
    )


def frame_sample_offsets(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video payloads: evenly-spaced byte
    offsets (stand-in for frame indices), computed JVM-side. A real
    extractor would seek these offsets inside the mapInPandas decode."""
    step = F.greatest((F.col("n_bytes") / n_frames).cast("long"), F.lit(1))
    offsets = F.sequence(F.lit(0), F.col("n_bytes") - 1, step)
    return df.withColumn("frame_offsets", F.slice(offsets, 1, n_frames))


AUDIO_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_samples", LongType()),
        StructField("rms", DoubleType()),
    ]
)


def audio_frames(df: DataFrame, frame: int = 256, hop: int = 128) -> DataFrame:
    """PCM framing for audio payloads: fixed-length frames with 50%
    overlap (frame=256 bytes, hop=128) and per-frame RMS energy of the
    zero-centered 8-bit samples — the windowing step every audio
    feature extractor (MFCC, mel spectrogram, VAD) starts with.
    Arrow-batched ``mapInPandas`` with a vectorized numpy kernel per
    payload; only FULL frames are emitted (f·hop + frame ≤ n). The RMS
    is sqrt of an exact integer sum over 2^8-bounded samples, so both
    engines compute the identical double."""
    import numpy as np

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            idxs: list[int] = []
            rms: list[float] = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                n = len(b)
                f = 0
                while f * hop + frame <= n:
                    seg = b[f * hop : f * hop + frame] - 128
                    doc_ids.append(int(did))
                    idxs.append(f)
                    rms.append(float(np.sqrt(np.sum(seg * seg) / frame)))
                    f += 1
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(doc_ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int64"),
                    "n_samples": pd.array([frame] * len(idxs), dtype="int64"),
                    "rms": pd.array(rms, dtype="float64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        frame_batches, AUDIO_FRAMES_SCHEMA
    )


VIDEO_CUTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("l1_diff", LongType()),
        StructField("is_cut", BooleanType()),
    ]
)


def video_scene_cuts(
    df: DataFrame, frame: int = 128, threshold_per_byte: int = 29
) -> DataFrame:
    """Scene-cut detection plumbing for video payloads: consecutive
    non-overlapping byte frames, exact integer L1 difference between
    each frame and its predecessor, cut flagged where the sum exceeds
    ``threshold_per_byte``·frame. Arrow-batched ``mapInPandas`` numpy
    kernel, one row per frame transition — a real detector swaps the
    L1 kernel for a histogram/SSIM diff, same plumbing. All-integer
    math, so both engines agree exactly."""
    import numpy as np

    thr = threshold_per_byte * frame

    def cut_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            idxs: list[int] = []
            l1s: list[int] = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                nf = len(b) // frame
                for f in range(1, nf):
                    cur = b[f * frame : (f + 1) * frame]
                    prev = b[(f - 1) * frame : f * frame]
                    doc_ids.append(int(did))
                    idxs.append(f)
                    l1s.append(int(np.abs(cur - prev).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(doc_ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int64"),
                    "l1_diff": pd.array(l1s, dtype="int64"),
                    "is_cut": pd.array(
                        [x > thr for x in l1s], dtype="boolean"
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        cut_batches, VIDEO_CUTS_SCHEMA
    )


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bits", StringType()),
    ]
)


def image_phash_bits(df: DataFrame, n_px: int = 64) -> DataFrame:
    """Average-hash (aHash) plumbing for image payloads: the first
    ``n_px`` bytes stand in for the 8x8 downsampled grayscale grid a
    real decoder would produce (PIL resize + L-mode — not in this
    container), and each "pixel" hashes to 1 iff strictly above the
    grid mean. Emits the hash as an ``n_px``-char '0'/'1' string so
    the banded near-dup join can slice it with plain substrings.

    All-integer comparison (n_px * pixel > sum) — bit-exact across
    engines, same discipline as the audio/video kernels. Arrow-batched
    ``mapInPandas``; payload bytes never leave the scan partition."""
    import numpy as np

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # vectorized across the Arrow batch: one (rows, n_px)
            # uint8 matrix, one row-sum, one broadcast compare, one
            # '0'/'1' byte-block decode — no per-pixel Python loop
            # (the per-image join was the measured slope of the
            # heaviest registry query; see scripts/scaling_sweep.json).
            kept = [
                (int(did), bytes(payload)[:n_px])
                for did, payload in zip(pdf["doc_id"], pdf["payload"])
                if len(payload) >= n_px
            ]
            if not kept:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.array([], dtype="int64"),
                        "bits": pd.array([], dtype="string"),
                    }
                )
                continue
            ids = [did for did, _ in kept]
            mat = np.frombuffer(
                b"".join(px for _, px in kept), dtype=np.uint8
            ).reshape(-1, n_px).astype(np.int64)
            sums = mat.sum(axis=1, keepdims=True)
            ascii_bits = np.where(n_px * mat > sums, ord("1"), ord("0")).astype(
                np.uint8
            )
            blob = ascii_bits.tobytes().decode("ascii")
            bits = [blob[i * n_px : (i + 1) * n_px] for i in range(len(ids))]
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "bits": pd.array(bits, dtype="string"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(phash_batches, PHASH_SCHEMA)
