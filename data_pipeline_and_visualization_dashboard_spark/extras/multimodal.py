"""Multimodal column plumbing (north-star surface).

Treats media as opaque `binary` columns + typed metadata structs, the
standard lakehouse layout for image/audio/video at scale: the bytes ride
parquet; decode/feature-extraction runs as Arrow-batched Pandas
functions (mapInPandas) so the Python boundary is paid per-BATCH, not
per-row, and each partition streams through without materializing.

The container ships no image/audio codecs, so the decode step is a
clearly marked STUB (deterministic fake derived from the bytes) behind
`decode_fn` — the Spark-side contract (schema, batch iteration,
partitioning, output shape) is real and tested; swapping in a real
decoder (PIL/libav) changes only the inner function.

The driver testdata has no binary table; `attach_fake_media` manufactures
a binary column from documents.text (utf-8 bytes) purely to exercise the
plumbing end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table

MEDIA_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    "checksum string, width int, height int, feat array<double>"
)

N_FEATURES = 8


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Manufacture an opaque binary column + metadata from text bytes —
    stand-in for parquet-resident media at 100 TB (where this column is
    simply read, never synthesized)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("media_bytes"),
        F.lit("image/fake").alias("media_type"),
    )


def _stub_decode(raw: bytes) -> tuple[int, int, list[float]]:
    """STUB decoder: deterministic pseudo-features from the byte content.
    A real deployment replaces this with PIL/av decode + model features;
    everything outside this function is production-shaped."""
    digest = hashlib.sha256(raw).digest()
    width = 1 + digest[0]  # fake dimensions, deterministic
    height = 1 + digest[1]
    feat = [b / 255.0 for b in digest[2 : 2 + N_FEATURES]]
    return width, height, feat


def extract_media_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], tuple[int, int, list[float]]] = _stub_decode,
) -> DataFrame:
    """Arrow-batched feature extraction over binary media columns.

    mapInPandas: per-partition iterator of record batches — constant
    memory per task, no per-row serialization. At scale, partition count
    (not batch size) controls parallelism; repartition upstream if media
    files skew large."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_fn(raw) for raw in pdf["media_bytes"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "media_type": pdf["media_type"].values,
                    "n_bytes": [len(r) for r in pdf["media_bytes"]],
                    "checksum": [
                        hashlib.sha256(r).hexdigest() for r in pdf["media_bytes"]
                    ],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "feat": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes long, frame_checksum string"


def sample_frames(media: DataFrame, n_frames: int = 4,
                  chunk: int = 64) -> DataFrame:
    """Frame-sampling plumbing for video-like media: one input row fans
    out to ≤ n_frames output rows (evenly spaced byte-chunks standing in
    for decoded frames — a real decoder swaps the chunker for av frame
    extraction; the 1->N mapInPandas shape is the production part).

    Scale: fan-out happens inside the partition — no shuffle, output
    partition count tracks input. Downstream per-frame ops (resize,
    embed) chain as further mapInPandas stages over the same partitions.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["media_bytes"]):
                n_chunks = max(1, len(raw) // chunk)
                take = min(n_frames, n_chunks)
                for i in range(take):
                    # evenly spaced "frames"
                    off = (i * n_chunks // take) * chunk
                    frame = bytes(raw[off : off + chunk])
                    rows.append(
                        (
                            doc_id,
                            i,
                            len(frame),
                            hashlib.sha256(frame).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame_bytes", "frame_checksum"],
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


RESIZE_TARGET = 128  # target byte-"resolution" of the stub resizer

RESIZE_SCHEMA = (
    "doc_id long, in_bytes long, stride int, resized binary, "
    "out_bytes long, checksum string"
)


def resize_media(media: DataFrame,
                 target: int = RESIZE_TARGET) -> DataFrame:
    """Resize stage for media columns — the downsample step between
    decode and feature-extraction in an image pipeline. STUB transform
    (no codecs in the sandbox): stride-subsample the byte stream to at
    most `target` bytes (stride = ceil(n/target), output =
    ceil(n/stride) bytes — pure integer arithmetic, so the size
    contract is oracle-checkable even though DuckDB cannot stride a
    BLOB). A real deployment swaps the inner transform for
    PIL.Image.resize; the Arrow-batched 1->1 mapInPandas shape,
    binary-in/binary-out schema, and chainability (the output feeds
    extract_media_features unchanged) are the production parts.

    Scale: row-local, no shuffle, output partitioning tracks input;
    chained mapInPandas stages fuse into one pass over each partition."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["media_bytes"]):
                raw = bytes(raw)
                n = len(raw)
                stride = 1 if n <= target else -(-n // target)
                out = raw[::stride]
                rows.append(
                    (
                        doc_id,
                        n,
                        stride,
                        out,
                        len(out),
                        hashlib.sha256(out).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "in_bytes", "stride", "resized",
                    "out_bytes", "checksum",
                ],
            )

    return media.mapInPandas(run, schema=RESIZE_SCHEMA)


def media_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry for the resize stage: the deterministic size
    contract (stride + output length) — DuckDB reproduces the integer
    arithmetic; the resized bytes/checksum are pytest-verified
    (deterministic, chainable into extract_media_features)."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    out = resize_media(attach_fake_media(docs))
    return out.select(
        "doc_id", "in_bytes", "stride", "out_bytes"
    )  # no terminal sort: O(n) output, order-insensitive compare


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: fake-media plumbing end-to-end. sha256/metadata
    are deterministic, so this is oracle-checkable on the metadata
    columns (bytes = utf-8 of text in both engines)."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    out = extract_media_features(attach_fake_media(docs))
    return out.select(
        "doc_id", "media_type", "n_bytes", "checksum"
    )  # no terminal sort: O(n) output, order-insensitive compare


def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry for the frame-sampling stage: the 1->N fan-out
    contract (evenly spaced chunk offsets, per-frame byte counts and
    checksums) is integer-deterministic, so the WHOLE output is
    oracle-checkable — the corpus is ASCII (pinned by the oracle's
    byte-length equality), so DuckDB's character substring slices the
    same bytes the Arrow batch slices."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return sample_frames(attach_fake_media(docs))
    # no terminal sort: O(n) output, order-insensitive compare


AUDIO_WIN = 64  # "samples" (bytes) per analysis window
AUDIO_HOP = 32  # hop size — 50% overlap, the STFT/VAD convention
SILENCE_TAU = 95.0  # mean-amplitude silence threshold (ASCII stand-in)

AUDIO_SCHEMA = "doc_id long, win_idx int, n_samples int, energy double"


def window_audio(media: DataFrame, win: int = AUDIO_WIN,
                 hop: int = AUDIO_HOP) -> DataFrame:
    """Overlapping audio-frame segmentation — the windowing stage every
    speech/audio pipeline runs before feature extraction (STFT frames,
    VAD chunks, ASR segments): one PCM blob fans out to
    floor((n-win)/hop)+1 windows with hop < win OVERLAP (a doc shorter
    than one window yields a single partial window, so no input is
    dropped). Per window the stub "DSP" emits mean amplitude (energy)
    — a real deployment swaps in librosa/torchaudio frame features;
    the 1->N overlapping fan-out and the Arrow batch shape are the
    production part, same contract as sample_frames. Fan-out is
    partition-local: no shuffle, output partitioning tracks input."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["media_bytes"]):
                n = len(raw)
                if n >= win:
                    n_w = (n - win) // hop + 1
                else:
                    n_w = 1
                for i in range(n_w):
                    seg = raw[i * hop : i * hop + win]
                    rows.append(
                        (doc_id, i, len(seg), sum(seg) / len(seg))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "win_idx", "n_samples", "energy"],
            )

    return media.mapInPandas(run, schema=AUDIO_SCHEMA)


def media_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry for the audio windowing stage: per-doc window
    accounting — window count, silence count (energy < SILENCE_TAU,
    the VAD gate), mean/max energy. Window energies are exact
    rationals (integer byte-sum / integer length) computed identically
    by the Arrow batch and by DuckDB's ord()-sum over the ASCII corpus
    (same byte==codepoint pin as media_frames), so the doc-grain
    aggregate is fully oracle-checkable; only the final avg is
    rounded."""
    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "text"]
    ).filter(F.col("text").isNotNull())
    w = window_audio(attach_fake_media(docs))
    return (
        w.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                (F.col("energy") < SILENCE_TAU).cast("bigint")
            ).alias("n_silence"),
            F.round(F.avg("energy"), 6).alias("avg_energy"),
            F.round(F.max("energy"), 6).alias("max_energy"),
        )
        .orderBy("doc_id")
    )
