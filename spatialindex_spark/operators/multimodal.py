"""Multimodal (binary-payload) operators over the image+caption table.

Images/audio/video are opaque ``binary`` columns with typed metadata
(w, h, fmt). The Spark-side plumbing — schemas, Arrow batch shapes,
mapInPandas partitioning — is real and tested; decoding uses the repo's
numpy codecs (sources/imaging.py). External-format decode (JPEG/PNG/WAV)
is stubbed behind NotImplementedError since no media libraries exist in
this environment; plug a real decoder into ``EXTERNAL_DECODERS`` on a
cluster with PIL/ffmpeg available.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..sources import imaging

# fmt -> callable(bytes, w, h) -> uint8 (h, w, 3). Extend on real clusters.
EXTERNAL_DECODERS: dict = {}


def _decode_any(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    if fmt in ("raw", "z", "dct"):
        return imaging.decode(data, w, h, fmt)
    if fmt in EXTERNAL_DECODERS:
        return EXTERNAL_DECODERS[fmt](data, w, h)
    raise NotImplementedError(
        f"decoder for fmt={fmt!r} requires an external media library "
        "(not available in this environment); register one in "
        "multimodal.EXTERNAL_DECODERS")


DECODE_STATS_SCHEMA = "image_id string, psnr double, mean_lum double, phash_check long"
RESIZE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def decode_stats(df: DataFrame) -> DataFrame:
    """Decode every image and emit per-row quality stats (the north-rule
    PSNR/phash invariants as a distributed job)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, psnrs, lums, ph = [], [], [], []
            for r in b.itertuples(index=False):
                img = _decode_any(r.bytes, r.w, r.h, r.fmt)
                ref = imaging.synth_image(int(r.image_id[3:]), r.w, r.h)
                psnrs.append(imaging.psnr(ref, img))
                lums.append(float(imaging.grayscale(img).mean()))
                ph.append(imaging.phash64(img))
                ids.append(r.image_id)
            yield pd.DataFrame({"image_id": ids, "psnr": psnrs,
                                "mean_lum": lums, "phash_check": ph})

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, DECODE_STATS_SCHEMA)


def resize(df: DataFrame, out_w: int, out_h: int, out_fmt: str = "z") -> DataFrame:
    """Nearest-neighbor resize of every image, re-encoded to ``out_fmt``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"image_id": [], "bytes": [], "w": [], "h": [], "fmt": []}
            for r in b.itertuples(index=False):
                img = _decode_any(r.bytes, r.w, r.h, r.fmt)
                yi = (np.arange(out_h) * r.h) // out_h
                xi = (np.arange(out_w) * r.w) // out_w
                res = img[yi][:, xi]
                rows["image_id"].append(r.image_id)
                rows["bytes"].append(imaging.encode(res, out_fmt))
                rows["w"].append(out_w)
                rows["h"].append(out_h)
                rows["fmt"].append(out_fmt)
            yield pd.DataFrame(rows)

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = "video_id string, frame_idx int, nframes int, bytes binary, w int, h int, fmt string"


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Sample every ``every_n``-th frame of each video payload into its own
    row (video_id, frame_idx, nframes, bytes, w, h, fmt).

    Demuxes the engine-native SVC1 container (sources/imaging.py) without
    decoding pixels — each emitted row carries the still-image payload for
    that frame, so downstream decode/resize/feature operators compose.
    External containers (mp4/webm) would plug a demuxer into
    ``EXTERNAL_DECODERS``-style hooks; none exist in this environment, so
    non-SVC1 payloads raise NotImplementedError inside the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"video_id": [], "frame_idx": [], "nframes": [],
                    "bytes": [], "w": [], "h": [], "fmt": []}
            for vid, data in zip(pdf["video_id"], pdf["bytes"]):
                data = bytes(data)
                if data[:4] != b"SVC1":
                    raise NotImplementedError(
                        "non-SVC1 video container: external demuxer required")
                nframes, w, h, fmt, spans = imaging.video_info(data)
                for idx in range(0, nframes, every_n):
                    o, ln = spans[idx]
                    rows["video_id"].append(vid)
                    rows["frame_idx"].append(idx)
                    rows["nframes"].append(nframes)
                    rows["bytes"].append(data[o:o + ln])
                    rows["w"].append(w)
                    rows["h"].append(h)
                    rows["fmt"].append(fmt)
            yield pd.DataFrame(rows)

    return df.select("video_id", "bytes").mapInPandas(run, FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = ("audio_id string, n_samples int, rms double, "
                        "zcr double, spectral_centroid_hz double")


def audio_features(df: DataFrame, rate: int = 8000) -> DataFrame:
    """Vectorized audio feature extraction over PCM payloads: RMS level,
    zero-crossing rate, FFT spectral centroid. Uses the per-row ``rate``
    column when the table has one (mixed-rate corpora), else the ``rate``
    argument. Same mapInPandas shape as the image operators; external
    codecs (mp3/ogg) raise NotImplementedError."""
    has_rate = "rate" in df.columns
    cols = ["audio_id", "bytes", "fmt"] + (["rate"] if has_rate else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"audio_id": [], "n_samples": [], "rms": [], "zcr": [],
                    "spectral_centroid_hz": []}
            rates = pdf["rate"] if has_rate else [rate] * len(pdf)
            for aid, data, fmt, r in zip(pdf["audio_id"], pdf["bytes"],
                                         pdf["fmt"], rates):
                if fmt not in ("pcm", "pcmz"):
                    raise NotImplementedError(
                        f"audio fmt {fmt!r}: external codec required")
                pcm = imaging.decode_audio(bytes(data), fmt).astype(np.float64)
                n = len(pcm)
                mag = np.abs(np.fft.rfft(pcm))
                freqs = np.fft.rfftfreq(n, d=1.0 / float(r))
                denom = mag.sum()
                rows["audio_id"].append(aid)
                rows["n_samples"].append(n)
                rows["rms"].append(float(np.sqrt(np.mean(pcm ** 2))))
                rows["zcr"].append(float(np.mean(np.signbit(pcm[1:])
                                                 != np.signbit(pcm[:-1]))))
                rows["spectral_centroid_hz"].append(
                    float((freqs * mag).sum() / denom) if denom else 0.0)
            yield pd.DataFrame(rows)

    return df.select(*cols).mapInPandas(run, AUDIO_FEATURE_SCHEMA)


def phash_image_dedup(df, phash_col: str = "phash",
                      id_col: str = "image_id", band_bits: int = 16,
                      max_hamming: int = 4):
    """Near-duplicate IMAGE removal over the ingest-time perceptual-hash
    column (keep min id): banded-Hamming candidates + exact bit_count(xor)
    verify, sharing the simhash core (dedup.hamming_dedup_losers). Images
    re-encoded through a lossy codec land within a few phash bits of the
    original (test_phash_similarity_property), so re-encodes/resizes dedup
    without touching pixel bytes — the shuffle carries only (id, phash),
    never the image payload. Shuffle volume O(rows x 64/band_bits)."""
    from pyspark.sql import functions as F

    from .dedup import hamming_dedup_losers

    hashed = df.select(F.col(id_col), F.col(phash_col))
    losers = hamming_dedup_losers(hashed, phash_col, id_col,
                                  band_bits, max_hamming)
    return df.join(losers, id_col, "left_anti")


def caption_conflicts(df, phash_col: str = "phash",
                      caption_col: str = "caption",
                      id_col: str = "image_id", band_bits: int = 16,
                      max_hamming: int = 3):
    """Caption-conflict detection over an image+caption table: pairs of
    rows whose images are perceptual near-duplicates (phash Hamming <=
    ``max_hamming`` — i.e. the same picture up to lossy re-encode/resize)
    but whose CAPTIONS disagree. In a multimodal training corpus these are
    label conflicts: the same image shipped twice with contradictory text,
    which near-dup image dedup alone silently keeps one side of. Emits
    (id_a, id_b, hamming) with id_a < id_b for every conflicted pair.

    Scale shape: the banded-Hamming candidate stage shuffles only
    (id, phash) slices — never pixels; captions join in AFTER the Hamming
    verify via two hash-key equi-joins against only the surviving pair
    ids, so caption text crosses the wire for candidate pairs only (a
    vanishing fraction of a 10^12-row table)."""
    from pyspark.sql import functions as F

    from .dedup import hamming_pairs

    hashed = df.select(F.col(id_col), F.col(phash_col))
    pairs = hamming_pairs(hashed, phash_col, id_col, band_bits, max_hamming)
    caps = df.select(F.col(id_col), F.col(caption_col))
    cap_a = caps.select(F.col(id_col).alias("id_a"),
                        F.col(caption_col).alias("_cap_a"))
    cap_b = caps.select(F.col(id_col).alias("id_b"),
                        F.col(caption_col).alias("_cap_b"))
    return (pairs.join(cap_a, "id_a").join(cap_b, "id_b")
            .filter(~F.col("_cap_a").eqNullSafe(F.col("_cap_b")))
            .select("id_a", "id_b", "hamming"))


def image_quality_filter(df, w_col: str = "w", h_col: str = "h",
                         nbytes_col: str = "nbytes",
                         min_side: int = 64, max_side: int = 16384,
                         ar_max: float = 4.0, min_bpp: float = 0.05,
                         mark_only: bool = False):
    """Pretraining image-quality gate: drop (or flag) images that are too
    small/large, too elongated (aspect ratio > ``ar_max``), or whose
    payload is implausibly thin for their pixel count (bytes-per-pixel <
    ``min_bpp`` — truncated/corrupt files). Pure JVM Column math over the
    metadata columns — the image BYTES are never touched, so the filter
    is a metadata-only scan at 100 TB (column pruning keeps the binary
    column out of the read entirely)."""
    from pyspark.sql import functions as F

    w = F.col(w_col).cast("double")
    h = F.col(h_col).cast("double")
    ar = F.greatest(w, h) / F.least(w, h)
    bpp = F.col(nbytes_col).cast("double") / (w * h)
    ok = ((F.least(w, h) >= min_side) & (F.greatest(w, h) <= max_side)
          & (ar <= ar_max) & (bpp >= min_bpp))
    if mark_only:
        return df.withColumn("image_ok", ok.cast("int"))
    return df.filter(ok)
