"""Multimodal (image) column plumbing.

Images are opaque `binary` columns with typed metadata (w, h, fmt) per
BASELINE.json input_hint. Everything here is mapInPandas/pandas-UDF over
Arrow batches — batch sizes are bounded by
spark.sql.execution.arrow.maxRecordsPerBatch (set low in session.py
because payload rows are fat).

Real in this environment — every codec below is a from-scratch
implementation of its public spec (no codec libs in the container):

* images: PNG (datagen/png.py) and baseline JPEG (datagen/jpeg.py) —
  decode/encode, PSNR integrity check, nearest-neighbor resize,
  mean-color feature extraction;
* video: RAWV raw container (concatenated PNG frames), MJPEG
  (concatenated baseline JPEGs, real marker-structure splitting —
  datagen/jpeg.py mjpeg_split), and OSV1 block-motion-compensated
  inter-frame video (h264-class GOP/I/P structure, datagen/video.py)
  frame sampling;
* audio: RAWA raw PCM container, RIFF/WAV with 16-bit PCM or IMA
  ADPCM compression (datagen/wav_adpcm.py, block-vectorized), and OSA1
  MDCT transform audio (mp3-class overlapped-window structure,
  datagen/mdct_audio.py).

Unknown video/audio formats raise a declared NotImplementedError per
row; every listed format runs its real from-scratch codec.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmalyzer_spark.datagen.png import (
    decode_image,
    decode_images_batch,
    image_dims,
    png_encode,
    psnr,
)

PSNR_THRESHOLD_DB = 40.0


def mean_color_udf():
    """(bytes, fmt) -> array<double>[3] mean RGB — feature-extract demo."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _mean(data: pd.Series, fmt: pd.Series) -> pd.Series:
        # whole-Arrow-batch decode: same-config JPEGs pool into one
        # lane-parallel entropy run (jpeg_decode_batch)
        pixs = decode_images_batch(list(data), list(fmt))
        out = [
            [float(x) for x in px.reshape(-1, 3).mean(axis=0)] for px in pixs
        ]
        return pd.Series(out)

    return _mean


def resize_images(df: DataFrame, out_w: int, out_h: int, bytes_col: str = "bytes") -> DataFrame:
    """Nearest-neighbor resize of every image to (out_w, out_h); re-encoded
    PNG replaces the payload, w/h metadata updated. mapInPandas keeps the
    whole row so non-image columns pass through untouched."""
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            new_bytes = []
            # whole-batch decode: same-config JPEGs pool into one run
            pixs = decode_images_batch(list(pdf[bytes_col]), list(pdf["fmt"]))
            for px in pixs:
                ys = (np.arange(out_h) * px.shape[0] // out_h).clip(0, px.shape[0] - 1)
                xs = (np.arange(out_w) * px.shape[1] // out_w).clip(0, px.shape[1] - 1)
                new_bytes.append(bytearray(png_encode(px[ys][:, xs])))
            pdf = pdf.copy()
            pdf[bytes_col] = new_bytes
            pdf["w"] = out_w
            pdf["h"] = out_h
            pdf["fmt"] = "png"
            yield pdf

    return df.mapInPandas(run, schema=schema)


def check_payload_integrity(
    original: DataFrame,
    processed: DataFrame,
    id_col: str = "image_id",
    threshold_db: float = PSNR_THRESHOLD_DB,
) -> DataFrame:
    """Per-row invariant check (input_hint): decoded-pixel PSNR >=
    threshold AND caption byte-equality, joined by image_id.

    Output: (image_id, psnr_db, caption_equal, ok)."""
    o = original.select(
        F.col(id_col),
        F.col("bytes").alias("o_bytes"),
        F.col("fmt").alias("o_fmt"),
        F.col("caption").alias("o_caption"),
    )
    p = processed.select(
        F.col(id_col),
        F.col("bytes").alias("p_bytes"),
        F.col("fmt").alias("p_fmt"),
        F.col("caption").alias("p_caption"),
    )

    @F.pandas_udf(T.DoubleType())
    def psnr_udf(ob: pd.Series, of: pd.Series, pb: pd.Series, pf: pd.Series) -> pd.Series:
        a_pix = decode_images_batch(list(ob), list(of))
        b_pix = decode_images_batch(list(pb), list(pf))
        out = np.empty(len(ob))
        for i, (a, b) in enumerate(zip(a_pix, b_pix)):
            if a.shape != b.shape:
                out[i] = float("-inf")
            else:
                v = psnr(a, b)
                out[i] = 1e9 if v == float("inf") else v
        return pd.Series(out)

    joined = o.join(p, id_col)
    return joined.select(
        id_col,
        psnr_udf("o_bytes", "o_fmt", "p_bytes", "p_fmt").alias("psnr_db"),
        (F.col("o_caption") == F.col("p_caption")).alias("caption_equal"),
    ).withColumn(
        "ok", (F.col("psnr_db") >= threshold_db) & F.col("caption_equal")
    )


def sample_video_frames(
    df: DataFrame,
    every_nth: int = 30,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Video frame sampling: one exploded row per kept frame.

    REAL for fmt='rawv' (the engine's raw container of concatenated PNG
    frames, datagen/rawmedia.py), fmt='mjpg' (MJPEG — concatenated
    baseline JPEGs, split by real marker walking, datagen/jpeg.py), and
    fmt='osv' (OSV1 inter-frame motion-compensated video,
    datagen/video.py — frames decode sequentially through the GOP chain
    and sampled frames are re-encoded PNG). Output: (id, frame_idx,
    bytes, fmt, w, h) — frame bytes carry a still-image codec
    (png / jpeg)."""
    from osmalyzer_spark.datagen.jpeg import mjpeg_split
    from osmalyzer_spark.datagen.rawmedia import unpack_rawv
    from osmalyzer_spark.datagen.video import video_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid, blob, fmt in zip(pdf[id_col], pdf[bytes_col], pdf["fmt"]):
                if fmt == "rawv":
                    frames, ffmt = unpack_rawv(bytes(blob)), "png"
                elif fmt == "mjpg":
                    frames, ffmt = mjpeg_split(bytes(blob)), "jpeg"
                elif fmt == "osv":
                    # inter-frame: the GOP chain must decode sequentially,
                    # but only KEPT frames pay a PNG re-encode
                    for idx, px in enumerate(video_decode(bytes(blob))):
                        if idx % every_nth == 0:
                            fb = png_encode(px)
                            out.append(
                                (vid, idx, bytearray(fb), "png",
                                 px.shape[1], px.shape[0])
                            )
                    continue
                else:
                    raise NotImplementedError(
                        f"no decoder for video format {fmt!r} in this "
                        "environment (rawv/mjpg/osv containers only); see "
                        "multimodal.py docstring"
                    )
                for idx in range(0, len(frames), every_nth):
                    # header-only dims: sampling re-emits the SOURCE frame
                    # bytes, so no pixel decode is needed at all
                    fw, fh = image_dims(frames[idx], ffmt)
                    out.append(
                        (vid, idx, bytearray(frames[idx]), ffmt, fw, fh)
                    )
            yield pd.DataFrame(
                out, columns=[id_col, "frame_idx", "bytes", "fmt", "w", "h"]
            )

    return df.select(id_col, bytes_col, "fmt").mapInPandas(
        run,
        schema=f"{id_col} long, frame_idx int, bytes binary, fmt string, w int, h int",
    )


def extract_audio_features(
    df: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Audio feature extraction: duration, RMS, peak, zero-crossing rate.

    REAL for fmt='rawa' (raw int16 PCM container, datagen/rawmedia.py),
    fmt='wav' (RIFF/WAVE, 16-bit PCM or IMA ADPCM compressed —
    datagen/wav_adpcm.py), and fmt='osa' (OSA1 MDCT transform audio,
    datagen/mdct_audio.py) — the feature math is plain numpy over the
    decoded samples."""
    from osmalyzer_spark.datagen.mdct_audio import audio_decode
    from osmalyzer_spark.datagen.rawmedia import unpack_rawa
    from osmalyzer_spark.datagen.wav_adpcm import wav_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, blob, fmt in zip(pdf[id_col], pdf[bytes_col], pdf["fmt"]):
                if fmt == "rawa":
                    pcm, rate = unpack_rawa(bytes(blob))
                elif fmt == "wav":
                    pcm, rate = wav_decode(bytes(blob))
                elif fmt == "osa":
                    pcm, rate = audio_decode(bytes(blob))
                else:
                    raise NotImplementedError(
                        f"no decoder for audio format {fmt!r} in this "
                        "environment (rawa/wav/osa containers only); see "
                        "multimodal.py docstring"
                    )
                x = pcm.astype(np.float64) / 32768.0
                zc = int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
                out.append(
                    (
                        aid,
                        len(x) / rate,
                        float(np.sqrt((x * x).mean())) if len(x) else 0.0,
                        float(np.abs(x).max()) if len(x) else 0.0,
                        zc / (len(x) / rate) if len(x) else 0.0,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[id_col, "duration_s", "rms", "peak", "zero_cross_per_s"],
            )

    return df.select(id_col, bytes_col, "fmt").mapInPandas(
        run,
        schema=(
            f"{id_col} long, duration_s double, rms double, peak double, "
            "zero_cross_per_s double"
        ),
    )


# --------------------------------------------------------------------------
# Perceptual hash (pHash) — the image analog of simhash: a 64-bit
# fingerprint whose hamming distance tracks VISUAL similarity, so the
# banded-LSH machinery (operators/dedup.py banded_pairs) gives
# image near-dup at corpus scale without any all-pairs comparison.
# Standard construction (public pHash algorithm): luma -> area-resample
# to 32x32 -> 2D DCT-II -> top-left 8x8 low-frequency block -> each of
# the 63 AC coefficients contributes sign(coef - median(ACs)) as one
# bit. Dropping the DC term makes the hash EXACTLY invariant to global
# brightness shifts (a constant image has zero AC energy), which the
# q41 driver gate exploits as an analytic oracle.
# Everything is numpy over whole Arrow batches; per-image work is two
# 32x32 matmuls.
# --------------------------------------------------------------------------

_PHASH_N = 32  # resample target
_PHASH_K = 8   # low-frequency block


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (rows = frequencies)."""
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / n)


_PHASH_DCT = _dct_matrix(_PHASH_N)


def _integral_sample(ii: np.ndarray, ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """Bilinear sample of the integral image at fractional coords.

    The 2D integral function of a piecewise-constant (pixel) image is
    bilinear inside every cell, so this is EXACT — no resampling
    approximation anywhere in the hash."""
    h = ii.shape[0] - 1
    w = ii.shape[1] - 1
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    fy = (ys - y0)[:, None]
    fx = (xs - x0)[None, :]
    return (
        ii[np.ix_(y0, x0)] * (1 - fy) * (1 - fx)
        + ii[np.ix_(y0 + 1, x0)] * fy * (1 - fx)
        + ii[np.ix_(y0, x0 + 1)] * (1 - fy) * fx
        + ii[np.ix_(y0 + 1, x0 + 1)] * fy * fx
    )


def _area_resize(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Exact box-filter resample to (out_h, out_w) for ANY input size
    (up- or down-scale): each output cell is the mean of the image over
    its fractional-pixel rectangle, computed from the integral image.
    Reduces to the plain block mean when dimensions divide evenly."""
    h, w = gray.shape
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = gray.cumsum(0).cumsum(1)
    ys = np.linspace(0.0, float(h), out_h + 1)
    xs = np.linspace(0.0, float(w), out_w + 1)
    s = _integral_sample(ii, ys, xs)
    box = s[1:, 1:] + s[:-1, :-1] - s[1:, :-1] - s[:-1, 1:]
    area = np.diff(ys)[:, None] * np.diff(xs)[None, :]
    return box / area


def phash64_batch(pixs: list) -> np.ndarray:
    """64-bit perceptual hashes for a batch of (h, w, 3) uint8 images.

    Returns int64 array (63 payload bits, top bit 0). Exactly invariant
    to global brightness shift (no clipping), deterministic, and
    independent of input resolution."""
    if not pixs:
        return np.zeros(0, dtype=np.int64)
    # luma with INTEGER weights (BT.601 x1000): a +b global brightness
    # shift moves every luma sample by exactly 1000*b (the weights sum
    # to an exact float), so the shift reaches the DCT as a pure DC
    # perturbation plus fp crumbs ~1e-6
    lumas = np.stack(
        [
            _area_resize(
                px.astype(np.float64) @ np.array([299.0, 587.0, 114.0]),
                _PHASH_N,
                _PHASH_N,
            )
            for px in pixs
        ]
    )
    # batched 2D DCT-II: C = D @ L @ D^T
    coefs = _PHASH_DCT[None] @ lumas @ _PHASH_DCT.T[None]
    low = coefs[:, :_PHASH_K, :_PHASH_K].reshape(len(pixs), -1)[:, 1:]  # drop DC
    # round to an integer grid before the sign comparison: coefficient
    # magnitudes are O(1e5..1e8) at this luma scale, so the grid costs
    # nothing discriminative, while fp-rounding perturbations (~1e-6,
    # incl. those of a brightness shift) can no longer flip a bit via
    # an exact tie with the median element
    low = np.rint(low)
    med = np.median(low, axis=1, keepdims=True)
    bits = (low > med).astype(np.uint64)
    shifts = np.arange(low.shape[1] - 1, -1, -1, dtype=np.uint64)
    return (bits << shifts).sum(axis=1).astype(np.int64)


def phash_images(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    out_col: str = "phash64",
) -> DataFrame:
    """Append an int64 pHash column computed from the DECODED pixels
    (whole-Arrow-batch decode, pooled JPEG entropy lanes)."""

    @F.pandas_udf(T.LongType())
    def _ph(data: pd.Series, fmt: pd.Series) -> pd.Series:
        pixs = decode_images_batch(list(data), list(fmt))
        return pd.Series(phash64_batch(pixs))

    return df.withColumn(out_col, _ph(F.col(bytes_col), F.col(fmt_col)))


def phash_near_pairs(
    fps: DataFrame, max_hamming: int = 6, bands: int = 8
) -> DataFrame:
    """COMPLETE set of image pairs with hamming(pHash) <= max_hamming —
    visual near-duplicate candidates at corpus scale. Input: (image_id,
    phash64) rows.

    Delegates to the SimHash fingerprint join (operators/dedup.py
    simhash_near_pairs), whose candidates come from `banded_pairs`: band
    buckets bound the candidate set, only ids and band keys go through the
    band join, pigeonhole (bands >= max_hamming + 1) guarantees recall,
    verification is native bit_count. Output: (id_a, id_b, hamming)."""
    from osmalyzer_spark.operators.dedup import simhash_near_pairs

    renamed = fps.select(
        F.col("image_id").alias("id"), F.col("phash64").alias("simhash")
    )
    return simhash_near_pairs(renamed, max_hamming=max_hamming, bands=bands)
