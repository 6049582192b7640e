"""Multimodal column operators (SURVEY.md B6).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct.  The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
signatures, partitioning — is real and tested; the actual codec step is
STUBBED (image/audio libraries are not in this container): ``decode_*``
raise NotImplementedError unless ``fake=True``, in which case a
deterministic arithmetic fake derived from the payload bytes stands in, so
the pipeline shape is exercised end-to-end.

At 100 TB: payloads stay out of shuffles (decode early, project features,
drop the binary column before any wide operation); `spark.read.format
("binaryFile")` or parquet binary columns both feed this path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def with_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    The testdata has no true media blobs, so the documents' UTF-8 bytes act
    as the payload; the schema/plumbing is identical for real media.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(F.col(text_col)).cast("bigint").alias("n_bytes"),
            F.lit("text/plain").alias("kind"),
            F.md5(payload).alias("content_md5"),
        ).alias("meta"),
    )


def _fake_dims(n_bytes: int) -> tuple[int, int, int]:
    """Deterministic stand-in for decoded media dimensions.  Width and
    height floor at 1 (a decoded image can't be 0-wide) so every consumer
    of the fake geometry — decode, resize scale factors — agrees on the
    same well-defined values."""
    return max(n_bytes % 640, 1), max(n_bytes % 480, 1), n_bytes % 30 + 1


def decode_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas media decode -> feature rows.

    Real path (fake=False) would use PIL/av per Arrow batch; not available
    in this container, so it raises NotImplementedError.  The fake path
    derives (width, height, n_frames) arithmetically from payload size —
    deterministic, so the surrounding plumbing is fully testable.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media codecs (PIL/av) not available in this environment; "
                    "use fake=True for the deterministic stand-in"
                )
            n_bytes = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "width": (n_bytes % 640).clip(lower=1).astype("int64"),
                    "height": (n_bytes % 480).clip(lower=1).astype("int64"),
                    "n_frames": (n_bytes % 30 + 1).astype("int64"),
                }
            )

    return df.mapInPandas(
        decode,
        schema="doc_id long, n_bytes long, width long, height long, n_frames long",
    )


def sample_frames(df: DataFrame, every_nth: int = 10, fake: bool = True) -> DataFrame:
    """Frame sampling stub: one row per sampled frame index.

    Real path decodes video and emits frames; the fake path emits the frame
    indices the sampler *would* keep, driven by the fake frame count, so
    the explode/partitioning shape is real.
    """

    def sampler(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError("video codec not available; use fake=True")
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, _, n_frames = _fake_dims(len(payload))
                rows.extend(
                    {"doc_id": doc_id, "frame_idx": i}
                    for i in range(0, n_frames, every_nth)
                )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx"])

    return df.mapInPandas(sampler, schema="doc_id long, frame_idx long")


def resize_media(
    df: DataFrame, dst_w: int = 224, dst_h: int = 224, fake: bool = True
) -> DataFrame:
    """Resize stub: binary in -> (resized) binary out + geometry metadata.

    Real path would decode, resample to (dst_w, dst_h), re-encode per
    Arrow batch; stubbed here (no codecs in this container).  The fake
    keeps the contract honest end-to-end: the output payload really is
    derived from the input bytes (truncated to the deterministic resized
    length), so downstream code consuming the binary column exercises the
    same schema and batch shape as a real resize.  Source dims come from
    the same arithmetic fake as decode_features, floored at 1 so scale
    factors are well-defined.
    """
    cap = dst_w * dst_h // 64

    def resizer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image codecs not available in this environment; "
                    "use fake=True for the deterministic stand-in"
                )
            n = pdf["payload"].map(len).astype("int64")
            src_w = (n % 640).clip(lower=1)
            src_h = (n % 480).clip(lower=1)
            out_len = n.clip(upper=cap)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        p[:l] for p, l in zip(pdf["payload"], out_len)
                    ],
                    "src_w": src_w,
                    "src_h": src_h,
                    "dst_w": dst_w,
                    "dst_h": dst_h,
                    "scale_x": dst_w / src_w,
                    "scale_y": dst_h / src_h,
                }
            )

    return df.mapInPandas(
        resizer,
        schema=(
            "doc_id long, payload binary, src_w long, src_h long, "
            "dst_w long, dst_h long, scale_x double, scale_y double"
        ),
    )


def phash_media(df: DataFrame, fake: bool = True) -> DataFrame:
    """Perceptual hash (average-hash) stub: binary payload -> 64-bit
    pHash as (doc_id, phash long).

    Real path decodes the image, downsamples to an 8x8 luminance grid,
    and sets bit i when pixel_i exceeds the grid mean.  Codecs are absent
    here, so the DECODE is stubbed while the hashing pipeline is real:
    the "grid" is 64 bytes sampled at evenly spaced offsets of the
    payload (genuinely derived from the input bytes, like resize_media's
    truncation), thresholded against their mean exactly as a real aHash
    would threshold luminance.  Deterministic, so downstream banding +
    verify is fully testable end-to-end.
    """

    def hasher(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image codecs not available in this environment; "
                    "use fake=True for the deterministic stand-in"
                )
            # One vectorized pass per Arrow batch (r8; was a per-row
            # Python loop over per-byte indexing): gather each doc's 64
            # sample bytes via a flat-offset fancy index, threshold
            # against the float mean, and pack bits — byte-identical to
            # px_i = payload[(i*n)//64], mean = sum/64.0, bit on p > mean
            # (uint8 sums are exact in float64; /64 is a power of two).
            payloads = pdf["payload"].tolist()
            lens = np.fromiter((len(p) for p in payloads), np.int64, count=len(payloads))
            if len(lens) == 0 or lens.sum() == 0:
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "phash": np.zeros(len(lens), "int64")}
                )
                continue
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            grid = np.arange(64, dtype=np.int64)
            # empty payloads index position 0 harmlessly; their hash is
            # forced to 0 below (matches the old n==0 branch: px all 0,
            # 0 > 0.0 is false)
            pos = starts[:, None] + (grid[None, :] * lens[:, None]) // 64
            px = flat[np.minimum(pos, len(flat) - 1)]
            px[lens == 0] = 0
            mean = px.sum(axis=1, dtype=np.int64)[:, None] / 64.0
            h = (
                ((px > mean).astype(np.uint64) << grid.astype(np.uint64))
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": h})

    return df.mapInPandas(hasher, schema="doc_id long, phash long")
