"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container ships no image/audio codecs (no PIL/ffmpeg/torch), so the
*decode* step is a deterministic fake (``deterministic_fake_features``)
— but everything Spark-side is real and tested: schemas, Arrow
batch shapes, UDF signatures, partitioning, and the tiling/token-cost
math the real decoder would use (``functions/tiling.py``, byte-parity
with the reference preprocessor).

Payload metadata probe mirrors the reference's ``get_pdf_info``
(``deepseek_ocr2_api/processors/pdf.py:220-261``): page count + per-page
dims without decoding pixels.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.tiling import crop_ratio_for, num_image_tokens
from .decode import PDF_MAGIC
from .pyworker import drop_zip_finders

PAGE_META_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_index", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("wtiles", IntegerType(), False),
        StructField("htiles", IntegerType(), False),
        StructField("est_visual_tokens", IntegerType(), False),
        StructField("payload_bytes", LongType(), False),
    ]
)


def page_metadata(pages: DataFrame) -> DataFrame:
    """(url, html) -> one row per PDF page with geometry + decode cost.

    The PDF branch of ``get_pdf_info``: metadata without pixel decode.
    HTML payloads yield no rows (they have no page geometry).
    """
    narrow = pages.select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, blob in zip(pdf["url"], pdf["html"]):
                if blob is None:
                    continue
                blob = bytes(blob)
                if not blob.startswith(PDF_MAGIC):
                    continue
                try:
                    doc = json.loads(blob[len(PDF_MAGIC):])
                    for i, p in enumerate(doc.get("pages", [])):
                        w, h = int(p["width"]), int(p["height"])
                        wt, ht = crop_ratio_for(w, h)
                        rows.append(
                            {
                                "url": url,
                                "page_index": i,
                                "width": w,
                                "height": h,
                                "wtiles": wt,
                                "htiles": ht,
                                "est_visual_tokens": num_image_tokens(w, h),
                                "payload_bytes": len(blob),
                            }
                        )
                except (ValueError, TypeError, KeyError, AttributeError):
                    # malformed payload: skip, never kill the task
                    # (json.JSONDecodeError/UnicodeDecodeError are
                    # ValueError subclasses)
                    continue
            if rows:
                yield pd.DataFrame(rows)
        drop_zip_finders()

    return narrow.mapInPandas(run, schema=PAGE_META_SCHEMA)


RESIZED_META_SCHEMA = StructType(
    PAGE_META_SCHEMA.fields
    + [
        StructField("resized_w", IntegerType(), False),
        StructField("resized_h", IntegerType(), False),
        StructField("was_capped", StringType(), False),
    ]
)


def resized_page_metadata(pages: DataFrame, max_size: int = 4096) -> DataFrame:
    """Metadata probe + resize plan in one pass: every ``page_metadata``
    column plus the target dims per page under the huge-payload guard
    (``resize_dims``, reference P6).  The pixel resample itself runs
    behind the decode boundary; geometry is decided here so the cost
    model sees post-resize dims.  (One combined frame, not two queries:
    the resize plan is a pure function of the probe's geometry columns,
    so splitting them would re-run the probe.)"""
    from ..functions.tiling import resize_dims

    meta = page_metadata(pages)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rw, rh, capped = [], [], []
            for w, h in zip(pdf["width"], pdf["height"]):
                a, b = resize_dims(int(w), int(h), max_size)
                rw.append(a)
                rh.append(b)
                capped.append("yes" if (a, b) != (w, h) else "no")
            out = pdf.copy()
            out["resized_w"] = rw
            out["resized_h"] = rh
            out["was_capped"] = capped
            yield out
        drop_zip_finders()

    return meta.mapInPandas(run, schema=RESIZED_META_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("frame_index", IntegerType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("frame_feature", ArrayType(IntegerType()), False),
    ]
)


def frame_sample(
    pages: DataFrame, max_frames: int = 4, dim: int = 8
) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads.

    Treats each PDF-stub payload's pages as the frame sequence (the
    container ships no video codec — the *sampling* policy, batch
    shape, and schema are the real artifact): deterministic uniform
    stride down to ``max_frames`` frames, a byte-sketch feature per
    sampled frame standing in for the decoded-frame featurizer.
    """
    narrow = pages.select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, blob in zip(pdf["url"], pdf["html"]):
                if blob is None:
                    continue
                blob = bytes(blob)
                if not blob.startswith(PDF_MAGIC):
                    continue
                try:
                    doc = json.loads(blob[len(PDF_MAGIC):])
                    frames = doc.get("pages", [])
                    n = len(frames)
                    if n == 0:
                        continue
                    k = min(max_frames, n)
                    # uniform deterministic stride: indices i*n//k
                    for j in range(k):
                        idx = j * n // k
                        payload = frames[idx]["raw_output"].encode("utf-8")
                        rows.append(
                            {
                                "url": url,
                                "frame_index": idx,
                                "n_frames": n,
                                "frame_feature": deterministic_fake_features(
                                    payload, dim
                                ),
                            }
                        )
                except (ValueError, TypeError, KeyError, AttributeError):
                    continue  # malformed payload: skip, never kill
            if rows:
                yield pd.DataFrame(rows)
        drop_zip_finders()

    return narrow.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


FEATURE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("modality", StringType(), False),
        StructField("feature", ArrayType(IntegerType()), False),
    ]
)


def deterministic_fake_features(blob: bytes, dim: int = 16) -> list:
    """CI stand-in for decode+feature-extract: a byte-histogram sketch.

    Deterministic function of the payload bytes with the same output
    shape as a real feature extractor, so batch plumbing and schema are
    exercised end to end.
    """
    arr = np.frombuffer(blob, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
    return [int(v) for v in hist]


def payload_features(pages: DataFrame, dim: int = 16) -> DataFrame:
    """Batched feature extraction over opaque binary payloads."""
    narrow = pages.select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, blob in zip(pdf["url"], pdf["html"]):
                if blob is None:
                    continue
                blob = bytes(blob)
                modality = "pdf" if blob.startswith(PDF_MAGIC) else "html"
                rows.append(
                    {
                        "url": url,
                        "modality": modality,
                        "feature": deterministic_fake_features(blob, dim),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)
        drop_zip_finders()

    return narrow.mapInPandas(run, schema=FEATURE_SCHEMA)
