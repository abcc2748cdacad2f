"""Multimodal plumbing: metadata probe, resize plan, frame sampling,
feature extraction — real Spark schemas/batching around a stubbed
decode boundary."""

from __future__ import annotations

import json

import pytest

from deepseek_ocr_2_spark.functions.tiling import num_image_tokens, resize_dims
from deepseek_ocr_2_spark.operators import multimodal as M
from deepseek_ocr_2_spark.sources import corpus as C

from .conftest import SF_TINY


@pytest.fixture(scope="module")
def pages(spark):
    return C.build_corpus(spark, SF_TINY).cache()


def test_page_metadata_matches_payloads(spark, pages):
    meta = {(r.url, r.page_index): r for r in M.page_metadata(pages).collect()}
    assert meta
    raw = {r.url: bytes(r.html) for r in pages.collect()}
    for (url, pidx), r in list(meta.items())[:50]:
        doc = json.loads(raw[url][len(C.PDF_MAGIC):])
        p = doc["pages"][pidx]
        assert (r.width, r.height) == (p["width"], p["height"])
        assert r.est_visual_tokens == num_image_tokens(r.width, r.height)
        assert (r.wtiles, r.htiles) != (0, 0)


def test_resized_page_metadata(spark, pages):
    rows = M.resized_page_metadata(pages, max_size=1600).collect()
    assert rows
    for r in rows:
        assert (r.resized_w, r.resized_h) == resize_dims(r.width, r.height, 1600)
        assert max(r.resized_w, r.resized_h) <= 1600
        assert r.was_capped in ("yes", "no")
    assert any(r.was_capped == "yes" for r in rows)  # corpus has big pages


def test_frame_sample_uniform_stride(spark, pages):
    rows = M.frame_sample(pages, max_frames=2).collect()
    assert rows
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(r)
    for url, frames in by_url.items():
        n = frames[0].n_frames
        k = len(frames)
        assert k == min(2, n)
        assert [f.frame_index for f in sorted(frames, key=lambda x: x.frame_index)] == [
            j * n // k for j in range(k)
        ]
        assert all(len(f.frame_feature) == 8 for f in frames)


def test_fake_features_deterministic():
    a = M.deterministic_fake_features(b"hello world", 16)
    assert a == M.deterministic_fake_features(b"hello world", 16)
    assert len(a) == 16 and sum(a) == len(b"hello world")
