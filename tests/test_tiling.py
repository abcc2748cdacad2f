"""Tiling / visual-token arithmetic tests (pure, pixel-free)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from deepseek_ocr_2_spark.functions.tiling import (
    MAX_CROPS,
    MIN_CROPS,
    candidate_ratios,
    count_tiles,
    crop_ratio_for,
    num_image_tokens,
)


class TestCandidateRatios:
    def test_bounds(self):
        ratios = candidate_ratios()
        assert all(MIN_CROPS <= i * j <= MAX_CROPS for i, j in ratios)
        assert ratios == sorted(ratios, key=lambda x: x[0] * x[1])

    def test_known_members(self):
        ratios = set(candidate_ratios())
        assert (1, 2) in ratios and (2, 1) in ratios and (2, 3) in ratios
        assert (1, 1) not in ratios  # min_crops=2 excludes 1x1
        assert (3, 3) not in ratios  # 9 > max_crops


class TestCropRatio:
    def test_small_image_no_crop(self):
        assert crop_ratio_for(512, 512) == (1, 1)
        assert crop_ratio_for(768, 768) == (1, 1)

    def test_cropping_disabled(self):
        assert crop_ratio_for(4000, 4000, cropping=False) == (1, 1)

    def test_wide_image_prefers_wide_grid(self):
        w, h = count_tiles(2000, 500)
        assert w > h

    def test_tall_image_prefers_tall_grid(self):
        w, h = count_tiles(500, 2000)
        assert h > w

    def test_square_large(self):
        # aspect 1.0: candidates with i==j and min<=i*j<=max -> only (2,2)
        # exists at aspect 1.0... verify against the argmin directly
        assert count_tiles(1536, 1536) == (2, 2)


class TestTokenCounts:
    def test_untiled_is_257(self):
        assert num_image_tokens(512, 512) == 257
        assert num_image_tokens(768, 768) == 257

    def test_tiled_formula(self):
        for w, h in [(800, 600), (600, 800), (2000, 500), (1536, 1536), (3000, 3000)]:
            wt, ht = crop_ratio_for(w, h)
            expected = 256 + 1 + 144 * wt * ht if (wt > 1 or ht > 1) else 257
            assert num_image_tokens(w, h) == expected

    def test_published_range(self):
        # 256-1120 = k*144 + 256 for k in [0, 6] (BASELINE.md)
        valid = {257} | {256 + 1 + 144 * k for k in range(MIN_CROPS, MAX_CROPS + 1)}
        for w, h in [(100, 100), (900, 700), (5000, 300), (1024, 4096), (2048, 2048)]:
            assert num_image_tokens(w, h) in valid

    @given(st.integers(1, 8192), st.integers(1, 8192))
    @settings(max_examples=300, deadline=None)
    def test_property_token_set(self, w, h):
        tokens = num_image_tokens(w, h)
        wt, ht = crop_ratio_for(w, h)
        assert MIN_CROPS <= wt * ht <= MAX_CROPS or (wt, ht) == (1, 1)
        assert tokens == (257 if (wt, ht) == (1, 1) else 257 + 144 * wt * ht)
        assert tokens <= 257 + 144 * MAX_CROPS  # 1121 ceiling
