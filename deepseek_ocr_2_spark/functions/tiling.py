"""Tile-grid and visual-token-count arithmetic (pure, pixel-free).

Re-implements the decision math of the reference preprocessor
(``DeepSeek-OCR2-master/DeepSeek-OCR2-vllm/process/image_process.py`` at
/root/reference — read-only; no code copied):

* candidate grid construction + closest-aspect-ratio argmin with the
  area tie-break (``image_process.py:11-42``),
* the <=768x768 no-crop rule (``image_process.py:386-398``),
* the per-image visual-token count: ``num_queries_base**2`` global
  tokens + 1 view separator + ``(num_queries*wtiles) *
  (num_queries*htiles)`` local tokens when tiled
  (``image_process.py:447-458``), giving the published 256..1120 =
  k*144 + 256 range for the default config.

This math decides decode cost per page, so the Spark pipeline reuses it
as a *cost model* for micro-batch packing inside the inference stage.
The pixels and the prompt-stream layout themselves are built by the
model's own processor, behind the decode boundary.
"""

from __future__ import annotations

import math
from functools import lru_cache
from typing import List, Tuple

BASE_SIZE = 1024
IMAGE_SIZE = 768
MIN_CROPS = 2
MAX_CROPS = 6
PATCH_SIZE = 16
DOWNSAMPLE_RATIO = 4


@lru_cache(maxsize=64)
def candidate_ratios(min_num: int = MIN_CROPS, max_num: int = MAX_CROPS) -> List[Tuple[int, int]]:
    """All (i, j) grids with min_num <= i*j <= max_num, sorted by area.

    Python's ``sorted`` is stable, so grids of equal area keep the
    iteration order of the generating set — the reference sorts the same
    set with the same key, and the argmin below only compares by ratio
    and area, making the selection independent of intra-area order.
    """
    ratios = set(
        (i, j)
        for n in range(min_num, max_num + 1)
        for i in range(1, n + 1)
        for j in range(1, n + 1)
        if min_num <= i * j <= max_num
    )
    return sorted(ratios, key=lambda x: x[0] * x[1])


def find_closest_aspect_ratio(
    aspect_ratio: float,
    target_ratios: List[Tuple[int, int]],
    width: int,
    height: int,
    image_size: int = IMAGE_SIZE,
) -> Tuple[int, int]:
    """Argmin over |aspect - i/j|; on ties prefer the later candidate only
    when the image area exceeds half the candidate grid's pixel area."""
    best_ratio_diff = float("inf")
    best_ratio = (1, 1)
    area = width * height
    for ratio in target_ratios:
        target_aspect = ratio[0] / ratio[1]
        ratio_diff = abs(aspect_ratio - target_aspect)
        if ratio_diff < best_ratio_diff:
            best_ratio_diff = ratio_diff
            best_ratio = ratio
        elif ratio_diff == best_ratio_diff:
            if area > 0.5 * image_size * image_size * ratio[0] * ratio[1]:
                best_ratio = ratio
    return best_ratio


def count_tiles(
    orig_width: int,
    orig_height: int,
    min_num: int = MIN_CROPS,
    max_num: int = MAX_CROPS,
    image_size: int = IMAGE_SIZE,
) -> Tuple[int, int]:
    """(width_tiles, height_tiles) the tiler would choose — grid only."""
    aspect_ratio = orig_width / orig_height
    ratios = candidate_ratios(min_num, max_num)
    return find_closest_aspect_ratio(
        aspect_ratio, ratios, orig_width, orig_height, image_size
    )


def crop_ratio_for(
    width: int,
    height: int,
    cropping: bool = True,
    min_num: int = MIN_CROPS,
    max_num: int = MAX_CROPS,
    image_size: int = IMAGE_SIZE,
) -> Tuple[int, int]:
    """Apply the <=768x768 no-crop rule, then the tiler."""
    if width <= 768 and height <= 768:
        return (1, 1)
    if not cropping:
        return (1, 1)
    return count_tiles(width, height, min_num, max_num, image_size)


def resize_dims(
    width: int, height: int, max_size: int = 4096
) -> Tuple[int, int]:
    """Dimension math of the reference's huge-payload guard (P6,
    ``deepseek_ocr2_api/processors/image.py:132-164``): cap the max
    dimension at ``max_size`` preserving aspect ratio (LANCZOS resample
    happens behind the decode boundary; this is the pixel-free part the
    cost model needs)."""
    longest = max(width, height)
    if longest <= max_size:
        return width, height
    scale = max_size / longest
    return max(1, int(width * scale)), max(1, int(height * scale))


def num_image_tokens(
    width: int,
    height: int,
    cropping: bool = True,
    image_size: int = IMAGE_SIZE,
    base_size: int = BASE_SIZE,
    min_num: int = MIN_CROPS,
    max_num: int = MAX_CROPS,
) -> int:
    """Visual tokens for one page under the reference token layout.

    Default config: 256 global + 1 separator + 144 per tile when tiled,
    i.e. {257} for untiled pages and {256 + 1 + 144*k, k in [min..max]}
    otherwise.
    """
    num_queries = math.ceil((image_size // PATCH_SIZE) / DOWNSAMPLE_RATIO)
    num_queries_base = math.ceil((base_size // PATCH_SIZE) / DOWNSAMPLE_RATIO)
    wtiles, htiles = crop_ratio_for(
        width, height, cropping, min_num, max_num, image_size
    )
    tokens = num_queries_base * num_queries_base + 1
    if wtiles > 1 or htiles > 1:
        tokens += (num_queries * wtiles) * (num_queries * htiles)
    return tokens
