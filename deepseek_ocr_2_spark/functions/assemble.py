"""Page-level assembly: raw model output -> (markdown, elements).

Re-implements the reference's ``process_output`` text path
(``deepseek_ocr2_api/processors/postprocess.py:296-387``) without the
drawing/cropping side effects (annotated images and figure crops are
serving artifacts, not data).  ``PAGE_SEPARATOR`` is the separator the
extraction kernel joins a document's pages with.

Element schema mirrors ``postprocess.py:343-349``:
``{id, type, bbox_normalized, bbox_pixels, text}`` where ``id`` is a
running per-page counter over (ref x bbox) pairs with exactly 4 coords.
"""

from __future__ import annotations

from typing import Any, Dict, List, Tuple

from .refparse import (
    clean_output,
    convert_coordinates,
    extract_refs_with_content,
    replace_image_refs,
)

# PDF pages joined by this separator (API default,
# deepseek_ocr2_api/config.py:183-186).
PAGE_SEPARATOR = "\n<--- Page Split --->\n"


def _coerce_bbox(coords: Any) -> List[int] | None:
    """Return a 4-int bbox or None (skip), matching the reference loop.

    The reference iterates ``for coords in ref.coordinates`` and keeps
    entries with ``len(coords) == 4``; entries without a ``len`` (bare
    ints from a flat list payload) would raise in the reference — we skip
    them, which only diverges on inputs the reference cannot process.
    """
    try:
        if len(coords) != 4:
            return None
    except TypeError:
        return None
    try:
        return [int(c) for c in coords]
    except (TypeError, ValueError):
        return None


def process_page(
    raw_output: str,
    image_width: int,
    image_height: int,
    page_index: int = 0,
) -> Tuple[str, List[Dict[str, Any]]]:
    """One page: parse refs -> elements list -> cleaned markdown.

    Returns ``(markdown, elements)``.  Markdown = image-ref replacement
    then clean_output, in the reference's order (``postprocess.py:371-374``).
    """
    refs, image_refs, other_refs = extract_refs_with_content(raw_output)

    elements: List[Dict[str, Any]] = []
    element_idx = 0
    for ref in refs:
        for coords in ref.coordinates:
            bbox = _coerce_bbox(coords)
            if bbox is None:
                continue
            x1, y1, x2, y2 = convert_coordinates(bbox, image_width, image_height)
            elements.append(
                {
                    "id": element_idx,
                    "type": ref.label_type,
                    "bbox_normalized": bbox,
                    "bbox_pixels": [x1, y1, x2, y2],
                    "text": ref.text_content,
                }
            )
            element_idx += 1

    markdown = raw_output
    markdown = replace_image_refs(markdown, image_refs, "images", page_index)
    markdown = clean_output(markdown, other_refs)
    return markdown, elements
