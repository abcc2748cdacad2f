"""Deterministic parsing of DeepSeek-OCR-2-style model output.

Re-implements, byte-for-byte, the reference server's postprocessing
semantics (studied at ``deepseek_ocr2_api/processors/postprocess.py``,
/root/reference — read-only; no code copied):

* ref/det tag extraction with trailing text content
  (``postprocess.py:29-96``),
* 0-999 -> pixel coordinate conversion with Python ``int()`` truncation
  (``postprocess.py:118-141``),
* image-ref replacement using *global* ``str.replace`` so duplicate refs
  collapse onto the first index's filename (``postprocess.py:243-264``,
  API form ``![path]`` — the batch scripts differ and emit ``![](path)``;
  we follow the API),
* output cleaning: EOS strip -> non-image ref removal -> LaTeX colon-eq
  fixes -> two-step newline collapse, in exactly this order
  (``postprocess.py:267-293``).

Deliberate divergence: the reference parses the coordinate payload with
bare ``eval`` (``postprocess.py:64``).  We use ``ast.literal_eval``,
which accepts the same literal grammar the model can emit (lists, nested
lists, tuples, ints) but cannot execute code.  On inputs where both
succeed the results are identical; inputs where only ``eval`` would
succeed are arbitrary-code payloads we refuse by design (they fall into
the reference's own ``except -> coords = []`` path).
"""

from __future__ import annotations

import ast
import re
from dataclasses import dataclass
from typing import Any, List, Sequence, Tuple

# Exact EOS marker emitted by the model: U+FF5C fullwidth bars and
# U+2581 lower-one-eighth blocks (verified against the reference bytes).
EOS_TOKEN = "<｜end▁of▁sentence｜>"

# <|ref|>label<|/ref|><|det|>coords<|/det|>, non-greedy, DOTALL.
REF_TAG_PATTERN = re.compile(
    r"<\|ref\|>(.*?)<\|/ref\|><\|det\|>(.*?)<\|/det\|>", re.DOTALL
)

_NEWLINE_4PLUS = re.compile(r"\n{4,}")
_NEWLINE_3 = re.compile(r"\n{3}")


@dataclass
class RefMatch:
    """One matched ``<|ref|>...<|det|>...`` tag with its trailing text."""

    full_match: str
    label_type: str
    coordinates: List[Any]
    text_content: str = ""


# Fast path for the overwhelmingly common payload shape the model
# emits: [[x1, y1, x2, y2], [..], ...] with plain non-negative ints.
# Leading zeros are excluded (Python literals reject them, so the
# reference's eval would too — those payloads must take the fallback).
_INT = r"(?:0|[1-9]\d*)"
_BOX = rf"\[\s*{_INT}\s*(?:,\s*{_INT}\s*)*\]"
_INT_BOX_LIST = re.compile(rf"\s*\[\s*({_BOX}\s*(?:,\s*{_BOX}\s*)*)\]\s*$")
_INT_BOX = re.compile(r"\[([^\[\]]*)\]")


def parse_coords(coords_str: str) -> List[Any]:
    """Parse the det payload; failure yields ``[]`` (reference behavior).

    A non-list literal (e.g. a bare tuple) is wrapped in a single-element
    list, mirroring ``if not isinstance(coords, list): coords = [coords]``.
    The int-box fast path avoids ``ast.literal_eval``'s compile() on the
    shape the model actually emits; any other payload falls back to the
    safe literal parser (identical results where both apply).
    """
    m0 = _INT_BOX_LIST.fullmatch(coords_str)
    if m0:
        return [
            [int(v) for v in m.group(1).split(",")]
            for m in _INT_BOX.finditer(m0.group(1))
        ]
    try:
        coords = ast.literal_eval(coords_str)
    except (ValueError, SyntaxError, MemoryError, RecursionError):
        return []
    if not isinstance(coords, list):
        coords = [coords]
    return coords


def extract_refs_with_content(
    text: str,
) -> Tuple[List[RefMatch], List[str], List[str]]:
    """Extract ref tags plus the text between each tag and the next.

    Returns ``(ref_matches, image_refs, other_refs)`` where the ref lists
    hold the *full match strings* (used later for replacement/removal).
    Text content is the slice from match end to the next match start (or
    end of text), stripped, EOS-stripped, stripped again.
    """
    matches = list(REF_TAG_PATTERN.finditer(text))
    ref_matches: List[RefMatch] = []
    image_refs: List[str] = []
    other_refs: List[str] = []

    for i, match in enumerate(matches):
        full_match = match.group(0)
        label_type = match.group(1)
        coords = parse_coords(match.group(2))

        content_start = match.end()
        content_end = matches[i + 1].start() if i + 1 < len(matches) else len(text)
        text_content = text[content_start:content_end].strip()
        text_content = text_content.replace(EOS_TOKEN, "").strip()

        ref_matches.append(
            RefMatch(
                full_match=full_match,
                label_type=label_type,
                coordinates=coords,
                text_content=text_content,
            )
        )
        if label_type == "image":
            image_refs.append(full_match)
        else:
            other_refs.append(full_match)

    return ref_matches, image_refs, other_refs


def convert_coordinates(
    coords: Sequence[float],
    image_width: int,
    image_height: int,
    coord_range: int = 999,
) -> Tuple[int, int, int, int]:
    """0-999 virtual space -> pixels; ``int()`` truncation, not rounding."""
    x1, y1, x2, y2 = coords
    return (
        int(x1 / coord_range * image_width),
        int(y1 / coord_range * image_height),
        int(x2 / coord_range * image_width),
        int(y2 / coord_range * image_height),
    )


def replace_image_refs(
    text: str,
    image_refs: Sequence[str],
    image_dir: str = "images",
    page_index: int = 0,
) -> str:
    """Replace image refs with ``![images/{page}_{idx}.jpg]`` + newline.

    Global ``str.replace`` per ref, in order: every occurrence of a
    duplicated ref string collapses onto the first index's filename, and
    the later duplicate's own replace is a no-op.  This quirk is part of
    the byte contract.
    """
    for idx, ref in enumerate(image_refs):
        img_path = f"![{image_dir}/{page_index}_{idx}.jpg]"
        text = text.replace(ref, img_path + "\n")
    return text


def clean_output(text: str, other_refs: Sequence[str]) -> str:
    """EOS strip -> remove non-image refs -> LaTeX fixes -> newline collapse.

    The two ``re.sub`` passes run in this exact order: first ``\\n{4,}``
    then ``\\n{3}`` (so a run of exactly 3 newlines left by the first pass
    still collapses, but a run of 5 collapses once to 2 and stops).
    """
    text = text.replace(EOS_TOKEN, "")
    for ref in other_refs:
        text = text.replace(ref, "")
    text = text.replace("\\coloneqq", ":=")
    text = text.replace("\\eqqcolon", "=:")
    text = _NEWLINE_4PLUS.sub("\n\n", text)
    text = _NEWLINE_3.sub("\n\n", text)
    return text


def has_eos(text: str) -> bool:
    """Incomplete-page predicate (skip_repeat): EOS marker present?

    Mirrors the reference's page filter (``routers/ocr.py:332-335``): a
    page whose raw output lacks the EOS marker hit the token budget and
    is dropped, counted as an extraction failure.
    """
    return EOS_TOKEN in text
