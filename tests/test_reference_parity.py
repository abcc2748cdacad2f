"""Differential parity: our kernel vs the reference's own postprocess code.

Loads ``/root/reference/deepseek_ocr2_api/processors/postprocess.py``
(read-only, public) with a stub PIL module (PIL is not installed here and
only the drawing path needs it), then checks that our re-implementation
produces byte-identical text and identical elements on both golden and
fuzzed inputs.  This is the executable proof of the "byte-identical
extracted text per url" contract — skipped gracefully if the reference
tree is absent.
"""

import importlib.util
import sys
import types

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from deepseek_ocr_2_spark.functions.assemble import process_page
from deepseek_ocr_2_spark.functions.refparse import (
    EOS_TOKEN,
    convert_coordinates,
    extract_refs_with_content,
)

REF_PATH = "/root/reference/deepseek_ocr2_api/processors/postprocess.py"


@pytest.fixture(scope="module")
def ref():
    """Import the reference module with PIL stubbed out."""
    for name in ("PIL", "PIL.Image", "PIL.ImageDraw", "PIL.ImageFont"):
        if name not in sys.modules:
            sys.modules[name] = types.ModuleType(name)
    pil = sys.modules["PIL"]
    for sub in ("Image", "ImageDraw", "ImageFont"):
        submod = sys.modules[f"PIL.{sub}"]
        # annotations like ``Image.Image`` are evaluated at def time
        setattr(submod, sub, object)
        setattr(pil, sub, submod)
    try:
        spec = importlib.util.spec_from_file_location("ref_postprocess", REF_PATH)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    except FileNotFoundError:
        pytest.skip("reference tree not available")
    return mod


def _ref(label, det, body=""):
    return f"<|ref|>{label}<|/ref|><|det|>{det}<|/det|>{body}"


GOLDEN_TEXTS = [
    "plain text, no refs" + EOS_TOKEN,
    _ref("title", "[[12,34,567,890]]", "Heading text") + EOS_TOKEN,
    _ref("image", "[[0,0,999,999]]") + "caption" + EOS_TOKEN,
    _ref("text", "[[1,2,3,4],[5,6,7,8]]", "multi bbox body") + EOS_TOKEN,
    _ref("text", "[[1,2,3", "malformed coords body") + EOS_TOKEN,
    _ref("image", "[[1,2,3,4]]") + " mid " + _ref("image", "[[1,2,3,4]]") + EOS_TOKEN,
    "a\n\n\n\n\nb\n\n\nc \\coloneqq d \\eqqcolon e" + EOS_TOKEN,
    "中文內容 🚀 " + _ref("title", "[[10,20,30,40]]", "標題") + EOS_TOKEN,
    "no eos marker at all",
    _ref("text", "(1,2,3,4)", "tuple payload") + EOS_TOKEN,
    _ref("sub_title", "[[100, 200, 300, 400]]", f"body {EOS_TOKEN} trail"),
    # coordinate fast-path edge cases (must match the reference's
    # eval-based parser exactly — see refparse.parse_coords):
    _ref("text", "[[01,2,3,4]]", "leading zero -> eval SyntaxError -> []")
    + EOS_TOKEN,
    _ref("text", " [ [1,2,3,4] , [5,6,7,8] ] ", "spacey int boxes")
    + EOS_TOKEN,
    _ref("text", "[]", "empty list payload") + EOS_TOKEN,
    _ref("text", "[[]]", "nested empty payload") + EOS_TOKEN,
    _ref("text", "[[1.5,2,3,4]]", "float coords fall back") + EOS_TOKEN,
    _ref("text", "[[0,0,0,0]]", "zero box") + EOS_TOKEN,
]


class TestExtractParity:
    @pytest.mark.parametrize("text", GOLDEN_TEXTS)
    def test_refs_match(self, ref, text):
        ours_refs, ours_img, ours_other = extract_refs_with_content(text)
        ref_refs, ref_img, ref_other = ref.extract_refs_with_content(text)
        assert ours_img == ref_img
        assert ours_other == ref_other
        assert len(ours_refs) == len(ref_refs)
        for a, b in zip(ours_refs, ref_refs):
            assert a.full_match == b.full_match
            assert a.label_type == b.label_type
            assert a.coordinates == b.coordinates or (
                # tuples from literal payloads compare equal element-wise
                list(map(list, a.coordinates)) == list(map(list, b.coordinates))
            )
            assert a.text_content == b.text_content


class TestMarkdownParity:
    @pytest.mark.parametrize("text", GOLDEN_TEXTS)
    def test_markdown_bytes_identical(self, ref, text):
        _, image_refs, other_refs = ref.extract_refs_with_content(text)
        expected = ref.clean_output(
            ref.replace_image_refs(text, image_refs, "images", 0), other_refs
        )
        got, _ = process_page(text, 1000, 1414, page_index=0)
        assert got.encode("utf-8") == expected.encode("utf-8")

    def test_elements_identical(self, ref):
        text = (
            _ref("title", "[[12,34,567,890]]", "Heading")
            + _ref("text", "[[0,0,100,100],[200,200,300,300]]", "Body")
            + EOS_TOKEN
        )
        w, h = 997, 1409
        refs, _, _ = ref.extract_refs_with_content(text)
        expected = []
        idx = 0
        for r in refs:
            for coords in r.coordinates:
                if len(coords) != 4:
                    continue
                x1, y1, x2, y2 = ref.convert_coordinates(coords, w, h)
                expected.append(
                    {
                        "id": idx,
                        "type": r.label_type,
                        "bbox_normalized": coords,
                        "bbox_pixels": [x1, y1, x2, y2],
                        "text": r.text_content,
                    }
                )
                idx += 1
        _, got = process_page(text, w, h)
        assert got == expected


class TestCoordinateParity:
    @given(
        st.lists(st.integers(0, 999), min_size=4, max_size=4),
        st.integers(1, 5000),
        st.integers(1, 5000),
    )
    @settings(max_examples=300, deadline=None)
    def test_conversion(self, coords, w, h):
        pytest.importorskip("importlib")
        # direct formula parity (int truncation)
        assert convert_coordinates(coords, w, h) == tuple(
            int(c / 999 * d) for c, d in zip(coords, [w, h, w, h])
        )


_fuzz_piece = st.one_of(
    st.text(alphabet="ab\n <>|[]()0123456789,.\\靑🚀", max_size=30),
    st.just(EOS_TOKEN),
    st.just("<|ref|>"),
    st.just("<|/ref|>"),
    st.just("<|det|>"),
    st.just("<|/det|>"),
    st.just("[[1,2,3,4]]"),
    st.just("[[1,2],[3,4,5,6]]"),
    st.just("\\coloneqq"),
    st.just("\n\n\n"),
    st.just("\n\n\n\n\n\n"),
    st.just(_ref("image", "[[5,5,900,900]]", "img body")),
    st.just(_ref("table", "[[0,0,10,10]]", "tbl")),
)


class TestFuzzedParity:
    @given(st.lists(_fuzz_piece, max_size=12).map("".join))
    @settings(max_examples=400, deadline=None)
    def test_markdown_parity_fuzz(self, ref, text):
        ref_refs, image_refs, other_refs = ref.extract_refs_with_content(text)
        expected = ref.clean_output(
            ref.replace_image_refs(text, image_refs, "images", 2), other_refs
        )
        got, _ = process_page(text, 640, 480, page_index=2)
        assert got == expected
