"""Golden tests for the ref/det parsing + cleaning kernel (FIXTURES.md §3)."""

from deepseek_ocr_2_spark.functions.assemble import PAGE_SEPARATOR, process_page
from deepseek_ocr_2_spark.functions.refparse import (
    EOS_TOKEN,
    clean_output,
    convert_coordinates,
    extract_refs_with_content,
    has_eos,
    parse_coords,
    replace_image_refs,
)


def ref(label, det, body=""):
    return f"<|ref|>{label}<|/ref|><|det|>{det}<|/det|>{body}"


class TestExtractRefs:
    def test_plain_text_no_refs(self):
        refs, image_refs, other_refs = extract_refs_with_content("hello world")
        assert refs == [] and image_refs == [] and other_refs == []

    def test_single_ref_with_content(self):
        text = ref("title", "[[12, 34, 567, 890]]", "Heading text\nmore")
        refs, image_refs, other_refs = extract_refs_with_content(text)
        assert len(refs) == 1
        assert refs[0].label_type == "title"
        assert refs[0].coordinates == [[12, 34, 567, 890]]
        assert refs[0].text_content == "Heading text\nmore"
        assert other_refs == [refs[0].full_match]
        assert image_refs == []

    def test_image_ref_categorized(self):
        text = ref("image", "[[0, 0, 999, 999]]")
        refs, image_refs, other_refs = extract_refs_with_content(text)
        assert image_refs == [refs[0].full_match]
        assert other_refs == []

    def test_content_slice_stops_at_next_ref(self):
        text = ref("title", "[[1,2,3,4]]", "first body ") + ref(
            "text", "[[5,6,7,8]]", " second body"
        )
        refs, _, _ = extract_refs_with_content(text)
        assert refs[0].text_content == "first body"
        assert refs[1].text_content == "second body"

    def test_content_eos_stripped(self):
        text = ref("text", "[[1,2,3,4]]", f"body {EOS_TOKEN} ")
        refs, _, _ = extract_refs_with_content(text)
        assert refs[0].text_content == "body"

    def test_malformed_coords_yield_empty(self):
        refs, _, _ = extract_refs_with_content(ref("text", "[[1,2,3"))
        assert refs[0].coordinates == []

    def test_multiline_det_payload(self):
        refs, _, _ = extract_refs_with_content(ref("text", "[[1,2,\n3,4]]"))
        assert refs[0].coordinates == [[1, 2, 3, 4]]


class TestParseCoords:
    def test_nested_list(self):
        assert parse_coords("[[1,2,3,4],[5,6,7,8]]") == [[1, 2, 3, 4], [5, 6, 7, 8]]

    def test_bare_tuple_wrapped(self):
        assert parse_coords("(1,2,3,4)") == [(1, 2, 3, 4)]

    def test_garbage_empty(self):
        assert parse_coords("__import__('os')") == []
        assert parse_coords("") == []


class TestConvertCoordinates:
    def test_truncation_not_rounding(self):
        # 500/999*997 = 498.998... -> int() truncates to 498
        assert convert_coordinates([500, 500, 999, 999], 997, 997) == (
            498, 498, 997, 997,
        )

    def test_zero(self):
        assert convert_coordinates([0, 0, 0, 0], 640, 480) == (0, 0, 0, 0)


class TestReplaceImageRefs:
    def test_api_form_and_newline(self):
        r = ref("image", "[[1,2,3,4]]")
        out = replace_image_refs(f"before {r} after", [r], page_index=3)
        assert out == "before ![images/3_0.jpg]\n after"

    def test_duplicate_refs_collapse_to_first_index(self):
        r = ref("image", "[[1,2,3,4]]")
        text = f"{r} mid {r}"
        # both occurrences are replaced by idx 0's name on the first pass;
        # the second pass finds nothing to replace.
        out = replace_image_refs(text, [r, r], page_index=0)
        assert out == "![images/0_0.jpg]\n mid ![images/0_0.jpg]\n"


class TestCleanOutput:
    def test_eos_stripped(self):
        assert clean_output(f"x{EOS_TOKEN}y", []) == "xy"

    def test_other_refs_removed_globally(self):
        r = ref("title", "[[1,2,3,4]]")
        assert clean_output(f"a {r} b {r} c", [r]) == "a  b  c"

    def test_latex_fixes(self):
        assert clean_output("a \\coloneqq b \\eqqcolon c", []) == "a := b =: c"

    def test_newline_collapse_order(self):
        # 4+ newlines -> \n\n, then exactly-3 -> \n\n
        assert clean_output("a\n\n\n\n\nb", []) == "a\n\nb"
        assert clean_output("a\n\n\nb", []) == "a\n\nb"
        assert clean_output("a\n\nb", []) == "a\n\nb"


class TestProcessPage:
    def test_element_fields_and_ids(self):
        text = (
            ref("title", "[[12,34,567,890]]", "Heading")
            + ref("text", "[[0,0,100,100],[200,200,300,300]]", "Body")
            + EOS_TOKEN
        )
        md, elements = process_page(text, 1000, 2000)
        assert [e["id"] for e in elements] == [0, 1, 2]
        assert elements[0]["type"] == "title"
        assert elements[0]["bbox_normalized"] == [12, 34, 567, 890]
        assert elements[0]["bbox_pixels"] == [
            int(12 / 999 * 1000),
            int(34 / 999 * 2000),
            int(567 / 999 * 1000),
            int(890 / 999 * 2000),
        ]
        assert elements[1]["text"] == "Body" and elements[2]["text"] == "Body"
        assert "Heading" in md and EOS_TOKEN not in md
        assert "<|ref|>" not in md

    def test_malformed_coords_no_element_ref_still_removed(self):
        text = ref("text", "[[oops", "body") + EOS_TOKEN
        md, elements = process_page(text, 100, 100)
        assert elements == []
        assert "<|ref|>" not in md and "body" in md

    def test_image_ref_markdown(self):
        text = ref("image", "[[0,0,999,999]]") + "caption" + EOS_TOKEN
        md, elements = process_page(text, 500, 500, page_index=2)
        assert "![images/2_0.jpg]" in md
        assert elements[0]["type"] == "image"

    def test_flat_coord_list_skipped_not_crash(self):
        md, elements = process_page(ref("text", "[1,2,3,4]", "b") + EOS_TOKEN, 10, 10)
        assert elements == []


class TestPageJoin:
    def test_pdf_separator(self):
        assert PAGE_SEPARATOR == "\n<--- Page Split --->\n"


class TestHasEos:
    def test_detects(self):
        assert has_eos(f"x{EOS_TOKEN}")
        assert not has_eos("x")


class TestNonAscii:
    def test_cjk_emoji_byte_parity(self):
        body = "中文內容 🚀  welcome"
        text = ref("text", "[[1,2,3,4]]", body) + EOS_TOKEN
        md, elements = process_page(text, 999, 999)
        assert elements[0]["text"] == body
        assert body in md


class TestParseCoordsFastPath:
    """The int-box fast path must be indistinguishable from literal_eval."""

    def test_common_shapes(self):
        from deepseek_ocr_2_spark.functions.refparse import parse_coords

        assert parse_coords("[[1, 2, 3, 4], [5,6,7,8]]") == [[1, 2, 3, 4], [5, 6, 7, 8]]
        assert parse_coords(" [ [1,2,3,4] ] ") == [[1, 2, 3, 4]]
        assert parse_coords("[[0,2,3,4]]") == [[0, 2, 3, 4]]

    def test_empty_and_nested_empty(self):
        from deepseek_ocr_2_spark.functions.refparse import parse_coords

        assert parse_coords("[]") == []
        assert parse_coords("[[]]") == [[]]

    def test_leading_zero_rejected_like_eval(self):
        # Python literals reject leading zeros -> the reference's eval
        # raises -> coords = []; the fast path must not "helpfully" parse.
        from deepseek_ocr_2_spark.functions.refparse import parse_coords

        assert parse_coords("[[01,2,3,4]]") == []

    def test_fallback_shapes_still_work(self):
        from deepseek_ocr_2_spark.functions.refparse import parse_coords

        assert parse_coords("(1,2,3,4)") == [(1, 2, 3, 4)]
        assert parse_coords("[[1.5,2,3,4]]") == [[1.5, 2, 3, 4]]
        assert parse_coords("__import__('os')") == []
