"""HTML main-content extraction tests (FIXTURES.md §4 cases)."""

from deepseek_ocr_2_spark.functions.htmlmain import extract_main_content

ARTICLE = """
<html><head><title>t</title><script>var x = "ignore me";</script>
<style>.a { color: red }</style></head>
<body>
<nav><a href="/">Home</a> <a href="/b">Blog</a> <a href="/c">About</a></nav>
<div class="sidebar"><a href="1">link one</a><a href="2">link two</a></div>
<article>
<h1>The Article Title</h1>
<p>This is the first paragraph of the article body and it is comfortably
longer than the minimum content threshold used by the classifier.</p>
<p>A second dense paragraph follows with enough characters to be kept by
the density rule without any special casing at all.</p>
</article>
<footer>Copyright 2026 <a href="/terms">Terms</a></footer>
</body></html>
"""


class TestArticleExtraction:
    def test_keeps_body_drops_boilerplate(self):
        text, spans = extract_main_content(ARTICLE)
        assert "first paragraph of the article body" in text
        assert "second dense paragraph" in text
        assert "The Article Title" in text
        assert "Home" not in text  # nav dropped (skip tag)
        assert "link one" not in text  # sidebar dropped (boiler class)
        assert "Copyright" not in text  # footer dropped
        assert "ignore me" not in text  # script dropped
        assert "color: red" not in text  # style dropped

    def test_spans_schema(self):
        _, spans = extract_main_content(ARTICLE)
        assert spans[0]["id"] == 0
        assert set(spans[0]) == {"id", "type", "bbox_normalized", "bbox_pixels", "text"}
        assert spans[0]["bbox_pixels"] == []
        assert [s["id"] for s in spans] == list(range(len(spans)))
        h1 = [s for s in spans if s["type"] == "h1"]
        assert h1 and h1[0]["text"] == "The Article Title"


class TestLinkFarm:
    def test_link_farm_near_empty(self):
        html = "<body><p>" + " ".join(
            f'<a href="/{i}">navigation link number {i}</a>' for i in range(30)
        ) + "</p></body>"
        text, _ = extract_main_content(html)
        assert text == ""


class TestNestedDivs:
    def test_deep_nesting_one_dense_cluster(self):
        inner = (
            "<p>The one dense paragraph cluster hiding deep inside nested "
            "divs must still be extracted intact by the block segmenter.</p>"
        )
        html = "<div>" * 15 + inner + "</div>" * 15
        text, _ = extract_main_content(html)
        assert "dense paragraph cluster" in text


class TestTablesAndCode:
    def test_kept_inside_content(self):
        html = """
        <article>
        <p>Intro paragraph that is long enough to count as main content
        for the purposes of this particular unit test.</p>
        <pre>def f(x):\n    return x * 2  # code block</pre>
        <table><tr><td>cell value alpha</td><td>cell value beta</td></tr></table>
        </article>"""
        text, _ = extract_main_content(html)
        assert "def f(x)" in text
        assert "cell value alpha" in text


class TestComments:
    def test_comment_section_dropped(self):
        html = ARTICLE.replace(
            "</body>",
            '<div class="comments"><p>first! lol short</p>'
            "<p>me too</p></div></body>",
        )
        text, _ = extract_main_content(html)
        assert "first!" not in text


class TestNonEnglish:
    def test_cjk_density(self):
        html = (
            "<body><nav><a href='/'>主页</a></nav><article><p>"
            "这是一段足够长的中文正文内容，分类器使用的是字符计数而不是单词"
            "计数，因此对中日韩文本同样有效，应当被完整保留下来。"
            "</p></article></body>"
        )
        text, _ = extract_main_content(html)
        assert "中文正文内容" in text
        assert "主页" not in text


class TestMalformed:
    def test_unclosed_tags_recovered(self):
        html = (
            "<body><p>An unclosed paragraph that still needs to be long "
            "enough to clear the minimum threshold for keeping content"
            "<div><p>Another dangling block with sufficient length to be "
            "kept by the density classifier as genuine page content"
        )
        text, _ = extract_main_content(html)
        assert "unclosed paragraph" in text
        assert "dangling block" in text

    def test_bytes_input_with_bad_utf8(self):
        payload = "<p>Valid paragraph text that is long enough to keep é</p>".encode(
            "utf-8"
        ) + b"\xff\xfe"
        text, _ = extract_main_content(payload)
        assert "Valid paragraph" in text


class TestEmpty:
    def test_empty_and_whitespace(self):
        assert extract_main_content("") == ("", [])
        assert extract_main_content("   \n\t ") == ("", [])
        assert extract_main_content(b"") == ("", [])


class TestDeterminism:
    def test_repeatable(self):
        a = extract_main_content(ARTICLE)
        b = extract_main_content(ARTICLE)
        assert a == b


def test_data_star_attrs_do_not_mark_boilerplate():
    """data-track-id / data-testid must not be read as id= (substring
    match regression in the regex tokenizer rewrite)."""
    from deepseek_ocr_2_spark.functions.htmlmain import extract_main_content

    body = "real article content that is definitely long enough to keep here"
    html = (
        f'<article data-track-id="promo-hero"><p>{body}</p></article>'
        f'<div data-testid="cookie-banner"><p>{body} again and again ok</p></div>'
    )
    text, _ = extract_main_content(html)
    assert body in text
    # while a REAL id attribute with a boiler marker still drops content
    html2 = f'<div id="cookie-banner"><p>{body}</p></div>'
    text2, _ = extract_main_content(html2)
    assert body not in text2
