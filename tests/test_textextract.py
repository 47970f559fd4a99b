"""Golden vectors for the pinned F8/F9 extraction spec (SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

from spacetime_crawler_spark.functions.textextract import extract_links, extract_text

TEXT_CASES = [
    (b"<html><body><p>hello</p></body></html>", "hello"),
    (b"<html><body><p>a</p><p>b</p></body></html>", "a\nb"),
    # script/style stripped
    (
        b"<html><head><script>var x=1;</script><style>p{}</style>"
        b"<title>T</title></head><body>B</body></html>",
        "T\nB",
    ),
    # nested tags flatten in document order
    (b"<div>x <b>y</b> z</div>", "x\ny\nz"),
    # entities decoded
    (b"<p>a &amp; b &lt;c&gt;</p>", "a & b <c>"),
    # empty body
    (b"<html><body></body></html>", ""),
    (b"", ""),
    (None, ""),
    # whitespace-only nodes dropped
    (b"<p>  </p><p>x</p>", "x"),
    # non-utf8 bytes replaced, not fatal
    ("caf\xe9".encode("latin-1"), "caf�"),
    # unclosed script never unskips mid-document
    (b"<script>x</script>after", "after"),
]


@pytest.mark.parametrize("html,expected", TEXT_CASES)
def test_extract_text_golden(html, expected):
    assert extract_text(html) == expected


def test_extract_text_deterministic_bytes():
    html = "<p>über</p>".encode()
    assert extract_text(html).encode() == "über".encode()


def test_extract_links_document_order_and_resolution():
    html = b"""
    <html><body>
      <a href="b.html">one</a>
      <a href="/abs">two</a>
      <a href="http://other.com/x#frag">three</a>
      <a href="c.html">dup</a>
      <a href="c.html">dup-again</a>
      <a name="anchor-without-href">skip</a>
      <a href="x.pdf">blacklisted-but-extracted</a>
    </body></html>
    """
    links = extract_links(html, "http://a.com/dir/page.html")
    assert links == [
        "http://a.com/dir/b.html",
        "http://a.com/abs",
        "http://other.com/x",
        "http://a.com/dir/c.html",
        "http://a.com/dir/c.html",
        "http://a.com/dir/x.pdf",
    ]


def test_extract_links_empty():
    assert extract_links(b"<p>no links</p>", "http://a.com") == []
    assert extract_links(None, "http://a.com") == []


def test_extract_page_equals_separate_extractors():
    """The fused single-pass extractor MUST be behaviorally identical to the
    two pinned functions — on every golden case and a structured corpus."""
    from spacetime_crawler_spark.functions.textextract import extract_page

    samples = [html for html, _ in TEXT_CASES] + [
        b'<a href="x">t</a><script><a href="no">skip?</a></script>text',
        b'<div><a href="/a">A</a><style>a{}</style><a href="b#f">B</a></div>',
        b"<a>no href</a><a href=''>empty</a>",
    ]
    for html in samples:
        text, links = extract_page(html, "http://base.com/dir/p")
        assert text == extract_text(html)
        assert links == extract_links(html, "http://base.com/dir/p")


def test_extract_page_on_synth_world():
    from spacetime_crawler_spark.functions.textextract import extract_page
    from spacetime_crawler_spark.sources import synth

    p = synth.world("tiny", n_pages=120)
    for i in range(0, 120, 7):
        for row in synth.page_rows(i, p):
            text, links = extract_page(row["html"], row["url"])
            assert text == extract_text(row["html"]) == row["text"]
            assert links == extract_links(row["html"], row["url"])


# --- main-content extraction (boilerplate removal) ------------------------------


def test_extract_main_content_goldens():
    from spacetime_crawler_spark.functions.textextract import extract_main_content

    article = (
        "<html><body>"
        "<nav><a href='/'>Home</a> <a href='/about'>About</a>"
        " <a href='/contact'>Contact</a></nav>"
        "<div class='content'>"
        "<p>This is the first real paragraph of the article, long enough"
        " to clear the block floor.</p>"
        "<p>Second paragraph with a single <a href='/ref'>reference"
        " link</a> inside a lot of prose text around it.</p>"
        "</div>"
        "<footer><a href='/tos'>Terms of service</a> |"
        " <a href='/privacy'>Privacy policy</a> |"
        " <a href='/imprint'>Imprint</a></footer>"
        "</body></html>"
    )
    got = extract_main_content(article)
    # nav and footer are short/link-dense → dropped; both paragraphs kept,
    # joined with '\n', inline markup flattened into the block
    assert got == (
        "This is the first real paragraph of the article, long enough"
        " to clear the block floor.\n"
        "Second paragraph with a single reference link inside a lot of"
        " prose text around it."
    )


def test_extract_main_content_block_floor_and_link_density():
    from spacetime_crawler_spark.functions.textextract import (
        MAIN_MIN_BLOCK_CHARS,
        extract_main_content,
    )

    # below the char floor → dropped even with zero links
    assert extract_main_content(b"<p>short</p>") == ""
    exactly = "x" * MAIN_MIN_BLOCK_CHARS
    assert extract_main_content(f"<p>{exactly}</p>".encode()) == exactly
    # ~50% anchor chars → dropped; one small link in prose → kept
    half_anchor = (
        "<p>" + "plain words here " * 5
        + "<a href='/x'>" + "anchor words here " * 5 + "</a></p>"
    )
    assert extract_main_content(half_anchor) == ""
    # tag cloud: long overall but 100% anchor text → dropped
    cloud = "<div>" + " ".join(
        f"<a href='/t{i}'>tagword{i}</a>" for i in range(20)
    ) + "</div>"
    assert extract_main_content(cloud) == ""


def test_extract_main_content_edge_inputs():
    from spacetime_crawler_spark.functions.textextract import extract_main_content

    assert extract_main_content(None) == ""
    assert extract_main_content(b"") == ""
    assert extract_main_content("caf\xe9 but far too short".encode("latin-1")) == ""
    # script/style text never counts, even when long
    assert extract_main_content(
        b"<script>var a_very_long_constant_name_in_script_text = 1;</script>"
        b"<p>This paragraph survives because scripts never count as text.</p>"
    ) == "This paragraph survives because scripts never count as text."
    # inline tags do NOT split a block; block tags do
    html = (
        b"<p>first block with <b>bold</b> and <i>italic</i> inline pieces"
        b" all fused together.</p>"
        b"<p>second block long enough to survive on its own terms too.</p>"
    )
    assert extract_main_content(html) == (
        "first block with bold and italic inline pieces all fused together.\n"
        "second block long enough to survive on its own terms too."
    )


def test_extract_main_content_unclosed_and_nested_anchors():
    """Crawled-HTML resilience: an unclosed </a> or nested <a> poisons at
    most its own block — never the rest of the page (review finding:
    anchor depth used to stick and drop every later block)."""
    from spacetime_crawler_spark.functions.textextract import extract_main_content

    PARA = "a long genuine article paragraph of prose that easily clears the floor."
    # missing </a> inside nav: paragraph after the block boundary survives
    assert extract_main_content(
        f"<nav><a href='/'>menu</nav><p>{PARA}</p>"
    ) == PARA
    # nested <a> (HTML forbids it; browsers implicitly close): same outcome
    assert extract_main_content(
        f"<div><a href='/x'>one<a href='/y'>two</a></div><p>{PARA}</p>"
    ) == PARA
    # unclosed <a> inside the SAME block as prose: that block is judged
    # with the anchor chars it accumulated (here 100% → dropped)
    assert extract_main_content("<p><a href='/x'>all anchor text here always</p>") == ""


def test_extract_main_content_skips_title():
    """<title> is metadata, not main content — without the skip every real
    page's title would be prepended to its body text."""
    from spacetime_crawler_spark.functions.textextract import extract_main_content

    html = (
        "<html><head><title>Understanding Spark Shuffle Internals - A"
        " Complete Guide</title></head><body>"
        "<p>The actual article body paragraph, long enough to be kept.</p>"
        "</body></html>"
    )
    assert extract_main_content(html) == (
        "The actual article body paragraph, long enough to be kept."
    )
