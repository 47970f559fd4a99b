"""Pinned HTML → text and HTML → links extraction (SURVEY.md §2 rows F8/F9).

THE text-extraction function below is the byte-identity contract
(BASELINE.json input_hint: "byte-identical extracted text per url"): the
synthetic `pages` generator writes `pages.text` with it, the engine's F9
Arrow UDF wraps it, and the differential oracle calls it directly.  Any
change here is a schema-breaking change to the whole pipeline.

Only stdlib ``html.parser`` is used (no lxml/bs4 in the environment —
SURVEY.md §0 env facts).
"""

from __future__ import annotations

from html.parser import HTMLParser

from spacetime_crawler_spark.functions.urlnorm import resolve_and_canonicalize

_SKIP_CONTENT_TAGS = frozenset({"script", "style"})
# Void elements never push onto the skip stack (they cannot contain text).
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)


def _decode(html: bytes | str | None) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


class _PageCollector(HTMLParser):
    """Text chunks AND <a href> values in one parse, in document order:
    stripped, non-empty text nodes outside <script>/<style>, and each <a>
    tag's first non-None href (reference scraper.py::extract_next_links
    shape)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self.chunks: list[str] = []
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_CONTENT_TAGS and tag not in _VOID_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self.hrefs.append(value)
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        stripped = data.strip()
        if stripped:
            self.chunks.append(stripped)


def _parse(html: bytes | str | None) -> _PageCollector:
    parser = _PageCollector()
    try:
        parser.feed(_decode(html))
        parser.close()
    except Exception:
        pass  # html.parser is lenient; belt-and-braces for hostile bytes
    return parser


def extract_text(html: bytes | str | None) -> str:
    """PINNED SPEC (SURVEY.md §2 F9): decode UTF-8 (errors → U+FFFD), parse
    with stdlib html.parser, drop <script>/<style> subtree text, then
    ``'\\n'.join`` of the stripped non-empty text nodes in document order."""
    return "\n".join(_parse(html).chunks)


def extract_links(html: bytes | str | None, base_url: str) -> list[str]:
    """PINNED SPEC (SURVEY.md §2 F8): every <a href> in document order,
    resolved against the page URL (urljoin), defragmented + canonicalized.
    Duplicates are preserved (dedup is F3's job); scheme filtering is F1's."""
    return [resolve_and_canonicalize(base_url, href) for href in _parse(html).hrefs]


def extract_page(html: bytes | str | None, base_url: str) -> tuple[str, list[str]]:
    """(extract_text(html), extract_links(html, base_url)) in ONE parse —
    the crawl's fetch path, where parsing is the dominant Python cost."""
    parser = _parse(html)
    return (
        "\n".join(parser.chunks),
        [resolve_and_canonicalize(base_url, href) for href in parser.hrefs],
    )


# Block-level elements: opening OR closing one of these ends the current
# text block.  (br/hr are void but still break blocks.)
_BLOCK_TAGS = frozenset(
    {"p", "div", "section", "article", "main", "aside", "header", "footer",
     "nav", "li", "ul", "ol", "td", "th", "tr", "table", "h1", "h2", "h3",
     "h4", "h5", "h6", "blockquote", "pre", "br", "hr", "title", "body"}
)

MAIN_MIN_BLOCK_CHARS = 25
MAIN_MAX_LINK_DENSITY = 0.33


# Tags whose CONTENT never counts as page text for the boilerplate rule:
# script/style as everywhere else, plus <title> — title text is metadata,
# and on essentially every real page it is ≥25 chars and link-free, so
# without this it would be prepended to every page's "main content".
_MAIN_SKIP_TAGS = frozenset({"script", "style", "title"})


class _BlockCollector(HTMLParser):
    """Text blocks with per-block anchor-char counts — the input to the
    link-density boilerplate rule.  A block is the text between block-tag
    boundaries; chars inside <a> count toward its anchor total;
    <script>/<style>/<title> text is skipped.

    Anchor state is a BOOLEAN with implicit close (browser behavior: a
    new <a> closes an open one, HTML forbids nesting) and a block boundary
    also closes any open anchor — so crawled HTML with an unclosed </a>
    (extremely common in nav markup) poisons at most its own block, never
    the rest of the page."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._in_anchor = False
        self._chunks: list[str] = []
        self._anchor_chars = 0
        self.blocks: list[tuple[str, int]] = []

    def _flush(self) -> None:
        text = " ".join(" ".join(self._chunks).split())
        if text:
            self.blocks.append((text, self._anchor_chars))
        self._chunks = []
        self._anchor_chars = 0
        self._in_anchor = False  # an anchor never survives a block boundary

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _MAIN_SKIP_TAGS and tag not in _VOID_TAGS:
            self._skip_depth += 1
        elif tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._in_anchor = True

    def handle_endtag(self, tag: str) -> None:
        if tag in _MAIN_SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._in_anchor = False

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        stripped = data.strip()
        if stripped:
            self._chunks.append(stripped)
            if self._in_anchor:
                self._anchor_chars += len(stripped)


def extract_main_content(
    html: bytes | str | None,
    min_block_chars: int = MAIN_MIN_BLOCK_CHARS,
    max_link_density: float = MAIN_MAX_LINK_DENSITY,
) -> str:
    """Boilerplate-stripped main content — the jusText/boilerpipe-family
    link-density heuristic on a pinned, deterministic spec:

      split the page into text blocks at block-tag boundaries; keep a
      block iff it has ≥ min_block_chars collapsed chars AND its
      anchor-char fraction is ≤ max_link_density; join kept blocks with
      '\\n'.

    Navigation menus, footers, and tag clouds are link-dense short blocks
    and die to both rules; article paragraphs are long and link-sparse.
    This is intentionally NOT extract_text (F9): F9 is the pinned
    byte-identity surface the crawl contract is checked on; this is the
    corpus-quality surface an LLM pipeline feeds to the tokenizer."""
    parser = _BlockCollector()
    try:
        parser.feed(_decode(html))
        parser.close()
    except Exception:
        pass
    parser._flush()
    kept = [
        text
        for text, anchor_chars in parser.blocks
        if len(text) >= min_block_chars
        and anchor_chars <= max_link_density * len(text)
    ]
    return "\n".join(kept)
