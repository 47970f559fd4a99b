"""The engine's ONLY Python↔JVM crossings: eight Arrow-batched pandas UDFs
wrapping the pinned pure functions (BASELINE.json input_hint: vectorized
pandas/Arrow UDFs, no per-row Python — i.e. no F.udf anywhere).

Everything else in the crawl pipeline is native Spark expressions so it
stays inside whole-stage codegen and remains pushdown-friendly (SURVEY §4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spacetime_crawler_spark.functions.robots import parse_robots
from spacetime_crawler_spark.functions.textextract import extract_links, extract_text
from spacetime_crawler_spark.functions.urlnorm import canonicalize_url


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """F2 — canonical URL form (SURVEY §2 F2; reference utils.normalize)."""
    return urls.map(canonicalize_url)


@F.pandas_udf(T.StringType())
def text_extract_udf(html: pd.Series) -> pd.Series:
    """F9 — html bytes → text, byte-identical to pages.text (the pinned
    extract_text; SURVEY §2 F9)."""
    return html.map(extract_text)


@F.pandas_udf(T.ArrayType(T.StringType()))
def link_extract_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """F8 — html bytes + page url → absolute canonicalized hrefs in document
    order (reference scraper.extract_next_links; SURVEY §2 F8)."""
    return pd.Series(
        [extract_links(h, b) for h, b in zip(html, base_url)]
    )


_PAGE_SCHEMA = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("links", T.ArrayType(T.StringType())),
])


@F.pandas_udf(_PAGE_SCHEMA)
def page_extract_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    """F8+F9 fused: ONE parse per page yielding (text, links) — the crawl
    hot path's UDF (extract_page ≡ the two pinned functions; golden-tested).
    """
    from spacetime_crawler_spark.functions.textextract import extract_page

    texts, links = [], []
    for h, b in zip(html, base_url):
        t, l = extract_page(h, b)
        texts.append(t)
        links.append(l)
    return pd.DataFrame({"text": texts, "links": links})


_ROBOTS_SCHEMA = T.StructType([
    T.StructField("crawl_delay", T.DoubleType()),
    T.StructField(
        "rules",
        T.ArrayType(
            T.StructType([
                T.StructField("allow", T.BooleanType()),
                T.StructField("prefix", T.StringType()),
            ])
        ),
    ),
])


@F.pandas_udf(_ROBOTS_SCHEMA)
def robots_parse_udf(body: pd.Series) -> pd.DataFrame:
    """F6 — robots.txt body → (crawl_delay, [(allow, prefix)...]) per the
    pinned parse (functions/robots.py)."""
    delays, rules_col = [], []
    for b in body:
        delay, rules = parse_robots(b)
        delays.append(delay)
        rules_col.append([{"allow": a, "prefix": p} for a, p in rules])
    return pd.DataFrame({"crawl_delay": delays, "rules": rules_col})


_CHARSET_SCHEMA = T.StructType([
    T.StructField("charset", T.StringType()),
    T.StructField("text_decoded", T.StringType()),
])


@F.pandas_udf(_CHARSET_SCHEMA)
def charset_decode_udf(html: pd.Series) -> pd.DataFrame:
    """Charset sniff + charset-aware decode in ONE crossing (the pinned
    WHATWG-flavored spec in functions/charset.py) — distinct from F9's
    frozen UTF-8-replace byte-identity decode."""
    from spacetime_crawler_spark.functions.charset import decode_html

    charsets, texts = [], []
    for h in html:
        text, cs = decode_html(None if h is None else bytes(h))
        charsets.append(cs)
        texts.append(text)
    return pd.DataFrame({"charset": charsets, "text_decoded": texts})


@F.pandas_udf(T.StringType())
def main_content_udf(html: pd.Series) -> pd.Series:
    """Boilerplate-stripped main content (the pinned extract_main_content
    link-density rule) — the corpus-quality text surface, distinct from
    the F9 byte-identity surface."""
    from spacetime_crawler_spark.functions.textextract import (
        extract_main_content,
    )

    return html.map(extract_main_content)
