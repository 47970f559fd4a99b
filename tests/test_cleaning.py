"""C4 line cleaning, boilerplate removal, PII redaction and the web-ingest
composite vs DuckDB oracles and pure-python references.  The C4 fixture is
crafted multi-line text (the testdata documents are single-line, so the
fixture plants everything the rules must hit: terminal-punctuation misses,
short lines, javascript lines, code docs, lorem-ipsum docs, cross-doc and
within-doc duplicate lines, short pass-through separators)."""

from __future__ import annotations

import duckdb
import pytest

from spacetime_crawler_spark.operators import cleaning
from tests.oracle_harness import compare

GOOD = "this line is long enough and ends with a period."
DUP = "an often-quoted duplicated sentence shows up in many documents."

DOCS = [
    # survives cleaning: 3 good lines (one gets dup-dropped later)
    (0, f"{GOOD}\n{DUP}\nanother perfectly fine sentence lives right here."),
    # line-level drops: no terminal punct / too few words / javascript
    (1, f"no terminal punctuation here\nshort one.\nenable JavaScript to view this page.\n{GOOD}\n{DUP}\nthird good line so the document survives the floor."),
    # doc-level drop: curly brace in a surviving line
    (2, "function body { return 1; } stays on this long line.\n" f"{GOOD}\n{DUP}"),
    # doc-level drop: lorem ipsum marker
    (3, f"lorem ipsum dolor sit amet is the classic filler text.\n{GOOD}\nthird line present and accounted for, with punctuation."),
    # too few surviving lines
    (4, f"{GOOD}\nsecond good line ends with a question mark, right?"),
    # dedup-only cases: within-doc duplicate + short separators
    (5, f"{DUP}\n---\n{DUP}\nunique closing line for document five."),
    (6, "---\nunique line for document six, happily terminal."),
]


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cleaning") / "docs.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs AS SELECT * FROM '{path}/*.parquet'")
    yield docs, con
    con.close()


def test_clean_lines_c4_matches_duckdb(spark, fixture):
    docs, con = fixture
    got = cleaning.clean_lines_c4(docs)
    oracle = con.sql(cleaning.CLEAN_LINES_SQL).df()
    assert compare(got, oracle) == []
    rows = {r.doc_id: r for r in got.collect()}
    # exactly the docs the spec keeps (doc 5's '---' separator dies to the
    # punctuation rule but its three sentence lines clear the floor)
    assert set(rows) == {0, 1, 5}
    # doc 1 lost its three bad lines and kept the three good ones
    assert rows[1].n_lines_kept == 3 and rows[1].n_lines_total == 6
    assert "JavaScript" not in rows[1].text_clean
    assert "no terminal punctuation" not in rows[1].text_clean


def test_clean_lines_c4_is_map_only(spark, fixture):
    import contextlib
    import io as _io

    docs, _ = fixture
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        cleaning.clean_lines_c4(docs).explain(mode="formatted")
    p = buf.getvalue()
    assert "Exchange" not in p, p[:2000]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p[:2000]


# --- boilerplate removal --------------------------------------------------------


def test_strip_boilerplate_differential_vs_pure(spark):
    """Spark operator ≡ the pinned pure function, row for row, over the
    synthetic world's real HTML (the same differential discipline as
    F8/F9)."""
    from spacetime_crawler_spark.functions.textextract import extract_main_content
    from spacetime_crawler_spark.sources.synth import generate_pages_df

    pages = generate_pages_df(spark, "tiny", n_pages=80)
    got = cleaning.strip_boilerplate(pages).select(
        "url", "html", "text_main", "main_chars"
    ).collect()
    # page_rows emits revisit captures too, so rows ≥ pages
    assert len(got) >= 80
    for r in got:
        want = extract_main_content(r.html)
        assert r.text_main == want, r.url
        assert r.main_chars == len(want)


def test_strip_boilerplate_plan_is_map_only(spark):
    """One Arrow crossing, zero shuffles — the operator must fuse with the
    scan at any scale."""
    import contextlib
    import io as _io

    from spacetime_crawler_spark.sources.synth import generate_pages_df

    pages = generate_pages_df(spark, "tiny", n_pages=8)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        cleaning.strip_boilerplate(pages).explain(mode="formatted")
    p = buf.getvalue()
    assert "Exchange" not in p, p[:2000]
    # the synth source is a Union of two generation branches; the UDF is
    # pushed into each branch — still exactly one crossing per row
    import re

    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", p))
    assert 1 <= n_arrow <= 2, p[:2000]
    assert "BatchEvalPython" not in p, p[:2000]


# --- PII redaction --------------------------------------------------------------

PII_DOCS = [
    (0, "contact me at john.doe+spam@example.co.uk or call +1 (415) 555-0123 now."),
    (1, "server at 192.168.1.254 responded; version 1.2.3.4.5 is odd"),
    (2, "no pii here at all, just text."),
    (3, "a@b.io end +4930 1234567"),
    # '+digits' inside an email local part: redacted WITH the email,
    # never double-counted as a phone
    (4, "mail john+4930123456@example.com today"),
    (5, "two mails x@y.de z@w.fr one ip 10.0.0.1 one phone +33 1 23 45 67 89"),
    (6, ""),
]


@pytest.fixture(scope="module")
def pii_fixture(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pii") / "docs.parquet")
    spark.createDataFrame(PII_DOCS, "doc_id long, text string").coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs AS SELECT * FROM '{path}/*.parquet'")
    yield docs, con
    con.close()


def test_redact_pii_matches_duckdb(spark, pii_fixture):
    docs, con = pii_fixture
    got = cleaning.redact_pii(docs)
    oracle = con.sql(cleaning.REDACT_PII_SQL).df()
    assert compare(got, oracle) == []


def test_redact_pii_semantics(spark, pii_fixture):
    docs, _ = pii_fixture
    rows = {r.doc_id: r for r in cleaning.redact_pii(docs).collect()}
    assert rows[0].text_redacted == "contact me at <EMAIL> or call <PHONE> now."
    assert (rows[0].n_emails, rows[0].n_ips, rows[0].n_phones) == (1, 0, 1)
    # greedy first-four-octets IP behavior is pinned
    assert rows[1].text_redacted == "server at <IP> responded; version <IP>.5 is odd"
    assert rows[2].text_redacted == PII_DOCS[2][1] and not rows[2].has_pii
    # email swallows its embedded '+digits' run: zero phones in doc 4
    assert rows[4].text_redacted == "mail <EMAIL> today"
    assert rows[4].n_phones == 0 and rows[4].n_emails == 1
    assert (rows[5].n_emails, rows[5].n_ips, rows[5].n_phones) == (2, 1, 1)
    assert rows[6].text_redacted == "" and not rows[6].has_pii


def test_redact_pii_plan_is_map_only(spark, pii_fixture):
    import contextlib
    import io as _io

    docs, _ = pii_fixture
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        cleaning.redact_pii(docs).explain(mode="formatted")
    p = buf.getvalue()
    assert "Exchange" not in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]


# --- web ingest composite -------------------------------------------------------


def test_pipeline_web_ingest_cross_engine(spark):
    """Full chain pinned across engines: Spark composite ≡ pure-python
    extract_main_content → DuckDB REDACT_PII_SQL → DuckDB CLEAN_LINES_SQL,
    hash-compared on (url, text, n_tokens); lang asserted separately
    (heuristic argmax isn't SQL)."""
    from datetime import datetime, timezone

    from spacetime_crawler_spark.functions.textextract import extract_main_content
    from spacetime_crawler_spark.functions.tokenize import DUCK_TOKENS
    from spacetime_crawler_spark.operators.pipeline import pipeline_web_ingest

    NAV = ("<nav><a href='/'>Home</a> <a href='/a'>About</a>"
           " <a href='/c'>Contact</a></nav>")
    FOOT = ("<footer><a href='/t'>Terms</a> <a href='/p'>Privacy</a>"
            " <a href='/i'>Imprint</a></footer>")
    PAGES = [
        # A: survives everything; carries every PII kind
        ("http://a.example.com/article", NAV
         + "<p>This is a long and entirely ordinary english sentence for testing.</p>"
         + "<p>You can write to john.doe@example.com whenever you like of course.</p>"
         + "<p>The server at 10.0.0.1 answered the call from +1 (415) 555-0123 promptly.</p>"
         + FOOT),
        # B: link farm — boilerplate removal leaves nothing
        ("http://b.example.com/links", "<div>" + " ".join(
            f"<a href='/x{i}'>linkword{i}</a>" for i in range(30)) + "</div>"),
        # C: real prose but no terminal punctuation — C4 drops every line
        ("http://c.example.com/raw", "<p>first line of prose without any ending</p>"
         "<p>second line of prose without any ending</p>"
         "<p>third line of prose without any ending</p>"),
        # D: survives C4 but no language is reliably identifiable
        ("http://d.example.com/gibberish",
         "<p>zq wv xk pj qq rr tt yy uu ii oo pp.</p>" * 3),
    ]
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [(u, ts, h.encode(), None, None) for u, h in PAGES],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = pipeline_web_ingest(pages)

    # oracle chain in DuckDB over the pure-python boilerplate stage
    import pandas as pd

    stage0 = pd.DataFrame(
        [{"doc_id": u, "text": extract_main_content(h.encode())}
         for u, h in PAGES if extract_main_content(h.encode())]
    )
    con = duckdb.connect()
    con.register("stage0", stage0)
    con.sql("CREATE VIEW docs AS SELECT * FROM stage0")
    red = con.sql(cleaning.REDACT_PII_SQL).df()[["doc_id", "text_redacted"]]
    con.sql("DROP VIEW docs")
    con.register("red", red)
    con.sql("CREATE VIEW docs AS SELECT doc_id, text_redacted AS text FROM red")
    want = con.sql(
        "SELECT doc_id AS url, text_clean AS text,"
        f" CAST(len({DUCK_TOKENS.replace('text', 'text_clean')}) AS INT) AS n_tokens"
        f" FROM ({cleaning.CLEAN_LINES_SQL})"
    ).df()
    assert compare(got.drop("lang"), want) == []
    con.close()

    rows = {r.url: r for r in got.collect()}
    assert set(rows) == {PAGES[0][0], PAGES[3][0]}
    a = rows[PAGES[0][0]]
    assert a.lang == "en"
    assert "<EMAIL>" in a.text and "<IP>" in a.text and "<PHONE>" in a.text
    assert "john.doe" not in a.text and "10.0.0.1" not in a.text
    assert "Home" not in a.text and "Terms" not in a.text  # boilerplate gone
    assert rows[PAGES[3][0]].lang is None  # unreliable call stays NULL


def test_pipeline_web_ingest_plan_is_map_only(spark):
    """The whole composite must stay inside the scan stage: no shuffle,
    one Arrow crossing for the HTML parse."""
    import contextlib
    import io as _io
    import re
    from datetime import datetime, timezone

    from spacetime_crawler_spark.operators.pipeline import pipeline_web_ingest

    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [("http://x.com/", ts, b"<p>x</p>", None, None)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        pipeline_web_ingest(pages).explain(mode="formatted")
    p = buf.getvalue()
    assert "Exchange" not in p, p[:2000]
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1, p[:2000]
    assert "BatchEvalPython" not in p, p[:2000]


def test_run_py_ingest_writes_training_docs(spark, monkeypatch, tmp_path):
    """run.py --ingest DIR writes DIR/training_docs with the composite's
    schema and reports the count in the summary (0 over the synthetic
    world — its word-soup prose never survives the C4 stage; the
    non-vacuous content path is the crafted-fixture test above)."""
    import io as _io
    import json
    import sys
    from contextlib import redirect_stdout

    import run as run_mod
    from spacetime_crawler_spark.plans import crawl as crawl_mod

    class DummyRun:
        rounds_run = 0
        metrics = []

    monkeypatch.setattr(crawl_mod, "run_crawl",
                        lambda *a, **k: DummyRun())
    monkeypatch.setattr(sys, "argv", [
        "run.py", "--synth", "tiny", "--rounds", "1",
        "--state-dir", str(tmp_path / "st"),
        "--ingest", str(tmp_path / "cur"),
    ])
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        run_mod.main()
    summary = json.loads(buf.getvalue())
    out = spark.read.parquet(str(tmp_path / "cur" / "training_docs"))
    assert out.columns == ["url", "lang", "text", "n_tokens"]
    assert summary["ingest_docs"] == out.count() == 0
