"""WARC source: framing/parse round-trip and full-engine differential —
a crawl over WARC-loaded pages must equal the same crawl over the same
pages loaded as a DataFrame."""

from __future__ import annotations

import gzip
import os

from spacetime_crawler_spark.plans import crawl as crawl_mod
from spacetime_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from spacetime_crawler_spark.sources import synth, warc


def _warc_bytes(rows, gzip_members=False, with_request_record=False):
    out = []
    for url, ts, html in rows:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        hdr = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts:%Y-%m-%dT%H:%M:%SZ}\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        rec = hdr + http + b"\r\n\r\n"
        out.append(gzip.compress(rec) if gzip_members else rec)
    if with_request_record:
        req = (
            b"WARC/1.0\r\nWARC-Type: request\r\n"
            b"WARC-Target-URI: http://x.com/\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Length: 0\r\n\r\n\r\n\r\n"
        )
        out.insert(1, gzip.compress(req) if gzip_members else req)
    return b"".join(out)


def test_warc_roundtrip_both_layouts(spark, tmp_path):
    p = synth.world("tiny", n_pages=120)
    src = synth.generate_pages_df(spark, p).select("url", "warc_ts", "html")
    rows = [(r.url, r.warc_ts, bytes(r.html)) for r in src.collect()]

    for gz, name in ((False, "plain.warc"), (True, "records.warc.gz")):
        d = tmp_path / name.replace(".", "_")
        os.makedirs(d)
        # split across two files — parallelism in this source is per-file
        half = len(rows) // 2
        for i, part in enumerate((rows[:half], rows[half:])):
            (d / f"part{i}.{name}").write_bytes(
                _warc_bytes(part, gzip_members=gz, with_request_record=(i == 0))
            )
        back = warc.read_warc_pages(spark, str(d)).collect()
        got = sorted((r.url, bytes(r.html)) for r in back)
        want = sorted((u, h) for u, _, h in rows)
        assert got == want, (gz, len(got), len(want))
        assert all(r.text is None and r.lang is None for r in back)


def test_crawl_over_warc_equals_dataframe_pages(spark, tmp_path):
    """North-rule input-format independence: the SAME seed list + budget
    over pages ingested from WARC must produce the identical URL-seen set
    and fetch log (ordering + text sha) as over the DataFrame pages."""
    p = synth.world("tiny", n_pages=300)
    pages_df = synth.generate_pages_df(spark, p).persist()
    seeds = synth.seed_urls(p)

    rows = [
        (r.url, r.warc_ts, bytes(r.html))
        for r in pages_df.select("url", "warc_ts", "html").collect()
    ]
    d = tmp_path / "cc"
    os.makedirs(d)
    for i in range(3):
        (d / f"seg{i}.warc.gz").write_bytes(
            _warc_bytes(rows[i::3], gzip_members=True)
        )
    warc_pages = warc.read_warc_pages(spark, str(d))

    def state(run):
        seen = sorted(
            (r.url_norm, r.round_seen)
            for r in crawl_mod.read_seen(spark, run.io).collect()
        )
        log = sorted(
            (r.round, r.host, r.fetch_seq, r.url_norm, r.text_sha256)
            for r in crawl_mod.read_fetch_log(
                spark, run.io, run.rounds_run
            ).collect()
        )
        return seen, log

    cfg_a = CrawlConfig(state_dir=str(tmp_path / "a"), rounds=2, round_budget_s=8.0)
    cfg_b = CrawlConfig(state_dir=str(tmp_path / "b"), rounds=2, round_budget_s=8.0)
    run_df = run_crawl(spark, pages_df, seeds, cfg_a)
    run_wc = run_crawl(spark, warc_pages, seeds, cfg_b)
    assert run_wc.rounds_run == run_df.rounds_run
    assert state(run_wc) == state(run_df)
    pages_df.unpersist()


def test_warc_framing_adversarial():
    """Pure-parser hardening (no Spark): Content-Length framing survives a
    payload CONTAINING the version marker; WARC/1.1 fractional dates
    parse; a record with a bad Content-Length resyncs instead of killing
    the file; a truncated gzip tail salvages the records before it."""
    import gzip as _gz

    from spacetime_crawler_spark.sources import warc as w

    def rec(url, date, body, warc_type="response", length=None):
        http = b"HTTP/1.1 200 OK\r\n\r\n" + body
        n = len(http) if length is None else length
        return (
            f"WARC/1.0\r\nWARC-Type: {warc_type}\r\n"
            f"WARC-Target-URI: {url}\r\nWARC-Date: {date}\r\n"
            f"Content-Length: {n}\r\n\r\n"
        ).encode() + http + b"\r\n\r\n"

    # marker bytes INSIDE a payload must not split the record
    tricky = b"<html>quoting WARC/1.0\r\nWARC-Type: response\r\n</html>"
    data = (
        rec("http://a.com/1", "2024-01-01T00:00:00Z", tricky)
        + rec("http://a.com/2", "2024-01-01T00:00:01.500Z", b"<p>v11 date</p>")
    )
    got = [w._parse_response(h, p) for h, p in w._split_records(data)]
    got = [g for g in got if g]
    assert [g[0] for g in got] == ["http://a.com/1", "http://a.com/2"]
    assert got[0][2] == tricky          # payload intact, not mis-framed
    assert got[1][1].microsecond == 500000  # WARC/1.1 fractional seconds

    # bad Content-Length on record 2 → resync; records 1 and 3 survive
    data = (
        rec("http://a.com/1", "2024-01-01T00:00:00Z", b"one")
        + rec("http://a.com/bad", "2024-01-01T00:00:00Z", b"xx", length=None)
        .replace(b"Content-Length: 7", b"Content-Length: oops")
        + rec("http://a.com/3", "2024-01-01T00:00:00Z", b"three")
    )
    urls = [g[0] for h, p in w._split_records(data)
            if (g := w._parse_response(h, p))]
    assert "http://a.com/1" in urls and "http://a.com/3" in urls

    # truncated gzip tail → salvage everything before the damage
    members = [
        _gz.compress(rec(f"http://a.com/{i}", "2024-01-01T00:00:00Z",
                         b"body" * 10))
        for i in range(3)
    ]
    blob = members[0] + members[1] + members[2][: len(members[2]) // 2]
    urls = [g[0] for h, p in w._records(blob)
            if (g := w._parse_response(h, p))]
    assert urls == ["http://a.com/0", "http://a.com/1"]

    # a record WITHOUT trailing separator CRLFs never leaks them into html
    one = rec("http://a.com/clean", "2024-01-01T00:00:00Z", b"<b>x</b>")
    (_, _, html), = [w._parse_response(h, p)
                     for h, p in w._split_records(one)]
    assert html == b"<b>x</b>"


_LANG_SENTENCES = [
    ("en", "while walking through the old town we found the house where"
           " the writer was born and worked for many years"),
    ("es", "cuando llegamos a la ciudad encontramos una plaza hermosa del"
           " siglo pasado con muchas personas"),
    ("de", "während die kinder durch den wald gingen und leise lieder"
           " sangen kamen sie an einen bach"),
    ("fr", "les enfants marchaient dans la rue et chantaient une chanson"
           " douce pendant que la pluie tombait"),
    ("ru", "когда мы пришли в этот город мы увидели большую площадь"
           " которая была украшена старыми домами"),
    ("uk", "уряд заявив що нові закони набудуть чинності після того як"
           " будуть опубліковані"),
    ("bg", "правителството заяви че новите закони ще влязат в сила след"
           " като бъдат публикувани"),
    (None, "qq vv kk"),  # below every profile's noise floor → NULL lang
]


def _multilingual_pages(spark):
    """tiny synth world with html payloads swapped for multilingual bodies
    (urls/hosts/timestamps keep the synth structure the crawl relies on)."""
    p = synth.world("tiny", n_pages=120)
    rows = synth.generate_pages_df(spark, p).select(
        "url", "warc_ts"
    ).collect()
    out, expected = [], {}
    for i, r in enumerate(rows):
        lang, sent = _LANG_SENTENCES[i % len(_LANG_SENTENCES)]
        html = f"<html><body><p>{sent} item {i}</p></body></html>".encode()
        out.append((r.url, r.warc_ts, html))
        # key by (url, ts): the synth world has multiple captures per url
        expected[(r.url, r.warc_ts)] = lang
    return p, out, expected


def test_warc_ingest_extract_text_populates_lang(spark, tmp_path):
    """VERDICT r4 'what's missing #2': read_warc_pages(extract_text=True)
    must fill text (byte-identical to the pinned F9 extractor) and lang
    (reliable-only langid) at ingest — map-only, no crawl pass needed."""
    from spacetime_crawler_spark.functions.textextract import extract_text

    _, rows, expected = _multilingual_pages(spark)
    d = tmp_path / "cc"
    os.makedirs(d)
    (d / "seg.warc.gz").write_bytes(_warc_bytes(rows, gzip_members=True))

    got = warc.read_warc_pages(spark, str(d), extract_text=True).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.text == extract_text(bytes(r.html)), r.url
        assert r.lang == expected[(r.url, r.warc_ts)], (r.url, r.lang, r.text)
    # default path unchanged: no parse, NULL text/lang
    raw = warc.read_warc_pages(spark, str(d)).collect()
    assert all(r.text is None and r.lang is None for r in raw)


def test_warc_oversize_file_guard(spark, tmp_path):
    """A file over the compressed-size bound must fail fast with the file
    NAMED — not an opaque Arrow/OOM error mid-scan.  (binaryFile's binary
    column caps at 2 GiB; the guard reads only file metadata.)"""
    import pytest

    d = tmp_path / "cc"
    os.makedirs(d)
    rows = [(f"http://h.example.com/{i}",
             __import__("datetime").datetime(2024, 1, 1),
             b"<html><body>x</body></html>") for i in range(3)]
    (d / "seg.warc").write_bytes(_warc_bytes(rows))

    with pytest.raises(ValueError, match="seg.warc"):
        warc.read_warc_pages(spark, str(d), max_compressed_bytes=64)
    # at the default bound the same directory reads fine
    assert len(warc.read_warc_pages(spark, str(d)).collect()) == 3


def test_warc_write_roundtrip_and_determinism(spark, tmp_path):
    """write_warc_pages is the exact inverse of read_warc_pages: a
    synthetic pages world exported to per-record-gzip WARC and read back
    is record-identical (url, ts to the microsecond, html bytes); a second
    export produces byte-identical files (pinned gzip mtime, derived
    record ids)."""
    p = synth.world("tiny", n_pages=120)
    pages = synth.generate_pages_df(spark, p)
    out = str(tmp_path / "export")
    man = warc.write_warc_pages(pages, out, n_files=3).collect()
    assert sum(m.n_records for m in man) == pages.count()
    assert all(m.file.endswith(".warc.gz") for m in man)

    back = warc.read_warc_pages(spark, out + "/*.warc.gz")
    orig = {
        (r.url, r.warc_ts, bytes(r.html))
        for r in pages.select("url", "warc_ts", "html").collect()
    }
    got = {
        (r.url, r.warc_ts, bytes(r.html))
        for r in back.select("url", "warc_ts", "html").collect()
    }
    assert got == orig

    digests = {
        m.file: __import__("hashlib").sha256(
            open(m.file, "rb").read()
        ).hexdigest()
        for m in man
    }
    warc.write_warc_pages(pages, out, n_files=3).collect()
    for f, d in digests.items():
        assert (
            __import__("hashlib").sha256(open(f, "rb").read()).hexdigest()
            == d
        ), f


def test_warc_write_plain_layout_and_adversarial_html(spark, tmp_path):
    """Uncompressed export round-trips too, including html that embeds a
    WARC version marker and CRLFCRLF — Content-Length framing on both
    sides means payload bytes can never mis-frame the stream."""
    dt = __import__("datetime").datetime
    rows = [
        ("http://t.example.com/a", dt(2024, 3, 1, 12, 0, 0),
         b"<html>WARC/1.0\r\n\r\nnot a record</html>", None, None),
        ("http://t.example.com/b", dt(2024, 3, 1, 12, 0, 1),
         b"<html>\r\n\r\nHTTP/1.1 200 OK\r\n\r\n</html>", None, None),
    ]
    pages = spark.createDataFrame(rows, synth.PAGES_SCHEMA_DDL)
    out = str(tmp_path / "plain")
    man = warc.write_warc_pages(
        pages, out, n_files=1, gzip_records=False
    ).collect()
    assert man[0].file.endswith(".warc") and man[0].n_records == 2
    got = {
        (r.url, bytes(r.html))
        for r in warc.read_warc_pages(spark, out + "/*.warc").collect()
    }
    assert got == {(u, h) for u, _t, h, _x, _l in rows}
