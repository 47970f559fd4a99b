"""Corpus cleaning stages: boilerplate removal, PII redaction and the C4
line rules (Raffel et al. 2020, public spec) used by the web-ingest
composite (operators/pipeline.py::pipeline_web_ingest), plus charset
annotation, all re-expressed as native Spark column programs.

Each operator is df-in/df-out so it composes with the curation pipeline
and runs equally over the documents table, crawl output, or WARC-ingested
pages.  None takes a driver-registry slot (the 50-row artifact cap is
taken); the SQL-expressible ones are pinned by an in-test DuckDB oracle
over the same parquet fixture (tests/test_cleaning.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- C4 line filters ----------------------------------------------------------

# Pinned spec (the C4 cleaning rules, applied per '\n'-line):
#   keep a line iff it ends in terminal punctuation ( . ! ? " ), carries
#   ≥ MIN_LINE_WORDS whitespace-words, and does not mention "javascript"
#   (case-insensitive).  Drop the whole doc if its SURVIVING text contains
#   '{' (code), a "lorem ipsum" marker, or fewer than MIN_KEPT_LINES lines.
MIN_LINE_WORDS = 5
MIN_KEPT_LINES = 3

_LINE_KEEP_LAMBDA = (
    "x -> x rlike '[.!?\"]$'"
    " AND size(filter(split(x, ' '), w -> w != '')) >= {min_words}"
    " AND NOT contains(lower(x), 'javascript')"
)


def clean_lines_c4(
    docs: DataFrame,
    min_line_words: int = MIN_LINE_WORDS,
    min_kept_lines: int = MIN_KEPT_LINES,
) -> DataFrame:
    """C4 line filtering: (doc_id, text) → (doc_id, text_clean,
    n_lines_kept, n_lines_total) for surviving docs.

    Scale shape: entirely map-only — one split + one higher-order filter +
    one join per row, no shuffle, no UDF; at 100 TB the whole operator
    runs inside the scan stage and survivors stream straight into the next
    pipeline step (quality gate / dedup)."""
    keep = _LINE_KEEP_LAMBDA.format(min_words=min_line_words)
    lines = F.split(F.col("text"), "\n")
    kept = F.expr(f"filter(split(text, '\\n'), {keep})")
    return (
        docs.select(
            "doc_id",
            F.array_join(kept, "\n").alias("text_clean"),
            F.size(kept).cast("int").alias("n_lines_kept"),
            F.size(lines).cast("int").alias("n_lines_total"),
        )
        .where(
            (F.col("n_lines_kept") >= F.lit(min_kept_lines))
            & ~F.col("text_clean").contains("{")
            & ~F.lower(F.col("text_clean")).contains("lorem ipsum")
        )
    )


# DuckDB mirror over a `docs` view (doc_id, text) — the in-test oracle.
CLEAN_LINES_SQL = f"""
WITH cleaned AS (
  SELECT doc_id,
         array_to_string(
           list_filter(string_split(text, chr(10)),
             x -> regexp_matches(x, '[.!?"]$')
                  AND len(list_filter(string_split(x, ' '), w -> w <> ''))
                      >= {MIN_LINE_WORDS}
                  AND NOT contains(lower(x), 'javascript')),
           chr(10)) AS text_clean,
         CAST(len(list_filter(string_split(text, chr(10)),
             x -> regexp_matches(x, '[.!?"]$')
                  AND len(list_filter(string_split(x, ' '), w -> w <> ''))
                      >= {MIN_LINE_WORDS}
                  AND NOT contains(lower(x), 'javascript'))) AS INT)
           AS n_lines_kept,
         CAST(len(string_split(text, chr(10))) AS INT) AS n_lines_total
  FROM docs
)
SELECT * FROM cleaned
WHERE n_lines_kept >= {MIN_KEPT_LINES}
  AND NOT contains(text_clean, '{{')
  AND NOT contains(lower(text_clean), 'lorem ipsum')
"""


# --- boilerplate removal --------------------------------------------------------

def strip_boilerplate(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Boilerplate removal over raw HTML: appends ``text_main`` — the
    pinned ``extract_main_content`` link-density rule (jusText/boilerpipe
    family: keep a text block iff it is long enough AND link-sparse
    enough) — plus ``main_chars``.  This is the corpus-quality text
    surface an LLM pipeline tokenizes; F9's ``extract_text`` remains the
    byte-identity crawl-contract surface and is untouched.

    Scale shape: map-only — one Arrow-batched pandas UDF fused with the
    scan (HTML parsing is the one unavoidable Python crossing, same as
    F8/F9); no shuffle, no driver work, survivors stream straight into
    clean_lines_c4 / the quality gate.  The UDF is applied through an
    asNondeterministic pushdown barrier HERE, at the operator level (the
    parse itself is pure — see extract_main_content): without it, any
    caller filtering on text_main/main_chars has Catalyst push the
    predicate through the projection and duplicate the UDF on both sides
    of the Filter — every page parsed twice (two ArrowEvalPython nodes,
    verified via explain; plan tests pin single-eval).  Not
    SQL-expressible (HTML parsing), so no DuckDB oracle: pinned instead
    by pure-function goldens and a Spark↔pure differential over the
    synthetic world (tests/test_cleaning.py)."""
    from spacetime_crawler_spark.operators.udfs import main_content_udf

    parse_once = main_content_udf.asNondeterministic()
    return pages.withColumn(
        "text_main", parse_once(F.col(html_col))
    ).withColumn("main_chars", F.length("text_main").cast("int"))


# --- PII redaction --------------------------------------------------------------

# Pinned spec: three conservative ASCII patterns applied IN ORDER (email →
# IPv4 → phone); each stage counts its matches on the text as produced by
# the previous stage, so a '+digits' run inside an email local part is
# redacted as part of the email and never double-counted as a phone.
# Patterns are the RE2∩Java-regex common subset (no lookaround, no
# backreferences) so the Spark engine and the DuckDB oracle compile them
# identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9][0-9 ()./\-]{6,18}[0-9]"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the standard webtext-corpus scrub (emails, IPv4
    addresses, international phone numbers → <EMAIL>/<IP>/<PHONE>
    placeholders) with per-kind match counts and a has_pii flag.

    Scale shape: entirely map-only — three native regexp_replace /
    regexp_count stages inside whole-stage codegen; no UDF, no shuffle,
    no driver work.  At 100 TB this runs inside the scan stage alongside
    clean_lines_c4."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    n_emails = F.regexp_count(t0, F.lit(PII_EMAIL_RE)).cast("int")
    n_ips = F.regexp_count(t1, F.lit(PII_IPV4_RE)).cast("int")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE_RE)).cast("int")
    return docs.select(
        "doc_id",
        t3.alias("text_redacted"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        ((n_emails + n_ips + n_phones) > F.lit(0)).alias("has_pii"),
    )


# DuckDB mirror over a `docs` view (doc_id, text) — same staged spec.
REDACT_PII_SQL = (
    "WITH s1 AS (\n"
    "  SELECT doc_id,\n"
    f"         CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS INT) AS n_emails,\n"
    f"         regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1\n"
    "  FROM docs\n"
    "), s2 AS (\n"
    "  SELECT doc_id, n_emails,\n"
    f"         CAST(len(regexp_extract_all(t1, '{PII_IPV4_RE}')) AS INT) AS n_ips,\n"
    f"         regexp_replace(t1, '{PII_IPV4_RE}', '<IP>', 'g') AS t2\n"
    "  FROM s1\n"
    ")\n"
    "SELECT doc_id,\n"
    f"       regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g') AS text_redacted,\n"
    "       n_emails, n_ips,\n"
    f"       CAST(len(regexp_extract_all(t2, '{PII_PHONE_RE}')) AS INT) AS n_phones,\n"
    f"       (n_emails + n_ips + CAST(len(regexp_extract_all(t2, '{PII_PHONE_RE}')) AS INT)) > 0 AS has_pii\n"
    "FROM s2\n"
)


# --- charset annotation -----------------------------------------------------------

def annotate_charset(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Charset detection + charset-aware decode over raw page bytes:
    appends ``charset`` (the pinned WHATWG-flavored sniff verdict —
    functions/charset.py: BOM > meta declaration > strict-UTF-8 validity >
    windows-1252 fallback) and ``text_decoded`` (total decode under that
    verdict).  Real Common-Crawl HTML is a few percent legacy-encoded;
    decoding those as UTF-8-replace (F9's frozen crawl-contract behavior)
    mangles every non-ASCII byte, which then poisons langid, quality
    scoring, and dedup shingles downstream.  Pipelines that care run this
    FIRST and feed ``text_decoded`` to the text operators; the crawl
    engine's F9 surface is untouched.

    Scale shape: map-only, one Arrow crossing fused with the scan (sniff
    and decode share the crossing), no shuffle.  Applied through the same
    asNondeterministic pushdown barrier as strip_boilerplate so a caller
    filter on charset can never make Catalyst decode each page twice.
    Not SQL-expressible (byte sniffing); pinned by pure-function goldens
    + a Spark↔pure differential (tests/test_charset.py)."""
    from spacetime_crawler_spark.operators.udfs import charset_decode_udf

    decode_once = charset_decode_udf.asNondeterministic()
    return (
        pages.withColumn("_cs", decode_once(F.col(html_col)))
        .withColumn("charset", F.col("_cs.charset"))
        .withColumn("text_decoded", F.col("_cs.text_decoded"))
        .drop("_cs")
    )
