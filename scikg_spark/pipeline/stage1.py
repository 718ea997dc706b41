"""Stage 1: pages -> statements.

``pages(url, warc_ts, html, text, lang)`` (Iceberg/parquet) is filtered by
language, HTML is reduced to text by the byte-deterministic shared extractor,
and each text line (one annotated statement, the reference's corpus shape) is
parsed into aligned WORD/POSTAG/CAP arrays (S2, utils.py:727-776).

Scale notes:
  * everything is one narrow mapInPandas pass — no shuffle;
  * the wide ``html`` column is never referenced downstream, so Catalyst
    prunes it from every later scan;
  * the language filter is a pushed-down parquet predicate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from scikg_spark.core.parsing import parse_annotated
from scikg_spark.core.textextract import extract_text

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

STATEMENTS_SCHEMA = (
    "url string, doc_id string, stmt_id int, "
    "words array<string>, postags array<string>, caps array<string>"
)


def build_pages_from_documents(documents: DataFrame, lang: str | None = None) -> DataFrame:
    """Re-dress the driver's ``documents`` table as a deterministic pages
    corpus (synthesis happens executor-side, scales with partitions)."""
    from scikg_spark.core.synth import page_from_tokens

    cols = documents.select("doc_id", "text", "lang")
    if lang is not None:
        cols = cols.filter(F.col("lang") == lang)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, text, lang_ in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                rows.append(page_from_tokens(str(doc_id), str(text).split(), lang_))
            if rows:  # empty pandas frames degrade list columns to float64
                yield pd.DataFrame(
                    rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return cols.mapInPandas(gen, schema=PAGES_SCHEMA)


def build_fetch_log(documents: DataFrame) -> DataFrame:
    """The synthetic crawl's FETCH LOG: one row per (raw url, doc) fetch —
    the table a Common-Crawl-style URL-dedup stage actually scans (the same
    page appears under scheme / case / www. / tracking / fragment / slash
    variants across crawl snapshots; the pages table keys on the canonical
    form). Pure JVM string construction (no Python), kept row-for-row equal
    to :func:`scikg_spark.core.synth.fetch_urls_for` by a pinning test.
    Schema: (url string, doc_id)."""
    base = F.concat(F.lit("https://example.org/doc/"),
                    F.col("doc_id").cast("string"))
    variants = F.array(
        base,
        F.concat(F.lit("http://EXAMPLE.org/doc/"),
                 F.col("doc_id").cast("string"), F.lit("/")),
        F.concat(F.lit("https://www.example.org/doc/"),
                 F.col("doc_id").cast("string"), F.lit("?utm_source=feed")),
        F.concat(base, F.lit("#section-2")),
    )
    return documents.select(
        F.explode(variants).alias("url"), "doc_id")


def _page_html(pages: DataFrame, lang: str | None) -> DataFrame:
    """The ``(url, html)`` columns the statement parser reads, filtered to
    ``lang`` unless it is None."""
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)
    return pages.select("url", "html")


def _statement_batches(batches):
    """The statement-line parser, per Arrow batch of ``_page_html`` rows:
    yields one STATEMENTS_SCHEMA frame per batch that holds a statement."""
    for pdf in batches:
        out = {k: [] for k in ("url", "doc_id", "stmt_id", "words", "postags", "caps")}
        for url, html in zip(pdf["url"], pdf["html"]):
            text = extract_text(html)
            doc_id = url.rsplit("/", 1)[-1]
            for i, line in enumerate(text.split("\n")):
                if not line:
                    continue
                try:
                    words, postags, caps = parse_annotated(line, lower=False)
                except (ValueError, AssertionError):
                    continue  # non-statement line (e.g. page title/boilerplate)
                out["url"].append(url)
                out["doc_id"].append(doc_id)
                out["stmt_id"].append(i + 1)
                out["words"].append(words)
                out["postags"].append(postags)
                out["caps"].append(caps)
        if out["url"]:
            yield pd.DataFrame(out)


def extract_statements(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """pages -> one row per statement with aligned token arrays."""
    return _page_html(pages, lang).mapInPandas(
        _statement_batches, schema=STATEMENTS_SCHEMA)


def verify_extraction(pages: DataFrame) -> int:
    """Row-for-row stage-1 invariant: Spark-side ``extract_text(html)`` must
    byte-equal the oracle ``text`` column. Returns the number of violating
    rows (gate: 0)."""
    src = pages.select("url", "html", "text")

    def gen(batches):
        for pdf in batches:
            bad = [
                url
                for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"])
                if extract_text(html) != text
            ]
            yield pd.DataFrame({"url": bad})

    return src.mapInPandas(gen, schema="url string").count()
