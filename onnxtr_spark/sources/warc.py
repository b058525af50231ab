"""WARC web-archive source (the Common-Crawl container format).

Web-scale corpora arrive as WARC files: concatenated gzip members, one
per record, each record = WARC headers + HTTP response + HTML payload.
The reference has no web-archive reader (its DocumentFile stops at
pdf/image/url-download, io/reader.py); at 10^12 docs the crawl archive
IS the input, so the facade gains a real WARC path:

- ``encode_warc``: build a spec-shaped WARC/1.0 file — one gzip member
  per record (the standard layout that makes records independently
  seekable), ``WARC-Type: response``, ``WARC-Target-URI``, exact
  ``Content-Length`` framing, HTTP/1.1 headers before the body.
- ``parse_warc``: split gzip members by re-scanning member boundaries
  with a streaming decompressor, then frame each record by its declared
  Content-Length — NEVER by delimiter scanning (payloads may contain
  the record separator; same discipline as the PDF parser's /Length).

The Spark surface groups documents into multi-record archives
(applyInPandas per archive key), parses them back with Arrow-batched
``mapInPandas``, and hands the payload to the JVM-side HTML strip — the
roundtrip oracle is text equality per doc, so framing, gzip splitting,
URI attribution and boilerplate stripping are all on the hook.
"""

from __future__ import annotations

import gzip
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onnxtr_spark.partitioning import spread
from onnxtr_spark.sources.html import html_main_text, synthesize_html

_CRLF = "\r\n"
WARC_DOCS_PER_FILE = 8


def _record(uri: str, html: str) -> bytes:
    body = html.encode("utf-8")
    http = (
        "HTTP/1.1 200 OK" + _CRLF
        + "Content-Type: text/html; charset=utf-8" + _CRLF
        + f"Content-Length: {len(body)}" + _CRLF + _CRLF
    ).encode("ascii") + body
    head = (
        "WARC/1.0" + _CRLF
        + "WARC-Type: response" + _CRLF
        + f"WARC-Target-URI: {uri}" + _CRLF
        + "Content-Type: application/http;msgtype=response" + _CRLF
        + f"Content-Length: {len(http)}" + _CRLF + _CRLF
    ).encode("ascii")
    return head + http + (_CRLF + _CRLF).encode("ascii")


def encode_warc(records: list[tuple[str, str]]) -> bytes:
    """One gzip member per record, concatenated — the standard WARC
    layout (ISO 28500 annex; what Common Crawl ships). Each member's
    header carries mtime 0, so the same records encode to the same bytes."""
    out = bytearray()
    for uri, html in records:
        out += gzip.compress(_record(uri, html), 6, mtime=0)
    return bytes(out)


def parse_warc(blob: bytes) -> list[tuple[str, str]]:
    """(uri, html) per response record. Gzip members are walked with a
    streaming decompressor (each member's end is where the next
    starts); records are framed by Content-Length, not separators."""
    records: list[tuple[str, str]] = []
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            data = d.decompress(blob[pos:])
        except zlib.error as exc:  # loud, never silently-partial
            raise ValueError(f"WARC: byte {pos} is not a gzip member: {exc}") from exc
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError("WARC: trailing garbage that is not a gzip member")
        pos += consumed
        head_end = data.find((_CRLF + _CRLF).encode("ascii"))
        if head_end < 0:
            raise ValueError("WARC: record without header terminator")
        headers = {}
        lines = data[:head_end].decode("ascii", "replace").split(_CRLF)
        if not lines or not lines[0].startswith("WARC/"):
            raise ValueError("WARC: missing version line")
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers["content-length"])
        payload = data[head_end + 4 : head_end + 4 + length]
        if headers.get("warc-type") != "response":
            continue
        http_end = payload.find((_CRLF + _CRLF).encode("ascii"))
        body = payload[http_end + 4 :] if http_end >= 0 else payload
        records.append((headers.get("warc-target-uri", ""), body.decode("utf-8")))
    return records


WARC_SCHEMA = "warc_key long, warc binary"
WARC_PAGE_SCHEMA = "doc_id string, html string"


N_HOSTS = 50  # the synthetic crawl namespace: site-(doc_id % N_HOSTS).example


def doc_uri(doc_id_col):
    """Deterministic per-doc URL (synthetic crawl namespace)."""
    d = doc_id_col.cast("long")
    return F.concat(
        F.lit("https://site-"), (d % N_HOSTS).cast("string"), F.lit(".example/doc/"), d.cast("string")
    )


def doc_host_sql(d: str = "CAST(doc_id AS BIGINT)") -> str:
    """DuckDB mirror of the namespace's host component."""
    return f"'site-' || CAST({d} % {N_HOSTS} AS VARCHAR) || '.example'"


def doc_uri_sql(d: str = "CAST(doc_id AS BIGINT)") -> str:
    """DuckDB mirror of ``doc_uri``."""
    return f"'https://' || {doc_host_sql(d)} || '/doc/' || CAST({d} AS VARCHAR)"


def uri_host(uri_col):
    """Host parsed from a URI column: scheme strip -> authority ->
    port strip (shared by domain stats and tests; canonicalize_url in
    functions/urls.py keeps its own full decomposition because it also
    needs the scheme, port and path parts)."""
    authority = F.split_part(F.split_part(uri_col, F.lit("://"), F.lit(2)), F.lit("/"), F.lit(1))
    return F.split_part(authority, F.lit(":"), F.lit(1))


def synthesize_warcs(documents: DataFrame, docs_per_file: int = WARC_DOCS_PER_FILE) -> DataFrame:
    """(warc_key, warc): multi-record gzip WARC archives, docs grouped
    by ``doc_id div docs_per_file`` (deterministic membership; records
    within an archive ordered by doc_id)."""
    pages = synthesize_html(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        doc_uri(F.col("doc_id")).alias("uri"),
        "html",
    )
    pages = spread(pages).withColumn("warc_key", F.expr(f"doc_id div {docs_per_file}"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        blob = encode_warc(list(zip(pdf["uri"], pdf["html"])))
        return pd.DataFrame({"warc_key": [int(pdf["warc_key"].iloc[0])], "warc": [blob]})

    return pages.groupBy("warc_key").applyInPandas(build, schema=WARC_SCHEMA)


def warc_pages(warcs: DataFrame) -> DataFrame:
    """(doc_id, html) rows parsed out of (warc_key, warc) archives;
    doc_id recovered from the record's WARC-Target-URI."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for blob in pdf["warc"]:
                for uri, html in parse_warc(bytes(blob)):
                    rows.append({"doc_id": uri.rsplit("/", 1)[-1], "html": html})
            yield pd.DataFrame(rows, columns=["doc_id", "html"])

    return warcs.mapInPandas(parse, schema=WARC_PAGE_SCHEMA)


def warc_extract_query(documents: DataFrame) -> DataFrame:
    """Roundtrip: docs → HTML → gzip WARC archives → parse → strip.
    Oracle: each doc's normalized text, keyed by the URI-derived
    doc_id — framing, member splitting, attribution and stripping all
    verified at once."""
    return warc_pages(synthesize_warcs(documents)).select(
        "doc_id", html_main_text(F.col("html")).alias("main_text")
    )


WARC_RECORD_SCHEMA = "doc_id string, uri string, html string"


def warc_records(warcs: DataFrame) -> DataFrame:
    """(doc_id, uri, html) rows parsed out of (warc_key, warc) archives —
    like ``warc_pages`` but keeping the record's WARC-Target-URI, the
    attribution column domain-level curation keys on."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for blob in pdf["warc"]:
                for uri, html in parse_warc(bytes(blob)):
                    rows.append({"doc_id": uri.rsplit("/", 1)[-1], "uri": uri, "html": html})
            yield pd.DataFrame(rows, columns=["doc_id", "uri", "html"])

    return warcs.mapInPandas(parse, schema=WARC_RECORD_SCHEMA)


def warc_domain_stats_query(documents: DataFrame) -> DataFrame:
    """Per-host crawl statistics — the domain-level aggregation that
    feeds blocklists and per-domain caps in C4/Dolma-style curation.

    The host comes ONLY from parsing each record's WARC-Target-URI
    (scheme strip -> authority -> port strip, all JVM ``split_part``),
    never from doc metadata, so the oracle's host derived from the
    synthetic crawl namespace verifies URI attribution end-to-end.
    Scale: one partial-aggregated exchange keyed by host; host
    cardinality is bounded (registered domains), and the heavy
    per-record work (gzip split + HTML strip) happens map-side before
    the shuffle carries only (host, chars).
    """
    recs = warc_records(synthesize_warcs(documents))
    return (
        recs.select(
            uri_host(F.col("uri")).alias("host"),
            F.length(html_main_text(F.col("html"))).alias("chars"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("chars").cast("long").alias("text_chars"),
        )
    )


def warc_domain_stats_sql() -> str:
    """DuckDB oracle: hosts rebuilt from the synthetic namespace
    (site-<doc_id %% 50>.example), text lengths from the same
    normalized-strip the roundtrip oracle uses."""
    from onnxtr_spark.sources.html import HTML_EXTRACT_SQL

    return f"""
WITH ext AS ({HTML_EXTRACT_SQL})
SELECT {doc_host_sql()} AS host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(main_text)) AS BIGINT) AS text_chars
FROM ext GROUP BY host
"""
