"""WARC web-archive source: gzip-member framing + Content-Length record
parse + URI attribution + strip roundtrip."""

import gzip

import pandas as pd
import pytest

from onnxtr_spark.sources import warc as W


def test_warc_roundtrip_with_separator_in_body():
    recs = [
        ("https://s.example/doc/1", "<html><body><p>hello one</p></body></html>"),
        # CRLFCRLF inside the body: delimiter scanning would truncate
        ("https://s.example/doc/2", "<html><body><p>two \r\n\r\n tricky</p></body></html>"),
    ]
    assert W.parse_warc(W.encode_warc(recs)) == recs


def test_warc_skips_non_response_records():
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
    )
    blob = gzip.compress(info) + W.encode_warc([("https://s.example/doc/9", "<p>x</p>")])
    assert W.parse_warc(blob) == [("https://s.example/doc/9", "<p>x</p>")]


def test_warc_rejects_garbage_tail():
    blob = W.encode_warc([("u", "<p>a</p>")]) + b"not-gzip-at-all"
    with pytest.raises(ValueError):
        W.parse_warc(blob)


def test_warc_spark_roundtrip_groups_docs_per_archive(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": list(range(12)),
            "text": [f"doc {i} body words here padding " + "w " * 30 for i in range(12)],
        })
    )
    archives = W.synthesize_warcs(docs, docs_per_file=8).toPandas()
    assert sorted(archives["warc_key"]) == [0, 1]  # 12 docs -> 2 archives
    out = W.warc_extract_query(docs).toPandas()
    assert len(out) == 12
    row = out[out.doc_id == "7"].iloc[0]
    import re

    want = re.sub(r"\s+", " ", f"doc 7 body words here padding " + "w " * 30).strip()
    assert row.main_text == want


def test_warc_records_keeps_uri_and_strips_port(spark):
    blob = W.encode_warc([
        ("https://a.example:8443/doc/1", "<p>one</p>"),
        ("https://b.example/doc/2", "<p>two</p>"),
    ])
    warcs = spark.createDataFrame(pd.DataFrame({"warc_key": [0], "warc": [blob]}), W.WARC_SCHEMA)
    recs = W.warc_records(warcs).toPandas().sort_values("doc_id")
    assert list(recs["uri"]) == ["https://a.example:8443/doc/1", "https://b.example/doc/2"]
    from pyspark.sql import functions as F

    hosts = W.warc_records(warcs).select(W.uri_host(F.col("uri")).alias("h")).toPandas()
    assert sorted(hosts["h"]) == ["a.example", "b.example"]


def test_warc_domain_stats_aggregates_per_host(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": list(range(100)),  # ids 0..99 -> hosts site-0..site-49, 2 docs each
            "text": [f"doc {i} " + "w " * 10 for i in range(100)],
        })
    )
    out = W.warc_domain_stats_query(docs).toPandas()
    assert len(out) == 50
    assert (out["n_docs"] == 2).all()
    assert (out["text_chars"] > 0).all()
    assert set(out["host"]) == {f"site-{i}.example" for i in range(50)}


def test_warc_encode_is_deterministic():
    """Every gzip member's header stamps mtime 0 (bytes 4-8), so two
    encodes of the same records are byte-identical."""
    import zlib

    recs = [("https://s.example/doc/1", "<p>one</p>"), ("https://s.example/doc/2", "<p>two</p>")]
    blob = W.encode_warc(recs)
    pos = members = 0
    while pos < len(blob):
        assert blob[pos : pos + 2] == b"\x1f\x8b" and blob[pos + 4 : pos + 8] == b"\0\0\0\0"
        d = zlib.decompressobj(wbits=31)
        d.decompress(blob[pos:])
        pos = len(blob) - len(d.unused_data)
        members += 1
    assert members == len(recs)
    assert W.encode_warc(recs) == blob
