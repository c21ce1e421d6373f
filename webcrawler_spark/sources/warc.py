"""WARC / WET ingestion source — the Common Crawl wire format.

The reference crawls the live web (services/crawler fetches over HTTP); a
100 TB training-data pipeline instead ingests pre-crawled archives, and the
universal interchange format for those is ISO 28500 WARC (and its WET
plain-text conversion sibling). This module gives the engine that source:

- ``record_bytes`` / ``wet_record_bytes``: serialize one response /
  conversion record (spec-conformant headers, CRLF framing, exact
  Content-Length, trailing CRLF CRLF record separator).
- ``parse_warc`` : stdlib streaming parser for a (possibly gzip'd) WARC
  blob — handles both whole-file gzip and the per-record-member gzip that
  Common Crawl ships (Python's GzipFile reads concatenated members
  transparently).
- ``read_warc``  : the Spark source. ``spark.read.format("binaryFile")``
  over ``*.warc[.gz]`` paths, then an Arrow-batched ``mapInPandas`` parse
  into (url, warc_ts, record_type, content_type, payload).

100 TB shape: binaryFile gives one input split per archive file (Common
Crawl segments are ~1 GB each, ~100k files per crawl), so parallelism is
per-file — exactly how CC is meant to be consumed. The parser is a single
forward pass per file (no seeks, no per-record Python object churn beyond
the yielded tuples), and the output columns feed straight into the
existing canonicalize → dedup → quality tiers. Nothing here shuffles.
"""

from __future__ import annotations

import gzip
import io
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

_CRLF = b"\r\n"


def _warc_headers(fields: list[tuple[str, str]], body_len: int) -> bytes:
    lines = [b"WARC/1.0"]
    for k, v in fields:
        lines.append(f"{k}: {v}".encode("utf-8"))
    lines.append(f"Content-Length: {body_len}".encode("ascii"))
    return _CRLF.join(lines) + _CRLF + _CRLF


def record_bytes(
    url: str,
    date: str,
    payload: bytes,
    record_type: str = "response",
    content_type: str = "application/http; msgtype=response",
    record_id: str | None = None,
) -> bytes:
    """One spec-conformant WARC record. ``date`` is the WARC-Date string
    (ISO-8601 Z); ``record_id`` defaults to a deterministic urn derived
    from the URL + date (no uuid4 — determinism rule)."""
    import hashlib

    # md5, not hash(): builtin hash is per-process salted and would differ
    # across executors, breaking the determinism rule
    rid = record_id or "<urn:warc:{}>".format(
        hashlib.md5(f"{url}\x00{date}".encode("utf-8")).hexdigest()[:16]
    )
    head = _warc_headers(
        [
            ("WARC-Type", record_type),
            ("WARC-Record-ID", rid),
            ("WARC-Date", date),
            ("WARC-Target-URI", url),
            ("Content-Type", content_type),
        ],
        len(payload),
    )
    return head + payload + _CRLF + _CRLF


def wet_record_bytes(url: str, date: str, text: str) -> bytes:
    """WET conversion record (plain-text payload, as Common Crawl WET)."""
    return record_bytes(
        url,
        date,
        text.encode("utf-8"),
        record_type="conversion",
        content_type="text/plain",
    )


def _maybe_decompress(data: bytes) -> bytes:
    if data[:2] == b"\x1f\x8b":
        # whole-file gzip OR concatenated per-record members — GzipFile
        # reads both as one stream
        return gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    return data


def parse_warc(data: bytes) -> Iterator[dict]:
    """Single forward pass over a WARC blob -> dicts with keys
    (url, warc_date, record_type, content_type, payload). Records whose
    mandatory headers are missing are skipped (warcinfo/request records
    have no Target-URI and are intentionally dropped — this source feeds
    the page pipeline, which wants response/conversion records)."""
    buf = _maybe_decompress(data)
    pos = 0
    n = len(buf)
    while pos < n:
        # skip inter-record padding
        while pos < n and buf[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        head_end = buf.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            return
        head = buf[pos:head_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            # not a record boundary — resync to the next version line
            nxt = buf.find(b"WARC/1.", pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        hdrs: dict[str, str] = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(":")
            if sep:
                hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs.get("content-length", ""))
        except ValueError:
            return
        body_start = head_end + 4
        payload = buf[body_start : body_start + clen]
        pos = body_start + clen
        url = hdrs.get("warc-target-uri")
        if url is not None:
            yield {
                "url": url,
                "warc_date": hdrs.get("warc-date", ""),
                "record_type": hdrs.get("warc-type", ""),
                "content_type": hdrs.get("content-type", ""),
                "payload": payload,
            }


_WARC_SCHEMA = (
    "path string, url string, warc_date string, record_type string, "
    "content_type string, payload binary"
)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC/WET files -> record DataFrame. One task per archive file
    (binaryFile split granularity), Arrow-batched parse, no shuffle."""
    files = spark.read.format("binaryFile").load(path)

    def _parse(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for fpath, data in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc(bytes(data)):
                    rows.append(
                        (
                            fpath,
                            rec["url"],
                            rec["warc_date"],
                            rec["record_type"],
                            rec["content_type"],
                            rec["payload"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path",
                    "url",
                    "warc_date",
                    "record_type",
                    "content_type",
                    "payload",
                ],
            )

    return files.select("path", "content").mapInPandas(_parse, _WARC_SCHEMA)


def pages_from_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC archives -> the crawl pipeline's page-table shape
    ``(url, warc_ts, html, text, lang)``, feedable straight into
    ``plans.epoch.prepare_pages``. HTTP response headers are stripped from
    response-record payloads (body starts after the first CRLF CRLF);
    conversion (WET) records carry extracted text already, so they land in
    ``text`` with a NULL ``html``. ``lang`` is left NULL — language ID is
    the pipeline's job (textstats.lang_id_multi), not the archive's."""
    from pyspark.sql import functions as F

    recs = read_warc(spark, path)
    # byte-preserving binary search-and-slice: ISO-8859-1 maps every byte to
    # one char losslessly, so decode -> locate -> substring -> encode slices
    # the ORIGINAL bytes (Spark has no binary locate)
    s = F.decode(F.col("payload"), "ISO-8859-1")
    idx = F.locate("\r\n\r\n", s)
    body = F.when(
        idx > 0,
        F.encode(F.substring(s, idx + F.lit(4), F.length(s)), "ISO-8859-1"),
    ).otherwise(F.col("payload"))
    return recs.filter(F.col("record_type").isin("response", "conversion")).select(
        F.col("url"),
        F.to_timestamp(F.col("warc_date")).alias("warc_ts"),
        F.when(F.col("record_type") == "response", body).alias("html"),
        F.when(
            F.col("record_type") == "conversion",
            F.decode(F.col("payload"), "UTF-8"),
        ).alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
