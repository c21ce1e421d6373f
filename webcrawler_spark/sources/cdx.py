"""CDXJ URL index records — the crawl-archive lookup index's row shape.

Third leg of the Common-Crawl artifact trio next to ``sources/warc.py``'s
WARC/WET source: the cc-index / Internet Archive CDXJ record
(``<SURT key> <14-digit timestamp> <JSON>``, public format). The reference
serves URL lookups from Elasticsearch (services/indexer/app.py mappings);
at archive scale the published answer is a sorted static index of these
records instead of a live cluster. ``cdx_records`` is the projection the
driver contract's ``cdx_index`` entry checks; sorting and sharding the
records into files is a plain ``repartitionByRange`` + file write left to
the caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import columns as C


def cdx_records(
    pages: DataFrame,
    url_col: str = "url",
    content_col: str = "content",
    ts_col: str | None = None,
    ts: str = "20260101000000",
    mime_col: str | None = None,
    status_col: str | None = None,
) -> DataFrame:
    """Project a page table into CDX index records:
    (surt, ts, url, digest, mime, status, length).

    digest = lowercase hex SHA-256 of the content (CC uses SHA-1; SHA-256
    is the stronger drop-in both engines share), length = content octet
    length, mime/status default to text/html + 200 when the table has no
    such columns. Pure codegen projection — `surt` via
    :func:`~webcrawler_spark.functions.columns.surt_key`.
    """
    ts_expr: Column = F.col(ts_col) if ts_col else F.lit(ts)
    mime = F.col(mime_col) if mime_col else F.lit("text/html")
    status = (
        F.col(status_col).cast("int") if status_col else F.lit(200)
    )
    return pages.select(
        C.surt_key(F.col(url_col)).alias("surt"),
        ts_expr.cast("string").alias("ts"),
        F.col(url_col).alias("url"),
        F.sha2(F.col(content_col).cast("string"), 256).alias("digest"),
        mime.alias("mime"),
        status.alias("status"),
        F.octet_length(F.col(content_col).cast("string")).alias("length"),
    )
