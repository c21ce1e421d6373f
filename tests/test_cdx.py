"""CDXJ index records (sources/cdx.py): the cc-index row projection."""

from webcrawler_spark.sources import cdx as CDX


def _pages(spark, n=40):
    rows = [
        (
            f"https://host{i % 7}.example.com/page/{i}",
            f"body of page {i} " * (1 + i % 3),
            str(20260101000000 + i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, content string, fetch_ts string")


def test_cdx_records_projection(spark):
    import hashlib

    recs = CDX.cdx_records(_pages(spark, 5), content_col="content", ts_col="fetch_ts")
    got = {r["url"]: r for r in recs.collect()}
    assert len(got) == 5
    r = got["https://host1.example.com/page/1"]
    body = "body of page 1 " * 2
    assert r["surt"] == "com,example,host1)/page/1"
    assert r["digest"] == hashlib.sha256(body.encode()).hexdigest()
    assert r["length"] == len(body.encode())
    assert r["mime"] == "text/html" and r["status"] == 200
    assert r["ts"] == "20260101000001"
