"""WARC/WET source: serializer/parser roundtrip, gzip modes, file reader."""

import gzip

from webcrawler_spark.sources import warc as W


def _blob():
    recs = [
        W.record_bytes(
            "https://a.example.com/x",
            "2026-01-01T00:00:00Z",
            b"HTTP/1.1 200 OK\r\n\r\n<html>hi</html>",
        ),
        W.wet_record_bytes(
            "https://b.example.com/y", "2026-01-02T00:00:00Z", "plain text body"
        ),
    ]
    # a warcinfo record (no Target-URI) that the parser must skip
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:x:1>\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Type: application/warc-fields\r\n"
        b"Content-Length: 9\r\n\r\nsoftware\n\r\n\r\n"
    )
    return info + recs[0] + recs[1]


def test_parse_roundtrip_plain_and_gzip_modes():
    blob = _blob()
    for data in (
        blob,
        gzip.compress(blob),
        # per-record gzip members, as Common Crawl ships
        b"".join(gzip.compress(chunk) for chunk in [blob[:200], blob[200:]]),
    ):
        got = list(W.parse_warc(data))
        assert [r["url"] for r in got] == [
            "https://a.example.com/x",
            "https://b.example.com/y",
        ]
        assert got[0]["record_type"] == "response"
        assert got[1]["record_type"] == "conversion"
        assert got[1]["payload"] == b"plain text body"
        assert got[0]["payload"].endswith(b"</html>")


def test_parser_resyncs_past_garbage():
    rec = W.wet_record_bytes("https://c.example.com/z", "2026-01-01T00:00:00Z", "ok")
    got = list(W.parse_warc(b"garbage prefix bytes\r\n\r\n" + rec))
    assert [r["url"] for r in got] == ["https://c.example.com/z"]
    assert got[0]["payload"] == b"ok"


def test_record_id_is_deterministic():
    a = W.record_bytes("https://d.example.com", "2026-01-01T00:00:00Z", b"p")
    b = W.record_bytes("https://d.example.com", "2026-01-01T00:00:00Z", b"p")
    assert a == b


def test_read_warc_spark_source(spark, tmp_path):
    d = tmp_path / "archives"
    d.mkdir()
    (d / "part1.warc").write_bytes(_blob())
    (d / "part2.warc.gz").write_bytes(gzip.compress(_blob()))
    df = W.read_warc(spark, str(d))
    rows = df.select("url", "record_type", "payload").collect()
    assert len(rows) == 4  # 2 records per file, warcinfo skipped
    assert {r["url"] for r in rows} == {
        "https://a.example.com/x",
        "https://b.example.com/y",
    }
    assert all(
        bytes(r["payload"]) == b"plain text body"
        for r in rows
        if r["record_type"] == "conversion"
    )
    # plan shape: a flat ArrowEvalPython-free mapInPandas over binaryFile —
    # no shuffle anywhere
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pages_from_warc_feeds_pipeline(spark, tmp_path):
    """WARC archives land in the crawl pipeline's page-table shape: HTTP
    headers stripped from response bodies, WET text decoded, and the frame
    accepted by plans.epoch.prepare_pages."""
    from webcrawler_spark.plans import epoch as E

    d = tmp_path / "cc"
    d.mkdir()
    (d / "seg.warc").write_bytes(_blob())
    # a Common-Crawl-style WET shard: one gzip member per record, UTF-8 text
    (d / "wet.warc.gz").write_bytes(
        gzip.compress(W.wet_record_bytes("https://c.example.com/u", "2026-01-01T00:00:00Z", "wet text é"))
        + gzip.compress(W.wet_record_bytes("https://c.example.com/v", "2026-01-01T00:00:00Z", "two"))
    )
    pages = W.pages_from_warc(spark, str(d))
    rows = {r["url"]: r for r in pages.collect()}
    assert rows["https://c.example.com/u"]["text"] == "wet text é"
    assert rows["https://c.example.com/v"]["text"] == "two"
    resp = rows["https://a.example.com/x"]
    assert bytes(resp["html"]) == b"<html>hi</html>"  # headers stripped
    assert resp["text"] is None and resp["warc_ts"] is not None
    wet = rows["https://b.example.com/y"]
    assert wet["html"] is None and wet["text"] == "plain text body"

    prepared = E.prepare_pages(pages)
    got = {r["url_norm"]: r for r in prepared.collect()}
    assert "https://a.example.com/x" in got
    assert bytes(got["https://a.example.com/x"]["html"]) == b"<html>hi</html>"


def test_parser_framing_survives_hostile_payloads():
    """Content-Length framing, not delimiter scanning: payloads that embed
    CRLF CRLF and even fake 'WARC/1.0' headers must round-trip intact."""
    import random

    rnd = random.Random(13)
    hostile = [
        b"\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99\r\n\r\n",
        b"plain",
        b"",
        bytes(rnd.randrange(256) for _ in range(512)),
        b"ends with separator\r\n\r\n",
    ]
    blob = b"".join(
        W.record_bytes(f"https://h.example.com/{i}", "2026-01-01T00:00:00Z", p)
        for i, p in enumerate(hostile)
    )
    for data in (blob, __import__("gzip").compress(blob)):
        got = list(W.parse_warc(data))
        assert [r["url"] for r in got] == [
            f"https://h.example.com/{i}" for i in range(len(hostile))
        ]
        assert [r["payload"] for r in got] == hostile
