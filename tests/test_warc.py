"""WARC source/sink (sketchlib/data/warc.py): writer->parser round trip
(plain + per-record gzip), HTTP parsing incl. chunked transfer encoding,
corruption tolerance, and the Spark binaryFile read path."""

import gzip

import pytest

from sketchlib.data.warc import (build_warc, gunzip_members,
                                 iter_warc_records, parse_http_response,
                                 read_warc, records_frame,
                                 warc_response_bytes)

RECS = [
    ("https://a.example.com/1", "2026-01-01T00:00:01Z", "hello world".encode()),
    ("https://b.example.com/2", "2026-01-02T03:04:05Z",
     "unicode: café 日本語".encode()),
    ("https://c.example.com/3", "2026-01-03T00:00:00Z", b"\x00\x01binary\xff"),
]


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip(gz):
    buf = build_warc(RECS, gzip_records=gz)
    out = list(iter_warc_records(buf, on_error="raise"))
    assert len(out) == 3
    for (url, date, payload), (headers, block) in zip(RECS, out):
        assert headers["warc-target-uri"] == url
        assert headers["warc-date"] == date
        assert headers["warc-type"] == "response"
        status, http, body = parse_http_response(block)
        assert status == 200
        assert body == payload
        assert http["content-length"] == str(len(payload))


def test_writer_deterministic():
    assert build_warc(RECS, gzip_records=True) == build_warc(
        RECS, gzip_records=True)
    # record ids are content-derived, not random
    a = warc_response_bytes("https://x/1", "2026-01-01T00:00:00Z", b"p")
    b = warc_response_bytes("https://x/1", "2026-01-01T00:00:00Z", b"p")
    assert a == b
    assert b"urn:uuid:" in a


def test_gunzip_multi_member():
    raw = b"abc" * 1000
    multi = gzip.compress(raw[:1500], mtime=0) + gzip.compress(
        raw[1500:], mtime=0)
    assert gunzip_members(multi) == raw
    assert gunzip_members(raw) == raw  # passthrough
    with pytest.raises(ValueError, match="truncated"):
        gunzip_members(gzip.compress(raw)[:40])
    with pytest.raises(ValueError, match="trailing garbage"):
        gunzip_members(gzip.compress(raw, mtime=0) + b"junk")


def test_chunked_http():
    payload = (b"HTTP/1.1 200 OK\r\ntransfer-encoding: chunked\r\n\r\n"
               b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n")
    status, headers, body = parse_http_response(payload)
    assert (status, body) == (200, b"hello world")


def test_non_http_block_kept_raw():
    status, headers, body = parse_http_response(b"not http at all")
    assert status is None and body == b"not http at all"


def test_corruption_stop_and_raise():
    buf = build_warc(RECS)
    cut = buf[: buf.find(b"WARC/1.0", 10) + 4]  # second record truncated
    got = list(iter_warc_records(cut, on_error="stop"))
    assert len(got) == 1  # first record survives
    with pytest.raises(ValueError):
        list(iter_warc_records(cut, on_error="raise"))
    with pytest.raises(ValueError):
        list(iter_warc_records(b"GARBAGE" + buf, on_error="raise"))
    assert list(iter_warc_records(b"GARBAGE" + buf)) == []


def test_records_frame_types():
    frame = records_frame(build_warc(RECS, gzip_records=True))
    assert list(frame["url"]) == [u for u, _, _ in RECS]
    assert str(frame["warc_ts"].dtype).startswith("datetime64")
    assert frame["warc_ts"].dt.tz is None  # tz-naive UTC, pages convention
    assert int(frame["warc_ts"].iloc[0].timestamp()) == 1767225601
    assert list(frame["http_status"]) == [200, 200, 200]
    assert bytes(frame["html"].iloc[2]) == RECS[2][2]


def test_read_warc_spark(spark, tmp_path):
    (tmp_path / "f1.warc.gz").write_bytes(build_warc(RECS[:2],
                                                     gzip_records=True))
    (tmp_path / "f2.warc").write_bytes(build_warc(RECS[2:]))
    (tmp_path / "bad.warc").write_bytes(b"NOT A WARC FILE")
    df = read_warc(spark, str(tmp_path)).cache()
    try:
        ok = df.filter(df.parse_error.isNull()).orderBy("url").collect()
        assert [r["url"] for r in ok] == [u for u, _, _ in RECS]
        assert [bytes(r["html"]) for r in ok] == [p for _, _, p in RECS]
        assert [r["warc_ts"].isoformat() for r in ok] == [
            "2026-01-01T00:00:01", "2026-01-02T03:04:05",
            "2026-01-03T00:00:00"]
        bad = df.filter(df.parse_error.isNotNull()).collect()
        assert len(bad) == 1 and bad[0]["warc_file"].endswith("bad.warc")
        assert bad[0]["url"] is None
        with pytest.raises(Exception):
            read_warc(spark, str(tmp_path), on_error="raise").count()
    finally:
        df.unpersist()


def test_warc_to_pages(spark, tmp_path):
    from sketchlib.data.pages import wrap_html
    from sketchlib.data.warc import warc_to_pages

    recs = [("https://p.example.com/en", "2026-01-04T00:00:00Z",
             wrap_html("the quick brown fox and the lazy dog of it",
                       "t1")),
            ("https://p.example.com/ru", "2026-01-05T12:00:00Z",
             wrap_html("слово один слово два слово три слово четыре",
                       "t2"))]
    (tmp_path / "p.warc.gz").write_bytes(build_warc(recs,
                                                    gzip_records=True))
    rows = warc_to_pages(spark, str(tmp_path)).orderBy("url").collect()
    assert [r["url"] for r in rows] == [u for u, _, _ in recs]
    # extraction inverts wrap_html byte-identically (north-rule invariant)
    assert rows[0]["text"] == "the quick brown fox and the lazy dog of it"
    assert rows[1]["text"] == "слово один слово два слово три слово четыре"
    assert rows[0]["lang"] == "en"
    assert rows[1]["lang"] == "ru"
    assert str(rows[0]["day"]) == "2026-01-04"
    assert set(rows[0].asDict()) == {"url", "warc_ts", "html", "text",
                                     "lang", "day"}


def test_write_warc_sink(spark, tmp_path):
    from pyspark.sql import Row

    from sketchlib.data.warc import read_warc, write_warc

    import datetime
    rows = [Row(url=f"https://s.example.com/{i}",
                warc_ts=datetime.datetime(2026, 1, 1, 0, 0, i),
                html=f"payload {i}".encode()) for i in range(20)]
    rows.append(Row(url=None, warc_ts=None, html=b"skipped"))
    rows.append(Row(url="https://s.example.com/nullts", warc_ts=None,
                    html=b"epoch ts"))
    df = spark.createDataFrame(rows)
    out = str(tmp_path / "sink")
    manifest = write_warc(df, out, shards=3)
    assert [m["file"] for m in manifest] == [
        "part-00000.warc.gz", "part-00001.warc.gz", "part-00002.warc.gz"]
    assert sum(m["n_records"] for m in manifest) == 21  # null url skipped
    back = read_warc(spark, out).orderBy("url").collect()
    assert len(back) == 21
    assert all(r["parse_error"] is None for r in back)
    by_url = {r["url"]: r for r in back}
    assert bytes(by_url["https://s.example.com/7"]["html"]) == b"payload 7"
    assert by_url["https://s.example.com/7"]["warc_ts"].second == 7
    assert by_url["https://s.example.com/nullts"]["warc_ts"].year == 1970


def test_unicode_url_roundtrip():
    url = "https://例え.jp/パス?q=café"
    buf = warc_response_bytes(url, "2026-01-01T00:00:00Z", b"p",
                              gzip_record=True)
    [(headers, block)] = list(iter_warc_records(buf, on_error="raise"))
    assert headers["warc-target-uri"] == url
    with pytest.raises(ValueError, match="CR/LF"):
        warc_response_bytes("https://x/\r\nWARC-Type: evil",
                            "2026-01-01T00:00:00Z", b"p")


def test_fuzz_truncation_yields_prefix():
    """Every truncation of a valid buffer yields a PREFIX of the true
    records under on_error='stop' (never a wrong slice, never a crash)."""
    buf = build_warc(RECS)
    truth = [(h["warc-target-uri"], b) for h, b in iter_warc_records(buf)]
    import random
    rng = random.Random(42)
    cuts = sorted(rng.sample(range(len(buf)), 60)) + [len(buf) - 1]
    for cut in cuts:
        got = [(h["warc-target-uri"], b)
               for h, b in iter_warc_records(buf[:cut])]
        assert got == truth[:len(got)]
        assert len(got) <= len(truth)


def test_fuzz_byte_flips_never_crash():
    """Arbitrary single-byte corruption either still parses (stop mode)
    or raises a clean ValueError (raise mode) — no other exception type,
    no hang, and every yielded block is a bytes object."""
    buf = build_warc(RECS)
    import random
    rng = random.Random(7)
    for _ in range(80):
        i = rng.randrange(len(buf))
        mutated = buf[:i] + bytes([buf[i] ^ 0xFF]) + buf[i + 1:]
        for h, b in iter_warc_records(mutated, on_error="stop"):
            assert isinstance(b, bytes)
        try:
            for h, b in iter_warc_records(mutated, on_error="raise"):
                parse_http_response(b)
        except ValueError:
            pass


def test_fuzz_random_garbage_never_crashes():
    import random
    rng = random.Random(99)
    for n in (0, 1, 7, 64, 4096):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert list(iter_warc_records(data, on_error="stop")) == []


def test_gzip_corruption_contract():
    """Corrupt gzip raises ValueError (never zlib.error — read_warc's
    on_error='null' catches ValueError only), and stop mode keeps every
    record gzipped before the corruption point."""
    import zlib as _z

    buf = build_warc(RECS, gzip_records=True)
    truncated = buf[:-20]  # inside the third record's member
    got = list(iter_warc_records(truncated, on_error="stop"))
    assert [h["warc-target-uri"] for h, _ in got] == [
        u for u, _, _ in RECS[:2]]
    try:
        list(iter_warc_records(truncated, on_error="raise"))
        assert False, "should raise"
    except ValueError:
        pass
    except _z.error:
        assert False, "zlib.error escaped: read_warc would kill the job"
    # flip a byte inside the first member's deflate stream
    bad = buf[:30] + bytes([buf[30] ^ 0xFF]) + buf[31:]
    try:
        list(iter_warc_records(bad, on_error="raise"))
    except ValueError:
        pass
    list(iter_warc_records(bad, on_error="stop"))  # must not raise


def test_read_warc_partial_file_keeps_prefix(spark, tmp_path):
    """A file corrupted mid-archive yields its good-prefix records AND
    one parse_error row (countable + retrievable)."""
    buf = build_warc(RECS)  # plain: cut inside record 3's header
    cut = buf[: buf.rfind(b"WARC/1.0") + 30]
    (tmp_path / "partial.warc").write_bytes(cut)
    df = read_warc(spark, str(tmp_path))
    rows = df.collect()
    good = [r for r in rows if r["parse_error"] is None]
    bad = [r for r in rows if r["parse_error"] is not None]
    assert sorted(r["url"] for r in good) == [u for u, _, _ in RECS[:2]]
    assert len(bad) == 1 and bad[0]["url"] is None


def test_read_warc_gzip_truncation_keeps_prefix(spark, tmp_path):
    """The realistic CC failure: a .warc.gz truncated mid-MEMBER.  The
    kernel must decompress with prefix recovery (not strict), so every
    record gzipped before the truncation point is kept AND one
    parse_error row is appended — the documented contract, previously
    only covered for uncompressed buffers (ADVICE r5)."""
    buf = build_warc(RECS, gzip_records=True)  # one gzip member/record
    # cut inside the LAST member: members 1..n-1 stay fully decodable
    cut = buf[: len(buf) - 37]
    (tmp_path / "trunc.warc.gz").write_bytes(cut)
    df = read_warc(spark, str(tmp_path))
    rows = df.collect()
    good = [r for r in rows if r["parse_error"] is None]
    bad = [r for r in rows if r["parse_error"] is not None]
    assert sorted(r["url"] for r in good) == sorted(
        u for u, _, _ in RECS[:-1])
    assert len(bad) == 1 and bad[0]["url"] is None


def test_warc_response_bytes_rejects_crlf_in_all_header_values(spark):
    """date_iso and content_type are framing-sensitive like url — a CR/LF
    in any of them must raise instead of silently corrupting the record
    stream (ADVICE r5)."""
    import pytest

    from sketchlib.data.warc import warc_response_bytes

    for kwargs in (
            dict(url="https://a/x\r\nWARC-Type: evil",
                 date_iso="2026-01-01T00:00:00Z"),
            dict(url="https://a/x", date_iso="2026-01-01T00:00:00Z\r\nX: y"),
            dict(url="https://a/x", date_iso="2026-01-01T00:00:00Z",
                 content_type="text/html\r\nX: y")):
        with pytest.raises(ValueError, match="CR/LF"):
            warc_response_bytes(payload=b"p", **kwargs)


def test_read_warc_gzip_truncation_keeps_both_errors(spark, tmp_path):
    """A .warc.gz truncated mid-member whose recovered prefix ends
    mid-record fails twice: gzip, then record framing.  parse_error must
    carry the gzip root cause as well as the structural error."""
    buf = build_warc(RECS, gzip_records=True)
    cut = buf[: len(buf) - 37]  # the prefix stops inside record 3
    (tmp_path / "trunc.warc.gz").write_bytes(cut)
    bad = read_warc(spark, str(tmp_path)).filter(
        "parse_error IS NOT NULL").collect()
    assert len(bad) == 1
    msg = bad[0]["parse_error"]
    assert "truncated gzip member" in msg
    assert "overruns buffer" in msg
