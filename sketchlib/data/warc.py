"""WARC source/sink: ingest Common-Crawl-style web archives into the
``pages`` schema (ISO 28500 / WARC 1.0 — the public format CC publishes;
no reference analogue, SURVEY.md §2.1 "scans & sources").

The 100 TB shape
----------------
A Common-Crawl snapshot is ~90k WARC files of ~1 GB gzip each.
:func:`read_warc` loads them with Spark's ``binaryFile`` source — one row
(one whole file) per task, so parallelism = number of files, which is
exactly the granularity a 1000-executor cluster wants.  Each task then
decompresses and parses ITS file in a vectorized pandas kernel and emits
typed rows ``(warc_file, url, warc_ts, http_status, content_type,
html)`` — the ``BASELINE.json.input_hint`` pages schema (join
:func:`sketchlib.data.pages.extract_text_expr` downstream for ``text``).
Memory bound: one decompressed file per task (~4-5 GB for a CC segment)
— size executors accordingly (docs/RUNBOOK.md) or pre-split oversized
archives; the parser itself is streaming (no per-record copies of the
whole buffer).

Robustness contract (the ``try_parse_url`` lesson — one malformed file
must not kill a 100k-file job): ``on_error="null"`` (default) gives
malformed FILES a single all-null row carrying ``warc_file`` + the error
text in ``parse_error`` so they are countable and retrievable;
``"raise"`` propagates (debugging).  Within a well-formed prefix,
records after structural corruption are unreachable (record boundaries
are length-delimited), so the parser keeps every record before the
corruption point and reports the tail through the same channel.

The writer (:func:`build_warc` / :func:`warc_response_bytes`) exists for
fixtures, tests, and the round-trip driver gate; it is deterministic
byte-for-byte (gzip ``mtime=0``, record ids derived from content, no
wall clock) so golden files stay stable.
"""

from __future__ import annotations

import gzip
import hashlib
import uuid
import zlib
from typing import Iterator

_CRLF2 = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b"


# --------------------------------------------------------------------------
# decompression


#: per-iteration feed size for the member loop: large enough that a
#: typical CC record (a few KB compressed) costs ONE slice, small enough
#: that per-member slicing stays O(chunk), not O(remaining file)
_GZ_CHUNK = 1 << 16


def _gunzip_stream(data: bytes, strict: bool) -> bytes:
    """O(n) multi-member decompression.  The two naive shapes are both
    pathological on per-record-gzipped CC segments (~6k members/MB):
    feeding a ``decompressobj`` the whole remaining buffer re-copies it
    per member via ``unused_data`` (quadratic memcpy), and
    ``gzip.decompress`` pays ~0.4 ms of Python-level header machinery
    per member (measured 3x slower than even the quadratic loop at 3 MB)
    — so this loop feeds bounded chunks from a memoryview: per-member
    cost is O(member + chunk), file cost O(n).

    ``strict=True`` raises ``ValueError`` on truncation / corruption /
    trailing garbage; ``strict=False`` returns everything decoded before
    the problem (the length-delimited record parse then stops at the
    ragged tail)."""
    mv = memoryview(data)
    out = []
    pos, n = 0, len(data)
    while pos < n:
        if data[pos:pos + 2] != _GZ_MAGIC:
            if strict:
                raise ValueError("trailing garbage after gzip member")
            break
        d = zlib.decompressobj(wbits=47)  # gzip wrapper
        while True:
            chunk = mv[pos:pos + _GZ_CHUNK]
            try:
                out.append(d.decompress(chunk))
            except zlib.error as exc:
                if strict:
                    raise ValueError(f"corrupt gzip data: {exc}") from exc
                return b"".join(out)
            pos += len(chunk) - len(d.unused_data)
            if d.eof:
                break
            if pos >= n:
                if strict:
                    raise ValueError("truncated gzip member")
                return b"".join(out)
    return b"".join(out)


def gunzip_members(data: bytes) -> bytes:
    """Decompress multi-member gzip (CC WARCs are one gzip member per
    record, concatenated).  Plain bytes pass through untouched.  Raises
    ``ValueError`` on any corruption (zlib's exception types are
    translated — callers catch ONE exception type)."""
    if not data.startswith(_GZ_MAGIC):
        return data
    return _gunzip_stream(data, strict=True)


def _gunzip_prefix(data: bytes) -> bytes:
    """Best-effort variant: every byte decodable before the first
    corruption (CC gzips one record per member, so a truncated file
    still surrenders all its complete records)."""
    return _gunzip_stream(data, strict=False)


# --------------------------------------------------------------------------
# record-level parsing


def _parse_header_block(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # [0] is the version line
        k, sep, v = line.partition(b":")
        if sep:
            val = v.strip()
            try:
                # WARC header values are UTF-8 (ISO 28500 §4); fall back
                # to latin-1 so a nonconforming byte never kills a file
                decoded = val.decode("utf-8")
            except UnicodeDecodeError:
                decoded = val.decode("latin-1")
            headers[k.strip().decode("latin-1").lower()] = decoded
    return headers


def iter_warc_records(data: bytes,
                      on_error: str = "stop"
                      ) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield ``(warc_headers, block)`` per record.  ``warc_headers`` keys
    are lower-cased; ``block`` is the raw record body (for ``response``
    records, an HTTP response).  Gzip input is decompressed first.

    ``on_error="stop"`` stops at the first structural corruption (later
    records are unreachable anyway — boundaries are length-delimited);
    ``"raise"`` raises ``ValueError`` instead."""
    if on_error not in ("stop", "raise"):
        raise ValueError("on_error must be 'stop' or 'raise'")
    if on_error == "stop" and data.startswith(_GZ_MAGIC):
        # stop-mode contract extends through decompression: a corrupt or
        # truncated member keeps every record before it (one member per
        # record in CC archives) instead of discarding the whole file
        try:
            data = gunzip_members(data)
        except ValueError:
            data = _gunzip_prefix(data)
    else:
        data = gunzip_members(data)
    pos, n = 0, len(data)
    while pos < n:
        # tolerate inter-record blank lines
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            return
        bad = None
        if not data.startswith(b"WARC/", pos):
            bad = f"expected WARC/ magic at byte {pos}"
        else:
            hdr_end = data.find(_CRLF2, pos)
            if hdr_end < 0:
                bad = f"unterminated record header at byte {pos}"
        if bad is None:
            headers = _parse_header_block(data[pos:hdr_end])
            try:
                clen = int(headers["content-length"])
                if clen < 0:
                    raise ValueError
            except (KeyError, ValueError):
                bad = f"missing/invalid Content-Length at byte {pos}"
        if bad is None:
            body_start = hdr_end + 4
            if body_start + clen > n:
                bad = (f"record at byte {pos} overruns buffer "
                       f"(Content-Length {clen})")
        if bad is not None:
            if on_error == "raise":
                raise ValueError(bad)
            return
        yield headers, data[body_start:body_start + clen]
        pos = body_start + clen


def _dechunk(body: bytes) -> bytes:
    out, pos = [], 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("truncated chunked encoding")
        size = int(body[pos:eol].split(b";")[0], 16)
        if size == 0:
            return b"".join(out)
        start = eol + 2
        out.append(body[start:start + size])
        pos = start + size + 2  # skip chunk-data CRLF


def parse_http_response(block: bytes) -> tuple[int | None, dict[str, str],
                                               bytes]:
    """Split an HTTP response block into (status, headers, payload).
    Transfer-Encoding: chunked payloads are de-chunked.  A block that is
    not an HTTP response (no header terminator / status line) comes back
    as ``(None, {}, block)`` — the raw bytes are never lost."""
    sep = block.find(_CRLF2)
    if sep < 0:
        return None, {}, block
    head, payload = block[:sep], block[sep + 4:]
    lines = head.split(b"\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        return None, {}, block
    try:
        status = int(parts[1])
    except ValueError:
        return None, {}, block
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, s, v = line.partition(b":")
        if s:
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1"))
    if "chunked" in headers.get("transfer-encoding", "").lower():
        try:
            payload = _dechunk(payload)
        except ValueError:
            pass  # keep raw payload; malformed chunking must not drop data
    return status, headers, payload


# --------------------------------------------------------------------------
# writer (fixtures / golden files / round-trip gate)


def warc_response_bytes(url: str, date_iso: str, payload: bytes,
                        status: int = 200,
                        content_type: str = "text/html; charset=utf-8",
                        gzip_record: bool = False) -> bytes:
    """One deterministic WARC ``response`` record (record id derived from
    (url, date) — no wall clock, no RNG; ``gzip_record`` wraps it as its
    own gzip member with ``mtime=0``, the CC layout)."""
    # every caller-settable header value is framing-sensitive: a stray
    # CR/LF in any of them silently corrupts record framing for all
    # subsequent records (ADVICE r5) — check BEFORE building any block
    for name, val in (("url", url), ("date_iso", date_iso),
                      ("content_type", content_type)):
        if any(c in "\r\n" for c in val):
            raise ValueError(
                f"{name} must not contain CR/LF (header injection)")
    http = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode("ascii") + payload
    rid = uuid.UUID(bytes=hashlib.md5(
        f"{url}|{date_iso}".encode()).digest())
    # WARC header field values are UTF-8 (ISO 28500 §4) — a raw IRI url
    # must not crash the writer even though crawlers normally
    # percent-encode first
    rec = (f"WARC/1.0\r\n"
           f"WARC-Type: response\r\n"
           f"WARC-Target-URI: {url}\r\n"
           f"WARC-Date: {date_iso}\r\n"
           f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
           f"Content-Type: application/http; msgtype=response\r\n"
           f"Content-Length: {len(http)}\r\n\r\n"
           ).encode("utf-8") + http + b"\r\n\r\n"
    return gzip.compress(rec, mtime=0) if gzip_record else rec


def build_warc(records, gzip_records: bool = False) -> bytes:
    """Concatenate ``(url, date_iso, payload)`` triples (or dicts with
    those keys plus optional ``status`` / ``content_type``) into one WARC
    buffer."""
    out = []
    for r in records:
        if isinstance(r, dict):
            out.append(warc_response_bytes(
                r["url"], r["date_iso"], r["payload"],
                status=r.get("status", 200),
                content_type=r.get("content_type",
                                   "text/html; charset=utf-8"),
                gzip_record=gzip_records))
        else:
            url, date_iso, payload = r
            out.append(warc_response_bytes(url, date_iso, payload,
                                           gzip_record=gzip_records))
    return b"".join(out)


# --------------------------------------------------------------------------
# Spark source


PAGES_FIELDS = ("url", "warc_ts", "http_status", "content_type", "html")


def _pages_frame(urls, tss, statuses, ctypes, payloads):
    import pandas as pd

    return pd.DataFrame({
        "url": pd.Series(urls, dtype="object"),
        "warc_ts": pd.to_datetime(
            pd.Series(tss, dtype="object"), utc=True,
            format="ISO8601", errors="coerce").dt.tz_localize(None),
        "http_status": pd.Series(statuses, dtype="Int32"),
        "content_type": pd.Series(ctypes, dtype="object"),
        "html": pd.Series(payloads, dtype="object"),
    })


def records_frames(data: bytes, on_error: str = "stop",
                   chunk_records: int = 8192):
    """Parse one WARC buffer into a STREAM of pandas DataFrames of at
    most ``chunk_records`` rows each — the shared kernel of
    :func:`read_warc` and the round-trip gate.  Only ``response``
    records become rows (request/metadata/warcinfo are skipped, per the
    pages-table contract); ``warc_ts`` is a tz-naive UTC datetime64
    (the repo-wide pages-table convention).  Chunking bounds peak task
    memory at (decompressed buffer + one chunk of payload copies)
    instead of (buffer + EVERY payload at once) — on a ~5 GB
    decompressed CC segment that halves the task's footprint."""
    urls, tss, statuses, ctypes, payloads = [], [], [], [], []
    it = iter_warc_records(data, on_error=on_error)
    while True:
        try:
            headers, block = next(it)
        except StopIteration:
            break
        except ValueError:
            # flush the good prefix BEFORE propagating, so a caller
            # catching the error still has every record parsed so far
            if urls:
                yield _pages_frame(urls, tss, statuses, ctypes, payloads)
            raise
        if headers.get("warc-type") != "response":
            continue
        status, http_headers, payload = parse_http_response(block)
        urls.append(headers.get("warc-target-uri"))
        tss.append(headers.get("warc-date"))
        statuses.append(status)
        ctypes.append(http_headers.get("content-type"))
        payloads.append(payload)
        if len(urls) >= chunk_records:
            yield _pages_frame(urls, tss, statuses, ctypes, payloads)
            urls, tss, statuses, ctypes, payloads = [], [], [], [], []
    if urls:
        yield _pages_frame(urls, tss, statuses, ctypes, payloads)


def records_frame(data: bytes, on_error: str = "stop"):
    """One-frame convenience over :func:`records_frames` (small buffers
    — fixtures, the round-trip gate)."""
    import pandas as pd

    frames = list(records_frames(data, on_error=on_error))
    if not frames:
        return _pages_frame([], [], [], [], [])
    return pd.concat(frames, ignore_index=True)


def read_warc(spark, paths, on_error: str = "null"):
    """WARC files -> pages-shaped DataFrame ``(warc_file, url, warc_ts,
    http_status, content_type, html, parse_error)``.

    ``binaryFile`` source: one file per task (parallelism = file count —
    the CC-snapshot granularity); the file is decompressed once and its
    records stream out in bounded chunks (``records_frames``), so peak
    task memory is the decompressed buffer plus ONE chunk of payload
    copies, not the whole file twice.  ``on_error="null"`` (default)
    keeps every record parsed before a corruption point AND appends one
    row with null page fields carrying the error in ``parse_error``
    (count the bad files, re-crawl them — never kill the job);
    ``"raise"`` fails the task.  Project/filter downstream as usual —
    the parse cost is per-file either way, but column pruning keeps the
    Arrow exchange narrow."""
    from pyspark.sql import types as T

    if on_error not in ("null", "raise"):
        raise ValueError("on_error must be 'null' or 'raise'")

    schema = T.StructType([
        T.StructField("warc_file", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("parse_error", T.StringType()),
    ])

    def kernel(batches):
        import pandas as pd

        def _error_row(path, msg):
            return pd.DataFrame({
                "warc_file": pd.Series([path], dtype="object"),
                "url": pd.Series([None], dtype="object"),
                "warc_ts": pd.Series(
                    [pd.NaT], dtype="datetime64[us]"),
                "http_status": pd.Series([None], dtype="Int32"),
                "content_type": pd.Series([None], dtype="object"),
                "html": pd.Series([None], dtype="object"),
                "parse_error": pd.Series([msg], dtype="object"),
            })

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                # decompress FIRST with prefix recovery, so a .warc.gz
                # truncated or corrupted mid-member (the realistic CC
                # failure) still surrenders every record gzipped before
                # the corruption point — strict decompression inside the
                # raise-mode record parser would discard the whole file
                # before any record was yielded, contradicting the
                # documented keep-prefix-and-flag contract
                err = None
                if data.startswith(_GZ_MAGIC):
                    try:
                        data = gunzip_members(data)
                    except ValueError as exc:
                        if on_error == "raise":
                            raise
                        err = str(exc)
                        data = _gunzip_prefix(data)
                try:
                    for frame in records_frames(data, on_error="raise"):
                        frame.insert(0, "warc_file", path)
                        frame["parse_error"] = pd.Series(
                            [None] * len(frame), dtype="object")
                        yield frame
                except ValueError as exc:
                    if on_error == "raise":
                        raise
                    # a recovered gzip prefix usually ends mid-record:
                    # keep the gzip root cause ahead of the structural error
                    err = str(exc) if err is None else f"{err}; {exc}"
                if err is not None:
                    yield _error_row(path, err)

    src = spark.read.format("binaryFile").load(paths)
    return src.select("path", "content").mapInPandas(kernel, schema=schema)


def write_warc(df, out_dir: str, url_col: str = "url",
               ts_col: str = "warc_ts", payload_col: str = "html",
               shards: int | None = None,
               gzip_records: bool = True) -> list[dict]:
    """Distributed WARC sink: one ``part-{partition:05d}.warc[.gz]`` file
    per partition of ``df`` under ``out_dir`` (a path every executor can
    reach — local-mode dir, NFS, or an object-store mount; pass
    ``shards`` to repartition first).  Returns the manifest
    ``[{file, n_records, n_bytes}, ...]``.

    Timestamp precision: ``WARC-Date`` is written at WHOLE-SECOND
    precision (``%Y-%m-%dT%H:%M:%SZ``), so a read->write->read round trip
    truncates sub-second components a source timestamp may carry (WARC
    1.0 permits ISO 8601 subseconds; this writer deliberately emits the
    second-granularity form every consumer accepts).  Pre-truncate
    ``ts_col`` if bit-exact round-tripping of microsecond timestamps
    matters.

    Idempotent under task retries: each task writes a temp file and
    renames it into place (rename is atomic on POSIX), and the file name
    is a pure function of the partition id, so a retry overwrites its
    own output rather than duplicating records.  Rows with a null url or
    payload are skipped (counted out of the manifest); ``warc_ts`` may
    be null (epoch is written).  Records within a file follow the
    partition's row order."""
    import os

    import pandas as pd
    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    if shards is not None:
        df = df.repartition(shards)
    cols = [url_col, ts_col, payload_col]
    ext = ".warc.gz" if gzip_records else ".warc"

    def sink(batches):
        recs = []
        for pdf in batches:
            for url, ts, payload in zip(pdf[url_col], pdf[ts_col],
                                        pdf[payload_col]):
                if url is None or payload is None:
                    continue
                ts = pd.Timestamp(0) if pd.isna(ts) else pd.Timestamp(ts)
                recs.append((str(url),
                             ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                             bytes(payload)))
        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}{ext}"
        data = build_warc(recs, gzip_records=gzip_records)
        tmp = os.path.join(out_dir, f".{name}.attempt-"
                           f"{TaskContext.get().taskAttemptId()}")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(out_dir, name))
        yield pd.DataFrame({"file": [name],
                            "n_records": [len(recs)],
                            "n_bytes": [len(data)]})

    manifest = (df.select(*cols)
                .mapInPandas(sink,
                             "file string, n_records long, n_bytes long")
                .collect())
    return sorted((r.asDict() for r in manifest), key=lambda d: d["file"])


def warc_to_pages(spark, paths, on_error: str = "null"):
    """WARC files -> the full ``pages`` table of ``BASELINE.json``:
    ``(url, warc_ts, html, text, lang)`` + ``day`` partition key.

    Composes :func:`read_warc` with the frozen extraction
    (:func:`sketchlib.data.pages.extract_text_expr` — the north-rule
    byte-identity invariant) and the n-gram language heuristic
    (:func:`sketchlib.text.analysis.lang_id`), all JVM column
    expressions in the same stage as the parse output — one pass, no
    shuffle.  Unparseable files are dropped here (read with
    :func:`read_warc` directly to audit them); write the result
    partitioned by ``(lang, day)`` per docs/RUNBOOK.md."""
    from pyspark.sql import functions as F

    from ..text.analysis import lang_id
    from .pages import extract_text_expr

    df = read_warc(spark, paths, on_error=on_error)
    if on_error == "null":
        df = df.filter(df.parse_error.isNull())
    text = extract_text_expr(F.col("html"))
    return (df.withColumn("text", text)
            .withColumn("lang", lang_id(F.col("text")))
            .withColumn("day", F.to_date("warc_ts"))
            .select("url", "warc_ts", "html", "text", "lang", "day"))
