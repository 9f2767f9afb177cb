"""WARC source: read Common-Crawl-style WARC files into the PAGES schema.

Method sources (public): the WARC 1.0 format (ISO 28500 — records of
``WARC/1.0\\r\\n`` header block, ``Content-Length`` body, blank-line
terminators) and Common Crawl's cc-pyspark pattern (one WARC file per
task via a binary-file source; records parsed streaming inside the
task — the files are independently splittable units, so a 100 TB crawl
parallelizes by file with zero shuffle).

Scale design (this is the part that has to survive real crawl files —
~1 GB .warc.gz / 4-5 GB raw per Common Crawl segment):

* **Streaming decompression.** Common Crawl gzips each record as its
  own member; ``_gz_chunks`` walks the members with a per-member
  ``zlib.decompressobj(wbits=31)`` and yields bounded raw chunks — the
  full archive is NEVER materialized as one bytes object.
* **Streaming record parse.** ``iter_warc_records_stream`` keeps only
  the bytes of the record currently being assembled (peak ≈ one record
  + one read chunk), trimming consumed prefixes as it goes.
* **Bounded output batches.** ``read_warc_pages`` emits pandas frames
  capped at ``BATCH_ROWS`` rows / ``BATCH_BYTES`` of html per frame
  instead of one frame per file, so Arrow transfer and downstream
  per-batch memory stay flat regardless of file size.
* **No whole-file read for local paths.** Only the ``path`` column of
  the ``binaryFile`` source is selected (the format prunes ``content``
  when unselected), and the task opens the file itself and reads it in
  ``CHUNK_BYTES`` chunks. Non-local schemes (s3://, hdfs://) fall back
  to the ``content`` column — whole compressed file in memory, but
  decompression and parsing still stream.

The parser is deliberately tolerant (crawl WARCs are ragged): records
without a target URI / Content-Length, with a negative Content-Length,
or of types other than response/resource, are skipped, never raised,
and the scan always makes forward progress (no record is visited
twice).
"""

from __future__ import annotations

import io
from typing import IO, Iterator

from pyspark.sql import DataFrame, SparkSession

from webr import schema

_CRLF = b"\r\n"
_GZ_MAGIC = b"\x1f\x8b"

# read granularity for streaming file/gzip walks; also the floor of the
# parser's resident buffer (the ceiling is one full record)
CHUNK_BYTES = 1 << 20
# output batch caps for read_warc_pages
BATCH_ROWS = 2048
BATCH_BYTES = 64 << 20
# a WARC header block larger than this is corrupt — resync instead of
# buffering without bound
_MAX_HEADER_BYTES = 1 << 20


def warc_record_bytes(url: str, date: str, body: bytes,
                      warc_type: str = "response",
                      http_headers: bool = True) -> bytes:
    """One well-formed WARC record (writer twin of the parser — used by
    the sink test and the oracle query's synthesizer). ``date`` is the
    WARC-Date string (e.g. ``2024-01-01T00:00:00Z``). For ``response``
    records the body is wrapped in a minimal HTTP/1.1 response block
    (the shape Common Crawl stores); ``resource`` records carry the
    payload bare."""
    if warc_type == "response" and http_headers:
        payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                   + b"Content-Length: " + str(len(body)).encode()
                   + b"\r\n\r\n" + body)
    else:
        payload = body
    head = (b"WARC/1.0\r\n"
            + b"WARC-Type: " + warc_type.encode() + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"WARC-Date: " + date.encode() + _CRLF
            + b"Content-Length: " + str(len(payload)).encode() + _CRLF
            + _CRLF)
    return head + payload + _CRLF + _CRLF


def _split_http_payload(payload: bytes) -> bytes:
    """Drop the stored HTTP response headers, keep the entity body."""
    if payload[:5] in (b"HTTP/",):
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4:]
    return payload


# --------------------------------------------------------------------------
# streaming byte suppliers

def _raw_chunks(fobj: IO[bytes], chunk_bytes: int) -> Iterator[bytes]:
    while True:
        b = fobj.read(chunk_bytes)
        if not b:
            return
        yield b


def _gz_chunks(fobj: IO[bytes], chunk_bytes: int,
               head: bytes = b"") -> Iterator[bytes]:
    """Stream-decompress a (possibly multi-member) gzip stream into
    bounded raw chunks. One ``zlib.decompressobj(wbits=31)`` per member;
    at a member boundary the leftover compressed bytes seed the next
    member's object. A corrupt member or non-gzip trailing bytes end the
    walk (tolerant — what was already yielded stands)."""
    import zlib
    d = zlib.decompressobj(wbits=31)
    buf = head
    eof = False
    while True:
        if not buf and not eof:
            buf = fobj.read(chunk_bytes)
            if not buf:
                eof = True
        if not buf:
            return  # zlib needs more input but the stream is done
        try:
            out = d.decompress(buf)
        except zlib.error:
            return
        buf = b""
        if out:
            yield out
        if d.eof:
            rest = d.unused_data
            # the next member's 2-byte magic may straddle a read boundary
            while len(rest) < 2 and not eof:
                more = fobj.read(chunk_bytes)
                if not more:
                    eof = True
                else:
                    rest += more
            if rest[:2] == _GZ_MAGIC:
                d = zlib.decompressobj(wbits=31)
                buf = rest
            else:
                return


# --------------------------------------------------------------------------
# streaming record parser

def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF)[1:]:
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower().decode("ascii", "replace")] = \
                v.strip().decode("utf-8", "replace")
    return headers


def iter_warc_records_stream(chunks: Iterator[bytes]) -> Iterator[dict]:
    """Yield ``{url, date, html}`` for each response/resource record in a
    stream of raw (already-decompressed) byte chunks. Resident memory is
    bounded by one record + one chunk: consumed bytes are trimmed after
    every yield/skip. Ragged input skips, never raises, and every resync
    moves strictly forward."""
    buf = bytearray()
    done = False

    def pull() -> bool:
        nonlocal done
        if done:
            return False
        nxt = next(chunks, None)
        if nxt is None:
            done = True
            return False
        buf.extend(nxt)
        return True

    while True:
        # 1. locate the next record magic; drop everything before it
        while True:
            start = buf.find(b"WARC/")
            if start >= 0:
                break
            # keep a 4-byte tail (a magic split across chunk boundaries)
            if len(buf) > 4:
                del buf[:len(buf) - 4]
            if not pull():
                return
        if start > 0:
            del buf[:start]

        # 2. assemble the header block (bounded)
        while True:
            head_end = buf.find(b"\r\n\r\n")
            if head_end >= 0 or len(buf) > _MAX_HEADER_BYTES:
                break
            if not pull():
                break
        if head_end < 0:  # truncated/corrupt header: resync past magic
            del buf[:5]
            continue

        headers = _parse_headers(bytes(buf[:head_end]))
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            # unparseable or negative (crawl garbage) — never step
            # backwards: resync right after this record's magic
            del buf[:5]
            continue

        # 3. assemble the body; at EOF a truncated final body is yielded
        # as-is (same tolerance as the eager parser had)
        body_start = head_end + 4
        body_end = body_start + length
        while len(buf) < body_end:
            if not pull():
                break
        body = bytes(buf[body_start:min(body_end, len(buf))])
        del buf[:min(body_end, len(buf))]

        wtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri")
        if wtype in ("response", "resource") and url:
            yield {"url": url,
                   "date": headers.get("warc-date", ""),
                   "html": (_split_http_payload(body)
                            if wtype == "response" else body)}


def iter_warc_records_file(fobj: IO[bytes],
                           chunk_bytes: int = CHUNK_BYTES) -> Iterator[dict]:
    """Streaming record iterator over an open binary file object (plain
    or multi-member gzip, sniffed from the first two bytes)."""
    head = fobj.read(2)
    if head == _GZ_MAGIC:
        chunks = _gz_chunks(fobj, chunk_bytes, head=head)
    else:
        def chain() -> Iterator[bytes]:
            if head:
                yield head
            yield from _raw_chunks(fobj, chunk_bytes)
        chunks = chain()
    return iter_warc_records_stream(chunks)


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Back-compat eager-bytes entry point (tests, small blobs): same
    streaming walk over an in-memory buffer."""
    return iter_warc_records_file(io.BytesIO(data))


# --------------------------------------------------------------------------
# Spark source

def _local_path(path: str) -> str | None:
    """The openable filesystem path for a binaryFile row path, or None
    for non-local schemes."""
    if path.startswith("file:"):
        return path[5:]  # POSIX collapses any extra leading slashes
    if "://" not in path:
        return path
    return None


def _page_batches(records: Iterator[dict], batch_rows: int,
                  batch_bytes: int) -> Iterator["pd.DataFrame"]:
    """Pack parsed records into bounded pandas frames (PAGES schema;
    text/lang left empty — extraction is the pipeline's first stage)."""
    import pandas as pd

    def frame(rows: list[dict]) -> pd.DataFrame:
        pdf = pd.DataFrame(rows, columns=["url", "date", "html"])
        ts = pd.to_datetime(pdf.pop("date"), utc=True,
                            errors="coerce", format="ISO8601")
        pdf["warc_ts"] = ts.dt.tz_localize(None)
        pdf["text"] = ""
        pdf["lang"] = ""
        return pdf[["url", "warc_ts", "html", "text", "lang"]]

    rows: list[dict] = []
    nbytes = 0
    for rec in records:
        rows.append(rec)
        nbytes += len(rec["html"])
        if len(rows) >= batch_rows or nbytes >= batch_bytes:
            yield frame(rows)
            rows, nbytes = [], 0
    if rows:
        yield frame(rows)


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC files -> PAGES-schema DataFrame. One file per task
    (``binaryFile`` source), records parsed streaming inside the task;
    no shuffle. For local paths only the ``path`` column is read and the
    task streams the file itself in bounded chunks; non-local schemes
    read the ``content`` column (compressed bytes in memory) but still
    decompress/parse/emit incrementally."""
    import pandas as pd  # noqa: F401  (worker-side dependency)

    files = spark.read.format("binaryFile").load(path)
    local = "://" not in path or path.startswith("file:")
    files = files.select("path") if local else files.select("path",
                                                            "content")

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if "content" in pdf.columns:
                for content in pdf["content"]:
                    yield from _page_batches(
                        iter_warc_records_file(io.BytesIO(bytes(content))),
                        BATCH_ROWS, BATCH_BYTES)
            else:
                for p in pdf["path"]:
                    lp = _local_path(str(p))
                    with open(lp, "rb") as f:
                        yield from _page_batches(
                            iter_warc_records_file(f),
                            BATCH_ROWS, BATCH_BYTES)

    return files.mapInPandas(gen, schema.PAGES)
