"""WARC web-archive container: the format a real crawl corpus arrives in.

A 100-TB web corpus is not a directory of loose .html/.pdf files — it is
shipped as WARC archives (ISO 28500; Common Crawl's distribution format):
each archive is a sequence of records (warcinfo, request, response,
metadata ...), customarily gzip-compressed one member per record, where
``response`` records carry the raw HTTP exchange whose body is the
document payload. This module parses that container pure-stdlib and
explodes archives into the (doc_id, content) rows the existing
interleaved parse stage (sources/spans.py parse_binary_to_spans,
container="auto") already consumes — PDF and HTML payloads from one
archive flow through the same per-document sniff.

Scale shape: ``docs_from_warcs`` reads archives via the binaryFile
source, so the parallel unit is the ARCHIVE (Common Crawl segments are
~1 GB — one task each, ~64k archives per crawl ≫ any cluster's task
slots, so the stage saturates without sub-file splits). Record-at-time
gzip members would additionally allow offset-based sub-file splits (the
CDX-index pattern); that seam is the per-record framing this parser
already honors — a split reader only needs a member-aligned start
offset. Archive-level errors are SIGNALLED per row (``archive_error``)
rather than failing the partition, mirroring parse_binary_to_spans'
fallback accounting.

Reference context: the reference ingests loose files from a directory
(batch_processor.py walks *.pdf); WARC is the engine-exceeds-reference
container for the web-scale tier (north rule: "interleaved text + media
documents" — a crawl's archives interleave both).

Everything here derives from the public WARC 1.1 spec (ISO 28500) and
RFC 9112 (HTTP/1.1 message framing: chunked transfer coding §7.1,
Content-Encoding gzip/deflate).
"""

from __future__ import annotations

import hashlib
import zlib

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"


# ---------------------------------------------------------------------------
# record-level parsing


_FEED = 64 << 10  # compressed bytes handed to zlib per decompress call


def _gzip_members(data: bytes):
    """Yield (offset, length, decompressed bytes) of each gzip member (the
    record-at-time compression the WARC spec recommends) WITHOUT
    concatenating the whole archive into one buffer — a 1-GB Common
    Crawl segment decompresses to several GB, and the framing loop only
    ever needs one member (customarily one record) at a time. Record
    boundaries survive because WARC framing is length-delimited
    (Content-Length), not member-delimited. Each member is fed in
    ``_FEED``-byte views until it ends, so walking an archive copies no
    remainder of it: the walk is linear in the archive size."""
    view = memoryview(data)
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        out, feed = [], pos
        try:
            while not d.eof and feed < len(data):
                out.append(d.decompress(view[feed:feed + _FEED]))
                feed += _FEED
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member in WARC archive: {e}")
        if not d.eof:
            raise ValueError("truncated gzip member in WARC archive")
        end = min(feed, len(data)) - len(d.unused_data)
        yield pos, end - pos, b"".join(out)
        pos = end


def _parse_headers(block: bytes) -> dict[str, str]:
    """Parse name:value header lines (WARC named fields and HTTP headers
    share the grammar). Continuation lines (leading SP/HT) fold into the
    previous value; names are case-normalized to lower."""
    headers: dict[str, str] = {}
    last = None
    for line in block.split(_CRLF):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        name, sep, val = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed header line {line[:40]!r}")
        last = name.strip().decode("latin-1").lower()
        headers[last] = val.strip().decode("latin-1")
    return headers


def _try_frame(buf: bytes, pos: int):
    """Frame one record at ``pos``: ((headers, block), new_pos), or
    (None, new_pos) when the buffer ends mid-record (feed more members
    and retry — new_pos still advances past inter-record padding).
    Raises on structurally malformed input (non-WARC version line,
    unparseable headers, missing Content-Length)."""
    n = len(buf)
    # tolerate extra blank lines between records (some writers pad)
    while buf[pos:pos + 2] == _CRLF:
        pos += 2
    if pos >= n:
        return None, pos
    eol = buf.find(_CRLF, pos)
    if eol < 0:
        return None, pos
    version = buf[pos:eol]
    if not version.startswith(b"WARC/"):
        raise ValueError(f"expected WARC version line, got {version[:20]!r}")
    hdr_end = buf.find(_CRLF + _CRLF, eol)
    if hdr_end < 0:
        return None, pos
    headers = _parse_headers(buf[eol + 2:hdr_end])
    try:
        length = int(headers["content-length"])
    except (KeyError, ValueError):
        raise ValueError("record missing a numeric Content-Length")
    body_start = hdr_end + 4
    if body_start + length > n:
        return None, pos
    return (headers, buf[body_start:body_start + length]), body_start + length


def _raise_for_tail(buf: bytes, pos: int) -> None:
    """Input exhausted with an unframed tail at ``pos``: classify the
    truncation (blank padding is a clean end)."""
    while buf[pos:pos + 2] == _CRLF:
        pos += 2
    if pos >= len(buf):
        return
    eol = buf.find(_CRLF, pos)
    if eol < 0:
        raise ValueError("truncated record: no version line terminator")
    if buf.find(_CRLF + _CRLF, eol) < 0:
        raise ValueError("truncated record: unterminated header block")
    raise ValueError("truncated record: block shorter than Content-Length")


def iter_warc_records(data: bytes):
    """Yield (headers: dict, block: bytes) per WARC record. ``data`` may
    be a plain WARC file or gzip member-compressed (sniffed; members
    decompress ONE AT A TIME, so peak memory is one record, not the
    whole decompressed archive). Raises ValueError at the first
    malformed record; records already yielded are the salvageable
    prefix (callers decide the policy — see warc_documents)."""
    members = ((m for _, _, m in _gzip_members(data)) if data[:2] == _GZIP_MAGIC
               else iter((data,)))
    buf = b""
    pos = 0
    for chunk in members:
        if pos:  # compact the consumed prefix before growing the buffer
            buf = buf[pos:]
            pos = 0
        buf = chunk if not buf else buf + chunk
        while True:
            rec, pos = _try_frame(buf, pos)
            if rec is None:
                break
            yield rec
    _raise_for_tail(buf, pos)


# ---------------------------------------------------------------------------
# HTTP payload extraction (response-record blocks)


def _dechunk(body: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding: hex size line (chunk
    extensions after ';' ignored) + chunk + CRLF, terminated by a zero
    chunk; trailer fields ignored."""
    out = []
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("chunked body: missing size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise ValueError(f"chunked body: bad size {size_tok[:16]!r}")
        pos = eol + 2
        if size == 0:
            break
        if pos + size > len(body):
            raise ValueError("chunked body: chunk overruns buffer")
        out.append(body[pos:pos + size])
        pos += size + 2  # skip chunk-data CRLF
    return b"".join(out)


def _content_decode(body: bytes, encoding: str) -> bytes:
    """Undo Content-Encoding. deflate in the wild is ambiguously
    zlib-wrapped or raw (RFC 9110 §8.4.1.2 note) — try both."""
    enc = encoding.strip().lower()
    if enc in ("", "identity", "none"):
        return body
    if enc in ("gzip", "x-gzip"):
        return zlib.decompress(body, wbits=31)
    if enc == "deflate":
        try:
            return zlib.decompress(body)
        except zlib.error:
            return zlib.decompress(body, wbits=-15)
    raise ValueError(f"unsupported Content-Encoding {encoding!r}")


def parse_http_response(block: bytes) -> tuple[int, dict[str, str], bytes]:
    """(status, headers, payload) from a raw HTTP/1.x response message:
    status line, headers, then the body with chunked framing and
    Content-Encoding undone. Stored Content-Length is advisory in crawl
    archives (the WARC block is authoritative), so the body is whatever
    follows the header terminator."""
    sep = block.find(_CRLF + _CRLF)
    if sep < 0:
        raise ValueError("HTTP response: no header terminator")
    head = block[:sep]
    eol = head.find(_CRLF)
    status_line = head if eol < 0 else head[:eol]
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line {status_line[:40]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"bad HTTP status code {parts[1]!r}")
    headers = {} if eol < 0 else _parse_headers(head[eol + 2:])
    body = block[sep + 4:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    body = _content_decode(body, headers.get("content-encoding", ""))
    return status, headers, body


def warc_documents(data: bytes) -> tuple[list[dict], str | None]:
    """Extract crawl documents from one archive's bytes.

    Returns (docs, error): docs is one dict per payload-bearing record —
    ``response`` records (HTTP body, any status; ``http_status`` lets
    callers apply the classic status==200 filter as a pushed-down column
    predicate instead of a re-parse) plus ``resource``/``conversion``
    records (block IS the payload). ``error`` is None for a clean
    archive, else the truncation/corruption message — the parsed prefix
    is still returned (the Flate-salvage policy pdfparse established:
    keep what framed correctly, signal what didn't).

    Doc dict: url, record_id, date, content_type, http_status (None for
    non-response records), payload; ``revisit`` records additionally
    carry ``revisit_of`` (the capture they duplicate) with an empty
    payload.
    """
    docs: list[dict] = []
    err: str | None = None
    try:
        for headers, block in iter_warc_records(data):
            rtype = headers.get("warc-type", "").lower()
            url = headers.get("warc-target-uri", "") or headers.get(
                "warc-record-id", "")
            base = {
                "url": url,
                "record_id": headers.get("warc-record-id", ""),
                "date": headers.get("warc-date", ""),
            }
            if rtype == "response":
                ctype = headers.get("content-type", "").lower()
                if ctype.startswith("application/http") or ctype == "":
                    status, http_headers, payload = parse_http_response(block)
                    docs.append(dict(
                        base,
                        content_type=http_headers.get("content-type", ""),
                        http_status=status,
                        payload=payload,
                    ))
                else:  # bare-payload response (some writers skip the HTTP shim)
                    docs.append(dict(base, content_type=ctype,
                                     http_status=None, payload=block))
            elif rtype in ("resource", "conversion"):
                docs.append(dict(
                    base,
                    content_type=headers.get("content-type", ""),
                    http_status=None,
                    payload=block,
                ))
            elif rtype == "revisit":
                # crawl-level dedup pointer (WARC 1.1 §6.7.2): the crawler
                # saw this URL again with unchanged content and stored a
                # reference instead of the payload. Surfaced as a
                # payload-less row so the curation funnel can count crawl
                # dedup without re-fetching; parse stages must filter
                # ``revisit_of IS NULL``.
                docs.append(dict(
                    base,
                    content_type=headers.get("content-type", ""),
                    http_status=None,
                    payload=b"",
                    revisit_of=headers.get(
                        "warc-refers-to-target-uri",
                        headers.get("warc-refers-to", "")),
                ))
            # warcinfo / request / metadata: no document payload
    except (ValueError, zlib.error) as e:
        # zlib.error: corrupt gzip members / Content-Encoding bodies
        err = f"{type(e).__name__}: {e}"
    return docs, err


# ---------------------------------------------------------------------------
# fixture writer (deterministic — tests and benches only)


def _det_uuid(seed: str) -> str:
    h = hashlib.md5(seed.encode()).hexdigest()
    return (f"urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}")


def _record(rtype: str, url: str, block: bytes, seed: str,
            content_type: str, extra: list[bytes] = ()) -> bytes:
    lines = [
        b"WARC/1.0",
        b"WARC-Type: " + rtype.encode(),
        b"WARC-Record-ID: <" + _det_uuid(seed).encode() + b">",
        b"WARC-Date: 2026-01-01T00:00:00Z",
    ]
    if url:
        lines.append(b"WARC-Target-URI: " + url.encode())
    lines += list(extra)
    lines += [
        b"Content-Type: " + content_type.encode(),
        b"Content-Length: " + str(len(block)).encode(),
        b"",
        b"",
    ]
    return _CRLF.join(lines) + block + _CRLF + _CRLF


def _chunk_encode(body: bytes, size: int = 512) -> bytes:
    out = []
    for i in range(0, len(body), size):
        part = body[i:i + size]
        out.append(b"%x\r\n" % len(part) + part + _CRLF)
    out.append(b"0\r\n\r\n")
    return b"".join(out)


def build_warc(docs: list[dict], per_record_gzip: bool = True,
               chunked: set | frozenset = frozenset(),
               content_gzip: set | frozenset = frozenset(),
               with_requests: bool = True) -> bytes:
    """Write a deterministic WARC archive for tests/benches.

    ``docs``: dicts with url, payload (bytes), content_type. Each doc
    becomes a request record (headers only — crawl realism) plus a
    response record whose HTTP body is the payload; index membership in
    ``chunked`` / ``content_gzip`` turns on chunked transfer framing /
    Content-Encoding: gzip for that doc, exercising both decode paths.
    ``per_record_gzip=True`` compresses record-at-time (the spec-blessed
    layout that keeps archives split-seekable); False writes plain WARC.
    A doc with a ``revisit_of`` key becomes a payload-less revisit record
    pointing at that URL; a doc with ``record_type`` "resource" or
    "conversion" becomes a bare (non-HTTP) record whose block IS the
    payload — the WET-sidecar form.
    """
    records = []
    info_block = b"software: pdf_extractor_scripts_spark fixture writer\r\n"
    records.append(_record("warcinfo", "", info_block, "warcinfo",
                           "application/warc-fields"))
    for i, d in enumerate(docs):
        url, payload = d["url"], d.get("payload", b"")
        ctype = d.get("content_type", "application/octet-stream")
        if d.get("revisit_of"):
            records.append(_record(
                "revisit", url, b"", f"revisit{i}:{url}", ctype,
                extra=[b"WARC-Refers-To-Target-URI: "
                       + d["revisit_of"].encode(),
                       b"WARC-Profile: http://netpreserve.org/warc/1.1/"
                       b"revisit/identical-payload-digest"]))
            continue
        if d.get("record_type") in ("resource", "conversion"):
            records.append(_record(
                d["record_type"], url, payload,
                f"{d['record_type']}{i}:{url}", ctype))
            continue
        if with_requests:
            req = (b"GET / HTTP/1.1\r\nHost: example.test\r\n"
                   b"User-Agent: fixture\r\n\r\n")
            records.append(_record(
                "request", url, req, f"req{i}:{url}",
                "application/http; msgtype=request"))
        body = payload
        http_headers = [b"HTTP/1.1 200 OK",
                        b"Content-Type: " + ctype.encode()]
        if i in content_gzip:
            body = _gzip(body)
            http_headers.append(b"Content-Encoding: gzip")
        if i in chunked:
            body = _chunk_encode(body)
            http_headers.append(b"Transfer-Encoding: chunked")
        else:
            http_headers.append(b"Content-Length: " + str(len(body)).encode())
        block = _CRLF.join(http_headers) + _CRLF + _CRLF + body
        records.append(_record(
            "response", url, block, f"resp{i}:{url}",
            "application/http; msgtype=response"))
    if per_record_gzip:
        return b"".join(_gzip(r) for r in records)
    return b"".join(records)


def _gzip(data: bytes) -> bytes:
    """Deterministic gzip member (no mtime/filename — byte-stable)."""
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(data) + co.flush()


# ---------------------------------------------------------------------------
# Spark integration


def _warc_doc_schema():
    from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    return StructType([
        StructField("doc_id", StringType()),
        StructField("content", BinaryType()),
        StructField("length", LongType()),
        StructField("content_type", StringType()),
        StructField("http_status", IntegerType()),
        StructField("revisit_of", StringType()),
        StructField("warc_file", StringType()),
        StructField("archive_error", StringType()),
    ])


def _sentinel_row(doc_id: str, path: str, err: str) -> dict:
    """A zero-payload row that carries an archive error in place of the
    documents it lost."""
    return {"doc_id": doc_id, "content": b"", "length": 0, "content_type": "",
            "http_status": None, "revisit_of": None, "warc_file": path,
            "archive_error": err}


def _doc_rows(path: str, docs: list, err: str | None, sentinel_id: str) -> list:
    """One archive's (or byte range's) decoded records as docs_from_warcs
    rows, in record order; ``err`` with no record framed is one sentinel row
    with doc_id ``sentinel_id``."""
    if err is not None and not docs:
        return [_sentinel_row(sentinel_id, path, err)]
    out = []
    for d in docs:
        payload = d["payload"]
        out.append({
            "doc_id": d["url"] or d["record_id"],
            "content": payload,
            "length": len(payload),
            "content_type": d["content_type"],
            "http_status": d["http_status"],
            "revisit_of": d.get("revisit_of"),
            "warc_file": path,
            "archive_error": err,
        })
    return out


def docs_from_warcs(binary_archives, error_acc=None):
    """Explode binaryFile rows of WARC archives (``path``/``doc_id`` +
    ``content``) into per-document rows: (doc_id=WARC-Target-URI,
    content=payload, length, content_type, http_status, warc_file,
    archive_error). The output feeds parse_binary_to_spans(
    container="auto") unchanged — the archive is just where the
    interleaved crawl documents live.

    A truncated/corrupt archive keeps its parsed prefix with
    ``archive_error`` set on every surviving row (and on a single
    zero-payload sentinel row when nothing framed), so corruption is a
    column predicate, not a lost partition. ``error_acc``: optional
    accumulator incremented once per errored archive per execution of
    the map stage (Spark transformation-side accumulators are
    at-least-once under retries/re-execution — use the
    ``archive_error`` column for exact accounting).

    One archive explodes inside one task (the gzip members of one
    archive are sequential by construction); parallelism comes from the
    archive count, which at crawl scale (~64k/segment-set) dwarfs task
    slots.
    """
    import pandas as pd

    schema = _warc_doc_schema()
    cols = binary_archives.columns
    path_col = "path" if "path" in cols else "doc_id"

    def explode(batches):
        got_rows = False
        for pdf in batches:
            # one output frame PER ARCHIVE: bounds peak memory to a
            # single archive's documents instead of the whole Arrow
            # batch's (an input batch can carry several 1-GB archives)
            for path, content in zip(pdf[path_col], pdf["content"]):
                docs, err = warc_documents(bytes(content))
                if err is not None and error_acc is not None:
                    error_acc.add(1)
                out = _doc_rows(path, docs, err, path)
                if out:
                    got_rows = True
                    yield pd.DataFrame(out)
        if not got_rows:
            yield pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields})

    return binary_archives.mapInPandas(explode, schema)


# the classic crawl-processing filter over read_warc_docs rows: framed-clean
# archives, 2xx responses and bare resource/conversion payloads — column
# predicates, no re-parse; revisit records are payload-less dedup pointers,
# not documents
CLEAN_RECORD = ("archive_error IS NULL AND revisit_of IS NULL AND "
                "(http_status IS NULL OR http_status BETWEEN 200 AND 299)")


def read_warc_docs(spark, path: str, error_acc=None):
    """binaryFile scan over *.warc / *.warc.gz under ``path`` →
    per-document rows (docs_from_warcs)."""
    from .spans import read_binary_docs

    archives = read_binary_docs(spark, path, glob="*.warc*")
    return docs_from_warcs(archives, error_acc=error_acc)


def revisit_stats(docs):
    """Crawl-level dedup accounting from revisit pointers: per target
    URL, how many later captures the crawler stored as references
    instead of payloads. Input is docs_from_warcs output; the result
    equi-joins kept documents on doc_id, so curation can weight pages
    by crawl-observed popularity without re-fetching anything. One
    hash-aggregate shuffle on the (small) revisit subset."""
    import pyspark.sql.functions as F

    return (docs.filter("revisit_of IS NOT NULL AND revisit_of != ''")
            .groupBy(F.col("revisit_of").alias("doc_id"))
            .agg(F.count("*").alias("revisit_count")))


# ---------------------------------------------------------------------------
# sub-archive splits: the CDX-index pattern
#
# One archive normally decodes inside one task, which is fine when
# archives ≫ task slots — but a handful of monster archives (a 10-GB
# segment among 1-GB siblings) skews the stage exactly the way monster
# PDFs skew extraction (operators/skew.py). Record-at-time gzip makes
# archives splittable at member boundaries: an (offset, length) member
# index — what Common Crawl ships as CDX sidecar files — lets many tasks
# decode disjoint byte ranges of the same archive.


def warc_member_index(data: bytes) -> list[tuple[int, int]]:
    """(offset, length) of every gzip member in a record-at-time
    compressed archive — the CDX-style index that makes the archive
    splittable. Plain (uncompressed) WARC raises: its records are only
    length-delimited, so splitting it needs the full parse anyway."""
    if data[:2] != _GZIP_MAGIC:
        raise ValueError("member index requires record-at-time gzip")
    return [(off, length) for off, length, _ in _gzip_members(data)]


def _range_schema():
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    return StructType([
        StructField("warc_file", StringType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
        StructField("archive_error", StringType()),
    ])


def index_warc_archives(binary_archives, target_bytes: int = 32 << 20,
                        max_members: int = 4096):
    """binaryFile archive rows → one row per CHUNK of consecutive gzip
    members totalling ~``target_bytes`` compressed OR ``max_members``
    records, whichever caps first: (warc_file, offset, length,
    archive_error). The member cap matters because compressed bytes
    under-estimate decode cost for highly-compressible payloads (a
    3-MB gzip archive of repetitive PDFs can carry minutes of parse
    work) — record count is the cost unit the straggler actually pays.
    Unindexable archives (plain WARC, corrupt gzip) yield a single
    whole-file row with ``archive_error`` set so the range reader can
    fall back to whole-archive decoding (plain WARC) or salvage
    accounting (corrupt)."""
    import pandas as pd

    schema = _range_schema()
    cols = binary_archives.columns
    path_col = "path" if "path" in cols else "doc_id"

    def build(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf[path_col], pdf["content"]):
                data = bytes(content)
                try:
                    members = warc_member_index(data)
                except ValueError as e:
                    out.append({"warc_file": path, "offset": 0,
                                "length": len(data),
                                "archive_error": f"unindexable: {e}"})
                    continue
                start, size, cnt = 0, 0, 0
                for off, length in members:
                    if size and (size + length > target_bytes
                                 or cnt >= max_members):
                        out.append({"warc_file": path, "offset": start,
                                    "length": size, "archive_error": None})
                        start, size, cnt = off, 0, 0
                    size += length
                    cnt += 1
                if size:
                    out.append({"warc_file": path, "offset": start,
                                "length": size, "archive_error": None})
            yield pd.DataFrame(out) if out else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields})

    return binary_archives.mapInPandas(build, schema)


def _local_path(path: str) -> str:
    """binaryFile paths arrive scheme-qualified (file:/...). Range reads
    open the file directly, which this sandbox's local FS supports; on a
    real cluster the same seek-read goes through the object-store /
    HDFS client (S3 ranged GET, FSDataInputStream.seek) — the CDX
    pattern's whole point is that ranged reads are cheap there."""
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return path[len(prefix):] or "/"
    if "://" in path:
        raise ValueError(
            f"range reads need a locally-openable path, got {path!r}")
    return path


def docs_from_warc_ranges(ranges, error_acc=None):
    """(warc_file, offset, length) chunk rows → per-document rows with
    the docs_from_warcs schema. Each task seek-reads only its byte
    range, so one monster archive decodes across many tasks. Rows whose
    ``archive_error`` is 'unindexable: member index requires
    record-at-time gzip' are whole plain-WARC files and decode normally;
    other pre-flagged rows pass their error through as sentinels."""
    import pandas as pd

    schema = _warc_doc_schema()

    def explode(batches):
        for pdf in batches:
            out = []
            for path, off, length, pre_err in zip(
                    pdf["warc_file"], pdf["offset"], pdf["length"],
                    pdf["archive_error"]):
                if pre_err is not None and "record-at-time" not in pre_err:
                    out.append(_sentinel_row(path, path, pre_err))
                    if error_acc is not None:
                        error_acc.add(1)
                    continue
                with open(_local_path(path), "rb") as f:
                    f.seek(int(off))
                    data = f.read(int(length))
                docs, err = warc_documents(data)
                if err is not None and error_acc is not None:
                    error_acc.add(1)
                out += _doc_rows(path, docs, err, f"{path}@{off}")
            yield pd.DataFrame(out) if out else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields})

    return ranges.mapInPandas(explode, schema)


def read_warc_docs_split(spark, path: str, target_bytes: int = 32 << 20,
                         max_members: int = 4096, error_acc=None):
    """Split (CDX-pattern) WARC reader: index archives into member-
    aligned chunks (~target_bytes compressed, ≤max_members records),
    deal the chunk list round-robin so ranges of one monster archive land
    on different tasks, then seek-read and decode each range
    independently. Output schema and salvage semantics match
    read_warc_docs; use when archive sizes are skewed or archives are
    few relative to task slots.

    The repartition pins an EXPLICIT partition count: range rows are a
    few hundred bytes, and an AQE bytes-based coalesce would fold the
    whole chunk list back into one task — exactly the straggler the
    split exists to defuse. Round-robin, not a hash of (file, offset):
    on few slots a hash places the chunks unevenly. It is
    retry-deterministic while spark.sql.execution.sortBeforeRepartition
    is on (the default)."""
    from .spans import read_binary_docs

    archives = read_binary_docs(spark, path, glob="*.warc*")
    ranges = index_warc_archives(archives, target_bytes=target_bytes,
                                 max_members=max_members)
    n = spark.sparkContext.defaultParallelism
    return docs_from_warc_ranges(
        ranges.repartition(n), error_acc=error_acc)
