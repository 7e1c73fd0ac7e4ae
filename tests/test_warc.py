"""WARC web-archive container (sources/warcparse.py): record framing,
record-at-time gzip, HTTP payload extraction (chunked transfer,
Content-Encoding), salvage-on-truncation, and the Spark explode that
feeds archives into the interleaved parse stage."""

import os
import zlib

import pytest

from pdf_extractor_scripts_spark.sources.warcparse import (
    _gzip,
    _record,
    build_warc,
    docs_from_warcs,
    iter_warc_records,
    parse_http_response,
    read_warc_docs,
    warc_documents,
)

_HTML = (b"<!doctype html><html><head><title>T</title></head><body>"
         b"<p>" + b"alpha beta gamma delta epsilon zeta " * 12 +
         b"</p></body></html>")
_TEXT = b"plain text payload for a conversion record\n"


def _docs(n=3):
    return [
        {"url": f"https://example.test/page{i}",
         "payload": _HTML + str(i).encode(),
         "content_type": "text/html; charset=utf-8"}
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# pure record parsing


def test_roundtrip_plain_and_gzip():
    docs = _docs()
    for gz in (False, True):
        data = build_warc(docs, per_record_gzip=gz)
        got, err = warc_documents(data)
        assert err is None
        assert [d["url"] for d in got] == [d["url"] for d in docs]
        assert [d["payload"] for d in got] == [d["payload"] for d in docs]
        assert all(d["http_status"] == 200 for d in got)
        assert all(d["content_type"].startswith("text/html") for d in got)
        # request + warcinfo records never become documents
        assert len(got) == len(docs)


def test_chunked_and_content_gzip_paths():
    docs = _docs(4)
    data = build_warc(docs, chunked={1, 3}, content_gzip={2, 3})
    got, err = warc_documents(data)
    assert err is None
    assert [d["payload"] for d in got] == [d["payload"] for d in docs]


def test_resource_and_conversion_records_carry_payload():
    rec = (_record("warcinfo", "", b"software: x\r\n", "i",
                   "application/warc-fields")
           + _record("resource", "https://example.test/r", _TEXT, "r",
                     "text/plain")
           + _record("conversion", "https://example.test/c", _TEXT, "c",
                     "text/plain"))
    got, err = warc_documents(rec)
    assert err is None
    assert [(d["url"], d["payload"], d["http_status"]) for d in got] == [
        ("https://example.test/r", _TEXT, None),
        ("https://example.test/c", _TEXT, None),
    ]


def test_non_200_status_is_reported_not_dropped():
    body = b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\ngone"
    rec = _record("response", "https://example.test/x", body, "x",
                  "application/http; msgtype=response")
    got, err = warc_documents(rec)
    assert err is None
    assert got[0]["http_status"] == 404 and got[0]["payload"] == b"gone"


def test_truncation_salvages_prefix():
    docs = _docs(3)
    data = build_warc(docs, per_record_gzip=False)
    # cut inside the LAST response record's block
    cut = data[: data.rfind(b"</html>") - 40]
    got, err = warc_documents(cut)
    assert err is not None and "truncated" in err
    assert [d["url"] for d in got] == [d["url"] for d in docs[:2]]


def test_truncated_gzip_member_is_an_error():
    data = build_warc(_docs(2), per_record_gzip=True)
    got, err = warc_documents(data[:-20])
    assert err is not None and "gzip" in err
    # member-at-a-time decompression salvages the records whose members
    # framed cleanly before the truncation point
    assert [d["url"] for d in got] == [d["url"] for d in _docs(1)]


def test_garbage_yields_error_and_no_docs():
    got, err = warc_documents(b"PK\x03\x04 definitely not a warc")
    assert got == [] and err is not None


def test_header_continuation_lines_fold():
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nhi"
    rec = _record("response", "https://example.test/f", payload, "f",
                  "application/http; msgtype=response",
                  extra=[b"WARC-Concurrent-To: <urn:a>,", b"\t<urn:b>"])
    (headers, _), = [r for r in iter_warc_records(rec)]
    assert headers["warc-concurrent-to"] == "<urn:a>, <urn:b>"


def test_deflate_content_encoding_both_wrappings():
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    raw_deflate = co.compress(_TEXT) + co.flush()
    for raw in (zlib.compress(_TEXT), raw_deflate):
        block = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
                 + raw)
        # zlib-wrapped then raw-deflate bodies both decode
        _, _, body = parse_http_response(block)
        assert body == _TEXT


def test_fixture_writer_is_deterministic():
    assert build_warc(_docs()) == build_warc(_docs())


def test_adversarial_payloads_round_trip():
    """Content-Length framing must survive payloads that LOOK like WARC
    structure: embedded version lines, header terminators, gzip magic,
    chunked-size lines — in every delivery variant."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    nasty = st.binary(min_size=0, max_size=400).map(
        lambda b: b + b"\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\n"
        + b"\x1f\x8b0\r\n\r\n" + b)

    @settings(max_examples=25, deadline=None)
    @given(payloads=st.lists(nasty, min_size=1, max_size=4),
           gz=st.booleans(), chunk_all=st.booleans(),
           enc_all=st.booleans())
    def check(payloads, gz, chunk_all, enc_all):
        docs = [{"url": f"https://x.test/{i}", "payload": p,
                 "content_type": "application/octet-stream"}
                for i, p in enumerate(payloads)]
        idx = set(range(len(docs)))
        data = build_warc(docs, per_record_gzip=gz,
                          chunked=idx if chunk_all else set(),
                          content_gzip=idx if enc_all else set())
        got, err = warc_documents(data)
        assert err is None
        assert [d["payload"] for d in got] == payloads

    check()


def test_revisit_stats_counts_dedup_pointers(spark, tmp_path):
    """revisit_stats aggregates crawl-level dedup pointers per target
    doc_id, joinable against kept documents."""
    from pdf_extractor_scripts_spark.sources.warcparse import revisit_stats

    docs = _docs(2)
    revs = [{"url": f"https://again.test/{i}",
             "revisit_of": docs[i % 2]["url"],
             "content_type": "text/html"} for i in range(5)]
    path = os.path.join(str(tmp_path), "a.warc.gz")
    with open(path, "wb") as f:
        f.write(build_warc(docs + revs))
    exploded = read_warc_docs(spark, str(tmp_path))
    stats = {r["doc_id"]: r["revisit_count"]
             for r in revisit_stats(exploded).collect()}
    assert stats == {docs[0]["url"]: 3, docs[1]["url"]: 2}


def test_revisit_records_are_payloadless_pointers():
    docs = _docs(2) + [{"url": "https://example.test/page0",
                        "revisit_of": "https://example.test/page0",
                        "content_type": "text/html"}]
    got, err = warc_documents(build_warc(docs))
    assert err is None and len(got) == 3
    rv = got[2]
    assert rv["revisit_of"] == "https://example.test/page0"
    assert rv["payload"] == b"" and rv["http_status"] is None
    # normal documents never carry the pointer
    assert all("revisit_of" not in d for d in got[:2])


@pytest.mark.usefixtures("spark")
def test_http_charset_reaches_html_decode(spark, tmp_path):
    """The HTTP Content-Type charset a WARC response carries is the
    transport-layer decode hint: a latin-1 page with NO meta tag
    extracts the right characters when ctype_col is threaded through."""
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
    )

    para = ("caf\xe9 fran\xe7ais r\xe9sum\xe9 " * 12).strip()
    page = ("<html><body><p>" + para + "</p></body></html>").encode("cp1252")
    path = os.path.join(str(tmp_path), "a.warc.gz")
    with open(path, "wb") as f:
        f.write(build_warc([{
            "url": "https://example.test/latin1",
            "payload": page,
            "content_type": "text/html; charset=windows-1252",
        }]))
    exploded = read_warc_docs(spark, str(tmp_path))
    parsed = parse_binary_to_spans(exploded, container="auto",
                                   ctype_col="content_type")
    (row,) = parsed.collect()
    text = " ".join(s["text"] for s in row["spans"] if s["kind"] == "text")
    assert "café français résumé" in text
    # without the hint the same bytes mojibake (proves the hint is load-
    # bearing, not that cp1252 happens to survive a utf-8 replace)
    (row2,) = parse_binary_to_spans(exploded, container="auto").collect()
    text2 = " ".join(s["text"] for s in row2["spans"] if s["kind"] == "text")
    assert "café" not in text2


# ---------------------------------------------------------------------------
# member index + sub-archive splits (the CDX pattern)


def test_member_index_finds_every_record():
    from pdf_extractor_scripts_spark.sources.warcparse import (
        warc_member_index,
    )

    data = build_warc(_docs(5))
    index = warc_member_index(data)
    # warcinfo + 5 x (request + response) records, one member each
    assert len(index) == 11
    assert index[0][0] == 0
    assert sum(length for _, length in index) == len(data)
    # every slice is independently decodable: the response members
    # parse to exactly the original payloads
    payloads = []
    for off, length in index:
        for headers, block in iter_warc_records(data[off:off + length]):
            if headers.get("warc-type") == "response":
                _, _, body = parse_http_response(block)
                payloads.append(body)
    assert payloads == [d["payload"] for d in _docs(5)]


@pytest.mark.usefixtures("spark")
def test_member_cap_splits_hypercompressible_archives(spark, tmp_path):
    """Compressed bytes under-estimate decode cost for repetitive
    payloads, so the index also caps records per chunk: a tiny-bytes
    archive of many members still splits by max_members."""
    from pdf_extractor_scripts_spark.sources.spans import read_binary_docs
    from pdf_extractor_scripts_spark.sources.warcparse import (
        index_warc_archives,
    )

    docs = [{"url": f"https://x.test/{i}", "payload": b"a" * 4000,
             "content_type": "text/plain"} for i in range(30)]
    with open(os.path.join(str(tmp_path), "c.warc.gz"), "wb") as f:
        f.write(build_warc(docs, with_requests=False))
    archives = read_binary_docs(spark, str(tmp_path), glob="*.warc*")
    # bytes alone would never split this (whole archive ≪ 32MB)...
    assert index_warc_archives(archives).count() == 1
    # ...the member cap does: 31 records (warcinfo + 30) / 8 per chunk
    assert index_warc_archives(archives, max_members=8).count() == 4


def test_gzip_member_walk_feeds_zlib_bounded_slices(monkeypatch):
    """Walking a many-member archive hands zlib at most 64 KB per call —
    never the archive's remainder — in both the record iterator and the
    member index, so the walk is linear in the archive size."""
    import hashlib

    from pdf_extractor_scripts_spark.sources.warcparse import (
        warc_member_index,
    )

    # incompressible payloads: ~1.6 MB of gzip over 401 members
    docs = [{"url": f"https://x.test/{i}", "content_type": "text/plain",
             "payload": b"".join(hashlib.sha256(b"%d-%d" % (i, j)).digest()
                                 for j in range(256))} for i in range(200)]
    data = build_warc(docs)
    assert len(data) > 16 * (64 << 10)

    fed = []
    real = zlib.decompressobj

    class Probe:
        def __init__(self, *args, **kwargs):
            self._d = real(*args, **kwargs)

        def decompress(self, buf, *args):
            fed.append(len(buf))
            return self._d.decompress(buf, *args)

        def __getattr__(self, name):
            return getattr(self._d, name)

    monkeypatch.setattr(zlib, "decompressobj", Probe)
    index = warc_member_index(data)
    assert len(index) == 401 and sum(n for _, n in index) == len(data)
    bodies = [parse_http_response(b)[2] for h, b in iter_warc_records(data)
              if h.get("warc-type") == "response"]
    assert bodies == [d["payload"] for d in docs]
    assert fed and max(fed) <= 64 << 10


def test_member_index_rejects_plain_warc():
    from pdf_extractor_scripts_spark.sources.warcparse import (
        warc_member_index,
    )

    with pytest.raises(ValueError, match="record-at-time"):
        warc_member_index(build_warc(_docs(2), per_record_gzip=False))


@pytest.mark.usefixtures("spark")
def test_split_reader_matches_whole_archive_reader(spark, tmp_path):
    """read_warc_docs_split (CDX-pattern ranged reads) produces the same
    documents as whole-archive decoding — including a monster archive
    split across many chunks, a plain-WARC fallback file, and a corrupt
    sentinel."""
    from pdf_extractor_scripts_spark.sources.warcparse import (
        read_warc_docs_split,
    )

    docs = _write_archives(str(tmp_path))
    # monster archive: many docs, tiny target_bytes forces multi-chunking
    monster = [{"url": f"https://crawl.test/m{i}",
                "payload": _HTML * 3 + str(i).encode(),
                "content_type": "text/html"} for i in range(40)]
    with open(os.path.join(str(tmp_path), "monster.warc.gz"), "wb") as f:
        f.write(build_warc(monster))
    # plain (uncompressed) WARC: unindexable -> whole-file fallback
    plain = [{"url": "https://crawl.test/plain0", "payload": _HTML,
              "content_type": "text/html"}]
    with open(os.path.join(str(tmp_path), "plain.warc"), "wb") as f:
        f.write(build_warc(plain, per_record_gzip=False))

    split = read_warc_docs_split(spark, str(tmp_path), target_bytes=4096)
    rows = split.collect()
    ok = {r["doc_id"]: bytes(r["content"]) for r in rows
          if r["archive_error"] is None}
    expected = {d["url"]: d["payload"] for d in docs + monster + plain}
    assert ok == expected
    # the corrupt archive still surfaces exactly one sentinel
    bad = [r for r in rows if r["archive_error"] is not None]
    assert len(bad) == 1 and "unindexable" in bad[0]["archive_error"]
    # the monster archive really was split: its docs span >1 input chunk
    from pdf_extractor_scripts_spark.sources.spans import read_binary_docs
    from pdf_extractor_scripts_spark.sources.warcparse import (
        index_warc_archives,
    )

    ranges = index_warc_archives(
        read_binary_docs(spark, str(tmp_path), glob="*.warc*"),
        target_bytes=4096).collect()
    per_file = {}
    for r in ranges:
        per_file[r["warc_file"]] = per_file.get(r["warc_file"], 0) + 1
    assert max(per_file.values()) > 1


# ---------------------------------------------------------------------------
# Spark explode + interleaved parse


def _write_archives(tmp_path):
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    corpus = make_corpus(6, seed=42)
    docs = []
    for i, d in enumerate(corpus):
        if i % 3 == 2:
            body_text = " ".join(
                s["text"] for s in d["spans"] if s["kind"] == "text")
            # media-only corpus docs have no text spans — pad so the
            # main-content classifier always keeps one real paragraph
            paras = b"<p>" + (body_text.encode() + b" crawl page body "
                              b"words carry the main content forward ") * 4 \
                + b"</p>"
            docs.append({"url": f"https://crawl.test/{d['doc_id']}.html",
                         "payload": b"<!doctype html><html><body>"
                                    + paras + b"</body></html>",
                         "content_type": "text/html"})
        else:
            docs.append({"url": f"https://crawl.test/{d['doc_id']}",
                         "payload": spans_to_pdf(d["spans"]),
                         "content_type": "application/pdf"})
    a1 = os.path.join(tmp_path, "seg0.warc.gz")
    with open(a1, "wb") as f:
        f.write(build_warc(docs[:4], chunked={0}, content_gzip={1}))
    a2 = os.path.join(tmp_path, "seg1.warc.gz")
    with open(a2, "wb") as f:
        f.write(build_warc(docs[4:]))
    corrupt = os.path.join(tmp_path, "seg2.warc.gz")
    with open(corrupt, "wb") as f:
        f.write(b"\x1f\x8b not really gzip")
    return docs


def test_cli_warc_ingestion_end_to_end(tmp_path):
    """--input-format warc: a directory of web archives batch-extracts
    through the CLI with checkpointing; framing errors are reported."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(str(tmp_path), "archives")
    os.makedirs(src)
    _write_archives(src)
    out = os.path.join(str(tmp_path), "warc_out")
    r = subprocess.run(
        [sys.executable, "-m", "pdf_extractor_scripts_spark",
         "--mode", "batch", "--input", src, "--input-format", "warc",
         "--output", out, "--run-id", "warccli"],
        capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "processed 6 documents" in r.stdout
    assert "archives with framing errors (prefix salvaged): 1" in r.stdout


@pytest.mark.usefixtures("spark")
def test_docs_from_warcs_explode_and_parse(spark, tmp_path):
    docs = _write_archives(str(tmp_path))
    acc = spark.sparkContext.accumulator(0)
    exploded = read_warc_docs(spark, str(tmp_path), error_acc=acc)
    # no orderBy: a sort's sampling pass re-executes the map stage and
    # double-counts the accumulator (at-least-once, like any Spark
    # transformation-side accumulator)
    rows = sorted(exploded.collect(), key=lambda r: r["doc_id"])
    # 6 real documents + 1 sentinel for the corrupt archive
    by_err = [r for r in rows if r["archive_error"] is not None]
    ok = [r for r in rows if r["archive_error"] is None]
    assert len(ok) == 6 and len(by_err) == 1
    assert acc.value == 1
    assert by_err[0]["length"] == 0 and "gzip" in by_err[0]["archive_error"]
    got = {r["doc_id"]: bytes(r["content"]) for r in ok}
    assert got == {d["url"]: d["payload"] for d in docs}
    assert all(r["http_status"] == 200 for r in ok)

    # archives feed the interleaved parse stage unchanged: PDFs and HTML
    # from one archive both produce span rows via per-doc sniffing
    from pdf_extractor_scripts_spark.sources.spans import parse_binary_to_spans

    clean = exploded.filter("archive_error IS NULL AND http_status = 200")
    parsed = parse_binary_to_spans(clean, container="auto")
    out = {r["doc_id"]: r for r in parsed.collect()}
    assert len(out) == 6 and all(r["parse_ok"] for r in out.values())
    html_doc = next(r for k, r in out.items() if k.endswith(".html"))
    pdf_doc = next(r for k, r in out.items() if not k.endswith(".html"))
    assert any(s["kind"] == "text" for s in html_doc["spans"])
    assert any(s["kind"] == "text" for s in pdf_doc["spans"])
