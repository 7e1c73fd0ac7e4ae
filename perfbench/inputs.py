"""Seeded benchmark inputs and their expected outputs.

Everything here is plain Python (no Spark): it runs before the session
starts, so none of it lands in ``setup_s`` or a timed region. Results are
cached under ``<work>/inputs`` keyed by (workload, seed, size), so a seed
that repeats costs nothing the second time.

Expected outputs come from the references the engine is checked against:
``oracle.extract_document`` for extraction, a sequential in-process parse
of the same bytes for ingest, and DuckDB (``plans.compare``) for the
curation queries. The curation tables are fixed data shipped under
``perfbench/data`` (the benchmark reads nothing outside its checkout).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

CACHE_VERSION = 1

# ingest mix: share of documents shipped in WARC segments (the rest are
# loose office/mail files), and the fixed share of truncated payloads
# (they parse or fall back, as the sequential reference decides)
WARC_SHARE = 0.6
TRUNCATE_EVERY = 20
WARC_PER_ARCHIVE = 32
OFFICE_EXTS = ["docx", "xlsx", "odt", "mht", "rtf", "ods", "pptx"]

# corpus_curation and f16_tfidf_field_context are left out: their first
# pass in a JVM compiles for about 25 s, which a run's set-up cannot afford
CURATION_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_lsh_topk",
    "q3_shipping_priority",
    "q5_region_volume",
]


def cached_dir(work: str, key: str, build) -> str:
    """Directory holding the inputs for ``key`` (workload, seed, size),
    built by ``build(tmp_path, final_path)`` on first use. The absolute work
    path is part of the key because ingest doc_ids are file URIs."""
    tag = hashlib.sha1(os.path.abspath(work).encode()).hexdigest()[:8]
    path = os.path.join(work, "inputs", f"{key}-v{CACHE_VERSION}-{tag}")
    if os.path.exists(os.path.join(path, ".complete")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, path)
    with open(os.path.join(tmp, ".complete"), "w") as f:
        f.write("ok")
    os.replace(tmp, path)
    return path


def unique_docs(n: int, seed: int) -> list[dict]:
    """The first ``n`` corpus documents with distinct doc_ids:
    ``make_document`` reuses invoice numbers, so raw ranges collide."""
    from .writers import make_document

    docs, seen, i = [], set(), 0
    while len(docs) < n:
        d = make_document(i, seed)
        i += 1
        if d["doc_id"] not in seen:
            seen.add(d["doc_id"])
            docs.append(d)
    return docs


def oracle_expectations(docs: list[dict]) -> dict:
    """doc_id → [vendor, route, validation_failed, ocr_used, n_pages,
    [[kind, text, media_ref, order], ...]] from the pure-Python oracle."""
    from pdf_extractor_scripts_spark.oracle import extract_document

    out = {}
    for d in docs:
        e = extract_document(d["doc_id"], d["spans"])
        out[d["doc_id"]] = [
            e["vendor"], e["route"], int(e["validation_failed"]),
            int(e["ocr_used"]), int(e["n_pages"]),
            [list(s.as_tuple()) for s in e["out_spans"]],
        ]
    return out


def _doc_table(docs: list[dict]):
    """Arrow table in the engine's DOC_SCHEMA shape."""
    import pyarrow as pa

    span = pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("media_ref", pa.string(), False),
        pa.field("offset", pa.int32(), False),
    ])
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", pa.list_(pa.field("element", span, False)), False),
    ])
    return pa.Table.from_pylist(
        [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs],
        schema=schema,
    )


def _dump_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def load_json(path: str):
    with open(path) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# extraction inputs (stream_drain)


def extraction_inputs(work: str, workload: str, seed: int, n_docs: int,
                      docs_per_file: int) -> str:
    """``docs/part-*.parquet`` (``docs_per_file`` documents per file) plus
    ``expected.json`` from the oracle."""
    import pyarrow.parquet as pq

    def build(path: str, _final: str) -> None:
        docs = unique_docs(n_docs, seed)
        os.makedirs(os.path.join(path, "docs"))
        for k in range(0, n_docs, docs_per_file):
            pq.write_table(
                _doc_table(docs[k:k + docs_per_file]),
                os.path.join(path, "docs", f"part-{k // docs_per_file:05d}.parquet"),
            )
        _dump_json(os.path.join(path, "expected.json"), oracle_expectations(docs))

    return cached_dir(work, f"{workload}-s{seed}-n{n_docs}", build)


# --------------------------------------------------------------------------
# ingest inputs (ingest_crawl)


def _paragraphs(doc: dict) -> list[str]:
    return [s["text"] for s in doc["spans"]
            if s["kind"] == "text" and s["text"].strip()] or [doc["doc_id"]]


def _office_bytes(ext: str, doc: dict) -> bytes:
    from . import writers as W

    paras = _paragraphs(doc)
    if ext == "docx":
        return W.build_docx(paras)
    if ext == "xlsx":
        return W.build_xlsx({"Sheet1": [[p] for p in paras]})
    if ext == "odt":
        return W.build_odt(paras)
    if ext == "mht":
        return W.build_mhtml(html=W.build_html(paras, title=doc["doc_id"]).decode())
    if ext == "rtf":
        return W.build_rtf(paras)
    if ext == "ods":
        return W.build_ods({"Sheet1": [[p] for p in paras]})
    return W.build_pptx([{"title": doc["doc_id"], "bullets": paras}])


def _reference_parse(form: str, raw: bytes, doc_id: str, ctype: str | None):
    """Sequential in-process parse with the parser the form calls for:
    the reference for ``parse_binary_to_spans``'s sniff-and-dispatch."""
    from . import writers as W

    if form == "html":
        return W.parse_html_spans(raw, doc_id, charset=W.charset_of(ctype))
    parsers = {
        "pdf": W.parse_pdf_spans, "docx": W.parse_docx_spans,
        "xlsx": W.parse_xlsx_spans, "odt": W.parse_odt_spans,
        "ods": W.parse_odt_spans, "mht": W.parse_mime_spans,
        "rtf": W.parse_rtf_spans, "pptx": W.parse_pptx_spans,
    }
    return parsers[form](raw, doc_id)


FALLBACK_SPANS = [["page_break", "=== PAGE 1 ===", "", 0]]


def ingest_inputs(work: str, seed: int, n_docs: int) -> str:
    """``warc/seg-*.warc.gz`` (PDF and HTML responses; chunked and gzip
    transfer encodings), ``office/*.{docx,...}`` (the seven office/mail
    forms) and ``expected.json``: doc_id → [parse_ok, spans]."""
    from . import writers as W

    def build(path: str, final: str) -> None:
        docs = unique_docs(n_docs, seed)
        warc_dir = os.path.join(path, "warc")
        os.makedirs(warc_dir)
        os.makedirs(os.path.join(path, "office"))
        n_warc = int(n_docs * WARC_SHARE)
        expected, batch = {}, []

        def flush() -> None:
            if batch:
                seg = len(os.listdir(warc_dir))
                data = W.build_warc(
                    batch,
                    chunked={j for j in range(len(batch)) if j % 4 == 0},
                    content_gzip={j for j in range(len(batch)) if j % 4 == 1},
                )
                with open(os.path.join(warc_dir, f"seg-{seg:05d}.warc.gz"), "wb") as f:
                    f.write(data)
                batch.clear()

        for i, d in enumerate(docs):
            ctype = None
            if i < n_warc:
                form = "html" if i % 3 == 2 else "pdf"
                if form == "html":
                    payload = W.build_html(_paragraphs(d), title=d["doc_id"],
                                           images={0: f"img://{d['doc_id']}/fig0"})
                    ctype = "text/html"
                else:
                    payload = W.spans_to_pdf(d["spans"], xref_stream=(i % 2 == 0))
                    ctype = "application/pdf"
                doc_id = f"https://crawl.test/s{seed}/{i:05d}.{form}"
            else:
                form = OFFICE_EXTS[(i - n_warc) % len(OFFICE_EXTS)]
                payload = _office_bytes(form, d)
                rel = os.path.join("office", f"{i:05d}.{form}")
                doc_id = "file:" + os.path.join(os.path.abspath(final), rel)
            if i % TRUNCATE_EVERY == TRUNCATE_EVERY - 1:
                payload = payload[: len(payload) * 3 // 5]
            if i < n_warc:
                batch.append({"url": doc_id, "payload": payload, "content_type": ctype})
                if len(batch) >= WARC_PER_ARCHIVE:
                    flush()
            else:
                with open(os.path.join(path, rel), "wb") as f:
                    f.write(payload)
            try:
                spans = _reference_parse(form, payload, doc_id, ctype)
                expected[doc_id] = [True, [[s["kind"], s["text"], s["media_ref"],
                                            s["offset"]] for s in spans]]
            except Exception:  # the engine's fallback-chain terminal
                expected[doc_id] = [False, FALLBACK_SPANS]
        flush()
        _dump_json(os.path.join(path, "expected.json"), expected)

    return cached_dir(work, f"ingest_crawl-s{seed}-n{n_docs}", build)


# --------------------------------------------------------------------------
# curation inputs (curation)


def curation_expected(work: str, data_dir: str) -> dict:
    """Query name → the DuckDB oracle's frame over ``data_dir``, computed
    once per checkout and cached."""
    import pickle

    from pdf_extractor_scripts_spark.plans.compare import duckdb_connection
    from pdf_extractor_scripts_spark.plans.registry import all_specs

    def build(path: str, _final: str) -> None:
        specs = all_specs()
        con = duckdb_connection(data_dir)
        expected = {q: con.sql(specs[q].oracle).df() for q in CURATION_QUERIES}
        con.close()
        with open(os.path.join(path, "expected.pkl"), "wb") as f:
            pickle.dump(expected, f)

    path = cached_dir(work, f"curation-{os.path.basename(data_dir)}", build)
    # written by build() above into this checkout's cache, never taken from outside
    with open(os.path.join(path, "expected.pkl"), "rb") as f:
        return pickle.load(f)


def table_rows(data_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(data_dir, f"{table}.parquet")).metadata.num_rows
