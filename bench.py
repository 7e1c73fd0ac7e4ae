#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the end-to-end
extraction pipeline over the deterministic synthetic spans corpus, and prints
ONE JSON line:

    {"metric": ..., "value": <docs/sec>, "unit": "docs/sec",
     "queries": {name: sec, ...}, "sf": ..., ...}

--scaling mode: the north-rule evidence — the SAME extraction job at two
parallelism levels (local[N] and local[4N], N=$SPARK_GRAFT_SCALE_N default 8)
on the SAME input, reporting throughput at both plus scaling efficiency
eff = thr(4N) / (4 * thr(N)); results are appended to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALE_N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "8"))

# headline query subset: one per operator family, weighted toward the ones
# with real shuffles/joins.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "j4_asof_attribution",
    "j6_order_line_grouping",
    "t3_topk_orders",
    "p3_decision_combine",
    "p6_text_quality",
    "l4_spacing_reconstruct",
    "l8_page_concat",
    "f14_totals_roundtrip",
    "text_profile",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "stream_hourly_window",
]

# synthetic extraction corpus size per sf (docs)
N_DOCS_BY_SF = {"sf0.001": 200, "sf0.01": 1000, "sf0.1": 5000}
# raw-PDF ingest tree size per sf (files) — entry point A, the path real
# users hit first (binaryFile scan → byte-stream parse)
N_PDFS_BY_SF = {"sf0.001": 500, "sf0.01": 2000, "sf0.1": 10000}


def _pdf_tree(n_docs: int, repeat: int = 1) -> str:
    """Materialize a deterministic raw-PDF tree (mixed 1.4/1.5 layouts,
    vendor subdirs) under /tmp; idempotent across bench runs. ``repeat``
    tiles each doc's spans N times (multi-page files) so scaling runs can
    size ingest walls past the noise window (r5 VERDICT #3) without
    materializing hundreds of thousands of inodes."""
    root = f"/tmp/spark_graft_pdftree_{n_docs}" + (
        f"_x{repeat}" if repeat > 1 else ""
    )
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    seen: dict[str, int] = {}
    for i, d in enumerate(make_corpus(n_docs, seed=42)):
        path = os.path.join(root, _uniq_path(d["doc_id"], seen))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = d["spans"]
        if repeat > 1:
            spans = [
                dict(s, offset=j * len(d["spans"]) + s["offset"])
                for j in range(repeat) for s in d["spans"]
            ]
        with open(path, "wb") as f:
            f.write(spans_to_pdf(spans, xref_stream=(i % 2 == 0)))
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _uniq_path(doc_id: str, seen: dict) -> str:
    """make_corpus doc_ids COLLIDE at large n (~5% at 20k: 8-digit
    invoice numbers repeat), so writing to doc_id paths silently merges
    files and the tree holds fewer documents than the bench label
    claims. Disambiguate collisions with a numeric suffix so an
    n-file tree really has n files."""
    k = seen.get(doc_id, 0)
    seen[doc_id] = k + 1
    if k == 0:
        return doc_id
    stem, dot, ext = doc_id.rpartition(".")
    return f"{stem}~{k}.{ext}" if dot else f"{doc_id}~{k}"


def _crawl_tree(n_docs: int, repeat: int = 1, html_every: int = 3) -> str:
    """Materialize a deterministic MIXED-container crawl tree: every
    ``html_every``-th document is an HTML page (its paragraphs = the
    same corpus text spans, wrapped in realistic nav/sidebar/footer
    chrome; one figure per doc), the rest are PDFs — the interleaved
    shape a web-scale corpus table actually carries. Idempotent."""
    root = f"/tmp/spark_graft_crawltree_{n_docs}" + (
        f"_x{repeat}" if repeat > 1 else ""
    )
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.htmlparse import build_html
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    seen: dict[str, int] = {}
    for i, d in enumerate(make_corpus(n_docs, seed=42)):
        spans = d["spans"]
        if repeat > 1:
            spans = [
                dict(s, offset=j * len(d["spans"]) + s["offset"])
                for j in range(repeat) for s in d["spans"]
            ]
        if i % html_every == html_every - 1:
            paras = [s["text"] for s in spans
                     if s["kind"] == "text" and s["text"].strip()]
            path = os.path.join(root, _uniq_path(
                d["doc_id"].rsplit(".", 1)[0] + ".html", seen))
            data = build_html(paras, title=d["doc_id"],
                              images={0: f"img://{d['doc_id']}/fig0"})
        else:
            path = os.path.join(root, _uniq_path(d["doc_id"], seen))
            data = spans_to_pdf(spans, xref_stream=(i % 2 == 0))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _warc_tree(n_docs: int, repeat: int = 1, per_archive: int = 64) -> str:
    """Pack the mixed-crawl tree into WARC archives (record-at-time gzip;
    each archive's first two documents exercise chunked transfer framing
    and Content-Encoding gzip) — the container a real crawl corpus ships
    in (Common Crawl segments). Idempotent."""
    src = _crawl_tree(n_docs, repeat)
    root = f"/tmp/spark_graft_warctree_{n_docs}" + (
        f"_x{repeat}" if repeat > 1 else ""
    )
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    from pdf_extractor_scripts_spark.sources.warcparse import build_warc

    os.makedirs(root, exist_ok=True)
    files = sorted(
        os.path.join(dp, fn)
        for dp, _, fns in os.walk(src)
        for fn in fns
        if fn.endswith((".pdf", ".html"))
    )
    batch: list[dict] = []
    seg = 0

    def flush() -> None:
        nonlocal batch, seg
        if not batch:
            return
        data = build_warc(batch, chunked={0}, content_gzip={1})
        with open(os.path.join(root, f"seg{seg:05d}.warc.gz"), "wb") as f:
            f.write(data)
        seg += 1
        batch = []

    for path in files:
        rel = os.path.relpath(path, src)
        with open(path, "rb") as f:
            payload = f.read()
        batch.append({
            "url": f"https://crawl.test/{rel}",
            "payload": payload,
            "content_type": ("text/html" if rel.endswith(".html")
                             else "application/pdf"),
        })
        if len(batch) >= per_archive:
            flush()
    flush()
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _office_tree(n_docs: int, repeat: int = 1) -> str:
    """Office/mail mix: the same corpus docs cycled through the SEVEN
    non-crawl container forms — docx → xlsx → odt → mht (MHTML page
    wrapping the HTML form) → rtf → ods → pptx — the long tail a web
    corpus's office share actually looks like. ``repeat`` multiplies
    each document's paragraphs for long-wall scaling runs. Idempotent."""
    root = f"/tmp/spark_graft_officetree7_{n_docs}" + (
        f"_x{repeat}" if repeat > 1 else "")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx
    from pdf_extractor_scripts_spark.sources.htmlparse import build_html
    from pdf_extractor_scripts_spark.sources.mimeparse import build_mhtml
    from pdf_extractor_scripts_spark.sources.odtparse import (
        build_ods,
        build_odt,
    )
    from pdf_extractor_scripts_spark.sources.pptxparse import build_pptx
    from pdf_extractor_scripts_spark.sources.rtfparse import build_rtf
    from pdf_extractor_scripts_spark.sources.xlsxparse import build_xlsx

    seen: dict[str, int] = {}
    for i, d in enumerate(make_corpus(n_docs, seed=42)):
        paras = [s["text"] for s in d["spans"]
                 if s["kind"] == "text" and s["text"].strip()] * repeat
        stem = d["doc_id"].rsplit(".", 1)[0]
        form = i % 7
        if form == 0:
            path, data = stem + ".docx", build_docx(paras)
        elif form == 1:
            path, data = stem + ".xlsx", build_xlsx(
                {"Sheet1": [[p] for p in paras]})
        elif form == 2:
            path, data = stem + ".odt", build_odt(paras)
        elif form == 3:
            path, data = stem + ".mht", build_mhtml(
                html=build_html(paras, title=d["doc_id"]).decode())
        elif form == 4:
            path, data = stem + ".rtf", build_rtf(paras)
        elif form == 5:
            path, data = stem + ".ods", build_ods(
                {"Sheet1": [[p] for p in paras]})
        else:
            path, data = stem + ".pptx", build_pptx(
                [{"title": d["doc_id"], "bullets": paras}])
        full = os.path.join(root, _uniq_path(path, seen))
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(data)
    with open(marker, "w") as f:
        f.write("ok")
    return root


def run_office_ingest(spark, root: str) -> float:
    """Wall seconds for binaryFile scan of the office/mail tree →
    container-sniffed parse (docx/xlsx/odt/mht/rtf/ods/pptx)."""
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    binary = read_binary_docs(spark, root, glob="*.{docx,xlsx,odt,mht,rtf,ods,pptx}")
    t0 = time.time()
    _force(parse_binary_to_spans(binary, container="auto"))
    return time.time() - t0


def run_warc_ingest(spark, root: str) -> float:
    """Wall seconds for the full crawl-shipping path: binaryFile scan of
    *.warc.gz → archive explode (gunzip members, HTTP payload decode) →
    2xx/clean filter → container-sniffed byte-stream parse."""
    from pdf_extractor_scripts_spark.sources.spans import parse_binary_to_spans
    from pdf_extractor_scripts_spark.sources.warcparse import (
        CLEAN_RECORD,
        read_warc_docs,
    )

    t0 = time.time()
    docs = read_warc_docs(spark, root).filter(CLEAN_RECORD)
    _force(parse_binary_to_spans(docs, container="auto"))
    return time.time() - t0


def run_pdf_ingest(spark, root: str, container: str = "pdf") -> float:
    """Wall seconds for binaryFile scan → parse_binary_to_spans (forced).
    ``container='auto'`` reads the whole tree (PDF + HTML, the marker
    file excluded) and sniffs the form per document."""
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    binary = (read_binary_docs(spark, root, glob="*.{pdf,html}")
              if container == "auto" else read_binary_docs(spark, root))
    t0 = time.time()
    _force(parse_binary_to_spans(binary, container=container))
    return time.time() - t0


def make_session(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~1k-row Arrow batches pipeline the JVM and Python phases within a
        # task (a single 10k batch serializes them back-to-back)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .getOrCreate()
    )


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sf_name() -> str:
    return os.path.basename(SF_DIR.rstrip("/"))


def run_extraction(spark, n_docs: int, warmup: bool = True) -> float:
    """Returns wall seconds for the extraction pipeline over n_docs (corpus
    generation and python-worker warmup excluded)."""
    from pdf_extractor_scripts_spark.fixtures import corpus_df_dist
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline

    if warmup:
        w = corpus_df_dist(spark, n_docs=256, seed=7).localCheckpoint(eager=True)
        _force(run_pipeline(w))
    docs = corpus_df_dist(spark, n_docs=n_docs, seed=42).localCheckpoint(eager=True)
    t0 = time.time()
    _force(run_pipeline(docs))
    return time.time() - t0


def main() -> None:
    from pdf_extractor_scripts_spark.plans.registry import all_queries

    sf = _sf_name()
    n_docs = N_DOCS_BY_SF.get(sf, 1000)
    spark = make_session(CPUS)
    qspecs = all_queries()

    # JVM/JIT + python-worker warmup (untimed): representative queries once
    for name in ("q1_pricing_summary", "dedup_simhash", "l4_spacing_reconstruct"):
        _force(qspecs[name].spark(spark, SF_DIR))

    # extraction throughput: best of three samples SPREAD ACROSS the suite —
    # this VM's noise comes in multi-minute windows, so adjacent repeats
    # share the window while time-separated ones don't.
    ext_times = [run_extraction(spark, n_docs)]

    timings: dict[str, float] = {}
    suite_t0 = time.time()
    for i, name in enumerate(HEADLINE):
        t0 = time.time()
        _force(qspecs[name].spark(spark, SF_DIR))
        timings[name] = round(time.time() - t0, 3)
        if i == len(HEADLINE) // 2:
            ext_times.append(run_extraction(spark, n_docs, warmup=False))

    # this VM's noise comes in multi-minute windows with 3-4x swings; the
    # second pass is UNCONDITIONAL (r4's official record caught a noisy
    # window across both conditional passes) and keeps per-query minima so
    # the trend table compares capability, not weather
    if time.time() - suite_t0 < 600:
        spark.catalog.clearCache()  # drop query-internal caches: each pass
        # must measure the full cold plan, not pass-1's cached signatures
        for name in HEADLINE:
            t0 = time.time()
            _force(qspecs[name].spark(spark, SF_DIR))
            timings[name] = min(timings[name], round(time.time() - t0, 3))

    ext_times.append(run_extraction(spark, n_docs, warmup=False))
    ext_sec = min(ext_times)
    timings["extract_pipeline"] = round(ext_sec, 3)
    docs_per_sec = round(n_docs / ext_sec, 2)

    # raw-PDF ingest (entry point A): parse a generated PDF tree, min of two
    # passes (pass 1 also warms the binaryFile fs metadata)
    n_pdfs = N_PDFS_BY_SF.get(sf, 2000)
    pdf_root = _pdf_tree(n_pdfs)
    pdf_sec = min(run_pdf_ingest(spark, pdf_root) for _ in range(2))
    timings["pdf_ingest"] = round(pdf_sec, 3)

    # mixed-crawl ingest (r6): the same entry point over an interleaved
    # PDF+HTML tree with per-document container sniffing — the shape a
    # web-scale corpus table actually carries
    crawl_root = _crawl_tree(n_pdfs)
    crawl_sec = min(
        run_pdf_ingest(spark, crawl_root, container="auto")
        for _ in range(2)
    )
    timings["crawl_ingest"] = round(crawl_sec, 3)

    # WARC-archive ingest (r6): the same documents shipped the way a
    # crawl corpus actually arrives — gzip'd WARC archives exploded
    # record-wise, then the identical sniffed parse
    warc_root = _warc_tree(n_pdfs)
    warc_sec = min(run_warc_ingest(spark, warc_root) for _ in range(2))
    timings["warc_ingest"] = round(warc_sec, 3)

    # office/mail ingest (r6): the same corpus cycled through all seven
    # office/mail forms (docx/xlsx/odt/mht/rtf/ods/pptx), sniffed per doc
    office_root = _office_tree(n_pdfs)
    office_sec = min(run_office_ingest(spark, office_root)
                     for _ in range(2))
    timings["office_ingest"] = round(office_sec, 3)

    # Targeted outlier retries (r4 VERDICT #1, baseline fixed r6 per r5
    # VERDICT #2): any query still >1.3x its MINIMUM HISTORICAL record
    # after the min-of-2 passes gets up to 2 more cache-cleared attempts,
    # time-separated from the earlier passes — a genuine regression
    # survives all 4 samples, a noise window doesn't. Keying on the
    # previous ROUND's record let an inflated record propagate (r4's
    # j6=4.04s phantom sailed r5's q3 through unretried); the rolling
    # per-query min in BENCH/best_records.json cannot ratchet upward.
    prev = _prev_round_queries()
    best = _best_records()
    noise_retries: dict[str, int] = {}
    if best:
        for name in HEADLINE:
            p = best.get(name)
            for _ in range(2):
                if not p or timings[name] <= 1.3 * p:
                    break
                spark.catalog.clearCache()
                t0 = time.time()
                _force(qspecs[name].spark(spark, SF_DIR))
                timings[name] = min(timings[name], round(time.time() - t0, 3))
                noise_retries[name] = noise_retries.get(name, 0) + 1
        p = best.get("extract_pipeline")
        if p and min(ext_times) > 1.3 * p:
            ext_times.append(run_extraction(spark, n_docs, warmup=False))
            noise_retries["extract_pipeline"] = 1
        p = best.get("pdf_ingest")
        if p and pdf_sec > 1.3 * p:
            pdf_sec = min(pdf_sec, run_pdf_ingest(spark, pdf_root))
            noise_retries["pdf_ingest"] = 1
        p = best.get("crawl_ingest")
        if p and crawl_sec > 1.3 * p:
            crawl_sec = min(
                crawl_sec, run_pdf_ingest(spark, crawl_root, container="auto")
            )
            noise_retries["crawl_ingest"] = 1
        p = best.get("warc_ingest")
        if p and warc_sec > 1.3 * p:
            warc_sec = min(warc_sec, run_warc_ingest(spark, warc_root))
            noise_retries["warc_ingest"] = 1
        p = best.get("office_ingest")
        if p and office_sec > 1.3 * p:
            office_sec = min(office_sec, run_office_ingest(spark, office_root))
            noise_retries["office_ingest"] = 1

    # recompute the minima: the retries above may have improved them
    ext_sec = min(ext_times)
    timings["extract_pipeline"] = round(ext_sec, 3)
    timings["pdf_ingest"] = round(pdf_sec, 3)
    timings["crawl_ingest"] = round(crawl_sec, 3)
    timings["warc_ingest"] = round(warc_sec, 3)
    timings["office_ingest"] = round(office_sec, 3)
    docs_per_sec = round(n_docs / ext_sec, 2)

    # LSH bucket-size telemetry (no silent caps): the similarity family's
    # scale story rests on bounded buckets — report the actual maxima.
    bucket_stats = _bucket_stats(spark)
    spark.stop()

    out = {
        "metric": "end-to-end extraction throughput (synthetic interleaved spans corpus) + headline query suite",
        "value": docs_per_sec,
        "unit": "docs/sec",
        "queries": timings,
        "sf": sf,
        "extract_docs": n_docs,
        "query_suite_sec": round(sum(v for k, v in timings.items() if k != "extract_pipeline"), 3),
        "cpus": CPUS,
        "lsh_bucket_stats": bucket_stats,
        "pdf_ingest": {
            "files": n_pdfs,
            "sec": round(pdf_sec, 3),
            "docs_per_sec": round(n_pdfs / pdf_sec, 1),
        },
        "crawl_ingest": {
            "files": n_pdfs,
            "html_every": 3,
            "sec": round(crawl_sec, 3),
            "docs_per_sec": round(n_pdfs / crawl_sec, 1),
        },
        "warc_ingest": {
            "files": n_pdfs,
            "docs_per_archive": 64,
            "sec": round(warc_sec, 3),
            "docs_per_sec": round(n_pdfs / warc_sec, 1),
        },
        "noise_retries": noise_retries,
    }
    # fold in the latest --skew A/B evidence so the driver-recorded JSON
    # carries the salt story without rerunning it every round
    skew_file = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "skew_salt.json"
    )
    if os.path.exists(skew_file):
        try:
            out["skew_salt"] = json.load(open(skew_file))
        except Exception:
            pass
    if prev:
        out["prev_round_queries"] = prev
    if best:
        # capability-vs-weather ratios: this run against the best EVER
        # recorded per query (<1 = new record)
        out["vs_best"] = {
            n: round(t / best[n], 2) for n, t in timings.items() if best.get(n)
        }
    _update_best_records(best, timings)
    print(json.dumps(out))
    _append_trend_table(sf, timings, prev, docs_per_sec, bucket_stats)


def _bucket_stats(spark) -> dict:
    """Max/mean bucket occupancy for the MinHash band buckets and the
    sign-LSH tables at the bench SF — the quantity that must stay bounded
    for the candidate-join plans to survive a 100x scale-up."""
    try:
        import pyspark.sql.functions as F

        from pdf_extractor_scripts_spark.plans.dedup import (
            SIGNLSH_TABLES,
            lsh_candidate_pairs,  # noqa: F401 (import proves the path)
            minhash_signatures,
            signlsh_bucket_sql,
        )
        from pdf_extractor_scripts_spark.plans.registry import load_table

        # gated geometry: k=16 / 4 bands (4 rows per band). Buckets above
        # the default guard (64) are star-paired in the pipeline path; the
        # raw occupancy here shows what the guard is defusing.
        sig = minhash_signatures(spark, SF_DIR, 16)
        band_cols = [
            F.concat_ws(",", *[f"mh{4 * t + j}" for j in range(4)]).alias("b")
            for t in range(4)
        ]
        bands = sig.select(band_cols[0])
        for c in band_cols[1:]:
            bands = bands.union(sig.select(c))
        mh = bands.groupBy("b").count().agg(
            F.max("count").alias("mx"), F.round(F.avg("count"), 2).alias("avg")
        ).first()

        load_table(spark, SF_DIR, "embeddings").createOrReplaceTempView("embeddings")
        stats = {}
        for t in range(SIGNLSH_TABLES):
            r = spark.sql(
                f"SELECT max(c) mx, round(avg(c), 2) avg FROM ("
                f"SELECT {signlsh_bucket_sql('spark', t)} AS b, count(*) c "
                f"FROM embeddings GROUP BY 1)"
            ).first()
            stats[f"signlsh_t{t}"] = {"max": int(r["mx"]), "avg": float(r["avg"])}
        return {
            "minhash_band": {"max": int(mh["mx"]), "avg": float(mh["avg"])},
            **stats,
        }
    except Exception as e:  # telemetry must never fail the bench
        return {"error": str(e)[:200]}


def _best_records() -> dict[str, float]:
    """Minimum historical per-query wall seconds at THIS scale factor: the
    rolling-min table (BENCH/best_records.json) merged with every
    driver-recorded BENCH_r*.json — the retry baseline that cannot be
    inflated by a single noisy round."""
    root = os.path.dirname(os.path.abspath(__file__))
    best: dict[str, float] = {}
    best.update(_stored_records().get(_sf_name()) or {})
    import glob

    for fn in glob.glob(os.path.join(root, "BENCH_r*.json")):
        try:
            parsed = json.load(open(fn)).get("parsed") or {}
        except Exception:
            continue
        if parsed.get("sf") != _sf_name():
            continue
        for name, t in (parsed.get("queries") or {}).items():
            if isinstance(t, (int, float)) and t > 0:
                best[name] = min(best.get(name, t), float(t))
    return best


def _stored_records() -> dict[str, dict[str, float]]:
    """BENCH/best_records.json as {sf: {query: min_sec}} — records are
    PER SCALE FACTOR: a smoke run at sf0.001 must never clobber the
    sf0.1 table the retry protocol keys on (it did once — the file now
    keeps every sf side by side; the legacy single-sf shape reads too)."""
    root = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(root, "BENCH", "best_records.json")
    try:
        stored = json.load(open(path))
    except Exception:
        return {}
    if "queries" in stored and "sf" in stored:  # legacy single-sf shape
        return {stored["sf"]: stored["queries"] or {}}
    return {k: v for k, v in stored.items() if isinstance(v, dict)}


def _update_best_records(best: dict[str, float], timings: dict[str, float]) -> None:
    merged = dict(best)
    for name, t in timings.items():
        if t > 0:
            merged[name] = min(merged.get(name, t), float(t))
    tables = _stored_records()
    tables[_sf_name()] = merged
    root = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(root, "BENCH"), exist_ok=True)
    with open(os.path.join(root, "BENCH", "best_records.json"), "w") as f:
        json.dump(tables, f, indent=1, sort_keys=True)


def _prev_round_queries() -> dict:
    """Latest BENCH_r*.json per-query timings (driver-written), for the
    round-over-round trend table."""
    import glob
    import re as _re

    root = os.path.dirname(os.path.abspath(__file__))
    best_n, prev = -1, {}
    for fn in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = _re.search(r"BENCH_r(\d+)\.json$", fn)
        if not m:
            continue
        try:
            parsed = json.load(open(fn)).get("parsed") or {}
            q = parsed.get("queries") or {}
        except Exception:
            continue
        # only comparable at the SAME scale factor
        if q and parsed.get("sf") == _sf_name() and int(m.group(1)) > best_n:
            best_n, prev = int(m.group(1)), q
    return {"round": best_n, "queries": prev} if prev else {}


def _append_trend_table(sf, timings, prev, docs_per_sec, bucket_stats) -> None:
    root = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(root, "BENCH"), exist_ok=True)
    with open(os.path.join(root, "BENCH", "BASELINE.md"), "a") as f:
        f.write(f"\n## Headline run ({sf}, {CPUS} slots): {docs_per_sec} docs/sec"
                f" extraction\n\n")
        if prev:
            f.write(f"| query | r{prev['round']} sec | this run sec | ratio |\n")
            f.write("|---|---|---|---|\n")
            for name, t in timings.items():
                p = prev["queries"].get(name)
                ratio = round(t / p, 2) if p else "new"
                f.write(f"| {name} | {p if p is not None else '—'} | {t} | {ratio} |\n")
        else:
            f.write("| query | sec |\n|---|---|\n")
            for name, t in timings.items():
                f.write(f"| {name} | {t} |\n")
        f.write(f"\nLSH bucket occupancy: `{json.dumps(bucket_stats)}`\n")


def _burn(iters: int) -> int:
    x = 0
    for i in range(iters):
        x += i * i
    return x


def _cpu_control(levels: list[int], iters: int = 10_000_000) -> dict[int, float]:
    """Pure-CPU control: aggregate throughput of N burner processes.

    This sandbox advertises 32 vCPUs but sustains only ~16 effective cores
    (SMT/host sharing), so even embarrassingly parallel native code cannot
    scale 4x beyond N=4-8. The control quantifies the HARDWARE ceiling so
    the pipeline's efficiency can be read against it."""
    import multiprocessing as mp

    samples: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(3):  # interleaved rounds: the control is noise-prone too
        for n in levels:
            with mp.Pool(n) as p:
                t0 = time.time()
                p.map(_burn, [iters] * n)
                samples[n].append(n * iters / (time.time() - t0))
    return {n: sorted(v)[len(v) // 2] for n, v in samples.items()}


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def _pair_stats_for(tbl: dict[int, list[float]], pairs, control) -> list[dict]:
    """Per-round N→4N efficiency ratios (adjacent-in-time measurements
    share the same noisy-neighbor window), median across rounds, against
    the pure-CPU hardware ceiling."""
    out = []
    for lo, hi in pairs:
        per_round = [tbl[lo][r] / (4 * tbl[hi][r]) for r in range(len(tbl[lo]))]
        raw = round(_median(per_round), 3)
        ctl = round(control[hi] / (4 * control[lo]), 3)
        out.append(
            {"n": lo, "4n": hi, "efficiency": raw,
             "best_round": round(max(per_round), 3),
             "per_round": [round(x, 3) for x in per_round],
             "hardware_ceiling": ctl,
             "normalized": round(raw / ctl, 3) if ctl else None}
        )
    return out


def scaling_ingest() -> None:
    """Ingest-only long-wall scaling (r5 VERDICT #5): the binaryFile →
    byte-stream parse job at N vs 4N task slots, with walls sized past the
    noise window (≥60 s at the low slot count — SPARK_GRAFT_SCALE_PDF_REPEAT
    tiles each file's content). Same interleaved min-of-rounds protocol as
    --scaling; appends to BENCH/BASELINE.md."""
    n_pdfs = int(os.environ.get("SPARK_GRAFT_SCALE_PDFS", "20000"))
    pdf_repeat = int(os.environ.get("SPARK_GRAFT_SCALE_PDF_REPEAT", "30"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    pairs = [(4, 16), (8, 32)]
    levels = sorted({n for p in pairs for n in p})

    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    spark = make_session(32)
    binary = read_binary_docs(
        spark, _pdf_tree(n_pdfs, pdf_repeat)
    ).localCheckpoint(eager=True)
    _force(parse_binary_to_spans(binary.limit(512)))  # parser warmup
    times: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            t0 = time.time()
            _force(parse_binary_to_spans(binary.coalesce(n)))
            times[n].append(time.time() - t0)
    spark.stop()

    control = _cpu_control(levels)
    stats = _pair_stats_for(times, pairs, control)
    best = {n: min(ts) for n, ts in times.items()}
    thr = {n: round(n_pdfs / best[n], 1) for n in levels}
    out = {
        "metric": "raw-PDF ingest scaling N->4N (long-wall, interleaved)",
        "value": stats[0]["efficiency"],
        "unit": "efficiency",
        "files": n_pdfs,
        "pages_repeat": pdf_repeat,
        "best_wall_sec": {str(n): round(best[n], 2) for n in levels},
        "throughput_files_per_sec": {str(n): thr[n] for n in levels},
        "pairs": stats,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n### Long-wall raw-PDF ingest scaling ({n_pdfs} files "
            f"x{pdf_repeat} content repeat, rounds={rounds}, interleaved)\n\n"
            "| task slots (N) | best wall sec | files/sec |\n|---|---|---|\n"
        )
        for n in levels:
            f.write(f"| {n} | {round(best[n], 2)} | {thr[n]} |\n")
        f.write("\n| pair | parse eff | hardware ceiling | normalized |\n"
                "|---|---|---|---|\n")
        for p in stats:
            f.write(
                f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
                f"{p['hardware_ceiling']} | {p['normalized']} |\n"
            )
        f.write("\nPer-round pair ratios: " + "; ".join(
            f"{p['n']}→{p['4n']}: {p['per_round']}" for p in stats) + "\n")


def scaling_crawl() -> None:
    """Mixed-crawl ingest scaling (r6): binaryFile → per-document
    container sniff → PDF/HTML byte-stream parse at N vs 4N task slots
    over an interleaved PDF+HTML tree (every 3rd doc HTML). Same
    interleaved min-of-rounds protocol and long-wall sizing as
    --scaling-ingest; appends to BENCH/BASELINE.md and writes
    BENCH/crawl_scaling.json."""
    n_files = int(os.environ.get("SPARK_GRAFT_SCALE_PDFS", "20000"))
    repeat = int(os.environ.get("SPARK_GRAFT_SCALE_PDF_REPEAT", "30"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    pairs = [(4, 16)]
    levels = sorted({n for p in pairs for n in p})

    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    spark = make_session(32)
    binary = read_binary_docs(
        spark, _crawl_tree(n_files, repeat), glob="*.{pdf,html}"
    ).localCheckpoint(eager=True)
    _force(parse_binary_to_spans(binary.limit(512), container="auto"))
    times: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            t0 = time.time()
            _force(parse_binary_to_spans(binary.coalesce(n),
                                         container="auto"))
            times[n].append(time.time() - t0)
    spark.stop()

    control = _cpu_control(levels)
    stats = _pair_stats_for(times, pairs, control)
    best = {n: min(ts) for n, ts in times.items()}
    thr = {n: round(n_files / best[n], 1) for n in levels}
    out = {
        "metric": "mixed-crawl ingest scaling N->4N "
                  "(PDF+HTML, container sniffing, interleaved)",
        "value": stats[0]["efficiency"],
        "unit": "efficiency",
        "files": n_files,
        "html_every": 3,
        "pages_repeat": repeat,
        "best_wall_sec": {str(n): round(best[n], 2) for n in levels},
        "throughput_files_per_sec": {str(n): thr[n] for n in levels},
        "pairs": stats,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/crawl_scaling.json", "w") as f:
        json.dump(out, f, indent=1)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n### Mixed-crawl ingest scaling ({n_files} files, every 3rd "
            f"HTML, x{repeat} content repeat, rounds={rounds}, "
            "interleaved)\n\n"
            "| task slots (N) | best wall sec | files/sec |\n|---|---|---|\n"
        )
        for n in levels:
            f.write(f"| {n} | {round(best[n], 2)} | {thr[n]} |\n")
        f.write("\n| pair | parse eff | hardware ceiling | normalized |\n"
                "|---|---|---|---|\n")
        for p in stats:
            f.write(
                f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
                f"{p['hardware_ceiling']} | {p['normalized']} |\n"
            )
        f.write("\nPer-round pair ratios: " + "; ".join(
            f"{p['n']}→{p['4n']}: {p['per_round']}" for p in stats) + "\n")


def scaling_office() -> None:
    """Office/mail ingest scaling (r6): binaryFile → container sniff →
    DOCX/XLSX/ODT/MHTML parse at N vs 4N task slots. Per-document work
    is ZIP inflate + ElementTree / email parse — a different CPU
    profile from the PDF tokenizer, so it gets its own efficiency
    evidence. Same interleaved min-of-rounds protocol and long-wall
    sizing as --crawl-scaling; appends to BENCH/BASELINE.md and writes
    BENCH/office_scaling.json."""
    n_files = int(os.environ.get("SPARK_GRAFT_SCALE_PDFS", "20000"))
    repeat = int(os.environ.get("SPARK_GRAFT_SCALE_PDF_REPEAT", "30"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    pairs = [(4, 16)]
    levels = sorted({n for p in pairs for n in p})

    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    spark = make_session(32)
    binary = read_binary_docs(
        spark, _office_tree(n_files, repeat), glob="*.{docx,xlsx,odt,mht,rtf,ods,pptx}"
    ).localCheckpoint(eager=True)
    _force(parse_binary_to_spans(binary.limit(512), container="auto"))
    times: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            t0 = time.time()
            _force(parse_binary_to_spans(binary.coalesce(n),
                                         container="auto"))
            times[n].append(time.time() - t0)
    spark.stop()

    control = _cpu_control(levels)
    stats = _pair_stats_for(times, pairs, control)
    best = {n: min(ts) for n, ts in times.items()}
    thr = {n: round(n_files / best[n], 1) for n in levels}
    out = {
        "metric": "office/mail ingest scaling N->4N (DOCX/XLSX/ODT/"
                  "MHTML/RTF/ODS/PPTX, container sniffing, interleaved)",
        "value": stats[0]["efficiency"],
        "unit": "efficiency",
        "files": n_files,
        "pages_repeat": repeat,
        "best_wall_sec": {str(n): round(best[n], 2) for n in levels},
        "throughput_files_per_sec": {str(n): thr[n] for n in levels},
        "pairs": stats,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/office_scaling.json", "w") as f:
        json.dump(out, f, indent=1)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n### Office/mail ingest scaling ({n_files} files cycled "
            f"docx/xlsx/odt/mht/rtf/ods/pptx, x{repeat} content repeat, "
            f"rounds={rounds}, interleaved)\n\n"
            "| task slots (N) | best wall sec | files/sec |\n|---|---|---|\n"
        )
        for n in levels:
            f.write(f"| {n} | {round(best[n], 2)} | {thr[n]} |\n")
        f.write("\n| pair | parse eff | hardware ceiling | normalized |\n"
                "|---|---|---|---|\n")
        for p in stats:
            f.write(
                f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
                f"{p['hardware_ceiling']} | {p['normalized']} |\n"
            )
        f.write("\nPer-round pair ratios: " + "; ".join(
            f"{p['n']}→{p['4n']}: {p['per_round']}" for p in stats) + "\n")


def scaling_warc() -> None:
    """WARC-archive ingest scaling (r6): binaryFile scan of *.warc.gz →
    archive explode (gunzip members + HTTP payload decode) →
    container-sniffed parse at N vs 4N task slots. The parallel unit is
    the ARCHIVE (one gzip'd member sequence decodes inside one task), so
    the archive count must dwarf the slot count — per_archive=64 over
    20k docs gives ~313 archives vs 16 slots. Same interleaved
    min-of-rounds protocol and long-wall sizing as --crawl-scaling;
    appends to BENCH/BASELINE.md and writes BENCH/warc_scaling.json."""
    n_files = int(os.environ.get("SPARK_GRAFT_SCALE_PDFS", "20000"))
    repeat = int(os.environ.get("SPARK_GRAFT_SCALE_PDF_REPEAT", "30"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    pairs = [(4, 16)]
    levels = sorted({n for p in pairs for n in p})

    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )
    from pdf_extractor_scripts_spark.sources.warcparse import (
        CLEAN_RECORD,
        docs_from_warc_ranges,
        docs_from_warcs,
        index_warc_archives,
    )

    # SPARK_GRAFT_WARC_SPLIT_AB=1 interleaves a CDX-split variant
    # (member-aligned range chunks instead of whole archives as the
    # parallel unit) against the whole-archive path in the SAME
    # session — the only comparison this box's noise permits
    split_ab = os.environ.get("SPARK_GRAFT_WARC_SPLIT_AB") == "1"
    split_members = int(os.environ.get("SPARK_GRAFT_WARC_SPLIT_MEMBERS",
                                       "16"))

    spark = make_session(32)
    archives = read_binary_docs(
        spark, _warc_tree(n_files, repeat), glob="*.warc*"
    ).localCheckpoint(eager=True)
    n_archives = archives.count()

    def run(n: int) -> float:
        t0 = time.time()
        docs = docs_from_warcs(archives.coalesce(n)).filter(CLEAN_RECORD)
        _force(parse_binary_to_spans(docs, container="auto"))
        return time.time() - t0

    ranges = None
    if split_ab:
        ranges = index_warc_archives(
            archives, max_members=split_members
        ).localCheckpoint(eager=True)
        n_chunks = ranges.count()

    def run_split(n: int) -> float:
        t0 = time.time()
        docs = docs_from_warc_ranges(
            ranges.repartition(n, "warc_file", "offset")).filter(CLEAN_RECORD)
        _force(parse_binary_to_spans(docs, container="auto"))
        return time.time() - t0

    run(32)  # warmup (untimed)
    times: dict[int, list[float]] = {n: [] for n in levels}
    split_times: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            times[n].append(run(n))
            if split_ab:
                split_times[n].append(run_split(n))
    spark.stop()

    control = _cpu_control(levels)
    stats = _pair_stats_for(times, pairs, control)
    best = {n: min(ts) for n, ts in times.items()}
    thr = {n: round(n_files / best[n], 1) for n in levels}
    out = {
        "metric": "WARC-archive ingest scaling N->4N "
                  "(gzip'd archives -> explode -> sniffed parse)",
        "value": stats[0]["efficiency"],
        "unit": "efficiency",
        "files": n_files,
        "archives": n_archives,
        "html_every": 3,
        "pages_repeat": repeat,
        "best_wall_sec": {str(n): round(best[n], 2) for n in levels},
        "throughput_files_per_sec": {str(n): thr[n] for n in levels},
        "pairs": stats,
    }
    if split_ab:
        sbest = {n: min(ts) for n, ts in split_times.items()}
        sstats = _pair_stats_for(split_times, pairs, control)
        out["split_variant"] = {
            "max_members": split_members,
            "chunks": n_chunks,
            "best_wall_sec": {str(n): round(sbest[n], 2) for n in levels},
            "pairs": sstats,
            "wall_ratio_whole_over_split": {
                str(n): round(best[n] / max(sbest[n], 1e-9), 3)
                for n in levels},
        }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/warc_scaling.json", "w") as f:
        json.dump(out, f, indent=1)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n### WARC-archive ingest scaling ({n_files} docs in "
            f"{n_archives} gzip'd archives, every 3rd HTML, x{repeat} "
            f"content repeat, rounds={rounds}, interleaved)\n\n"
            "| task slots (N) | best wall sec | docs/sec |\n|---|---|---|\n"
        )
        for n in levels:
            f.write(f"| {n} | {round(best[n], 2)} | {thr[n]} |\n")
        f.write("\n| pair | ingest eff | hardware ceiling | normalized |\n"
                "|---|---|---|---|\n")
        for p in stats:
            f.write(
                f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
                f"{p['hardware_ceiling']} | {p['normalized']} |\n"
            )
        f.write("\nPer-round pair ratios: " + "; ".join(
            f"{p['n']}→{p['4n']}: {p['per_round']}" for p in stats) + "\n")
        if split_ab:
            sv = out["split_variant"]
            f.write(
                f"\nCDX-split variant (same session, interleaved; "
                f"max_members={split_members} → {n_chunks} chunks): "
                "best walls "
                + ", ".join(f"{n} slots {sv['best_wall_sec'][str(n)]}s"
                            for n in levels)
                + "; efficiency "
                + ", ".join(
                    f"{p['n']}→{p['4n']} {p['efficiency']} "
                    f"(normalized {p['normalized']})"
                    for p in sv["pairs"])
                + "; whole/split wall ratios "
                + ", ".join(
                    f"{n}: {sv['wall_ratio_whole_over_split'][str(n)]}"
                    for n in levels)
                + "\n")


def scaling_media() -> None:
    """Media-decode scaling (r6): the distributed per-codec image decode
    stage (decode_pdf_media) at N vs 4N task slots over a mixed corpus
    of REAL payloads from every PDF image-codec family — the pure-CPU
    map stage whose cost the codec modules document as per-executor
    work. Same interleaved min-of-rounds protocol as --scaling; appends
    to BENCH/BASELINE.md and BENCH/media_scaling.json."""
    import random as _random

    scale = float(os.environ.get("SPARK_GRAFT_MEDIA_SCALE", "2"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))
    pairs = [(4, 16)]
    levels = sorted({n for p in pairs for n in p})

    from pdf_extractor_scripts_spark.operators import (
        ccittcodec as cc,
        jbig2codec as jb,
        jpxcodec as jx,
    )
    from pdf_extractor_scripts_spark.operators.jpegcodec import (
        encode_color_jpeg,
        encode_gray_jpeg,
    )
    from pdf_extractor_scripts_spark.operators.multimodal import (
        decode_pdf_media,
    )

    rng = _random.Random(1)
    W, H = 96, 64
    gray = bytes(min(255, 30 + (x * 2 + y) % 200)
                 for y in range(H) for x in range(W))
    rgb = bytes(rng.randrange(256) for _ in range(W * H * 3))
    bw = bytes(1 if (x // 7 + y // 5) % 2 else 0
               for y in range(H) for x in range(W))
    # counts weighted by measured per-decode cost (~0.7ms CCITT/JBIG2,
    # ~50ms JPEG, ~125ms JPX at 96x64) so the mix is CPU-meaningful and
    # the 4-slot wall clears the box's noise window at the default scale
    from pdf_extractor_scripts_spark.operators.jpegcodec import (
        encode_cmyk_jpeg,
    )

    gray_bits = [[1 if gray[y * W + x] < 110 else 0 for x in range(W)]
                 for y in range(H)]
    bw_bytes = bytes(0 if v else 255
                     for row in gray_bits for v in row)
    cmyk = bytes(v for i in range(W * H)
                 for v in (30, 20, 10, 255 - gray[i]))
    patterns = [[[1 if (x + y * 4) % 16 < k * 3 else 0
                  for x in range(4)] for y in range(4)]
                for k in range(4)]
    grid = [[(m + n) % 4 for n in range(W // 4)]
            for m in range(H // 4)]
    pal = bytes(v for i in range(12)
                for v in ((20 * i) % 256, (40 + 17 * i) % 256,
                          (200 - 13 * i) % 256))
    idx_rows = bytearray((W * 4 + 7) // 8 * H)
    for y in range(H):
        for x in range(W):
            bit = x * 4
            idx_rows[y * ((W * 4 + 7) // 8) + (bit >> 3)] |= \
                ((x + y) % 12) << (4 - (bit & 7))
    idx_params = {"width": str(W), "height": str(H), "bpc": "4",
                  "colorspace": "Indexed", "base": "DeviceRGB",
                  "hival": "11",
                  "palette": __import__("binascii").hexlify(pal)
                  .decode("ascii")}
    # counts weighted by measured per-decode cost (~0.7ms CCITT/JBIG2,
    # ~3ms halftone/refined/indexed, ~50-100ms JPEG, ~125ms+ JPX at
    # 96x64) so the mix is CPU-meaningful and the 4-slot wall clears
    # the box's noise window at the default scale; late-r6 families
    # (CMYK JPEG, halftone + refined JBIG2, subsampled JPX, Indexed
    # raw) ride the same stage
    corpus = [
        ("DCTDecode", encode_gray_jpeg(gray, W, H, quality=85), 800),
        ("DCTDecode", encode_color_jpeg(rgb, W, H, quality=85), 700),
        ("DCTDecode", encode_cmyk_jpeg(cmyk, W, H, quality=85), 300),
        ("CCITTFaxDecode", cc.encode_g4(bw, W, H), 18000),
        ("JBIG2Decode", jb.encode_jbig2_embedded(bw, W, H), 18000),
        ("JBIG2Decode", jb.encode_jbig2_halftone_page(grid, patterns),
         5000),
        ("JBIG2Decode", jb.encode_jbig2_refined_page(
            bw_bytes, bw_bytes, W, H), 5000),
        ("JPXDecode", jx.encode_jpx(gray, W, H, 1, levels=2), 350),
        ("JPXDecode", jx.encode_jpx(gray, W, H, 1, levels=2,
                                    irreversible=True, quality=85,
                                    layers=3), 350),
        ("JPXDecode", jx.encode_jpx(rgb, W, H, 3, levels=2, mct=False,
                                    sampling=[(1, 1), (2, 2), (2, 2)]),
         100),
        ("FlateDecode", bytes(idx_rows), 3000),
    ]
    ccitt_params = {"K": "-1", "Columns": str(W), "Rows": str(H)}
    rows = []
    for i, (filt, payload, count) in enumerate(corpus):
        params = (ccitt_params if filt == "CCITTFaxDecode"
                  else idx_params if filt == "FlateDecode" else {})
        for k in range(int(count * scale)):
            rows.append((f"m{i}#{k}", bytearray(payload), filt, params))
    rng.shuffle(rows)  # interleave heavy and light rows across partitions
    n_images = len(rows)

    spark = make_session(32)
    df = spark.createDataFrame(
        rows,
        "media_ref string, payload binary, filter string, "
        "params map<string,string>",
    ).repartition(256).localCheckpoint(eager=True)
    _force(decode_pdf_media(df.limit(64)))  # python-worker warmup
    times: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            t0 = time.time()
            _force(decode_pdf_media(df.coalesce(n)))
            times[n].append(time.time() - t0)
    decoded = decode_pdf_media(df).groupBy("filter", "decoded").count()
    audit = {f"{r['filter']}:{r['decoded']}": r["count"]
             for r in decoded.collect()}
    spark.stop()
    assert all(k.endswith(":True") for k in audit), audit

    control = _cpu_control(levels)
    stats = _pair_stats_for(times, pairs, control)
    best = {n: min(ts) for n, ts in times.items()}
    thr = {n: round(n_images / best[n], 1) for n in levels}
    out = {
        "metric": "media-decode scaling N->4N (all codec families, "
                  "interleaved)",
        "value": stats[0]["efficiency"],
        "unit": "efficiency",
        "images": n_images,
        "image_size": f"{W}x{H}",
        "best_wall_sec": {str(n): round(best[n], 2) for n in levels},
        "throughput_images_per_sec": {str(n): thr[n] for n in levels},
        "decoded_audit": audit,
        "pairs": stats,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/media_scaling.json", "w") as f:
        json.dump(out, f, indent=1)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n### Media-decode scaling ({n_images} images {W}x{H}, all "
            f"four codec families, rounds={rounds}, interleaved)\n\n"
            "| task slots (N) | best wall sec | images/sec |\n|---|---|---|\n"
        )
        for n in levels:
            f.write(f"| {n} | {round(best[n], 2)} | {thr[n]} |\n")
        f.write("\n| pair | decode eff | hardware ceiling | normalized |\n"
                "|---|---|---|---|\n")
        for p in stats:
            f.write(
                f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
                f"{p['hardware_ceiling']} | {p['normalized']} |\n"
            )
        f.write("\nPer-round pair ratios: " + "; ".join(
            f"{p['n']}→{p['4n']}: {p['per_round']}" for p in stats) + "\n")


def scaling() -> None:
    """North-rule scaling evidence: the SAME extraction job at parallelism N
    and 4N on the SAME materialized input.

    Protocol: one Spark session; parallelism is the number of concurrent
    task slots (input coalesced to N vs 4N partitions — the map-only plan
    has no shuffle, so slots == partitions). The two levels are run
    INTERLEAVED over several rounds with min-per-level, because this VM's
    wall clock fluctuates several-fold on minute timescales (noisy
    neighbors); interleaving exposes both levels to the same windows. A
    pure-CPU control measures the hardware's own N->4N ceiling.
    """
    n_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "100000"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "6"))
    pairs = [(4, 16), (8, 32)]
    levels = sorted({n for p in pairs for n in p})

    from pdf_extractor_scripts_spark.fixtures import corpus_df_dist
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline

    spark = make_session(32)
    w = corpus_df_dist(spark, 20000, seed=7).localCheckpoint(eager=True)
    for _ in range(2):
        _force(run_pipeline(w))  # JIT + python-worker warmup
    docs = corpus_df_dist(spark, n_docs, seed=42).localCheckpoint(eager=True)
    coalesced = {n: docs.coalesce(n).localCheckpoint(eager=True) for n in levels}

    times: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            t0 = time.time()
            _force(run_pipeline(coalesced[n]))
            times[n].append(time.time() - t0)

    # raw-PDF ingest scaling (VERDICT r2 #5): binaryFile bytes materialized
    # once, so each pass times the byte-stream parse, not the disk scan;
    # same interleaved protocol
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )

    n_pdfs = int(os.environ.get("SPARK_GRAFT_SCALE_PDFS", "10000"))
    pdf_repeat = int(os.environ.get("SPARK_GRAFT_SCALE_PDF_REPEAT", "1"))
    binary = read_binary_docs(
        spark, _pdf_tree(n_pdfs, pdf_repeat)
    ).localCheckpoint(eager=True)
    _force(parse_binary_to_spans(binary))  # parser warmup
    pdf_times: dict[int, list[float]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            t0 = time.time()
            _force(parse_binary_to_spans(binary.coalesce(n)))
            pdf_times[n].append(time.time() - t0)
    spark.stop()

    best = {n: min(ts) for n, ts in times.items()}
    thr = {n: round(n_docs / best[n], 1) for n in levels}
    control = _cpu_control(levels)

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    def _pair_stats(tbl: dict[int, list[float]]) -> list[dict]:
        out = []
        for lo, hi in pairs:
            # Efficiency per ROUND (adjacent-in-time measurements share the
            # same noisy-neighbor window), then the median across rounds —
            # far more stable than ratios of per-level minima under
            # multiplicative noise.
            per_round = [
                tbl[lo][r] / (4 * tbl[hi][r]) for r in range(len(tbl[lo]))
            ]
            raw = round(_median(per_round), 3)
            ctl = round(control[hi] / (4 * control[lo]), 3)
            out.append(
                {"n": lo, "4n": hi, "efficiency": raw,
                 "best_round": round(max(per_round), 3),
                 "per_round": [round(x, 3) for x in per_round],
                 "hardware_ceiling": ctl,
                 "normalized": round(raw / ctl, 3) if ctl else None}
            )
        return out

    pair_stats = _pair_stats(times)
    pdf_pair_stats = _pair_stats(pdf_times)
    pdf_best = {n: min(ts) for n, ts in pdf_times.items()}
    pdf_thr = {n: round(n_pdfs / pdf_best[n], 1) for n in levels}

    primary = pair_stats[0]
    out = {
        "metric": "scaling efficiency N->4N (extraction pipeline, interleaved min-of-rounds)",
        "value": primary["efficiency"],
        "unit": "efficiency",
        "docs": n_docs,
        "throughput_docs_per_sec": {str(n): thr[n] for n in levels},
        "pairs": pair_stats,
        "pdf_ingest": {
            "files": n_pdfs,
            "pages_repeat": pdf_repeat,
            "throughput_docs_per_sec": {str(n): pdf_thr[n] for n in levels},
            "pairs": pdf_pair_stats,
        },
    }
    print(json.dumps(out))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(f"\n## Scaling run (docs={n_docs}, rounds={rounds}, interleaved)\n\n")
        f.write("| task slots (N) | best wall sec | docs/sec |\n|---|---|---|\n")
        for n in levels:
            f.write(f"| {n} | {round(best[n], 2)} | {thr[n]} |\n")
        f.write(
            "\n| pair | pipeline eff thr(4N)/(4·thr(N)) | pure-CPU hardware "
            "ceiling | normalized (pipeline/ceiling) |\n|---|---|---|---|\n"
        )
        for p in pair_stats:
            f.write(
                f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
                f"{p['hardware_ceiling']} | {p['normalized']} |\n"
            )
        f.write("\nPer-round pair ratios (noise visibility): ")
        f.write("; ".join(
            f"{p['n']}→{p['4n']}: {p['per_round']} (best window {p['best_round']})"
            for p in pair_stats
        ) + "\n")
        f.write(f"\n### Raw-PDF ingest scaling ({n_pdfs} files x{pdf_repeat} "
                "content repeat, binaryFile → byte-stream parse, single map "
                "stage)\n\n")
        f.write("| task slots (N) | best wall sec | files/sec |\n|---|---|---|\n")
        for n in levels:
            f.write(f"| {n} | {round(pdf_best[n], 2)} | {pdf_thr[n]} |\n")
        f.write("\n| pair | parse eff | hardware ceiling | normalized |\n|---|---|---|---|\n")
        for p in pdf_pair_stats:
            f.write(
                f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
                f"{p['hardware_ceiling']} | {p['normalized']} |\n"
            )
        f.write(
            "\nMethodology: single Spark session, zero-shuffle map-only plan, "
            "parallelism = concurrent task slots (input coalesced to N vs 4N "
            "partitions), levels interleaved across rounds; pair efficiency "
            "is the MEDIAN of per-round ratios (adjacent measurements share "
            "the same noisy-neighbor window on this shared VM, so the ratio "
            "cancels the noise that per-level minima cannot). "
            "The pure-CPU control (N independent processes of native-speed "
            "arithmetic) measures the hardware's own N→4N ceiling — this box "
            "sustains ~16 effective cores behind 32 vCPUs, so no workload can "
            "reach 4x beyond N=4-8. The ≥0.8 north-rule target applies to "
            "real cluster cores; on this box the pipeline reaches its "
            "normalized share of the achievable ceiling.\n"
        )




# ---------------------------------------------------------------------------
# --skew mode: the SURVEY §4.2(1) monster-document evidence (r4 VERDICT #3)
# ---------------------------------------------------------------------------
def _monster_corpus(spark, n_light: int, n_heavy: int, repeat: int):
    """Light corpus + n_heavy tiled "1000-page" monsters, ALL monsters
    co-located in one input partition — the pathological placement the
    reference hits when a batch directory holds a giant PDF next to
    leaflets (batch_processor.py:143-148 has no size awareness)."""
    from pdf_extractor_scripts_spark.fixtures import (
        corpus_df_dist,
        make_document,
    )
    from pdf_extractor_scripts_spark.schemas import DOC_SCHEMA

    monsters = []
    for i in range(n_heavy):
        base = make_document(1000 + i, 42)
        spans = []
        for _ in range(repeat):
            for s in base["spans"]:
                spans.append({**s, "offset": len(spans)})
        monsters.append({"doc_id": f"misc/monster_{i}.pdf", "spans": spans})
    heavy = spark.createDataFrame(monsters, schema=DOC_SCHEMA).coalesce(1)
    light = corpus_df_dist(spark, n_light, seed=42).repartition(CPUS)
    sizes = [len(m["spans"]) for m in monsters]
    return light.union(heavy).localCheckpoint(eager=True), max(sizes or [0])


def _eventlog_session(app_name: str):
    """SparkSession with a single-file uncompressed event log (the only
    parseable form on Spark 4) + the temp log dir it writes to."""
    import tempfile

    from pyspark.sql import SparkSession

    log_dir = tempfile.mkdtemp(prefix="skewlog_")
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .getOrCreate()
    )
    return spark, log_dir


def _max_task_per_window(log_dir: str, app_id: str,
                         windows: dict) -> dict[str, list[float]]:
    """Parse the completed event log: max REAL task duration
    (SparkListenerTaskEnd Launch/Finish) per timed (t0ms, t1ms, _)
    window, keyed like ``windows``."""
    import glob as _glob

    cands = [
        q for q in _glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(q) and app_id in os.path.basename(q)
        and "appstatus" not in os.path.basename(q)
    ]
    log_path = max(cands, key=os.path.getsize)
    per_window: dict[str, list[float]] = {}
    with open(log_path) as f:
        for line in f:
            if "SparkListenerTaskEnd" not in line:
                continue
            try:
                ti = json.loads(line).get("Task Info") or {}
                lt, ft = ti["Launch Time"], ti["Finish Time"]
            except Exception:
                continue
            for key, spans_ in windows.items():
                for wi, (w0, w1, _) in enumerate(spans_):
                    if w0 <= lt <= w1:
                        per_window.setdefault(f"{key}:{wi}", []).append(
                            (ft - lt) / 1000.0
                        )
    max_task: dict[str, list[float]] = {k: [] for k in windows}
    for key, spans_ in windows.items():
        for wi in range(len(spans_)):
            ts = per_window.get(f"{key}:{wi}") or [0.0]
            max_task[key].append(max(ts))
    return max_task


def _partition_weight_stats(df) -> dict:
    import pyspark.sql.functions as F

    rows = (
        df.select(F.spark_partition_id().alias("pid"), F.size("spans").alias("w"))
        .groupBy("pid").agg(F.sum("w").alias("w")).collect()
    )
    ws = sorted((int(r["w"]) for r in rows), reverse=True)
    return {"n_partitions": len(ws), "max": ws[0],
            "p50": ws[len(ws) // 2], "sum": sum(ws)}


def skew() -> None:
    """Monster-doc skew A/B: run_pipeline salt=False vs salt=True on the
    SAME pathologically-partitioned input, interleaved min-of-rounds, with
    REAL per-task times from the Spark event log (max task = the straggler
    the salt exists to defuse) plus deterministic per-partition weight
    stats. Appends to BENCH/BASELINE.md and writes BENCH/skew_salt.json,
    which the default bench mode folds into its JSON line."""
    from pdf_extractor_scripts_spark.operators.skew import (
        salted_repartition,
        should_salt,
        with_weight,
    )
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline

    n_light = int(os.environ.get("SPARK_GRAFT_SKEW_LIGHT", "8000"))
    n_heavy = int(os.environ.get("SPARK_GRAFT_SKEW_HEAVY", "16"))
    repeat = int(os.environ.get("SPARK_GRAFT_SKEW_REPEAT", "250"))
    rounds = int(os.environ.get("SPARK_GRAFT_SKEW_ROUNDS", "2"))

    spark, log_dir = _eventlog_session("bench-skew")
    app_id = spark.sparkContext.applicationId

    docs, monster_spans = _monster_corpus(spark, n_light, n_heavy, repeat)
    auto = bool(should_salt(docs))
    stats_nosalt = _partition_weight_stats(docs)
    stats_salt = _partition_weight_stats(
        salted_repartition(with_weight(docs), CPUS)
    )

    _force(run_pipeline(docs.limit(512)))  # JIT + python-worker warmup
    windows: dict[str, list[tuple[float, float, float]]] = {
        "nosalt": [], "salt": []
    }
    for _ in range(rounds):
        for key, use_salt in (("nosalt", False), ("salt", True)):
            t0 = time.time()
            _force(run_pipeline(docs, salt=use_salt))
            t1 = time.time()
            windows[key].append((t0 * 1000, t1 * 1000, t1 - t0))
    spark.stop()

    # parse the completed event log: max task duration per timed window
    max_task = _max_task_per_window(log_dir, app_id, windows)

    wall = {k: round(min(w[2] for w in v), 3) for k, v in windows.items()}
    mtask = {k: round(min(v), 3) for k, v in max_task.items()}
    out = {
        "metric": "monster-doc skew: salted vs unsalted extraction",
        "corpus": {"light": n_light, "heavy": n_heavy,
                   "spans_per_monster": monster_spans, "repeat": repeat},
        "should_salt_auto": auto,
        "wall_sec": wall,
        "max_task_sec": mtask,
        "max_task_ratio": round(mtask["nosalt"] / max(mtask["salt"], 1e-9), 2),
        "wall_ratio": round(wall["nosalt"] / max(wall["salt"], 1e-9), 2),
        "partition_weights": {"nosalt": stats_nosalt, "salt": stats_salt},
        "rounds": rounds,
        "cpus": CPUS,
    }
    print(json.dumps(out))
    root = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(root, "BENCH"), exist_ok=True)
    with open(os.path.join(root, "BENCH", "skew_salt.json"), "w") as f:
        json.dump(out, f, indent=1)
    with open(os.path.join(root, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n### Monster-doc skew A/B ({n_light} light + {n_heavy} "
            f"monsters x{repeat}, co-located; {CPUS} slots, "
            f"min-of-{rounds} interleaved)\n\n"
            "| variant | wall s | max task s | max partition weight |\n"
            "|---|---|---|---|\n"
            f"| salt=False | {wall['nosalt']} | {mtask['nosalt']} | "
            f"{stats_nosalt['max']} |\n"
            f"| salt=True | {wall['salt']} | {mtask['salt']} | "
            f"{stats_salt['max']} |\n\n"
            f"max-task ratio (nosalt/salt) = {out['max_task_ratio']}, "
            f"wall ratio = {out['wall_ratio']}, "
            f"should_salt() auto-detect = {auto}\n"
        )


def _skewed_warc_set(n_light: int, n_monster: int, repeat: int,
                     per_archive: int = 64) -> str:
    """Archive set with one MONSTER: n_light docs spread across small
    archives plus n_monster docs packed into a single giant archive —
    the 10-GB-segment-among-1-GB-siblings shape. Idempotent."""
    root = (f"/tmp/spark_graft_warcskew_{n_light}_{n_monster}_x{repeat}")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
    from pdf_extractor_scripts_spark.sources.warcparse import build_warc

    os.makedirs(root, exist_ok=True)

    def to_doc(i, d):
        spans = [
            dict(s, offset=j * len(d["spans"]) + s["offset"])
            for j in range(repeat) for s in d["spans"]
        ]
        return {"url": f"https://crawl.test/{i}/{d['doc_id']}",
                "payload": spans_to_pdf(spans),
                "content_type": "application/pdf"}

    corpus = make_corpus(n_light + n_monster, seed=42)
    docs = [to_doc(i, d) for i, d in enumerate(corpus)]
    for k in range(0, n_light, per_archive):
        with open(os.path.join(root, f"light{k:06d}.warc.gz"), "wb") as f:
            f.write(build_warc(docs[k:min(k + per_archive, n_light)]))
    with open(os.path.join(root, "monster.warc.gz"), "wb") as f:
        f.write(build_warc(docs[n_light:]))
    with open(marker, "w") as f:
        f.write("ok")
    return root


def skew_warc() -> None:
    """Monster-ARCHIVE skew A/B: whole-archive explode (the parallel
    unit is the archive, so one giant archive is one straggler task) vs
    the CDX-pattern split reader (read_warc_docs_split: member-aligned
    ranged reads spread the same archive across many tasks). Same
    interleaved protocol and REAL event-log max-task evidence as
    --skew; writes BENCH/warc_skew.json + BASELINE.md append."""
    from pdf_extractor_scripts_spark.sources.spans import (
        parse_binary_to_spans,
        read_binary_docs,
    )
    from pdf_extractor_scripts_spark.sources.warcparse import (
        CLEAN_RECORD,
        index_warc_archives,
        read_warc_docs,
        read_warc_docs_split,
    )

    n_light = int(os.environ.get("SPARK_GRAFT_WARC_SKEW_LIGHT", "1200"))
    n_monster = int(os.environ.get("SPARK_GRAFT_WARC_SKEW_MONSTER", "1200"))
    repeat = int(os.environ.get("SPARK_GRAFT_WARC_SKEW_REPEAT", "18"))
    rounds = int(os.environ.get("SPARK_GRAFT_WARC_SKEW_ROUNDS", "2"))
    target = int(os.environ.get("SPARK_GRAFT_WARC_SKEW_TARGET_MB", "4")) << 20
    max_members = int(os.environ.get("SPARK_GRAFT_WARC_SKEW_MEMBERS", "75"))

    root = _skewed_warc_set(n_light, n_monster, repeat)
    spark, log_dir = _eventlog_session("bench-warc-skew")
    app_id = spark.sparkContext.applicationId

    def run(split: bool) -> float:
        docs = (read_warc_docs_split(spark, root, target_bytes=target,
                                     max_members=max_members)
                if split else read_warc_docs(spark, root)).filter(CLEAN_RECORD)
        t0 = time.time()
        _force(parse_binary_to_spans(docs, container="auto"))
        return time.time() - t0

    # deterministic chunk-shape evidence: how many ranges the index
    # carves per archive at this target size
    ranges = index_warc_archives(
        read_binary_docs(spark, root, glob="*.warc*"), target_bytes=target,
        max_members=max_members,
    ).collect()
    per_file: dict[str, int] = {}
    for r in ranges:
        base = os.path.basename(r["warc_file"])
        per_file[base] = per_file.get(base, 0) + 1
    monster_chunks = per_file.get("monster.warc.gz", 1)

    run(True)  # JIT + python-worker warmup (untimed)
    windows: dict[str, list[tuple[float, float, float]]] = {
        "whole": [], "split": []
    }
    for _ in range(rounds):
        for key, split in (("whole", False), ("split", True)):
            t0 = time.time()
            sec = run(split)
            windows[key].append((t0 * 1000, (t0 + sec) * 1000, sec))
    spark.stop()

    max_task = _max_task_per_window(log_dir, app_id, windows)
    wall = {k: round(min(w[2] for w in v), 3) for k, v in windows.items()}
    mtask = {k: round(min(v), 3) for k, v in max_task.items()}
    out = {
        "metric": "monster-archive skew: whole-archive vs CDX-split ingest",
        "corpus": {"light_docs": n_light, "monster_docs": n_monster,
                   "pages_repeat": repeat,
                   "archives": len(per_file),
                   "monster_chunks_at_target": monster_chunks,
                   "target_bytes": target, "max_members": max_members},
        "wall_sec": wall,
        "max_task_sec": mtask,
        "max_task_ratio": round(mtask["whole"] / max(mtask["split"], 1e-9), 2),
        "wall_ratio": round(wall["whole"] / max(wall["split"], 1e-9), 2),
        "rounds": rounds,
        "cpus": CPUS,
    }
    print(json.dumps(out))
    repo = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    with open(os.path.join(repo, "BENCH", "warc_skew.json"), "w") as f:
        json.dump(out, f, indent=1)
    with open(os.path.join(repo, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n### Monster-archive skew A/B ({n_light} light docs in "
            f"{len(per_file) - 1} archives + {n_monster} docs in ONE "
            f"monster archive, x{repeat} content repeat; {CPUS} slots, "
            f"min-of-{rounds} interleaved; split target "
            f"{target >> 20} MB / {max_members} members → "
            f"{monster_chunks} monster chunks)\n\n"
            "| variant | wall s | max task s |\n|---|---|---|\n"
            f"| whole-archive | {wall['whole']} | {mtask['whole']} |\n"
            f"| CDX-split | {wall['split']} | {mtask['split']} |\n\n"
            f"max-task ratio (whole/split) = {out['max_task_ratio']}, "
            f"wall ratio = {out['wall_ratio']}\n"
        )


if __name__ == "__main__":
    if "--scaling-ingest" in sys.argv:
        scaling_ingest()
    elif "--crawl-scaling" in sys.argv:
        scaling_crawl()
    elif "--office-scaling" in sys.argv:
        scaling_office()
    elif "--warc-scaling" in sys.argv:
        scaling_warc()
    elif "--media-scaling" in sys.argv:
        scaling_media()
    elif "--scaling" in sys.argv:
        scaling()
    elif "--warc-skew" in sys.argv:
        skew_warc()
    elif "--skew" in sys.argv:
        skew()
    else:
        main()
