#!/usr/bin/env python
"""Benchmark harness; every mode prints ONE JSON line, which carries the
host facts (``perfbench.host.host_facts``: core count, memory, CPU model,
source revision, library versions) under ``host``.

Default mode: the headline queries at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 test tables, SF_DIR) on local[$SPARK_GRAFT_CPUS] (default: this
host's cores), the end-to-end extraction pipeline over the deterministic
synthetic spans corpus and the four raw-file ingests of INGESTS:

    {"metric": ..., "value": <docs/sec>, "unit": "docs/sec",
     "queries": {name: sec, ...}, "sf": ..., "cpus": ..., ...}

``--queries NAME... [--passes N]`` times the named registered queries the
same way (min of N cache-cleared passes, default 2). Scaling modes
(SCALING: --scaling, --scaling-ingest, --crawl-scaling, --office-scaling,
--warc-scaling, --media-scaling) run one job at N and 4N task slots on the
same materialized input and report the efficiency thr(4N) / (4 * thr(N)).
Skew modes (--skew, --warc-skew) A/B a straggler defence with per-task
times from the Spark event log.

Every mode runs on ``perfbench.host.build_session`` and writes under BENCH/
next to this file, wherever it runs from. Environment: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS; scaling sizes SPARK_GRAFT_SCALE_DOCS,
SPARK_GRAFT_SCALE_PDFS, SPARK_GRAFT_SCALE_PDF_REPEAT,
SPARK_GRAFT_SCALE_ROUNDS and SPARK_GRAFT_MEDIA_SCALE.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import host, trace  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", host.nproc()))

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
# raw-file ingest tree size per sf (files)
N_PDFS_BY_SF = {"sf0.001": 500, "sf0.01": 2000, "sf0.1": 10000}

HTML_EVERY = 3  # every 3rd crawl document is an HTML page, the rest PDFs
DOCS_PER_ARCHIVE = 64
TREE_ROOT = "/tmp"  # generated input trees, reused across runs
# session scratch (temp files, spark.local.dir, event logs), outside the repo
WORK = os.path.join(TREE_ROOT, "spark_graft_bench")


def _repo() -> str:
    return os.path.dirname(os.path.abspath(__file__))


def _bench_path(name: str) -> str:
    """BENCH/<name> in the repository, wherever the bench runs from."""
    d = os.path.join(_repo(), "BENCH")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def _env(name: str, default: int) -> int:
    return int(os.environ.get(f"SPARK_GRAFT_{name}", str(default)))


def _sf_name() -> str:
    return os.path.basename(SF_DIR.rstrip("/"))


# ---------------------------------------------------------------------------
# generated input trees
# ---------------------------------------------------------------------------
def _tree(name: str, files: Callable) -> str:
    """Root of the tree ``files()`` writes as (relative path, bytes) pairs.
    Idempotent: a tree with its .complete marker is reused, so every
    bench run and mode over the same size reads the same bytes."""
    root = os.path.join(TREE_ROOT, f"spark_graft_{name}")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    seen: dict[str, int] = {}
    for rel, data in files():
        path = os.path.join(root, _uniq_path(rel, seen))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
    os.makedirs(root, exist_ok=True)
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _sized(kind: str, n_docs: int, repeat: int) -> str:
    return f"{kind}_{n_docs}" + (f"_x{repeat}" if repeat > 1 else "")


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


def _tile(spans: list[dict], repeat: int) -> list[dict]:
    """``spans`` repeated ``repeat`` times with running offsets: one
    document becomes a multi-page one, so scaling runs can size walls
    past the noise window without hundreds of thousands of inodes."""
    n = len(spans)
    return [dict(s, offset=j * n + s["offset"])
            for j in range(repeat) for s in spans]


def _pdf_tree(n_docs: int, repeat: int = 1) -> str:
    """Raw-PDF tree (mixed 1.4/1.5 layouts, vendor subdirs)."""
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    return _tree(_sized("pdftree", n_docs, repeat), lambda: (
        (d["doc_id"], spans_to_pdf(_tile(d["spans"], repeat),
                                   xref_stream=(i % 2 == 0)))
        for i, d in enumerate(make_corpus(n_docs, seed=42))))


def _crawl_tree(n_docs: int, repeat: int = 1) -> str:
    """MIXED-container crawl tree: every HTML_EVERY-th document is an
    HTML page (its paragraphs = the same corpus text spans, wrapped in
    nav/sidebar/footer chrome; one figure per doc), the rest are PDFs —
    the interleaved shape a web-scale corpus table carries."""
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.htmlparse import build_html
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf

    def files():
        for i, d in enumerate(make_corpus(n_docs, seed=42)):
            spans = _tile(d["spans"], repeat)
            if i % HTML_EVERY == HTML_EVERY - 1:
                paras = [s["text"] for s in spans
                         if s["kind"] == "text" and s["text"].strip()]
                yield (d["doc_id"].rsplit(".", 1)[0] + ".html",
                       build_html(paras, title=d["doc_id"],
                                  images={0: f"img://{d['doc_id']}/fig0"}))
            else:
                yield d["doc_id"], spans_to_pdf(spans, xref_stream=(i % 2 == 0))

    return _tree(_sized("crawltree", n_docs, repeat), files)


def _warc_tree(n_docs: int, repeat: int = 1) -> str:
    """The mixed-crawl tree packed into record-at-time gzip WARC archives
    of DOCS_PER_ARCHIVE documents (each archive's first two documents use
    chunked transfer framing and Content-Encoding gzip) — the container a
    real crawl corpus ships in (Common Crawl segments)."""
    from pdf_extractor_scripts_spark.sources.warcparse import build_warc

    src = _crawl_tree(n_docs, repeat)

    def files():
        rels = sorted(
            os.path.relpath(os.path.join(dp, fn), src)
            for dp, _, fns in os.walk(src)
            for fn in fns if fn.endswith((".pdf", ".html")))
        for seg, k in enumerate(range(0, len(rels), DOCS_PER_ARCHIVE)):
            batch = []
            for rel in rels[k:k + DOCS_PER_ARCHIVE]:
                with open(os.path.join(src, rel), "rb") as f:
                    batch.append({
                        "url": f"https://crawl.test/{rel}",
                        "payload": f.read(),
                        "content_type": ("text/html" if rel.endswith(".html")
                                         else "application/pdf"),
                    })
            yield (f"seg{seg:05d}.warc.gz",
                   build_warc(batch, chunked={0}, content_gzip={1}))

    return _tree(_sized("warctree", n_docs, repeat), files)


def _office_tree(n_docs: int, repeat: int = 1) -> str:
    """Office/mail mix: the corpus docs cycled through the SEVEN
    non-crawl container forms — docx → xlsx → odt → mht (MHTML page
    wrapping the HTML form) → rtf → ods → pptx — the long tail a web
    corpus's office share looks like. ``repeat`` multiplies each
    document's paragraphs."""
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.docxparse import build_docx
    from pdf_extractor_scripts_spark.sources.htmlparse import build_html
    from pdf_extractor_scripts_spark.sources.mimeparse import build_mhtml
    from pdf_extractor_scripts_spark.sources.odtparse import build_ods, build_odt
    from pdf_extractor_scripts_spark.sources.pptxparse import build_pptx
    from pdf_extractor_scripts_spark.sources.rtfparse import build_rtf
    from pdf_extractor_scripts_spark.sources.xlsxparse import build_xlsx

    forms = [
        (".docx", lambda p, t: build_docx(p)),
        (".xlsx", lambda p, t: build_xlsx({"Sheet1": [[x] for x in p]})),
        (".odt", lambda p, t: build_odt(p)),
        (".mht", lambda p, t: build_mhtml(html=build_html(p, title=t).decode())),
        (".rtf", lambda p, t: build_rtf(p)),
        (".ods", lambda p, t: build_ods({"Sheet1": [[x] for x in p]})),
        (".pptx", lambda p, t: build_pptx([{"title": t, "bullets": p}])),
    ]

    def files():
        for i, d in enumerate(make_corpus(n_docs, seed=42)):
            paras = [s["text"] for s in d["spans"]
                     if s["kind"] == "text" and s["text"].strip()] * repeat
            ext, build = forms[i % len(forms)]
            yield d["doc_id"].rsplit(".", 1)[0] + ext, build(paras, d["doc_id"])

    return _tree(_sized("officetree7", n_docs, repeat), files)


# ---------------------------------------------------------------------------
# the ingest table
# ---------------------------------------------------------------------------
def _clean_warc_docs(archives):
    """WARC archives → their clean (2xx, payload-bearing) records. After
    the ``*.warc*`` scan this is read_warc_docs(...).filter(CLEAN_RECORD),
    split in two so the scaling modes can coalesce the archives (the
    parallel unit) before the explode."""
    from pdf_extractor_scripts_spark.sources.warcparse import (
        CLEAN_RECORD,
        docs_from_warcs,
    )

    return docs_from_warcs(archives).filter(CLEAN_RECORD)


class Ingest(NamedTuple):
    """One raw-file ingest: a binaryFile scan of a generated tree, then
    the byte-stream parse. The default mode times ``parse`` over a scan;
    the scaling modes materialize the scan and time ``parse`` over it at
    N and 4N partitions."""

    tree: Callable[[int, int], str]  # (n_docs, repeat) -> tree root
    glob: str
    container: str  # parse_binary_to_spans container
    block: dict | None  # fields of the default-mode JSON block; None: no block
    facts: dict  # extra fields of the scaling JSON
    docs: Callable | None = None  # scanned files -> documents (archive explode)

    def scan(self, spark, root: str):
        from pdf_extractor_scripts_spark.sources.spans import read_binary_docs

        return read_binary_docs(spark, root, glob=self.glob)

    def parse(self, files):
        from pdf_extractor_scripts_spark.sources.spans import parse_binary_to_spans

        docs = self.docs(files) if self.docs else files
        return parse_binary_to_spans(docs, container=self.container)


INGESTS = {
    "pdf": Ingest(_pdf_tree, "*.pdf", "pdf", {}, {}),
    "crawl": Ingest(_crawl_tree, "*.{pdf,html}", "auto",
                    {"html_every": HTML_EVERY}, {"html_every": HTML_EVERY}),
    "warc": Ingest(_warc_tree, "*.warc*", "auto",
                   {"docs_per_archive": DOCS_PER_ARCHIVE},
                   {"html_every": HTML_EVERY}, _clean_warc_docs),
    "office": Ingest(_office_tree, "*.{docx,xlsx,odt,mht,rtf,ods,pptx}", "auto",
                     None, {}),
}


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------
def _session(event_log_dir: str | None = None):
    """The local[CPUS] session every bench mode runs on."""
    spark = host.build_session(_repo(), WORK, cores=CPUS, event_log_dir=event_log_dir)
    # ~1k-row Arrow batches pipeline the JVM and Python phases within a
    # task (a single 10k batch serializes them back-to-back)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
    return spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# default mode
# ---------------------------------------------------------------------------
def main() -> None:
    from pdf_extractor_scripts_spark.fixtures import corpus_df_dist
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline
    from pdf_extractor_scripts_spark.plans.registry import all_queries

    sf = _sf_name()
    n_docs = N_DOCS_BY_SF.get(sf, 1000)
    n_pdfs = N_PDFS_BY_SF.get(sf, 2000)
    spark = _session()
    qspecs = all_queries()

    # JVM/JIT + python-worker warmup (untimed): representative queries and
    # a small extraction once
    for name in ("q1_pricing_summary", "dedup_simhash", "l4_spacing_reconstruct"):
        _force(qspecs[name].spark(spark, SF_DIR))
    _force(run_pipeline(corpus_df_dist(spark, n_docs=256, seed=7)))

    docs = corpus_df_dist(spark, n_docs=n_docs, seed=42).localCheckpoint(eager=True)
    jobs: dict[str, Callable] = {
        name: (lambda name=name: qspecs[name].spark(spark, SF_DIR))
        for name in HEADLINE
    }
    jobs["extract_pipeline"] = lambda: run_pipeline(docs)
    for name, ing in INGESTS.items():
        files = ing.scan(spark, ing.tree(n_pdfs, 1))
        jobs[f"{name}_ingest"] = lambda ing=ing, files=files: ing.parse(files)
    samples, sample = _sampler(spark, jobs)
    # extraction runs mid-suite: this VM's noise comes in multi-minute
    # windows, so its samples are spread across the run
    order = [name for name in jobs if name != "extract_pipeline"]
    order.insert(len(HEADLINE) // 2, "extract_pipeline")

    # min of two passes; the second is UNCONDITIONAL below 10 minutes (a
    # conditional one let a noisy window through both passes). Then any
    # entry still above 1.3x its best record at this sf and core
    # count gets up to 2 more samples, time-separated from the passes: a
    # genuine regression survives all of them, a noise window doesn't. The
    # rolling per-entry minimum cannot ratchet upward the way a previous
    # round's inflated record did.
    suite_t0 = time.time()
    for name in order:
        sample(name)
    if time.time() - suite_t0 < 600:
        for name in order:
            sample(name)
    prev = _prev_round_queries()
    best = _best_records()
    noise_retries: dict[str, int] = {}
    for name in order:
        for _ in range(2):
            if not best.get(name) or min(samples[name]) <= 1.3 * best[name]:
                break
            sample(name)
            noise_retries[name] = noise_retries.get(name, 0) + 1
    timings = {name: min(s) for name, s in samples.items()}
    docs_per_sec = round(n_docs / timings["extract_pipeline"], 2)

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
        "host": host.host_facts(_repo()),
        "lsh_bucket_stats": bucket_stats,
    }
    for name, ing in INGESTS.items():
        if ing.block is not None:
            sec = timings[f"{name}_ingest"]
            out[f"{name}_ingest"] = {"files": n_pdfs, **ing.block, "sec": sec,
                                     "docs_per_sec": round(n_pdfs / sec, 1)}
    out["noise_retries"] = noise_retries
    # fold in the latest --skew A/B evidence so the driver-recorded JSON
    # carries the salt story without rerunning it every round
    try:
        with open(_bench_path("skew_salt.json")) as f:
            out["skew_salt"] = json.load(f)
    except (OSError, ValueError):
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


def _sampler(spark, jobs: dict[str, Callable]):
    """(samples, sample): ``sample(name)`` forces ``jobs[name]()`` and
    appends its wall seconds to ``samples[name]``."""
    samples: dict[str, list[float]] = {name: [] for name in jobs}

    def sample(name: str) -> None:
        spark.catalog.clearCache()  # every sample measures the full cold plan
        t0 = time.time()
        _force(jobs[name]())
        samples[name].append(round(time.time() - t0, 3))

    return samples, sample


def query_passes(argv: list[str]) -> None:
    """``--queries NAME... [--passes N]``: min of N cache-cleared samples of
    each named registered query, run back to back."""
    import argparse

    from pdf_extractor_scripts_spark.plans.registry import all_specs

    p = argparse.ArgumentParser(prog="bench.py --queries")
    p.add_argument("--queries", nargs="+", required=True, metavar="NAME")
    p.add_argument("--passes", type=int, default=2)
    args = p.parse_args(argv)
    names = args.queries
    specs = all_specs()
    spark = _session()
    _force(specs[names[0]].spark(spark, SF_DIR))  # JVM/JIT + python-worker warmup
    samples, sample = _sampler(
        spark, {name: (lambda name=name: specs[name].spark(spark, SF_DIR))
                for name in names})
    for name in names:
        for _ in range(args.passes):
            sample(name)
    spark.stop()
    print(json.dumps({"sf": _sf_name(), "cpus": CPUS,
                      "host": host.host_facts(_repo()),
                      "queries": {name: min(s) for name, s in samples.items()},
                      "samples": samples}))


def _bucket_stats(spark) -> dict:
    """Max/mean bucket occupancy for the MinHash band buckets and the
    sign-LSH tables at the bench SF — the quantity that must stay bounded
    for the candidate-join plans to survive a 100x scale-up."""
    try:
        import pyspark.sql.functions as F

        from pdf_extractor_scripts_spark.plans.dedup import (
            SIGNLSH_TABLES,
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


# ---------------------------------------------------------------------------
# records: per (scale factor, core count)
# ---------------------------------------------------------------------------
LEGACY_CPUS = 32  # the host of every record written before records kept cpus


def _round_records():
    """(path, parsed result) of every driver-written BENCH_r*.json at THIS
    scale factor and core count — the only comparable ones."""
    import glob

    for fn in sorted(glob.glob(os.path.join(_repo(), "BENCH_r*.json"))):
        try:
            with open(fn) as f:
                parsed = json.load(f).get("parsed") or {}
        except (OSError, ValueError, AttributeError):
            continue
        if (parsed.get("queries") and parsed.get("sf") == _sf_name()
                and parsed.get("cpus") == CPUS):
            yield fn, parsed


def _best_records() -> dict[str, float]:
    """Minimum historical wall seconds per timed entry at this scale
    factor and core count: the rolling-min table (BENCH/best_records.json)
    merged with every driver-recorded BENCH_r*.json — the retry baseline
    that a single noisy round cannot inflate."""
    best = dict(_stored_records().get((_sf_name(), CPUS)) or {})
    for _, parsed in _round_records():
        for name, t in parsed["queries"].items():
            if isinstance(t, (int, float)) and t > 0:
                best[name] = min(best.get(name, t), float(t))
    return best


def _stored_records() -> dict[tuple[str, int], dict[str, float]]:
    """BENCH/best_records.json as {(sf, cpus): {entry: min_sec}}. A smoke
    run at sf0.001, or a run on another host, must never clobber the table
    the retry protocol keys on, so the file keeps {sf: {cpus: table}}.
    The two older shapes ({"sf", "queries"} and {sf: table}) read as
    LEGACY_CPUS."""
    try:
        with open(_bench_path("best_records.json")) as f:
            stored = json.load(f)
    except (OSError, ValueError):
        return {}
    if "queries" in stored and "sf" in stored:
        return {(stored["sf"], LEGACY_CPUS): stored["queries"] or {}}
    tables = {}
    for sf, v in stored.items():
        if not isinstance(v, dict):
            continue
        if v and all(isinstance(t, dict) for t in v.values()):
            tables.update({(sf, int(c)): t for c, t in v.items()})
        else:
            tables[(sf, LEGACY_CPUS)] = v
    return tables


def _update_best_records(best: dict[str, float], timings: dict[str, float]) -> None:
    merged = dict(best)
    for name, t in timings.items():
        if t > 0:
            merged[name] = min(merged.get(name, t), float(t))
    tables = _stored_records()
    tables[(_sf_name(), CPUS)] = merged
    nested: dict[str, dict[str, dict]] = {}
    for (sf, cpus), table in tables.items():
        nested.setdefault(sf, {})[str(cpus)] = table
    with open(_bench_path("best_records.json"), "w") as f:
        json.dump(nested, f, indent=1, sort_keys=True)


def _prev_round_queries() -> dict:
    """Latest BENCH_r<n>.json timings at this sf and core count, for the
    round-over-round trend table."""
    import re

    rounds = {}
    for fn, parsed in _round_records():
        m = re.search(r"BENCH_r(\d+)\.json$", fn)
        if m:
            rounds[int(m.group(1))] = parsed["queries"]
    if not rounds:
        return {}
    last = max(rounds)
    return {"round": last, "queries": rounds[last]}


def _append_trend_table(sf, timings, prev, docs_per_sec, bucket_stats) -> None:
    with open(_bench_path("BASELINE.md"), "a") as f:
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


# ---------------------------------------------------------------------------
# scaling modes: one interleaved N -> 4N harness over a table of specs
# ---------------------------------------------------------------------------
def scaling_pairs(cpus: int) -> list[tuple[int, int]]:
    """The (N, 4N) task-slot pairs a ``cpus``-core host can run without
    oversubscribing: (4, 16) and (8, 32) at 32 cores, (1, 4) at 4."""
    return [(n, 4 * n) for n in (cpus // 8, cpus // 4) if n >= 1]


def _burn(iters: int) -> int:
    x = 0
    for i in range(iters):
        x += i * i
    return x


def _cpu_control(levels: list[int], iters: int = 10_000_000) -> dict[int, float]:
    """Pure-CPU control: aggregate throughput of N burner processes.

    Even embarrassingly parallel native code stops scaling 4x once a
    shared host runs out of effective cores (the 32-vCPU host of r1-r7
    sustained ~16). The control quantifies that HARDWARE ceiling so a
    job's efficiency can be read against it."""
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
    share the same noisy-neighbor window), median across rounds — far
    more stable than ratios of per-level minima under multiplicative
    noise — against the pure-CPU hardware ceiling."""
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


class Scaling(NamedTuple):
    """One job measured at N and 4N task slots."""

    name: str  # BASELINE.md heading; JSON key when nested under another spec
    unit: str  # what `build`'s count counts: files, docs or images
    build: Callable  # spark -> (materialized input, count, JSON fields)
    job: Callable  # input coalesced to n partitions -> DataFrame to force
    warmup_rows: int = 512
    walls: bool = True  # best_wall_sec in the JSON (the --scaling line has none)


def _ingest_spec(name: str, n_files: int, repeat: int) -> Scaling:
    ing = INGESTS[name]

    def build(spark):
        files = ing.scan(spark, ing.tree(n_files, repeat)).localCheckpoint(eager=True)
        # packed inputs: the archive, not the document, is the parallel unit
        packed = {"archives": files.count()} if ing.docs else {}
        return files, n_files, {"files": n_files, **packed, **ing.facts,
                                "pages_repeat": repeat}

    return Scaling(f"{name}_ingest", "files", build, ing.parse)


def _extraction_spec(n_docs: int) -> Scaling:
    from pdf_extractor_scripts_spark.fixtures import corpus_df_dist
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline

    def build(spark):
        docs = corpus_df_dist(spark, n_docs, seed=42).localCheckpoint(eager=True)
        return docs, n_docs, {"docs": n_docs}

    return Scaling("extraction", "docs", build, run_pipeline, warmup_rows=20000,
                   walls=False)


MEDIA_W, MEDIA_H = 96, 64


def _media_rows(scale: float) -> list[tuple]:
    """(media_ref, payload, filter, params) rows of REAL payloads from
    every PDF image-codec family. Counts are weighted by measured
    per-decode cost (~0.7 ms CCITT/JBIG2, ~3 ms halftone/refined/indexed,
    ~50-100 ms JPEG, ~125 ms+ JPX at 96x64) so the mix is CPU-meaningful
    and the low-slot wall clears the noise window at scale 2."""
    import binascii
    import random

    from pdf_extractor_scripts_spark.operators import (
        ccittcodec as cc,
        jbig2codec as jb,
        jpxcodec as jx,
    )
    from pdf_extractor_scripts_spark.operators.jpegcodec import (
        encode_cmyk_jpeg,
        encode_color_jpeg,
        encode_gray_jpeg,
    )

    W, H = MEDIA_W, MEDIA_H
    rng = random.Random(1)
    gray = bytes(min(255, 30 + (x * 2 + y) % 200)
                 for y in range(H) for x in range(W))
    rgb = bytes(rng.randrange(256) for _ in range(W * H * 3))
    bw = bytes(1 if (x // 7 + y // 5) % 2 else 0
               for y in range(H) for x in range(W))
    bw_bytes = bytes(0 if gray[y * W + x] < 110 else 255
                     for y in range(H) for x in range(W))
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
    stride = (W * 4 + 7) // 8
    idx_rows = bytearray(stride * H)
    for y in range(H):
        for x in range(W):
            bit = x * 4
            idx_rows[y * stride + (bit >> 3)] |= ((x + y) % 12) << (4 - (bit & 7))
    idx_params = {"width": str(W), "height": str(H), "bpc": "4",
                  "colorspace": "Indexed", "base": "DeviceRGB",
                  "hival": "11", "palette": binascii.hexlify(pal).decode("ascii")}
    ccitt_params = {"K": "-1", "Columns": str(W), "Rows": str(H)}
    corpus = [
        ("DCTDecode", encode_gray_jpeg(gray, W, H, quality=85), 800),
        ("DCTDecode", encode_color_jpeg(rgb, W, H, quality=85), 700),
        ("DCTDecode", encode_cmyk_jpeg(cmyk, W, H, quality=85), 300),
        ("CCITTFaxDecode", cc.encode_g4(bw, W, H), 18000),
        ("JBIG2Decode", jb.encode_jbig2_embedded(bw, W, H), 18000),
        ("JBIG2Decode", jb.encode_jbig2_halftone_page(grid, patterns), 5000),
        ("JBIG2Decode", jb.encode_jbig2_refined_page(bw_bytes, bw_bytes, W, H), 5000),
        ("JPXDecode", jx.encode_jpx(gray, W, H, 1, levels=2), 350),
        ("JPXDecode", jx.encode_jpx(gray, W, H, 1, levels=2, irreversible=True,
                                    quality=85, layers=3), 350),
        ("JPXDecode", jx.encode_jpx(rgb, W, H, 3, levels=2, mct=False,
                                    sampling=[(1, 1), (2, 2), (2, 2)]), 100),
        ("FlateDecode", bytes(idx_rows), 3000),
    ]
    rows = []
    for i, (filt, payload, count) in enumerate(corpus):
        params = (ccitt_params if filt == "CCITTFaxDecode"
                  else idx_params if filt == "FlateDecode" else {})
        for k in range(int(count * scale)):
            rows.append((f"m{i}#{k}", bytearray(payload), filt, params))
    rng.shuffle(rows)  # interleave heavy and light rows across partitions
    return rows


def _media_spec(scale: float) -> Scaling:
    """The distributed per-codec image decode stage (decode_pdf_media):
    the pure-CPU map stage the codec modules document as per-executor
    work."""
    from pdf_extractor_scripts_spark.operators.multimodal import decode_pdf_media

    def build(spark):
        rows = _media_rows(scale)
        df = spark.createDataFrame(
            rows,
            "media_ref string, payload binary, filter string, "
            "params map<string,string>",
        ).repartition(256).localCheckpoint(eager=True)
        decoded = decode_pdf_media(df).groupBy("filter", "decoded").count()
        audit = {f"{r['filter']}:{r['decoded']}": r["count"]
                 for r in decoded.collect()}
        assert all(k.endswith(":True") for k in audit), audit
        return df, len(rows), {"images": len(rows),
                               "image_size": f"{MEDIA_W}x{MEDIA_H}",
                               "decoded_audit": audit}

    return Scaling("media", "images", build, decode_pdf_media, warmup_rows=64)


def _long_ingest(name: str) -> list[Scaling]:
    """Long-wall ingest sizing: 20k files x30 content repeat ran ≥60 s at
    the low slot count on the 32-core host, past its noise window."""
    return [_ingest_spec(name, _env("SCALE_PDFS", 20000),
                         _env("SCALE_PDF_REPEAT", 30))]


# flag -> (BENCH/<stem>_scaling.json, metric, default rounds, specs); later
# specs nest under the first one's JSON line by name
SCALING = {
    "--scaling": (
        "extraction",
        "scaling efficiency N->4N (extraction pipeline, interleaved min-of-rounds)",
        6, lambda: [
            _extraction_spec(_env("SCALE_DOCS", 100000)),
            _ingest_spec("pdf", _env("SCALE_PDFS", 10000),
                         _env("SCALE_PDF_REPEAT", 1))._replace(
                unit="docs", walls=False),
        ]),
    "--scaling-ingest": (
        "pdf", "raw-PDF ingest scaling N->4N (long-wall, interleaved)",
        3, lambda: _long_ingest("pdf")),
    "--crawl-scaling": (
        "crawl", "mixed-crawl ingest scaling N->4N "
                 "(PDF+HTML, container sniffing, interleaved)",
        3, lambda: _long_ingest("crawl")),
    "--office-scaling": (
        "office", "office/mail ingest scaling N->4N (DOCX/XLSX/ODT/"
                  "MHTML/RTF/ODS/PPTX, container sniffing, interleaved)",
        3, lambda: _long_ingest("office")),
    "--warc-scaling": (
        "warc", "WARC-archive ingest scaling N->4N "
                "(gzip'd archives -> explode -> sniffed parse)",
        3, lambda: _long_ingest("warc")),
    "--media-scaling": (
        "media", "media-decode scaling N->4N (all codec families, interleaved)",
        2, lambda: [_media_spec(float(os.environ.get("SPARK_GRAFT_MEDIA_SCALE", "2")))]),
}


def scaling(flag: str) -> None:
    """N→4N scaling evidence for one SCALING mode.

    Protocol: one Spark session; parallelism is the number of concurrent
    task slots (input coalesced to N vs 4N partitions — the map-only jobs
    have no shuffle, so slots == partitions). The levels run INTERLEAVED
    over several rounds, because a shared VM's wall clock fluctuates
    several-fold on minute timescales; interleaving exposes every level to
    the same windows, and the pair efficiency is the median of per-round
    ratios. A pure-CPU control measures the hardware's own N→4N ceiling."""
    stem, metric, default_rounds, make_specs = SCALING[flag]
    rounds = _env("SCALE_ROUNDS", default_rounds)
    pairs = scaling_pairs(CPUS)
    if not pairs:
        raise SystemExit(f"{flag} needs SPARK_GRAFT_CPUS >= 4 (got {CPUS})")
    levels = sorted({n for p in pairs for n in p})
    specs = make_specs()

    spark = _session()
    runs = []
    for spec in specs:
        inp, count, fields = spec.build(spark)
        _force(spec.job(inp.limit(spec.warmup_rows)))  # JIT + python workers
        times: dict[int, list[float]] = {n: [] for n in levels}
        for _ in range(rounds):
            for n in levels:
                t0 = time.time()
                _force(spec.job(inp.coalesce(n)))
                times[n].append(time.time() - t0)
        runs.append((count, fields, times))
    spark.stop()
    control = _cpu_control(levels)

    blocks, lines = [], []
    for spec, (count, fields, times) in zip(specs, runs):
        best = {str(n): round(min(times[n]), 2) for n in levels}
        thr = {str(n): round(count / min(times[n]), 1) for n in levels}
        stats = _pair_stats_for(times, pairs, control)
        blocks.append({**fields, **({"best_wall_sec": best} if spec.walls else {}),
                       f"throughput_{spec.unit}_per_sec": thr, "pairs": stats})
        size = ", ".join(f"{k}={v}" for k, v in fields.items()
                         if not isinstance(v, dict))
        lines += [
            f"\n### {spec.name} scaling ({size}; rounds={rounds}, "
            f"interleaved on {CPUS} cores)\n",
            f"| task slots (N) | best wall sec | {spec.unit}/sec |\n|---|---|---|",
            *(f"| {n} | {best[str(n)]} | {thr[str(n)]} |" for n in levels),
            "\n| pair | efficiency | hardware ceiling | normalized |\n|---|---|---|---|",
            *(f"| {p['n']}→{p['4n']} | {p['efficiency']} | "
              f"{p['hardware_ceiling']} | {p['normalized']} |" for p in stats),
            "\nPer-round pair ratios: " + "; ".join(
                f"{p['n']}→{p['4n']}: {p['per_round']}" for p in stats),
        ]
    out = {"metric": metric, "value": blocks[0]["pairs"][0]["efficiency"],
           "unit": "efficiency", **blocks[0],
           **{spec.name: block for spec, block in zip(specs[1:], blocks[1:])},
           "host": host.host_facts(_repo())}
    print(json.dumps(out))
    with open(_bench_path(f"{stem}_scaling.json"), "w") as f:
        json.dump(out, f, indent=1)
    with open(_bench_path("BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")


# ---------------------------------------------------------------------------
# skew modes: one interleaved event-log A/B
# ---------------------------------------------------------------------------
SKEW_LIGHT, SKEW_HEAVY, SKEW_REPEAT, SKEW_ROUNDS = 8000, 16, 250, 2
WARC_SKEW_LIGHT, WARC_SKEW_MONSTER, WARC_SKEW_REPEAT = 1200, 1200, 18
WARC_SKEW_TARGET, WARC_SKEW_MEMBERS = 4 << 20, 75
MAX_TASK_NOTE = "max_task_sec: the slowest task's Executor Run Time"


def _skew_stats(tracer, jobs: dict, stages: dict) -> dict:
    """Per variant (a span name; the first run's order): the min over its
    rounds of the span's wall and of its slowest task's Executor Run Time,
    over the stages of the span's jobs in a ``trace.read_event_log`` read.
    Ratios put the first variant over the second."""
    att = trace.Attribution(tracer, jobs, stages)
    walls: dict[str, list[float]] = {}
    tasks: dict[str, list[float]] = {}
    for s in tracer.spans:
        ms = [t for st in att.stages_where(spans={s["id"]}) for t in st["task_ms"]]
        walls.setdefault(s["name"], []).append(s["end"] - s["start"])
        tasks.setdefault(s["name"], []).append(max(ms, default=0) / 1000.0)
    wall = {k: round(min(v), 3) for k, v in walls.items()}
    mtask = {k: round(min(v), 3) for k, v in tasks.items()}
    a, b = wall
    return {"wall_sec": wall, "max_task_sec": mtask,
            "max_task_ratio": round(mtask[a] / max(mtask[b], 1e-9), 2),
            "wall_ratio": round(wall[a] / max(wall[b], 1e-9), 2)}


def _skew_ab(spark, stem: str, title: str, variants: dict,
             fields: dict, note: str = "") -> None:
    """Interleaved A/B over ``variants`` (key -> (BASELINE.md label, thunk
    building the untimed plan to force)), each forced inside a benchmark
    span named by its key, SKEW_ROUNDS times. The session's event log is
    read after it stops (``_skew_stats``). Prints the JSON line, writes
    BENCH/<stem>.json and appends the BASELINE.md rows."""
    log_dir = spark.conf.get("spark.eventLog.dir")
    tracer = trace.Tracer(True, stem)
    tracer.bind(spark)
    for _ in range(SKEW_ROUNDS):
        for key, (_, plan) in variants.items():
            df = plan()
            with tracer.span(key, "bench"):
                _force(df)
    spark.stop()

    stats = _skew_stats(tracer, *trace.read_event_log(log_dir))
    wall, mtask = stats["wall_sec"], stats["max_task_sec"]
    a, b = variants
    out = {**fields, **stats, "rounds": SKEW_ROUNDS, "cpus": CPUS,
           "host": host.host_facts(_repo())}
    print(json.dumps(out))
    with open(_bench_path(f"{stem}.json"), "w") as f:
        json.dump(out, f, indent=1)
    with open(_bench_path("BASELINE.md"), "a") as f:
        f.write(f"\n### {title}; {CPUS} slots, min-of-{SKEW_ROUNDS} "
                "interleaved)\n\n| variant | wall s | max task s |\n|---|---|---|\n")
        for key, (label, _) in variants.items():
            f.write(f"| {label} | {wall[key]} | {mtask[key]} |\n")
        f.write(f"\nmax-task ratio ({a}/{b}) = {out['max_task_ratio']}, "
                f"wall ratio = {out['wall_ratio']}{note}\n")


def _skew_log_dir(stem: str) -> str:
    """A fresh event-log directory for one skew run (the last run's log
    stays for inspection until the next)."""
    import shutil

    log_dir = os.path.join(WORK, f"eventlog_{stem}")
    shutil.rmtree(log_dir, ignore_errors=True)
    return log_dir


def _monster_corpus(spark, n_light: int, n_heavy: int, repeat: int):
    """Light corpus + n_heavy tiled "1000-page" monsters, ALL monsters
    co-located in one input partition — the pathological placement the
    reference hits when a batch directory holds a giant PDF next to
    leaflets (batch_processor.py:143-148 has no size awareness)."""
    from pdf_extractor_scripts_spark.fixtures import corpus_df_dist, make_document
    from pdf_extractor_scripts_spark.schemas import DOC_SCHEMA

    monsters = [{"doc_id": f"misc/monster_{i}.pdf",
                 "spans": _tile(make_document(1000 + i, 42)["spans"], repeat)}
                for i in range(n_heavy)]
    heavy = spark.createDataFrame(monsters, schema=DOC_SCHEMA).coalesce(1)
    light = corpus_df_dist(spark, n_light, seed=42).repartition(CPUS)
    sizes = [len(m["spans"]) for m in monsters]
    return light.union(heavy).localCheckpoint(eager=True), max(sizes or [0])


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
    SAME pathologically-partitioned input, with deterministic
    per-partition weight stats. Writes BENCH/skew_salt.json, which the
    default mode folds into its JSON line."""
    from pdf_extractor_scripts_spark.operators.skew import (
        salted_repartition,
        should_salt,
        with_weight,
    )
    from pdf_extractor_scripts_spark.plans.pipeline import run_pipeline

    spark = _session(_skew_log_dir("skew_salt"))
    docs, monster_spans = _monster_corpus(spark, SKEW_LIGHT, SKEW_HEAVY, SKEW_REPEAT)
    auto = bool(should_salt(docs))
    weights = {"nosalt": _partition_weight_stats(docs),
               "salt": _partition_weight_stats(
                   salted_repartition(with_weight(docs), CPUS))}
    _force(run_pipeline(docs.limit(512)))  # JIT + python-worker warmup
    _skew_ab(
        spark, "skew_salt",
        f"Monster-doc skew A/B ({SKEW_LIGHT} light + {SKEW_HEAVY} monsters "
        f"x{SKEW_REPEAT}, co-located",
        {"nosalt": ("salt=False", lambda: run_pipeline(docs, salt=False)),
         "salt": ("salt=True", lambda: run_pipeline(docs, salt=True))},
        {"metric": "monster-doc skew: salted vs unsalted extraction "
                   f"({MAX_TASK_NOTE})",
         "corpus": {"light": SKEW_LIGHT, "heavy": SKEW_HEAVY,
                    "spans_per_monster": monster_spans, "repeat": SKEW_REPEAT},
         "should_salt_auto": auto, "partition_weights": weights},
        f"; max partition weight {weights['nosalt']['max']} → "
        f"{weights['salt']['max']}; should_salt() auto-detect = {auto}")


def _skewed_warc_set(n_light: int, n_monster: int, repeat: int) -> str:
    """Archive set with one MONSTER: n_light docs spread across small
    archives plus n_monster docs packed into a single giant archive —
    the 10-GB-segment-among-1-GB-siblings shape."""
    from pdf_extractor_scripts_spark.fixtures import make_corpus
    from pdf_extractor_scripts_spark.sources.pdfparse import spans_to_pdf
    from pdf_extractor_scripts_spark.sources.warcparse import build_warc

    def files():
        docs = [{"url": f"https://crawl.test/{i}/{d['doc_id']}",
                 "payload": spans_to_pdf(_tile(d["spans"], repeat)),
                 "content_type": "application/pdf"}
                for i, d in enumerate(make_corpus(n_light + n_monster, seed=42))]
        for k in range(0, n_light, DOCS_PER_ARCHIVE):
            yield (f"light{k:06d}.warc.gz",
                   build_warc(docs[k:min(k + DOCS_PER_ARCHIVE, n_light)]))
        yield "monster.warc.gz", build_warc(docs[n_light:])

    return _tree(f"warcskew_{n_light}_{n_monster}_x{repeat}", files)


def skew_warc() -> None:
    """Monster-ARCHIVE skew A/B: whole-archive explode (the parallel
    unit is the archive, so one giant archive is one straggler task) vs
    the CDX-pattern split reader (read_warc_docs_split: member-aligned
    ranged reads spread the same archive across many tasks). Writes
    BENCH/warc_skew.json."""
    from collections import Counter

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

    root = _skewed_warc_set(WARC_SKEW_LIGHT, WARC_SKEW_MONSTER, WARC_SKEW_REPEAT)
    spark = _session(_skew_log_dir("warc_skew"))

    def parsed(split: bool):
        docs = (read_warc_docs_split(spark, root, target_bytes=WARC_SKEW_TARGET,
                                     max_members=WARC_SKEW_MEMBERS)
                if split else read_warc_docs(spark, root))
        return parse_binary_to_spans(docs.filter(CLEAN_RECORD), container="auto")

    # deterministic chunk-shape evidence: how many ranges the index
    # carves per archive at this target size
    ranges = index_warc_archives(
        read_binary_docs(spark, root, glob="*.warc*"),
        target_bytes=WARC_SKEW_TARGET, max_members=WARC_SKEW_MEMBERS,
    ).collect()
    per_file = Counter(os.path.basename(r["warc_file"]) for r in ranges)
    monster_chunks = per_file.get("monster.warc.gz", 1)

    _force(parsed(True))  # JIT + python-worker warmup
    _skew_ab(
        spark, "warc_skew",
        f"Monster-archive skew A/B ({WARC_SKEW_LIGHT} light docs in "
        f"{len(per_file) - 1} archives + {WARC_SKEW_MONSTER} docs in ONE "
        f"monster archive, x{WARC_SKEW_REPEAT} content repeat; split target "
        f"{WARC_SKEW_TARGET >> 20} MB / {WARC_SKEW_MEMBERS} members → "
        f"{monster_chunks} monster chunks",
        {"whole": ("whole-archive", lambda: parsed(False)),
         "split": ("CDX-split", lambda: parsed(True))},
        {"metric": "monster-archive skew: whole-archive vs CDX-split ingest "
                   f"({MAX_TASK_NOTE})",
         "corpus": {"light_docs": WARC_SKEW_LIGHT,
                    "monster_docs": WARC_SKEW_MONSTER,
                    "pages_repeat": WARC_SKEW_REPEAT,
                    "archives": len(per_file),
                    "monster_chunks_at_target": monster_chunks,
                    "target_bytes": WARC_SKEW_TARGET,
                    "max_members": WARC_SKEW_MEMBERS}})


if __name__ == "__main__":
    modes = {"--skew": skew, "--warc-skew": skew_warc,
             "--queries": lambda: query_passes(sys.argv[1:]),
             **{flag: (lambda flag=flag: scaling(flag)) for flag in SCALING}}
    flags = [a for a in sys.argv[1:] if a in modes]
    (modes[flags[0]] if flags else main)()
