"""spark-submit entry point.

The reference's three entry points (batch runner, single-file CLI, vendor
processors — SURVEY.md §3) collapse into one job:

    spark-submit --py-files pdf_extractor_scripts_spark.zip \
        -m pdf_extractor_scripts_spark \
        --mode batch --input /data/spans --output /data/out --run-id r42

    --mode analyze     detection + routing columns only (no extraction)
    --mode batch       full pipeline + checkpoint/lineage/metrics + resume
    --mode single-doc  one document's extracted spans to stdout (--doc-id)
    --mode synthetic   run over the deterministic fixture corpus (--n-docs)
    --mode media       distributed media decode audit over a document
                       tree (every container form with media, sniffed):
                       per-codec real pixel decode (DCT/CCITT/JBIG2/JPX/
                       PNG) with decoded/undecoded accounting; --output
                       writes the feature rows as parquet

``--help`` lists every ``--input-format``; the raw-document forms come from
``sources.containers.CONTAINERS``.
"""

from __future__ import annotations

import argparse
import sys


def _session(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> int:
    from .sources.containers import CONTAINERS
    from .sources.spans import FORMATS, read_binary_docs, read_documents

    formats = [
        ("spans", "(default) a bucketed spans parquet table"),
        *((name, c.about) for name, c in CONTAINERS.items()),
        ("web", "a mixed crawl directory: every file, container sniffed"),
        ("warc", "*.warc(.gz) web archives, exploded record-wise, then "
                 "container-sniffed"),
    ]
    p = argparse.ArgumentParser(
        prog="pdf_extractor_scripts_spark",
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog="input formats:\n"
        + "".join(f"  {name:<6} {about}\n" for name, about in formats)
        + "raw documents are read recursively; doc_id = the path relative\n"
        "to --input (warc: the WARC-Target-URI)")
    p.add_argument("--mode", choices=["batch", "analyze", "single-doc",
                                      "synthetic", "media"],
                   default="batch")
    p.add_argument("--input", help="spans table path (parquet/Iceberg) or, "
                   "with any other --input-format, a directory of raw "
                   "documents or web archives")
    p.add_argument("--input-format", choices=["spans", *FORMATS, "warc"],
                   default="spans", help="see 'input formats' below")
    p.add_argument("--output", help="output/checkpoint directory")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--doc-id", help="single-doc mode: which document")
    p.add_argument("--n-docs", type=int, default=1000, help="synthetic mode size")
    p.add_argument("--unified-json", metavar="DIR",
                   help="batch mode: also project the COMMITTED results to "
                        "the reference's UnifiedJSONSchema (json_schema.py) "
                        "as JSON-lines under DIR — one structured document "
                        "per line, doc_id in metadata.pdf_path")
    args = p.parse_args(argv)

    spark = _session(f"pdf-extract-{args.mode}")
    from .plans.pipeline import run_pipeline, run_with_checkpoint
    from .operators.detect import with_assembled_text, with_vendor, with_route

    if args.mode == "media":
        # the distributed media path: payload + codec extraction, then
        # per-codec real decode (all four PDF image-codec families) with
        # honest accounting — the pre-OCR image audit a curation run does
        if not args.input:
            p.error("--input (a directory of PDF files) required")
        from .operators.multimodal import decode_pdf_media, media_from_pdfs

        feats = decode_pdf_media(
            media_from_pdfs(read_binary_docs(spark, args.input, glob="*"))
        )
        if args.output:
            feats.write.mode("overwrite").parquet(args.output)
            feats = spark.read.parquet(args.output)  # don't decode twice
        feats.groupBy("filter", "decoded").count() \
            .orderBy("filter", "decoded").show(20, truncate=False)
        spark.stop()
        return 0

    parse_fallbacks = warc_errors = None
    if args.mode == "synthetic":
        from .fixtures import corpus_df_dist

        docs = corpus_df_dist(spark, args.n_docs)
    else:
        if not args.input:
            p.error("--input required")
        if args.input_format != "spans":
            parse_fallbacks = spark.sparkContext.accumulator(0)
        if args.input_format == "warc":
            warc_errors = spark.sparkContext.accumulator(0)
        docs = read_documents(spark, args.input, args.input_format,
                              fallback_acc=parse_fallbacks,
                              error_acc=warc_errors)

    if args.mode == "analyze":
        out = with_route(with_vendor(with_assembled_text(docs))).select(
            "doc_id", "vendor", "vendor_conf", "route", "n_text_chars", "n_pages"
        )
        out.show(50, truncate=False)
    elif args.mode == "single-doc":
        if not args.doc_id:
            p.error("--doc-id required for single-doc mode")
        res = run_pipeline(docs.filter(docs.doc_id == args.doc_id))
        for row in res.collect():
            for s in row["out_spans"]:
                print((s["kind"], s["text"], s["media_ref"], s["order"]))
    else:  # batch / synthetic
        if args.output:
            n = run_with_checkpoint(spark, docs, args.output, args.run_id)
            print(f"processed {n} documents (resume-aware, run_id={args.run_id})")
            if args.unified_json:
                from .operators.checkpoint import committed_outputs
                from .plans.unified import to_unified_json

                (
                    to_unified_json(committed_outputs(spark, args.output))
                    .select("unified_json")
                    .write.mode("overwrite")
                    .text(args.unified_json)
                )
                print(f"unified JSON written to {args.unified_json}")
        else:
            res = run_pipeline(docs)
            res.write.format("noop").mode("overwrite").save()
            print("pipeline completed (no --output: dry run)")
        # only here has every document been parsed: analyze's show(50)
        # evaluates just the rows it prints
        if parse_fallbacks is not None:
            print(f"parse fallbacks (degraded to empty page): "
                  f"{parse_fallbacks.value}")
        if warc_errors is not None:
            print(f"archives with framing errors (prefix salvaged): "
                  f"{warc_errors.value}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
