"""Sources and sinks for the interleaved-spans corpus.

At deployment scale the corpus lives in an Iceberg table partitioned by
``bucket(N, doc_id)`` — Iceberg gives partition pruning, snapshot isolation
(which subsumes the reference's backup-sink, output_consolidator.py:412-430,
S9), and time travel. This container has no Iceberg runtime jar, so the same
API is provided over parquet with an explicit bucket column; the calling
code is identical either way (S1, SURVEY.md §2.1).

Raw-PDF ingestion (S2-S5) at scale starts from ``spark.read.format
("binaryFile")`` over the object store; ``read_binary_docs`` wires that
shape and ``parse_binary_to_spans`` performs the byte-stream parse for real
via the pure-stdlib tokenizer in sources/pdfparse.py (classic xref +
FlateDecode text PDFs — the class the reference handles).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import DOC_SCHEMA
from .containers import CONTAINERS, sniff

N_BUCKETS_DEFAULT = 64


def write_spans(docs: DataFrame, path: str, n_buckets: int = N_BUCKETS_DEFAULT) -> None:
    """Write the corpus partitioned by a stable doc_id hash bucket — the
    bucket function the checkpoint table keys on, so resume and scan
    pruning agree (operators/checkpoint.py)."""
    from ..operators.checkpoint import doc_bucket

    (
        docs.withColumn("bucket", doc_bucket(n_buckets))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def read_spans(spark: SparkSession, path: str, buckets: list[int] | None = None) -> DataFrame:
    """Read the corpus; ``buckets`` prunes partitions at planning time
    (shows up as PartitionFilters in the scan)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    # StructType.add MUTATES in place — never call it on the shared schema
    read_schema = StructType(
        list(DOC_SCHEMA.fields) + [StructField("bucket", IntegerType())]
    )
    df = spark.read.schema(read_schema).parquet(path)
    if buckets is not None:
        df = df.filter(F.col("bucket").isin(buckets))
    return df.select("doc_id", "spans")


def _coalesce_tiny_file_scan(df: DataFrame, path: str) -> DataFrame:
    """Small-files mitigation (guide §6): binaryFile charges every file
    ``spark.sql.files.openCostInBytes`` (4 MB), so a tree of KB-sized
    documents plans ~32 files per split — hundreds of near-empty tasks
    whose scheduling overhead dwarfs the parse work (r7 measurement: the
    10k-file bench tree planned 313 tasks and ran 3.0 s; coalesced to the
    core count it runs 1.0 s, interleaved A/B). When the input is a LOCAL
    directory its true size is one cheap os.walk away: if the scan holds
    under 4 MB of REAL bytes per planned task, coalesce (no shuffle) down
    to max(defaultParallelism, total/32MB) tasks. Non-local paths (object
    stores, HDFS) and healthy scans are left untouched — at cluster scale
    the split planner's own estimates govern, so this never narrows a real
    corpus scan."""
    import os

    p = path
    if "://" in p and not p.startswith("file:"):
        return df
    if p.startswith("file:"):
        p = p[len("file:"):]
    if not os.path.isdir(p):
        return df
    total = 0
    for root, _dirs, files in os.walk(p):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    n = df.rdd.getNumPartitions()
    if n <= 1 or total // n >= (4 << 20):
        return df
    target = max(
        df.sparkSession.sparkContext.defaultParallelism,
        -(-total // (32 << 20)),
    )
    return df.coalesce(target) if target < n else df


def read_binary_docs(spark: SparkSession, path: str,
                     glob: str = "*.pdf") -> DataFrame:
    """S2-S5 ingestion shape: binaryFile source → (doc_id, content, length),
    recursing into vendor subdirectories. Tiny-file trees are coalesced to
    a sane task count (see _coalesce_tiny_file_scan)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(
            F.col("path").alias("doc_id"),
            F.col("content"),
            F.col("length"),
            F.col("modificationTime").alias("mtime"),
        )
    )
    return _coalesce_tiny_file_scan(df, path)


def parse_binary_to_spans(binary_docs: DataFrame, fallback_acc=None,
                          container: str = "auto",
                          ctype_col: str | None = None) -> DataFrame:
    """S2-S4 for real: batched byte-stream parsing as an Arrow
    mapInPandas over ``content``, each document through its container's
    parser (sources/containers.py — for PDFs the xref walk, page-tree
    traversal, FlateDecode and content-stream tokenization; reference
    parse branches: text_pdf_processor.py:661-670,
    pdf_text_detector.py:171-204). ``container``: "auto" (default)
    sniffs per document — the interleaved-crawl shape, where one 100-TB
    table carries every form; a ``containers.CONTAINERS`` key pins that
    form's parser.

    One output row per input document: (doc_id, spans, parse_ok,
    parse_error) in the corpus span grammar, directly consumable by
    plans.pipeline.run_pipeline (extra columns are pruned by the pipeline's
    own projection). Unparseable bytes degrade to a single empty page (the
    reference's fallback-chain behavior when every parser fails) rather
    than failing the partition — but the fallback is SIGNALLED:
    ``parse_ok=false`` with the exception text in ``parse_error``, so batch
    metrics can count parse fallbacks instead of losing documents silently.

    ``fallback_acc``: optional Spark accumulator incremented once per
    fallback document — lets a driver report the fallback count without a
    second pass over the (potentially 100 TB) binary input.

    ``ctype_col``: optional column holding each document's HTTP
    Content-Type (a WARC crawl delivers one per response) — its charset
    parameter becomes the transport-layer encoding hint for the parsers
    that take one, ranked per the WHATWG sniffing order (BOM > transport
    > meta), and a text/plain type informs the sniff.
    """
    from pyspark.sql.types import BooleanType, StringType, StructField, StructType

    from ..schemas import DOC_SCHEMA
    from .compress import maybe_decompress
    from .htmlparse import charset_of

    if container != "auto" and container not in CONTAINERS:
        raise ValueError(f"unknown container {container!r}")

    out_schema = StructType(
        list(DOC_SCHEMA.fields)
        + [StructField("parse_ok", BooleanType()),
           StructField("parse_error", StringType())]
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            ctypes = (pdf[ctype_col] if ctype_col is not None
                      else [None] * len(pdf))
            for doc_id, content, ctype in zip(
                    pdf["doc_id"], pdf["content"], ctypes):
                err = None
                try:
                    # single-document compression wrappers (.pdf.gz,
                    # .txt.xz ...) unwrap before sniffing, bomb-capped
                    raw = maybe_decompress(bytes(content))
                    form = CONTAINERS[container if container != "auto"
                                      else sniff(raw, ctype)]
                    spans = (form.parse(raw, doc_id, charset=charset_of(ctype))
                             if form.charset else form.parse(raw, doc_id))
                except Exception as e:  # fallback-chain terminal: empty page
                    err = f"{type(e).__name__}: {e}"
                    spans = [{"kind": "page_break", "text": "=== PAGE 1 ===",
                              "media_ref": "", "offset": 0}]
                    if fallback_acc is not None:
                        fallback_acc.add(1)
                out.append({"doc_id": doc_id, "spans": spans,
                            "parse_ok": err is None, "parse_error": err})
            yield pd.DataFrame(out)

    cols = ["doc_id", "content"] + ([ctype_col] if ctype_col else [])
    return binary_docs.select(*cols).mapInPandas(parse, out_schema)


# --input-format → (binaryFile glob, parse_binary_to_spans container) for
# directories of raw documents: one entry per container form, plus "web"
# (every file, sniffed). "spans" (a bucketed spans table) and "warc" (web
# archives, exploded record-wise) are read_documents' other two forms
FORMATS = {**{name: (c.glob, name) for name, c in CONTAINERS.items()},
           "web": ("*", "auto")}

_SCHEME = r"^[A-Za-z][A-Za-z0-9+.\-]*:(//)?"


def relative_doc_id(docs: DataFrame, base: str) -> DataFrame:
    """Rewrite ``doc_id`` from the URI binaryFile reports to the path
    relative to ``base`` (P1 filename detection runs on it, so vendor path
    prefixes survive). binaryFile reports URIs (file:/..., hdfs://nn/...,
    s3a://...) with %20-style escapes; decode, drop the scheme from BOTH the
    reported path and the resolved base, then strip the base prefix with
    length arithmetic — no user path ever enters a regex, so metacharacters
    in ``base`` can't mis-match or throw. A path outside ``base`` keeps its
    scheme-less decoded form."""
    import os
    import re

    base = base.rstrip("/")
    if not re.match(_SCHEME, base):
        base = os.path.abspath(base)  # relative local path → file URI path
    prefix = re.sub(_SCHEME, "", base) + "/"
    # url_decode is form-decoding (`+` → space); URIs from binaryFile
    # percent-escape everything else, so protect literal `+` first to get
    # pure percent-decoding
    decoded = F.url_decode(F.regexp_replace("doc_id", r"\+", "%2B"))
    path = F.regexp_replace(decoded, _SCHEME, "")
    return docs.withColumn(
        "doc_id",
        F.when(
            F.startswith(path, F.lit(prefix)),
            F.substring(path, len(prefix) + 1, 2**31 - 1),
        ).otherwise(path),
    )


def read_documents(spark: SparkSession, path: str, fmt: str = "spans",
                   fallback_acc=None, error_acc=None) -> DataFrame:
    """The one intake: ``path`` in input format ``fmt`` → (doc_id, spans,
    ...) rows ready for plans.pipeline. ``spans`` reads a bucketed spans
    table; ``warc`` explodes web archives, keeps clean records
    (warcparse.CLEAN_RECORD) and parses them with the HTTP Content-Type as
    decode hint, doc_id = WARC-Target-URI; every FORMATS entry parses the
    matching files under ``path``, doc_id = path relative to ``path``.
    ``fallback_acc`` counts parse fallbacks, ``error_acc`` WARC archives
    with framing errors."""
    if fmt == "spans":
        return read_spans(spark, path)
    if fmt == "warc":
        from .warcparse import CLEAN_RECORD, read_warc_docs

        clean = read_warc_docs(spark, path, error_acc=error_acc).filter(CLEAN_RECORD)
        return parse_binary_to_spans(clean, fallback_acc=fallback_acc,
                                     ctype_col="content_type")
    if fmt not in FORMATS:
        raise ValueError(f"unknown input format {fmt!r}")
    glob, container = FORMATS[fmt]
    parsed = parse_binary_to_spans(read_binary_docs(spark, path, glob=glob),
                                   fallback_acc=fallback_acc, container=container)
    return relative_doc_id(parsed, path)
