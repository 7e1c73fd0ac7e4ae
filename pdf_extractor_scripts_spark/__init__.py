"""pdf_extractor_scripts_spark — a PySpark-native document-extraction and
corpus-analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``r3habb99/pdf_extractor_scripts`` (a single-process Python PDF-invoice
extraction pipeline) re-expressed Spark-first:

* input is a table of interleaved text+media documents
  ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``,
* classification / routing / validation are native Spark SQL columns,
* layout reconstruction and the branchy vendor extractors are vectorized
  Arrow/pandas UDFs (never per-row Python),
* merges / consolidation are real joins,
* runs checkpoint per stable hash-bucket partition and resume idempotently.

Everything here derives only from public knowledge: the Apache Spark API and
the behavior of the reference repo (cited by file:line in docstrings).
"""

from . import _zipcache

_zipcache.install()

__version__ = "0.1.0"
