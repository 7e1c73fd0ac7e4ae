"""The benchmark's one import point for the engine's fixture writers and
reference parsers. The writers live inside shipped engine modules today;
when they move, only this file changes."""

from pdf_extractor_scripts_spark.fixtures import make_document  # noqa: F401
from pdf_extractor_scripts_spark.sources.docxparse import (  # noqa: F401
    build_docx,
    parse_docx_spans,
)
from pdf_extractor_scripts_spark.sources.htmlparse import (  # noqa: F401
    build_html,
    charset_of,
    parse_html_spans,
)
from pdf_extractor_scripts_spark.sources.mimeparse import (  # noqa: F401
    build_mhtml,
    parse_mime_spans,
)
from pdf_extractor_scripts_spark.sources.odtparse import (  # noqa: F401
    build_ods,
    build_odt,
    parse_odt_spans,
)
from pdf_extractor_scripts_spark.sources.pdfparse import (  # noqa: F401
    parse_pdf_spans,
    spans_to_pdf,
)
from pdf_extractor_scripts_spark.sources.pptxparse import (  # noqa: F401
    build_pptx,
    parse_pptx_spans,
)
from pdf_extractor_scripts_spark.sources.rtfparse import (  # noqa: F401
    build_rtf,
    parse_rtf_spans,
)
from pdf_extractor_scripts_spark.sources.warcparse import build_warc  # noqa: F401
from pdf_extractor_scripts_spark.sources.xlsxparse import (  # noqa: F401
    build_xlsx,
    parse_xlsx_spans,
)
