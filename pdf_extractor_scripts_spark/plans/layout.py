"""Layout-reconstruction queries — the L-operator family of SURVEY.md §2.3.

The reference reconstructs page layout from pdfplumber character boxes:
reading-order sort (text_pdf_processor.py:852), y-tolerance line clustering
(:838-881), gap→space reconstruction (:883-916) and page-marker concatenation
(:662-670). The driver's ``documents`` table has no geometry, so each query
derives a deterministic synthetic geometry from the token index (token i of a
document sits at x=(i%8)*80, y=1000-(i/8)*12 — 8 tokens per visual line) and
then runs the *real* operator on it. Both the Spark plan and the DuckDB oracle
construct the identical geometry, so the operator logic itself is what gets
hash-compared.

At corpus scale these are per-document window functions: partition by doc_id,
order by (y desc, x) — one shuffle on doc_id, then all clustering/sorting is
partition-local. In the production engine (operators/layout.py) the same logic
runs inside a grouped Arrow UDF to avoid materializing per-character rows.
"""

from __future__ import annotations

from .registry import register_sql


def _toks_cte(dialect: str) -> str:
    """Tokenized documents with synthetic geometry; doc_id % 7 = 0 subset."""
    if dialect == "spark":
        return """
    toks AS (
      SELECT doc_id, pos, word,
             (pos % 8) * 80 AS x,
             cast(1000 - floor(pos / 8) * 12 as bigint) AS y,
             cast(floor(pos / 8) as bigint) AS line_no
      FROM (
        SELECT doc_id, pos, word
        FROM documents
        LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
        WHERE doc_id % 7 = 0
      )
      WHERE word <> ''
    )"""
    return """
    toks AS (
      SELECT doc_id, i - 1 AS pos, toklist[i] AS word,
             ((i - 1) % 8) * 80 AS x,
             (1000 - ((i - 1) // 8) * 12)::BIGINT AS y,
             ((i - 1) // 8)::BIGINT AS line_no
      FROM (SELECT doc_id, string_split(text, ' ') AS toklist
            FROM documents WHERE doc_id % 7 = 0),
           UNNEST(generate_series(1, len(toklist))) AS u(i)
      WHERE toklist[i] <> ''
    )"""


def _line_agg(dialect: str, piece: str, sep: str) -> str:
    if dialect == "spark":
        return (
            f"array_join(transform(array_sort(collect_list(struct(x, {piece}))), "
            f"s -> s.{piece}), '{sep}')"
        )
    return f"string_agg({piece}, '{sep}' ORDER BY x, {piece})"


# --------------------------------------------------------------------------
# L2 — reading-order sort (top-to-bottom, left-to-right)
# --------------------------------------------------------------------------
def _l2_sql(dialect: str) -> str:
    return f"""
    WITH {_toks_cte(dialect)}
    SELECT doc_id, line_no,
           count(*) AS n_tokens,
           {_line_agg(dialect, "word", " ")} AS line_text
    FROM toks
    GROUP BY doc_id, line_no
    """


register_sql(
    "l2_reading_order", _l2_sql, ["documents"],
    doc="Reading-order sort: sorted(chars, key=(-y0, x0)) at "
        "text_pdf_processor.py:852 → per-line ordered reassembly. "
        "Partition-local sort after one shuffle on doc_id.",
    gated=False,  # the identical reading-order window (ORDER BY y DESC, x)
                  # is the spine of gated l3_line_cluster; stays
                  # oracle-checked locally
)


# --------------------------------------------------------------------------
# L3 — y-tolerance line clustering
# --------------------------------------------------------------------------
def _l3_sql(dialect: str) -> str:
    return f"""
    WITH {_toks_cte(dialect)},
    jit AS (
      SELECT doc_id, word, x, y - (pos % 2) AS yj FROM toks
    ),
    flagged AS (
      SELECT doc_id, word, x, yj,
             CASE WHEN lag(yj) OVER w IS NULL
                       OR abs(yj - lag(yj) OVER w) > 2 THEN 1 ELSE 0 END AS new_line
      FROM jit
      WINDOW w AS (PARTITION BY doc_id ORDER BY yj DESC, x, word)
    ),
    clustered AS (
      SELECT doc_id, word, x,
             sum(new_line) OVER (PARTITION BY doc_id ORDER BY yj DESC, x, word
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cluster_id
      FROM flagged
    )
    SELECT doc_id, cast(cluster_id as bigint) AS cluster_id,
           count(*) AS n_tokens,
           {_line_agg(dialect, "word", " ")} AS line_text
    FROM clustered
    GROUP BY doc_id, cluster_id
    """


register_sql(
    "l3_line_cluster", _l3_sql, ["documents"],
    doc="Bounding-box line clustering: new line when |y - current| > "
        "tolerance 2 (text_pdf_processor.py:838-881, duplicated in all "
        "vendor processors). Cumulative new-cluster flag over the reading-"
        "order window — the sessionization idiom; tokens get ±1 y-jitter so "
        "the tolerance logic is actually exercised.",
)


# --------------------------------------------------------------------------
# L4 — spacing reconstruction from x-gaps
# --------------------------------------------------------------------------
def _l4_sql(dialect: str) -> str:
    return f"""
    WITH {_toks_cte(dialect)},
    gaps AS (
      SELECT doc_id, line_no, x, word,
             lag(x + 6 * length(word)) OVER
               (PARTITION BY doc_id, line_no ORDER BY x, word) AS prev_end
      FROM toks
    ),
    pieces AS (
      SELECT doc_id, line_no, x,
             CASE WHEN prev_end IS NULL THEN word
                  ELSE concat(repeat(' ',
                         greatest(1, cast(floor((x - prev_end) / 6.0) as int))), word)
             END AS piece
      FROM gaps
    )
    SELECT doc_id, line_no, line_text, cast(length(line_text) as bigint) AS line_len
    FROM (
      SELECT doc_id, line_no,
             {_line_agg(dialect, "piece", "")} AS line_text
      FROM pieces
      GROUP BY doc_id, line_no
    )
    """


register_sql(
    "l4_spacing_reconstruct", _l4_sql, ["documents"],
    doc="Spacing reconstruction: insert max(1, (Δx / char_width=6pt) - 1)-ish "
        "spaces between runs (text_pdf_processor.py:883-916). The exact "
        "space count feeds the span-equality contract, so the arithmetic is "
        "identical integer floor math on both engines.",
)


# --------------------------------------------------------------------------
# L8 — page concatenation with `=== PAGE n ===` markers
# --------------------------------------------------------------------------
def _l8_sql(dialect: str) -> str:
    if dialect == "spark":
        marker = "concat('=== PAGE ', cast(page_no + 1 as string), ' === ', page_text)"
        doc_agg = (
            "array_join(transform(array_sort(collect_list(struct(page_no, marked))), "
            "s -> s.marked), ' ')"
        )
    else:
        marker = "concat('=== PAGE ', (page_no + 1)::VARCHAR, ' === ', page_text)"
        doc_agg = "string_agg(marked, ' ' ORDER BY page_no)"
    return f"""
    WITH {_toks_cte(dialect)},
    pages AS (
      SELECT doc_id, cast(floor(pos / 24) as bigint) AS page_no,
             {_line_agg(dialect, "word", " ").replace("x,", "pos,").replace("struct(x", "struct(pos")} AS page_text
      FROM toks
      GROUP BY doc_id, cast(floor(pos / 24) as bigint)
    ),
    marked_pages AS (
      SELECT doc_id, page_no, {marker} AS marked FROM pages
    )
    SELECT doc_id, count(*) AS n_pages, {doc_agg} AS doc_text
    FROM marked_pages GROUP BY doc_id
    """


register_sql(
    "l8_page_concat", _l8_sql, ["documents"],
    doc="Page concatenation with '=== PAGE n ===' markers "
        "(text_pdf_processor.py:662-670, ceco_processor.py:223-233): two "
        "nested ordered string aggregations (tokens→pages→document).",
)


# --------------------------------------------------------------------------
# L6 — table extraction: positional rows keyed by a header row
# --------------------------------------------------------------------------
def _l6_sql(dialect: str) -> str:
    if dialect == "spark":
        mk_map = "map_from_arrays(array('line', 'part', 'qty'), cells)"
        get = lambda k: f"element_at(m, '{k}')"
    else:
        mk_map = "map(['line', 'part', 'qty'], cells)"
        get = lambda k: f"(m['{k}'])[1]"
    cells = (
        "array(cast(l_linenumber as string), cast(l_partkey as string), "
        "cast(l_quantity as string))"
        if dialect == "spark"
        else "[l_linenumber::VARCHAR, l_partkey::VARCHAR, l_quantity::VARCHAR]"
    )
    return f"""
    WITH keyed AS (
      SELECT l_orderkey, l_linenumber, {mk_map} AS m
      FROM (SELECT l_orderkey, l_linenumber, {cells} AS cells
            FROM lineitem WHERE l_orderkey % 50 = 0)
    )
    SELECT l_orderkey, l_linenumber,
           {get("line")} AS line, {get("part")} AS part, {get("qty")} AS qty
    FROM keyed
    """


register_sql(
    "l6_table_extract", _l6_sql, ["lineitem"],
    doc="Table extraction: first row = headers, remaining rows become "
        "header-keyed dicts (text_pdf_processor.py:918-954). Positional "
        "cells → map_from_arrays(headers, cells) → keyed lookup; downstream "
        "consumers explode the row maps.",
)
