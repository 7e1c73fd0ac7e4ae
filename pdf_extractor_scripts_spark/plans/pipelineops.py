"""Pipeline-mechanics queries — the merge / fallback / consolidation /
scoring / adequacy operator families (J1-J3, A1-A2, T5, P7, P9-P10, O4 of
SURVEY.md §2) as oracle-checked SQL over the driver's tables.

Each query derives its inputs deterministically from the documents table
(both dialects construct identical intermediates), then runs the *real*
operator logic so the hash comparison exercises the operator, not the data
prep.
"""

from __future__ import annotations

from .registry import register_sql


# --------------------------------------------------------------------------
# J1 — hybrid text⊕OCR merge as a full outer join (fallback_processor.py:518-620)
# --------------------------------------------------------------------------
def _j1_sql(dialect: str) -> str:
    half = "cast(floor(length(text) / 2) as int)" if dialect == "spark" else "(length(text) // 2)"
    ex = lambda src: f"nullif(regexp_extract({src}, '(join [a-z]+)', 1), '')"
    return f"""
    WITH text_route AS (
      SELECT doc_id, {ex(f"substr(text, 1, {half})")} AS header_val,
             {ex(f"substr(text, 1, {half})")} AS totals_val
      FROM documents WHERE doc_id % 2 = 0
    ),
    ocr_route AS (
      SELECT doc_id, {ex(f"substr(text, {half} + 1)")} AS header_val,
             {ex(f"substr(text, {half} + 1)")} AS totals_val
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT coalesce(t.doc_id, o.doc_id) AS doc_id,
           coalesce(t.header_val, o.header_val) AS header_merged,
           coalesce(o.totals_val, t.totals_val) AS totals_merged,
           CASE WHEN t.doc_id IS NOT NULL AND o.doc_id IS NOT NULL THEN 'hybrid'
                WHEN t.doc_id IS NOT NULL THEN 'text_only'
                ELSE 'ocr_only' END AS merge_source
    FROM text_route t FULL OUTER JOIN ocr_route o ON t.doc_id = o.doc_id
    """


register_sql(
    "j1_hybrid_merge", _j1_sql, ["documents"],
    doc="Hybrid route merge: full outer self-join on doc_id + per-section "
        "priority coalesce (header from text route, totals from OCR route) — "
        "fallback_processor.py:518-620 as a genuine join. The reference's "
        "only caller is dead code (audit §21), so the engine has no "
        "production merge: the kernel resolves each hybrid to one extraction.",
)


# --------------------------------------------------------------------------
# J2 — fallback compare-and-pick (fallback_processor.py:342-390)
# --------------------------------------------------------------------------
def _j2_sql(dialect: str) -> str:
    return """
    WITH primary_r AS (
      SELECT doc_id, 'primary' AS method,
             round(least(0.2 + 0.1 * (length(text) % 7), 1.0), 4) AS confidence
      FROM documents WHERE lang = 'en'
    ),
    fallback_r AS (
      SELECT doc_id, 'fallback' AS method,
             round(least(0.3 + 0.1 * (doc_id % 5), 1.0), 4) AS confidence
      FROM documents
    )
    SELECT f.doc_id,
           CASE WHEN p.doc_id IS NOT NULL AND p.confidence >= f.confidence
                THEN p.method ELSE f.method END AS picked_method,
           cast(CASE WHEN p.doc_id IS NOT NULL AND p.confidence >= f.confidence
                THEN p.confidence ELSE f.confidence END as double) AS picked_confidence
    FROM fallback_r f LEFT JOIN primary_r p ON f.doc_id = p.doc_id
    """


register_sql(
    "j2_fallback_pick", _j2_sql, ["documents"],
    doc="Fallback compare-and-pick: run the alternate method, keep whichever "
        "result has higher confidence (primary wins ties) — "
        "fallback_processor.py:342-390 as a left join + max_by cascade.",
)


# --------------------------------------------------------------------------
# J3 — consolidation group-merge (output_consolidator.py:148-341)
# --------------------------------------------------------------------------
def _j3_sql(dialect: str) -> str:
    val = ("concat('val', cast(variant as string))" if dialect == "spark"
           else "'val' || variant::VARCHAR")
    return f"""
    WITH candidates AS (
      SELECT doc_id, v AS variant,
             round((cast((doc_id * 7 + v * 13) % 100 as double) / 100) * 0.5
                   + (cast((doc_id + v) % 10 as double) / 10) * 0.3
                   + (cast(v as double) / 4) * 0.2, 4) AS quality,
             cast((doc_id * 3 + v * 17) % 101 as double) AS completeness,
             CASE WHEN (doc_id + v) % 4 = 0 THEN ''
                  ELSE {val.replace('variant', 'v')} END AS field_val,
             cast((doc_id * (v + 2)) % 7 as int) AS list_len
      FROM documents
      CROSS JOIN (SELECT 1 AS v UNION ALL SELECT 2 UNION ALL SELECT 3) variants
    ),
    best AS (
      SELECT doc_id, variant AS best_variant, quality AS best_quality,
             completeness AS best_completeness, field_val AS best_field,
             list_len AS best_len
      FROM (SELECT c.*, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY quality DESC, variant) AS rn
            FROM candidates c) r
      WHERE rn = 1
    ),
    flags AS (
      SELECT c.doc_id,
             max(CASE WHEN c.variant <> b.best_variant
                       AND c.quality >= 0.7 * b.best_quality
                       AND abs(c.completeness - b.best_completeness) > 10
                  THEN 1 ELSE 0 END) AS merge_needed,
             max(c.list_len) AS max_len,
             min(CASE WHEN c.variant <> b.best_variant AND c.field_val <> ''
                  THEN c.variant END) AS first_nonempty_other
      FROM candidates c JOIN best b ON c.doc_id = b.doc_id
      GROUP BY c.doc_id
    )
    SELECT b.doc_id, b.best_variant, b.best_quality,
           cast(f.merge_needed as int) AS merge_needed,
           cast(CASE WHEN f.merge_needed = 1 THEN f.max_len
                     ELSE b.best_len END as int) AS merged_len,
           CASE WHEN b.best_field <> '' THEN b.best_field
                WHEN f.merge_needed = 1 AND f.first_nonempty_other IS NOT NULL
                THEN {val.replace('variant', 'f.first_nonempty_other')}
                ELSE b.best_field END AS merged_field
    FROM best b JOIN flags f ON b.doc_id = f.doc_id
    """


register_sql(
    "j3_consolidation_pick", _j3_sql, ["documents"],
    doc="Consolidation per document, the FULL reference flow (audit §8): "
        "quality = 0.5*accuracy + 0.3*completeness + 0.2*confidence picks "
        "the best candidate (output_consolidator.py:308-341); merging is "
        "triggered iff another candidate has >= 70% of the best quality AND "
        "a completeness gap > 10 (:320-336); the deep-merge then fills "
        "empty base scalars from the first non-empty other (in file order) "
        "and lets a strictly LONGER list win (:381-410). merged_len / "
        "merged_field columns value-check both merge rules.",
)


# --------------------------------------------------------------------------
# A1 — weighted section confidence (text_pdf_processor.py:1146-1168)
# --------------------------------------------------------------------------
def _a1_sql(dialect: str) -> str:
    flags = ", 'g'" if dialect == "duckdb" else ""
    alpha = f"cast(length(regexp_replace(text, '[^a-z]', ''{flags})) as double) / greatest(length(text), 1)"
    digit = f"cast(length(regexp_replace(text, '[^0-9]', ''{flags})) as double) / greatest(length(text), 1)"
    space = f"cast(length(regexp_replace(text, '[^ ]', ''{flags})) as double) / greatest(length(text), 1)"
    return f"""
    WITH sect AS (
      SELECT lang,
             {alpha} AS header_conf,
             {space} AS vendor_conf,
             {digit} AS items_conf,
             CASE WHEN n_chars < 100 THEN 1 ELSE 0 END AS n_errors
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(greatest(
             (0.3 * header_conf + 0.3 * items_conf + 0.15 * vendor_conf
              + 0.15 * 0.5 + 0.1 * 0.5
              + 0.05 * vendor_conf + 0.05 * header_conf) / 1.10
             - least(0.1 * n_errors, 0.3), 0.0)), 4) AS avg_overall_conf
    FROM sect GROUP BY lang
    """


register_sql(
    "a1_weighted_confidence", _a1_sql, ["documents"],
    doc="Overall confidence = weighted mean of ALL SEVEN section "
        "confidences (header/items .3, vendor/customer .15, totals .1, "
        "payment/shipping at the DEFAULT .05) normalized by the total "
        "weight 1.10, minus 0.1/error capped at 0.3 then floored at 0 "
        "(text_pdf_processor.py:1015-1168 — every section gets a score, "
        "failures 0.0, so the denominator is constant; audit §10). Pure "
        "per-row column arithmetic — no shuffle until the tiny rollup.",
)


# --------------------------------------------------------------------------
# A2 — completeness score (data_validator.py:159-207)
# --------------------------------------------------------------------------
def _a2_sql(dialect: str) -> str:
    """The exact reference completeness structure (data_validator.py:
    159-207; audit §12): header = 15 (invoice_number) + 10 (invoice_date);
    vendor = 10 (company) + 5 (address); customer = 10 + 5; line items =
    20 base + 15 * complete-item ratio (UNROUNDED float); totals = 10 if
    any populated; min(total, 100). Field presences derive
    deterministically from the documents table on both engines."""
    if dialect == "spark":
        ntok = "size(filter(split(text, ' '), x -> x <> ''))"
    else:
        ntok = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
    has = lambda w: f"(CASE WHEN text LIKE '%{w}%' THEN 1 ELSE 0 END)"
    return f"""
    WITH scored AS (
      SELECT doc_id,
             least(
               15 * {has("join")} + 10 * {has("filter")}
               + 10 * {has("group")} + 5 * {has("table")}
               + 10 * {has("row")} + 5 * {has("column")}
               + (CASE WHEN {ntok} > 20
                  THEN 20 + 15 * least(cast({ntok} as double) / 100, 1.0)
                  ELSE 0 END)
               + 10 * (CASE WHEN n_chars > 200 THEN 1 ELSE 0 END),
               cast(100.0 as double)) AS completeness
      FROM documents
    )
    SELECT cast(floor(completeness / 20) as int) AS completeness_bucket,
           count(*) AS n_docs,
           round(avg(completeness), 4) AS avg_completeness
    FROM scored GROUP BY 1
    """


register_sql(
    "a2_completeness_score", _a2_sql, ["documents"],
    doc="Completeness scoring with the reference's exact point structure "
        "(data_validator.py:159-207): header 15+10, vendor 10+5, customer "
        "10+5, line items 20 + 15*complete-ratio (float, unrounded), "
        "totals 10, capped at 100 — bucketed distribution.",
)


# --------------------------------------------------------------------------
# T5 — order-preserving dedup (text_pdf_processor.py:3217-3234)
# --------------------------------------------------------------------------
def _t5_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = "filter(split(text, ' '), x -> x <> '')"
        dedup = f"array_distinct({toks})"  # keeps first occurrence
        first5 = f"array_join(slice({dedup}, 1, 5), ' ')"
        n = f"size({toks})"
        nd = f"size({dedup})"
    else:
        toks = "list_filter(string_split(text, ' '), x -> x <> '')"
        # DuckDB's list_distinct does NOT preserve order; filter on first
        # occurrence index instead.
        dedup = f"list_filter({toks}, (x, i) -> list_position({toks}, x) = i)"
        first5 = f"array_to_string(list_slice({dedup}, 1, 5), ' ')"
        n = f"len({toks})"
        nd = f"len({dedup})"
    return f"""
    SELECT doc_id, cast({n} as bigint) AS n_tokens, cast({nd} as bigint) AS n_distinct, {first5} AS first5
    FROM documents
    """


register_sql(
    "t5_order_preserving_dedup", _t5_sql, ["documents"],
    doc="Order-preserving dedupe keeping the FIRST occurrence — the "
        "reference's seen-set filter for mark numbers / additional info "
        "(text_pdf_processor.py:3217-3234, schlage_processor.py:2003-2008). "
        "Spark's array_distinct preserves encounter order natively.",
)


# --------------------------------------------------------------------------
# P7 — page-level analysis / mixed-content rollup (pdf_text_detector.py:385-471)
# --------------------------------------------------------------------------
def _p7_sql(dialect: str) -> str:
    if dialect == "spark":
        toks_src = """
      SELECT doc_id, pos, word FROM documents
      LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
        """
        pageno = "cast(floor(pos / 24) as bigint)"
    else:
        toks_src = """
      SELECT doc_id, i - 1 AS pos, toklist[i] AS word
      FROM (SELECT doc_id, string_split(text, ' ') AS toklist FROM documents),
           UNNEST(generate_series(1, len(toklist))) AS u(i)
        """
        pageno = "(pos // 24)::BIGINT"
    return f"""
    WITH toks AS ({toks_src}),
    pages AS (
      SELECT doc_id, {pageno} AS page_no,
             count(*) AS n_tokens,
             max(CASE WHEN word IN ('join', 'filter', 'group') THEN 1 ELSE 0 END) AS has_query_terms,
             max(CASE WHEN word IN ('vector', 'hash') THEN 1 ELSE 0 END) AS has_vector_terms
      FROM toks WHERE word <> '' GROUP BY doc_id, {pageno}
    )
    SELECT doc_id,
           count(*) AS n_pages,
           cast(sum(has_query_terms) as bigint) AS n_query_pages,
           cast(sum(has_vector_terms) as bigint) AS n_vector_pages,
           CASE WHEN sum(has_query_terms) > 0 AND sum(has_vector_terms) > 0
                THEN 1 ELSE 0 END AS is_mixed
    FROM pages GROUP BY doc_id
    """


register_sql(
    "p7_page_analysis", _p7_sql, ["documents"],
    doc="Per-page analysis then per-document rollup (has_text/has_images → "
        "mixed-content detection, pdf_text_detector.py:385-471, 690-722): "
        "explode pages → page-level flags → groupBy(doc).agg.",
)


# --------------------------------------------------------------------------
# P9 — repetitive page-header filter (ceco_processor.py:376-426)
# --------------------------------------------------------------------------
def _p9_sql(dialect: str) -> str:
    if dialect == "spark":
        toks_src = """
      SELECT doc_id, source, word FROM documents
      LATERAL VIEW explode(split(text, ' ')) t AS word
        """
        drop = "word rlike '^(the|a)$'"
    else:
        toks_src = """
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
        """
        drop = "regexp_matches(word, '^(the|a)$')"
    return f"""
    WITH toks AS ({toks_src})
    SELECT source,
           count(*) AS n_lines,
           cast(sum(CASE WHEN {drop} THEN 1 ELSE 0 END) as bigint) AS n_dropped,
           cast(sum(CASE WHEN NOT ({drop}) AND word <> '' THEN 1 ELSE 0 END) as bigint) AS n_kept
    FROM toks GROUP BY source
    """


register_sql(
    "p9_header_filter", _p9_sql, ["documents"],
    doc="Repetitive page-header filtering: drop the ~35 known noise patterns "
        "before line-item scans (ceco_processor.py:376-426) — a NOT rlike "
        "filter over exploded lines, patterns broadcast as literals.",
)


# --------------------------------------------------------------------------
# P10 — adequacy predicate (fallback_processor.py:392-422)
# --------------------------------------------------------------------------
def _p10_sql(dialect: str) -> str:
    if dialect == "spark":
        ntok = "size(filter(split(text, ' '), x -> x <> ''))"
    else:
        ntok = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
    return f"""
    WITH v AS (
      SELECT lang,
             CASE WHEN text LIKE '%join%' AND n_chars >= 100 THEN 1 ELSE 0 END AS validation_passed,
             least(cast({ntok} as double), 100.0) AS completeness,
             (CASE WHEN text NOT LIKE '%join%' THEN 1 ELSE 0 END
              + CASE WHEN text NOT LIKE '%filter%' THEN 1 ELSE 0 END) AS missing_critical
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(CASE WHEN validation_passed = 1
                          OR (completeness >= 70 AND missing_critical <= 1)
                         THEN 1 ELSE 0 END) as bigint) AS n_adequate
    FROM v GROUP BY lang
    """


register_sql(
    "p10_adequacy", _p10_sql, ["documents"],
    doc="Adequacy predicate: result adequate iff validation passes OR "
        "(completeness >= 70% AND <= 1 missing critical field) — "
        "fallback_processor.py:392-422 as a boolean column expression.",
)


# --------------------------------------------------------------------------
# O4 — OCR variant selection (image_pdf_processor.py:435-599)
# --------------------------------------------------------------------------
def _o4_sql(dialect: str) -> str:
    return """
    WITH variants AS (
      SELECT doc_id, v AS variant,
             round(0.4 * (cast((doc_id * (v + 3)) % 97 as double) / 97)
                   + 0.2 * least(cast(n_chars as double) / 500, 1.0)
                   + 0.4 * (cast((doc_id + v * 31) % 53 as double) / 53), 4) AS score
      FROM documents
      CROSS JOIN (SELECT 1 AS v UNION ALL SELECT 2 UNION ALL SELECT 3
                  UNION ALL SELECT 4) vs
    )
    SELECT doc_id, variant AS best_variant, score AS best_score
    FROM (SELECT doc_id, variant, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, variant) AS rn
          FROM variants)
    WHERE rn = 1
    """


register_sql(
    "o4_ocr_variant_select", _o4_sql, ["documents"],
    doc="OCR preprocessing fan-out + best-variant selection: score each of "
        "the preprocessing variants (40% confidence, 20% length, 40% "
        "content indicators — image_pdf_processor.py:435-599) and keep the "
        "argmax per page. The fan-out is an explode; selection is max_by "
        "(rank window for cross-engine ties).",
)


# --------------------------------------------------------------------------
# F8 — table-driven line-item extraction: header↔field-name mapping score
# (text_pdf_processor.py:1351-1489)
# --------------------------------------------------------------------------
def _f8_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = "slice(filter(split(text, ' '), x -> x <> ''), 1, 4)"
        hdr_src = f"""
      SELECT doc_id, posexplode({toks}) AS (hpos, header) FROM documents
        """
        hdr_src = f"""
      SELECT doc_id, hpos, header FROM documents
      LATERAL VIEW posexplode({toks}) t AS hpos, header
        """
    else:
        toks = "list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, 4)"
        hdr_src = f"""
      SELECT doc_id, i - 1 AS hpos, hl[i] AS header
      FROM (SELECT doc_id, {toks} AS hl FROM documents),
           UNNEST(generate_series(1, len(hl))) AS u(i)
        """
    # candidate field bank (reference: required/optional field names)
    cands = "SELECT 'order_qty' AS field UNION ALL SELECT 'part' UNION ALL " \
            "SELECT 'row_id' UNION ALL SELECT 'key_code' UNION ALL SELECT 'value'"
    return f"""
    WITH headers AS ({hdr_src}),
    cands AS ({cands}),
    scored AS (
      SELECT h.doc_id, h.hpos, h.header, c.field,
             CASE WHEN h.header = c.field THEN 1.0
                  WHEN length(h.header) >= 3
                       AND (contains(c.field, h.header) OR contains(h.header, c.field))
                  THEN round(cast(least(length(h.header), length(c.field)) as double)
                             / greatest(length(h.header), length(c.field)), 4)
                  ELSE 0.0 END AS score
      FROM headers h CROSS JOIN cands c
    ),
    best AS (
      SELECT doc_id, hpos, header, field AS mapped_field, score
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, hpos
                                         ORDER BY score DESC, field) AS rn
            FROM scored)
      WHERE rn = 1
    )
    SELECT doc_id,
           cast(sum(CASE WHEN score > 0.3 THEN 1 ELSE 0 END) as bigint) AS n_mapped,
           CASE WHEN sum(CASE WHEN score > 0.3 THEN 1 ELSE 0 END) >= 2
                THEN 1 ELSE 0 END AS is_line_item_table,
           round(avg(score), 4) AS avg_score
    FROM best GROUP BY doc_id
    """


register_sql(
    "f8_header_mapping", _f8_sql, ["documents"],
    doc="Table-driven line-item extraction: score header↔field-name mapping "
        "by containment length-ratio; is_line_item_table iff >= 2 required "
        "fields map with score > 0.3 (text_pdf_processor.py:1351-1489). "
        "Headers derived from each doc's leading tokens; the mapping itself "
        "is the operator under test.",
)
