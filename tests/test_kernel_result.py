"""The extraction kernel's result contract, without Spark: ``extract_routed``
returns exactly one result per row, whatever the row's vendor and route, and
that result is already what emission reads — fields in bank order with no
None value, items, info. A row with no extraction (null text, or a vendor
with no bank) gets empty lists. Emission (operators/merge.py) relies on this:
it reads the UDF's one ``res`` struct directly, with no route merge."""

from __future__ import annotations

import pandas as pd

from pdf_extractor_scripts_spark import config as C
from pdf_extractor_scripts_spark.fixtures import make_document
from pdf_extractor_scripts_spark.operators.kernel import extract_routed


def _joined(spans: list[dict], kinds: tuple[str, ...]) -> str:
    return "\n".join(s["text"] for s in spans if s["kind"] in kinds)


def _vendor_spans() -> dict[str, list[dict]]:
    """Fixture spans per vendor: make_document's vendor class is i % 4, and
    i = 10 is a schlage document with a text page and media pages."""
    by_vendor = {}
    for i, v in ((0, "ceco"), (1, "steelcraft"), (10, "schlage"), (3, "generic")):
        by_vendor[v] = make_document(i, seed=7)["spans"]
    return by_vendor


def _batch() -> pd.DataFrame:
    rows = []
    for v, spans in _vendor_spans().items():
        for route in ("text", "ocr", "hybrid"):
            for prim in ("text", "ocr"):
                rows.append({
                    "vendor": v, "route": route, "fb_primary": prim,
                    "has1": True, "has2": prim == "ocr",
                    "text": _joined(spans, ("page_break", "text")),
                    "ocr": _joined(spans, ("page_break", "media_text", "text")),
                    "e1f": _joined(spans, ("page_break", "text", "media_text")),
                    "e2f": _joined(spans, ("page_break", "text", "media_text_alt")),
                })
    # no extraction: null text on the text route, and a vendor with no bank
    rows.append({**rows[0], "text": None, "ocr": None})
    rows.append({**rows[0], "vendor": "acme"})
    return pd.DataFrame(rows, index=range(100, 100 + len(rows)))


def test_extract_routed_returns_one_emission_ready_result_per_row():
    b = _batch()
    res = extract_routed(
        b["vendor"], b["route"], b["fb_primary"], b["has1"], b["has2"],
        b["text"], b["ocr"], b["e1f"], b["e2f"],
    )
    assert isinstance(res, pd.Series)
    assert list(res.index) == list(b.index)
    extracted = 0
    for v, r in zip(b["vendor"], res):
        assert r is not None and set(r) == {"fields", "items", "info"}
        assert all(isinstance(r[k], list) for k in ("fields", "items", "info"))
        keys = [f["key"] for f in r["fields"]]
        assert all(f["value"] is not None for f in r["fields"]), r["fields"]
        order = C.FIELD_ORDER.get(v, [])
        pos = [order.index(k) for k in keys]  # ValueError: key not in the bank
        assert pos == sorted(set(pos)), (v, keys)
        extracted += bool(keys)
    # every vendor × route row with text extracts something
    assert extracted == len(b) - 2
    for r in res.iloc[-2:]:
        assert r == {"fields": [], "items": [], "info": []}
