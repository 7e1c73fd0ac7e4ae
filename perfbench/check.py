"""Output checkers. Each returns (attempted, failed, first_error): one
operation per expected document (or query), failed when it is missing,
duplicated, unexpected, or differs from the reference."""

from __future__ import annotations

from collections import Counter


def _spans(arr, last_key: str) -> list[list]:
    return [[s["kind"], s["text"], s["media_ref"], s[last_key]] for s in arr]


def _tally(rows: list, expected: dict, got_of) -> tuple[int, int, str | None]:
    counts = Counter(r["doc_id"] for r in rows)
    bad: set = {d for d, c in counts.items() if c > 1 or d not in expected}
    bad |= set(expected) - set(counts)
    first = None
    if bad:
        d = sorted(bad)[0]
        first = (f"{d}: committed {counts.get(d, 0)} times"
                 + ("" if d in expected else " (not in input)"))
    for r in rows:
        d = r["doc_id"]
        if d in bad:
            continue
        got, exp = got_of(r), expected[d]
        if got != exp:
            bad.add(d)
            if first is None:
                field = next((i for i, (a, b) in enumerate(zip(got, exp)) if a != b), None)
                first = f"{d}: field {field} differs: got {got[field]!r:.200} want {exp[field]!r:.200}"
    return len(expected), len(bad), first


def check_extraction(rows: list, expected: dict) -> tuple[int, int, str | None]:
    """Committed extraction rows vs the oracle: vendor, route, flags, page
    count and the (kind, text, media_ref, order) span sequence."""
    return _tally(rows, expected, lambda r: [
        r["vendor"], r["route"], int(r["validation_failed"]), int(r["ocr_used"]),
        int(r["n_pages"]), _spans(r["out_spans"], "order"),
    ])


def check_ingest(rows: list, expected: dict) -> tuple[int, int, str | None]:
    """Parsed spans rows vs the sequential reference parse: parse_ok (an
    unexpected fallback fails) and the (kind, text, media_ref, offset)
    span sequence."""
    return _tally(rows, expected, lambda r: [
        bool(r["parse_ok"]), _spans(r["spans"], "offset"),
    ])
