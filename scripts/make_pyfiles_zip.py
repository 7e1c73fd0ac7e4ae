#!/usr/bin/env python
"""Package the engine for `spark-submit --py-files` (north-rule ship form):
zips pdf_extractor_scripts_spark/ (sources only) into dist/engine.zip.
The same sources give the same bytes: entries go in sorted path order and
carry a fixed timestamp, not the files' mtimes."""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EPOCH = (1980, 1, 1, 0, 0, 0)  # the earliest time a zip entry can carry


def main(out: str | None = None) -> str:
    out = out or os.path.join(ROOT, "dist", "engine.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pkg = os.path.join(ROOT, "pdf_extractor_scripts_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirs, files in os.walk(pkg):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    entry = zipfile.ZipInfo(os.path.relpath(full, ROOT), EPOCH)
                    entry.external_attr = 0o644 << 16
                    with open(full, "rb") as src:
                        z.writestr(entry, src.read(), zipfile.ZIP_DEFLATED)
    print(f"wrote {out}")
    return out


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
