"""Import resolution for the code no test runs end to end: the scripts, the
bench drivers, the driver entry and the benchmark harness. Each file is
parsed with ``ast`` (nothing in it runs) and every engine name it imports
must exist: ``from pdf_extractor_scripts_spark.x import name`` and the
``alias.<name>`` uses of an imported engine module (``P.run_pipeline``).
An engine refactor that removes or renames a name these files use then
fails here instead of at the next manual run."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import types
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pdf_extractor_scripts_spark"
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
)


def _member(mod: types.ModuleType, name: str):
    """``mod.name`` or the submodule ``mod.name``; None when neither exists."""
    if hasattr(mod, name):
        return getattr(mod, name)
    if hasattr(mod, "__path__") and importlib.util.find_spec(f"{mod.__name__}.{name}"):
        return importlib.import_module(f"{mod.__name__}.{name}")
    return None


def _check(path: Path) -> tuple[int, list[str]]:
    """(engine names checked, the ones that do not resolve) for one file."""
    tree = ast.parse(path.read_text(), filename=str(path))
    modules: dict[str, list[types.ModuleType]] = {}  # local name → engine modules
    checked, bad = 0, []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            (node.module or "").split(".")[0] == PKG
        ):
            mod = importlib.import_module(node.module)
            for a in node.names:
                checked += 1
                obj = _member(mod, a.name)
                if obj is None:
                    bad.append(f"{path.name}:{node.lineno} {node.module}.{a.name}")
                elif isinstance(obj, types.ModuleType):
                    modules.setdefault(a.asname or a.name, []).append(obj)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    checked += 1
                    mod = importlib.import_module(a.name)
                    local = a.asname or PKG
                    modules.setdefault(local, []).append(
                        mod if a.asname else importlib.import_module(PKG)
                    )
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            checked += 1
            if all(_member(m, node.attr) is None for m in modules[node.value.id]):
                bad.append(f"{path.name}:{node.lineno} {node.value.id}.{node.attr}")
    return checked, bad


def test_every_engine_name_the_scripts_import_resolves():
    assert len(FILES) > 10
    total, bad = 0, []
    for path in FILES:
        n, b = _check(path)
        total += n
        bad += b
    assert not bad, bad
    assert total > 100, total  # the walk really saw the imports


def test_queries_doc_is_what_its_script_renders():
    """docs/QUERIES.md is generated: a hand edit would be lost at the next
    regeneration, so the file must equal what the script renders now."""
    spec = importlib.util.spec_from_file_location(
        "make_queries_doc", ROOT / "scripts" / "make_queries_doc.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.render() == (ROOT / "docs" / "QUERIES.md").read_text()
