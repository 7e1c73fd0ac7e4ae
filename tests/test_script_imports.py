"""Import resolution for the code no test runs end to end: the scripts, the
bench driver, the driver entry and the benchmark harness. Each file is
parsed with ``ast`` (nothing in it runs) and every name it imports from the
engine, from ``bench`` or from ``perfbench`` must exist:
``from pdf_extractor_scripts_spark.x import name``, ``from bench import
name``, ``from perfbench[.x] import name`` and the ``alias.<name>`` uses of
an imported module (``P.run_pipeline``, ``host.build_session``). A
refactor that removes or renames a name these files use then fails here
instead of at the next manual run."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import types
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pdf_extractor_scripts_spark"
CHECKED = {PKG, "bench", "perfbench"}  # top-level modules whose names resolve
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)


def _member(mod: types.ModuleType, name: str):
    """``mod.name`` or the submodule ``mod.name``; None when neither exists."""
    if hasattr(mod, name):
        return getattr(mod, name)
    if hasattr(mod, "__path__") and importlib.util.find_spec(f"{mod.__name__}.{name}"):
        return importlib.import_module(f"{mod.__name__}.{name}")
    return None


def _check(path: Path) -> tuple[int, list[str]]:
    """(names checked, the ones that do not resolve) for one file."""
    tree = ast.parse(path.read_text(), filename=str(path))
    modules: dict[str, list[types.ModuleType]] = {}  # local name → checked modules
    checked, bad = 0, []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            (node.module or "").split(".")[0] in CHECKED
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
                top = a.name.split(".")[0]
                if top in CHECKED:
                    checked += 1
                    mod = importlib.import_module(a.name)
                    modules.setdefault(a.asname or top, []).append(
                        mod if a.asname else importlib.import_module(top)
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


def test_a_stale_bench_or_perfbench_name_is_reported(tmp_path):
    script = tmp_path / "stale.py"
    script.write_text(
        "from bench import CPUS, make_session\n"
        "from perfbench import host\n"
        "from perfbench.trace import Tracer, _max_task_per_window\n"
        "import bench as B\n"
        "host.build_session(None, None)\n"
        "host.jvm_peak_rss_kb()\n"
        "B._skew_stats\n"
        "B.make_session\n"
    )
    checked, bad = _check(script)
    assert checked == 10, checked
    assert sorted(bad) == [
        "stale.py:1 bench.make_session",
        "stale.py:3 perfbench.trace._max_task_per_window",
        "stale.py:6 host.jvm_peak_rss_kb",
        "stale.py:8 B.make_session",
    ]


def test_queries_doc_is_what_its_script_renders():
    """docs/QUERIES.md is generated: a hand edit would be lost at the next
    regeneration, so the file must equal what the script renders now."""
    spec = importlib.util.spec_from_file_location(
        "make_queries_doc", ROOT / "scripts" / "make_queries_doc.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.render() == (ROOT / "docs" / "QUERIES.md").read_text()
