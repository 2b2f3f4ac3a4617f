"""No function or class without a caller or a test (Spark-free).

Every module-level ``def``/``class`` in ``smartglass_ocr_spark/``
(dunders excluded) must be referenced somewhere in the program, its
tooling or its tests: as a name, an attribute, an import, or a string
constant (``__all__`` entries, ``getattr`` keys). A definition that
nothing names is dead code, or a twin whose last caller is gone.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "smartglass_ocr_spark"
SEARCHED = [PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "tests",
            ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def _py_files(paths: list[Path]) -> list[Path]:
    out: list[Path] = []
    for p in paths:
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _referenced(tree: ast.AST) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.update(node.name.split("."))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    return names


def test_every_definition_is_referenced():
    defined: list[tuple[str, str]] = []
    for path in _py_files([PACKAGE]):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = node.name
                if not (name.startswith("__") and name.endswith("__")):
                    defined.append((f"{path.relative_to(ROOT)}:{node.lineno}", name))
    assert len(defined) > 100  # the scan really saw the package

    referenced: set[str] = set()
    for path in _py_files(SEARCHED):
        referenced |= _referenced(ast.parse(path.read_text()))
    orphans = [f"{where} {name}" for where, name in defined if name not in referenced]
    assert not orphans, orphans
