"""Keep only code a program reaches (Spark-free).

Nodes are the module-level ``def``/``class`` definitions and assigned
names of ``smartglass_ocr_spark/`` (dunders excluded). A node's edges
are the names its statement references: a name, an attribute, an
import alias, or a string constant (``__all__`` entries, ``getattr``
keys). The roots are the names referenced by the programs —
``__spark_entry__.py``, ``bench.py``, ``tools/*.py`` and the non-test
files of ``perfbench/`` — and by the package's own module-level
statements that run on import (anything but a def, class, import,
docstring or assignment). Names match across modules, so the closure
errs towards keeping code.

A definition no program reaches stays only if ``TEST_ONLY`` lists it,
or a listed name reaches it, with the COVERAGE.md row it serves (the
row names it) or ``"oracle"`` when tests compare against it. Every
listed name must be defined, unreached by the programs and referenced
by a test. The list may only shrink: a new definition that only tests
call is a twin or a wrapper to delete, not an entry to add.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "smartglass_ocr_spark"

TEST_ONLY = {
    # tests compare the engine against these
    "golden_outputs": "oracle",
    "docs_to_df": "oracle",
    "TEXT_KINDS": "oracle",
    "_TABLE_ROW_RX": "oracle",
    "_FORM_FIELD_RX": "oracle",
    # operators a COVERAGE.md row lists, exercised by tests only
    "write_documents": "S1",
    "with_markdown": "S4",
    "ewma_metrics": "A8",
    "write_hierarchical_rollup": "hypertable rollup",
    "refresh_hierarchical_rollup": "hypertable rollup",
    "read_hierarchical_rollup": "hypertable rollup",
    "fix_indonesian_text": "Indonesian doc-level corrections",
    "organize_text": "F8",
    "clean_response_text": "F11",
    "format_structured_info": "E8",
    "image_features": "decode/feature extract",
    "resize_plan": "resize",
    "audio_chunks": "frame sample / audio chunk",
    "write_lsh_index": "ANN LSH-bucketed",
    "lsh_index_topk": "ANN LSH-bucketed",
    "write_ivf_index": "ANN IVF",
    "ivf_index_topk": "ANN IVF",
    "write_shuffle_shards": "epoch shuffle + shard export",
    "append_lsh_index": "ANN index incremental maintenance",
    "append_ivf_index": "ANN index incremental maintenance",
    "table_file_stats": "storage-layout maintenance",
    "compact_parquet": "storage-layout maintenance",
    "zorder_write": "storage-layout maintenance",
    "write_minhash_index": "incremental MinHash dedup",
    "append_minhash_index": "incremental MinHash dedup",
    "duplicate_components_incremental": "incremental connected components",
    "write_bucketed_table": "bucketed managed tables",
    "stream_documents": "incremental ingest",
    "stream_extract": "incremental ingest",
    "windowed_event_counts": "watermarked tumbling agg",
    "stream_dedup_exact": "stateful stream dedup",
    "stream_dedup_near": "stateful stream dedup",
    "stream_dedup_simhash": "stateful stream dedup",
    "running_user_totals": "custom stateful operator",
}


def _py_files(*paths: Path) -> list[Path]:
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


def _defined_names(stmt: ast.stmt) -> list[str] | None:
    """Names a module-level statement defines; None for a statement
    that runs on import as a root, [] for one that is neither."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return []
    if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
        return []  # docstring
    return None


def _graph():
    """(definitions as (file:line, name, lines), edges by name, roots)."""
    defs: list[tuple[str, str, int]] = []
    edges: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in _py_files(PACKAGE):
        for stmt in ast.parse(path.read_text()).body:
            names = _defined_names(stmt)
            if names is None:
                roots |= _referenced(stmt)
                continue
            for name in names:
                if name.startswith("__") and name.endswith("__"):
                    continue
                where = f"{path.relative_to(ROOT)}:{stmt.lineno}"
                defs.append((where, name, stmt.end_lineno - stmt.lineno + 1))
                edges.setdefault(name, set()).update(_referenced(stmt))
    programs = _py_files(ROOT / "__spark_entry__.py", ROOT / "bench.py",
                         *sorted((ROOT / "tools").glob("*.py")))
    programs += [p for p in _py_files(ROOT / "perfbench") if not p.name.startswith("test_")]
    for path in programs:
        roots |= _referenced(ast.parse(path.read_text()))
    return defs, edges, roots


def _closure(start: set[str], edges: dict[str, set[str]]) -> set[str]:
    seen: set[str] = set()
    todo = [n for n in start if n in edges]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(n for n in edges[name] if n in edges and n not in seen)
    return seen


def _coverage_rows() -> dict[str, list[str]]:
    """COVERAGE.md table rows keyed by their first cell."""
    rows: dict[str, list[str]] = {}
    for line in (ROOT / "COVERAGE.md").read_text().splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if line.startswith("|") and len(cells) > 1:
            rows.setdefault(cells[0], []).append(line)
    return rows


def _row(reason: str, rows: dict[str, list[str]]) -> list[str]:
    """The rows whose first cell is ``reason`` or starts with it as a
    whole word (``"A1"`` keys ``"A1 word-frequency per doc"``, not
    ``"A10 ..."``)."""
    return [line for key, lines in rows.items()
            if key == reason or key.startswith(reason + " ")
            for line in lines]


def test_every_definition_is_reached():
    defs, edges, roots = _graph()
    assert len(defs) > 300  # the scan really saw the package
    reached = _closure(roots, edges)
    kept = reached | _closure(set(TEST_ONLY), edges)
    tested: set[str] = set()
    for path in _py_files(ROOT / "tests"):
        tested |= _referenced(ast.parse(path.read_text()))
    rows = _coverage_rows()

    problems = [f"{where} {name} {lines}: no program reaches it and TEST_ONLY does not list it"
                for where, name, lines in defs if name not in kept]
    for name, reason in sorted(TEST_ONLY.items()):
        if name not in edges:
            problems.append(f"TEST_ONLY {name}: not defined in the package")
            continue
        if name in reached:
            problems.append(f"TEST_ONLY {name}: a program reaches it, drop the entry")
        if name not in tested:
            problems.append(f"TEST_ONLY {name}: no test references it")
        if reason != "oracle":
            hit = _row(reason, rows)
            if len(hit) != 1:
                problems.append(f"TEST_ONLY {name}: {len(hit)} COVERAGE.md rows keyed {reason!r}")
            elif not re.search(rf"(?<!\w){re.escape(name)}(?!\w)", hit[0]):
                problems.append(f"TEST_ONLY {name}: COVERAGE.md row {reason!r} does not name it")
    assert not problems, "\n".join(problems)
