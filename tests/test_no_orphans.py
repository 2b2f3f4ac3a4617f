"""Keep only code a program reaches (Spark-free).

Nodes are the module-level ``def``/``class`` definitions and assigned
names of ``smartglass_ocr_spark/`` (dunders excluded), each keyed by
its module. A node's edges are the names its statement references,
resolved in its own module: a bare name to that module's definition
or, through its imports (re-exports followed), to the module it came
from; ``mod.name`` to ``mod``'s definition when ``mod`` names a
package module; an import inside the statement to what it imports.
A string constant (``__all__`` entries, ``getattr`` keys) and an
attribute of anything but a module reach every definition so spelled,
which errs towards keeping code. Two modules that spell a name the
same are otherwise two nodes: a use of one does not reach the other.
The roots are what the programs reference, resolved the same way in
each program file — ``__spark_entry__.py``, ``bench.py``,
``tools/*.py`` and the non-test files of ``perfbench/`` — and what the
package's own module-level statements that run on import reference
(anything but a def, class, import, docstring or assignment).

A definition no program reaches stays only if ``TEST_ONLY`` lists it,
or a listed name reaches it, with the COVERAGE.md row it serves (the
row names it) or ``"oracle"`` when tests compare against it. Every
listed name must be defined, unreached by the programs and referenced
by a test. The list may only shrink: a new definition that only tests
call is a twin or a wrapper to delete, not an entry to add.

Options get the same treatment: every parameter with a default, on any
function of the package, must be passed at some call site — in the
programs, the package, ``tests/`` or ``perfbench/test_perfbench.py`` —
by keyword or by position. A call is matched to a function by name, so
two functions spelled alike share their call sites, and forwarding
counts as setting: a ``*args`` call sets every position, and a
``**kwargs`` call sets what the enclosing function's own callers pass
it (every option when the mapping is anything else). An option no call
sets is one value that always runs: make it a constant, unless
``UNSET_OPTIONS`` lists it as a deployment setting or safety bound with
its reason. That list may only shrink.
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

UNSET_OPTIONS = {
    "stream_extract.available_now": "deployment: False runs continuous "
    "ingest, the streaming module's promise; True drains the backlog and stops",
}


def _py_files(*paths: Path) -> list[Path]:
    out: list[Path] = []
    for p in paths:
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _referenced(tree: ast.AST) -> set[str]:
    """Every name ``tree`` spells (for the tests' side of the check)."""
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


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(tree: ast.AST, module: str, package: bool = False) -> dict[str, str]:
    """Local name -> the dotted name it is bound to, for every import
    anywhere in ``tree`` (``from m import x as y`` binds y to ``m.x``).
    A relative import resolves against the module's package: ``module``
    itself when ``package`` (an ``__init__``), else its parent."""
    bound: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    bound[a.asname] = a.name
                else:
                    head = a.name.split(".")[0]
                    bound[head] = head
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".") if package else module.split(".")[:-1]
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join(pkg + ([base] if base else []))
            for a in node.names:
                bound[a.asname or a.name] = f"{base}.{a.name}"
    return bound


class _Resolver:
    """Resolves the names a statement references to (module, name) nodes."""

    def __init__(self):
        self.defined: dict[str, set[str]] = {}  # module -> its definitions
        self.bound: dict[str, dict[str, str]] = {}  # module -> its imports
        self.by_name: dict[str, set[tuple[str, str]]] = {}

    def add_module(self, module: str, tree: ast.Module, names: set[str], package: bool) -> None:
        self.defined[module] = names
        self.bound[module] = _imports(tree, module, package)
        for name in names:
            self.by_name.setdefault(name, set()).add((module, name))

    def dotted(self, dotted: str, seen: frozenset = frozenset()) -> set[tuple[str, str]]:
        """The node a dotted name denotes: ``pkg.mod.name`` is ``name``
        in ``pkg.mod``, or whatever ``pkg.mod`` imported it from."""
        module, _, name = dotted.rpartition(".")
        if module not in self.defined or dotted in seen:
            return set()
        if name in self.defined[module]:
            return {(module, name)}
        if name in self.bound[module]:
            return self.dotted(self.bound[module][name], seen | {dotted})
        return set()

    def is_module(self, dotted: str) -> bool:
        return dotted in self.defined

    def refs(self, tree: ast.AST, module: str, bound: dict[str, str]) -> set[tuple[str, str]]:
        own = self.defined.get(module, set())
        out: set[tuple[str, str]] = set()

        def module_of(node: ast.expr) -> str | None:
            if isinstance(node, ast.Name):
                target = bound.get(node.id, node.id)
            elif isinstance(node, ast.Attribute):
                base = module_of(node.value)
                target = base and f"{base}.{node.attr}"
            else:
                return None
            return target if target and self.is_module(target) else None

        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                if node.id in own:
                    out.add((module, node.id))
                elif node.id in bound:
                    out |= self.dotted(bound[node.id])
            elif isinstance(node, ast.Attribute):
                base = module_of(node.value)
                if base is not None:
                    out |= self.dotted(f"{base}.{node.attr}")
                elif not (isinstance(node.value, ast.Name) and node.value.id in bound):
                    out |= self.by_name.get(node.attr, set())
            elif isinstance(node, ast.ImportFrom):
                for a in node.names:
                    out |= self.dotted(bound[a.asname or a.name])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                out |= self.by_name.get(node.value, set())
        return out


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


def _programs() -> list[Path]:
    programs = _py_files(ROOT / "__spark_entry__.py", ROOT / "bench.py",
                         *sorted((ROOT / "tools").glob("*.py")))
    return programs + [p for p in _py_files(ROOT / "perfbench")
                       if not p.name.startswith("test_")]


def _graph():
    """(definitions as (file:line, (module, name), lines), edges by
    node, roots as nodes)."""
    trees = {_module_name(p): (p, ast.parse(p.read_text())) for p in _py_files(PACKAGE)}
    resolve = _Resolver()
    for module, (path, tree) in trees.items():
        names = {n for stmt in tree.body for n in (_defined_names(stmt) or ())
                 if not (n.startswith("__") and n.endswith("__"))}
        resolve.add_module(module, tree, names, path.name == "__init__.py")
    defs: list[tuple[str, tuple[str, str], int]] = []
    edges: dict[tuple[str, str], set[tuple[str, str]]] = {}
    roots: set[tuple[str, str]] = set()
    for module, (path, tree) in trees.items():
        bound = resolve.bound[module]
        for stmt in tree.body:
            names = _defined_names(stmt)
            if names is None:
                roots |= resolve.refs(stmt, module, bound)
                continue
            for name in names:
                if name.startswith("__") and name.endswith("__"):
                    continue
                where = f"{path.relative_to(ROOT)}:{stmt.lineno}"
                defs.append((where, (module, name), stmt.end_lineno - stmt.lineno + 1))
                edges.setdefault((module, name), set()).update(
                    resolve.refs(stmt, module, bound))
    for path in _programs():
        tree = ast.parse(path.read_text())
        module = _module_name(path)
        roots |= resolve.refs(tree, module, _imports(tree, module))
    return defs, edges, roots


def _closure(start: set[tuple[str, str]], edges) -> set[tuple[str, str]]:
    seen: set[tuple[str, str]] = set()
    todo = [n for n in start if n in edges]
    while todo:
        node = todo.pop()
        if node not in seen:
            seen.add(node)
            todo.extend(n for n in edges[node] if n in edges and n not in seen)
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
    listed = {node for node in edges if node[1] in TEST_ONLY}
    kept = reached | _closure(listed, edges)
    tested: set[str] = set()
    for path in _py_files(ROOT / "tests"):
        tested |= _referenced(ast.parse(path.read_text()))
    rows = _coverage_rows()

    problems = [f"{where} {node[1]} {lines}: no program reaches it and TEST_ONLY does not list it"
                for where, node, lines in defs if node not in kept]
    for name, reason in sorted(TEST_ONLY.items()):
        nodes = {node for node in listed if node[1] == name}
        if not nodes:
            problems.append(f"TEST_ONLY {name}: not defined in the package")
            continue
        if nodes <= reached:
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


ANY = "*"  # a ``**`` mapping that may hold any keyword


def _name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    return node.attr if isinstance(node, ast.Attribute) else None


def _options() -> list[tuple[str, str, str, int | None]]:
    """(file:line, function, parameter, position or None for
    keyword-only) of every parameter with a default in the package; a
    method's position skips ``self``, and ``Class.__init__`` is called
    as ``Class``."""
    out: list[tuple[str, str, str, int | None]] = []

    def visit(node: ast.AST, where: str, cls: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, where, child.name)
                continue
            if not isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, where, cls)
                continue
            a = child.args
            static = any(_name(d) == "staticmethod" for d in child.decorator_list)
            skip = 1 if cls and not static else 0
            name = cls if cls and child.name == "__init__" else child.name
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, p in enumerate(pos[first:], first):
                out.append((f"{where}:{child.lineno}", name, p.arg, i - skip))
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    out.append((f"{where}:{child.lineno}", name, p.arg, None))
            visit(child, where, None)

    for path in _py_files(PACKAGE):
        visit(ast.parse(path.read_text()), str(path.relative_to(ROOT)), None)
    return out


def _call_sites(tree: ast.AST) -> list[tuple[str, float, set[str], str | None]]:
    """(callee, positional count, keywords, forwarded) per call in
    ``tree``. ``f(..)`` and ``x.f(..)`` call ``f``; a function passed as
    an argument, ``g(f, *rest, **kw)``, is called with what follows it
    (``_owned(query, *args, **kwargs)``). ``forwarded`` is None with no
    ``**`` argument, the enclosing function's name when the call passes
    on that function's own ``**`` parameter, and ANY otherwise."""
    out: list[tuple[str, float, set[str], str | None]] = []

    def visit(node: ast.AST, fn: ast.FunctionDef | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node
        if isinstance(node, ast.Call):
            own = fn.args.kwarg.arg if fn is not None and fn.args.kwarg else None
            forwarded = None
            for k in node.keywords:
                if k.arg is None:
                    mine = isinstance(k.value, ast.Name) and k.value.id == own
                    forwarded = fn.name if mine else ANY
            keywords = {k.arg for k in node.keywords if k.arg}
            targets = [(_name(node.func), node.args)]
            targets += [(_name(a), node.args[i + 1:]) for i, a in enumerate(node.args)]
            for name, args in targets:
                if name:
                    n = (float("inf") if any(isinstance(a, ast.Starred) for a in args)
                         else len(args))
                    out.append((name, n, keywords, forwarded))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def _unset_options() -> list[tuple[str, str, str]]:
    """(file:line, function, parameter) of every option no call sets."""
    sites: dict[str, list[tuple[float, set[str], str | None]]] = {}
    callers = [*_py_files(PACKAGE), *_programs(), *_py_files(ROOT / "tests"),
               ROOT / "perfbench" / "test_perfbench.py"]
    for path in callers:
        for name, *site in _call_sites(ast.parse(path.read_text())):
            sites.setdefault(name, []).append(tuple(site))

    def passed(forwarded: str | None, seen: frozenset = frozenset()) -> set[str] | str:
        """The keywords a ``**`` argument may hold: none, ANY, or what
        the forwarding function's own callers pass it."""
        if forwarded is None or forwarded in seen:
            return set()
        if forwarded == ANY:
            return ANY
        got: set[str] = set()
        for _, keywords, further in sites.get(forwarded, []):
            more = passed(further, seen | {forwarded})
            if more == ANY:
                return ANY
            got |= keywords | more
        return got

    def sets(param: str, pos: int | None, n: float, keywords: set[str], forwarded) -> bool:
        more = passed(forwarded)
        return (param in keywords or (pos is not None and n > pos)
                or more == ANY or param in more)

    return [(where, fn, param) for where, fn, param, pos in _options()
            if not any(sets(param, pos, *site) for site in sites.get(fn, []))]


def test_every_option_is_set():
    unset = _unset_options()
    problems = [f"{where} {fn}({param}=...): no call sets it and UNSET_OPTIONS "
                "does not list it; make it a constant"
                for where, fn, param in unset if f"{fn}.{param}" not in UNSET_OPTIONS]
    listed = {f"{fn}.{param}" for _, fn, param in unset}
    options = {f"{fn}.{param}" for _, fn, param, _ in _options()}
    assert len(options) > 100  # the scan really saw the package
    for key in sorted(UNSET_OPTIONS):
        if key not in options:
            problems.append(f"UNSET_OPTIONS {key}: no such option, drop the entry")
        elif key not in listed:
            problems.append(f"UNSET_OPTIONS {key}: a call sets it, drop the entry")
    assert not problems, "\n".join(problems)
