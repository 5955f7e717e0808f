"""Dead-code guard: every top-level package definition must be reached
from a non-test entry point, or be listed in ``KEPT`` with a reason.

The scan is a transitive reachability walk over the AST of
``ai_pdf_extraction_spark/``. ``oracle/`` is walked but never reported:
it is the single-process test oracle, yet perfbench's extraction check
runs it, so what it calls is reached. Roots are every name the entry
points use — ``__spark_entry__.py``, ``bench.py``, ``bench_extra.py``
and the files under ``jobs/``, ``tools/`` and ``perfbench/`` — plus
the module-level code of every package module (docstrings ignored),
which runs on import. A reached definition makes every name in its
body reachable.

A name resolves to the module that defines it: ``from X import name``
and ``import X as m`` bind it (anywhere in the file), ``m.attr`` and
``X.sub.attr`` follow the module, a package re-export is followed to
its definition, and a bare name otherwise means the definition of that
name in the same module. So a dead definition cannot hide behind a
live one of the same name elsewhere. An attribute of anything but a
module (``obj.method``) resolves to nothing: methods are reached with
their class. Only a call made through a string (``getattr``) would go
unseen.

Pure Python, no Spark: it only reads files.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ai_pdf_extraction_spark"
ENTRY_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ENTRY_DIRS = ("jobs", "tools", "perfbench")

# Definitions (``module.name``, relative to the package) with no
# non-test caller that stay on purpose: a SURVEY.md reference-parity
# row, the north rule (BASELINE.json), or a reference implementation
# that tests compare the engine against.
KEPT = {
    "sources.export.csv_cell": "SURVEY F14: CSV cell formatting",
    "sources.export.flatten_for_csv": "SURVEY S9: CSV export with array flattening",
    "sources.export.export_csv": "SURVEY S9: CSV export with array flattening",
    "sources.export.export_json": "SURVEY S10: JSON export envelope",
    "plans.repair.repair_with_rules": "SURVEY A12: rule-driven record repair",
    "functions.normalize.clean_null_from_array": "SURVEY P5: null-item array filter",
    "functions.normalize.clean_null_from_arrays_deep": (
        "SURVEY P5: null-item array filter"
    ),
    "functions.normalize.normalize_field_name": "SURVEY F7: field-name normalization",
    "functions.normalize.round_confidence": "SURVEY F15: confidence % formatting",
    "operators.multimodal.frame_sample_plan": "SURVEY S4: representative frame sampling",
    "plans.partitioning.repartition_salted": (
        "north rule: salted repartition of skewed hosts"
    ),
    "plans.partitioning.salted_join": "north rule: salted join on a skewed key",
    "plans.partitioning._contains_map": (
        "north rule: salted_join's row-hash column filter"
    ),
    "sources.warc.register_warc_filesystem": "north rule: remote-storage crawl input",
    "operators.span_dedup.span_dedup_py": "test reference for span_dedup",
    "operators.span_dedup.span_decontaminate_py": "test reference for span_decontaminate",
    "operators.span_dedup._py_words": "test reference helper (span_dedup_py)",
    "operators.span_dedup._py_grams": "test reference helper (span_dedup_py)",
    "operators.span_dedup._py_surviving": "test reference helper (span_dedup_py)",
    "operators.urls.canonicalize_url": "test reference for with_canonical_url",
    "operators.dedup_index.hot_shingles": (
        "test reference for the index's frozen hot set"
    ),
    "sources.warc.warc_bytes_to_rows": "test reference for read_warc's streamed parse",
}

# A resolved target: ("mod", dotted module) or ("def", dotted module, name).
Target = tuple


def _is_docstring(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


_REFS = (ast.Name, ast.Attribute, ast.Import, ast.ImportFrom)


class _Scan:
    def __init__(self, modules: set[str]) -> None:
        self.modules = modules
        self.defs: set[tuple[str, str]] = set()
        # per file: bound name → import targets (unresolved)
        self.imports: dict[str, dict[str, set[Target]]] = {}

    def add_file(self, path: Path, module: str) -> list[tuple[ast.stmt, list]]:
        """Parse ``path`` as ``module``, record what its imports bind,
        and return each top-level statement with its reference nodes."""
        tree = ast.parse(path.read_text(), str(path))
        bound: dict[str, set[Target]] = {}
        out = []
        for stmt in tree.body:
            refs = [n for n in ast.walk(stmt) if isinstance(n, _REFS)]
            for n in refs:
                if isinstance(n, ast.Import):
                    for a in n.names:
                        name = a.asname or a.name.split(".", 1)[0]
                        bound.setdefault(name, set()).add(
                            ("mod", a.name if a.asname else name)
                        )
                elif isinstance(n, ast.ImportFrom) and n.module:
                    for a in n.names:
                        bound.setdefault(a.asname or a.name, set()).add(
                            ("from", n.module, a.name)
                        )
            out.append((stmt, refs))
        self.imports[module] = bound
        return out

    def attr(self, module: str, name: str, seen: frozenset = frozenset()) -> set:
        """What ``module.name`` resolves to: a definition, a submodule,
        or (a re-export) whatever the module imported under ``name``."""
        if (module, name) in self.defs:
            return {("def", module, name)}
        if f"{module}.{name}" in self.modules:
            return {("mod", f"{module}.{name}")}
        if module not in self.modules or (module, name) in seen:
            return set()
        out: set = set()
        for t in self.imports[module].get(name, ()):
            out |= self.resolve(t, seen | {(module, name)})
        return out

    def resolve(self, target: Target, seen: frozenset = frozenset()) -> set:
        if target[0] == "from":
            return self.attr(target[1], target[2], seen)
        return {target}

    def expr(self, module: str, node: ast.AST) -> set:
        """Targets of a ``Name`` or a dotted ``Attribute`` chain."""
        if isinstance(node, ast.Name):
            out: set = set()
            for t in self.imports[module].get(node.id, ()):
                out |= self.resolve(t)
            if (module, node.id) in self.defs:
                out.add(("def", module, node.id))
            return out
        if isinstance(node, ast.Attribute):
            out = set()
            for t in self.expr(module, node.value):
                if t[0] == "mod":
                    out |= self.attr(t[1], node.attr)
            return out
        return set()

    def uses(self, module: str, refs: list) -> set[tuple[str, str]]:
        """The package definitions the reference nodes ``refs`` (in
        ``module``) use; an import uses what it binds."""
        out: set = set()
        for n in refs:
            if isinstance(n, ast.ImportFrom):
                if n.module:
                    for a in n.names:
                        out |= self.attr(n.module, a.name)
            elif not isinstance(n, ast.Import):
                out |= self.expr(module, n)
        return {(t[1], t[2]) for t in out if t[0] == "def"}


def unreached() -> dict[str, str]:
    """``module.name`` (relative to the package) → ``file:line`` of each
    package definition the roots never reach."""
    files = sorted(PACKAGE.rglob("*.py"))
    scan = _Scan({_module_name(p) for p in files})
    bodies: dict[tuple[str, str], list] = {}
    where: dict[tuple[str, str], str] = {}
    seeds: set[tuple[str, str]] = set()
    module_code = []
    for path in files:
        module = _module_name(path)
        rel = path.relative_to(ROOT)
        for stmt, refs in scan.add_file(path, module):
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                scan.defs.add((module, stmt.name))
                bodies[(module, stmt.name)] = refs
                if rel.parts[1] != "oracle":
                    where[(module, stmt.name)] = f"{rel}:{stmt.lineno}"
            elif not _is_docstring(stmt):
                module_code.append((module, refs))
    for module, refs in module_code:
        seeds |= scan.uses(module, refs)
    entries = [ROOT / f for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        entries += sorted((ROOT / d).rglob("*.py"))
    for path in entries:
        name = f"<entry>{path.relative_to(ROOT)}"
        for _, refs in scan.add_file(path, name):
            seeds |= scan.uses(name, refs)

    reached: set[tuple[str, str]] = set()
    todo = list(seeds)
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        todo += scan.uses(key[0], bodies[key]) - reached
    prefix = len(PACKAGE.name) + 1
    return {
        f"{m[prefix:]}.{n}": w for (m, n), w in where.items() if (m, n) not in reached
    }


def test_package_code_is_reachable_or_kept():
    dead = unreached()
    unexplained = {n: w for n, w in dead.items() if n not in KEPT}
    assert not unexplained, (
        "package definitions with no non-test caller; delete them, or "
        f"add each to KEPT with a reason: {unexplained}"
    )
    stale = sorted(n for n in KEPT if n not in dead)
    assert not stale, f"KEPT entries that are reached or gone: {stale}"
