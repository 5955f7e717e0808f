"""Dead-code guard: every top-level package definition must be reached
from a non-test entry point, or be listed in ``KEPT`` with a reason.

The scan is a transitive name-reachability walk over the AST of
``ai_pdf_extraction_spark/``. ``oracle/`` is walked but never reported:
it is the single-process test oracle, yet perfbench's extraction check
runs it, so what it calls is reached. Roots are every name the entry
points use — ``__spark_entry__.py``, ``bench.py``, ``bench_extra.py``
and the files under ``jobs/``, ``tools/`` and ``perfbench/`` — plus
the module-level code of every package module (docstrings ignored),
which runs on import. A reached definition makes every name in its
body reachable. Matching is by bare name, so a name shared by two
definitions keeps both alive; only a call made through a string
(``getattr``) would go unseen.

Pure Python, no Spark: it only reads files.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ai_pdf_extraction_spark"
ENTRY_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ENTRY_DIRS = ("jobs", "tools", "perfbench")

# Definitions with no non-test caller that stay on purpose: a SURVEY.md
# reference-parity row, the north rule (BASELINE.json), or a reference
# implementation that tests compare the engine against.
KEPT = {
    "csv_cell": "SURVEY F14: CSV cell formatting",
    "flatten_for_csv": "SURVEY S9: CSV export with array flattening",
    "export_csv": "SURVEY S9: CSV export with array flattening",
    "export_json": "SURVEY S10: JSON export envelope",
    "repair_with_rules": "SURVEY A12: rule-driven record repair",
    "clean_null_from_array": "SURVEY P5: null-item array filter",
    "clean_null_from_arrays_deep": "SURVEY P5: null-item array filter",
    "normalize_field_name": "SURVEY F7: field-name normalization",
    "round_confidence": "SURVEY F15: confidence % formatting",
    "frame_sample_plan": "SURVEY S4: representative frame sampling",
    "resize_media": "SURVEY P10: image resize projection",
    "resize_bmp": "SURVEY P10: image resize projection",
    "resize_jpeg": "SURVEY P10: image resize projection",
    "repartition_salted": "north rule: salted repartition of skewed hosts",
    "salted_join": "north rule: salted join on a skewed key",
    "_contains_map": "north rule: salted_join's row-hash column filter",
    "register_warc_filesystem": "north rule: remote-storage crawl input",
    "span_dedup_py": "test reference for span_dedup",
    "span_decontaminate_py": "test reference for span_decontaminate",
    "_py_words": "test reference helper (span_dedup_py)",
    "_py_grams": "test reference helper (span_dedup_py)",
    "_py_surviving": "test reference helper (span_dedup_py)",
    "canonicalize_url": "test reference for with_canonical_url",
    "hot_shingles": "test reference for the index's frozen hot set",
    "warc_bytes_to_rows": "test reference for read_warc's streamed parse",
}


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` uses: names, attributes and imports."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_docstring(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def unreached() -> dict[str, list[str]]:
    """name → ``module:line`` of each package definition the roots never
    reach."""
    defs: dict[str, list[ast.AST]] = {}
    where: dict[str, list[str]] = {}
    seeds: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT)
        tree = ast.parse(path.read_text(), str(rel))
        for stmt in tree.body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append(stmt)
                if rel.parts[1] != "oracle":
                    where.setdefault(stmt.name, []).append(f"{rel}:{stmt.lineno}")
            elif not _is_docstring(stmt):
                seeds |= _names(stmt)
    entries = [ROOT / f for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        entries += sorted((ROOT / d).rglob("*.py"))
    for path in entries:
        seeds |= _names(ast.parse(path.read_text(), str(path)))

    reached: set[str] = set()
    todo = [n for n in seeds if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs[name]:
            todo += [n for n in _names(node) if n in defs and n not in reached]
    return {n: w for n, w in where.items() if n not in reached}


def test_package_code_is_reachable_or_kept():
    dead = unreached()
    unexplained = {n: w for n, w in dead.items() if n not in KEPT}
    assert not unexplained, (
        "package definitions with no non-test caller; delete them, or "
        f"add each to KEPT with a reason: {unexplained}"
    )
    stale = sorted(n for n in KEPT if n not in dead)
    assert not stale, f"KEPT entries that are reached or gone: {stale}"
