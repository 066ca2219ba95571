"""Every package definition must be reachable from a real entry point.

A pure-AST fixpoint over names (no SparkSession, no imports of the
package). The roots are ``__spark_entry__.py``, ``bench.py``,
``bench_extra.py``, ``perfbench/`` (its self-test excluded), ``cli.VERBS``
and the package's module-level code: the statements that run at import
of a module that is imported (its name is reached, or it is a package
``__init__``). A top-level ``def``, ``class`` or assignment in
``fscrawler_spark/`` is reached when reached code mentions its name as an
``ast.Name``, as the attribute of an ``ast.Attribute`` or as an import
alias; its own body then joins the reached code. Strings, comments and
docstrings never count, nor do ``tools/`` or the tests. Dunder names
(``__version__``) are module protocol, read by tooling, and not scanned.

A definition only tests reach is deleted, unless ``ALLOWED`` keeps it
for one of three reasons:

(a) README documents it by name as public API;
(b) a remaining test uses it as the exact reference a live path is
    checked against;
(c) it produces the only input a CLI verb reads.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "fscrawler_spark"
ROOT_FILES = [REPO / "__spark_entry__.py", REPO / "bench.py", REPO / "bench_extra.py"] + [
    p for p in sorted((REPO / "perfbench").glob("*.py")) if p.name != "test_perfbench.py"
]
ROOT_DEFS = {("cli", "VERBS")}

ALLOWED = {
    ("functions.udfs", "spans_to_structs"): "(a) README Invariants: decodes packed spans",
    ("functions.dedup", "jaccard_pairs"): (
        "(b) exact all-pairs truth set for LSH recall in "
        "tests/test_round2_dedup_ann.py::test_fast_minhash_recall"
    ),
    ("functions.dedup", "hashed_shingles"): (
        "(b) the shingling jaccard_pairs runs for the test_fast_minhash_recall truth set"
    ),
    ("functions.mixing", "importance_resample"): (
        "(b) the modular path tests/test_round4_dsir_semdedup.py::"
        "test_dsir_select_matches_modular_path checks the fused dsir_select against"
    ),
    ("streaming.micro_batch", "run_streaming_extraction"): (
        "(c) writes the legacy streaming output that --compact migrates"
    ),
    ("streaming.micro_batch", "_reject_unpartitioned_legacy_output"): (
        "(c) the guard run_streaming_extraction runs before it writes"
    ),
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _module(path: Path) -> str:
    return ".".join(path.relative_to(PKG).with_suffix("").parts)


def _scan():
    """Return ({(module, name): (node, lines)}, {module: import-time names}, root names)."""
    defs: dict[tuple[str, str], tuple[ast.AST, int]] = {}
    on_import: dict[str, set[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = _module(path)
        on_import[mod] = set()
        for stmt in ast.parse(path.read_text()).body:
            first = min([stmt.lineno] + [d.lineno for d in getattr(stmt, "decorator_list", [])])
            lines = stmt.end_lineno - first + 1
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(mod, stmt.name)] = (stmt, lines)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and not n.id.startswith("__"):
                            defs[(mod, n.id)] = (stmt, lines)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a binding, not a use
            elif not (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)):
                on_import[mod] |= _names(stmt)
    roots = {name for _, name in ROOT_DEFS}
    for path in ROOT_FILES:
        roots |= _names(ast.parse(path.read_text()))
    return defs, on_import, roots


def _reached(defs, on_import, roots) -> set[tuple[str, str]]:
    names = set(roots)
    imported: set[str] = set()
    reached: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for mod, refs in on_import.items():
            last = mod.split(".")[-1]
            if mod not in imported and (last == "__init__" or last in names):
                imported.add(mod)
                names |= refs
                grew = True
        for key, (node, _) in defs.items():
            if key not in reached and key[1] in names:
                reached.add(key)
                names |= _names(node)
                grew = True
    return reached


def _test_only():
    """Return (all definitions, {unreached definition: lines})."""
    defs, on_import, roots = _scan()
    reached = _reached(defs, on_import, roots)
    return defs, {k: defs[k][1] for k in defs if k not in reached}


def test_every_definition_is_reached_or_allowed():
    stray = {k: n for k, n in _test_only()[1].items() if k not in ALLOWED}
    listing = "\n".join(f"  {m}.{name} ({n} lines)" for (m, name), n in sorted(stray.items()))
    assert not stray, (
        f"{len(stray)} definitions ({sum(stray.values())} lines) are reached only from "
        f"tests; delete them or give an ALLOWED reason:\n{listing}"
    )


def test_allowed_entries_are_not_reached():
    defs, test_only = _test_only()
    missing = sorted(k for k in ALLOWED if k not in defs)
    assert not missing, f"ALLOWED names definitions that no longer exist: {missing}"
    live = sorted(k for k in ALLOWED if k not in test_only)
    assert not live, f"ALLOWED entries an entry point already reaches (drop them): {live}"
    assert all(reason[:3] in ("(a)", "(b)", "(c)") for reason in ALLOWED.values())
