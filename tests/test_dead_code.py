"""Guard: every top-level ``belb_spark`` definition has a caller outside tests.

A pure-AST sweep, no Spark. Every ``.py`` file outside a ``tests/``
directory is parsed. Code outside ``belb_spark`` (``__spark_entry__.py``,
``bench.py``, ``scripts/``, ``perfbench/``) is live, and so is module-level
code inside ``belb_spark`` that defines nothing. A top-level function, class
or assigned name is live once a live body names it (as a name, an attribute
or an import); a definition whose only callers are themselves dead stays
dead. Names are matched without their module, so a shared name could hide
a dead definition; a second guard keeps every top-level name in one
``belb_spark`` module.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Kept with no engine caller: the scalar references that the batch kernels
# are tested against, the paper's A2/A4 operators (each the only
# implementation), the corpus-model readers and span checks (S5/S8/T2), and
# the package version.
KEPT = {
    "jaro",
    "jaro_winkler",
    "levenshtein_norm",
    "char_ngram_cosine",
    "synset",
    "identifier_homonyms",
    "OBSOLETE",
    "assign_spans_to_sentences",
    "check_span_offsets",
    "bioc_to_doc_span_tables",
    "read_jsonl",
    "__version__",
}


def _sources() -> list[Path]:
    return sorted(
        p
        for p in REPO.rglob("*.py")
        if "tests" not in p.relative_to(REPO).parts
        and not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    )


def _names(node: ast.AST) -> set[str]:
    """Every identifier a subtree refers to."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def dead_definitions() -> list[str]:
    defs: dict[str, tuple[str, set[str]]] = {}  # name -> (where, refs)
    live: set[str] = set(KEPT)
    for path in _sources():
        rel = path.relative_to(REPO).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        in_lib = rel.startswith("belb_spark/")
        for stmt in tree.body:
            names = _defined(stmt) if in_lib else []
            if not names:
                live |= _names(stmt)
                continue
            for name in names:
                where, refs = defs.get(name, (f"{rel}:{stmt.lineno}", set()))
                defs[name] = (where, refs | _names(stmt) - {name})
    frontier = list(live & defs.keys())
    while frontier:
        for ref in defs[frontier.pop()][1]:
            if ref in defs and ref not in live:
                live.add(ref)
                frontier.append(ref)
    return sorted(f"{where} {name}" for name, (where, _) in defs.items() if name not in live)


def test_no_library_definition_is_reached_only_by_tests():
    dead = dead_definitions()
    assert not dead, "no caller outside tests/:\n" + "\n".join(dead)


def test_no_top_level_name_is_defined_in_two_library_modules():
    """Names are matched without their module, so a name defined in two
    modules would let the live definition hide a dead twin."""
    mods: dict[str, set[str]] = {}
    for path in _sources():
        rel = path.relative_to(REPO).as_posix()
        if rel.startswith("belb_spark/"):
            for stmt in ast.parse(path.read_text(), filename=rel).body:
                for name in _defined(stmt):
                    mods.setdefault(name, set()).add(rel)
    dup = sorted(f"{n}: {', '.join(sorted(m))}" for n, m in mods.items() if len(m) > 1)
    assert not dup, "defined in more than one module:\n" + "\n".join(dup)
