"""Static checks (no Spark) that the engine keeps one build per stage:
production code does not borrow the reference oracles, and the retired
A/B switches stay gone."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "wikidata_to_cidoc_crm_spark"
# spelled in parts so a text search for the names finds no live use here
RETIRED_SWITCHES = tuple("SPARK_GRAFT_" + name
                         for name in ("SQL_STAGES", "ALIGN_FANOUT", "FINAL_AQE"))


def _imported_modules(path: pathlib.Path) -> list[str]:
    """Every module an import statement in ``path`` names — ``from .x import
    y`` yields both ``x`` and ``x.y`` so ``from .. import oracle`` counts."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            out.append(base)
            out += [f"{base}.{a.name}".lstrip(".") for a in node.names]
    return out


def test_production_code_does_not_import_oracles():
    files = sorted((PKG / "plans").rglob("*.py")) + [PKG / "pipeline.py"]
    offenders = [
        (f.relative_to(PKG).as_posix(), mod)
        for f in files for mod in _imported_modules(f)
        if any(part.startswith("oracle") for part in mod.split("."))
    ]
    assert offenders == []


def test_retired_ab_switches_are_gone():
    offenders = [
        (f.relative_to(PKG).as_posix(), name)
        for f in sorted(PKG.rglob("*.py"))
        for name in RETIRED_SWITCHES if name in f.read_text()
    ]
    assert offenders == []
