"""Library code that no entry point reaches.

A public top-level function or class in ``webr/`` that nothing in the
program references is code only tests run: it adds a second way to do
something (or a way nobody asks for) that no entry point keeps honest.
This walks the sources of the package and of its entry points (the CLI
and driver contract inside ``webr/``, ``tools/``, ``bench.py``,
``__spark_entry__.py``, ``perfbench/``) and fails on any such definition
outside the allowlist. A reference is a Name, an Attribute or an import
alias anywhere in those sources except the definition's own body. An
attribute of the same name on another object also counts, so the walk
errs towards calling code reached; a call by a name built at run time
(``getattr`` with a computed string) is not seen.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
WEBR = ROOT / "webr"

# name: why it stays without an entry point
ALLOWED = {
    "learn_dnf": "Q2 learned blocking, waiting for an entry point",
    "learn_cnf": "Q2 learned blocking, waiting for an entry point",
    "evaluate_scheme": "Q2 learned blocking, waiting for an entry point",
    "oversample_minority": "Q2 learned blocking, waiting for an entry point",
    "classification_report": "M3 matcher report, waiting for an entry point",
    "brute_force_topk": "exact reference for the LSH/IVF recall tests",
    "ingest_to_staging": "stream ingest into staging (ROADMAP Direction 4)",
    "assign_stream": "stream record assignment (ROADMAP Direction 4)",
    "generate_bridge_pages": "bridge corpus of the quality ladder "
                             "(ROADMAP Direction 4)",
    "read_warc_pages": "the WARC page source",
}


def _sources() -> list[pathlib.Path]:
    return (sorted(WEBR.rglob("*.py")) + sorted((ROOT / "tools").glob("*.py"))
            + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
            + sorted((ROOT / "perfbench").glob("*.py")))


def _public_defs(tree: ast.Module) -> list[str]:
    return [n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
            and not n.name.startswith("_")]


def _refs(tree: ast.Module) -> set[str]:
    """Names referenced anywhere in the module, a top-level definition's
    references to itself (recursion) left out."""
    out = set()
    for top in tree.body:
        own = getattr(top, "name", None)
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias):
                name = n.name.rsplit(".", 1)[-1]
            else:
                continue
            if name != own:
                out.add(name)
    return out


def _unreached(root: pathlib.Path,
               paths: list[pathlib.Path]) -> dict[str, str]:
    """Public top-level definitions under ``root/webr`` that no file in
    ``paths`` references -> the file that defines each."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in paths}
    refs = set().union(*map(_refs, trees.values()))
    return {name: str(p.relative_to(root))
            for p, tree in trees.items() if p.is_relative_to(root / "webr")
            for name in _public_defs(tree) if name not in refs}


def test_every_public_definition_is_reached():
    found = _unreached(ROOT, _sources())
    assert set(found) <= set(ALLOWED), {
        k: v for k, v in found.items() if k not in ALLOWED}
    # an allowlist entry whose code gained a caller or was deleted goes
    stale = set(ALLOWED) - set(found)
    assert not stale, stale


def test_walker_sees_every_reference_form(tmp_path):
    pkg = tmp_path / "webr"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "import os\n"
        "def by_name(): return 1\n"
        "def by_attr(): return 2\n"
        "def by_import(): return 3\n"
        "def recursive(n): return recursive(n - 1) if n else 0\n"
        "def dead(): return by_name()\n"
        "class Dead: pass\n"
        "def _private(): pass\n"
        "X = by_name\n")
    (tmp_path / "tool.py").write_text(
        "import webr.m as m\n"
        "from webr.m import by_import\n"
        "m.by_attr()\n")
    assert _unreached(tmp_path, [pkg / "m.py", tmp_path / "tool.py"]) == {
        "recursive": "webr/m.py", "dead": "webr/m.py", "Dead": "webr/m.py"}
