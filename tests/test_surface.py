"""Every public top-level def and class in ``gtfs2lc_spark/``, and
every public method of those classes, must be reached from a product
surface: the driver contract
(``__spark_entry__.py``), the package's own modules (the ``job`` and
``sortjob`` CLIs, LC streaming ingest), ``scripts/`` and the bench
(``perfbench/``). Code that only tests name is dead code — delete it
with its tests instead of keeping it alive here.

References are collected with ``ast`` (``Name`` ids and ``Attribute``
attrs), not ``tokenize``: on Python 3.11 a name used inside an
f-string is not a token of its own. A method counts as reached when
its name is used as an attribute anywhere on a surface."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "gtfs2lc_spark"

# public definitions that no surface calls but that stay on purpose
ALLOWED_UNREFERENCED = {
    "start_incremental_conversion": "README's LC streaming ingest entry point",
    "start_corpus_dedup_stream": "README's streaming corpus-dedup entry point",
    "skewed_entities": "shared skewed-feed fixture of the skew tests",
}


def _surface_files() -> list[Path]:
    return [
        *sorted(PACKAGE.rglob("*.py")),
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _surface_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
    return names


def _public(nodes):
    return [
        n for n in nodes
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not n.name.startswith("_")
    ]


def _public_definitions() -> dict[str, str]:
    """Name -> location of every public top-level definition, and of
    every public method as ``Class.method``."""
    defs = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        where = path.relative_to(ROOT)
        for node in _public(ast.parse(path.read_text(), str(path)).body):
            defs[node.name] = f"{where}:{node.lineno}"
            if isinstance(node, ast.ClassDef):
                for meth in _public(node.body):
                    defs[f"{node.name}.{meth.name}"] = f"{where}:{meth.lineno}"
    return defs


def test_every_public_definition_is_reached_from_a_surface():
    referenced = _referenced_names()
    unreached = {
        name: where
        for name, where in _public_definitions().items()
        if name.rsplit(".", 1)[-1] not in referenced and name not in ALLOWED_UNREFERENCED
    }
    assert not unreached, f"defined but reached by no product surface: {unreached}"


def test_allowlist_entries_are_still_defined_and_unreferenced():
    defs = _public_definitions()
    referenced = _referenced_names()
    for name in ALLOWED_UNREFERENCED:
        assert name in defs, f"{name} is gone: drop it from the allowlist"
        assert name not in referenced, f"{name} is now referenced: drop it from the allowlist"
