"""Every definition in ``gtfs2lc_spark/`` must be reachable from a
product surface. Code that only tests reach is dead: delete it with its
tests instead of keeping it alive here.

Reachability is a closure over names, computed with ``ast``:

- The roots are every name used in ``__spark_entry__.py`` (``entry``,
  ``queries()``, ``oracle_sql()``), ``scripts/*.py`` and
  ``perfbench/*.py``; the ``job.main``, ``sortjob.main`` and
  ``streaming.start_incremental_conversion`` entry points; and every
  module-level statement of the package that is not itself a
  definition (imports excepted: importing a name does not use it).
- A reached name reaches every definition of that name: a top-level
  def or class, a module-level ``UPPER_CASE`` constant, or a method of
  a reached class. The names its body uses are reached in turn.
- A reached class also reaches its bases, decorators, class-level
  statements and dunder methods (Python calls those implicitly).

Names are matched without their module, so two definitions that share
a name live or die together; the rule errs on the side of "reached".
A name counts as used when it is an ``ast.Name`` id or an
``ast.Attribute`` attr (on Python 3.11 a name inside an f-string is not
a token of its own, so ``tokenize`` would miss it). The check covers
top-level defs and classes, public methods and module-level
``UPPER_CASE`` constants."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "gtfs2lc_spark"

ENTRY_POINTS = {
    ("job", "main"),
    ("sortjob", "main"),
    ("streaming", "start_incremental_conversion"),
}

# definitions that no surface reaches but that stay on purpose (at most one)
ALLOWED_UNREACHED: dict[str, str] = {}

_CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*$")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _used(*nodes) -> set[str]:
    names = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                names.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                names.add(sub.attr)
    return names


def _constant_name(node) -> str | None:
    """The name a module-level ``UPPER_CASE = ...`` statement defines."""
    if isinstance(node, ast.Assign) and len(node.targets) == 1:
        target = node.targets[0]
    elif isinstance(node, ast.AnnAssign):
        target = node.target
    else:
        return None
    if isinstance(target, ast.Name) and _CONSTANT.match(target.id):
        return target.id
    return None


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


class _Package:
    """Every definition of the package, keyed by name."""

    def __init__(self):
        # name -> [(location, nodes whose names it uses)]
        self.defs: dict[str, list[tuple[str, list]]] = {}
        # method name -> [(class name, location, method node)]
        self.methods: dict[str, list[tuple[str, str, ast.AST]]] = {}
        self.roots: set[str] = set()
        for path in sorted(PACKAGE.rglob("*.py")):
            where = path.relative_to(ROOT)
            module = path.stem
            for node in ast.parse(path.read_text(), str(path)).body:
                loc = f"{where}:{node.lineno}"
                if isinstance(node, _DEFS):
                    self._add_def(node, loc)
                    if (module, node.name) in ENTRY_POINTS:
                        self.roots.add(node.name)
                elif (name := _constant_name(node)) is not None:
                    self.defs.setdefault(name, []).append((loc, [node.value]))
                elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                    self.roots |= _used(node)

    def _add_def(self, node, loc: str) -> None:
        if not isinstance(node, ast.ClassDef):
            self.defs.setdefault(node.name, []).append((loc, [node]))
            return
        # the class itself: bases, decorators, class-level statements
        # and dunder methods; other methods are reached by name
        own = [*node.bases, *node.keywords, *node.decorator_list]
        for item in node.body:
            if isinstance(item, _DEFS) and not _is_dunder(item.name):
                self.methods.setdefault(item.name, []).append(
                    (node.name, f"{loc.rsplit(':', 1)[0]}:{item.lineno}", item)
                )
            else:
                own.append(item)
        self.defs.setdefault(node.name, []).append((loc, own))

    def closure(self, roots: set[str]) -> set[str]:
        reached: set[str] = set()
        todo = set(roots)
        while todo:
            name = todo.pop()
            if name in reached:
                continue
            reached.add(name)
            for _, nodes in self.defs.get(name, []):
                todo |= _used(*nodes) - reached
            # methods named ``name`` of classes already reached, and the
            # methods already named of a class reached only now
            for cls, _, meth in self.methods.get(name, []):
                if cls in reached:
                    todo |= _used(meth) - reached
            for meths in self.methods.values():
                for cls, _, meth in meths:
                    if cls == name and meth.name in reached:
                        todo |= _used(meth) - reached
        return reached

    def covered(self) -> dict[str, str]:
        """Name -> location of every definition the check covers."""
        out = {name: loc for name, locs in self.defs.items() for loc, _ in locs}
        for name, meths in self.methods.items():
            if not name.startswith("_"):
                for cls, loc, _ in meths:
                    out[f"{cls}.{name}"] = loc
        return out


def _surface_roots() -> set[str]:
    files = [
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]
    return _used(*(ast.parse(p.read_text(), str(p)) for p in files))


def _unreached() -> dict[str, str]:
    pkg = _Package()
    reached = pkg.closure(_surface_roots() | pkg.roots)
    out = {}
    for name, loc in pkg.covered().items():
        cls, _, attr = name.rpartition(".")
        if (cls and (cls not in reached or attr not in reached)) or (
            not cls and name not in reached
        ):
            out[name] = loc
    return out


def test_every_definition_is_reached_from_a_surface():
    unreached = {
        name: where
        for name, where in _unreached().items()
        if name not in ALLOWED_UNREACHED
    }
    assert not unreached, f"defined but reached by no product surface: {unreached}"


def test_allowlist_entries_are_still_defined_and_unreached():
    assert len(ALLOWED_UNREACHED) <= 1
    unreached = _unreached()
    for name in ALLOWED_UNREACHED:
        assert name in unreached, f"{name} is gone or now reached: drop it from the allowlist"
