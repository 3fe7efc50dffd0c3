"""Every top-level name in the package has a caller outside tests/.

An AST scan, no Spark: a top-level function, class or constant of
``opendosm_parquet_to_sqlite_spark`` is live when code that is not a test
reaches it. The roots are every line of ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` (not its tests) and ``tools/``, plus the
package's own module-level statements and its registered definitions
(``@query(...)``). Edges run from a definition to each package name its
body mentions, resolved through imports and re-exports, so a name whose
only callers are themselves dead is dead too. A dead name is deleted, or
listed in ALLOWED with its reason.

Run ``python tests/test_reachability.py`` to print the dead names.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

pytestmark = pytest.mark.product

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "opendosm_parquet_to_sqlite_spark"

ALLOWED = {
    "operators.similarity.lsh_bucket": "column function re-exported by functions/",
    "operators.similarity.multi_lsh_buckets": "column function re-exported by functions/",
    "operators.multimodal.wav_metadata": "column function re-exported by functions/",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve_from(module: str, is_package: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = module.split(".")
    drop = node.level - 1 if is_package else node.level
    base = base[: len(base) - drop]
    return ".".join(base + ([node.module] if node.module else []))


def _aliases(tree: ast.AST, module: str = "", is_package: bool = False) -> dict:
    """Local name -> (module, attribute or None) for every import in a file."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name] = (a.name, None)
        elif isinstance(node, ast.ImportFrom):
            src = _resolve_from(module, is_package, node)
            for a in node.names:
                out[a.asname or a.name] = (src, a.name)
    return out


class _Module:
    def __init__(self, path: Path):
        self.name = _module_name(path)
        self.tree = ast.parse(path.read_text(), str(path))
        self.aliases = _aliases(self.tree, self.name, path.name == "__init__.py")
        self.defs: dict[str, list[ast.AST]] = {}
        for node in self.tree.body:
            for name in _defined_names(node):
                self.defs.setdefault(name, []).append(node)


def _defined_names(node: ast.AST) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


class Scan:
    def __init__(self):
        self.modules = {
            m.name: m for m in map(_Module, sorted((REPO / PACKAGE).rglob("*.py")))
        }

    def resolve(self, module: str, attr: str | None, depth: int = 0):
        """The package definition `module.attr` names, following re-exports
        (None when it is a module or lies outside the package)."""
        mod = self.modules.get(module)
        if mod is None or attr is None or depth > 10:
            return None
        if attr in mod.defs:
            return (module, attr)
        if attr in mod.aliases:
            return self.resolve(*mod.aliases[attr], depth + 1)
        return None

    def refs(self, mod: _Module | None, tree: ast.AST, aliases=None) -> set:
        """Package definitions a subtree mentions."""
        aliases = aliases if aliases is not None else mod.aliases
        out = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                if mod is not None and node.id in mod.defs:
                    out.add((mod.name, node.id))
                elif node.id in aliases:
                    hit = self.resolve(*aliases[node.id])
                    if hit:
                        out.add(hit)
            elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                target = aliases.get(node.value.id)
                if target is None:
                    continue
                src, attr = target
                full = src if attr is None else f"{src}.{attr}"
                hit = self.resolve(full, node.attr)
                if hit:
                    out.add(hit)
        return out

    def dead(self, keep=()) -> list[str]:
        """Top-level names no root reaches, as `subpackage.module.name`;
        `keep` names count as roots."""
        prefix = PACKAGE + "."
        edges: dict[tuple[str, str], set] = {}
        roots = {tuple((prefix + k).rsplit(".", 1)) for k in keep}
        for mod in self.modules.values():
            for name, nodes in mod.defs.items():
                edges[(mod.name, name)] = set().union(*(self.refs(mod, n) for n in nodes))
            for node in mod.tree.body:
                names = _defined_names(node)
                if not names:
                    roots |= self.refs(mod, node)
                elif any(self.refs(mod, d) for d in getattr(node, "decorator_list", ())):
                    roots.add((mod.name, names[0]))
        for path in self._entry_files():
            tree = ast.parse(path.read_text(), str(path))
            roots |= self.refs(None, tree, _aliases(tree))
        live, todo = set(), list(roots)
        while todo:
            key = todo.pop()
            if key not in live:
                live.add(key)
                todo.extend(edges.get(key, ()))
        return sorted(
            f"{m[len(prefix):]}.{n}"
            for (m, n) in edges
            if (m, n) not in live and n not in ("__all__", "__version__")
        )

    @staticmethod
    def _entry_files() -> list[Path]:
        files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
        files += sorted(p for p in (REPO / "perfbench").glob("*.py"))
        files += sorted((REPO / "tools").glob("*.py"))
        return [p for p in files if p.is_file()]


def test_every_package_name_has_a_non_test_caller():
    dead = Scan().dead(keep=ALLOWED)
    assert not dead, "reached only from tests (delete, or allow with a reason):\n  " + "\n  ".join(dead)


def test_allowed_names_exist_and_need_their_entry():
    dead = set(Scan().dead())
    stale = sorted(set(ALLOWED) - dead)
    assert not stale, f"live or gone, drop from ALLOWED: {stale}"


if __name__ == "__main__":
    for name in Scan().dead(keep=ALLOWED):
        print(name)
