"""Reachability guard: every top-level engine ``def`` and ``class`` must
be reached from a product entry point, not only from ``tests/``.

The scan is static (AST only, nothing is imported). It starts from the
product's entry points: the Qkey and oracle registries, the CLI, the
session and catalog, the driver contract, ``bench.py``, ``scripts/``
and ``perfbench/``. From there it follows, to a fixed point, every name
a reached unit mentions, resolved through the module's own top-level
definitions, its ``import``s (package re-exports included) and dotted
``module.attr`` chains. A unit is one top-level ``def``/``class`` (a
class counts with all its methods) or one module's top-level
statements. Code only tests reach is a cost with no product behind it,
so the test fails on it unless it is listed in ``ALLOWED`` with the
reason it is kept.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENGINE = "mini_sql_engine_spark"

# Engine modules whose whole body is an entry point, plus the files
# outside the package that import it.
ROOT_MODULES = (
    f"{ENGINE}.queries",
    f"{ENGINE}.oracles",
    f"{ENGINE}.__main__",
    f"{ENGINE}.session",
    f"{ENGINE}.catalog",
)
ROOT_FILES = ("__spark_entry__.py", "bench.py", "scripts/*.py", "perfbench/*.py")

# Test-only code kept on purpose: each one pins or feeds a live path.
ALLOWED = {
    (f"{ENGINE}.pipeline.similarity", "product_quantize"):
        "reference quantizer that pins pq_encode's kernel exactly "
        "(test_pq_encode_matches_numpy_replay)",
    (f"{ENGINE}.pipeline.png", "encode_png"):
        "builds the PNG fixtures that the live decoder's tests read",
    (f"{ENGINE}.pipeline.qoi", "encode_qoi"):
        "builds the QOI fixtures that the live decoder's tests read",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, name: str, path: Path):
        self.name = name
        self.is_package = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.defs = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        self.top = [n for n in self.tree.body if getattr(n, "name", None) not in self.defs]
        # local alias -> ("mod", module) | ("sym", module, name); imports
        # anywhere in the file count, function-local ones included.
        self.aliases: dict[str, set[tuple]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._alias(a.asname, ("mod", a.name))
                    else:
                        head = a.name.split(".")[0]
                        self._alias(head, ("mod", head))
            elif isinstance(node, ast.ImportFrom):
                base = self._absolute(node)
                for a in node.names:
                    self._alias(a.asname or a.name, ("sym", base, a.name))

    def _alias(self, name: str, target: tuple) -> None:
        self.aliases.setdefault(name, set()).add(target)

    def _absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        pkg = self.name.split(".")
        if not self.is_package:
            pkg = pkg[:-1]
        pkg = pkg[: len(pkg) - (node.level - 1)]
        return ".".join(pkg + ([node.module] if node.module else []))


class _Scan:
    def __init__(self):
        files = sorted((REPO / ENGINE).rglob("*.py"))
        for pattern in ROOT_FILES:
            files += sorted(REPO.glob(pattern))
        files += sorted((REPO / "tests").glob("*.py"))
        self.modules = {}
        for f in files:
            m = _Module(_module_name(f), f)
            self.modules[m.name] = m

    def _symbol(self, mod: str, name: str, seen=frozenset()) -> set:
        """Units that ``mod.name`` denotes: a def, a module, or nothing."""
        key = (mod, name)
        if key in seen:
            return set()
        seen = seen | {key}
        sub = f"{mod}.{name}"
        if sub in self.modules:
            return {("mod", sub)}
        m = self.modules.get(mod)
        if m is None:
            return set()
        if name in m.defs:
            return {("def", mod, name)}
        out = set()
        for target in m.aliases.get(name, ()):
            out |= self._target(target, seen)
        return out

    def _target(self, target: tuple, seen=frozenset()) -> set:
        if target[0] == "mod":
            return {("mod", target[1])} if target[1] in self.modules else set()
        return self._symbol(target[1], target[2], seen)

    def _name(self, m: _Module, name: str) -> set:
        if name in m.defs:
            return {("def", m.name, name)}
        out = set()
        for target in m.aliases.get(name, ()):
            out |= self._target(target)
        return out

    def _refs(self, m: _Module, nodes) -> set:
        """Defs and modules that the given AST nodes mention."""
        out = set()
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, ast.Name):
                    out |= self._name(m, node.id)
                elif isinstance(node, ast.Attribute):
                    chain = []
                    cur = node
                    while isinstance(cur, ast.Attribute):
                        chain.append(cur.attr)
                        cur = cur.value
                    if not isinstance(cur, ast.Name):
                        continue
                    heads = {u for u in self._name(m, cur.id) if u[0] == "mod"}
                    for attr in reversed(chain):
                        nxt = set()
                        for u in heads:
                            for v in self._symbol(u[1], attr):
                                (nxt if v[0] == "mod" else out).add(v)
                        heads = nxt
                        out |= heads
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    base = (
                        m._absolute(node) if isinstance(node, ast.ImportFrom) else None
                    )
                    for a in node.names:
                        mod = f"{base}.{a.name}" if base else a.name
                        for cand in (mod, base):
                            if cand and cand in self.modules:
                                out.add(("mod", cand))
        return out

    def reached(self, roots: set) -> set:
        """Fixed point of ``_refs`` from the given units. A reached
        module runs its top-level statements and loads its packages."""
        done, todo = set(), list(roots)
        while todo:
            u = todo.pop()
            if u in done:
                continue
            done.add(u)
            if u[0] == "def":
                m = self.modules[u[1]]
                nxt = self._refs(m, [m.defs[u[2]]])
            else:
                m = self.modules[u[1]]
                nxt = self._refs(m, m.top)
                parts = u[1].split(".")
                nxt |= {
                    ("mod", ".".join(parts[:i]))
                    for i in range(1, len(parts))
                    if ".".join(parts[:i]) in self.modules
                }
            todo.extend(nxt - done)
        return done

    def _whole(self, names) -> set:
        out = set()
        for name in names:
            m = self.modules[name]
            out.add(("mod", name))
            out |= {("def", name, d) for d in m.defs}
        return out

    def engine_defs(self) -> set:
        return {
            ("def", name, d)
            for name, m in self.modules.items()
            if name == ENGINE or name.startswith(ENGINE + ".")
            for d in m.defs
        }

    def product_roots(self) -> set:
        outside = [
            n for n in self.modules
            if not (n == ENGINE or n.startswith(ENGINE + ".") or n.startswith("tests"))
        ]
        return self._whole(list(ROOT_MODULES) + outside)

    def test_roots(self) -> set:
        return self._whole([n for n in self.modules if n.startswith("tests")])


@functools.lru_cache(maxsize=1)
def _result():
    """(scan, product-reached, allowlist-reached, test-reached) units.
    What an allowed name uses counts as kept with it."""
    scan = _Scan()
    product = scan.reached(scan.product_roots())
    kept = scan.reached({("def", *k) for k in ALLOWED})
    tests = scan.reached(scan.test_roots())
    return scan, product, kept, tests


def test_no_engine_code_is_reached_only_from_tests():
    scan, product, kept, tests = _result()
    missing = scan.engine_defs() - product - kept
    test_only = sorted(u[1:] for u in missing if u in tests)
    unreached = sorted(u[1:] for u in missing if u not in tests)
    assert not test_only and not unreached, (
        "engine code no product entry point reaches (delete it, wire it "
        "into a product path, or allow it with a reason): "
        f"test-only {test_only}, unreached {unreached}"
    )


def test_allowlist_is_small_and_current():
    """Each allowed name still exists, is still outside every product
    path and is still used by a test, so the list cannot outlive its
    reasons."""
    assert len(ALLOWED) <= 3
    scan, product, _, tests = _result()
    for key in ALLOWED:
        unit = ("def", *key)
        assert unit in scan.engine_defs(), key
        assert unit not in product, f"{key} is reached now; drop it from ALLOWED"
        assert unit in tests, f"{key} is used by no test; delete it"


def test_scan_follows_imports_and_attributes():
    """The scan reaches code through the ways the product refers to
    it: a package re-export, a module alias attribute, a direct import
    and a same-module call."""
    _, product, _, _ = _result()
    for unit in [
        ("def", f"{ENGINE}.plans.materialize", "materialized"),
        ("def", f"{ENGINE}.pipeline.dedup", "minhash_signatures_md5"),
        ("def", f"{ENGINE}.session", "get_spark"),
        ("def", f"{ENGINE}.pipeline.dedup", "minhash_band_hashes"),
    ]:
        assert unit in product, unit
