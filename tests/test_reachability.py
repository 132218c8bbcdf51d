"""Every package module must be reachable by imports from a real entry point
(the scripts, the benchmarks, `__spark_entry__.py` and perfbench), so code that
only tests reach shows up as an unreached module."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sbb_ocr_postcorrection_spark"
ENTRY_POINTS = [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", ROOT / "bench_extra.py",
                ROOT / "__spark_entry__.py",
                *(p for p in ROOT.glob("perfbench/*.py") if not p.name.startswith("test_"))]


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path) -> set[str]:
    """Every module name an import in `path` may load, relative ones resolved."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package.pop()
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            # `from pkg import name` loads pkg.name when name is a module
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    # importing a.b.c runs a/__init__ and a/b/__init__ first
    return {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 2)}


def reached_modules() -> set[str]:
    seen, todo = set(), list(ENTRY_POINTS)
    while todo:
        for name in _imported(todo.pop()):
            path = _module_file(name)
            if name.split(".")[0] == PKG and path and name not in seen:
                seen.add(name)
                todo.append(path)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    assert sorted(modules - reached_modules()) == []
