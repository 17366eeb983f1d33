"""Package size and pipeline-reachable share, from the source alone.

Prints the total line count of ``skewer_spark/`` and the lines in the
static import closure of the pipeline's entry modules (``plans.job``,
``streaming.pipeline``, ``__main__`` and ``session``).  The closure
follows every ``import`` statement the ``ast`` finds, including
function-level (lazy) imports, plus the ``__init__`` of every package
on the way.  Nothing is imported or run.
``tests/test_contracts.py`` walks the same closure (``closure``) to
check that no module is reached only by tests.

    python3 tools/loc_report.py
"""

from __future__ import annotations

import ast
from collections.abc import Iterable
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "skewer_spark"
ENTRIES = (
    "plans.job", "streaming.pipeline", "__main__", "session",
)


def modules() -> dict[str, Path]:
    """Dotted module name → source file, for every module in the package."""
    out = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules that ``name`` imports anywhere in its body."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            found.add(base)
            # ``from pkg import mod`` names a submodule
            found.update(f"{base}.{a.name}" for a in node.names)
    return {m for m in found if m in mods}


def _with_parents(name: str) -> set[str]:
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def closure(roots: Iterable[str], mods: dict[str, Path]) -> set[str]:
    """Package modules reachable from the dotted names ``roots``."""
    todo = list(roots)
    seen: set[str] = set()
    while todo:
        for m in _with_parents(todo.pop()) - seen:
            if m in mods:
                seen.add(m)
                todo.extend(imports(m, mods[m], mods))
    return seen


def main() -> None:
    mods = modules()
    lines = {m: len(p.read_text().splitlines()) for m, p in mods.items()}
    seen = closure([f"{PKG}.{e}" for e in ENTRIES], mods)
    total = sum(lines.values())
    reach = sum(lines[m] for m in seen)
    print(f"package lines: {total}")
    print(f"pipeline-reachable lines: {reach} in {len(seen)} modules")
    print(f"reachable share: {reach}/{total} = {reach / total:.1%}")


if __name__ == "__main__":
    main()
