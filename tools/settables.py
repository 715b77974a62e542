#!/usr/bin/env python
"""Count the independently settable values of a Python package.

A settable value is:

- a parameter of a function, method or lambda, other than ``self`` and
  ``cls`` (``*args`` and ``**kwargs`` count one each);
- a field of a ``@dataclass`` class: an annotated name in its body that
  is not a ``ClassVar``;
- an ``os.environ`` key the code reads (``os.environ[key]``,
  ``os.environ.get(key)``, ``os.environ.setdefault(key)``,
  ``os.getenv(key)``).  A key given as a module-level string constant is
  that string, any other key expression its source text.  Each key counts
  once, in the first file by path that reads it.

Usage:  python tools/settables.py [PACKAGE_DIR]
        (default: flink_http_full_cache_connector_spark/)

Prints one line per file that has any settable value, then the total.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "flink_http_full_cache_connector_spark"

_DATACLASS = ("dataclass", "dataclasses.dataclass")
_ENV_READS = ("os.environ.get", "os.environ.setdefault", "os.getenv")


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any(
        ast.unparse(d.func if isinstance(d, ast.Call) else d) in _DATACLASS
        for d in node.decorator_list
    )


def _env_key(node: ast.AST) -> ast.expr | None:
    """The key expression of an ``os.environ`` read, or None."""
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.ctx, ast.Load)
        and ast.unparse(node.value) == "os.environ"
    ):
        return node.slice
    if isinstance(node, ast.Call) and node.args and ast.unparse(node.func) in _ENV_READS:
        return node.args[0]
    return None


def settables(source: str) -> tuple[int, set[str]]:
    """The parameters and dataclass fields of ``source``, and the set of
    ``os.environ`` keys it reads."""
    tree = ast.parse(source)
    constants = {
        target.id: stmt.value.value
        for stmt in tree.body
        if isinstance(stmt, ast.Assign)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
        for target in stmt.targets
        if isinstance(target, ast.Name)
    }
    count, keys = 0, set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            params = [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
            count += sum(p is not None and p.arg not in ("self", "cls") for p in params)
        elif isinstance(node, ast.ClassDef) and _is_dataclass(node):
            count += sum(
                isinstance(stmt, ast.AnnAssign)
                and isinstance(stmt.target, ast.Name)
                and "ClassVar" not in ast.unparse(stmt.annotation)
                for stmt in node.body
            )
        elif (key := _env_key(node)) is not None:
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                keys.add(key.value)
            elif isinstance(key, ast.Name) and key.id in constants:
                keys.add(constants[key.id])
            else:
                keys.add(ast.unparse(key))
    return count, keys


def count(source: str) -> int:
    """The number of settable values in one module's ``source``."""
    n, keys = settables(source)
    return n + len(keys)


def main(argv: list[str]) -> None:
    package = Path(argv[0]) if argv else PACKAGE
    seen: set[str] = set()
    total = 0
    for path in sorted(package.rglob("*.py")):
        n, keys = settables(path.read_text())
        n += len(keys - seen)
        seen |= keys
        if n:
            print(f"{n:5d}  {path.relative_to(package.parent)}")
        total += n
    print(f"{total:5d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
