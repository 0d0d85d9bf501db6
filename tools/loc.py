"""Count total and code lines per Python file.

A code line is a line that is not blank, not a comment line and not part of
a module, class or function docstring. Usage:

    python tools/loc.py core_spark/streaming/windows.py core_spark/streaming/twa.py
    python tools/loc.py core_spark        # every .py file under a directory

Prints ``total code path`` per file, then the sum.
"""

from __future__ import annotations

import ast
import os
import sys

_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def count(source: str) -> tuple[int, int]:
    """(total lines, code lines) of one Python source."""
    doc = set()
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            doc.update(range(first.lineno, first.end_lineno + 1))
    lines = source.splitlines()
    code = sum(
        1
        for i, line in enumerate(lines, 1)
        if line.strip() and not line.strip().startswith("#") and i not in doc
    )
    return len(lines), code


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                out += [os.path.join(root, n) for n in names if n.endswith(".py")]
        else:
            out.append(p)
    return sorted(out)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = code = 0
    for path in _files(argv):
        with open(path) as f:
            t, c = count(f.read())
        total, code = total + t, code + c
        print(f"{t:7d} {c:7d} {path}")
    print(f"{total:7d} {code:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
