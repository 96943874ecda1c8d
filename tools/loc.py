"""Count lines of Python source: total and code-only.

Code-only lines exclude blank lines, comment-only lines and docstring
lines (the string literal that opens a module, class or function
body).

Usage:
    python tools/loc.py [path...]      # default: omni_crawler_spark/
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def count(src: str) -> tuple[int, int]:
    """(total, code-only) line counts of one Python source."""
    lines = src.splitlines()
    skip = {i for i, ln in enumerate(lines, 1) if not ln.strip()}
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT and not lines[tok.start[0] - 1][
            : tok.start[1]
        ].strip():
            skip.add(tok.start[0])
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            skip.update(range(doc.lineno, doc.end_lineno + 1))
    return len(lines), len(lines) - len(skip)


def files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".py")
    )


def main() -> int:
    paths = sys.argv[1:] or [os.path.join(ROOT, "omni_crawler_spark")]
    for path in paths:
        total = code = 0
        for f in files(path):
            with open(f, encoding="utf-8") as fh:
                t, c = count(fh.read())
            total += t
            code += c
        print(f"{path}: {total:,} total, {code:,} code-only")
    return 0


if __name__ == "__main__":
    sys.exit(main())
