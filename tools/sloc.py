"""Count code lines in Python files: lines that carry at least one
token other than a comment, and that are not part of a docstring.
Blank lines, comment-only lines and docstrings (the leading string
statement of a module, class or function) do not count.

    python tools/sloc.py lsearch_spark/query.py
    python tools/sloc.py lsearch_spark

A directory argument counts every *.py file under it, recursively.
Prints one line per file and, for several files, a total.
"""

from __future__ import annotations

import ast
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        body = node.body
        if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                and isinstance(body[0].value.value, str):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src, path))
    with open(path, "rb") as f:
        toks = list(tokenize.tokenize(f.readline))
    code: set[int] = set()
    for tok in toks:
        if tok.type in _SKIP:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def _py_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
    )


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    paths = [p for arg in argv for p in _py_files(arg)]
    total = 0
    for path in paths:
        n = code_lines(path)
        total += n
        print(f"{n:7d}  {path}")
    if len(paths) > 1:
        print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
