"""Line counts of the Python files directly under each given directory:
total lines (as ``wc -l``) and code lines — lines holding a token other
than a comment, outside module/class/function docstrings.

Usage: python3 tools/sloc.py DIR [DIR ...]
Compare a parent commit with ``git archive <rev> <path> | tar -x -C <tmp>``
and pass both copies."""

from __future__ import annotations

import ast
import glob
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def count(path: str) -> tuple[int, int]:
    src = open(path).read()
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    code = {
        line
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type not in _LAYOUT
        for line in range(tok.start[0], tok.end[0] + 1)
        if line not in doc
    }
    return len(src.splitlines()), len(code)


def main(dirs: list[str]) -> None:
    for d in dirs:
        counts = [count(p) for p in sorted(glob.glob(os.path.join(d, "*.py")))]
        total = sum(t for t, _ in counts)
        code = sum(c for _, c in counts)
        print(f"{d}: {total} total, {code} code")


if __name__ == "__main__":
    main(sys.argv[1:])
