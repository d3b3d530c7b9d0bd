#!/usr/bin/env python
"""Count Python code lines — lines holding a token, minus comments, docstrings
(any bare string statement) and blanks — in the working tree, or with
``--rev REV`` as each file stands at git revision REV (paths relative to cwd).

Usage: python scripts/code_lines.py [--rev REV] PATH [PATH ...]
"""

import ast
import io
import subprocess
import sys
import tokenize
from pathlib import Path

_NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    lines = {n for tok in tokenize.generate_tokens(io.StringIO(src).readline)
             if tok.type not in _NON_CODE for n in range(tok.start[0], tok.end[0] + 1)}
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Expr) and isinstance(getattr(node.value, "value", None), str):
            lines -= set(range(node.lineno, node.end_lineno + 1))
    return len(lines)


def read(path: str, rev: str | None) -> str:
    if rev is None:
        return Path(path).read_text()
    return subprocess.run(["git", "show", f"{rev}:./{path}"], capture_output=True, text=True, check=True).stdout


if __name__ == "__main__":
    args = sys.argv[1:]
    rev, paths = (args[1], args[2:]) if args[:1] == ["--rev"] else (None, args)
    counts = [code_lines(read(p, rev)) for p in paths]
    print("\n".join(f"{n:7d}  {p}" for p, n in zip(paths, counts)))
    print(f"{sum(counts):7d}  total")
