#!/usr/bin/env python
"""Count code lines: physical lines that carry a non-comment token outside
module/class/function docstrings. Usage:
    python scripts/code_lines.py stream_cdc_spark scripts   # dirs or files
Prints one "<lines>  <path>" row per argument, then the total."""

import ast
import pathlib
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: pathlib.Path) -> int:
    lines: set[int] = set()
    with path.open("rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type not in _SKIP:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(path.read_bytes())):
        if isinstance(node, _DOC_OWNERS) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            lines.difference_update(range(doc.lineno, doc.end_lineno + 1))
    return len(lines)


if __name__ == "__main__":
    total = 0
    for arg in sys.argv[1:]:
        p = pathlib.Path(arg)
        n = sum(map(code_lines, sorted(p.rglob("*.py")))) if p.is_dir() else code_lines(p)
        print(f"{n:7d}  {arg}")
        total += n
    print(f"{total:7d}  total")
