"""Count code lines of Python files: blank, comment and docstring lines
excluded.

A line counts when it holds at least one token that is not a comment,
a newline/indent token or part of a docstring (the first statement of a
module, class or function when it is a bare string literal).

Usage::

    python tools/count_code_lines.py FILE [FILE ...]
    python tools/count_code_lines.py -h | --help

Prints one ``<count>  <file>`` row per file and a ``total`` row when
more than one file is given.  Standard library only.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_code_lines(source: str) -> int:
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        for line in range(tok.start[0], tok.end[0] + 1):
            if line not in doc:
                code.add(line)
    return len(code)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    if argv[0] in ("-h", "--help"):
        print(__doc__.strip())
        return 0
    total = 0
    for path in argv:
        with open(path, encoding="utf-8") as f:
            n = count_code_lines(f.read())
        total += n
        print(f"{n:7d}  {path}")
    if len(argv) > 1:
        print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
