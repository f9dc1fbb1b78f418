"""Count code lines: non-blank, non-comment, non-docstring.

A line counts when it holds at least one token that is not a comment
and is not part of a docstring (the leading string statement of a
module, class or function body, found with ``ast``).  Comments are
found with ``tokenize``, so a ``#`` inside a string is code.

Usage:  python tools/loc.py [dir ...]     (default: logparse_spark tests)

Prints one line per module and a total per directory.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(source: str) -> int:
    """Number of code lines in one module's source."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def count_dir(root: str) -> dict[str, int]:
    """{relative path: code lines} for every ``.py`` file under ``root``."""
    out = {}
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    out[os.path.relpath(path, root)] = count(fh.read())
    return out


def main(argv: list[str]) -> int:
    for root in argv or ["logparse_spark", "tests"]:
        per = count_dir(root)
        for path, n in per.items():
            print(f"{n:6d}  {os.path.join(root, path)}")
        print(f"{sum(per.values()):6d}  {root}/ total\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
