"""Count code lines: non-blank, non-comment, non-docstring.

A line counts when it holds at least one token that is not a comment
and is not part of a docstring (the leading string statement of a
module, class or function body, found with ``ast``).  Comments are
found with ``tokenize``, so a ``#`` inside a string is code.

Usage:  python tools/loc.py [dir ...]     (default: logparse_spark tests)
        python tools/loc.py --unreached

Prints one line per module and a total per directory.

``--unreached`` prints, with their raw line counts, the top-level
functions and classes of ``logparse_spark/`` that only tests call: no
non-test code reaches them and no other library def names them, so
each can be deleted alone.  The roots are the entry points
(``__spark_entry__.py``, ``bench*.py``, ``perfbench/`` and ``tools/``,
outside any ``tests`` dir) and the module-level code of every library
module.  A def is reached when a reached body names it, as a name, an
attribute or an identifier string; names are matched without their
module, so the walk errs toward reached.  Imports alone reach nothing.
An unreached def that another unreached def names (a helper of a
test-only operator) is listed once the caller is deleted.
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


def _names(nodes) -> set[str]:
    """Identifiers the nodes use: names, attributes and identifier-like
    string constants, not counting import statements."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and node.value.isidentifier():
                out.add(node.value)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _py_files(root: str):
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x != "tests")
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def unreached(repo: str = ".", package: str = "logparse_spark") -> dict[str, int]:
    """{"module.py:name": raw lines} of the package's top-level defs that
    only tests call (see the module docstring)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = []
    for path in _py_files(os.path.join(repo, package)):
        rel = os.path.relpath(path, repo)
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((rel, node))
                roots.extend(node.decorator_list)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots.append(node)
    entry = [os.path.join(repo, f) for f in sorted(os.listdir(repo))
             if f == "__spark_entry__.py" or (f.startswith("bench") and f.endswith(".py"))]
    for d in ("perfbench", "tools"):
        entry.extend(_py_files(os.path.join(repo, d)))
    roots.extend(_parse(path) for path in entry)

    uses = {name: _names(node for _, node in nodes) - {name} for name, nodes in defs.items()}
    todo, seen = _names(roots), set()
    while todo:
        name = todo.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        todo |= uses[name] - seen
    named = set().union(*uses.values())
    return {f"{rel}:{name}": node.end_lineno - node.lineno + 1
            for name, nodes in sorted(defs.items()) if name not in seen | named
            for rel, node in nodes}


def main(argv: list[str]) -> int:
    if argv == ["--unreached"]:
        found = unreached()
        for key, n in found.items():
            print(f"{n:6d}  {key}")
        print(f"{sum(found.values()):6d}  raw lines in {len(found)} defs only tests call")
        return 0
    for root in argv or ["logparse_spark", "tests"]:
        per = count_dir(root)
        for path, n in per.items():
            print(f"{n:6d}  {os.path.join(root, path)}")
        print(f"{sum(per.values()):6d}  {root}/ total\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
