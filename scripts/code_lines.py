"""Count code lines in Python files: lines that hold any token other
than a comment, a newline or an indent, leaving out module, class and
function docstring lines.

    python scripts/code_lines.py                      # every tracked package file
    python scripts/code_lines.py path/a.py path/b.py  # the named files

Prints one ``<count> <path>`` line per file, then ``<total> total``.
With no arguments it reads ``git ls-files 'hhek2sqlite_spark/*.py'``.
"""

from __future__ import annotations

import ast
import io
import subprocess
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(argv: list[str]) -> int:
    paths = argv or subprocess.run(
        ["git", "ls-files", "hhek2sqlite_spark/*.py"],
        check=True,
        capture_output=True,
        text=True,
    ).stdout.split()
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        print(f"{n} {path}")
        total += n
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
