"""Count code lines in Python files: lines that hold any token other
than a comment, a newline or an indent, leaving out module, class and
function docstring lines.

    python scripts/code_lines.py                      # every tracked package file
    python scripts/code_lines.py path/a.py path/b.py  # the named files
    python scripts/code_lines.py --against REV [files...]

Prints one ``<count> <path>`` line per file, then ``<total> total``.
With no file arguments it reads ``git ls-files 'hhek2sqlite_spark/*.py'``.
``--against REV`` compares with git revision REV (read with ``git show``,
no checkout): one ``<REV count> <current count> <path>`` line per file
whose text differs (a file missing on one side counts 0), then
``<REV total> <current total> total`` over all the files.
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


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout


def _package_files(rev: str | None) -> list[str]:
    if rev is None:
        return _git("ls-files", "hhek2sqlite_spark/*.py").split()
    names = _git("ls-tree", "-r", "--name-only", rev, "hhek2sqlite_spark").split()
    return [n for n in names if n.endswith(".py")]


def _read(path: str, rev: str | None) -> str | None:
    if rev is None:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return None
    try:
        return _git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return None


def main(argv: list[str]) -> int:
    rev = None
    if argv[:1] == ["--against"]:
        rev, argv = argv[1], argv[2:]
    if rev is None:
        total = 0
        for path in argv or _package_files(None):
            n = code_lines(_read(path, None))
            print(f"{n} {path}")
            total += n
        print(f"{total} total")
        return 0
    paths = argv or sorted(set(_package_files(rev)) | set(_package_files(None)))
    old_total = new_total = 0
    for path in paths:
        old, new = _read(path, rev), _read(path, None)
        n_old = code_lines(old) if old is not None else 0
        n_new = code_lines(new) if new is not None else 0
        if old != new:
            print(f"{n_old} {n_new} {path}")
        old_total += n_old
        new_total += n_new
    print(f"{old_total} {new_total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
