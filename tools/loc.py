"""Count code lines in Python sources.

A code line is a line holding at least one token that is not a
comment, a docstring or whitespace. Docstrings are found with ``ast``
(the leading string expression of a module, class or function body);
tokens come from ``tokenize``, so a multi-line string expression that
is not a docstring counts every line it spans.

    python tools/loc.py group5_spark/                  # per file + total
    python tools/loc.py group5_spark/medallion/maintenance.py

Prints one ``<lines> <path>`` row per file, then ``<lines> total``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """The number of code lines in ``source`` (see the module doc)."""
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        span = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.STRING and all(n in doc for n in span):
            continue
        lines.update(span)
    return len(lines)


def _files(paths: list[str]) -> list[Path]:
    out: list[Path] = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for f in _files(argv):
        n = code_lines(f.read_text())
        total += n
        print(f"{n:7d} {f}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
