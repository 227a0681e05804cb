"""Line counts of the ``open_instrument_spark`` package, per subpackage.

For every ``.py`` file under the package root it counts

- ``lines``: all physical lines, as ``wc -l`` does;
- ``code``: lines holding code — not blank, not a comment-only line and
  not inside a docstring (the leading string of a module, class or
  function body).

Usage: python tools/package_lines.py [package_dir]
       (default: the open_instrument_spark/ beside this tools/ directory;
       pass a checkout's package dir to count another revision)
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize
from collections import defaultdict

_DEFS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _DEFS) or not node.body:
            continue
        first = node.body[0]
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                and isinstance(first.value.value, str):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(lines, code lines) of one Python source text."""
    code: set[int] = set()
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in skip:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= _docstring_lines(ast.parse(source))
    return source.count("\n"), len(code)


def package_counts(root: str) -> dict[str, list[int]]:
    """{subpackage: [files, lines, code]}; top-level modules under "."."""
    totals: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        rel = os.path.relpath(dirpath, root)
        sub = rel.split(os.sep)[0]
        for name in sorted(n for n in names if n.endswith(".py")):
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                lines, code = count(fh.read())
            t = totals[sub]
            t[0] += 1
            t[1] += lines
            t[2] += code
    return dict(totals)


def main(argv: list[str]) -> None:
    root = argv[1] if len(argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "open_instrument_spark")
    counts = package_counts(root)
    print(f"{'subpackage':<12} {'files':>6} {'lines':>7} {'code':>7}")
    for sub in sorted(counts):
        files, lines, code = counts[sub]
        print(f"{sub:<12} {files:>6} {lines:>7} {code:>7}")
    files, lines, code = (sum(c[i] for c in counts.values()) for i in range(3))
    print(f"{'total':<12} {files:>6} {lines:>7} {code:>7}")


if __name__ == "__main__":
    main(sys.argv)
