#!/usr/bin/env python
"""Line counts of the minigraph_spark package and of its link-graph core.

Usage: python scripts/loc.py [TREE]

TREE is a checkout (default: this script's repository), so that two trees,
say a `git archive` export of a parent commit and the working tree, are
counted by the same rules. For the whole package and for the core file set
it prints the number of files, the total lines (as `wc -l` counts them) and
the code-only lines: lines holding a token that is not a comment, a
docstring or blank space. Standard library only.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

# The link-graph core: the engine, its inputs and the four perfbench plans.
CORE = [
    "__init__.py",
    "checkpoint.py",
    "session.py",
    "schemas.py",
    "fixtures.py",
    "oracle.py",
    "functions/",
    "sources/",
    "operators/superstep.py",
    "operators/partition.py",
    "operators/csr.py",
    "operators/project.py",
    "operators/compaction.py",
    "plans/pagerank.py",
    "plans/wcc.py",
    "plans/lpa.py",
    "plans/triangles.py",
]

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(path: Path) -> tuple[int, int]:
    """(total lines, code-only lines) of one Python file."""
    text = path.read_text()
    docs = _docstring_lines(ast.parse(text))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return text.count("\n"), len(code - docs)


def _files(pkg: Path, patterns: list[str] | None) -> list[Path]:
    every = sorted(pkg.rglob("*.py"))
    if patterns is None:
        return every
    rels = [p.relative_to(pkg).as_posix() for p in every]
    return [
        p
        for p, rel in zip(every, rels)
        if any(rel == pat or (pat.endswith("/") and rel.startswith(pat))
               for pat in patterns)
    ]


def main() -> None:
    tree = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).parents[1]
    pkg = tree / "minigraph_spark"
    if not pkg.is_dir():
        sys.exit(f"no minigraph_spark/ under {tree}")
    for label, patterns in (("minigraph_spark/", None), ("core", CORE)):
        files = _files(pkg, patterns)
        counts = [count(f) for f in files]
        total = sum(t for t, _ in counts)
        code = sum(c for _, c in counts)
        print(f"{label:<17} files {len(files):>3}  lines {total:>6}  code-only {code:>6}")


if __name__ == "__main__":
    main()
