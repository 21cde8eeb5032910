#!/usr/bin/env python
"""Count code lines in Python files: lines holding a token that is not
a comment, a docstring or whitespace.  This is the measure the size
figures in CHANGES.md and ROADMAP.md use.

A docstring is a statement consisting of one string literal and
nothing else (the module, class and function docstrings, and any bare
string statement), found with ``tokenize``: such a string's lines are
not code.

Usage:
    python tools/code_lines.py FILE...          # total per file
    python tools/code_lines.py --defs FILE...   # plus per top-level def
    git show REV:PATH | python tools/code_lines.py -   # a past revision
"""

from __future__ import annotations

import argparse
import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(source: str) -> set[int]:
    """The 1-based numbers of the code lines of ``source``."""
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []  # tokens of the current statement
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
            if not (len(stmt) == 1 and stmt[0].type == tokenize.STRING):
                for t in stmt:
                    lines.update(range(t.start[0], t.end[0] + 1))
            stmt = []
        elif tok.type not in _SKIP:
            stmt.append(tok)
    return lines


def per_def(source: str, lines: set[int]) -> list[tuple[str, int]]:
    """(top-level definition name, its code lines) in file order; code
    outside any definition is reported as ``<module>``."""
    out, seen = [], set()
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            span = set(range(first, node.end_lineno + 1)) & lines
            out.append((node.name, len(span)))
            seen |= span
    out.append(("<module>", len(lines - seen)))
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="+", help="Python files ('-' = stdin)")
    ap.add_argument("--defs", action="store_true",
                    help="also count per top-level definition")
    args = ap.parse_args(argv)
    for path in args.files:
        if path == "-":
            source = sys.stdin.read()
        else:
            with open(path, encoding="utf-8") as f:
                source = f.read()
        lines = code_lines(source)
        print(f"{len(lines)}\t{path}")
        if args.defs:
            for name, n in per_def(source, lines):
                print(f"  {n}\t{name}")


if __name__ == "__main__":
    main()
