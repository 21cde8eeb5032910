"""tests/slow_manifest.py gates tests by exact node id, so a renamed
or deleted test leaves a stale entry behind silently — and the renamed
test, now unlisted, moves into the default tier however slow it is.
Every entry must name a test function defined in its file."""

from __future__ import annotations

import ast
import pathlib

from tests.slow_manifest import SLOW_TESTS


def test_slow_manifest_entries_name_defined_tests():
    root = pathlib.Path(__file__).resolve().parent.parent
    defined: dict[str, set[str]] = {}
    stale = []
    for entry in sorted(SLOW_TESTS):
        path, name = entry.split("::", 1)
        if path not in defined:
            f = root / path
            defined[path] = (
                {
                    node.name
                    for node in ast.walk(ast.parse(f.read_text()))
                    if isinstance(node, ast.FunctionDef)
                }
                if f.is_file()
                else set()
            )
        if name.split("[", 1)[0] not in defined[path]:
            stale.append(entry)
    assert stale == []
