"""Function-size guard for the library: no function in ``rtdl_spark/``
grows past 200 lines. The functions already longer than that are listed
with their current length as a ceiling; the list may only shrink, and a
listed function may not grow."""

from __future__ import annotations

import ast
import os

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "rtdl_spark",
)
MAX_LINES = 200
CEILINGS = {
    "delta_sql": 580,
    "optimize_delta_native": 513,
    "read_table_changes_cdf": 358,
    "read_delta_native": 276,
}


def _function_lengths():
    for dirpath, _dirs, files in os.walk(ROOT):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    rel = os.path.relpath(path, ROOT)
                    yield (
                        f"{rel}:{node.lineno} {node.name}",
                        node.name,
                        node.end_lineno - node.lineno + 1,
                    )


def test_no_function_over_200_lines():
    too_long = sorted(
        f"{where} ({n} lines)"
        for where, name, n in _function_lengths()
        if n > CEILINGS.get(name, MAX_LINES)
    )
    assert not too_long, (
        f"functions over {MAX_LINES} lines (or over their ceiling): "
        f"{too_long} — split them into steps"
    )


def test_ceilings_are_still_needed():
    """A ceiling whose function shrank under the limit (or is gone) is
    removed, so the list only ever shrinks."""
    longest = {}
    for _where, name, n in _function_lengths():
        longest[name] = max(longest.get(name, 0), n)
    stale = sorted(
        name for name in CEILINGS if longest.get(name, 0) <= MAX_LINES
    )
    assert not stale, f"drop these from CEILINGS: {stale}"
