"""Cosine ledger guard: every exact cosine in ``operators/`` is scored by
one text. The DECIMAL(10,8) grid is where a cosine is rounded, so a
hand-written copy of the norms → dot → cosine math shows up as one more
string carrying that grid. The test AST-walks ``operators/`` and fails on
any site outside the ledger below (or a count change).

Exempt, because they are the independent DuckDB reference: module-level
constants named ``*_ORACLE``, ``*_CTE`` or ``*_CTES``, and functions
whose name contains ``oracle``. Docstrings do not count.
"""

from __future__ import annotations

import ast
import os
import re

OPS = os.path.join(os.path.dirname(__file__), "..", "snowflake_to_postgres_spark", "operators")

#: (module, enclosing function) -> sites carrying the DECIMAL(10,8) grid
COSINE_LEDGER: dict[tuple[str, str], int] = {
    # the exact scorer of every similarity top-k, rescore and range search
    ("similarity.py", "_cosine_sql"): 1,
    # the pair scoring of both in-block dedups
    ("similarity.py", "_pair_cosine_sql"): 1,
    # a Pearson correlation, not a cosine: same 1-ULP rounding reason
    ("breadth.py", "a12_stats_moments"): 1,
}

_GRID = re.compile(r"decimal\s*\(\s*10\s*,\s*8\s*\)", re.IGNORECASE)
_EXEMPT_CONST = re.compile(r"_(ORACLE|CTE|CTES)$")


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def _grid_sites() -> dict[tuple[str, str], int]:
    sites: dict[tuple[str, str], int] = {}
    for fn in sorted(os.listdir(OPS)):
        if not fn.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(OPS, fn)).read())
        docs = _docstrings(tree)
        exempt_spans = [
            (n.lineno, n.end_lineno)
            for n in tree.body
            if isinstance(n, (ast.Assign, ast.AnnAssign))
            and any(
                isinstance(t, ast.Name) and _EXEMPT_CONST.search(t.id)
                for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
            )
        ]
        funcs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _GRID.search(node.value)
                and id(node) not in docs
            ):
                continue
            line = node.lineno
            if any(s <= line <= e for s, e in exempt_spans):
                continue
            enclosing = sorted((s, name) for s, e, name in funcs if s <= line <= e)
            if any("oracle" in name for _, name in enclosing):
                continue
            key = (fn, enclosing[-1][1] if enclosing else "<module>")
            sites[key] = sites.get(key, 0) + 1
    return sites


def test_every_cosine_grid_site_is_in_the_ledger():
    """A cosine outside the ledger is a copy of the scorer: build it with
    similarity._cosine_sql (query block against a corpus or candidate
    relation) or _pair_cosine_sql (scored (va, vb, dot) pairs)."""
    actual = _grid_sites()
    new = {k: v for k, v in actual.items() if k not in COSINE_LEDGER}
    assert not new, f"cosine grid outside the shared scorers: {new}"
    stale = {k: v for k, v in COSINE_LEDGER.items() if k not in actual}
    assert not stale, f"ledger lists removed sites: {stale}"
    diff = {k: (COSINE_LEDGER[k], actual[k]) for k in actual if COSINE_LEDGER[k] != actual[k]}
    assert not diff, f"site count changed (expected, actual): {diff}"
