"""Oracle-twin ratchet over the package's SQL text (no Spark needed).

Six engine-portability rules in ``_util`` have a Spark half and an
oracle-side twin that returns the rule's DuckDB SQL: ``sql_finite``,
``sql_finite_vec``, ``sql_sane_ts_where``, ``sql_ascii_lower``,
``sql_half_up`` and ``sql_dsum`` (the read guards ``io.SQL_FINITE_EVENTS``
and ``io.SQL_FINITE_EMBEDDINGS`` are built from the first two).  The
parity tests compare each twin with its Spark half, so an oracle that
pastes a twin's expansion instead of calling it ships a copy those tests
never check.

This test walks every string constant of the package outside ``_util.py``,
including the literal parts of f-strings, with whitespace collapsed, and
fails if one holds a distinctive fragment of a twin's expansion.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "datafusion_test_spark"

# rule -> one fragment of its expansion that no other SQL text carries
_FRAGMENTS = {
    "sql_finite": "CASE WHEN isfinite(",
    "sql_finite_vec": "x IS NULL OR NOT isfinite(",
    "sql_sane_ts_where": "TIMESTAMP '1900-01-01'",
    "sql_ascii_lower": "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    "sql_half_up": "+ 0.5) AS DOUBLE) /",
    "sql_dsum": "AS DECIMAL(18,6))) AS DOUBLE)",
}

# (relative file, enclosing function, rule) -> why the site keeps the text
_ALLOWED = {
    ("streaming/batch_windows.py", "rollup_timeseries", "sql_dsum"):
        "spark.sql text: the Spark half of the rule, which keeps Spark's "
        "own double -> decimal cast",
}


def _sites() -> dict[tuple[str, str, str], int]:
    """(file, enclosing function, rule) -> number of string constants."""
    found: dict[tuple[str, str, str], int] = {}
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        if rel == "_util.py":
            continue

        def walk(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = re.sub(r"\s+", " ", node.value)
                for rule, frag in _FRAGMENTS.items():
                    if frag.lower() in text.lower():
                        key = (rel, fn, rule)
                        found[key] = found.get(key, 0) + 1
            for child in ast.iter_child_nodes(node):
                walk(child, fn)

        walk(ast.parse(py.read_text()), "<module>")
    return found


def test_no_pasted_twin_expansions():
    offenders = {k: n for k, n in _sites().items() if k not in _ALLOWED}
    assert not offenders, (
        "pasted expansion of an _util oracle twin — call the twin (or "
        f"io.SQL_FINITE_EVENTS / io.SQL_FINITE_EMBEDDINGS): {offenders}"
    )


def test_allowlist_not_stale():
    """An allowlisted site that no longer holds its fragment must go."""
    found = _sites()
    stale = [k for k in _ALLOWED if k not in found]
    assert not stale, f"remove from test_twin_audit._ALLOWED: {stale}"
