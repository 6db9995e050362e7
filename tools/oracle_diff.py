"""Compare every registry oracle's SQL with the one at another git revision.

    python tools/oracle_diff.py <rev>

Exports ``<rev>`` with ``git archive`` into a temporary directory, dumps
``registry.oracle_sql()`` of that tree and of the working tree in
subprocesses (no JVM starts), and compares the two texts per entry: first
byte for byte, then by DuckDB's parse tree (``json_serialize_sql`` with
every ``query_location`` removed), so whitespace and redundant parentheses
do not count.  Prints the number of byte-identical, parse-identical and
differing entries and the names that differ; exits 1 on any difference.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
_DUMP = (
    "import json, sys; sys.path.insert(0, '.'); "
    "from datafusion_test_spark.registry import oracle_sql; "
    "print(json.dumps(oracle_sql()))"
)


def _dump(tree: Path) -> dict[str, str]:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP], cwd=tree, check=True,
        capture_output=True, text=True,
    )
    return json.loads(out.stdout)


def _tree(con, sql: str | None):
    """DuckDB's parse tree of sql without source positions, or None if
    there is no sql or it does not parse."""

    def strip(node):
        if isinstance(node, dict):
            return {k: strip(v) for k, v in node.items() if k != "query_location"}
        if isinstance(node, list):
            return [strip(v) for v in node]
        return node

    if sql is None:
        return None
    text = con.execute("SELECT json_serialize_sql($1::VARCHAR)", [sql]).fetchone()[0]
    tree = json.loads(text)
    return None if tree.get("error") else strip(tree)


def main(rev: str) -> int:
    with tempfile.TemporaryDirectory(prefix="oracle_diff_") as tmp:
        archive = subprocess.run(
            ["git", "archive", rev], cwd=ROOT, check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        old = _dump(Path(tmp))
    new = _dump(ROOT)
    con = duckdb.connect()
    names = sorted(old.keys() | new.keys())
    same_bytes, same_tree, differ = 0, 0, []
    for name in names:
        a, b = old.get(name), new.get(name)
        if a == b:
            same_bytes += 1
            continue
        ta, tb = _tree(con, a), _tree(con, b)
        if ta is not None and ta == tb:
            same_tree += 1
        else:
            differ.append(name + ("" if tb else " (missing or does not parse)"))
    print(f"{same_bytes} byte-identical, {same_tree} parse-identical, "
          f"{len(differ)} differ (of {len(names)})")
    for name in differ:
        print("  differs:", name)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
