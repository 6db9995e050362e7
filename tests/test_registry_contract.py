"""Registry / bench contract pins.

The driver walks ``registry._PRIORITY`` with a ~50-entry budget per
round.  Two silent failure modes the import-time guard does NOT catch:

* a registry entry MISSING from ``_PRIORITY`` — ``_collect`` appends it
  at the very back, so a new operator never reaches the driver's budget
  and stays "never checked" forever (the exact disease the rotation
  discipline exists to prevent);
* a DUPLICATE name in ``_PRIORITY`` — dict construction collapses it, so
  the list length lies about the budget layout.

Also pins the oracle-coverage ratchet (every entry has a full SQL
oracle: 350/350 since round 4 — a new rows-only entry must be a
deliberate, documented decision, not an omission) and the bench
HEADLINE/LAYOUT name validity (a typo there silently drops the query
from the round's bench record).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_test_spark import registry


def test_priority_is_exactly_the_registry():
    q = registry.queries()
    pri = registry._PRIORITY
    assert len(pri) == len(set(pri)), "duplicate names in _PRIORITY"
    missing_from_priority = set(q) - set(pri)
    assert not missing_from_priority, (
        "registry entries absent from _PRIORITY would never reach the "
        f"driver's per-round budget: {sorted(missing_from_priority)}"
    )


def test_every_entry_has_a_full_sql_oracle():
    q, o = registry.queries(), registry.oracle_sql()
    rows_only = set(q) - set(o)
    assert not rows_only, (
        "entries without a DuckDB oracle get only the weak rows-only "
        f"check — add the oracle or document the exception: {sorted(rows_only)}"
    )


def test_bench_groups_name_real_registry_entries():
    import bench

    q = registry.queries()
    bad = [n for n in bench.HEADLINE + bench.LAYOUT if n not in q]
    assert not bad, f"bench.py names not in the registry: {bad}"
    dup = [n for n in set(bench.HEADLINE) if bench.HEADLINE.count(n) > 1]
    assert not dup, f"duplicate HEADLINE entries double-count the total: {dup}"


def test_rotate_priority_orders_greens_by_vintage():
    """tools/rotate_priority.py's output contract (VERDICT r9 item 2
    methodology): never-checked entries precede greens, and greens are
    ordered by the round of their latest driver row, oldest first — so
    pasting the tool's output always points the ~50-entry driver budget
    at the stalest evidence."""
    import glob
    import json
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "rotate_priority.py")],
        capture_output=True, text=True, cwd=root, check=True,
    ).stdout
    names = [
        line.strip().strip('",').strip('"')
        for line in out.splitlines()
        if line.strip().startswith('"')
    ]
    assert set(names) == set(registry.queries()), "tool must emit every entry"

    vintage: dict[str, int] = {}
    def rno(p):
        return int("".join(c for c in os.path.basename(p) if c.isdigit()) or 0)
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=rno):
        with open(p) as fh:
            for n in json.load(fh):
                vintage[n] = rno(p)
    # never-checked entries (no driver row) must come first
    checked_seen = False
    green_vintages = []
    for n in names:
        if n in vintage:
            checked_seen = True
            green_vintages.append(vintage[n])
        else:
            assert not checked_seen, f"never-checked {n} sorted after greens"
    assert green_vintages == sorted(green_vintages), (
        "green entries not in oldest-vintage-first order"
    )


def test_module_import_error_propagates(monkeypatch):
    """A module that cannot be imported must surface its own import error,
    not be skipped and reported later as a pile of missing priority
    names."""
    import pytest

    missing = "datafusion_test_spark.operators._no_such_module"
    monkeypatch.setattr(registry, "_MODULES", [*registry._MODULES, missing])
    with pytest.raises(ModuleNotFoundError, match="_no_such_module"):
        registry.queries()
