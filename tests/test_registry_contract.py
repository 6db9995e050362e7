"""Registry / bench contract pins.

A correctness round checks registry entries against their oracles in
``registry.queries()`` order, about 50 entries per round.  That
order is derived at load time from the ``CORRECTNESS_r*.json`` evidence
(``registry.check_rank``): reds first, then never-checked entries, then
greens by the round of their latest row, oldest first.  The pins here:

* the derived order is a permutation of the registry, whatever the
  evidence, so no entry can fall out of the check's reach;
* the policy itself, on a fake evidence directory that holds a red, a
  never-checked entry and greens of three vintages;
* on the repo's own evidence, the first 50 entries never re-check the
  newest round while an older one is waiting (the order a hand-pasted
  list let go stale).

Also pins the oracle-coverage ratchet (every entry has a full SQL
oracle: 350/350 since round 4 — a new rows-only entry must be a
deliberate, documented decision, not an omission) and the bench
HEADLINE/LAYOUT name validity (a typo there silently drops the query
from the round's bench record).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_test_spark import registry


def _row(ok: bool = True, err: str | None = None) -> dict:
    return {
        "rows_match": True, "schema_match": True, "hash_match": ok,
        "spark_rows": 1, "oracle_rows": 1, "err": err,
    }


def _evidence(tmp_path, rounds: dict[int, dict[str, dict]]) -> str:
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))
    return str(tmp_path)


def test_check_order_is_exactly_the_registry(tmp_path):
    """With the repo's evidence and with none, queries() holds every entry
    once; with none, every entry is never-checked, so the order is the
    registry's declaration order."""
    declared = list(registry._collect()[0])
    assert sorted(registry.queries()) == sorted(declared)
    assert sorted(declared, key=registry.check_rank(str(tmp_path))) == declared


def test_check_rank_orders_red_unchecked_then_greens_by_vintage(tmp_path):
    """The policy on a fake evidence directory: the red leads, the
    never-checked entry follows, greens sort by the round of their latest
    row oldest first, and ties keep declaration order.  Rounds are read in
    numeric order (r10 after r9), a later row overwrites an earlier one,
    and a row for an undeclared name is ignored."""
    ev = _evidence(tmp_path, {
        9: {"g9": _row(), "g10a": _row(), "red": _row(), "gone": _row()},
        10: {"g10a": _row(), "red": _row(ok=False), "g10b": _row()},
        2: {"g2": _row(), "red": _row(err="boom"), "g10b": _row()},
    })
    declared = ["g10a", "g9", "g2", "fresh", "g10b", "red"]
    assert sorted(declared, key=registry.check_rank(ev)) == [
        "red", "fresh", "g2", "g9", "g10a", "g10b",
    ]


def test_check_rank_counts_an_err_as_red(tmp_path):
    ev = _evidence(tmp_path, {3: {"a": _row(), "b": _row(err="no_oracle")}})
    assert sorted(["a", "b"], key=registry.check_rank(ev)) == ["b", "a"]


def test_malformed_evidence_raises(tmp_path):
    import pytest

    (tmp_path / "CORRECTNESS_r01.json").write_text('{"a": {"rows_match": true}}')
    with pytest.raises(KeyError):
        registry.check_rank(str(tmp_path))
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    with pytest.raises(json.JSONDecodeError):
        registry.check_rank(str(tmp_path))
    (tmp_path / "CORRECTNESS_r01.json").unlink()
    (tmp_path / "CORRECTNESS_rX.json").write_text("{}")
    with pytest.raises(ValueError, match="round number"):
        registry.check_rank(str(tmp_path))


def test_budget_head_refreshes_the_stalest_evidence():
    """On the repo's evidence: while any entry's latest row is older than
    the newest round, none of the first 50 entries of queries() (what one
    correctness round checks) may have its latest row from the newest
    round."""
    names = list(registry.queries())
    ranks = list(map(registry.check_rank(registry._ROOT), names))
    green_rounds = [rnd for cls, rnd in ranks if cls == 2]
    if not green_rounds or min(green_rounds) == max(green_rounds):
        return
    newest = max(green_rounds)
    fresh = [n for n, r in zip(names[:50], ranks) if r == (2, newest)]
    assert not fresh, f"first 50 entries re-check round-{newest} rows: {fresh}"


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


def test_module_import_error_propagates(monkeypatch):
    """A module that cannot be imported must surface its own import error,
    not be skipped and leave the surface silently short of a family."""
    import pytest

    missing = "datafusion_test_spark.operators._no_such_module"
    monkeypatch.setattr(registry, "_MODULES", [*registry._MODULES, missing])
    with pytest.raises(ModuleNotFoundError, match="_no_such_module"):
        registry.queries()
