"""Central registry: aggregates every declared operator (SURVEY §2) into the
``queries()`` / ``oracle_sql()`` dicts that ``__spark_entry__.py`` exports.

Each operator module exposes ``QUERIES: dict[name, fn(spark, sf_dir) -> DF]``
and ``ORACLE: dict[name, sql]`` (omit a name from ORACLE for rows-only ops).
A module that fails to import raises its own ``ImportError`` (or whatever
it raised) out of ``queries()``/``oracle_sql()``: the surface is whole or
absent, never silently short of a family.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULES = [
    "datafusion_test_spark.operators.relational",
    "datafusion_test_spark.operators.filters",
    "datafusion_test_spark.operators.aggregates",
    "datafusion_test_spark.operators.joins",
    "datafusion_test_spark.operators.windows",
    "datafusion_test_spark.operators.sorting",
    "datafusion_test_spark.operators.setops",
    "datafusion_test_spark.operators.subqueries",
    "datafusion_test_spark.operators.composite",
    "datafusion_test_spark.operators.composite2",
    "datafusion_test_spark.operators.udf",
    "datafusion_test_spark.operators.maintenance",
    "datafusion_test_spark.operators.analytics",
    "datafusion_test_spark.functions.scalar",
    "datafusion_test_spark.sources.generate",
    "datafusion_test_spark.sources.connectors",
    "datafusion_test_spark.streaming.batch_windows",
    "datafusion_test_spark.streaming.sinks",
    "datafusion_test_spark.pipeline.dedup",
    "datafusion_test_spark.pipeline.similarity",
    "datafusion_test_spark.pipeline.text",
    "datafusion_test_spark.pipeline.prep",
    "datafusion_test_spark.pipeline.curation",
    "datafusion_test_spark.pipeline.quality",
    "datafusion_test_spark.pipeline.multimodal",
    "datafusion_test_spark.pipeline.evals",
]

# The root of the repo, beside this package: it holds the oracle-check
# evidence, one CORRECTNESS_r<N>.json of name -> row per round.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_rank(evidence_dir: str) -> Callable[[str], tuple[int, int]]:
    """Sort key of the oracle-check order, derived from the evidence.

    Registry iteration order is the order in which a correctness round
    checks each entry against its oracle, and a round checks only about
    50 entries, so it can stop mid-list.  So the key sends a name to the front by what its
    LATEST row in ``evidence_dir`` says, reading every
    ``CORRECTNESS_r<N>.json`` in numeric round order:

    1. red -- the latest row has a false check or an ``err``;
    2. never checked -- no row at all (every name, without evidence);
    3. green -- by the round of the latest row, oldest first, so each round
       refreshes the stalest evidence.

    ``sorted`` is stable, so ties keep registry declaration order.  Rows
    for names the registry no longer declares are never looked up.  A
    malformed file raises (bad JSON, a non-object, a row missing a check).
    """
    rounds = []
    for path in glob.glob(os.path.join(evidence_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            raise ValueError(f"evidence file without a round number: {path}")
        rounds.append((int(m[1]), path))
    rank: dict[str, tuple[int, int]] = {}
    for rnd, path in sorted(rounds):
        with open(path) as fh:
            for name, row in json.load(fh).items():
                green = not row["err"] and all(
                    row[k] for k in ("rows_match", "schema_match", "hash_match")
                )
                rank[name] = (2, rnd) if green else (0, 0)
    return lambda name: rank.get(name, (1, 0))


def _collect() -> tuple[dict, dict]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        mod_q = getattr(mod, "QUERIES", {})
        dup = set(mod_q) & set(queries)
        if dup:
            # a name declared twice would silently shadow the earlier
            # operator (and its oracle could pair with the WRONG query).
            # RuntimeError, not assert: python -O must not strip the guard.
            raise RuntimeError(
                f"duplicate registry names from {modname}: {sorted(dup)}"
            )
        queries.update(mod_q)
        oracles.update(getattr(mod, "ORACLE", {}))
    return queries, oracles


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _collect()[0]
    return {n: q[n] for n in sorted(q, key=check_rank(_ROOT))}


def oracle_sql() -> dict[str, str]:
    q, o = _collect()
    return {k: v for k, v in o.items() if k in q}
