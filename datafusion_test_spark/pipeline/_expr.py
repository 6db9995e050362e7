"""Shared columnar expressions for the LLM-pipeline tier.

Everything here is built-in higher-order functions — no Python UDFs — so the
similarity/dedup operators run JVM-side inside whole-stage codegen.  The
DuckDB oracle twins fold in the same left-to-right DOUBLE order, making the
float results bit-identical across engines.

One form per vector expression: the Spark-side helpers (:func:`dot`,
:func:`norm2`, :func:`cosine`, :func:`l2`, :func:`rh_signature`) return
Spark SQL text over column names, and a call site parses it once with
``F.expr``/``selectExpr``.  Built from Column objects, the same tree cost one
py4j round trip per API call: 186 for a cosine and 807 for an 8-bit
signature, where one parse costs 3 (tests/test_expr_build.py).  The DuckDB
twins are the ``sql_*`` functions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .._util import sql_ascii_lower


def dot(a: str, b: str) -> str:
    """Σ a[i]·b[i], accumulated in double, left-to-right.

    Measured negative result (round 2): unrolling this into 64 explicit
    element_at multiply-adds (hoping for whole-stage codegen) is 2.6-10x
    SLOWER than the lambda fold at sf0.1 — per-element element_at pays
    repeated array header/bounds work and the 128-term expressions blow up
    plan compile time, while the fold walks the UnsafeArrayData once.  Keep
    the fold.
    """
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def norm2(a: str) -> str:
    """Σ a[i]², accumulated in double."""
    return (
        f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def cosine(a: str, b: str) -> str:
    """dot / (‖a‖·‖b‖).  A pairwise self-join divides :func:`dot` by
    per-row ``SQRT(norm2)`` columns instead: the same value, with each
    vector folded once per ROW rather than once per PAIR."""
    return f"({dot(a, b)} / (SQRT({norm2(a)}) * SQRT({norm2(b)})))"


def l2(a: str, b: str) -> str:
    """Σ (a[i] − b[i])², accumulated in double, left-to-right."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "POWER(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2)), "
        "0.0D, (acc, d) -> acc + d)"
    )


def lsh_bits(n_vectors: int, target_bucket: int = 128, lo: int = 8, hi: int = 24) -> int:
    """Signature width that scales with corpus size (VERDICT r1: a fixed
    8 bits = 256 buckets stops blocking once N ≫ 256·bucket): enough
    hyperplanes that the expected bucket population is ~target_bucket, i.e.
    ceil(log2(n / target_bucket)), clamped to [lo, hi].  At testdata scale
    (≤2000 vectors) this stays at the 8-bit floor — bucketing identical to
    round 1 — while 10⁹ vectors get 23 bits (~8M buckets).  The caller pays
    one count() to know n — count it on the BARE table scan (footer
    metadata only, with parquet aggregate pushdown), never on a derived
    lineage that would be recomputed for the count."""
    import math

    if n_vectors <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_vectors / target_bucket))))


def rh_signature(vec: str, bits: int, dim: int) -> str:
    """Random-hyperplane LSH signature (an int in [0, 2^bits)).

    Hyperplane j has ±1 components derived from xxhash64(j, dim-index) —
    deterministic, no stored model to ship; bit j = sign(v·h_j).  Shared by
    sim_ann_lsh (query-time bucket probe) and dedup_embed_lsh (pairwise
    bucket blocking), so the two operators see the same bucketing.  ``dim``
    must be the vector length: the fold zips against sequence(0, dim-1),
    and a mismatch null-pads it, sending every vector to bucket 0 (one
    quadratic bucket) with no error pointing at the cause.
    """
    return " + ".join(
        f"(CASE WHEN aggregate(zip_with({vec}, sequence(0, {dim - 1}), "
        f"(x, i) -> CAST(x AS DOUBLE) * "
        f"CAST(pmod(xxhash64({j}, i), 2) * 2 - 1 AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot` (index-based zip, double fold)."""
    return (
        f"list_aggregate(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )


def sql_norm2(a: str) -> str:
    return (
        f"list_aggregate(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_norm2(a)}) * sqrt({sql_norm2(b)})))"


def shingles_of_words(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column.  Callers must project the split() into a real column
    first — referencing `split(text)` inside the lambda would re-split the
    text once per element access (O(n·len) blowup observed at sf0.1)."""
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, i + k) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def md5_capped_sample(arr: Column, cap: int) -> Column:
    """Deterministic sample of ≤ ``cap`` elements from a string array: the
    ``cap`` smallest by ``md5(element)`` (full element appended as the
    tiebreak, so the key set is distinct and the selection is a pure
    function of the element SET — input order never matters).  Used to
    bound per-document shingle work in the near-dup index: MinHash over a
    bounded shingle sample is the standard long-document mitigation, and
    the md5 draw makes Spark and the DuckDB oracle twin
    (:func:`sql_md5_capped`) sample identically.  Both engines emit
    lowercase-hex md5 over UTF-8 bytes and compare strings bytewise, so
    the selected sets are bit-identical (pinned incl. unicode in
    tests/test_properties.py).  Lambdas reference only their own argument,
    so the expression is safe under any optimizer substitution (no
    per-element re-evaluation hazard — see _exploded_shingles in
    pipeline/dedup.py for the hazard this discipline avoids).

    PRECONDITION (r9 advisor): the array must contain no NULL elements.
    A NULL element yields a NULL sort key, and the engines disagree on
    where NULL keys sort (Spark array_sort: NULLs last; DuckDB
    list_sort: configurable default order) — the twins could then select
    DIFFERENT subsets.  Every current caller feeds concat_ws shingles,
    which are never NULL; a future caller with a nullable array must
    filter NULL elements identically on both engines first."""
    keyed = F.array_sort(F.transform(arr, lambda s: F.concat(F.md5(s), s)))
    return F.when(F.size(arr) <= cap, arr).otherwise(
        F.transform(F.slice(keyed, 1, cap), lambda k: F.substring(k, 33, 2147483647))
    )


def sql_md5_capped(arr: str, cap: int) -> str:
    """DuckDB twin of :func:`md5_capped_sample` (same key, same order,
    same slice; ``k[33:]`` strips the 32-char hex prefix).  Same no-NULL-
    element precondition as the Spark side (see md5_capped_sample)."""
    return (
        f"CASE WHEN len({arr}) <= {cap} THEN {arr} "
        f"ELSE list_transform(list_sort(list_transform({arr}, s -> md5(s) || s))"
        f"[1:{cap}], k -> k[33:]) END"
    )


def sql_indexed_unnest(text: str, n: int = 1, lower: bool = False) -> str:
    """Lateral-free token/n-gram explode for DuckDB oracles: an
    ``unnest((SELECT ...))`` expression yielding structs
    ``{'pos': <0-based>, 'w1': tok[i], ..., 'w<n>': tok[i+n-1]}``.

    The split is bound ONCE per row in a correlated scalar subquery — the
    round-8 sql_shingles discipline.  The lateral shape it replaces
    (``FROM cte, unnest(generate_series(1, len(w))) t(i)`` + ``w[i]``)
    re-evaluates the inlined ``string_split`` once per GENERATED row —
    O(words²·len) per document; measured 237.5 s → 0.3 s on the long
    corpus's bigram relation with identical output (round 9)."""
    src = sql_ascii_lower(text) if lower else text
    fields = ", ".join(f"'w{k + 1}': __w[i+{k}]" for k in range(n))
    return (
        f"unnest((SELECT CASE WHEN len(__w) >= {n} THEN "
        f"list_transform(generate_series(1, len(__w) - {n - 1}), "
        f"i -> {{'pos': i - 1, {fields}}}) ELSE [] END "
        f"FROM (SELECT string_split({src}, ' ') AS __w) __s))"
    )


def sql_shingles(text: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles`.

    The split is bound ONCE via a correlated scalar subquery.  The naive
    inline form re-evaluated `string_split(text)` inside the per-element
    lambda (no CSE across lambda captures), turning shingling O(words²):
    measured 79 s and tens of GB for ONE 24k-word document vs 0.03 s
    bound (long-document corpus, round 8).  The Spark twin never had the
    hazard — its call sites pass a pre-split column."""
    w = "__shw"
    parts = " || ' ' || ".join(f"{w}[i+{k}]" for k in range(n))
    return (
        f"(SELECT CASE WHEN len({w}) >= {n} THEN "
        f"list_distinct(list_transform(generate_series(1, len({w}) - {n - 1}), "
        f"i -> {parts})) ELSE [] END "
        f"FROM (SELECT string_split({text}, ' ') AS {w}) __shs)"
    )
