"""Build cost of the Spark-side vector expressions (pipeline._expr module
docstring): each is SQL text that one ``F.expr`` parses, so building it
costs a few py4j round trips however long the fold is."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_test_spark.pipeline._expr import cosine, rh_signature
from perfbench.trace import Tracer


def _round_trips(spark, fn):
    """(py4j round trips of ``fn()``, its result), counted by perfbench's
    tracer: the object deletes Python's garbage collector sends are left
    out."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    tracer = Tracer(spark, enabled=True)
    try:
        out = fn()
    finally:
        client.send_command = send
    return tracer.py4j_calls, out


@pytest.mark.parametrize(
    "text",
    [lambda: cosine("a", "b"), lambda: rh_signature("embedding", 8, 64)],
    ids=["cosine", "rh_signature_8_bits"],
)
def test_vector_expression_builds_in_one_parse(spark, text):
    n_text, sql = _round_trips(spark, text)
    assert n_text <= 5, f"{n_text} py4j round trips before the parse"
    n_parse, _ = _round_trips(spark, lambda: F.expr(sql))
    assert n_text + n_parse <= 5, f"{n_text + n_parse} py4j round trips"
