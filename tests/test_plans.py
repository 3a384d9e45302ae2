"""Physical-plan audits: the 100-TB design claims, asserted on explain().

The correctness harness proves WHAT the operators compute; these tests pin
HOW Catalyst executes them — the properties that decide whether a plan
survives a 100x scale-up (SURVEY §4.2): predicate/column pushdown reaching
the parquet scan, broadcast joins on small dims, partial aggregation, and
the absence of cartesian products in every candidate-generation path.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from stixtoneodb_spark.operators import dedup, relational, similarity

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    p = plan_of(relational.scan_project_filter(spark, SF))
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1].splitlines()[0]
    # column pruning: the scan reads exactly the projected columns
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema and "l_quantity" in read_schema


def test_small_dim_join_broadcasts(spark):
    p = plan_of(relational.join_inner_orders_customer(spark, SF))
    assert "BroadcastHashJoin" in p


def test_q1_partial_final_aggregation(spark):
    p = plan_of(relational.q1_pricing_summary(spark, SF))
    # partial (map-side) + final hash aggregate pair straddling the
    # exchange: the shuffle carries one row per group per mapper.  (The
    # pre-execution AQE plan carries no codegen-id tags, so codegen span
    # presence is not assertable here.)
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_no_cartesian_products_anywhere_hot(spark):
    """Every candidate-generation path must be a keyed join — a cartesian
    product in any of these is a 100-TB scale-killer."""
    for df in (
        dedup.dedup_minhash_lsh(spark, SF),
        similarity.ann_lsh_bucketed(spark, SF),
        relational.range_join_event_context(spark, SF),
    ):
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_topk_is_take_ordered(spark):
    p = plan_of(relational.q3_shipping_priority(spark, SF))
    assert "TakeOrderedAndProject" in p

