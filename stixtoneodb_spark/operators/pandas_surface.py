"""The remaining Pandas-UDF API tiers as first-class oracled queries.

The engine already exercises scalar pandas UDFs (plans/extract.py mention
detection), grouped-map ``applyInPandas`` / ``mapInPandas`` (triples,
media decode), and the Spark-4 Python UDTF (functions/textfns.py).  Two API
tiers remained untested at the oracle surface and land here:

- GROUPED_AGG pandas UDFs (the vectorized UDAF surface): per-group
  order-statistic aggregates — LOWER median and lower-median absolute
  deviation — the canonical "custom aggregate that needs the whole group
  as a vector" case, and one neither engine provides built-in.
- cogrouped ``applyInPandas`` (two grouped relations aligned per key in
  one pandas function): per-user click/purchase conversion alignment —
  the canonical "merge two sorted per-key streams imperatively" case.

Reference parity: StixToNeoDB has no custom-aggregate surface (its
counters are driver-side ints, /root/reference/README.md:83-84); these
tiers exist for the transcript-KG target where per-entity vector logic
(robust stats, alignment) can't be expressed as JVM built-ins.

Oracle-parity notes: the LOWER median (order statistic at index
``(n-1)//2`` after sort) is pure SELECTION — no accumulation, no
interpolation — so the returned double is bit-identical across engines
and partition orders.  (The interpolated median was rejected exactly
because numpy computes ``(a+b)/2`` while DuckDB's quantile_cont computes
``a + 0.5*(b-a)`` — 1-ulp drift that makes a value-hash flaky.)  The
deviations ``|v - med|`` subtract identical doubles on both engines, so
the second-level order statistic is equally exact.  Rounding to 6
decimals stays on both sides as defense in depth.  The cogroup query
emits integer counts only — float-format-proof.

Scale shape: both are per-key Arrow-batched pandas — the shuffle carries
only the grouping key's rows, groups are independent (embarrassingly
parallel), and skewed keys fall under the same AQE/salting discipline as
any groupBy (tests/test_skew_aqe.py).  GROUPED_AGG buffers ONE GROUP's
values per call (not a partition), so memory is bounded by the largest
group — the per-entity cardinality cap the pipeline already enforces;
the cogroup function touches one user's clicks+purchases at a time and
its searchsorted alignment is O((c+p) log c) per key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stixtoneodb_spark.sources.tables import load_table


def _lower_median(a: np.ndarray) -> float:
    k = (len(a) - 1) // 2
    return float(np.partition(a, k)[k])


# return type passed as a DataType INSTANCE, not a DDL string: the string
# form is parsed through the active SparkContext at decoration time, which
# would make importing this module require a live session
@F.pandas_udf(T.DoubleType())
def _lower_median_udaf(v: pd.Series) -> float:
    return _lower_median(v.to_numpy(dtype=np.float64))


@F.pandas_udf(T.DoubleType())
def _lower_mad_udaf(v: pd.Series) -> float:
    a = v.to_numpy(dtype=np.float64)
    return _lower_median(np.abs(a - _lower_median(a)))


# Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates in one
# agg() ([INVALID_PANDAS_UDF_PLACEMENT]), so the row count rides the same
# vectorized surface
@F.pandas_udf(T.LongType())
def _count_udaf(v: pd.Series) -> int:
    return len(v)


def agg_event_value_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust spread stats via GROUPED_AGG pandas UDFs:
    lower median and lower-median absolute deviation of ``value``.

    Spark has no exact-median JVM aggregate at this shape
    (percentile_approx is a sketch; ``percentile`` materializes a sorted
    array per group) and no MAD at all — the vectorized-UDAF tier is the
    idiomatic home: one Arrow batch per group, numpy selection inside.
    """
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        _count_udaf("value").alias("n_events"),
        F.round(_lower_median_udaf("value"), 6).alias("med_value"),
        F.round(_lower_mad_udaf("value"), 6).alias("mad_value"),
    )


_COGROUP_SCHEMA = (
    "user_id long, n_clicks long, n_purchases long, n_converted long"
)


def _align_conversion(key: tuple, clicks: pd.DataFrame, purchases: pd.DataFrame) -> pd.DataFrame:
    """Per-user alignment: a purchase 'converts' when the user has at
    least one click at-or-before its timestamp.  Vectorized: sort the
    click times once, searchsorted every purchase against them."""
    c_ts = np.sort(clicks["ts"].to_numpy(dtype="datetime64[ns]"))
    p_ts = purchases["p_ts"].to_numpy(dtype="datetime64[ns]")
    n_conv = int((np.searchsorted(c_ts, p_ts, side="right") > 0).sum())
    return pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_clicks": [len(c_ts)],
            "n_purchases": [len(p_ts)],
            "n_converted": [n_conv],
        }
    )


def join_cogroup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion per user via cogrouped applyInPandas.

    Both relations are grouped on user_id and handed to one pandas
    function per key — the API for imperative per-key merges of two
    streams (the KG analog: align a conversation's tool calls with its
    extracted triples).  Keys present in only one relation still fire
    with the other side empty, which the oracle's distinct-user universe
    mirrors.
    """
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    # The right side's timestamp is RENAMED before the cogroup: when both
    # sides carry identically-named non-key columns, Spark 4.1's column
    # pruning under an output-free plan (e.g. count()) deduplicates the
    # colliding attribute and hands the right-side pandas frame WITHOUT
    # its ts column (KeyError in the UDF) — verified by driving the plan
    # both ways; distinct names keep both inputs intact under any pruning.
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    return (
        clicks.groupby("user_id")
        .cogroup(purchases.groupby("user_id"))
        .applyInPandas(_align_conversion, _COGROUP_SCHEMA)
    )


# Heavy-hitters protocol: Misra-Gries sketch capacity and the verified
# top-J.  Shared with the oracle SQL via registry interpolation.
MG_CAPACITY = 64
HH_TOP_J = 10


def _mg_fold(counters: dict, items, weights, capacity: int) -> None:
    """Weighted Misra-Gries fold into ``counters`` (mutated in place).

    Standard mergeable form (Agarwal et al. 2012, "Mergeable summaries"):
    add weight; when the map exceeds ``capacity``, subtract the
    (capacity+1)-th largest weight from everything and drop non-positive
    entries.  Guarantee: any item with true weight > n/(capacity+1)
    survives, and stored weights under-count by at most n/(capacity+1).
    """
    for it, w in zip(items, weights):
        counters[it] = counters.get(it, 0) + int(w)
        if len(counters) > capacity:
            # decrement by the smallest stored weight (the classic MG
            # step generalized to weighted arrivals)
            dec = min(counters.values())
            for k in list(counters):
                counters[k] -= dec
                if counters[k] <= 0:
                    del counters[k]


def mg_sketch(tok: DataFrame, capacity: int) -> DataFrame:
    """Distributed Misra-Gries heavy-hitters sketch over a single
    ``token`` column: per-partition sketches via ``mapInPandas`` (state
    folds across the partition's Arrow batches), then ONE weighted-merge
    task over the bounded (n_partitions x capacity)-row summary — the
    mergeable-sketch tree-reduce shape.  Output: (token, w) with w the
    MG under-estimate.

    Scale shape: the corpus is touched once, map-side only — the only
    shuffle carries at most ``capacity`` rows per partition; the merge
    task's input is summary-cardinality.  At 1000 executors the merge is
    one task over 1000*capacity rows — microseconds.  (Deterministic
    only in the no-eviction regime |vocab| <= capacity, which the
    registry query is sized for; the eviction-regime GUARANTEE — every
    token with freq > n/(capacity+1) survives any partitioning — is
    what the planted property test pins.)
    """

    def part_sketch(batches):
        counters: dict = {}
        for pdf in batches:
            _mg_fold(counters, pdf["token"], np.ones(len(pdf), dtype=np.int64),
                     capacity)
        yield pd.DataFrame(
            {"token": list(counters), "w": list(counters.values())}
        )

    partial = tok.mapInPandas(part_sketch, schema="token string, w long")
    return mg_merge_summaries(partial, capacity)


def mg_merge_summaries(weighted: DataFrame, capacity: int) -> DataFrame:
    """Weighted MG merge of already-summarized (token, w) frames in ONE
    bounded task — the mergeable-summaries reduce step of the batch
    sketch above."""

    def merge_sketch(batches):
        counters: dict = {}
        for pdf in batches:
            _mg_fold(counters, pdf["token"], pdf["w"], capacity)
        yield pd.DataFrame(
            {"token": list(counters), "w": list(counters.values())}
        )

    return weighted.repartition(1).mapInPandas(
        merge_sketch, schema="token string, w long"
    )


def agg_heavy_hitters_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items monitoring: the exact top-``HH_TOP_J`` tokens with
    their frequencies, each flagged with whether the distributed
    Misra-Gries sketch retained it.  The registry sizes ``MG_CAPACITY``
    above the corpus vocabulary, so the sketch is exact (no eviction
    ever fires) and ``retained_by_sketch`` is deterministically TRUE —
    the oracle checks that equality; the eviction-regime guarantee is
    pinned by planted property tests (vocab > capacity, multiple
    partitionings).
    """
    from stixtoneodb_spark.operators.text import _ws_tokens  # local: no cycle

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(_ws_tokens(F.col("text"))).alias("token")).where(
        F.length("token") > 0
    )
    exact = tok.groupBy("token").agg(F.count("*").alias("freq"))
    topj = exact.orderBy(F.desc("freq"), "token").limit(HH_TOP_J)
    sk = mg_sketch(tok, MG_CAPACITY).select(
        "token", F.lit(True).alias("_retained")
    )
    return topj.join(sk, "token", "left").select(
        "token",
        "freq",
        F.coalesce(F.col("_retained"), F.lit(False)).alias("retained_by_sketch"),
    )
