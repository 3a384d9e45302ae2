"""Relational operator queries over the driver tables (SURVEY §2 Part B).

Each function takes (spark, sf_dir) and returns a DataFrame; the matching
ANSI-SQL oracle lives in ``registry.py``.  Conventions for oracle parity:

- every computed column is explicitly aliased, identically in both engines;
- floating aggregates are computed as EXACT decimal sums first, then
  round-cast to double — bit-identical across engines regardless of
  partial-aggregation order;
- every query's output is deterministic as a multiset (the driver's compare
  is order-insensitive).

Scale notes are in each docstring: which side broadcasts, where the
shuffle lands, what AQE handles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stixtoneodb_spark.sources.tables import load_table


def _dec(col: str) -> Column:
    return F.col(col).cast("decimal(18,2)")


# -- scans / projection / filter -------------------------------------------

def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + tight projection; predicate and column pruning reach the
    parquet scan (PushedFilters in explain — the reference has no planner at
    all, Catalyst gives us this for free, SURVEY §4.2)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial+final hash aggregation.
    Map-side combine makes the shuffle carry one row per (flag, status)
    per partition — constant regardless of input scale."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


# -- joins ------------------------------------------------------------------

def join_inner_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join (the reference's ref-resolution A10 analog).
    customer is the small dim → broadcast hash join, no shuffle of orders."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("revenue"),
        )
    )


def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (the optional
    created_by_ref attach analog, SURVEY §2 Part B)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: 'endpoint exists' check — exactly the reference's
    resolvable-ref test (A10)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: the dangling-ref skip (A11, README.md:83-85) as a
    standalone relational op — rows whose key resolves to nothing."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k: broadcast the filtered dims, shuffle only
    lineitem once; TakeOrderedAndProject caps the result."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def join_salted_skew_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join: salt the fact side N ways, replicate the dim side
    with explode(sequence(...)), join on (key, salt) — the north-rule hot
    entity discipline.  Result is identical to the plain join (oracle
    proves it)."""
    n_salt = 8
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    salted_o = o.withColumn("salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt)).cast("int"))
    replicated_c = c.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    return (
        salted_o.join(replicated_c, (salted_o.o_custkey == replicated_c.c_custkey)
                      & (salted_o.salt == replicated_c.salt))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("revenue"),
        )
    )


# -- aggregation ------------------------------------------------------------

def agg_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's logged metric — nodes per label (changes.md:39) —
    over the events stream table."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
    )


def agg_rollup_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy: per-nation, per-region
    subtotals and grand total in one pass (partial agg + grouping sets)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("total_acctbal"),
    )


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select("event_type", "user_id").distinct()


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type — the
    monitoring-tier aggregate for the 10^12-turn variant (SURVEY §2 Part B
    names approx_count_distinct): the sketch shuffles O(registers) per
    group instead of O(distinct keys), the difference between a metrics
    query and a full shuffle at corpus scale.

    Oracle contract: the estimate itself is engine-specific, so the query
    emits the EXACT count plus a boolean asserting the estimate landed
    within ±5% of it (rsd=0.02 → well inside); the oracle predicts
    (exact, TRUE).  HLL++ is deterministic for fixed input, so the check
    is stable.
    """
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


# -- windows ----------------------------------------------------------------

def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice: ranking window — the
    latest-version-wins dedup primitive (A15) generalized."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user previous-event delta: lag window — the prev-turn context
    primitive of S1 (SURVEY §2 Part B windows)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(
            (F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0))).cast("double"), 2
        ).alias("value_delta"),
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum(_dec("value")).over(w), 2).cast("double").alias("running_value"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative sum —
    the batch mirror of streaming session windows (SURVEY §2 streaming)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sessioned = e.withColumn("session_seq", F.sum(new_session).over(wrun))
    return sessioned.groupBy("user_id").agg(
        F.max("session_seq").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# -- sorts / top-k / set ops ------------------------------------------------

def topk_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst plans TakeOrderedAndProject — per-partition
    heap + driver merge, no global sort shuffle."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(10)
        .select("c_custkey", "c_name", "c_acctbal")
    )


def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: nations that have customers but no suppliers."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return c.select(F.col("c_nationkey").alias("nationkey")).distinct().exceptAll(
        s.select(F.col("s_nationkey").alias("nationkey")).distinct()
    )


def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection: users who both purchased and erred."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .intersect(e.where(F.col("event_type") == "error").select("user_id").distinct())
    )


# -- scalar function families ----------------------------------------------

def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family over documents: length/upper/substr/split-count —
    all JVM-side built-ins (the hot path stays in codegen)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("text_len"),
        F.upper(F.substring("text", 1, 10)).alias("prefix_upper"),
        F.size(F.split("text", " ")).alias("n_tokens_ws"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
    )


def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family over orders: trunc/extract → monthly rollup."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_month", F.date_trunc("month", "o_orderdate"))
        .groupBy("order_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("revenue"),
        )
    )


def scalar_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression family: CASE WHEN bucketing."""
    c = load_table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return c.groupBy(bucket.alias("balance_bucket")).agg(
        F.count("*").alias("n_customers")
    )


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: extract a field from the raw props JSON column (the
    reference's whole input is JSON; A5)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


def range_join_event_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join — the turn-context join of S1 (SURVEY §2 Part B
    "theta/range joins") in its SCALE-CORRECT form: per event, the count
    of same-user events within ±5 minutes.

    A naive ``ON a.user = b.user`` join followed by a time filter
    shuffles the full per-user cross product (quadratic on hot users).
    Here both sides are bucketized into 5-minute epoch bins; the probe
    side explodes each row to its bin and the two adjacent bins, the
    join is pure equi on (user_id, bin) — Catalyst picks a plain
    shuffled hash join — and the exact |Δt| ≤ 5 min predicate then runs
    at candidate cardinality (bounded: each row pairs only with rows in
    ±1 bin).  A (row, neighbor) pair meets exactly once because the
    build side keeps its single true bin.  Timestamps compare as exact
    integer microseconds (``unix_micros`` / DuckDB ``epoch_us``) so the
    oracle has no boundary ambiguity.  Every event pairs with itself
    (Δt = 0), so neighbors = count - 1 and zero-neighbor events emit
    naturally.
    """
    bin_us = 300 * 1_000_000
    e = load_table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ in the parquet; cast to TIMESTAMP for unix_micros
    # — the (fixed) session-zone offset cancels in every Δt
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    probe = e.select(
        "user_id",
        F.col("event_id").alias("eid_a"),
        us.alias("us_a"),
        F.explode(
            F.array(*[(F.floor(us / bin_us) + d).cast("long") for d in (-1, 0, 1)])
        ).alias("bin"),
    )
    build = e.select(
        "user_id",
        us.alias("us_b"),
        F.floor(us / bin_us).cast("long").alias("bin"),
    )
    pairs = probe.join(build, ["user_id", "bin"]).where(
        F.abs(F.col("us_a") - F.col("us_b")) <= bin_us
    )
    return pairs.groupBy("eid_a").agg(
        (F.count("*") - F.lit(1)).alias("n_neighbors_5min")
    ).select(F.col("eid_a").alias("event_id"), "n_neighbors_5min")


def agg_cube_type_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, user bucket): all four grouping-set combos in
    one pass — same partial-agg machinery as rollup, denser lattice."""
    e = load_table(spark, sf_dir, "events")
    bucketed = e.withColumn("user_bucket", F.pmod(F.col("user_id"), F.lit(4)).cast("int"))
    return bucketed.cube("event_type", "user_bucket").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
    )


def agg_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per event type (sort-based within group).  The
    approximate sketch tier is approx_distinct_users; this is the exact
    tier — at 100 TB swap in percentile_approx (t-digest, mergeable,
    one pass) and keep this as the small-partition oracle."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
    )


# -- temporal / reshaping tier -----------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def join_asof_prior_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for every purchase, the most recent click by the same
    user at-or-before the purchase timestamp (the canonical point-in-time
    feature-lookup shape: 'state of X as the model saw it at event time').

    Spark has no ASOF JOIN operator, and the naive theta join
    (a.ts >= b.ts) is quadratic per user.  The scalable form is the
    UNION + WINDOW encoding: tag both streams, sort once per user on
    (ts, side) with the right side ordered FIRST at equal ts (at-or-before
    semantics), and carry the last non-null right row forward with
    last(ignorenulls) over an unbounded-preceding running frame.  One
    shuffle on user_id, no self-join, linear in events per user — this is
    the 10^12-row as-of shape (same trick sessionize_events uses for gaps).

    Determinism: multiple clicks can share (user_id, ts), so the right
    stream is first collapsed to one row per (user_id, ts) keeping
    max(event_id) — both engines agree on the collapse, making the carried
    row unique.  Reference parity: StixToNeoDB orders observables by
    timestamp when linking (SURVEY §2 A8); this is that ordering as a
    first-class temporal join.
    """
    e = load_table(spark, sf_dir, "events")
    left = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    # No pre-collapse shuffle: equal-ts clicks resolve to max(event_id) by
    # riding the window sort itself (right_order) — last() over rows sorted
    # (ts, side, event_id asc) carries exactly the row the oracle's
    # MAX(event_id)-per-(user, ts) collapse picks, one full shuffle cheaper.
    right = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_id")
    )
    joined = asof_backward_join(
        left, right, key="user_id", ts="ts", right_payload=("c_id",),
        right_order=("c_id",),
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("asof_c_id").alias("asof_click_id"),
        F.col("asof_ts").alias("asof_click_ts"),
    )


def asof_backward_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    ts: str,
    right_payload: tuple[str, ...],
    right_order: tuple[str, ...] = (),
) -> DataFrame:
    """Generic backward AS-OF join core (union + window encoding).

    For every left row, attaches the right row with the greatest ``ts``
    at-or-before the left row's ``ts`` within the same ``key`` — carried
    payload columns come back as ``asof_<col>`` plus ``asof_ts``.  The
    right side must be unique per (key, ts, *right_order): either collapse
    it first, or pass ``right_order`` payload columns whose ascending sort
    picks the winner at equal ts (the LAST row in that order is carried —
    e.g. ``right_order=("event_id",)`` keeps max event_id with no
    pre-collapse shuffle).  Left rows with no prior right row carry nulls.

    One shuffle on ``key``, one sort per partition, no self-join — linear
    in rows per key, the 10^12-row point-in-time lookup shape.  At equal
    timestamps the right row sorts FIRST (side 0 < 1): at-or-BEFORE
    semantics, matching the SQL oracle's ``c.ts <= p.ts``.
    """
    lcols = [c for c in left.columns if c not in (key, ts)]
    l_tagged = left.select(
        key,
        ts,
        *lcols,
        F.lit(None).cast(right.schema[ts].dataType).alias("_r_ts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
            for c in right_payload
        ],
        F.lit(1).alias("_side"),
    )
    r_tagged = right.select(
        key,
        ts,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.col(ts).alias("_r_ts"),
        *[F.col(c).alias(f"_r_{c}") for c in right_payload],
        F.lit(0).alias("_side"),
    )
    u = l_tagged.unionByName(r_tagged)
    # nulls-first asc ordering on the _r_* tiebreaks keeps left rows (all
    # null there) sorted before right rows only WITHIN equal (ts, _side) —
    # and _side already separates the sides, so left ordering is unaffected
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "_side", *[F.col(f"_r_{c}").asc() for c in right_order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        key,
        ts,
        *lcols,
        "_side",
        F.last("_r_ts", ignorenulls=True).over(w).alias("asof_ts"),
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_payload
        ],
    )
    return carried.where(F.col("_side") == 1).drop("_side")


def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event-type count matrix (long -> wide reshaping, the
    feature-matrix export shape).  The pivot value list is the FIXED
    EVENT_TYPES tuple — passing explicit values keeps the plan a single
    pass (Spark otherwise runs an extra distinct-values job) and freezes
    the output schema, which is what a 100-TB export needs anyway.
    Missing cells coalesce to 0 so the wide matrix is dense."""
    e = load_table(spark, sf_dir, "events")
    wide = e.groupBy("user_id").pivot("event_type", list(EVENT_TYPES)).count()
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


def agg_percentile_approx_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna, mergeable one-pass sketch) with
    an ORACLE-CHECKABLE contract, mirroring approx_distinct_users: the
    sketch value itself is engine-specific, so the query emits the EXACT
    discrete rank bounds at p +/- eps (eps = 1/accuracy, the GK guarantee)
    and a boolean asserting the sketch landed inside them; the oracle
    computes the same exact bounds and predicts TRUE.

    This is the scale tier agg_value_quantiles' docstring promises: at
    100 TB the exact sort-based percentile is replaced by this sketch
    (O(accuracy) state per group, partial-aggregable), and the contract
    column is how its error stays monitored."""
    accuracy = 1000
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(accuracy)).alias("p50_approx"),
        # discrete (type-preserving) exact quantiles at the rank bounds:
        # element_at over the sorted multiset, identical in both engines.
        # The exact side is the VERIFICATION harness (same cost tier as
        # agg_value_quantiles); production emits only the sketch column.
        F.sort_array(F.collect_list("value")).alias("vals"),
    )
    n = F.size("vals")
    # element_at is 1-based; rank floor/ceil per the GK rank-error bound
    # (eps = 1/accuracy).  INTEGER arithmetic only: floor(n*0.499) in
    # float64 and DuckDB's DECIMAL literal disagree at exact multiples, so
    # both engines compute (n*499) DIV 1000 / (n*501+999) DIV 1000.
    lo_idx = F.greatest(F.expr("size(vals) * 499 DIV 1000").cast("int"), F.lit(1))
    hi_idx = F.least(F.expr("(size(vals) * 501 + 999) DIV 1000").cast("int"), n)
    bounded = agg.select(
        "event_type",
        F.element_at("vals", lo_idx).alias("p50_lo"),
        F.element_at("vals", hi_idx).alias("p50_hi"),
        (
            (F.col("p50_approx") >= F.element_at("vals", lo_idx))
            & (F.col("p50_approx") <= F.element_at("vals", hi_idx))
        ).alias("p50_within_bounds"),
    )
    return bounded.select(
        "event_type",
        F.round("p50_lo", 4).alias("p50_lo"),
        F.round("p50_hi", 4).alias("p50_hi"),
        "p50_within_bounds",
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the generalization rollup/cube specialize:
    per-type totals and per-user-bucket totals in ONE pass over the fact
    (two separate groupBys would scan twice; the Expand operator emits one
    row per set per input row, then the normal partial agg applies).
    Completes the grouping family next to agg_rollup_* and agg_cube_*."""
    e = load_table(spark, sf_dir, "events")
    bucketed = e.withColumn(
        "user_bucket", F.pmod(F.col("user_id"), F.lit(4)).cast("int")
    )
    return (
        bucketed.groupingSets(
            [["event_type"], ["user_bucket"]], "event_type", "user_bucket"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
        )
    )


def window_ntile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles of order value within each customer — the
    per-key value-banding shape (spend-tier features).  The window order
    carries o_orderkey as the unique tie-break so both engines assign
    identical quartiles at equal prices."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("price_quartile"),
    )


def agg_time_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed continuous-aggregate shape (the hypertable-rollup
    analog): hourly date_trunc buckets per event type, counts + exact
    decimal sums.  The batch twin of the streaming tumbling window —
    date_trunc is a pure projection, so this is one partial+final agg
    whose shuffle carries (bucket, type) rows only."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
        )
    )


def window_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over an explicit full-partition frame: each
    order row annotated with its customer's first and latest order date —
    the per-entity firsts/latests enrichment (first_seen/last_seen is
    reference data the loader copies; here it's computed).  The frame is
    UNBOUNDED BOTH WAYS — the default (unbounded, current) frame makes
    last_value the running value, a classic silent-wrong-answer; the
    oracle pins the full-frame semantics."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first_value("o_orderdate").over(w).alias("first_order_date"),
        F.last_value("o_orderdate").over(w).alias("latest_order_date"),
    )


def dedup_names_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: customer names within Levenshtein
    distance 1, self-joined inside a blocking key — the fuzzy
    entity-resolution tier next to the token-based families (MinHash /
    n-gram Jaccard catch reorderings; edit distance catches typos).

    Blocking: (length, first char).  On this fixture every name shares
    one block, the worst case — the point is the JOIN SHAPE: pairs are
    generated per block, never corpus x corpus; at 10^9 names the block
    key gains a phonetic/prefix component and the largest blocks are
    salted exactly like the canonicalizer's hot names (plans/link.py).
    levenshtein() is a deterministic built-in in both engines, so the
    oracle is exact."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.length("c_name").alias("blk_len"),
        F.substring("c_name", 1, 1).alias("blk_c"),
    )
    a = c.select(
        F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"),
        "blk_len", "blk_c",
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"),
        "blk_len", "blk_c",
    )
    return (
        a.join(b, ["blk_len", "blk_c"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.levenshtein("name_a", "name_b") <= 1)
        .select("id_a", "id_b", "name_a", "name_b")
    )


# Funnel protocol: ordered step list, greedy earliest-completion
# semantics (each step's timestamp is the MIN event ts at-or-after the
# previous step's).  Interpolated into the oracle SQL.
FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_user_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion funnel over the events stream: how far each
    user progressed through ``FUNNEL_STEPS`` (view → click → purchase),
    with the greedy earliest-completion timestamps — the behavioral
    analytics primitive (ClickHouse windowFunnel / funnel analysis).

    Deterministic spec, replayed verbatim by the oracle:
      t1 = MIN ts of step 1 events;
      t_k = MIN ts of step-k events with ts >= t_{k-1};
      n_steps = number of defined t_k.  `>=` (not `>`): a same-timestamp
    later-step event counts, so the spec is total even at coarse ts
    granularity.

    Scale shape: each step is a user-cardinality conditional aggregation
    joined to the previous step's (user, t) frame on user_id — partial
    aggs absorb per-user event skew; the per-step frames shrink
    monotonically (only users who completed step k-1 enter step k's
    join), and every join keys on user_id so AQE handles residual skew.
    No windows over the raw stream, no per-user collect.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return funnel_steps_frame(ev)


def funnel_steps_frame(ev: DataFrame) -> DataFrame:
    """Core funnel over a (user_id, event_type, ts) frame — factored out
    for planted-sequence tests (out-of-order, missing-middle-step, and
    equal-timestamp boundary cases)."""
    t1 = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    prev, frames = t1, [t1]
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        cur = (
            ev.where(F.col("event_type") == step)
            .join(prev.select("user_id", F.col(f"t{i-1}").alias("_tp")), "user_id")
            .where(F.col("ts") >= F.col("_tp"))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t{i}"))
        )
        prev = cur
        frames.append(cur)
    out = frames[0]
    for f in frames[1:]:
        out = out.join(f, "user_id", "left")
    n_steps = sum(
        (F.col(f"t{i}").isNotNull()).cast("int") for i in range(1, len(FUNNEL_STEPS) + 1)
    )
    return out.select(
        "user_id",
        n_steps.alias("n_steps"),
        # ts is TIMESTAMP_NTZ in the parquet; session tz is UTC, so the
        # cast is the identity wall-clock mapping DuckDB's epoch_us uses
        F.unix_micros(F.col("t1").cast("timestamp")).alias("t1_micros"),
        F.unix_micros(F.col(f"t{len(FUNNEL_STEPS)}").cast("timestamp")).alias(
            "t_last_micros"
        ),
    )


RETENTION_MAX_OFFSET = 7


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix over the event stream: users are
    cohorted by their FIRST event day; for each day offset 0..
    ``RETENTION_MAX_OFFSET`` the cell counts distinct cohort members
    active on cohort_day + offset — the standard product-analytics
    retention triangle.

    Scale shape: the cohort map is one user-cardinality MIN aggregation
    (map-side combine absorbs per-user event skew); activity collapses
    to DISTINCT (user, day) BEFORE the join, so the join input is
    bounded by users x active-days, not raw events; the join keys on
    user_id (AQE handles residual skew) and the final groupBy is
    cohort-day x offset cardinality — tiny.  No windows over the raw
    stream.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    act = ev.distinct()
    return (
        act.join(first, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .where(F.col("day_offset") <= RETENTION_MAX_OFFSET)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# Sweep-line concurrency: sessions last floor(value*10) seconds; buckets
# carve the time axis so running sums stay partition-local (see docstring).
CONCURRENCY_BUCKET_S = 3600


def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent sessions per event type — the interval sweep-line
    primitive (peak-load / capacity analytics; also the shape of
    "how many conversations were open at once" over transcript spans).

    Each event opens a half-open session interval [ts, ts + floor(value
    *10) s): +1 at start, -1 at end, sorted by time with ends before
    starts (half-open semantics), running sum = live sessions, max = peak
    concurrency.

    Scale shape: a single global ordered window is the textbook
    implementation and the textbook 100-TB bottleneck (one task sees
    every delta).  Instead the sweep runs as a TWO-PASS PREFIX SUM:
    deltas land in fixed time buckets (CONCURRENCY_BUCKET_S); pass 1
    computes each bucket's LOCAL running max and LOCAL total inside a
    (type, bucket) window — partition-local, arbitrarily parallel; pass
    2 prefix-sums the per-bucket totals over a bucket-cardinality frame
    (rows = types x active-hours, thousands of rows per day at any
    corpus size) and adds the carried offset to each bucket's local max.
    The identity max(global running sum) = max over buckets of
    (carry-in + local max) is exact; the DuckDB oracle computes the
    naive single-window form, so the decomposition itself is what the
    hash match proves.

    Epoch arithmetic rides integer microseconds on both engines
    (unix_micros / epoch_us) — no float timestamps anywhere.
    """
    # ts is TIMESTAMP_NTZ; the UTC-session cast is the identity wall-clock
    # mapping DuckDB's epoch_us uses (same convention as join_asof/funnel).
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        t_us.alias("t0"),
        (t_us + F.floor(F.col("value") * 10).cast("long") * F.lit(1_000_000)
         ).alias("t1"),
    )
    deltas = ev.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        ev.select(
            "event_type", F.col("t1").alias("t"), F.lit(-1).alias("delta"),
            "event_id",
        )
    ).withColumn(
        "bucket", F.floor(F.col("t") / F.lit(CONCURRENCY_BUCKET_S * 1_000_000))
    )
    w_local = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("run", F.sum("delta").over(w_local))
    per_bucket = local.groupBy("event_type", "bucket").agg(
        F.max("run").alias("local_max"), F.sum("delta").alias("local_tot")
    )
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    carried = per_bucket.withColumn(
        "carry", F.coalesce(F.sum("local_tot").over(w_carry), F.lit(0))
    )
    return carried.groupBy("event_type").agg(
        F.max(F.col("carry") + F.col("local_max")).alias("max_concurrent")
    )


PROFILE_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")


def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-profiling summary of the documents table — the
    schema-health pass every curation pipeline runs before training
    (null rates, cardinality, value range drift between corpus drops).

    One row per column: non-null count, null count, exact distinct count,
    min/max rendered as strings (computed on the NATIVE type first, cast
    after — so numeric columns profile numerically, not lexically).

    Scale shape: a single full-table aggregate produces every statistic
    in ONE pass (no per-column scans — all expressions ride the same
    partial-aggregation map side), then a 1-row → |columns| stack()
    unpivot.  Exact countDistinct over multiple columns expands to an
    O(|columns|) plan; the docstring-documented 100-TB swap-in is
    approx_count_distinct per column, which keeps everything single-pass
    mergeable.  At oracle scale exact is the point (cross-engine hash).
    """
    d = load_table(spark, sf_dir, "documents")
    aggs = []
    for c in PROFILE_COLUMNS:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__dist"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__dist, {c}__min, {c}__max"
        for c in PROFILE_COLUMNS
    )
    return one.select(
        F.expr(
            f"stack({len(PROFILE_COLUMNS)}, {stack}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_str, max_str)"
        )
    )


ZORDER_BITS = 16
ZORDER_FILE_BUCKETS = 64


def layout_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over (user_id, value) — the
    multi-dimensional data-layout primitive behind Delta/Iceberg
    ``ZORDER BY``: sorting files by the bit-interleaved key makes
    min/max file statistics selective in BOTH dimensions at once, so a
    100-TB scan with predicates on either column prunes most files.

    z = interleave of the low ``ZORDER_BITS`` bits of x = user_id mod
    2^16 and y = floor(value*100) mod 2^16 (x even bit positions, y odd);
    file_bucket = the top log2(ZORDER_FILE_BUCKETS) bits — the write-time
    range-partitioning key.

    Scale shape: pure per-row JVM bit arithmetic (32 shift/and/or terms,
    whole-stage codegen, no UDF, no shuffle); the only shuffle a writer
    would add is the repartitionByRange on z itself.  The DuckDB oracle
    recomputes the interleave with the same integer expression tree.
    """
    e = load_table(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1 << ZORDER_BITS)).cast("long")
    y = F.pmod(F.floor(F.col("value") * 100), F.lit(1 << ZORDER_BITS)).cast("long")
    z = F.lit(0).cast("long")
    for k in range(ZORDER_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        )
    shift = (2 * ZORDER_BITS) - ZORDER_FILE_BUCKETS.bit_length() + 1
    return e.select(
        "event_id",
        x.alias("x"),
        y.alias("y"),
        z.alias("z_key"),
        F.shiftright(z, shift).alias("file_bucket"),
    )


ZSCORE_SIGMA = 3


def agg_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging — the statistical QC pass a
    curation pipeline runs on numeric signals (drop events whose value
    sits more than ``ZSCORE_SIGMA`` population standard deviations from
    the group mean).

    Cross-engine exactness: values ride as integer cents (one identical
    double round-half on both engines), the group moments (n, Σv, Σv²)
    are EXACT integer aggregates, and the test is the cross-multiplied
    square form (v·n − Σv)² > σ²·(n·Σv² − (Σv)²) — no float mean/stddev
    anywhere; the two squared sides are compared as doubles built from
    identical int64 values.  Moments fit int64 comfortably at bench
    scales (Σv ≈ 1e9 at sf0.1 → (Σv)² ≈ 1e18 < 2^63); at 100 TB promote
    the moment columns to decimal(38,0) — same plan shape.

    Scale shape: one map-side-combined aggregate per group + a broadcast
    moments join back (group cardinality is tiny); the filter is
    per-row codegen arithmetic.  Output: the flagged rows.
    """
    v = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    )
    m = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).alias("s2"),
    )
    dev = (F.col("vc") * F.col("n") - F.col("s1")).cast("double")
    bound = (
        F.lit(float(ZSCORE_SIGMA * ZSCORE_SIGMA))
        * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    )
    return (
        v.join(F.broadcast(m), "event_type")
        .where(dev * dev > bound)
        .select("event_id", "event_type", "vc")
    )


def events_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over user event-type sets:
    for every ordered pair (antecedent A, consequent B) the support
    count, confidence and lift — the co-behavior mining primitive
    (Agrawal-Srikant Apriori's 2-itemset tier; with a 5-type alphabet
    the candidate lattice is the pair set itself).

    Integer contract: confidence = |A∩B| / |A| and lift =
    |A∩B|·N / (|A|·|B|) ride as ppm via truncating integer division —
    no float ratios cross engines.

    Scale shape: baskets collapse to DISTINCT (user, type) first (the
    raw stream never enters the pair join); pairs come from a per-user
    self-join whose fan-out is bounded by the type-alphabet size;
    marginals and N are broadcast 1-row/|types|-row aggregates.
    """
    b = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    pairs = (
        b.select("user_id", F.col("event_type").alias("ante"))
        .join(b.select("user_id", F.col("event_type").alias("cons")), "user_id")
        .where(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").alias("support_ab"))
    )
    marg = b.groupBy("event_type").agg(F.count("*").alias("n_t"))
    n_users = b.select("user_id").distinct().agg(F.count("*").alias("n_users"))
    return (
        pairs.join(F.broadcast(marg.select(F.col("event_type").alias("ante"),
                                           F.col("n_t").alias("n_a"))), "ante")
        .join(F.broadcast(marg.select(F.col("event_type").alias("cons"),
                                      F.col("n_t").alias("n_b"))), "cons")
        .crossJoin(F.broadcast(n_users))
        .select(
            "ante",
            "cons",
            "support_ab",
            F.expr("CAST(support_ab * 1000000 AS BIGINT) div n_a")
            .alias("confidence_ppm"),
            F.expr(
                "CAST(support_ab * n_users * 1000000 AS BIGINT) div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from the event stream: per
    user, collapse consecutive runs of equal event_type (ordered by ts,
    event_id tiebreak) into versioned dimension rows (user_id,
    event_type, valid_from, valid_to, n_events, is_current) — the
    standard warehouse history-table materialization (Kimball SCD2),
    here as the 'what was this user doing during [t1, t2)' dimension a
    KG pipeline joins provenance against.

    Plan: gaps-and-islands — one lag() to mark change points, a running
    sum over the same window for run ids (both ride ONE partitionBy
    (user_id) sort), one per-run aggregate, one lead() for valid_to.
    Two shuffles total, both keyed user_id; no UDF, no skew (run count
    per user is bounded by event count).  At 100 TB the ts sort rides
    the same user_id partitioning every window already needs, and
    incremental maintenance appends only each user's open run (the
    is_current=1 row), the standard MERGE pattern of plans/catalog.py.
    is_current is an INT (not boolean) so the value hash is portable.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("run_id", F.sum("chg").over(w))
    runs = marked.groupBy("user_id", "run_id").agg(
        F.first("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.when(F.lead("valid_from").over(w2).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_current"),
    )


ROLLING_RANGE_S = 3600


def window_rolling_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour aggregate via a RANGE window frame: for
    every event, the sum (integer cents) and count of the same user's
    events in the preceding ROLLING_RANGE_S seconds INCLUSIVE of now —
    the time-based frame (rangeBetween), distinct from every rows-frame
    window already covered (row_number/lag/running sum use ROWS
    semantics; a RANGE frame includes ALL ties of the boundary value and
    spans gaps correctly when event spacing is irregular).

    Value rides as floor(value*100) cents (the events_max_concurrency
    precedent): both engines do identical double→int truncation on the
    same parquet doubles, so the value hash is safe.

    Plan: ONE window over (user_id, epoch-second order) — a single
    user-keyed sort shuffle, map-side frame evaluation; at 100 TB this
    is the same partitioning every per-user window shares.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-ROLLING_RANGE_S, 0)
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).alias("trailing_cents"),
        F.count("*").over(w).alias("n_trailing"),
    )


def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip pivot → UNPIVOT (melt): widen per-user event counts to
    one column per EVENT_TYPES member, then melt back to long form —
    the DataFrame.unpivot API surface (wide→long is the standard last
    step before ML feature tables and the inverse of
    pivot_event_type_counts).  Null counts are coalesced to 0 BEFORE the
    melt so both engines keep all |EVENT_TYPES| rows per user (Spark
    keeps null value rows, DuckDB's UNPIVOT drops them — the fill makes
    the question moot).
    """
    e = load_table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).alias(t)
                for t in EVENT_TYPES
            ],
        )
    )
    return wide.unpivot(
        ids=["user_id"],
        values=list(EVENT_TYPES),
        variableColumnName="event_type",
        valueColumnName="n_events",
    )



def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event streams:
    for each (event_type -> next event_type) pair, the transition count
    and row-conditional probability in integer ppm — the sequence-mining
    primitive behind 'what do users do after X' (and the KG analogue:
    which relationship tends to follow which in a provenance chain).

    Plan: ONE lead() window on the (user_id, ts, event_id) sort every
    per-user operator shares, then a pair aggregate; the per-source
    totals ride a second tiny aggregate joined back broadcast (the pair
    alphabet is |event_types|^2).  Truncating-integer ppm keeps the
    cross-engine hash float-free.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("dst_type"),
        )
        .where(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    totals = pairs.groupBy("src_type").agg(
        F.sum("n_transitions").alias("n_from_src")
    )
    return pairs.join(F.broadcast(totals), "src_type").select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.expr("n_transitions * 1000000 div n_from_src").alias("prob_ppm"),
    )


def dim_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generation: one row per day spanning the event
    stream's [min, max] date with PORTABLE derived attributes — the
    warehouse date-dimension build (every star schema's smallest, most
    joined table), generated from data instead of loaded.

    Spark: the span rides as a 1-row min/max aggregate whose sequence()
    of days explodes into the dimension — no driver barrier, no range
    loop.  Day-of-week is computed ARITHMETICALLY (days since Monday
    1970-01-05, mod 7) because Spark's dayofweek() and DuckDB's
    dayofweek() disagree on the week origin; epoch-day arithmetic is
    identical everywhere.  0 = Monday.
    """
    e = load_table(spark, sf_dir, "events")
    span = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return days.select(
        "day",
        F.year("day").alias("year"),
        F.month("day").alias("month"),
        F.dayofmonth("day").alias("day_of_month"),
        ((F.month("day") - 1) / 3 + 1).cast("int").alias("quarter"),
        F.pmod(F.datediff("day", F.lit("1970-01-05").cast("date")), F.lit(7))
        .cast("int")
        .alias("dow_monday0"),
    )


def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: evaluate the pipeline's ingest
    expectations (Delta Live Tables / Great Expectations style) and
    report one row per constraint with its violation count — ALWAYS all
    rows, zeros included, so downstream alerting diffs a stable shape.

    Constraints: event_id uniqueness (extra rows beyond the first),
    value non-negativity, event_type domain membership, user_id
    non-null, and referential integrity orders.o_custkey -> customer
    (the dangling-ref check A11 runs on the STIX graph, applied to the
    relational side).

    Plan shape: each constraint is one aggregate over its own scan —
    unioned AFTER aggregation, so the union carries 5 rows, not data;
    the uniqueness check is the only shuffle (map-side-combinable
    count per key), the referential check is a broadcast anti-join on
    the dim.  At 100 TB all five ride a single pass via observe()
    metrics where exactness permits — documented; the uniqueness and
    referential tiers keep their shuffles.
    """
    e = load_table(spark, sf_dir, "events")
    dup = (
        e.groupBy("event_id")
        .agg(F.count("*").alias("c"))
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n")
        )
        .select(F.lit("event_id_unique").alias("constraint"), F.col("n"))
    )
    neg = e.agg(
        F.count(F.when(F.col("value") < 0, 1)).alias("n")
    ).select(F.lit("value_nonnegative").alias("constraint"), F.col("n"))
    dom = e.agg(
        F.count(
            F.when(~F.col("event_type").isin(*EVENT_TYPES), 1)
        ).alias("n")
    ).select(F.lit("event_type_in_domain").alias("constraint"), F.col("n"))
    nn = e.agg(
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("n")
    ).select(F.lit("user_id_not_null").alias("constraint"), F.col("n"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ref = (
        o.join(
            F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("orders_custkey_references_customer").alias("constraint"),
            F.col("n"),
        )
    )
    return dup.unionByName(neg).unionByName(dom).unionByName(nn).unionByName(ref)


HIST_BINS = 16


def agg_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals — the profiling primitive a
    planner/curation pass uses to pick partition bounds and spot value
    skew.  Bin edges derive from the data's max; every boundary decision
    is INTEGER arithmetic (exact cents → integer div against the data
    max), so engines cannot disagree at bin edges the way float
    floor((v-min)/width) can.

    bin = (cents * HIST_BINS) div (max_cents + 1) — in [0, HIST_BINS-1]
    with no clamp needed.

    Scale shape: one broadcast 1-row max + one map-side-combined
    groupBy(bin); cents*BINS peaks ~1e9 at sf0.1 — int64-safe past sf1e4.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents")
    )
    mx = o.agg(F.max("cents").alias("max_cents"))
    return (
        o.join(F.broadcast(mx))
        .select(F.expr(f"cents * {HIST_BINS} div (max_cents + 1)").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )


SKEW_TOP_K = 20


def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the pre-flight check behind every
    salting decision in this repo (link.py's hot-name probe, the salted
    demo join): per-key frequency for the TOP-K heaviest keys plus their
    individual and cumulative traffic share in ppm.  A key whose
    share_ppm exceeds ~1/shuffle-partitions is the one AQE skew-split or
    salting must handle.

    Integer contract: share_ppm = cnt*1e6 div total; cum_share_ppm is the
    running sum of cnt (exact) scaled once — NOT a sum of truncated
    shares, so it cannot drift.

    Scale shape: map-side-combined count per key, TakeOrderedAndProject
    for the top-k (O(n) scan + heap, no global sort), broadcast 1-row
    total; the K-row window is driver-trivial.
    """
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    tot = e.agg(F.count("*").alias("total"))
    top = (
        per.orderBy(F.desc("cnt"), "user_id")
        .limit(SKEW_TOP_K)
        .join(F.broadcast(tot))
    )
    return top.select(
        F.row_number().over(Window.orderBy(F.desc("cnt"), "user_id")).cast("long").alias("rank"),
        "user_id",
        "cnt",
        F.expr("cnt * 1000000 div total").alias("share_ppm"),
        F.expr(
            "sum(cnt) over (order by cnt desc, user_id"
            " rows between unbounded preceding and current row)"
            " * 1000000 div total"
        ).alias("cum_share_ppm"),
    )


RANGE_BUCKETS = 8


def layout_range_partition_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner split-point planning — the conv_id-range
    partitioning step of the north rule made explicit: split the keyed
    stream into RANGE_BUCKETS row-balanced key ranges and report each
    range's [lo, hi] key span and row count.  This is what
    ``df.repartitionByRange`` computes internally by reservoir sampling
    (RangePartitioner, Spark core); here the bounds are EXACT via ntile
    so the oracle can verify them — the documented 100-TB swap is
    sampled bounds + this same per-bucket audit.

    ntile ties are broken by the unique (user_id, event_id) order, so
    bucket assignment is deterministic on both engines.

    Scale shape at bench size: one global sort window (single-task at
    sf0.1 — fine at audit cardinality).  At 100 TB: sample-then-broadcast
    bounds, per-partition local audit, tiny final agg.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    t = e.withColumn(
        "bucket",
        F.ntile(RANGE_BUCKETS).over(Window.orderBy("user_id", "event_id")).cast("long"),
    )
    return t.groupBy("bucket").agg(
        F.min("user_id").alias("lo_user"),
        F.max("user_id").alias("hi_user"),
        F.count("*").alias("n_rows"),
    )


def stats_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric measures —
    the feature-drift / redundancy screen a data-quality pass runs.
    Follows the z-score operator's exactness recipe: values ride as
    scaled integers (quantity→cents, price→whole dollars, discount→
    basis points), ALL moments (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    int64 aggregates, and only the final r is assembled in double from
    those int64s with an identical expression on both engines
    (int64→double is exact below 2^53; double +,*,/,sqrt are IEEE
    correctly-rounded, so identical inputs + identical expression tree
    → identical bits).  corr_ppm = floor(1e6·num/(√denx·√deny) + 0.5).

    Moment magnitudes: Σ(price_dollars²) ≈ 6e15 at sf0.1 — int64-safe
    to ~sf100; past that promote moments to decimal(38,0) (same plan).

    Scale shape: ONE map-side-combined single-row aggregate over the
    fact table computes every moment for all three pairs; the pair
    unpivot is a driver-side 3-row union. No shuffle beyond the 1-row
    agg.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") + F.lit(0.5)).cast("long").alias("p"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long").alias("d"),
    )
    m = li.agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("p") * F.col("d")).alias("spd"),
    )

    def corr(sx: str, sy: str, sxx: str, syy: str, sxy: str) -> Column:
        return F.expr(
            f"cast(floor(1000000.0 * "
            f"(cast(n as double) * cast({sxy} as double)"
            f" - cast({sx} as double) * cast({sy} as double))"
            f" / sqrt(cast(n as double) * cast({sxx} as double)"
            f" - cast({sx} as double) * cast({sx} as double))"
            f" / sqrt(cast(n as double) * cast({syy} as double)"
            f" - cast({sy} as double) * cast({sy} as double))"
            f" + 0.5) as bigint)"
        )

    pairs = [
        ("quantity", "price", corr("sq", "sp", "sqq", "spp", "sqp")),
        ("quantity", "discount", corr("sq", "sd", "sqq", "sdd", "sqd")),
        ("price", "discount", corr("sp", "sd", "spp", "sdd", "spd")),
    ]
    # ONE explode over the single 1-row aggregate — a unionByName of three
    # selects from `m` would make Catalyst recompute the aggregate subtree
    # (three full fact scans; verified on the executed plan)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(x).alias("x_col"),
                    F.lit(y).alias("y_col"),
                    c.alias("corr_ppm"),
                )
                for x, y, c in pairs
            ]
        )
    )
    return m.select("n", rows.alias("r")).select(
        F.col("r.x_col").alias("x_col"),
        F.col("r.y_col").alias("y_col"),
        "n",
        F.col("r.corr_ppm").alias("corr_ppm"),
    )


def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of DISTINCT event types per user — the
    novelty/exploration signal over a behavior stream.  Neither Spark
    nor DuckDB supports COUNT(DISTINCT) over a window frame; the
    standard decomposition is first-occurrence flagging (row_number = 1
    within (user, type) by time) followed by a running SUM of the flag
    on the user's timeline — two window passes over the SAME user-keyed
    shuffle partitioning (Catalyst reuses the exchange; the second sort
    is within partitions).

    Ties are broken by event_id everywhere, so flag assignment and the
    running sum are deterministic on both engines.

    Scale shape: one user-keyed shuffle total; both windows ride it.
    No distinct-set state materializes anywhere (the flag trick is the
    100-TB answer — per-frame HashSets are the thing this avoids).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    first = (
        F.row_number().over(
            Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        )
        == 1
    ).cast("long")
    t = e.withColumn("is_first", first)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return t.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(run).alias("cum_distinct_types"),
    )


MAD_K = 8  # flag if |v - median| > MAD_K * MAD


def agg_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outlier flagging by median absolute deviation —
    the heavy-tail-safe complement to agg_anomaly_zscore (mean/stddev
    move with the outliers they're meant to catch; median/MAD do not).

    Exactness recipe: values ride as integer cents; medians are EXACT
    interpolating percentiles computed over DOUBLED integers, so the
    even-count midpoint (a+b)/2 is always integer-valued — every
    quantity in the final comparison (dev2 = |2·vc − med2|, thresh =
    MAD_K·mad4 vs 2·dev2) is an integer-valued double below 2^53, and
    the flag decision cannot drift across engines.

    Scale shape: two grouped EXACT percentiles (per-group sort at bench
    scale — the documented 100-TB swap is percentile_approx with the
    same ±contract the quantile operator uses) + a broadcast per-group
    stats join; the flag filter is per-row codegen arithmetic.
    """
    v = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("percentile(vc * 2, 0.5)").alias("med2")
    )
    dev = v.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(F.col("vc") * 2 - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev2 * 2, 0.5)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("dev2") * 2 > F.lit(MAD_K) * F.col("mad4"))
        .select("event_id", "event_type", "vc")
    )


def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family over the orders keys — the last scalar
    function family uncovered (string/date/case/json/array/map/math
    families each have an oracle; this closes bit ops): AND, OR, XOR,
    shifts, popcount, and the low-bits bucket idiom (key & mask) that
    hash-partitioners and bitmap indexes use.

    Everything is int64 bit arithmetic — no precision or ordering
    hazards anywhere; pure map-side codegen.
    """
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    c = F.col("o_custkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(0xFF)).alias("low_byte"),
        k.bitwiseOR(c).alias("or_cust"),
        k.bitwiseXOR(c).alias("xor_cust"),
        F.shiftleft(k, 3).alias("shl3"),
        F.shiftright(k, 2).alias("shr2"),
        F.bit_count(k).alias("popcount"),
        k.bitwiseAND(F.lit(31)).alias("bucket32"),
    )


def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode with a deterministic tie-break (most frequent
    event value-bucket per event type; ties -> smallest bucket) — the
    categorical summary stat GROUP BY can't express directly.  The
    decomposition is count-then-rank: one (group, value) count, one
    per-group row_number window over (cnt DESC, value) — both engines
    deterministic by construction.

    Scale shape: the (group, value) agg is map-side combined and the
    rank window runs at distinct-value cardinality, not row cardinality.
    (Spark's own ``mode()`` aggregate is tie-nondeterministic — the
    count-rank form is what you deploy.)
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") / 10).cast("long").alias("bucket"),
    )
    c = e.groupBy("event_type", "bucket").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), "bucket")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("bucket").alias("mode_bucket"), "cnt")
    )


def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap profile (lag on the user timeline,
    exact integer epoch-microsecond deltas — second-truncation would
    round differently across engines on fractional timestamps): min/max/
    avg gap and gap count — the
    cadence feature behind sessionization-threshold tuning and bot
    detection.  avg rides as truncating integer division (sum div n),
    so no float crosses engines.

    Scale shape: ONE user-keyed shuffle serves both the lag window and
    the per-user aggregate (same partitioning, exchange reused).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        e.withColumn("pts", F.lag("ts").over(w))
        .withColumn("gap", F.expr("timestampdiff(MICROSECOND, pts, ts)"))
        .where(F.col("gap").isNotNull())
    )
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap").alias("min_gap_us"),
        F.max("gap").alias("max_gap_us"),
        F.expr("sum(gap) div count(*)").alias("avg_gap_us"),
    )


def join_null_safe_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the join
    semantics corner every dimension-conforming pipeline hits: NULL keys
    must MATCH each other (one "unknown" group) instead of silently
    dropping, which is what plain equi-join does.  Keys are derived with
    nullif so the fixture genuinely exercises the NULL row on both
    engines.

    Scale shape: a null-safe condition is hash-joinable (NULL hashes as
    one value) — Spark plans the same shuffle/broadcast hash join as
    plain equality; no theta-join fallback.  NULL-as-a-value also means
    the null key is one PARTITION — at scale a mostly-null key column
    needs the same skew treatment as any hot key (profile_key_skew).
    """
    e = load_table(spark, sf_dir, "events").select(
        F.nullif(F.col("event_type"), F.lit("click")).alias("k")
    )
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.nullif(F.col("event_type"), F.lit("click")).alias("dk"))
        .distinct()
        .select("dk", F.coalesce(F.length("dk"), F.lit(-1)).alias("dim_len"))
    )
    return (
        e.join(F.broadcast(dim), F.col("k").eqNullSafe(F.col("dk")))
        .groupBy("k", "dim_len")
        .agg(F.count("*").alias("n"))
    )


def sketch_hll_union_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch ALGEBRA — the property that makes sketches the 100-TB
    answer for distinct counting: per-group sketches built independently
    (per shard / per day, in a real pipeline) UNION into one sketch whose
    estimate matches the global distinct within the configured error.
    This goes beyond approx_distinct_users (one-shot estimate): it
    checks mergeability, i.e. that pre-aggregated sketches compose.

    Oracle contract (the estimate is engine-specific): the exact global
    distinct plus the within-5%% boolean, computed Spark-side as
    abs(est - exact)*20 <= exact (integer arithmetic, lgConfigK=12 →
    ~1.6%% rsd, 5%% is a generous bound).

    Scale shape: per-group hll_sketch_agg is map-side combinable; the
    union agg moves |groups| sketches (KB each), never rows.
    """
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("grp_exact"),
    )
    unioned = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = e.agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        exact.join(F.broadcast(unioned))
        .select(
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users")) * 20
                <= F.col("exact_users")
            ).alias("union_within_5pct"),
        )
    )


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group (extendedprice cents weighted by
    integer quantity) by the cum-weight decomposition: order values,
    accumulate weights, take the smallest value whose doubled cumulative
    weight reaches the total (the lower weighted median — a pure integer
    rule, so engines cannot disagree at the midpoint the way
    interpolating definitions can).

    Scale shape: the (group, value) pre-aggregate collapses the stream
    to distinct-value cardinality BEFORE any window; the cum-sum window
    and the final min ride one group-keyed exchange.  This is the
    weighted complement of the exact-quantile tier (same swap note:
    percentile_approx at 100 TB).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("w"),
    )
    per = li.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("wv"))
    cum = per.withColumn(
        "cw",
        F.sum("wv").over(
            Window.partitionBy("l_returnflag")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    tot = per.groupBy("l_returnflag").agg(F.sum("wv").alias("tw"))
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("w_median_cents"),
            F.min("tw").alias("total_weight"),
        )
    )


RATE_SIGMA = 3


def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-RATE spike detection per type — the ops-monitoring
    pass over the ingest stream: bucket to epoch hours, count, then flag
    hours whose count sits more than RATE_SIGMA population sigmas from
    the type's hourly mean, using the same cross-multiplied integer
    moment form as agg_anomaly_zscore (counts are already integers — no
    rounding step at all).

    Hour buckets are computed on date_trunc'd timestamps so Spark's
    timestampdiff (complete units) and DuckDB's date_diff (boundary
    crossings) agree by construction — on hour-aligned values the two
    definitions coincide.

    Scale shape: the (type, hour) count is map-side combined (the
    shuffle carries bucket cardinality, not rows); moments are a second
    tiny agg; the flag join is broadcast.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, timestamp'1970-01-01 00:00:00',"
            " date_trunc('hour', ts))"
        ).alias("hour_id"),
    )
    c = e.groupBy("event_type", "hour_id").agg(F.count("*").alias("c"))
    m = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    dev = (F.col("c") * F.col("n") - F.col("s1")).cast("double")
    bound = (
        F.lit(float(RATE_SIGMA * RATE_SIGMA))
        * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    )
    return (
        c.join(F.broadcast(m), "event_type")
        .where(dev * dev > bound)
        .select("event_type", "hour_id", "c")
    )


def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group from EXACT
    integer moments — the distribution-shape profile that decides
    between mean/σ gates (symmetric) and median/MAD gates (heavy-tailed,
    see agg_anomaly_mad).  Values ride as whole dollars so Σv⁴ stays
    int64 (≤ ~6e17 at sf0.1; decimal(38,0) past sf1 — same plan); the
    central-moment combinations use the scale-free identities

        skew = M3 / (M2·√M2),  ekurt = M4/M2² − 3
        M2 = n·s2 − s1²
        M3 = n²·s3 − 3n·s1·s2 + 2s1³
        M4 = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3s1⁴

    (the nᵏ factors cancel exactly), assembled in double with an
    identical expression tree on both engines — and √M2·M2 instead of
    pow(M2,1.5): sqrt and IEEE multiply are correctly rounded,
    libm pow is NOT guaranteed to be.

    Scale shape: ONE map-side-combined aggregate per group; everything
    after is per-group scalar arithmetic.
    """
    v = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("vd"),
    )
    m = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vd").alias("s1"),
        F.sum(F.expr("vd * vd")).alias("s2"),
        F.sum(F.expr("vd * vd * vd")).alias("s3"),
        F.sum(F.expr("vd * vd * vd * vd")).alias("s4"),
    )
    pre = (
        "cast(n as double)", "cast(s1 as double)", "cast(s2 as double)",
        "cast(s3 as double)", "cast(s4 as double)",
    )
    nn, s1, s2, s3, s4 = pre
    m2 = f"({nn} * {s2} - {s1} * {s1})"
    m3 = (
        f"({nn} * {nn} * {s3} - 3.0 * {nn} * {s1} * {s2}"
        f" + 2.0 * {s1} * {s1} * {s1})"
    )
    m4 = (
        f"({nn} * {nn} * {nn} * {s4} - 4.0 * {nn} * {nn} * {s1} * {s3}"
        f" + 6.0 * {nn} * {s1} * {s1} * {s2}"
        f" - 3.0 * {s1} * {s1} * {s1} * {s1})"
    )
    return m.select(
        "event_type",
        "n",
        F.expr(
            f"cast(floor(1000000.0 * {m3} / ({m2} * sqrt({m2})) + 0.5) as bigint)"
        ).alias("skew_ppm"),
        F.expr(
            f"cast(floor(1000000.0 * ({m4} / ({m2} * {m2}) - 3.0) + 0.5)"
            " as bigint)"
        ).alias("ekurt_ppm"),
    )


# -- round-4 sixth-continuation batch: regression / agreement / layout ------

SHARD_COUNT = 8          # training shards for layout_shard_assign
EWMA_LAGS = 8            # dyadic EWMA window (weights 2^-(k+1))
ER_W_SOURCE = 8          # Fellegi-Sunter-style field agreement weights
ER_W_CHARS = 4
ER_W_PREFIX = 12
ER_CHARS_TOL = 20
ER_MIN_SCORE = 12


def stats_linreg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line (value vs hour-of-day) from EXACT integer
    moments — the drift detector that tells a curation pipeline whether a
    signal trends across the day before it gates on a flat threshold.

    slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) and the intercept uses the
    same denominator: b0 = (Σy·Σxx − Σx·Σxy) / den — both numerator and
    denominator are exact int64 (x≤23, y≤~500 here; the docstring swap
    at sf≥1 is decimal(38,0) sums, same plan), assembled with an
    identical double expression tree on both engines and emitted in ppm
    (mirrors StixToNeoDB's derived-attribute enrichment: reference
    StixToNeoDB.scala:24-38 computes per-object derived fields at load).

    Scale shape: ONE map-side-combined aggregate per group; the fit is
    per-group scalar arithmetic — no second pass over the facts.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("y"),
    )
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    den = "(cast(n as double) * sxx - cast(sx as double) * sx)"
    num_b = "(cast(n as double) * sxy - cast(sx as double) * sy)"
    num_a = "(cast(sy as double) * sxx - cast(sx as double) * sxy)"
    return m.select(
        "event_type",
        "n",
        F.expr(
            f"cast(floor(1000000.0 * {num_b} / {den} + 0.5) as bigint)"
        ).alias("slope_ppm"),
        F.expr(
            f"cast(floor(1000000.0 * {num_a} / {den} + 0.5) as bigint)"
        ).alias("intercept_ppm"),
    )


def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic EWMA over the hourly event-rate series — the smoothed rate
    monitor next to events_rate_anomaly's z-score gate.  Weights are
    2^(EWMA_LAGS-1-k) over the k-th lag (newest heaviest), so both the
    weighted sum and the weight total are exact integers; series heads
    shorter than the window renormalize over the PRESENT lags only, and
    the ppm readout is a pure integer division (Spark `div` == DuckDB
    `//`, truncation toward zero, counts are non-negative).

    Scale shape: the (type, hour) count is map-side combined; the lag
    window runs at series scale (hours × types), partitioned by type —
    no global window, no second fact scan.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, timestamp'2024-01-01 00:00:00',"
            " date_trunc('hour', ts))"
        ).alias("hour_id"),
    )
    c = e.groupBy("event_type", "hour_id").agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("hour_id")
    num = []
    den = []
    lagged = c
    for k in range(EWMA_LAGS):
        wt = 1 << (EWMA_LAGS - 1 - k)
        lagged = lagged.withColumn(
            f"l{k}", F.lag("c", k).over(w)
        )
        num.append(f"coalesce(l{k}, 0) * {wt}")
        den.append(f"if(l{k} is null, 0, {wt})")
    return lagged.select(
        "event_type",
        "hour_id",
        "c",
        F.expr(
            f"(1000000 * ({' + '.join(num)})) div ({' + '.join(den)})"
        ).alias("ewma_ppm"),
    )


def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two binary labelings of the same events —
    the inter-annotator agreement gate a labeled-training-data pipeline
    runs before trusting a label column.  Here the two "raters" are
    deterministic derived flags (value parity, user parity); the 2x2
    closed form kappa = 2(n11·n00 − n10·n01) / ((n11+n10)(n10+n00) +
    (n11+n01)(n01+n00)) is algebraically identical to (po−pe)/(1−pe)
    and STAYS IN int64 (counts ≤ n, products ≤ n², ×2e6 ≤ 2e6·n² —
    safe to n≈2e6 per group; decimal past that), so the ppm readout is
    exact integer division on both engines.  Degenerate margins
    (den = 0, a constant rater) emit NULL identically.

    Scale shape: ONE map-side-combined aggregate per group computes all
    four cells as conditional sums; everything after is per-group
    scalar integer arithmetic.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("pmod(cast(floor(value + 0.5) as bigint), 2)").alias("ra"),
        F.expr("pmod(user_id, 2)").alias("rb"),
    )
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("if(ra = 1 and rb = 1, 1, 0)")).alias("n11"),
        F.sum(F.expr("if(ra = 1 and rb = 0, 1, 0)")).alias("n10"),
        F.sum(F.expr("if(ra = 0 and rb = 1, 1, 0)")).alias("n01"),
        F.sum(F.expr("if(ra = 0 and rb = 0, 1, 0)")).alias("n00"),
    )
    den = "((n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00))"
    return m.select(
        "event_type",
        "n",
        F.expr(
            f"if({den} = 0, cast(null as bigint),"
            f" (2000000 * (n11 * n00 - n10 * n01)) div {den})"
        ).alias("kappa_ppm"),
    )


def stats_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of each user's event-type distribution — the
    label-balance audit (0 = one type only, →1 = uniform) that flags
    degenerate per-entity label mixes before sampling.  Entirely
    rational: gini = (n² − Σc²)/n², emitted in exact integer ppm.

    Scale shape: two stacked map-side-combined aggregates riding the
    SAME user_id partitioning ((user, type) counts, then per-user sums)
    — one shuffle, no window, output at entity scale.
    """
    e = load_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    return (
        ut.groupBy("user_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.expr("c * c")).alias("ss"),
            F.count("*").alias("n_types"),
        )
        .select(
            "user_id",
            "n",
            "n_types",
            F.expr("(1000000 * (n * n - ss)) div (n * n)").alias("gini_ppm"),
        )
    )


def layout_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard assignment: documents ranked by size
    (n_chars DESC, doc_id tie-break) are dealt to SHARD_COUNT shards in
    snake order (0..K-1, K-1..0, ...) — the deterministic LPT-flavored
    layout a tokenizer/packer wants so no shard drags the epoch.  The
    whole decision is integer rank arithmetic, so both engines assign
    every document to the same shard; output is the per-shard balance
    audit (doc count, char total, heaviest doc).

    Scale shape: ranking at corpus-audit scale is a global window; the
    documented 100-TB swap is rank-by-bucket (range-partition on
    n_chars via layout_range_partition_bounds' sampled quantile cuts,
    partition-local row_number + broadcast bucket-offset carry) — the
    snake arithmetic is unchanged under that decomposition.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    k = SHARD_COUNT
    r = F.row_number().over(Window.orderBy(F.desc("n_chars"), "doc_id")) - 1
    a = d.withColumn("r", r).withColumn(
        "shard",
        F.expr(f"if((r div {k}) % 2 = 0, r % {k}, {k} - 1 - (r % {k}))"),
    )
    return a.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_total"),
        F.max(F.col("n_chars").cast("long")).alias("max_chars"),
    )


def er_field_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter-style weighted field-agreement scoring over
    blocked candidate pairs — the record-linkage SCORING stage that sits
    between blocking (the LSH/prefix-filter tiers) and the CC merge in
    the canonicalization pipeline (mirrors the reference's identity
    resolution intent: StixToNeoDB merges on exact STIX id,
    StixToNeoDB.scala:31; fuzzy linkage needs graded evidence).
    Documents blocked by lang score source equality (+ER_W_SOURCE),
    size agreement within ER_CHARS_TOL chars (+ER_W_CHARS) and a shared
    16-char text prefix (+ER_W_PREFIX); pairs at or above ER_MIN_SCORE
    survive.  All-integer scoring — engines cannot disagree.

    Scale shape: the self-join runs at BLOCK cardinality, never corpus²
    (at 100 TB the block key is the LSH band, same plan); the pair
    filter is a<b on doc_id so each pair is emitted once; the score is
    map-side scalar arithmetic after the join.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.substring("text", 1, 16).alias("p16"),
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(b, on="lang").where(F.expr("a.doc_id < b.doc_id"))
    score = (
        F.expr(f"if(a.source = b.source, {ER_W_SOURCE}, 0)")
        + F.expr(
            f"if(abs(a.n_chars - b.n_chars) <= {ER_CHARS_TOL},"
            f" {ER_W_CHARS}, 0)"
        )
        + F.expr(f"if(a.p16 = b.p16, {ER_W_PREFIX}, 0)")
    )
    return (
        pairs.withColumn("score", score.cast("long"))
        .where(F.col("score") >= ER_MIN_SCORE)
        .select(
            F.expr("a.doc_id").alias("doc_a"),
            F.expr("b.doc_id").alias("doc_b"),
            "score",
        )
    )


# -- round-4 seventh-continuation batch: distribution drift / audit ---------

KS_PAIR_TYPES = None  # all type pairs
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
               45757)  # round(1e6*log10(1+1/d)) for d=1..9 — inlined constants


def stats_ks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between every pair of
    event types' value distributions — the train/serve drift gate run
    before trusting a sampled split.  D = max_v |F_a(v) − F_b(v)| is
    evaluated on the exact cross-multiplied integer form
    |cum_a·n_b − cum_b·n_a| (never a float ECDF), so the readout
    ppm = 1e6·max(...) div (n_a·n_b) is pure integer on both engines.

    Scale shape: the per-(type, value) count is ONE map-side-combined
    agg over the facts; the pair×value grid is distribution-summary
    scale (types² × distinct values), never fact scale — the window
    cumsum runs there.  int64 bound: cum·n ≤ n², safe to n≈3e9 rows
    per type (decimal past that).
    """
    v = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("vd")
    )
    c = v.groupBy("event_type", "vd").agg(F.count("*").alias("c"))
    tot = v.groupBy("event_type").agg(F.count("*").alias("n"))
    vals = v.select("vd").distinct()
    pairs = (
        tot.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))
        .join(
            tot.select(F.col("event_type").alias("tb"), F.col("n").alias("nb")),
            F.col("ta") < F.col("tb"),
        )
    )
    grid = (
        pairs.crossJoin(vals)
        .join(
            c.select(F.col("event_type").alias("ta"), "vd", F.col("c").alias("ca")),
            ["ta", "vd"],
            "left",
        )
        .join(
            c.select(F.col("event_type").alias("tb"), "vd", F.col("c").alias("cb")),
            ["tb", "vd"],
            "left",
        )
        .fillna(0, subset=["ca", "cb"])
    )
    w = (
        Window.partitionBy("ta", "tb")
        .orderBy("vd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.withColumn("cum_a", F.sum("ca").over(w))
        .withColumn("cum_b", F.sum("cb").over(w))
        .groupBy("ta", "tb", "na", "nb")
        .agg(F.max(F.expr("abs(cum_a * nb - cum_b * na)")).alias("dmax"))
        .select(
            "ta",
            "tb",
            F.expr("(1000000 * dmax) div (na * nb)").alias("ks_ppm"),
        )
    )


def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-square contributions for independence of event type
    × value parity — the contingency audit next to stats_cohens_kappa.
    Each cell emits (n·o − r·c)² / (n·r·c) in ppm, computed per cell
    from exact int64 marginals with ONE float division (no float SUM
    across rows, so partial-aggregation order cannot differ between
    engines); the reader sums the bounded cell set for the statistic.

    Scale shape: one map-side-combined (type, parity) agg over the
    facts; marginals are window sums over the CELL table (types ×
    parities rows); everything after is per-cell scalar arithmetic.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("pmod(cast(floor(value + 0.5) as bigint), 2)").alias("parity"),
    )
    cells = e.groupBy("event_type", "parity").agg(F.count("*").alias("o"))
    r = Window.partitionBy("event_type")
    col_w = Window.partitionBy("parity")
    g = Window.partitionBy()
    m = (
        cells.withColumn("r", F.sum("o").over(r))
        .withColumn("c", F.sum("o").over(col_w))
        .withColumn("n", F.sum("o").over(g))
    )
    dev = "(cast(n as double) * o - cast(r as double) * c)"
    return m.select(
        "event_type",
        "parity",
        "o",
        F.expr(
            f"cast(floor(1000000.0 * {dev} * {dev}"
            " / (cast(n as double) * r * c) + 0.5) as bigint)"
        ).alias("chi2_ppm"),
    )


def stats_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each type's hourly event-count series —
    the burstiness probe next to events_ewma_hourly (r≈0: memoryless
    arrivals; r>0: rate persistence).  Pearson r over (c_t, c_{t-1})
    pairs from exact int64 sums; the denominator multiplies the two
    int64 variance terms BEFORE the single cast to double (one rounding,
    identical on both engines) and uses sqrt (correctly rounded), never
    pow.

    Scale shape: facts collapse to the (type, hour) count map-side; the
    lag window and the moment agg run at series scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, timestamp'2024-01-01 00:00:00',"
            " date_trunc('hour', ts))"
        ).alias("hour_id"),
    )
    c = e.groupBy("event_type", "hour_id").agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("hour_id")
    p = c.withColumn("prev", F.lag("c", 1).over(w)).where(F.col("prev").isNotNull())
    m = p.groupBy("event_type").agg(
        F.count("*").alias("m"),
        F.sum("c").alias("sx"),
        F.sum("prev").alias("sy"),
        F.sum(F.expr("c * c")).alias("sxx"),
        F.sum(F.expr("prev * prev")).alias("syy"),
        F.sum(F.expr("c * prev")).alias("sxy"),
    )
    return m.select(
        "event_type",
        "m",
        F.expr(
            "cast(floor(1000000.0 * (cast(m as double) * sxy - cast(sx as double) * sy)"
            " / sqrt(cast((m * sxx - sx * sx) * (m * syy - sy * sy) as double))"
            " + 0.5) as bigint)"
        ).alias("autocorr_ppm"),
    )


def stats_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law in exact
    ppm — the synthetic-data / entry-error audit.  The digit is taken
    from the DECIMAL STRING of the rounded value (pure string op — no
    log10 float path), observed shares are integer ppm, and the
    expected shares are the inlined BENFORD_PPM constant table (shared
    verbatim with the oracle), so the deviation column is exact integer
    arithmetic end to end.

    Scale shape: one map-side-combined digit count; the 9-row constant
    join is a literal inline table.
    """
    v = (
        load_table(spark, sf_dir, "events")
        .select(F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("vd"))
        .where(F.col("vd") >= 1)
        .select(F.substring(F.col("vd").cast("string"), 1, 1).cast("int").alias("digit"))
    )
    obs = v.groupBy("digit").agg(F.count("*").alias("c"))
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d + 1} THEN {p}" for d, p in enumerate(BENFORD_PPM)
    ) + " END"
    tot = obs.agg(F.sum("c").alias("n"))
    return (
        obs.join(F.broadcast(tot))
        .select(
            "digit",
            "c",
            F.expr("(1000000 * c) div n").alias("obs_ppm"),
            F.expr(exp_case).cast("long").alias("benford_ppm"),
        )
        .withColumn("dev_ppm", F.expr("abs(obs_ppm - benford_ppm)"))
    )


def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum test between every pair of event types'
    value distributions — the nonparametric sibling of stats_ks_distance
    for the drift gate (reference analogue: StixToNeoDB emits per-type
    populations whose parity we audit; StixToNeoDB.scala:24-38).

    Everything stays integer: values are discretized like KS
    (floor(v+0.5)); tied ranks use DOUBLED midranks
    dm = 2·cum_before + c_pool + 1 (always odd/even integer, never a
    .5 float), so the rank sum R2 = Σ c_a·dm is exact int64 and
    U2 = R2 − n_a·(n_a+1) is exactly twice the U statistic.  The
    readout is the common-language effect size (AUC) in ppm:
    1e6·U2 div (2·n_a·n_b) — pure integer division on both engines.

    Scale shape: the per-(type,value) count is ONE map-side-combined
    agg over the facts; the pair grid is (types² × distinct values) —
    distribution-summary scale — and the cumsum window runs there,
    partitioned per pair.  int64 bound: R2 ≤ 2n², safe to n≈2e9 per
    type (decimal past that).
    """
    v = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("vd")
    )
    c = v.groupBy("event_type", "vd").agg(F.count("*").alias("c"))
    tot = v.groupBy("event_type").agg(F.count("*").alias("n"))
    pairs = tot.select(F.col("event_type").alias("ta"), F.col("n").alias("na")).join(
        tot.select(F.col("event_type").alias("tb"), F.col("n").alias("nb")),
        F.col("ta") < F.col("tb"),
    )
    # per-pair union of value rows, pivoted to (ca, cb) — only values
    # present in either side (midranks don't need the dense grid KS does);
    # the types² pair grid is the broadcast side, the value counts stream
    sides = c.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")),
    )
    grid = sides.groupBy("ta", "tb", "na", "nb", "vd").agg(
        F.sum(F.expr("if(event_type = ta, c, 0)")).alias("ca"),
        F.sum(F.expr("if(event_type = tb, c, 0)")).alias("cb"),
    )
    w = (
        Window.partitionBy("ta", "tb")
        .orderBy("vd")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        grid.withColumn("cum_before", F.coalesce(F.sum(F.expr("ca + cb")).over(w), F.lit(0)))
        .withColumn("dm", F.expr("2 * cum_before + (ca + cb) + 1"))
        .groupBy("ta", "tb", "na", "nb")
        .agg(F.sum(F.expr("ca * dm")).alias("r2a"))
        .select(
            "ta",
            "tb",
            F.expr("r2a - na * (na + 1)").alias("u2"),
            F.expr("(1000000 * (r2a - na * (na + 1))) div (2 * na * nb)").alias("auc_ppm"),
        )
    )


MI_BUCKET = 50  # value-bucket width for the mutual-information grid


def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event_type and the bucketed
    value — the feature-selection / leakage audit next to
    stats_chi2_independence (chi2 says "dependent?", MI says "how many
    bits does one leak about the other").

    Counts are exact integers; the only float is the final
    Σ (nxy/n)·ln(nxy·n/(nx·ny)) assembled from identical integer-ratio
    expression trees on both engines and rounded to 6 dp (the PMI
    precedent: a 1-ulp libm ln divergence is 9 orders below the
    rounding grain).  H(x) and H(y) ship alongside so the oracle also
    checks the normalization ceiling MI ≤ min(H(x), H(y)).

    Scale shape: one map-side-combined (x,y) count over the facts; the
    MI sum runs at contingency-grid scale (types × buckets).  The
    marginals come from re-aggregating the grid, never a second fact
    scan.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        (F.floor(F.col("value") + F.lit(0.5)).cast("long") / F.lit(MI_BUCKET))
        .cast("long")
        .alias("y"),
    )
    nxy = e.groupBy("x", "y").agg(F.count("*").alias("nxy"))
    nx = nxy.groupBy("x").agg(F.sum("nxy").alias("nx"))
    ny = nxy.groupBy("y").agg(F.sum("nxy").alias("ny"))
    n = nxy.agg(F.sum("nxy").alias("n"))
    joint = (
        nxy.join(F.broadcast(nx), "x")
        .join(F.broadcast(ny), "y")
        .join(F.broadcast(n))
    )
    mi_term = (
        "(cast(nxy as double) / n)"
        " * ln(cast(nxy as double) * n / (cast(nx as double) * ny))"
    )
    hx_term = "(cast(nx as double) / n) * ln(cast(n as double) / nx)"
    hy_term = "(cast(ny as double) / n) * ln(cast(n as double) / ny)"
    mi = joint.agg(
        F.round(F.sum(F.expr(mi_term)), 6).alias("mi_nats"),
        F.max("n").alias("n"),
    )
    hx = nx.join(F.broadcast(n)).agg(F.round(F.sum(F.expr(hx_term)), 6).alias("h_x"))
    hy = ny.join(F.broadcast(n)).agg(F.round(F.sum(F.expr(hy_term)), 6).alias("h_y"))
    return mi.join(F.broadcast(hx)).join(F.broadcast(hy)).select(
        "n", "mi_nats", "h_x", "h_y"
    )


def stats_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detector per event type: the time-ordered
    cumulative deviation from the series mean, S_t = Σ_{i≤t}(x_i − x̄),
    peaks exactly at the most likely single changepoint.  Kept in the
    cross-multiplied integer form D_t = n·cum_t − t·total (never a
    float mean), so argmax|D_t| and the magnitude are exact; ties break
    to the EARLIEST t.  Readout ppm normalizes by the series' total
    mass: 1e6·|D|max div (n·total).

    Scale shape: the fact scan projects (type, ts, value); the cumsum
    is a per-type ordered window (series scale after the project);
    argmax is a row_number()=1 filter on the same partitioning — one
    shuffle total, no self-join.  int64: n·cum ≤ n²·x̄ — decimal swap
    at sf where n_type·total > 9e18.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("x"),
    )
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    stat = (
        e.withColumn("t", F.row_number().over(wt))
        .withColumn(
            "cum", F.sum("x").over(wt.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("n", F.count("*").over(Window.partitionBy("event_type")))
        .withColumn(
            "total", F.sum("x").over(Window.partitionBy("event_type"))
        )
        .withColumn("d", F.expr("abs(n * cum - t * total)"))
    )
    pick = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("d"), F.asc("t"))
    )
    return (
        stat.withColumn("rk", pick)
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            "n",
            F.col("t").alias("t_star"),
            F.col("ts").alias("ts_star"),
            F.col("d").alias("d_max"),
            F.expr("(1000000 * d) div (n * total)").alias("mag_ppm"),
        )
    )


SEASONAL_Z = 3       # flag |x - mean| > Z sigma within the (type, hour) cell
SEASONAL_MIN_N = 30  # cells thinner than this can't estimate a baseline


def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal outlier detection: each event judged against the
    hour-of-day baseline OF ITS OWN (type, hour) cell — the
    time-of-day-aware sibling of agg_anomaly_zscore (a value normal at
    peak hour is anomalous at 4am; a flat global z-score can't see
    that).

    The 3σ test never materializes a float mean or σ: with exact cell
    moments (n, s = Σx, sxx = Σx²) the condition |x − s/n| > Z·σ is the
    cross-multiplied integer inequality
        (n·x − s)² > Z² · (n·sxx − s²)
    — exact int64 end-to-end.  Cells below SEASONAL_MIN_N rows are
    skipped (no stable baseline).

    Scale shape: the baseline is ONE map-side-combined agg at
    (types × 24) summary scale, broadcast back over the fact scan —
    zero extra shuffles on the facts; the output is only the
    anomalous rows.  int64: (n·x)² — decimal swap when a cell's
    n·max(x) exceeds 3e9.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("x"),
    )
    base = e.groupBy("event_type", "hr").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    z2 = SEASONAL_Z * SEASONAL_Z
    return (
        e.join(F.broadcast(base), ["event_type", "hr"])
        .where(
            (F.col("n") >= SEASONAL_MIN_N)
            & F.expr(f"(n * x - s) * (n * x - s) > {z2} * (n * sxx - s * s)")
        )
        .select(
            "event_id",
            "event_type",
            "hr",
            "x",
            "n",
            F.expr("(n * x - s) * (n * x - s)").alias("dev2_scaled"),
            F.expr(f"{z2} * (n * sxx - s * s)").alias("thr_scaled"),
        )
    )


SCC_DOUBLINGS = 3  # closure covers paths up to length 2^3 = 8


def kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED event-type
    transition graph (the Markov chain's communicating classes): which
    behavioural states can reach each other and which are one-way
    absorbing flows — the directed complement of
    dedup_cluster_components' undirected union-find.

    Graph: edges are the above-average first-order transitions (count
    ≥ total div cells — data-relative, both engines re-derive it), so
    the chain has genuine structure instead of the complete graph.
    Reachability is the reflexive-transitive closure via PATH DOUBLING
    (R ← R ∪ R∘R, SCC_DOUBLINGS rounds covers paths of length
    2^SCC_DOUBLINGS ≥ any |types|-node diameter); SCC(u) = {v :
    reach(u,v) ∧ reach(v,u)}, labeled by its minimum member.

    Scale shape: the alphabet is event-type scale (tiny) — every join
    broadcasts.  At entity scale this swaps to the alternating
    large-star/small-star form used by dedup_cluster_components; path
    doubling is the right shape when |V| is bounded and the chain is
    dense.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
    )
    cut = trans.agg(
        F.expr("sum(c) div count(*)").alias("cut")
    )
    edges = (
        trans.join(F.broadcast(cut))
        .where(F.col("c") >= F.col("cut"))
        .select("src", "dst")
    )
    nodes = (
        trans.select(F.col("src").alias("v"))
        .union(trans.select(F.col("dst").alias("v")))
        .distinct()
    )
    # reflexive closure seed, then SCC_DOUBLINGS path-doubling rounds
    reach = nodes.select(F.col("v").alias("src"), F.col("v").alias("dst")).union(
        edges
    ).distinct()
    for _ in range(SCC_DOUBLINGS):
        hop = (
            reach.alias("a")
            .join(
                reach.alias("b"),
                F.col("a.dst") == F.col("b.src"),
            )
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        reach = reach.union(hop).distinct()
    mutual = (
        reach.alias("f")
        .join(
            reach.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).alias("r"),
            ["src", "dst"],
        )
    )
    labeled = mutual.groupBy("src").agg(
        F.min("dst").alias("scc_id"), F.count("*").alias("scc_size")
    )
    return labeled.select(F.col("src").alias("v"), "scc_id", "scc_size")


def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: is the above/below-median
    sign sequence random in TIME ORDER, or clustered (a sorted or
    append-by-batch table) / alternating?  This is the row-order audit a
    training pipeline runs before trusting sequential reads as an
    implicit shuffle — exactly the failure mode of ingest-sorted data.

    Median is the exact lower median (rank ⌈n/2⌉ by value); ties AT the
    median drop (the classical treatment).  runs = 1 + #sign changes
    over (ts, event_id) order; the expected count E = (m + 2·n1·n2)/m
    (m = n1+n2) ships as exact integer ppm, and the verdict compares
    runs·m vs m + 2·n1·n2 cross-multiplied — no float anywhere.

    Scale shape: two per-type ordered windows (the median rank and the
    lag) on the SAME (type → ts) sort — one shuffle; everything after
    is summary scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("x"),
    )
    wv = Window.partitionBy("event_type").orderBy("x", "event_id")
    n_w = Window.partitionBy("event_type")
    med = (
        e.withColumn("rn", F.row_number().over(wv))
        .withColumn("n", F.count("*").over(n_w))
        .where(F.expr("rn = (n + 1) div 2"))
        .select("event_type", F.col("x").alias("med"))
    )
    signed = (
        e.join(F.broadcast(med), "event_type")
        .where(F.col("x") != F.col("med"))
        .withColumn("sgn", F.expr("if(x > med, 1, 0)"))
    )
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    runs = (
        signed.withColumn("prev", F.lag("sgn").over(wt))
        .groupBy("event_type")
        .agg(
            F.sum("sgn").alias("n1"),
            F.sum(F.expr("1 - sgn")).alias("n2"),
            (F.lit(1) + F.sum(F.expr("if(prev is not null and sgn <> prev, 1, 0)"))).alias("runs"),
        )
    )
    return runs.select(
        "event_type",
        "n1",
        "n2",
        "runs",
        F.expr("(1000000 * ((n1 + n2) + 2 * n1 * n2)) div (n1 + n2)").alias("e_runs_ppm"),
        F.expr(
            "case when runs * (n1 + n2) < (n1 + n2) + 2 * n1 * n2 then 'clustered'"
            " when runs * (n1 + n2) > (n1 + n2) + 2 * n1 * n2 then 'alternating'"
            " else 'exact' end"
        ).alias("verdict"),
    )


def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event_type × value-bucket
    contingency — the [0,1]-normalized companion to
    stats_chi2_independence's raw cells (chi² says "significant at this
    n"; V says "how strong regardless of n").

    χ² is assembled from exact integer moments: each cell contributes
    (n·nxy − nx·ny)² / (n·nx·ny) — integer numerator, the division is
    the only float — then V = sqrt(χ² / (n·min(r−1, c−1))).  Both
    rounded to 6 dp (sqrt/ln 1-ulp precedent).

    Scale shape: identical to stats_mutual_information — one
    map-side-combined (x,y) count, marginals re-aggregated from the
    grid, all broadcast joins.  int64: (n·nxy)² — decimal swap past
    ~3e9 facts.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        (F.floor(F.col("value") + F.lit(0.5)).cast("long") / F.lit(MI_BUCKET))
        .cast("long")
        .alias("y"),
    )
    nxy = e.groupBy("x", "y").agg(F.count("*").alias("nxy"))
    nx = nxy.groupBy("x").agg(F.sum("nxy").alias("nx"))
    ny = nxy.groupBy("y").agg(F.sum("nxy").alias("ny"))
    dims = nxy.agg(
        F.sum("nxy").alias("n"),
        F.countDistinct("x").alias("r"),
        F.countDistinct("y").alias("c"),
    )
    cell = (
        "cast((n * nxy - nx * ny) as double) * (n * nxy - nx * ny)"
        " / (cast(n as double) * nx * ny)"
    )
    # χ² sums over the DENSE r×c grid — zero-observed cells still
    # contribute E = nx·ny/n (the whole point of the test); the grid is
    # marginal×marginal summary scale, built by cross join + left join
    dense = (
        nx.crossJoin(ny)
        .join(nxy, ["x", "y"], "left")
        .fillna(0, subset=["nxy"])
    )
    return (
        dense.join(F.broadcast(dims))
        .agg(
            F.max("n").alias("n"),
            F.max("r").alias("r"),
            F.max("c").alias("c"),
            F.round(F.sum(F.expr(cell)), 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.sum(F.expr(cell))
                    / F.expr("cast(max(n) as double) * least(max(r) - 1, max(c) - 1)")
                ),
                6,
            ).alias("cramers_v"),
        )
    )


def events_burst_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold burst detection over the hourly rate series — the
    deterministic hysteresis core of Kleinberg-style burst mining: a
    burst ARMS at the first hour ≥ 2× the type's mean hourly rate and
    holds while hours stay ≥ 1× (dropping below the low bar ends it) —
    the classic trick that keeps one noisy dip from splitting a real
    burst.

    Sequential state becomes gaps-and-islands: ≥lo hours form islands
    (hour_id − row_number() run key); a burst is the island SUFFIX from
    its first ≥hi hour.  Both thresholds are cross-multiplied integer
    tests (c·n_hours vs total, vs 2·total) — no float rate anywhere.

    Scale shape: the hourly count is ONE map-side-combined agg; islands
    and suffixes are per-type windows at series scale (hours, not
    facts); per-type totals ride a broadcast join.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, timestamp'2024-01-01 00:00:00',"
            " date_trunc('hour', ts))"
        ).alias("hour_id"),
    )
    c = e.groupBy("event_type", "hour_id").agg(F.count("*").alias("c"))
    tot = c.groupBy("event_type").agg(
        F.sum("c").alias("total"), F.count("*").alias("n_hours")
    )
    flagged = (
        c.join(F.broadcast(tot), "event_type")
        .where(F.expr("c * n_hours >= total"))  # >= lo bar
        .withColumn("is_hi", F.expr("c * n_hours >= 2 * total"))
    )
    wt = Window.partitionBy("event_type").orderBy("hour_id")
    isl = flagged.withColumn(
        "isl", F.col("hour_id") - F.row_number().over(wt)
    )
    wi = Window.partitionBy("event_type", "isl")
    return (
        isl.withColumn(
            "first_hi", F.min(F.when(F.col("is_hi"), F.col("hour_id"))).over(wi)
        )
        .where(F.col("hour_id") >= F.col("first_hi"))
        .groupBy("event_type", "first_hi")
        .agg(
            F.min("hour_id").alias("burst_start"),
            F.max("hour_id").alias("burst_end"),
            F.count("*").alias("n_hours_burst"),
            F.max("c").alias("peak_per_hour"),
            F.sum("c").alias("n_events_burst"),
        )
        .drop("first_hi")
    )


def kg_directed_triads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed triad census of the transition graph: transitive wedges
    (a→b→c closed by the shortcut a→c — hierarchy / pipeline structure)
    vs cyclic triangles (a→b→c→a — feedback loops), the two closed
    3-node motifs whose ratio separates DAG-like provenance flows from
    oscillating behaviour.  Same above-average edge cut as kg_scc (both
    engines re-derive it from the data); self-loops excluded.

    Cycles are emitted once per triangle (counted at the lexicographic
    minimum rotation); transitive wedges once per (a,b,c) instance.

    Scale shape: the alphabet is event-type scale — broadcast joins
    end to end.  At entity scale this is the standard two-path +
    closing-edge semi-join with the edge list repartitioned by src
    (the kg_triangle_count shape), unchanged semantics.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
    )
    cut = trans.agg(F.expr("sum(c) div count(*)").alias("cut"))
    edges = (
        trans.join(F.broadcast(cut))
        .where((F.col("c") >= F.col("cut")) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
    )
    ab = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    two_path = ab.join(bc, "b").where(F.col("a") != F.col("c"))
    closed_t = two_path.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("c")), ["a", "c"]
    )
    closed_c = two_path.join(
        edges.select(F.col("src").alias("c"), F.col("dst").alias("a")), ["a", "c"]
    ).where((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
    nt = closed_t.agg(F.count("*").alias("n_transitive"))
    nc = closed_c.agg(F.count("*").alias("n_cyclic"))
    return nt.join(F.broadcast(nc))


def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Theil-Sen robust trend: the MEDIAN of all pairwise
    slopes over the (hour-of-day, mean value) profile — immune to the
    outlier hours that drag stats_linreg_by_group's OLS line (the
    published robust-regression companion; same input grid).

    y per cell is the truncating integer micro-mean (1e6·Σx div n —
    spec'd identically both engines); each pair (x1<x2) yields the
    exact fraction (num = y2−y1, den = x2−x1).  The median picks by
    ordering on the DOUBLE quotient — a SINGLE IEEE division of
    identical operands is bit-identical across engines (no sums, no
    libm) — with (num, den) integer tie-breaks, rank (cnt+1) div 2.

    Scale shape: the profile is (types × 24) summary scale; the pair
    grid is 24²/2 per type — driver-invisible, window-ranked per type.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("v"),
    )
    prof = e.groupBy("event_type", "x").agg(
        F.expr("(1000000 * sum(v)) div count(*)").alias("y")
    )
    a = prof.select("event_type", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = prof.select("event_type", F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = a.join(b, "event_type").where(F.col("x1") < F.col("x2")).select(
        "event_type",
        (F.col("y2") - F.col("y1")).alias("num"),
        (F.col("x2") - F.col("x1")).alias("den"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.expr("cast(num as double) / den"), "num", "den"
    )
    ranked = pairs.withColumn("rn", F.row_number().over(wr)).withColumn(
        "cnt", F.count("*").over(Window.partitionBy("event_type"))
    )
    return ranked.where(F.expr("rn = (cnt + 1) div 2")).select(
        "event_type",
        F.col("num").alias("slope_num_micro"),
        F.col("den").alias("slope_den_hours"),
        F.round(F.expr("cast(num as double) / den"), 6).alias("slope_micro_per_hour"),
    )


# -- survival / attribution / recsys / rank-correlation (8th continuation) --

KM_SCALE = 1_000_000


KM_GAP_S = 1800  # session boundary: >30 min of silence


def stats_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over SESSION lifetimes (first→last
    event of each 30-min-gap session, whole minutes), right-censored
    for sessions still open in the final fifth of the observation
    window — the survival view of engagement that sessionize_events
    feeds as raw segments.

    Exactness: the survival recurrence S_i = S_{i-1}·(n_i−d_i) div n_i
    runs in INTEGER micro-units, so there is no float product to drift
    between engines; the DuckDB oracle replays the identical recurrence
    with a recursive CTE over the same ordered death table.

    Distribution: session assembly is the sessionize window (one
    user-key shuffle), then the death table collapses to ≤ distinct
    duration-minutes rows (bounded, summary-scale); ONLY that tiny
    table is collected for the O(rows) driver recurrence, like the IVF
    seed collect.  Risk sets come from one cumulative window over it,
    not from rescanning sessions.
    """
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    span = e.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    ).collect()[0]
    horizon = span["t1"] - (span["t1"] - span["t0"]) // 5
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.select("user_id", "ts", "event_id", F.unix_timestamp("ts").alias("s"))
        .withColumn("prev_s", F.lag("s").over(w))
        .withColumn(
            "new_sess",
            (F.col("prev_s").isNull() | (F.col("s") - F.col("prev_s") > KM_GAP_S))
            .cast("long"),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.min("s").alias("first_s"), F.max("s").alias("last_s")
    ).select(
        F.expr("(last_s - first_s) div 60").alias("dur_min"),
        (F.col("last_s") < F.lit(horizon)).cast("long").alias("event"),
    )
    counts = (
        per_sess.groupBy("dur_min")
        .agg(F.count("*").alias("n_at"), F.sum("event").alias("d"))
        .orderBy("dur_min")
    )
    rows = counts.collect()
    total = sum(r["n_at"] for r in rows)
    out, at_risk, s = [], total, KM_SCALE
    for r in rows:
        if r["d"] > 0:  # death times only; censor-only times just shrink risk
            s = s * (at_risk - r["d"]) // at_risk
            out.append((int(r["dur_min"]), int(at_risk), int(r["d"]), int(s)))
        at_risk -= r["n_at"]
    schema = T.StructType(
        [
            T.StructField("t_minutes", T.LongType()),
            T.StructField("n_risk", T.LongType()),
            T.StructField("d", T.LongType()),
            T.StructField("surv_micro", T.LongType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def attribution_position_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each purchase
    conversion splits 1.0 of credit over the user's touchpoints since
    the previous purchase — 40% first touch, 40% last, 20% spread over
    the middles (integer micro-credits; div remainders land on the last
    touch so every path sums to exactly 1e6; 1-touch paths get all of
    it, 2-touch paths split 50/50).  Conversions with zero touchpoints
    (first-event purchases, back-to-back purchases) are emitted under a
    synthetic ``(direct)`` channel carrying their full 1e6 credit, so
    total attributed credit reconciles to n_conversions x 1e6 exactly.

    Distribution: everything is windows over the user-key partitioning
    (purchase counter, path position fore/aft) plus one broadcast-size
    join of per-user purchase indices — no new shuffle shape; the final
    per-channel agg is map-side combined to |channels| rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tagged = e.withColumn("is_p", (F.col("event_type") == "purchase").cast("long"))
    # touches carry the count of purchases strictly before them; purchase
    # k (0-based p_before) closes path k.
    tagged = tagged.withColumn(
        "p_before",
        F.coalesce(
            F.sum("is_p").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    touches = tagged.where(F.col("is_p") == 0).select(
        "user_id", "ts", "event_id", "event_type", F.col("p_before").alias("path_id")
    )
    convs = tagged.where(F.col("is_p") == 1).select(
        "user_id", F.col("p_before").alias("path_id")
    )
    path = touches.join(convs, ["user_id", "path_id"])
    wp = Window.partitionBy("user_id", "path_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id", "path_id")
    pos = (
        path.withColumn("pos", F.row_number().over(wp))
        .withColumn("m", F.count("*").over(wn))
    )
    credit = (
        F.when(F.col("m") == 1, F.lit(1_000_000))
        .when(F.col("m") == 2,
              F.when(F.col("pos") == 1, F.lit(500_000)).otherwise(F.lit(500_000)))
        .when(F.col("pos") == 1, F.lit(400_000))
        .when(
            F.col("pos") == F.col("m"),
            F.lit(400_000) + F.lit(200_000) - (F.col("m") - 2) * F.expr("200000 div (m - 2)"),
        )
        .otherwise(F.expr("200000 div (m - 2)"))
    )
    touched = (
        pos.withColumn("credit_micro", credit.cast("long"))
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count("*").alias("n_touches"),
            F.sum((F.col("pos") == 1).cast("long")).alias("n_first"),
            F.sum((F.col("pos") == F.col("m")).cast("long")).alias("n_last"),
            F.sum("credit_micro").alias("credit_micro_total"),
        )
    )
    # Zero-touch conversions (no rows in `touches` for their path) —
    # broadcast-anti against the distinct touched paths, then one row.
    direct = (
        convs.join(
            touches.select("user_id", "path_id").distinct(),
            ["user_id", "path_id"],
            "left_anti",
        )
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 0)
        .select(
            F.lit("(direct)").alias("channel"),
            F.col("n").alias("n_touches"),
            F.col("n").alias("n_first"),
            F.col("n").alias("n_last"),
            (F.col("n") * F.lit(1_000_000)).alias("credit_micro_total"),
        )
    )
    return touched.unionByName(direct)


RECSYS_TOP_K = 5


def recsys_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over market baskets: orders are
    baskets, parts are items, and each item's top-5 neighbors rank by
    binary cosine n_ab / sqrt(n_a·n_b) — the classic co-purchase
    similarity behind 'users also bought'.

    Parity: cos_micro = floor(1e6·n_ab / sqrt(n_a·n_b) + 0.5) is one
    IEEE-exact integer product, one correctly-rounded sqrt, and one
    correctly-rounded division — bit-identical across engines, ties
    break on neighbor id.

    Distribution: the pair expansion self-joins lineitem on l_orderkey,
    so its cost is Σ basket² — bounded because baskets are small (≤7
    lines in TPC-H; cap-and-log any pathological basket upstream).  The
    pair agg shuffles on (a,b) with map-side combine; item supports
    broadcast back onto the pair table; per-item top-k is one ranked
    window.  Nothing is collected.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inc = li.distinct()  # binary incidence
    sup = inc.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").alias("n_item")
    )
    a = inc.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("ia"))
    b = inc.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("ib"))
    pairs = (
        a.join(b, "o")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("n_common"))
    )
    sym = pairs.union(
        pairs.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"), "n_common")
    )
    joined = (
        sym.join(F.broadcast(sup.withColumnRenamed("item", "ia")
                             .withColumnRenamed("n_item", "na")), "ia")
        .join(F.broadcast(sup.withColumnRenamed("item", "ib")
                          .withColumnRenamed("n_item", "nb")), "ib")
        .withColumn(
            "cos_micro",
            F.expr(
                "cast(floor((1000000 * n_common) / sqrt(cast(na * nb as double))"
                " + 0.5) as bigint)"
            ),
        )
    )
    wr = Window.partitionBy("ia").orderBy(F.desc("cos_micro"), "ib")
    return (
        joined.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= RECSYS_TOP_K)
        .select(
            F.col("ia").alias("item_id"),
            F.col("ib").alias("neighbor_item_id"),
            "rank",
            "cos_micro",
            "n_common",
        )
    )


def stats_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between hour-of-day and the hourly mean
    value, per event type — the monotonic-association companion to
    stats_linreg_by_group (OLS) and stats_theil_sen (robust slope) on
    the same 24-point profile.

    Ties use average ranks, carried as EXACT integer double-ranks
    (2·avg_rank = 2·rank() + ties − 1); Pearson on the double-ranks is
    pure integer sums (24 points → no overflow) and the ONLY float op
    is the final num / sqrt(d1·d2) division, rounded to 6 places
    identically in both engines.

    Distribution: same shape as theil_sen — a (types × 24)-row profile
    after one map-side-combined agg; the rank windows and correlation
    agg run on summary-scale data.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("v"),
    )
    prof = e.groupBy("event_type", "x").agg(
        F.expr("(1000000 * sum(v)) div count(*)").alias("y")
    )
    wx = Window.partitionBy("event_type").orderBy("x")
    wy = Window.partitionBy("event_type").orderBy("y")
    cx = Window.partitionBy("event_type", "x")
    cy = Window.partitionBy("event_type", "y")
    ranked = prof.select(
        "event_type",
        (2 * F.rank().over(wx) + F.count("*").over(cx) - 1).alias("a"),
        (2 * F.rank().over(wy) + F.count("*").over(cy) - 1).alias("b"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_points"),
        F.round(
            F.expr(
                "cast(n * sab - sa * sb as double)"
                " / sqrt(cast((n * saa - sa * sa) as double)"
                "        * cast((n * sbb - sb * sb) as double))"
            ),
            6,
        ).alias("spearman_rho"),
    )


COMPACT_BINS = 16


def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: stream documents in doc_id order
    into target-size output files (target = corpus bytes div 16 + 1,
    data-derived), assigning each doc to bin = bytes-before div target —
    the greedy sequential packer behind every lakehouse OPTIMIZE /
    rewriteDataFiles job.  Pure integer plan: both engines land every
    doc in the same bin.

    Output: the per-bin manifest (file count, bytes, id range, fill
    ppm) a compactor would execute.

    Scale shape: the running byte total is a global ordered window at
    plan-audit scale; the documented 100-TB swap is the repo's two-pass
    bucketed prefix sum (range-partition by doc_id, partition-local
    cumsum + bucket-total carry — events_max_concurrency's shape).  The
    final manifest agg is map-side combined to 16 rows.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tot = d.agg(F.expr(f"sum(n_chars) div {COMPACT_BINS} + 1").alias("target"))
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = (
        d.withColumn("cum", F.sum("n_chars").over(w))
        .join(F.broadcast(tot))
        .withColumn("bin", F.expr("(cum - n_chars) div target"))
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_files"),
        F.sum("n_chars").alias("bytes"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.expr("(1000000 * sum(n_chars)) div max(target)").alias("fill_ppm"),
    )


# -- agreement / forecasting / CEP / robust means (8th continuation, pt 4) --

FLEISS_RATERS = 3
FLEISS_CATS = 3
FLEISS_NOISE_MOD = 5  # 1-in-5 ratings replaced by hash noise


def stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among 3 annotators on
    a 3-category labeling task, the multi-rater generalization of
    stats_cohens_kappa.  Ratings are synthesized deterministically
    (md5 idiom: rater r mostly reports doc_id mod 3, with 1-in-5
    ratings replaced by hash noise) so both engines derive the same
    rating matrix; in production the table arrives from the annotation
    tool and only the estimator runs.

    The whole estimator is EXACT integer algebra: with A = Σ_i Σ_j
    n_ij², B = Σ_j c_j², N items, r raters — kappa = (rN(A−rN) −
    (r−1)·? ) — concretely for the common-denominator form used here,
    num = 3N(A−3N) − 2B and den = 18N² − 2B, and the ONLY float op is
    the final single division (round 6).

    Distribution: the rating explode is 3× narrow; per-item category
    counts ride one doc-key shuffle; A, B, N are two map-side-combined
    scalar aggs — nothing grows with corpus size except the scan.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    r_ids = ",".join(str(r) for r in range(FLEISS_RATERS))
    rated = d.select(
        "doc_id", F.explode(F.expr(f"array({r_ids})")).alias("r")
    ).select(
        "doc_id",
        F.expr(
            f"""CASE WHEN conv(substr(md5(concat('fk:', r, ':', doc_id)), 1, 6),
                          16, 10) % {FLEISS_NOISE_MOD} = 0
                 THEN cast(conv(substr(md5(concat('fk:', r, ':', doc_id)), 7, 6),
                          16, 10) % {FLEISS_CATS} as bigint)
                 ELSE doc_id % {FLEISS_CATS} END"""
        ).alias("cat"),
    )
    cell = rated.groupBy("doc_id", "cat").agg(F.count("*").alias("nij"))
    per_item = cell.groupBy("doc_id").agg(F.sum(F.expr("nij * nij")).alias("sq"))
    a_n = per_item.agg(
        F.sum("sq").alias("a"), F.count("*").alias("n_items")
    )
    b_tab = cell.groupBy("cat").agg(F.sum("nij").alias("cj"))
    b_agg = b_tab.agg(F.sum(F.expr("cj * cj")).alias("b"))
    return (
        a_n.join(b_agg)
        .select(
            "n_items",
            F.lit(FLEISS_RATERS).cast("long").alias("n_raters"),
            F.expr("(1000000 * (a - 3 * n_items)) div (6 * n_items)").alias(
                "pbar_ppm"
            ),
            F.expr("(1000000 * b) div (9 * n_items * n_items)").alias("pe_ppm"),
            F.round(
                F.expr(
                    "cast(3 * n_items * (a - 3 * n_items) - 2 * b as double)"
                    " / cast(18 * n_items * n_items - 2 * b as double)"
                ),
                6,
            ).alias("fleiss_kappa"),
        )
    )


HOLT_ALPHA_M = 300  # alpha = 0.3 in milli
HOLT_BETA_M = 200   # beta  = 0.2 in milli
HOLT_H = 3          # forecast horizon (hours)


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics BOTH SQL
    engines implement (Spark `div`, DuckDB `//`), unlike Python's
    flooring `//` which differs on negative operands (trend terms go
    negative on falling series)."""
    q = a // b
    if q < 0 and q * b != a:
        q += 1
    return q


def _holt_integer(series_milli):
    """Holt's linear-trend recurrence in EXACT milli-integer arithmetic
    (identical to the oracle's recursive CTE; _tdiv = SQL div):
      l_t = (300·y_t + 700·(l+b)) div 1000
      b_t = (200·(l_t − l_prev) + 800·b) div 1000
    init l = y_0, b = y_1 − y_0.  Returns (level, trend).
    """
    l, b = series_milli[0], series_milli[1] - series_milli[0]
    for y in series_milli[1:]:
        l_new = _tdiv(HOLT_ALPHA_M * y + (1000 - HOLT_ALPHA_M) * (l + b), 1000)
        b = _tdiv(HOLT_BETA_M * (l_new - l) + (1000 - HOLT_BETA_M) * b, 1000)
        l = l_new
    return l, b


def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing of the hourly
    event-count series per type, with a 3-hour-ahead forecast — the
    level+trend companion to events_ewma_hourly (level only) and the
    input a capacity planner actually wants.

    Gaps in the hour grid are dense-filled with zero counts (a missing
    hour IS a zero observation for arrival counts).  The recurrence is
    EXACT milli-integer (see _holt_integer); the oracle replays it as a
    recursive CTE over the same dense grid, so the parity check covers
    init, every smoothing step, and the h·b forecast extrapolation.

    Distribution: the hourly agg is map-side combined to |types|×|hours|
    rows (bounded summary scale); ONLY that is collected for the O(T)
    driver fold — the KM/Bradley-Terry collect pattern.  Types with
    fewer than 2 grid hours are skipped (no trend is estimable).
    """
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.expr(
                "(unix_timestamp(date_trunc('hour', ts))"
                " - unix_timestamp(timestamp '2024-01-01 00:00:00')) div 3600"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("y"))
        .collect()
    )
    by_type: dict = {}
    for r in hourly:
        by_type.setdefault(r["event_type"], {})[int(r["h"])] = int(r["y"])
    out = []
    for et in sorted(by_type):
        grid = by_type[et]
        mn, mx = min(grid), max(grid)
        if mx == mn:
            continue
        series = [1000 * grid.get(h, 0) for h in range(mn, mx + 1)]
        level, trend = _holt_integer(series)
        fc = [level + h * trend for h in range(1, HOLT_H + 1)]
        out.append((et, len(series), level, trend, fc[0], fc[1], fc[2]))
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_hours", T.LongType()),
            T.StructField("level_milli", T.LongType()),
            T.StructField("trend_milli", T.LongType()),
            T.StructField("forecast1_milli", T.LongType()),
            T.StructField("forecast2_milli", T.LongType()),
            T.StructField("forecast3_milli", T.LongType()),
        ]
    )
    return spark.createDataFrame(out, schema)


def events_regex_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing readout: each user's journey is the
    ordered string of event-type initials (c/v/p/s/e), scanned with
    regexes — error storms ('ee+'), error-then-recovered purchases
    ('e+p'), and signup-first journeys — the MATCH_RECOGNIZE-lite that
    funnels can't express (funnel_user_steps counts milestones, not
    adjacency patterns).

    Parity: journey assembly is an ordered string agg with the full
    (ts, event_id) tie-break; both engines' regex scans are leftmost
    non-overlapping on the same deterministic string.

    Distribution: one user-key shuffle builds the journey (array_sort
    of collected structs — bounded by per-user event count, the same
    envelope sessionize carries); the regex counters are per-row
    codegen.  At 100 TB journey length is the thing to cap — chunk by
    (user, day) exactly like corpus_chunk_documents if users run hot.
    """
    e = load_table(spark, sf_dir, "events")
    j = (
        e.groupBy("user_id")
        .agg(
            F.expr(
                "concat_ws('', transform("
                "array_sort(collect_list(struct(ts, event_id,"
                " substring(event_type, 1, 1) as ini))), x -> x.ini))"
            ).alias("journey")
        )
    )
    return j.select(
        "user_id",
        F.length("journey").cast("long").alias("journey_len"),
        F.regexp_count(F.col("journey"), F.lit("ee+")).cast("long").alias(
            "n_error_storms"
        ),
        F.regexp_count(F.col("journey"), F.lit("e+p")).cast("long").alias(
            "n_recovered_purchases"
        ),
        F.col("journey").startswith("s").cast("long").alias("signup_first"),
    )


WINSOR_TRIM_DECI = 10  # trim n div 10 rows from each tail


def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed and winsorized means of event value per type — the
    robust-location pair next to agg_anomaly_mad (scale) and
    agg_weighted_median: trim drops the top/bottom n div 10 rows,
    winsorize clamps them to the cut values.

    Values quantize to EXACT milli integers (one correctly-rounded
    multiply + floor, identical cross-engine); ranks carry the
    (v, event_id) total order so the cut is deterministic; every mean
    is an integer div at micro scale.

    Distribution: one rank window per type (the same sort
    agg_value_quantiles already pays), then a single agg with
    conditional sums — no second pass, no collect.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v_milli"),
    )
    w = Window.partitionBy("event_type").orderBy("v_milli", "event_id")
    ranked = e.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    ranked = ranked.withColumn("k", F.expr(f"n div {WINSOR_TRIM_DECI}"))
    agg = ranked.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        F.max("k").alias("n_trimmed_each"),
        F.sum(F.expr("CASE WHEN rn > k AND rn <= n - k THEN v_milli END")).alias(
            "sum_mid"
        ),
        F.sum(F.expr("CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END")).alias(
            "cnt_mid"
        ),
        F.max(F.expr("CASE WHEN rn = k + 1 THEN v_milli END")).alias("lo_clamp_milli"),
        F.max(F.expr("CASE WHEN rn = n - k THEN v_milli END")).alias("hi_clamp_milli"),
    )
    return agg.select(
        "event_type",
        "n_rows",
        "n_trimmed_each",
        "lo_clamp_milli",
        "hi_clamp_milli",
        F.expr("(1000 * sum_mid) div cnt_mid").alias("trimmed_mean_micro"),
        F.expr(
            "(1000 * (sum_mid + n_trimmed_each * (lo_clamp_milli + hi_clamp_milli)))"
            " div n_rows"
        ).alias("winsor_mean_micro"),
    )


def stats_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy of the event-type Markov chain —
    how predictable the NEXT event is from the current one, the
    information-theoretic reading of events_transition_matrix (same
    transition extraction).  States with H ≈ 0 are deterministic
    funnels; H ≈ ln(|types|) is noise.

    Per source state i: π in exact ppm (occupancy among transition
    sources) and H_i = Σ_j (n_ij/n_i)·ln(n_i/n_ij) nats, round-6 — the
    stats_mutual_information float idiom (per-state sums are ≤|types|
    terms, so partial-order noise sits far below the rounding).

    Distribution: one lead() window per user (the transition-matrix
    shuffle), a (src,dst) map-side agg to ≤|types|² rows, then
    summary-scale arithmetic.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("nij"))
    )
    ni = trans.groupBy("src").agg(
        F.sum("nij").alias("n_out"), F.count("*").alias("n_dst")
    )
    tot = trans.agg(F.sum("nij").alias("n_total"))
    joined = trans.join(ni, "src").join(F.broadcast(tot))
    return joined.groupBy("src", "n_out", "n_dst", "n_total").agg(
        F.round(
            F.sum(
                (F.col("nij").cast("double") / F.col("n_out"))
                * F.log(F.col("n_out").cast("double") / F.col("nij"))
            ),
            6,
        ).alias("h_state_nats")
    ).select(
        F.col("src").alias("event_type"),
        "n_out",
        "n_dst",
        F.expr("(1000000 * n_out) div n_total").alias("pi_ppm"),
        "h_state_nats",
    )


def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness / completeness SLA monitor per event type: staleness
    (minutes since the stream's last row at the corpus watermark),
    hour-grid coverage against the GLOBAL observation window, and the
    longest silent gap — the table a lakehouse on-call actually pages
    on, next to dq_constraint_violations (row-level) and
    profile_table_stats (column-level).

    Everything is exact integer: hour ids via epoch-seconds div 3600,
    coverage in ppm, gaps from one lag() over the per-type observed
    hour set (summary scale).

    Distribution: one (type, hour) map-side agg rides the scan; the
    global window bounds are a broadcast 1-row aggregate; the gap
    window runs over ≤ |types|×|hours| rows.
    """
    e = load_table(spark, sf_dir, "events")
    hours = e.select(
        "event_type",
        F.expr("unix_timestamp(ts) div 3600").alias("h"),
        F.unix_timestamp("ts").alias("s"),
    )
    glob = hours.agg(
        F.min("h").alias("gmn"), F.max("h").alias("gmx"), F.max("s").alias("gmax_s")
    )
    per_hour = hours.groupBy("event_type", "h").agg(F.max("s").alias("last_s"))
    wg = Window.partitionBy("event_type").orderBy("h")
    gaps = per_hour.withColumn("prev_h", F.lag("h").over(wg))
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("observed_hours"),
        F.max("last_s").alias("last_s"),
        F.max(
            F.when(F.col("prev_h").isNotNull(), F.col("h") - F.col("prev_h") - 1)
        ).alias("max_gap_hours"),
    )
    return agg.join(F.broadcast(glob)).select(
        "event_type",
        "observed_hours",
        (F.col("gmx") - F.col("gmn") + 1).alias("expected_hours"),
        (F.col("gmx") - F.col("gmn") + 1 - F.col("observed_hours")).alias(
            "missing_hours"
        ),
        F.expr(
            "(1000000 * observed_hours) div (gmx - gmn + 1)"
        ).alias("coverage_ppm"),
        F.coalesce("max_gap_hours", F.lit(0)).alias("max_gap_hours"),
        F.expr("(gmax_s - last_s) div 60").alias("staleness_minutes"),
    )


def stats_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity concentration, per event
    type — the inequality reading of profile_key_skew (is 'purchase'
    driven by everyone or by three whales?).  Rank form over ascending
    activity: G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx), EXACT integer ppm
    (tie order between equal x values cannot change Σ i·x_i).

    Distribution: per-(type,user) counts ride one map-side-combined
    shuffle; the rank window runs per type over |users| summary rows;
    the final agg is |types| rows.
    """
    e = load_table(spark, sf_dir, "events")
    act = e.groupBy("event_type", "user_id").agg(F.count("*").alias("x"))
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = act.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("x").alias("n_events"),
            F.sum(F.expr("cast(i as bigint) * x")).alias("six"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            F.expr(
                "(1000000 * (2 * six - (n_users + 1) * n_events))"
                " div (n_users * n_events)"
            ).alias("gini_ppm"),
        )
    )


def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (each reading holds
    until the next one) versus the naive row mean — the pair that
    exposes sampling bias: a sensor that reports often while high drags
    the row mean up but not the TWAP.

    Exact integers: values in milli, holds in whole seconds, so the
    integral Σ v_milli·dt_s fits int64 through ~10^12 value-seconds per
    type (document the DECIMAL(38) swap past that); one final div per
    mean.  The last reading contributes no interval (no successor).

    Distribution: one lead() window per type rides the (type)-key
    sort; everything after is a map-side-combined agg to |types| rows.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v_milli"),
        F.unix_timestamp("ts").alias("s"),
        "ts",
        "event_id",
    ).withColumn("next_s", F.lead(F.unix_timestamp("ts")).over(w))
    agg = seq.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        (F.max("s") - F.min("s")).alias("span_s"),
        F.sum(
            F.when(
                F.col("next_s").isNotNull(),
                F.col("v_milli") * (F.col("next_s") - F.col("s")),
            )
        ).alias("integral"),
        F.sum("v_milli").alias("sum_v"),
    )
    return agg.where(F.col("span_s") > 0).select(
        "event_type",
        "n_rows",
        "span_s",
        F.expr("(1000 * integral) div span_s").alias("twap_micro"),
        F.expr("(1000 * sum_v) div n_rows").alias("row_mean_micro"),
    )


TTC_QUANTS = (25, 50, 75, 90)


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase conversion latency: conversion rate plus
    exact rank-based latency percentiles (type-1 quantiles: value at
    rank ceil(q·n div 100)) — the funnel_user_steps companion that
    answers 'how long', not just 'how many'.

    Exact integers end to end: latencies in whole minutes, quantile
    ranks by ceiling division, ppm rate.

    Distribution: two conditional mins ride one user-key agg; the
    percentile pick is a rank window over |converted-users| summary
    rows (the agg_value_quantiles shape).
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_timestamp("ts"))
        ).alias("first_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_timestamp("ts"))
        ).alias("first_purchase"),
    )
    signed = per_user.where(F.col("first_signup").isNotNull())
    conv = signed.where(
        F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_signup"))
    ).select(
        "user_id",
        F.expr("(first_purchase - first_signup) div 60").alias("lat_min"),
    )
    n_signed = signed.count()
    wq = Window.orderBy("lat_min", "user_id")
    ranked = conv.withColumn("rn", F.row_number().over(wq)).withColumn(
        "n", F.count("*").over(Window.partitionBy())
    )
    picks = [
        F.max(
            F.when(
                F.expr(f"rn = ({q} * n + 99) div 100"),  # integer ceil(q·n/100)
                F.col("lat_min"),
            )
        ).alias(f"p{q}_min")
        for q in TTC_QUANTS
    ]
    return ranked.agg(
        F.max("n").alias("n_converted"),
        F.lit(n_signed).cast("long").alias("n_signed_up"),
        F.expr(f"(1000000 * max(n)) div {n_signed}").alias("conversion_ppm"),
        *picks,
    )


MARKOV_ITERS = 6


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by fixed
    power iteration (π ← πP, MARKOV_ITERS steps from uniform) next to
    the EMPIRICAL source occupancy — when the two diverge the chain is
    far from mixed and funnel position matters; the long-run companion
    to stats_entropy_rate (same transition extraction).

    The |types|² probability matrix lives as a DataFrame of exact
    per-row divisions p_ij = n_ij/n_i (identical cross-engine); each
    iteration is a tiny join+agg and the oracle unrolls the SAME fixed
    steps (kg_pagerank's float round-6 idiom — partial-sum order noise
    sits ~1e-15, far under the rounding).

    Distribution: one lead() window per user; after the (src,dst) agg
    everything is |types|-scale — iterations cost |types|² rows each,
    driver-invisible.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("nij"))
    )
    ni = trans.groupBy("src").agg(F.sum("nij").alias("n_out"))
    p = trans.join(ni, "src").select(
        "src", "dst", (F.col("nij").cast("double") / F.col("n_out")).alias("pij")
    ).localCheckpoint(eager=True)
    states = p.select(F.col("src").alias("state")).distinct().localCheckpoint(
        eager=True
    )
    n_states = states.count()
    tot = trans.agg(F.sum("nij").alias("n_total"))
    emp = trans.groupBy("src").agg(F.sum("nij").alias("n_src"))

    pi = states.withColumn("pi", F.lit(1.0 / n_states))
    for _ in range(MARKOV_ITERS):
        pi = (
            p.join(pi, pi.state == p.src)
            .groupBy(F.col("dst").alias("state"))
            .agg(F.sum(F.col("pi") * F.col("pij")).alias("pi"))
            .localCheckpoint(eager=True)
        )
    return (
        pi.join(emp, pi.state == emp.src)
        .join(F.broadcast(tot))
        .select(
            F.col("state").alias("event_type"),
            F.round("pi", 6).alias("pi_stationary"),
            F.expr("(1000000 * n_src) div n_total").alias("pi_empirical_ppm"),
        )
    )


def events_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (≥1 purchase) between
    the deterministic A/B assignment user_id mod 2 — the
    experimentation readout every product pipeline ends in.  On the
    synthetic corpus the split is null by construction, so |z| should
    sit inside ±3; the machinery (pooled variance, the z formula) is
    what the oracle locks.

    Parity: counts are exact integers; the z expression is ONE shared
    tree of IEEE ops on identical integer inputs (each /, *, sqrt is
    correctly rounded → identical), round-6.

    Distribution: one user-key agg (conversion bit) then a 2-row
    variant agg — scan-bound.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv")
    )
    byv = per_user.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count("*").alias("n"), F.sum("conv").alias("c")
    )
    a = byv.where(F.col("variant") == 0).select(
        F.col("n").alias("na"), F.col("c").alias("ca")
    )
    b = byv.where(F.col("variant") == 1).select(
        F.col("n").alias("nb"), F.col("c").alias("cb")
    )
    return a.join(b).select(
        "na",
        "ca",
        "nb",
        "cb",
        F.expr("(1000000 * ca) div na").alias("rate_a_ppm"),
        F.expr("(1000000 * cb) div nb").alias("rate_b_ppm"),
        F.round(
            F.expr(
                # degenerate experiments (0% or 100% pooled conversion)
                # have zero pooled variance: z is undefined -> NULL
                "CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN NULL ELSE "
                "(cast(ca as double) / na - cast(cb as double) / nb)"
                " / sqrt((cast(ca + cb as double) / (na + nb))"
                "        * (1.0 - cast(ca + cb as double) / (na + nb))"
                "        * (1.0 / na + 1.0 / nb)) END"
            ),
            6,
        ).alias("z_score"),
    )


# -- bloom sketch / kendall / RFM / zone-map pruning (8th cont., pt 8) ------

BLOOM_M = 4096  # bits
BLOOM_K = 3     # hash functions


def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch with a measured-vs-theoretical
    false-positive readout — the third mergeable sketch next to
    sketch_hll_union_contract (cardinality) and sketch_count_min_tokens
    (frequency).  Members are the even-doc_id texts; the filter is the
    DISTINCT set of k=3 md5-derived bit positions; probing ALL docs
    must find every member (no false negatives — the Bloom guarantee)
    and some odd docs (false positives), measured against the exact
    integer bound (1e6·s³) div m³ for s set bits.

    Everything is integer/portable (md5 positions, set joins) — the
    oracle replays the identical filter build and probe.

    Distribution: the bit-position set is ≤ m rows (broadcast side);
    build and probe are each one narrow explode + join; at 100 TB the
    filter would be built with a real bitset aggregate per partition +
    OR-merge, which this spec models exactly (DISTINCT positions = the
    OR of partial bitsets).
    """
    d = load_table(spark, sf_dir, "documents")
    khash = F.array(
        *[
            F.expr(
                f"cast(conv(substr(md5(concat('{i}:', md5(text))), 1, 6),"
                f" 16, 10) as bigint) % {BLOOM_M}"
            )
            for i in range(BLOOM_K)
        ]
    )
    tagged = d.select(
        "doc_id", khash.alias("pos"), (F.col("doc_id") % 2 == 0).alias("is_member")
    )
    bits = (
        tagged.where("is_member")
        .select(F.explode("pos").alias("p"))
        .distinct()
        .withColumn("set_", F.lit(1))
    )
    probed = (
        tagged.select("doc_id", "is_member", F.explode("pos").alias("p"))
        .join(F.broadcast(bits), "p", "left")
        .groupBy("doc_id", "is_member")
        .agg(F.sum(F.coalesce("set_", F.lit(0))).alias("n_hit"))
        .withColumn("found", (F.col("n_hit") == BLOOM_K).cast("long"))
    )
    n_bits = bits.count()
    return probed.agg(
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.lit(BLOOM_M).cast("long").alias("m_bits"),
        F.lit(n_bits).cast("long").alias("n_bits_set"),
        F.sum(F.when(F.col("is_member"), F.col("found"))).alias("true_positives"),
        F.sum(F.when(~F.col("is_member"), F.col("found"))).alias("false_positives"),
        F.sum((~F.col("is_member")).cast("long")).alias("n_non_members"),
    ).select(
        "n_members",
        "m_bits",
        "n_bits_set",
        "true_positives",
        "false_positives",
        F.expr("(1000000 * false_positives) div n_non_members").alias("fpr_ppm"),
        F.expr(
            f"(1000000 * n_bits_set * n_bits_set * n_bits_set)"
            f" div (cast({BLOOM_M} as bigint) * {BLOOM_M} * {BLOOM_M})"
        ).alias("theo_fpr_ppm"),
    )


def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between hour-of-day and the hourly mean-value
    profile, per event type — the concordance-counting companion to
    stats_spearman_rank on the same 24-point grid (τ is the
    probability-of-agreement reading; more robust to single swaps).

    C, D and tie counts are EXACT integers over the x1<x2 pair grid;
    x (hours) is tie-free by construction so τ-b = (C−D)/sqrt(n0·(n0−n2))
    with n0 = n(n−1)/2 and n2 = Σ t(t−1)/2 ties in y — one final
    division+sqrt, round 6.

    Distribution: same summary-scale shape as theil_sen — the pair
    grid is 24²/2 per type after one map-side-combined profile agg.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("v"),
    )
    prof = e.groupBy("event_type", "x").agg(
        F.expr("(1000000 * sum(v)) div count(*)").alias("y")
    )
    a = prof.select("event_type", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = prof.select("event_type", F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = a.join(b, "event_type").where(F.col("x1") < F.col("x2"))
    agg = pairs.groupBy("event_type").agg(
        F.count("*").alias("n0"),
        F.sum((F.col("y2") > F.col("y1")).cast("long")).alias("n_concordant"),
        F.sum((F.col("y2") < F.col("y1")).cast("long")).alias("n_discordant"),
        F.sum((F.col("y2") == F.col("y1")).cast("long")).alias("n_tied_y"),
    )
    np_ = prof.groupBy("event_type").agg(F.count("*").alias("n_points"))
    return agg.join(np_, "event_type").select(
        "event_type",
        "n_points",
        "n_concordant",
        "n_discordant",
        "n_tied_y",
        F.round(
            F.expr(
                "cast(n_concordant - n_discordant as double)"
                " / sqrt(cast(n0 as double) * cast(n0 - n_tied_y as double))"
            ),
            6,
        ).alias("kendall_tau"),
    )


RFM_BINS = 5


def users_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every purchasing user scored 1-5 on Recency
    (days since last purchase, recent = high), Frequency (purchase
    count) and Monetary (purchase value), segment = 100R + 10F + M —
    the marketing-standard cohorting that retention_cohorts and
    funnel_time_to_convert don't give.

    Scores are ntile(5) with full deterministic tie-breaks (user_id),
    so the binning is exact; monetary sums ride milli integers.

    Distribution: one user-key agg (the funnel shuffle), three ntile
    windows over |purchasers| summary rows, then a ≤125-row segment
    ledger with exact ppm shares.
    """
    e = load_table(spark, sf_dir, "events")
    wm = e.agg(F.max(F.unix_timestamp("ts")).alias("wm")).collect()[0]["wm"]
    pu = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_timestamp("ts")).alias("last_s"),
            F.count("*").alias("f"),
            F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias(
                "m_milli"
            ),
        )
        .withColumn("r_days", F.expr(f"({wm} - last_s) div 86400"))
    )
    scored = (
        pu.withColumn(
            "r_score",
            F.ntile(RFM_BINS).over(Window.orderBy(F.desc("r_days"), "user_id")),
        )
        .withColumn(
            "f_score", F.ntile(RFM_BINS).over(Window.orderBy("f", "user_id"))
        )
        .withColumn(
            "m_score", F.ntile(RFM_BINS).over(Window.orderBy("m_milli", "user_id"))
        )
    )
    tot = pu.count()
    return (
        scored.groupBy(
            F.expr("cast(100 * r_score + 10 * f_score + m_score as bigint)").alias(
                "segment"
            )
        )
        .agg(
            F.count("*").alias("n_users"),
            F.expr("(1000 * sum(f)) div count(*)").alias("mean_f_milli"),
            F.expr("(1000 * sum(m_milli)) div count(*)").alias("mean_m_micro"),
        )
        .withColumn("share_ppm", F.expr(f"(1000000 * n_users) div {tot}"))
    )


ZONE_PROBES = 8


def layout_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max) file-skipping simulation over the compaction
    bins, contrasting TWO layouts: documents packed in doc_id order
    (the naive compactor) versus packed after sorting by the probed
    column (the clustered layout) — for each probe value, how many bins
    a point query could skip.  THE demonstration of why data layout is
    a query-performance feature: identical data, identical bins,
    ~zero pruning unclustered vs ~all-but-one bin clustered.

    Probes are the 9 integer lattice points of the global [min,max]
    n_chars range; everything is exact integer.

    Distribution: both layouts reuse layout_compaction_bins' global
    ordered window (audit scale; two-pass prefix sum at 100 TB); the
    zone-map table is 2×16 rows and the probe join is a broadcast
    cross of 9 values.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tot = d.agg(
        F.expr(f"sum(n_chars) div {COMPACT_BINS} + 1").alias("target"),
        F.min("n_chars").alias("vmin"),
        F.max("n_chars").alias("vmax"),
    )
    zone_rows = []
    for layout, order_cols in (
        ("id_order", [F.col("doc_id")]),
        ("value_order", [F.col("n_chars"), F.col("doc_id")]),
    ):
        w = Window.orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        binned = (
            d.withColumn("cum", F.sum("n_chars").over(w))
            .join(F.broadcast(tot))
            .withColumn("bin", F.expr("(cum - n_chars) div target"))
        )
        zones = binned.groupBy("bin").agg(
            F.min("n_chars").alias("zmin"), F.max("n_chars").alias("zmax")
        ).withColumn("layout", F.lit(layout))
        zone_rows.append(zones)
    zones = zone_rows[0].unionByName(zone_rows[1])
    probes = (
        tot.select("vmin", "vmax")
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {ZONE_PROBES}),"
                    f" k -> vmin + (k * (vmax - vmin)) div {ZONE_PROBES})"
                )
            ).alias("probe_value")
        )
        .distinct()
    )
    hit = zones.join(F.broadcast(probes)).withColumn(
        "cand",
        (
            (F.col("probe_value") >= F.col("zmin"))
            & (F.col("probe_value") <= F.col("zmax"))
        ).cast("long"),
    )
    return hit.groupBy("layout", "probe_value").agg(
        F.count("*").alias("n_bins"),
        F.sum("cand").alias("n_candidate_bins"),
        F.expr("(1000000 * (count(*) - sum(cand))) div count(*)").alias(
            "pruned_ppm"
        ),
    )


# -- TPC-H shapes / variance ratio / streak islands (8th cont., pt 9) -------

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    supplier share the nation, inside one region and one order year —
    the canonical 6-table star-join Catalyst must reorder (region →
    nation are broadcast dims; orders carries the selective date
    filter; lineitem is the fact).

    Money follows the repo's exact-decimal idiom (DECIMAL(18,2) sums →
    round 2 → double), so partial-agg order can't move a cent.

    Scale shape: region/nation/customer/supplier broadcast (explicitly
    hinted); orders⋈lineitem is the only real shuffle, on l_orderkey,
    with the date filter pushed to the orders scan; the
    c_nationkey = s_nationkey equality rides the fact row once both
    keys are attached — no second fact shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


Q18_QTY_FLOOR = 300


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind orders whose total line
    quantity exceeds the floor — the agg-then-semi-join pattern (the
    inner aggregate feeds the outer join's filter, the classic
    'find the whales' query).

    Quantities are exact decimals; the qty filter applies to the
    AGGREGATED order, not rows, so the inner groupBy must run first —
    Catalyst keeps it as one shuffle on l_orderkey reused by the
    orders join (same key).  Customer is broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(_dec("l_quantity")), 2).alias("total_qty"))
        .where(F.col("total_qty") > Q18_QTY_FLOOR)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate_s"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


def stats_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-homogeneity readout: per event type, the F ratio of its
    value variance to the variance of ALL OTHER types pooled — the
    gate before any pooled-variance test (the A/B z-test included).

    Exact integer moments both sides (n·Σx² − (Σx)² cross-multiplied
    form over floor(value+0.5) ints); the final F is one shared
    double expression, round 6; groups of size < 2 on either side are
    NULL.

    Distribution: ONE map-side-combined per-type moment agg; the
    'rest' moments are the broadcast global totals minus the type's
    own — no second scan, no self-join.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("x")
    )
    per = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("sx").alias("tsx"), F.sum("sxx").alias("tsxx")
    )
    j = per.join(F.broadcast(tot))
    return j.select(
        "event_type",
        "n",
        (F.col("tn") - F.col("n")).alias("n_rest"),
        F.round(
            F.expr(
                "CASE WHEN n < 2 OR tn - n < 2"
                "       OR (tn - n) * (tsxx - sxx) = (tsx - sx) * (tsx - sx)"
                " THEN NULL ELSE"
                " (cast(n * sxx - sx * sx as double) / (cast(n as double) * (n - 1)))"
                " / (cast((tn - n) * (tsxx - sxx) - (tsx - sx) * (tsx - sx) as double)"
                "    / (cast(tn - n as double) * (tn - n - 1))) END"
            ),
            6,
        ).alias("f_ratio"),
    )


def events_islands_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity streaks per user: contiguous runs of ACTIVE DAYS via the
    gaps-and-islands day − dense-rank trick — n streaks, the longest
    streak, total active days — the engagement summary retention grids
    don't expose (a 7-day streak and 7 scattered days look identical
    to retention_cohorts).

    Pure integer date arithmetic (days since epoch), fully
    deterministic.

    Distribution: distinct (user, day) rides one user-key shuffle
    (days per user is bounded by the window); the island window and
    final agg run on that summary set.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.expr("datediff(cast(ts as date), date '1970-01-01')").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("isl", F.col("d") - F.row_number().over(w))
    per_isl = isl.groupBy("user_id", "isl").agg(F.count("*").alias("len"))
    return per_isl.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("len").alias("longest_streak_days"),
    )


# -- DAU/WAU / SCD2 point-in-time / kNN outliers (8th cont., pt 10) ---------

WAU_DAYS = 7


def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness per day — the product-health triple
    (stickiness = DAU/WAU, 'how many weekly users show up today').
    Early days use the partial lookback window (spec'd identically in
    the oracle), so day one has stickiness 1 by construction.

    Distribution: distinct (user, day) rides one shuffle and is
    SUMMARY scale (users × days); the 7-day lookback is a bounded
    range join against the day grid (fan-out ≤ 7), then one
    count-distinct per day — no sliding-window state, no second scan
    of the corpus.
    """
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        "user_id",
        F.expr("datediff(cast(ts as date), date '1970-01-01')").alias("d"),
    ).distinct()
    grid = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    wau = (
        du.alias("u")
        .join(
            grid.alias("g"),
            (F.col("u.d") <= F.col("g.d"))
            & (F.col("u.d") > F.col("g.d") - WAU_DAYS),
        )
        .groupBy(F.col("g.d").alias("d"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").alias("day_id"),
            "dau",
            "wau",
            F.expr("(1000000 * dau) div wau").alias("stickiness_ppm"),
        )
    )


def join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 history: for every purchase,
    the dimension row valid ONE MICROSECOND BEFORE it — 'what was this
    user doing when they decided to buy' — the provenance join every
    warehouse runs against its type-2 dimensions, composed directly on
    scd2_user_history's output (the oracle re-derives the identical
    history as a CTE, so the composition is verified end to end).

    Purchases with no prior state (first action of the user) land in
    the '(none)' bucket — the honest cold-start row.

    Distribution: history and probes share the user_id key, so the
    interval join is a co-partitioned join with per-user fan-out
    bounded by run count; the readout agg is |types|+1 rows.
    """
    hist = scd2_user_history(spark, sf_dir).select(
        F.col("user_id").alias("h_uid"),
        F.col("event_type").alias("prior_state"),
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("vf"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("vt"),
        "n_events",
    )
    probes = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("p_us")
        )
        .withColumn("probe_us", F.col("p_us") - 1)
    )
    j = probes.join(
        hist,
        (F.col("user_id") == F.col("h_uid"))
        & (F.col("vf") <= F.col("probe_us"))
        & (F.col("vt").isNull() | (F.col("probe_us") < F.col("vt"))),
        "left",
    )
    return j.groupBy(
        F.coalesce(F.col("prior_state"), F.lit("(none)")).alias("prior_state")
    ).agg(
        F.count("*").alias("n_purchases"),
        F.expr("(1000 * sum(coalesce(n_events, 0))) div count(*)").alias(
            "mean_run_events_milli"
        ),
    )


KNN_OUT_K = 5          # score = cosine to the 5th nearest neighbor
KNN_OUT_DECI = 10      # bottom n div 10 by score are flagged outliers
KNN_AUDIT_MAX_ROWS = 200_000  # above this the IVF candidate tier takes over


def _quantize_micro(emb_col):
    """floor(x*1e6+0.5) component quantization shared by both knn tiers
    and the k-center greedy — the integer basis of the portable score."""
    import numpy as np  # noqa: PLC0415

    def q(col):
        return np.floor(
            np.stack([np.asarray(v, dtype=np.float64) for v in col]) * 1_000_000
            + 0.5
        ).astype(np.int64)

    return q(emb_col)


def _knn_outliers_ivf(spark: SparkSession, emb: DataFrame, n_total: int) -> DataFrame:
    """Corpus tier of ``embedding_knn_outliers``: IVF-probed candidates,
    bounded driver footprint (centroids only — never the corpus).

    Vectors whose probed cells yield fewer than KNN_OUT_K candidates
    score against their last available neighbor (rank = min(K, cnt));
    a vector with zero candidates (alone in every probed cell) drops
    out of the scored set — both are one-sided like the candidate
    thinning itself."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from stixtoneodb_spark.operators.similarity import (  # noqa: PLC0415
        IVF_NPROBE,
        _ivf_train,
    )

    base = emb.select("vec_id", "embedding")
    live_ids, C1 = _ivf_train(base)
    C1n = C1 / np.maximum(np.linalg.norm(C1, axis=1, keepdims=True), 1e-30)

    def assign_and_probe(batches):
        # member cell (argmax) + probed cells (top-nprobe) in one pass;
        # kind=0 rows are memberships, kind=1 rows are probes.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-30)
            sims = vn @ C1n.T
            order = np.lexsort(
                (np.tile(np.arange(len(live_ids)), (len(pdf), 1)), -sims)
            )
            member = live_ids[order[:, 0]]
            nprobe = min(IVF_NPROBE, len(live_ids))
            out_v, out_c, out_k = [], [], []
            for i, vid in enumerate(pdf["vec_id"]):
                out_v.append(int(vid)); out_c.append(int(member[i])); out_k.append(0)
                for j in range(nprobe):
                    out_v.append(int(vid))
                    out_c.append(int(live_ids[order[i, j]]))
                    out_k.append(1)
            yield pd.DataFrame({"vec_id": out_v, "cell": out_c, "kind": out_k})

    ac = base.mapInPandas(
        assign_and_probe, schema="vec_id long, cell int, kind int"
    ).persist()
    members = ac.where(F.col("kind") == 0).select(
        F.col("vec_id").alias("nbr_id"), "cell"
    )
    probes = ac.where(F.col("kind") == 1).select("vec_id", "cell")
    pairs = (
        probes.join(members, "cell")
        .where(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "nbr_id")
        .distinct()  # a neighbor reachable via several probed cells counts once
    )
    with_vecs = (
        pairs.join(base, "vec_id")
        .join(
            base.select(
                F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("nbr_emb")
            ),
            "nbr_id",
        )
    )

    def pair_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qa = _quantize_micro(pdf["embedding"])
            qb = _quantize_micro(pdf["nbr_emb"])
            dots = (qa * qb).sum(axis=1)
            na = np.sqrt((qa * qa).sum(axis=1).astype(np.float64))
            nb = np.sqrt((qb * qb).sum(axis=1).astype(np.float64))
            cos = dots / (na * nb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "nbr_id": pdf["nbr_id"],
                    "cos_micro": np.floor(1_000_000 * cos + 0.5).astype(np.int64),
                }
            )

    scored_pairs = with_vecs.mapInPandas(
        pair_score, schema="vec_id long, nbr_id long, cos_micro long"
    )
    wk = Window.partitionBy("vec_id").orderBy(F.desc("cos_micro"), "nbr_id")
    wc = Window.partitionBy("vec_id")
    kth = (
        scored_pairs.withColumn("rk", F.row_number().over(wk))
        .withColumn("cnt", F.count("*").over(wc))
        .where(F.col("rk") == F.least(F.lit(KNN_OUT_K), F.col("cnt")))
        .select(
            "vec_id",
            F.col("nbr_id").alias("nn_id"),
            F.col("cos_micro").alias("nn_cos_micro"),
        )
    )
    cut = n_total // KNN_OUT_DECI
    w = Window.orderBy("nn_cos_micro", "vec_id")
    out = kth.withColumn("rn", F.row_number().over(w)).select(
        "vec_id",
        "nn_id",
        "nn_cos_micro",
        (F.col("rn") <= cut).cast("long").alias("is_outlier"),
    )
    ac.unpersist()
    return out


def embedding_knn_outliers(
    spark: SparkSession, sf_dir: str, audit_max_rows: int = KNN_AUDIT_MAX_ROWS
) -> DataFrame:
    """kNN-distance outlier detection over the embedding corpus: each
    vector's score is its cosine to its 5th nearest neighbor (low =
    isolated), and the bottom tenth by score is flagged — the
    unsupervised anomaly screen run before clustering or dedup trusts
    the geometry.

    Parity: cosines come from GRAM_SCALE-quantized INTEGER components
    (dot = Σ q_a·q_b exactly, int64 matmul in Spark, join-sum in SQL),
    so the score floor(1e6·dot/(√Σq_a²·√Σq_b²)+0.5) is bit-portable
    (correctly-rounded sqrt/div on identical integers) — unlike the
    raw-float ann tiers that only expose ranks.

    Distribution — two tiers on one score definition, switched on the
    corpus row count:

    * audit tier (n ≤ ``audit_max_rows``): the quantized matrix is the
      broadcast side (the ann_cosine_topk pattern); each Arrow batch
      computes its rows' k-th neighbor in one integer matmul.  This is
      the exact tier the DuckDB oracle replays (sf0.01 is far below the
      threshold).
    * corpus tier (n > ``audit_max_rows``): NO full-table collect — the
      driver holds only the IVF coarse quantizer (≤4096 x dim).  Every
      vector probes its ``IVF_NPROBE`` nearest cells; candidates are the
      probed cells' members (a cell-key equi join), pair scores are the
      same quantized integer cosine computed per Arrow batch, and the
      k-th neighbor is a per-vector rank window.  Approximation is
      one-sided: candidates ⊆ corpus, so the reported k-th-NN cosine is
      ≤ the exact one (pinned by tests/test_select_ext.py).

    The outlier cut is one rank window over vec-count rows in both
    tiers.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (Arrow batch frames)

    emb = load_table(spark, sf_dir, "embeddings")
    n_total = emb.count()
    if n_total > audit_max_rows:
        return _knn_outliers_ivf(spark, emb, n_total)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    q = np.stack(
        [
            np.floor(np.asarray(r["embedding"], dtype=np.float64) * 1_000_000 + 0.5)
            for r in rows
        ]
    ).astype(np.int64)
    norms = np.sqrt((q * q).sum(axis=1).astype(np.float64))

    def score_batch(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bidx = pdf["vec_id"].to_numpy()
            pos = {int(v): i for i, v in enumerate(ids)}
            sel = np.array([pos[int(v)] for v in bidx])
            dots = q[sel] @ q.T  # exact int64
            cos = dots / (norms[sel][:, None] * norms[None, :])
            out_id, out_nn, out_sc = [], [], []
            for r_i, v in enumerate(bidx):
                c = cos[r_i].copy()
                c[pos[int(v)]] = -np.inf
                order = np.lexsort((ids, -c))
                k_pos = order[KNN_OUT_K - 1]
                out_id.append(int(v))
                out_nn.append(int(ids[k_pos]))
                out_sc.append(int(np.floor(1_000_000 * c[k_pos] + 0.5)))
            yield pd.DataFrame(
                {"vec_id": out_id, "nn_id": out_nn, "nn_cos_micro": out_sc}
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score_batch, schema="vec_id long, nn_id long, nn_cos_micro long"
    )
    w = Window.orderBy("nn_cos_micro", "vec_id")
    cut = n_total // KNN_OUT_DECI
    return scored.withColumn("rn", F.row_number().over(w)).select(
        "vec_id",
        "nn_id",
        "nn_cos_micro",
        (F.col("rn") <= cut).cast("long").alias("is_outlier"),
    )


# -- cohort LTV / rate-shift test (8th cont., pt 11) ------------------------

def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users grouped by first-seen week, purchase
    value accumulated by cohort age in weeks — the money-weighted
    companion to retention_cohorts (same grid, value instead of
    presence) and the table growth teams actually plot.

    Exact integers end to end: weeks by integer division of epoch
    days, values in milli, the running total one ordered window per
    cohort over the tiny (cohort × age) grid, LTV-per-user in micro
    by integer division.

    Distribution: first-seen rides the user-key agg every funnel op
    reuses; the purchase scan joins the broadcast (user → cohort) map;
    the cumulative window runs on the summary grid.
    """
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.expr(
            "min(datediff(cast(ts as date), date '2024-01-01')) div 7"
        ).alias("cohort_week")
    )
    cohort_n = first.groupBy("cohort_week").agg(
        F.count("*").alias("n_cohort_users")
    )
    buys = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("datediff(cast(ts as date), date '2024-01-01') div 7").alias(
                "w"
            ),
            F.expr("cast(floor(value * 1000 + 0.5) as bigint)").alias("v_milli"),
        )
        .join(F.broadcast(first), "user_id")
        .withColumn("age_weeks", F.col("w") - F.col("cohort_week"))
    )
    grid = buys.groupBy("cohort_week", "age_weeks").agg(
        F.countDistinct("user_id").alias("n_buyers"),
        F.sum("v_milli").alias("period_value_milli"),
    )
    wc = Window.partitionBy("cohort_week").orderBy("age_weeks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.withColumn("cum_value_milli", F.sum("period_value_milli").over(wc))
        .join(F.broadcast(cohort_n), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "n_cohort_users",
            "n_buyers",
            "period_value_milli",
            "cum_value_milli",
            F.expr("(1000 * cum_value_milli) div n_cohort_users").alias(
                "ltv_per_user_micro"
            ),
        )
    )


def stats_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-shift test per event type: first half of the observation
    window vs second half — rate ratio in exact cross-multiplied ppm
    plus the binomial-split z (under H0 each event lands in half one
    with p = span1/span), the 'did traffic change' answer one level
    simpler than CUSUM's 'where'.

    Counts and spans are exact integers; the z is one shared double
    expression on them (round 6, NULL on empty types).

    Distribution: the split point is a broadcast 1-row aggregate; one
    conditional-count agg per type — a single scan.
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    j = e.select("event_type", F.unix_timestamp("ts").alias("s")).join(
        F.broadcast(bounds)
    )
    agg = j.groupBy("event_type").agg(
        F.sum(
            F.expr("cast(s < t0 + (t1 - t0) div 2 as long)")
        ).alias("c1"),
        F.count("*").alias("n"),
        F.max(F.expr("t1 - t0")).alias("span"),
    )
    return agg.select(
        "event_type",
        "c1",
        (F.col("n") - F.col("c1")).alias("c2"),
        F.expr(
            "CASE WHEN c1 > 0 THEN (1000000 * (n - c1)) div c1 ELSE NULL END"
        ).alias("rate_ratio_ppm"),
        F.round(
            F.expr(
                "CASE WHEN n = 0 THEN NULL ELSE"
                " (cast(c1 as double) - cast(n as double) / 2)"
                " / sqrt(cast(n as double) / 4) END"
            ),
            6,
        ).alias("z_shift"),
    )


# -- k-center selection / interval overlap / Pareto (8th cont., pt 12) ------

KCENTER_K = 8
KC_AUDIT_MAX_ROWS = 200_000  # above this the greedy runs on an IVF-thinned pool


def _kcenter_greedy(ids, q):
    """The shared greedy loop: integer-micro cosine sims over the given
    (id, quantized-vector) pool, farthest-first from the smallest id.
    Pool size bounds driver memory — the exact tier passes the corpus,
    the corpus tier passes per-cell representatives."""
    import numpy as np  # noqa: PLC0415

    norms = np.sqrt((q * q).sum(axis=1).astype(np.float64))
    dots = q @ q.T
    sim = np.floor(
        1_000_000 * (dots / (norms[:, None] * norms[None, :])) + 0.5
    ).astype(np.int64)

    n = len(ids)
    picked = [0]  # min vec_id = first after the sort
    out = [(1, int(ids[0]), 0)]
    maxsim = sim[0].copy()
    maxsim[0] = np.iinfo(np.int64).max
    for rk in range(2, min(KCENTER_K, n) + 1):
        mask = np.ones(n, dtype=bool)
        mask[picked] = False
        cand = np.where(mask)[0]
        best = cand[np.lexsort((ids[cand], maxsim[cand]))][0]
        out.append((rk, int(ids[best]), int(maxsim[best])))
        picked.append(int(best))
        maxsim = np.maximum(maxsim, sim[best])
        maxsim[picked] = np.iinfo(np.int64).max
    return out


def _kcenter_pool_ivf(emb: DataFrame):
    """Corpus tier pool: one representative per IVF cell (the member
    most similar to its refined centroid, ties → lowest vec_id) —
    ≤ IVF_CELLS_MAX rows ever reach the driver, everything else is one
    distributed assign pass."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from stixtoneodb_spark.operators.similarity import _ivf_train  # noqa: PLC0415

    base = emb.select("vec_id", "embedding")
    live_ids, C1 = _ivf_train(base)
    C1n = C1 / np.maximum(np.linalg.norm(C1, axis=1, keepdims=True), 1e-30)

    def assign_sim(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-30)
            sims = vn @ C1n.T
            best = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": live_ids[best],
                    "cent_cos": sims[np.arange(len(pdf)), best],
                    "embedding": pdf["embedding"],
                }
            )

    assigned = base.mapInPandas(
        assign_sim,
        schema="vec_id long, cell int, cent_cos double, embedding array<float>",
    )
    wr = Window.partitionBy("cell").orderBy(F.desc("cent_cos"), "vec_id")
    return (
        assigned.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("vec_id", "embedding")
    )


def corpus_select_diverse_kcenter(
    spark: SparkSession, sf_dir: str, audit_max_rows: int = KC_AUDIT_MAX_ROWS
) -> DataFrame:
    """Greedy k-center (farthest-first) diverse subset selection over
    the embedding corpus: seed at the smallest vec_id, then repeatedly
    add the vector whose MAXIMUM similarity to the picked set is
    smallest — the classic coverage heuristic behind diverse
    instruction-data selection (2-approximation of the k-center
    optimum).  The emitted per-pick coverage radius (maxsim to prior
    picks) is the curve a curator reads to choose k.

    Parity: similarities are the GRAM_SCALE-quantized integer cosines
    (knn-outliers spec), and every argmin compares those INTEGERS with
    id tie-breaks — the oracle unrolls the identical greedy steps, so
    any drift in the comparison order breaks the match.

    Distribution — two tiers on one greedy definition, switched on the
    corpus row count: at audit scale (n ≤ ``audit_max_rows``, the
    oracle tier) the pool IS the corpus; at corpus scale the pool
    arrives pre-thinned to one representative per IVF cell (member
    closest to its refined centroid — ``_kcenter_pool_ivf``), so at
    most IVF_CELLS_MAX rows ever reach the driver and the greedy loop
    runs on the pool exactly as below.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    pool = emb.select("vec_id", "embedding")
    if emb.count() > audit_max_rows:
        pool = _kcenter_pool_ivf(emb)
    rows = sorted(pool.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    q = np.stack(
        [
            np.floor(np.asarray(r["embedding"], dtype=np.float64) * 1_000_000 + 0.5)
            for r in rows
        ]
    ).astype(np.int64)
    out = _kcenter_greedy(ids, q)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("pick_rank", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("maxsim_prior_micro", T.LongType()),
        ]
    )
    return spark.createDataFrame(out, schema)


OVERLAP_TOP_K = 10


def join_interval_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: which USER PAIRS are repeatedly
    online together?  Sessions (30-min-gap, the KM subject) become
    [first, last]-second intervals; overlapping cross-user session
    pairs are counted per user pair and the top-10 'co-present' pairs
    ranked — the true theta-join (a.start ≤ b.end AND b.start ≤ a.end)
    that range_join_event_context's point-in-window form can't express.

    Scale shape: the theta join is bucketized to an EQUI join on the
    hour grid (each session explodes to its covered hours — bounded by
    session length), pairs dedupe on session ids before counting, so
    the shuffle carries (hour, session) rows instead of a cross
    product; the same decomposition IS the interval-join strategy at
    100 TB.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.select("user_id", "ts", "event_id", F.unix_timestamp("ts").alias("s"))
        .withColumn("prev_s", F.lag("s").over(w))
        .withColumn(
            "new_sess",
            (F.col("prev_s").isNull() | (F.col("s") - F.col("prev_s") > KM_GAP_S))
            .cast("long"),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.min("s").alias("a"), F.max("s").alias("b"))
    )
    hours = sess.select(
        "user_id",
        "sess_id",
        "a",
        "b",
        F.explode(F.expr("sequence(a div 3600, b div 3600)")).alias("h"),
    )
    l = hours.select(
        F.col("user_id").alias("u1"),
        F.col("sess_id").alias("s1"),
        F.col("a").alias("a1"),
        F.col("b").alias("b1"),
        "h",
    )
    r = hours.select(
        F.col("user_id").alias("u2"),
        F.col("sess_id").alias("s2"),
        F.col("a").alias("a2"),
        F.col("b").alias("b2"),
        "h",
    )
    pairs = (
        l.join(r, "h")
        .where(
            (F.col("u1") < F.col("u2"))
            & (F.col("a1") <= F.col("b2"))
            & (F.col("a2") <= F.col("b1"))
        )
        .select("u1", "s1", "u2", "s2")
        .distinct()
    )
    counts = pairs.groupBy("u1", "u2").agg(F.count("*").alias("n_overlaps"))
    wr = Window.orderBy(F.desc("n_overlaps"), "u1", "u2")
    return (
        counts.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= OVERLAP_TOP_K)
        .select(
            F.col("u1").alias("user_a"),
            F.col("u2").alias("user_b"),
            "n_overlaps",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def agg_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/80-20 revenue concentration: how few buyers carry 80% of
    purchase value, and what share the top 1% of buyers carries — the
    single-row inequality summary stats_gini_concentration's full
    curve collapses to for a dashboard.

    Exact integers: milli-value sums, rank by (value desc, user_id),
    the 80% cut via the cross-multiplied inequality 5·cum ≥ 4·total,
    shares in ppm.

    Distribution: one user agg, one ranked window over |buyers|
    summary rows, one scalar readout.
    """
    e = load_table(spark, sf_dir, "events")
    pu = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("cast(floor(value * 1000 + 0.5) as bigint)")).alias(
                "v_milli"
            )
        )
    )
    w = Window.orderBy(F.desc("v_milli"), "user_id")
    ranked = (
        pu.withColumn("rn", F.row_number().over(w))
        .withColumn("cum", F.sum("v_milli").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .withColumn("total", F.sum("v_milli").over(Window.partitionBy()))
    )
    return ranked.agg(
        F.max("n").alias("n_buyers"),
        F.max("total").alias("total_value_milli"),
        F.min(F.when(F.expr("5 * cum >= 4 * total"), F.col("rn"))).alias(
            "n_users_for_80pct"
        ),
        F.max(F.when(F.expr("rn = (n + 99) div 100"), F.col("cum"))).alias(
            "top1_cum_milli"
        ),
    ).select(
        "n_buyers",
        "total_value_milli",
        "n_users_for_80pct",
        F.expr("(1000000 * n_users_for_80pct) div n_buyers").alias(
            "share_users_for_80pct_ppm"
        ),
        F.expr("(1000000 * top1_cum_milli) div total_value_milli").alias(
            "top1pct_value_share_ppm"
        ),
    )


# -- lag correlation / rolling slope / bounce rate (8th cont., pt 13) -------

LAGCORR_MAX = 3
LAGCORR_X = "click"
LAGCORR_Y = "purchase"


def events_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of the click and purchase hourly series at lags
    −3..+3 — 'does click volume LEAD purchases by k hours?' — the
    lead/lag diagnostic stats_autocorr_lag1 (one series) and
    stats_correlation_matrix (no lag) can't answer.

    Both series are zero-filled over the GLOBAL hour grid; per lag the
    Pearson r uses exact integer moments over the n−|lag| aligned
    pairs, round-6 on the one final division.

    Distribution: two map-side hourly aggs, the dense grid is a
    summary-scale broadcast, and all 7 lags evaluate in ONE join pass
    (lag exploded as a column) — no per-lag rescans.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.where(F.col("event_type").isin(LAGCORR_X, LAGCORR_Y))
        .select(
            "event_type",
            F.expr(
                "(unix_timestamp(date_trunc('hour', ts))"
                " - unix_timestamp(timestamp '2024-01-01 00:00:00')) div 3600"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
    )
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        F.explode(F.expr("sequence(mn, mx)")).alias("h")
    )
    x = grid.join(
        hourly.where(F.col("event_type") == LAGCORR_X).select("h", "c"), "h", "left"
    ).select("h", F.coalesce("c", F.lit(0)).alias("x"))
    y = grid.join(
        hourly.where(F.col("event_type") == LAGCORR_Y).select("h", "c"), "h", "left"
    ).select(F.col("h").alias("hy"), F.coalesce("c", F.lit(0)).alias("y"))
    lags = spark.range(-LAGCORR_MAX, LAGCORR_MAX + 1).select(
        F.col("id").alias("lag")
    )
    pairs = (
        x.join(F.broadcast(lags))
        .join(y, F.col("hy") == F.col("h") + F.col("lag"))
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    return agg.select(
        "lag",
        "n_points",
        F.round(
            F.expr(
                "CASE WHEN n_points * sxx = sx * sx OR n_points * syy = sy * sy"
                " THEN NULL ELSE"
                " cast(n_points * sxy - sx * sy as double)"
                " / sqrt(cast(n_points * sxx - sx * sx as double)"
                "        * cast(n_points * syy - sy * sy as double)) END"
            ),
            6,
        ).alias("pearson_r"),
    )


ROLLREG_W = 6


def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope of the hourly count series per event type over
    a trailing 6-hour window — the local trend estimate a monitor
    plots next to events_ewma_hourly (level) and holt (global trend);
    only FULL windows emit (partial fits mislead).

    Exact integers: the slope is the cross-multiplied OLS numerator /
    denominator over (hour, count) ints inside each frame, read out as
    (1e6·num) div den.  Gap hours are zero observations (dense grid).

    Distribution: dense grid at summary scale; ONE ordered window per
    type computes all five rolling sums; no self-joins.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.expr(
                "(unix_timestamp(date_trunc('hour', ts))"
                " - unix_timestamp(timestamp '2024-01-01 00:00:00')) div 3600"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
    )
    tb = hourly.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = tb.select(
        "event_type", F.explode(F.expr("sequence(mn, mx)")).alias("h")
    )
    dense = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(ROLLREG_W - 1), 0)
    )
    rolled = (
        dense.withColumn("n", F.count("*").over(w))
        .withColumn("st", F.sum("h").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sty", F.sum(F.expr("h * y")).over(w))
        .withColumn("stt", F.sum(F.expr("h * h")).over(w))
        .where(F.col("n") == ROLLREG_W)
    )
    return rolled.select(
        "event_type",
        "h",
        "y",
        F.expr(
            "(1000000 * (n * sty - st * sy)) div (n * stt - st * st)"
        ).alias("slope_micro_per_hour"),
    )


WALK_STEPS = 4


def kg_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk counts from the seed entity: how many length-1..4 walks
    reach each vocabulary node from 'join' over the co-occurrence
    graph — the connection-strength profile behind kg_khop_reach's
    binary reachability (two nodes both 2 hops away can differ by
    1000× in walk count).

    Pure INTEGER matrix-vector powers (w_{k+1}(v) = Σ_{u→v} w_k(u)),
    unrolled identically in the oracle — no floats anywhere.

    Distribution: vocabulary-scale graph; each step is one edges⋈w
    join + groupBy — the pagerank loop shape with integer weights.
    """
    from stixtoneodb_spark.operators.graph import (
        KHOP_SEED,
        _cooccurrence_edges,
    )

    edges = _cooccurrence_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    w = nodes.withColumn(
        "w", F.when(F.col("node") == KHOP_SEED, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    outs = []
    for _k in range(1, WALK_STEPS + 1):
        w = (
            edges.join(w, w.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        outs.append(w.withColumnRenamed("w", f"walks{_k}"))
    res = nodes
    for k, o in enumerate(outs, start=1):
        res = res.join(o, "node", "left").withColumn(
            f"walks{k}", F.coalesce(F.col(f"walks{k}"), F.lit(0))
        )
    return res.select(
        F.col("node").alias("mention"),
        *[F.col(f"walks{k}") for k in range(1, WALK_STEPS + 1)],
    )


def agg_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session ENTRY event type: the share of 30-min-gap
    sessions that end after a single event, keyed by what the user did
    first — the landing-page health metric sessionize_events feeds.

    Exact integers (ppm rate, milli mean length); the entry event uses
    the full (ts, event_id) order tie-break.

    Distribution: the sessionize window (one user-key shuffle), a
    per-session agg at session cardinality, then |types| summary rows.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.select("user_id", "ts", "event_id", "event_type",
                 F.unix_timestamp("ts").alias("s"))
        .withColumn("prev_s", F.lag("s").over(w))
        .withColumn(
            "new_sess",
            (F.col("prev_s").isNull() | (F.col("s") - F.col("prev_s") > KM_GAP_S))
            .cast("long"),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    ws = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    per_sess = (
        sess.withColumn("rn", F.row_number().over(ws))
        .groupBy("user_id", "sess_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("entry"),
            F.count("*").alias("len"),
        )
    )
    return per_sess.groupBy(F.col("entry").alias("entry_type")).agg(
        F.count("*").alias("n_sessions"),
        F.sum((F.col("len") == 1).cast("long")).alias("n_bounces"),
        F.expr("(1000000 * sum(cast(len = 1 as long))) div count(*)").alias(
            "bounce_ppm"
        ),
        F.expr("(1000 * sum(len)) div count(*)").alias("mean_len_milli"),
    )


AUTOCORR_LAGS = (6, 12, 24)


def stats_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodicity screen: autocorrelation of each type's hourly count
    series at lags 6, 12 and 24 — a daily-rhythm series shows r(24) ≫
    r(6), the cheap substitute for a spectral peak test and the
    multi-lag extension of stats_autocorr_lag1.

    Zero-filled dense grid per type; per (type, lag) the Pearson r uses
    exact integer moments over the n−lag aligned pairs, round-6 on the
    single final division (degenerate windows → NULL).

    Distribution: one hourly map-side agg, a summary-scale grid, all
    three lags in ONE self-join pass with the lag exploded as a column.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.expr(
                "(unix_timestamp(date_trunc('hour', ts))"
                " - unix_timestamp(timestamp '2024-01-01 00:00:00')) div 3600"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
    )
    tb = hourly.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    dense = (
        tb.select("event_type", F.explode(F.expr("sequence(mn, mx)")).alias("h"))
        .join(hourly, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("c", F.lit(0)).alias("y"))
    )
    lags = spark.createDataFrame(
        [(int(l),) for l in AUTOCORR_LAGS], "lag long"
    )
    a = dense.select("event_type", F.col("h").alias("ha"), F.col("y").alias("x"))
    b = dense.select("event_type", F.col("h").alias("hb"), F.col("y").alias("y2"))
    pairs = (
        a.join(F.broadcast(lags))
        .join(b, ["event_type"])
        .where(F.col("hb") == F.col("ha") + F.col("lag"))
    )
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count("*").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y2").alias("sy"),
        F.sum(F.expr("x * y2")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y2 * y2")).alias("syy"),
    )
    return agg.select(
        "event_type",
        "lag",
        "n_points",
        F.round(
            F.expr(
                "CASE WHEN n_points * sxx = sx * sx OR n_points * syy = sy * sy"
                " THEN NULL ELSE"
                " cast(n_points * sxy - sx * sy as double)"
                " / sqrt(cast(n_points * sxx - sx * sx as double)"
                "        * cast(n_points * syy - sy * sy as double)) END"
            ),
            6,
        ).alias("pearson_r"),
    )
