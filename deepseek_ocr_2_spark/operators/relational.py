"""Relational operator coverage: joins, aggregations, windows, sorts,
set ops, pagination — the SQL-expressible analogs of the reference's
control flow (SURVEY §2.3-§2.7) plus standard warehouse coverage, each
verified against a DuckDB oracle by the driver.

Numeric-determinism rule used throughout: *money is summed as integer
cents* (``round(x*100) :: bigint``).  Per-row double arithmetic is
IEEE-identical across engines; integer sums are associative, so the
Spark result hashes byte-equal to the DuckDB oracle regardless of
partial-aggregation order.  Floating aggregates (whose value depends on
reduction order) never appear in an output column.

Scale notes: every query below keeps filters/projections at the scan
(Catalyst pushdown — verified via ``.explain``: PushedFilters + pruned
ReadSchema), broadcasts dimension tables explicitly, and aggregates with
map-side partial aggregation (HashAggregate x2 around the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textstats import WORD_RE


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table, fanning out under-split small inputs (round 7).

    See ``sources.stats.adaptive_scan_partitions`` — the gate is
    footer-stat-driven and a no-op at warehouse scale; it exists because
    a table packed into fewer row groups than the session has cores
    caps every downstream narrow stage at that row-group count (guide
    §2.5, unsplittable input)."""
    from ..sources.stats import adaptive_scan_partitions

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    par = adaptive_scan_partitions(spark, sf_dir, name)
    return df.repartition(par) if par else df


def alnum_tokens(text: F.Column) -> F.Column:
    """Lowercase alnum token array — the Spark twin of
    ``textstats.tokenize``, so SQL shingles and the Python kernels
    (MinHash, SimHash) always share one token rule."""
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_RE.pattern), 0)


def _cents(col: F.Column) -> F.Column:
    return F.round(col * 100, 0).cast("long")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation (map-side partials, no join)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_price_cents"),
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q1_oracle() -> str:
    return """
    -- every top-level SUM is re-CAST to BIGINT: DuckDB promotes
    -- SUM(BIGINT) to HUGEINT (int128), which pandas round-trips as
    -- float64 and the driver's hash check then diverges from Spark's
    -- int64 even when the values are equal (VERDICT r01 "What's wrong" #1)
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + deterministic top-10 (broadcast the small side)."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


def q3_oracle() -> str:
    return """
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey
    ORDER BY revenue_cents DESC, l_orderkey ASC
    LIMIT 10
    """


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join chain; all dimension tables broadcast."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def q5_oracle() -> str:
    return """
    SELECT r_name, n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """


def semi_join_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: orders that have at least one returned lineitem."""
    orders = load(spark, sf_dir, "orders")
    returned = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderstatus")
    )


def semi_join_oracle() -> str:
    return """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """


def anti_join_customers_without_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT ANTI — the checkpoint-resume primitive (plans/pipeline.py
    uses the same shape to skip committed urls)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def anti_join_oracle() -> str:
    return """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """


def window_topk_orders_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3-per-group via row_number — reference O3 retention analog."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            _cents(F.col("o_totalprice")).alias("totalprice_cents"),
            "rn",
        )
    )


def window_topk_oracle() -> str:
    return """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(o_totalprice*100, 0) AS BIGINT) AS totalprice_cents, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders) t
    WHERE rn <= 3
    """


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer revenue (unbounded-preceding frame)."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_cents(F.col("o_totalprice"))).over(w).alias("running_cents"),
    )


def window_running_oracle() -> str:
    return """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
    FROM orders
    """


def grouped_concat_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered grouped string concat — reference A2 (page-markdown join)
    expressed relationally: collect_list(struct) -> sort -> concat_ws."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.col("l_linenumber"))),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("line_numbers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 4)
        .orderBy("l_orderkey")
    )


def grouped_concat_oracle() -> str:
    return """
    SELECT l_orderkey,
           STRING_AGG(CAST(l_linenumber AS VARCHAR), '|' ORDER BY l_linenumber) AS line_numbers,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(*) >= 4
    ORDER BY l_orderkey
    """


def setop_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT/INTERSECT coverage on part brands."""
    part = load(spark, sf_dir, "part")
    big = part.filter(F.col("p_size") > 30).select("p_brand").distinct()
    brass = (
        part.filter(F.col("p_type").contains("BRASS"))
        .select("p_brand")
        .distinct()
    )
    return (
        big.exceptAll(big.intersect(brass))
        .withColumnRenamed("p_brand", "brand")
        .orderBy("brand")
    )


def setop_oracle() -> str:
    return """
    SELECT p_brand AS brand FROM part WHERE p_size > 30
    EXCEPT
    SELECT p_brand AS brand FROM part
      WHERE p_size > 30 AND p_brand IN
        (SELECT p_brand FROM part WHERE p_type LIKE '%BRASS%')
    ORDER BY brand
    """


def pagination_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest-first offset/limit pagination — reference O2 (task listing,
    ``task_manager.py:215-222``)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.asc("event_id"))
        .select("event_id", "ts", "event_type", "user_id")
        .offset(100)
        .limit(50)
    )


def pagination_oracle() -> str:
    return """
    SELECT event_id, ts, event_type, user_id FROM events
    ORDER BY ts DESC, event_id ASC
    LIMIT 50 OFFSET 100
    """


def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (null grouping keys coalesced for hash parity)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n_orders",
        )
        .orderBy("priority", "status")
    )


def rollup_oracle() -> str:
    return """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY priority, status
    """


def window_lag_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG over per-user event streams; integer-second gap sums."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        # timestampdiff is timezone-independent (works on TIMESTAMP_NTZ)
        .withColumn("gap_us", F.expr("timestampdiff(MICROSECOND, prev_ts, ts)"))
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.sum("gap_us").alias("sum_gap_us"),
            F.count(F.lit(1)).alias("n_gaps"),
        )
        .orderBy("event_type")
    )


def window_lag_oracle() -> str:
    return """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts)
               - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC)) AS gap_us
      FROM events)
    SELECT event_type, CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us, COUNT(*) AS n_gaps
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events props column."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def json_props_oracle() -> str:
    return """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """


def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style correlated-min: per nation, the supplier(s) with
    the minimum account balance (min-per-group via window, dims
    broadcast)."""
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            "r_name",
            _cents(F.col("s_acctbal")).alias("acctbal_cents"),
        )
    )
    w = Window.partitionBy("n_name")
    return (
        joined.withColumn("min_cents", F.min("acctbal_cents").over(w))
        .filter(F.col("acctbal_cents") == F.col("min_cents"))
        .select("r_name", "n_name", "s_suppkey", "s_name", "acctbal_cents")
        .orderBy("n_name", "s_suppkey")
    )


def q2_oracle() -> str:
    return """
    WITH joined AS (
      SELECT s_suppkey, s_name, n_name, r_name,
             CAST(ROUND(s_acctbal*100, 0) AS BIGINT) AS acctbal_cents
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    )
    SELECT r_name, n_name, s_suppkey, s_name, acctbal_cents
    FROM (SELECT *, MIN(acctbal_cents) OVER (PARTITION BY n_name) AS m
          FROM joined) t
    WHERE acctbal_cents = m
    ORDER BY n_name, s_suppkey
    """


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-minute silence starts a new
    session (cumulative-sum-of-boundaries window pattern); returns
    per-user session stats."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
                    > 1_800_000_000
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_seq",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "timestampdiff(MICROSECOND, min(ts), max(ts))"
            ).alias("duration_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("duration_us").alias("max_session_us"),
        )
        .orderBy("user_id")
    )


def sessionize_oracle() -> str:
    return """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    ), per_session AS (
      SELECT user_id, session_seq, COUNT(*) AS n_events,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS n_events,
           MAX(duration_us) AS max_session_us
    FROM per_session GROUP BY user_id ORDER BY user_id
    """


def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — an operator Spark lacks natively: each purchase
    event matched to the user's most recent STRICTLY-prior click.

    Implementation is the scale-correct union+window technique: tag
    both sides, union, one shuffle on (user_id), sort within partition
    by (ts, side) — side ordering makes the match strict at equal
    timestamps — and carry the last-seen right row forward with
    ``last(..., ignorenulls)``.  No range self-join, no per-key
    explosion; cost is one sort per user partition.  Oracle: DuckDB's
    native ``ASOF JOIN``.
    """
    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.lit(0).alias("is_right"),
        F.lit(None).cast("long").alias("r_event_id"),
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("purchase_event_id"),
        F.lit(1).alias("is_right"),
        F.col("event_id").alias("r_event_id"),
    )
    both = left.unionByName(right)
    # at equal ts the left (0) sorts before the right (1), so an
    # equal-ts click is NOT visible to the purchase -> strict '<'.
    # r_event_id is the final tie-break: two clicks sharing (user_id,
    # ts) deterministically resolve to the HIGHEST event_id (mirrored
    # in the oracle by collapsing equal-ts clicks to max(event_id))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_right"), F.asc_nulls_first("r_event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = both.select(
        "user_id",
        "ts",
        "purchase_event_id",
        "is_right",
        F.last(
            F.when(F.col("is_right") == 1, F.col("r_event_id")),
            ignorenulls=True,
        ).over(w).alias("click_event_id"),
        F.last(
            F.when(F.col("is_right") == 1, F.col("ts")),
            ignorenulls=True,
        ).over(w).alias("click_ts"),
    )
    return (
        carried.filter(
            (F.col("is_right") == 0) & F.col("click_event_id").isNotNull()
        )
        .withColumn(
            "gap_us", F.expr("timestampdiff(MICROSECOND, click_ts, ts)")
        )
        .select("purchase_event_id", "user_id", "click_event_id", "gap_us")
        .orderBy("purchase_event_id")
    )


def asof_join_oracle() -> str:
    return """
    SELECT a.event_id AS purchase_event_id, a.user_id,
           b.event_id AS click_event_id,
           epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    ASOF JOIN (
      -- equal-ts clicks collapsed to the highest event_id so the match
      -- is deterministic (the Spark side tie-breaks on r_event_id ASC
      -- under last(), which also keeps the highest)
      SELECT user_id, ts, MAX(event_id) AS event_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ) b
      ON a.user_id = b.user_id AND a.ts > b.ts
    ORDER BY purchase_event_id
    """


def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles over integer cents per status —
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    definition, and integer inputs keep the interpolation arithmetic
    bit-identical."""
    orders = load(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderstatus", _cents(F.col("o_totalprice")).alias("cents")
    )
    return (
        cents.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(cents, 0.5)").alias("p50"),
            F.expr("percentile(cents, 0.9)").alias("p90"),
            F.expr("percentile(cents, 0.99)").alias("p99"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("o_orderstatus")
    )


def percentile_oracle() -> str:
    return """
    WITH c AS (SELECT o_orderstatus,
                      CAST(ROUND(o_totalprice*100, 0) AS BIGINT) AS cents
               FROM orders)
    SELECT o_orderstatus,
           quantile_cont(cents, 0.5) AS p50,
           quantile_cont(cents, 0.9) AS p90,
           quantile_cont(cents, 0.99) AS p99,
           MIN(cents) AS min_cents,
           MAX(cents) AS max_cents
    FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus
    """


def sql_q1_via_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same Q1 aggregation expressed through ``spark.sql`` over
    registered temp views — the SQL-string API surface."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
               SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS sum_base_price_cents,
               COUNT(*) AS count_order
        FROM v_lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


def sql_q1_oracle() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated AVG subquery: revenue from lineitems
    whose quantity is below half the part's average quantity.

    The correlated ``l_quantity < 0.5 * avg(l_quantity)`` predicate is
    rewritten integer-exact — ``2 * qty * n < sum_qty`` — so both
    engines compare integers instead of an order-dependent float mean.
    Plan: per-part aggregate (map-side partials) joined back to the
    fact table; Catalyst turns it into one shuffle on l_partkey.
    """
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(
            2 * F.col("l_quantity").cast("long") * F.col("n_lines")
            < F.col("sum_qty")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("small_cents"),
        )
        .orderBy("l_returnflag")
    )


def q17_oracle() -> str:
    return """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_returnflag,
           COUNT(*) AS n_small,
           CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS small_cents
    FROM lineitem JOIN per_part USING (l_partkey)
    WHERE 2 * CAST(l_quantity AS BIGINT) * n_lines < sum_qty
    GROUP BY l_returnflag ORDER BY l_returnflag
    """


def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-aggregate subquery: orders priced above the global mean.

    ``price > avg(price)`` is order-dependent in floats; rewritten
    integer-exact as ``cents * n_total > total_cents`` (a broadcast of
    one row — Catalyst plans the scalar agg as a subquery reuse).
    """
    orders = load(spark, sf_dir, "orders")
    totals = orders.agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        orders.crossJoin(F.broadcast(totals))
        .filter(
            _cents(F.col("o_totalprice")) * F.col("n_total")
            > F.col("total_cents")
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
        .orderBy("o_orderstatus")
    )


def scalar_subquery_oracle() -> str:
    return """
    WITH t AS (
      SELECT CAST(SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
             COUNT(*) AS n_total
      FROM orders
    )
    SELECT o_orderstatus, COUNT(*) AS n_above_avg
    FROM orders, t
    WHERE CAST(ROUND(o_totalprice*100, 0) AS BIGINT) * n_total > total_cents
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation pivot (stable explicit columns, not the
    dynamic ``pivot()`` API, so the schema is deterministic)."""
    orders = load(spark, sf_dir, "orders")

    def n(status: str) -> F.Column:
        return F.sum(
            F.when(F.col("o_orderstatus") == status, 1).otherwise(0)
        )

    return (
        orders.groupBy("o_orderpriority")
        .agg(
            n("F").alias("n_f"),
            n("O").alias("n_o"),
            n("P").alias("n_p"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("o_orderpriority")
    )


def pivot_oracle() -> str:
    return """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           COUNT(*) AS n_total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def dense_rank_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank (tie-preserving) + first_value window coverage: the
    two most expensive price points per brand, every tied part kept."""
    part = load(spark, sf_dir, "part")
    cents = part.select(
        "p_brand", "p_partkey", _cents(F.col("p_retailprice")).alias("cents")
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("cents"))
    return (
        cents.withColumn("tier", F.dense_rank().over(w))
        .withColumn("brand_max_cents", F.first("cents").over(w))
        .filter(F.col("tier") <= 2)
        .select("p_brand", "p_partkey", "cents", "tier", "brand_max_cents")
        .orderBy("p_brand", F.desc("cents"), "p_partkey")
    )


def dense_rank_oracle() -> str:
    return """
    SELECT p_brand, p_partkey, cents, tier, brand_max_cents FROM (
      SELECT p_brand, p_partkey,
             CAST(ROUND(p_retailprice*100, 0) AS BIGINT) AS cents,
             DENSE_RANK() OVER w AS tier,
             FIRST_VALUE(CAST(ROUND(p_retailprice*100, 0) AS BIGINT)) OVER w
               AS brand_max_cents
      FROM part
      WINDOW w AS (PARTITION BY p_brand
                   ORDER BY CAST(ROUND(p_retailprice*100, 0) AS BIGINT) DESC)
    ) t WHERE tier <= 2
    ORDER BY p_brand, cents DESC, p_partkey
    """


def union_all_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two differently-filtered projections, re-aggregated
    — duplicate-preserving union semantics (vs the setop query's
    EXCEPT/INTERSECT)."""
    ev = load(spark, sf_dir, "events")
    big = ev.filter(F.col("value") >= 50).select(
        F.lit("big").alias("bucket"), "event_type", _cents(F.col("value")).alias("cents")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("bucket"), "event_type", _cents(F.col("value")).alias("cents")
    )
    return (
        big.unionAll(clicks)
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("bucket", "event_type")
    )


def union_all_oracle() -> str:
    return """
    WITH u AS (
      SELECT 'big' AS bucket, event_type,
             CAST(ROUND(value*100, 0) AS BIGINT) AS cents
      FROM events WHERE value >= 50
      UNION ALL
      SELECT 'click' AS bucket, event_type,
             CAST(ROUND(value*100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'click'
    )
    SELECT bucket, event_type, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM u GROUP BY bucket, event_type ORDER BY bucket, event_type
    """


def string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function coverage with scan pushdown: LIKE filter reaches
    the parquet scan; substring/locate/upper/concat in the projection."""
    part = load(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").like("%DARD%"))
        .select(
            "p_partkey",
            F.upper(F.substring("p_name", 1, 5)).alias("name5"),
            F.locate("DARD", F.col("p_type")).cast("long").alias("dard_at"),
            F.length("p_name").cast("long").alias("name_len"),
            F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
    )


def string_funcs_oracle() -> str:
    return """
    SELECT p_partkey,
           UPPER(SUBSTRING(p_name, 1, 5)) AS name5,
           CAST(POSITION('DARD' IN p_type) AS BIGINT) AS dard_at,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           p_brand || '#' || p_type AS brand_type
    FROM part WHERE p_type LIKE '%DARD%'
    ORDER BY p_partkey
    """


def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunction of conjunctive predicates across a
    join — the OR-of-ANDs shape that exercises predicate pushdown and
    join-condition splitting in the optimizer."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_type") == "SMALL")
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
            & (F.col("p_size") <= 5)
        )
        | (
            (F.col("p_type") == "MEDIUM")
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
            & (F.col("p_size") <= 10)
        )
        | (
            (F.col("p_type") == "LARGE")
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
            & (F.col("p_size") <= 15)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
        )
        .orderBy("p_type")
    )


def q19_oracle() -> str:
    return """
    SELECT p_type, COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_type = 'SMALL'  AND l_quantity BETWEEN 1  AND 11 AND p_size <= 5)
       OR (p_type = 'MEDIUM' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
       OR (p_type = 'LARGE'  AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
    GROUP BY p_type ORDER BY p_type
    """


def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/UDTF surface: posexplode of a computed token array —
    one row per (doc, position), re-aggregated to first-token stats.
    Oracle: DuckDB UNNEST ... WITH ORDINALITY."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.slice(alnum_tokens(F.col("text")), 1, 5)
        ).alias("pos", "token"),
    )
    return (
        toks.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("token").alias("n_distinct_tokens"),
            F.min("token").alias("first_token"),
        )
        .orderBy("pos")
    )


def posexplode_oracle() -> str:
    return """
    WITH d AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+')[1:5] AS ts
      FROM documents
    ), toks AS (
      -- index explode via generate_series (this DuckDB build has no
      -- WITH ORDINALITY); pos is 0-based like Spark's posexplode
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS token
      FROM d, UNNEST(generate_series(1, len(ts))) AS g(i)
    )
    SELECT pos, COUNT(*) AS n_docs,
           COUNT(DISTINCT token) AS n_distinct_tokens,
           MIN(token) AS first_token
    FROM toks GROUP BY pos ORDER BY pos
    """


def map_funcs_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function coverage (§2.12): per-priority status->count map
    built with ``map_from_entries`` over collected structs, read back
    with ``element_at`` / ``map_keys``.  Output stays scalar (the
    driver's pandas canonicalizer cannot hash map/dict cells); the
    oracle computes the same scalars with conditional aggregation."""
    orders = load(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("by_status")
    )
    return (
        mapped.select(
            "o_orderpriority",
            F.coalesce(F.element_at("by_status", "F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.element_at("by_status", "O"), F.lit(0)).alias("n_o"),
            F.size(F.map_keys("by_status")).cast("long").alias("n_statuses"),
        )
        .orderBy("o_orderpriority")
    )


def map_funcs_oracle() -> str:
    return """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) coverage — the distinct-aggregate path (Spark
    plans it as a two-phase expand + aggregate; still map-side partial
    on the distinct keys)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


def distinct_parts_oracle() -> str:
    return """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date truncation + aggregation (date-function coverage)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
        .orderBy("month")
    )


def orders_by_month_oracle() -> str:
    return """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders GROUP BY 1 ORDER BY month
    """
