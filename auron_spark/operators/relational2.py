"""TPC-H shapes Q7/Q8/Q9/Q12/Q16/Q20/Q21 adapted to the fixture schema.

Completes the TPC-H-style end-to-end battery (Q1–Q22 minus the shapes whose
driving columns don't exist in the fixtures — there is no partsupp table and
no l_shipmode/l_commitdate/l_receiptdate, so Q12/Q16/Q20/Q21 keep their
operator shape but swap in available columns).  Reference parity: these
exercise the same native operators as `dev/auron-it`'s TPC-DS battery —
SortMergeJoin/BroadcastHashJoin (`AuronConverters.scala:566-771`), multi-way
joins, conditional aggregation, distinct aggregation, correlated
EXISTS/NOT EXISTS (`NativeConverters.scala:462-474`), and self-joins.

Scale notes: in every query the only shuffles are (a) fact⋈fact joins keyed on
orderkey and (b) the final group-by; all dimension sides (nation, region,
part, supplier, customer) are broadcast.  Q21's double self-join of lineitem
co-partitions all three legs on l_orderkey, so AQE plans one shuffle per leg
and merges them into a single stage pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from auron_spark.exprs import SQL_DISC_PRICE, disc_price
from auron_spark.registry import query
from auron_spark.tables import Tables


def _views(t: Tables, *names: str) -> None:
    for n in names:
        getattr(t, n).createOrReplaceTempView(n)


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "sort"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation-pair trade volume by year.  The nation table is joined
    twice under different roles (supplier side / customer side) — both legs
    broadcast (constant 25 rows, hard-hint safe); customer/supplier broadcast
    is threshold/AQE-driven because they scale with SF.  The disjunctive pair
    predicate applies post-join."""
    t = Tables(spark, sf_dir)
    n1 = t.nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {SQL_DISC_PRICE}
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS mkt_share
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("join", "agg", "conditional"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — conditional aggregation over an
    8-table join.  Numerator and denominator are exact DECIMAL sums cast to
    DOUBLE before the (deterministic) double division."""
    t = Tables(spark, sf_dir)
    part = t.part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    cust_nation = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = t.nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = disc_price()
    return (
        t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS sum_profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
    tags=("join", "agg", "sort"),
    bench=True,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: no partsupp table in the fixtures, so profit is the
    discounted price rather than price minus supply cost): per-nation,
    per-year profit on a part-name LIKE filter."""
    t = Tables(spark, sf_dir)
    part = t.part.filter(F.col("p_name").like("%widget%")).select("p_partkey")
    return (
        t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(disc_price()).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("join", "agg", "conditional"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: no l_shipmode/receiptdate columns — group key is
    l_returnflag): two-branch conditional counts over an orders⋈lineitem
    join."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_supplier_part_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("join", "agg", "distinct", "subquery"),
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: supplier keys come from lineitem, not partsupp):
    distinct-count aggregation with a NOT IN exclusion subquery — Catalyst
    plans the NOT IN as a null-aware broadcast anti join and the distinct
    count as a two-phase Expand aggregate."""
    t = Tables(spark, sf_dir)
    _views(t, "part", "lineitem", "supplier")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """
    )


@query(
    "q20_potential_promotion",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
    ORDER BY s_name
    """,
    tags=("subquery", "semi", "having"),
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: shipped quantity from lineitem replaces the
    partsupp availability check): IN over a grouped HAVING subquery →
    aggregate then left-semi join.  The qualifying-supplier set is small at
    any SF *relative to lineitem*, but it scales with SF (suppliers = 10k x
    SF), so its broadcast is left to AQE's runtime size check rather than a
    hard hint that cannot fall back."""
    t = Tables(spark, sf_dir)
    small_parts = t.part.filter(F.col("p_name").like("small%")).select("p_partkey")
    qualifying = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= "1997-01-01 00:00:00")
            & (F.col("l_shipdate") < "1998-01-01 00:00:00")
        )
        .join(small_parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("shipped_qty"))
        .filter(F.col("shipped_qty") > 300)
        .select("l_suppkey")
    )
    return (
        t.supplier.join(
            qualifying,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("subquery", "exists", "anti", "self-join"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: l_returnflag='R' marks the late line in place of
    receiptdate>commitdate): correlated EXISTS + NOT EXISTS over lineitem
    self-joins — a semi join and an anti join both co-partitioned with the
    outer lineitem on l_orderkey, so AQE shares one shuffle key across all
    three legs."""
    t = Tables(spark, sf_dir)
    _views(t, "supplier", "lineitem", "orders")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


@query(
    "market_basket_pairs",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    part_n AS (SELECT l_partkey, COUNT(*) AS n_p FROM items GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_pair
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb
    )
    SELECT pa, pb,
           CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(na.n_p AS BIGINT) AS n_a,
           CAST(nb.n_p AS BIGINT) AS n_b,
           ROUND(CAST(p.n_pair AS DOUBLE) * o.n / (na.n_p * nb.n_p), 6)
               AS lift
    FROM pairs p
    JOIN part_n na ON na.l_partkey = p.pa
    JOIN part_n nb ON nb.l_partkey = p.pb
    CROSS JOIN n_orders o
    ORDER BY n_pair DESC, pa, pb
    LIMIT 20
    """,
    tags=("agg", "basket", "cooccurrence", "self-join"),
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: the top-20 part pairs bought
    together in one order, with support and lift — the association-rule
    building block (and, in LM-pipeline terms, the same co-occurrence
    shape as bigram/PMI tables over any grouped key).

    Scale shape: baskets shrink to DISTINCT (order, part) first; the pair
    generation is a SELF-EQUI-JOIN on l_orderkey, so fan-out is bounded
    by items-per-order squared (TPC-H ~7 items -> <= 21 pairs per order,
    linear overall — the classic a-priori first pass, never a global
    cross join); per-part counts broadcast back onto the pair table and
    the final top-20 goes through TakeOrderedAndProject.  Lift divides
    exact integers in doubles — bit-identical in DuckDB.

    The distinct basket table is localCheckpoint-ed: it feeds four
    consumers (order count, per-part counts, both join legs), and
    un-materialized each re-ran the distinct shuffle (round-9 plan
    sweep).  Materializing stage-1 output is the standard a-priori
    posture at scale."""
    li = Tables(spark, sf_dir).lineitem
    items = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = items.agg(
        F.count_distinct("l_orderkey").alias("n")
    )
    part_n = items.groupBy("l_partkey").agg(F.count("*").alias("n_p"))
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_pair"))
    )
    return (
        pairs.join(
            F.broadcast(part_n.select(F.col("l_partkey").alias("pa"), F.col("n_p").alias("n_a"))), "pa"
        )
        .join(
            F.broadcast(part_n.select(F.col("l_partkey").alias("pb"), F.col("n_p").alias("n_b"))), "pb"
        )
        .join(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_pair").cast("double") * F.col("n")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), "pa", "pb")
        .limit(20)
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score,
               monetary
        FROM per_cust
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS segment_value
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    tags=("agg", "rfm", "segmentation", "window"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quintiles
    (NTILE with customer-key tiebreak, so both engines cut identically)
    rolled up to segment sizes and value — the classic marketing-
    analytics cube, and the same rank-then-bucket shape any per-entity
    scoring pipeline uses.

    Scale shape: one orders aggregate to customer grain (decimal-exact
    monetary), then three GLOBAL ntiles — deliberate and documented:
    customer-grain rows are orders-of-magnitude smaller than the fact
    table, and an exact global quintile cut at that grain is one range
    exchange (Spark samples boundaries); at billions of customers the
    cut swaps to approx_percentile boundaries, same downstream shape
    (the trade feature_quantile_binning documents per group).  The final
    rollup is at most 125 rows."""
    from pyspark.sql import Window

    o = Tables(spark, sf_dir).orders
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    scored = per_cust.select(
        "o_custkey",
        "monetary",
        F.ntile(5).over(Window.orderBy("last_order", "o_custkey")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "o_custkey")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("monetary").cast("double").alias("segment_value"),
        )
        .select(
            F.col("r_score").cast("int"),
            F.col("f_score").cast("int"),
            F.col("m_score").cast("int"),
            "n_customers",
            "segment_value",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "sweepline_open_orders",
    oracle="""
    WITH iv AS (
        SELECT o.o_orderkey, o.o_orderdate AS s, MAX(l.l_shipdate) AS e
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT s AS d, COUNT(*) AS delta FROM iv GROUP BY s
        UNION ALL
        SELECT e AS d, -COUNT(*) AS delta FROM iv GROUP BY e
    ),
    daily AS (SELECT d, SUM(delta) AS net FROM deltas GROUP BY d),
    curve AS (
        SELECT d,
               SUM(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS open_cnt
        FROM daily
    )
    SELECT CAST(d AS DATE) AS d, CAST(open_cnt AS BIGINT) AS open_orders
    FROM curve
    WHERE EXTRACT(day FROM d) = 1
    ORDER BY d
    """,
    tags=("window", "sweepline", "interval-stabbing"),
)
def sweepline_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval stabbing by sweep line: how many orders are OPEN (placed,
    final line not yet shipped) on any given date.  The naive
    formulation joins every calendar date against every order interval
    — O(days x orders); the sweep-line decomposition emits +1 at the
    order date and -1 at the last-shipment date, aggregates net flow per
    date, and reconstructs the concurrency curve with a running sum over
    the DATE AXIS.  Output samples the first of each month for a compact
    driver hash.

    Scale shape: intervals come from one keyed orders-lineitem join +
    per-order max; deltas are two grouped counts with map-side combine;
    the running sum runs over the DATE-grain table — thousands of rows
    at ANY corpus size, so the single-partition global window is bounded
    by the calendar, not the data.  Same family as
    `join_interval_overlap` (which bins pairwise overlap); this is the
    stabbing-count member."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    iv = (
        t.orders.join(
            t.lineitem.select("l_orderkey", "l_shipdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("e"))
    )
    ship = iv.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count("*").alias("delta")
    )
    done = iv.groupBy(F.col("e").alias("d")).agg(
        (-F.count("*")).alias("delta")
    )
    daily = ship.unionByName(done).groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.select(
            "d", F.sum("net").over(w).cast("bigint").alias("open_orders")
        )
        .where(F.dayofmonth("d") == 1)
        .select(F.to_date("d").alias("d"), "open_orders")
        .orderBy("d")
    )


@query(
    "pareto_revenue_share",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, revenue,
               NTILE(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile
        FROM cust
    ),
    tot AS (SELECT SUM(revenue) AS total FROM cust)
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(revenue) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(SUM(revenue)) OVER (ORDER BY decile
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(t.total AS DOUBLE), 6) AS cum_share
    FROM ranked CROSS JOIN tot t
    GROUP BY decile, t.total
    ORDER BY decile
    """,
    tags=("agg", "pareto", "window", "analytics"),
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) concentration analysis: customers ranked into
    revenue deciles, with each decile's revenue and the cumulative share
    — reads off directly how much of total revenue the top 10/20/30% of
    customers carry (the concentration curve behind whale-account risk
    and, in corpus terms, how skewed a source distribution is).

    Exactness: revenue sums are DECIMAL (order-insensitive); the decile
    cut is key-tiebroken NTILE; the cumulative share is a running sum
    over the 10-row decile table divided by the decimal total.

    Scale shape: orders collapse to customer grain first (partial/final
    agg), the global NTILE runs at that grain (same documented trade as
    customer_rfm_segments), and the cumulative window runs over TEN rows.
    """
    from pyspark.sql import Window

    o = Tables(spark, sf_dir).orders
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    ranked = cust.select(
        "revenue",
        F.ntile(10)
        .over(Window.orderBy(F.desc("revenue"), F.asc("o_custkey")))
        .alias("decile"),
    )
    tot = cust.agg(F.sum("revenue").alias("total"))
    per_decile = (
        ranked.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("revenue").alias("rev_dec"),
        )
        .join(F.broadcast(tot))
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_decile.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.round(
            F.sum("rev_dec").over(wc).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("cum_share"),
    ).orderBy("decile")


@query(
    "timeseries_trend_decompose",
    oracle="""
    WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY month
    ),
    sm AS (
        SELECT month, revenue,
               CAST(SUM(revenue) OVER (ORDER BY month
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
               / COUNT(*) OVER (ORDER BY month
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS trend
        FROM monthly
    )
    SELECT month,
           CAST(revenue AS DOUBLE) AS revenue,
           ROUND(trend, 6) AS trend,
           ROUND(CAST(revenue AS DOUBLE) - trend, 6) AS residual
    FROM sm
    ORDER BY month
    """,
    tags=("window", "timeseries", "trend", "decompose"),
)
def timeseries_trend_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series trend decomposition: monthly revenue split into a
    centered moving-average TREND (3-month window) and the RESIDUAL —
    the additive-decomposition first step behind seasonality detection
    and anomaly flagging on business metrics (a residual spike is the
    alert; the trend is what forecasts extrapolate).

    Exactness: monthly revenue sums are DECIMAL; the trend divides an
    exact decimal frame sum by the frame count (edge months get 2-row
    frames — standard centered-MA semantics); subtraction in doubles on
    identical operands.

    Scale shape: the fact table collapses to MONTH grain first
    (partial/final agg) — the window runs over a calendar-bounded table
    exactly like sweepline_open_orders, so the global ordering is free
    at any corpus size."""
    from pyspark.sql import Window

    o = Tables(spark, sf_dir).orders
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    w = Window.orderBy("month").rowsBetween(-1, 1)
    trend = F.sum("revenue").over(w).cast("double") / F.count("*").over(w)
    return monthly.select(
        "month",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(trend, 6).alias("trend"),
        F.round(F.col("revenue").cast("double") - trend, 6).alias(
            "residual"
        ),
    ).orderBy("month")


@query(
    "dq_audit_lineitem",
    oracle="""
    SELECT 'lineitem' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL
                                    OR l_partkey IS NULL
                                    OR l_suppkey IS NULL) AS BIGINT)
               AS null_keys,
           CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
               AS nonpositive_qty,
           CAST(COUNT(*) FILTER (WHERE l_extendedprice < 0) AS BIGINT)
               AS negative_price,
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                AS BIGINT) AS discount_out_of_range,
           CAST(COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R'))
                AS BIGINT) AS unknown_returnflag,
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                AS BIGINT) AS dup_line_keys
    FROM lineitem
    """,
    tags=("agg", "data-quality", "audit"),
)
def dq_audit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-table data-quality profile — the lineitem sibling of
    `dq_audit_events`, with the composite-key uniqueness check
    ((l_orderkey, l_linenumber) is the TPC-H line identity): null FKs,
    non-positive quantities, negative prices, out-of-range discounts,
    unknown enum values, duplicate line keys — all fused as conditional
    aggregates into ONE scan (the composite distinct is the only
    two-phase piece)."""
    li = Tables(spark, sf_dir).lineitem
    return li.agg(
        F.lit("lineitem").alias("table_name"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.count(
            F.when(
                F.col("l_orderkey").isNull()
                | F.col("l_partkey").isNull()
                | F.col("l_suppkey").isNull(),
                1,
            )
        ).cast("bigint").alias("null_keys"),
        F.count(F.when(F.col("l_quantity") <= 0, 1))
        .cast("bigint")
        .alias("nonpositive_qty"),
        F.count(F.when(F.col("l_extendedprice") < 0, 1))
        .cast("bigint")
        .alias("negative_price"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
        ).cast("bigint").alias("discount_out_of_range"),
        F.count(F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1))
        .cast("bigint")
        .alias("unknown_returnflag"),
        (
            F.count("*")
            - F.count_distinct(F.struct("l_orderkey", "l_linenumber"))
        ).cast("bigint").alias("dup_line_keys"),
    )


@query(
    "customer_rfm_segments_scale",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score,
               monetary
        FROM per_cust
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS segment_value
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    tags=("agg", "rfm", "segmentation", "window", "scale-safe"),
)
def customer_rfm_segments_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer_rfm_segments with NO single-partition window (VERDICT r6
    ask #5): each of the three global quintile cuts goes through
    `distributed_ntile` — range repartition on the scoring key, parallel
    per-partition ranks, broadcast prefix-sum offsets, map-side bucket
    closed form.  Bit-identical to the exact twin (same key tiebreaks, so
    the total order is unique), which stays registered as the
    fixture-scale oracle pair.

    Scale shape: three range exchanges + three hash exchanges of the
    CUSTOMER-grain table, each 32-way parallel — at billions of customers
    every task sees ~1/32nd of the entities, vs. the twin's one task
    seeing all of them.  Driver-side state is 3 x 32 longs."""
    from auron_spark.operators.window import distributed_ntile

    o = Tables(spark, sf_dir).orders
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    scored = per_cust
    for out, keys in (
        ("r_score", ["last_order", "o_custkey"]),
        ("f_score", ["frequency", "o_custkey"]),
        ("m_score", ["monetary", "o_custkey"]),
    ):
        scored = distributed_ntile(scored, 5, keys, out)
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("monetary").cast("double").alias("segment_value"),
        )
        .select(
            F.col("r_score").cast("int"),
            F.col("f_score").cast("int"),
            F.col("m_score").cast("int"),
            "n_customers",
            "segment_value",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "pareto_revenue_share_scale",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, revenue,
               NTILE(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile
        FROM cust
    ),
    tot AS (SELECT SUM(revenue) AS total FROM cust)
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(revenue) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(SUM(revenue)) OVER (ORDER BY decile
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(t.total AS DOUBLE), 6) AS cum_share
    FROM ranked CROSS JOIN tot t
    GROUP BY decile, t.total
    ORDER BY decile
    """,
    tags=("agg", "pareto", "window", "analytics", "scale-safe"),
)
def pareto_revenue_share_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pareto_revenue_share with NO single-partition window anywhere
    (VERDICT r6 ask #5): the customer-grain decile cut goes through
    `distributed_ntile`, and the 10-row cumulative share is a triangular
    broadcast self-join (decile b <= decile a) instead of a running-sum
    window — so the plan carries zero `Exchange SinglePartition` nodes.

    Scale shape: one partial/final aggregate to customer grain, one range
    + one hash exchange for the distributed rank, then all remaining work
    happens on the 10-row decile table."""
    from auron_spark.operators.window import distributed_ntile

    o = Tables(spark, sf_dir).orders
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    ranked = distributed_ntile(
        cust, 10, [F.desc("revenue"), F.asc("o_custkey")], "decile"
    )
    per_decile = ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("revenue").alias("rev_dec"),
    )
    # grand total from the 10-row decile frame — decimal sums re-associate
    # exactly, and it avoids a second orders scan just for one scalar
    tot = per_decile.agg(F.sum("rev_dec").alias("total"))
    cum = (
        per_decile.alias("a")
        .join(
            F.broadcast(per_decile.select("decile", "rev_dec").alias("b")),
            F.col("b.decile") <= F.col("a.decile"),
        )
        .groupBy("a.decile", "a.n_customers", "a.rev_dec")
        .agg(F.sum("b.rev_dec").alias("cum_rev"))
        .join(F.broadcast(tot))
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.round(
            F.col("cum_rev").cast("double") / F.col("total").cast("double"), 6
        ).alias("cum_share"),
    ).orderBy("decile")


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey, MIN(o_orderdate) AS f
        FROM orders GROUP BY o_custkey
    ),
    cohorts AS (
        SELECT o_custkey,
               strftime(f, '%Y-%m') AS cohort,
               EXTRACT(year FROM f) * 12 + EXTRACT(month FROM f) AS fm
        FROM firsts
    ),
    sizes AS (SELECT cohort, COUNT(*) AS n_customers FROM cohorts GROUP BY cohort),
    rev AS (
        SELECT c.cohort,
               (EXTRACT(year FROM o.o_orderdate) * 12
                + EXTRACT(month FROM o.o_orderdate)) - c.fm AS age,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
        FROM orders o JOIN cohorts c USING (o_custkey)
        GROUP BY c.cohort, age
    ),
    cum AS (
        SELECT cohort, age,
               SUM(r) OVER (PARTITION BY cohort ORDER BY age
                            ROWS UNBOUNDED PRECEDING) AS cum_r
        FROM rev
    )
    SELECT cum.cohort, CAST(cum.age AS INT) AS age,
           CAST(s.n_customers AS BIGINT) AS n_customers,
           ROUND(CAST(cum.cum_r AS DOUBLE) / s.n_customers, 6)
               AS ltv_per_customer
    FROM cum JOIN sizes s USING (cohort)
    WHERE cum.age <= 11
    ORDER BY cum.cohort, cum.age
    """,
    tags=("agg", "cohort", "ltv", "analytics", "window"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative revenue per customer tracked by cohort age in
    months (first year) — the companion to `cohort_retention`'s activity
    curves, and the payback-period table every growth team reads.

    Exactness: revenue sums are DECIMAL; month arithmetic is integer
    (year*12+month); the cumulative window is per-cohort over ≤12 rows.

    Scale shape: orders collapse to customer grain for cohort assignment
    (partial/final MIN), the cohort map joins back on the distributed
    custkey equi-join, revenue aggregates at (cohort, age) grain, and the
    running sum runs on the tiny cohort×age table PARTITIONED by cohort —
    no single-partition window, no fact-table resident state."""
    o = Tables(spark, sf_dir).orders
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("f"))
    cohorts = firsts.select(
        "o_custkey",
        F.date_format("f", "yyyy-MM").alias("cohort"),
        (F.year("f") * 12 + F.month("f")).alias("fm"),
        # customer-grain acquisition dimension, referenced by sizes AND
        # the revenue join — materialized once (single-subtree rule)
    ).localCheckpoint(eager=False)
    sizes = cohorts.groupBy("cohort").agg(F.count("*").alias("n_customers"))
    rev = (
        o.join(cohorts, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                - F.col("fm")
            ).alias("age"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    from pyspark.sql import Window

    wc = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.withColumn("cum_r", F.sum("r").over(wc))
        .where(F.col("age") <= 11)
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("age").cast("int").alias("age"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
            F.round(
                F.col("cum_r").cast("double") / F.col("n_customers"), 6
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort", "age")
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem_orphan_orderkey' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer_orphan_nationkey',
           CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    UNION ALL
    SELECT 'orders_dup_orderkey',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_null_keys',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    WHERE l_orderkey IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL
    ORDER BY check_name
    """,
    tags=("dq", "referential-integrity", "anti-join", "audit"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — the FK/PK contract check
    a 100 TB ingest runs before publishing a snapshot (complements the
    single-table `dq_audit_lineitem`/`dq_audit_events` profiles):
    orphaned lineitems (FK→orders), orphaned orders (FK→customer),
    orphaned customers (FK→nation), duplicate order PKs, and null key
    fields — one (check_name, n_violations) row per invariant, all zero
    on a healthy snapshot, and any nonzero hashes into the driver row.

    Scale shape: each orphan check is a LEFT ANTI equi-join (broadcast
    when the parent side is dimension-sized, shuffled hash otherwise)
    collapsed to a count; the dup check is one distinct aggregate; the
    null scan is map-side.  Five independent single-row aggregates union
    at the end — nothing wide crosses the wire."""
    t = Tables(spark, sf_dir)

    def orphan(child, ckey, parent, pkey, name):
        return (
            child.join(
                parent.select(F.col(pkey).alias(ckey)), ckey, "left_anti"
            )
            .agg(F.count("*").cast("bigint").alias("n_violations"))
            .select(F.lit(name).alias("check_name"), "n_violations")
        )

    checks = [
        orphan(
            t.lineitem, "l_orderkey", t.orders, "o_orderkey",
            "lineitem_orphan_orderkey",
        ),
        orphan(
            t.orders, "o_custkey", t.customer, "c_custkey",
            "orders_orphan_custkey",
        ),
        orphan(
            t.customer, "c_nationkey", t.nation, "n_nationkey",
            "customer_orphan_nationkey",
        ),
        t.orders.agg(
            (F.count("*") - F.count_distinct("o_orderkey"))
            .cast("bigint")
            .alias("n_violations")
        ).select(F.lit("orders_dup_orderkey").alias("check_name"), "n_violations"),
        t.lineitem.where(
            F.col("l_orderkey").isNull()
            | F.col("l_partkey").isNull()
            | F.col("l_suppkey").isNull()
        )
        .agg(F.count("*").cast("bigint").alias("n_violations"))
        .select(F.lit("lineitem_null_keys").alias("check_name"), "n_violations"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.orderBy("check_name")


@query(
    "dq_psi_drift",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS cat, COUNT(*) AS n FROM orders
        WHERE EXTRACT(year FROM o_orderdate) < 1997 GROUP BY cat
    ),
    cur AS (
        SELECT o_orderpriority AS cat, COUNT(*) AS n FROM orders
        WHERE EXTRACT(year FROM o_orderdate) >= 1997 GROUP BY cat
    ),
    tot AS (
        SELECT (SELECT SUM(n) FROM base) AS nb,
               (SELECT SUM(n) FROM cur) AS nc
    )
    SELECT b.cat,
           ROUND(CAST(b.n AS DOUBLE) / t.nb, 6) AS p_base,
           ROUND(CAST(c.n AS DOUBLE) / t.nc, 6) AS p_cur,
           ROUND((CAST(c.n AS DOUBLE) / t.nc - CAST(b.n AS DOUBLE) / t.nb)
                 * ln((CAST(c.n AS DOUBLE) * t.nb)
                      / (CAST(b.n AS DOUBLE) * t.nc)), 6) AS psi_term
    FROM base b JOIN cur c ON c.cat = b.cat CROSS JOIN tot t
    ORDER BY b.cat
    """,
    tags=("dq", "drift", "psi", "monitoring"),
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two snapshots of a categorical
    distribution (orders priority, pre-1997 baseline vs 1997+ current) —
    the drift monitor every production feature pipeline runs per batch:
    PSI = Σ (p_cur − p_base)·ln(p_cur/p_base); > 0.25 conventionally
    triggers retraining.  Per-category terms are emitted so the drifting
    category is identifiable, not just the total.

    Exactness: the log argument assembles as one exact product ratio of
    counts (identical double input to ln in both engines, the
    feature_woe_iv contract); shares are exact integer ratios.

    Scale shape: ONE fact scan — both snapshots' counts are flag-sums of
    the same groupBy(cat) (the single-subtree rule: the pre-r9 form built
    base/cur/totals as four separate aggregates of orders, compiling to
    four scans); totals are a window over the k-row category frame, so
    nothing re-derives the corpus subtree."""
    o = Tables(spark, sf_dir).orders
    cats = (
        o.groupBy(F.col("o_orderpriority").alias("cat"))
        .agg(
            F.sum(
                F.when(F.year("o_orderdate") < 1997, 1).otherwise(0)
            ).alias("nb_c"),
            F.sum(
                F.when(F.year("o_orderdate") >= 1997, 1).otherwise(0)
            ).alias("nc_c"),
        )
    )
    w = Window.partitionBy()
    cats = (
        cats.withColumn("nb", F.sum("nb_c").over(w))
        .withColumn("nc", F.sum("nc_c").over(w))
        # inner-join semantics of the oracle (cat present in BOTH windows),
        # applied AFTER the totals so nb/nc cover every category
        .where((F.col("nb_c") > 0) & (F.col("nc_c") > 0))
    )
    p_base = F.col("nb_c").cast("double") / F.col("nb")
    p_cur = F.col("nc_c").cast("double") / F.col("nc")
    ratio = (F.col("nc_c").cast("double") * F.col("nb")) / (
        F.col("nb_c").cast("double") * F.col("nc")
    )
    return cats.select(
        "cat",
        F.round(p_base, 6).alias("p_base"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_base) * F.log(ratio), 6).alias("psi_term"),
    ).orderBy("cat")


_BENFORD_EXPECTED = {
    d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)
}


@query(
    "dq_benford_digits",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
    ),
    obs AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
    tot AS (SELECT SUM(n) AS total FROM obs),
    expected AS (
        -- CAST: DuckDB types bare VALUES literals as DECIMAL, which would
        -- reach the driver's type-sensitive hash as a different class than
        -- Spark's double
        SELECT digit, CAST(expected_p AS DOUBLE) AS expected_p
        FROM (VALUES
            {', '.join(f'({d}, {p!r})' for d, p in _BENFORD_EXPECTED.items())}
        ) v(digit, expected_p)
    )
    SELECT e.digit, COALESCE(o.n, 0) AS n,
           ROUND(COALESCE(o.n, 0) / t.total, 6) AS observed_p,
           ROUND(e.expected_p, 6) AS expected_p,
           ROUND(POWER(COALESCE(o.n, 0) / t.total - e.expected_p, 2)
                 / e.expected_p, 6) AS chi2_term
    FROM expected e LEFT JOIN obs o ON o.digit = e.digit
    CROSS JOIN tot t
    ORDER BY e.digit
    """,
    tags=("dq", "benford", "audit"),
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals: per digit 1-9,
    observed frequency vs the Benford expectation log10(1+1/d) and the
    chi-square contribution — the classic synthetic-data / fraud screen
    (TPC-H's near-uniform prices fail it loudly, which is the point: the
    audit flags generated data).  The expected probabilities are injected
    as the SAME Python-computed literals into builder and oracle, so no
    cross-engine log10 ULP can flip a rounded value.

    Scale shape: one map-side digit extraction + a 9-group aggregate; the
    total joins back as a broadcast scalar.  All digits 1-9 are emitted
    (zero-filled from a 9-row literal frame) so the output grain is fixed
    regardless of data."""
    t = Tables(spark, sf_dir)
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("long")
    obs = (
        t.orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    expected = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_EXPECTED.items()],
        "digit long, expected_p double",
    )
    tot = obs.agg(F.sum("n").alias("total"))
    out = (
        expected.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.round(F.coalesce("n", F.lit(0)) / F.col("total"), 6).alias(
                "observed_p"
            ),
            F.round("expected_p", 6).alias("expected_p"),
            F.round(
                F.pow(
                    F.coalesce("n", F.lit(0)) / F.col("total")
                    - F.col("expected_p"),
                    2,
                )
                / F.col("expected_p"),
                6,
            ).alias("chi2_term"),
        )
    )
    return out.orderBy("digit")


@query(
    "dq_completeness_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           ROUND(CAST(COUNT(o_orderkey) AS DOUBLE) / COUNT(*), 6) AS fill_rate
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           ROUND(CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           ROUND(CAST(COUNT(o_orderstatus) AS DOUBLE) / COUNT(*), 6)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           ROUND(CAST(COUNT(o_totalprice) AS DOUBLE) / COUNT(*), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           ROUND(CAST(COUNT(o_orderdate) AS DOUBLE) / COUNT(*), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           ROUND(CAST(COUNT(o_orderpriority) AS DOUBLE) / COUNT(*), 6)
    FROM orders
    ORDER BY column_name
    """,
    tags=("dq", "profiling"),
)
def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness profile of the orders table — per-column row
    count, nulls, exact distinct cardinality and fill rate, the first
    artifact any data-quality framework (Deequ-style) materializes per
    snapshot and diffs across loads (a fill_rate step-change or a
    distinct-count collapse is the classic upstream-loss signature).

    Spark computes ALL columns' metrics in ONE scan + one aggregate
    (multi-count-distinct via Expand), then unpivots the 1-row result to
    column-grain with a single `stack` — vs the oracle's literal
    per-column scans; same exact integers either way.  (The pre-r9 form
    unioned six selects of the same un-materialized aggregate, which
    compiled to SIX scans of orders — the single-subtree rule, caught by
    the round-9 plan sweep.)

    Scale shape: one corpus scan; the Expand for multi-distinct is the
    only fan-out (x columns, the standard cost of exact profiles); output
    is |columns| rows."""
    o = Tables(spark, sf_dir).orders
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = o.agg(*aggs)
    stack = "stack({}, {}) AS (column_name, nn, n_distinct)".format(
        len(cols), ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    )
    return (
        one.select(F.col("n_rows"), F.expr(stack))
        .select(
            "column_name",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("n_rows") - F.col("nn")).cast("bigint").alias("n_null"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.round(F.col("nn").cast("double") / F.col("n_rows"), 6).alias(
                "fill_rate"
            ),
        )
        .orderBy("column_name")
    )


@query(
    "parts_abc_xyz_matrix",
    oracle="""
    WITH pr AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
        SELECT l_partkey, rev_cents,
               SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents,
               SUM(rev_cents) OVER () AS total
        FROM pr
    ),
    abc AS (
        SELECT l_partkey, rev_cents, total,
               CASE WHEN cum_cents <= 0.8 * total THEN 'A'
                    WHEN cum_cents <= 0.95 * total THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM cum
    ),
    monthly AS (
        SELECT l_partkey,
               EXTRACT(year FROM l_shipdate) * 12
               + EXTRACT(month FROM l_shipdate) AS mi,
               CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS q
        FROM lineitem GROUP BY l_partkey, mi
    ),
    xyz AS (
        SELECT l_partkey,
               CASE WHEN sqrt(SUM(q * q) / COUNT(*)
                              - (SUM(q) / COUNT(*)) * (SUM(q) / COUNT(*)))
                         / (SUM(q) / COUNT(*)) < 0.5 THEN 'X'
                    WHEN sqrt(SUM(q * q) / COUNT(*)
                              - (SUM(q) / COUNT(*)) * (SUM(q) / COUNT(*)))
                         / (SUM(q) / COUNT(*)) < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM monthly GROUP BY l_partkey
    )
    SELECT abc.abc_class, xyz.xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(abc.rev_cents) / CAST(MIN(abc.total) AS DOUBLE), 6)
               AS revenue_share
    FROM abc JOIN xyz ON xyz.l_partkey = abc.l_partkey
    GROUP BY abc.abc_class, xyz.xyz_class
    ORDER BY abc.abc_class, xyz.xyz_class
    """,
    tags=("analytics", "inventory", "pareto", "scale-safe"),
)
def parts_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification matrix — the supply-chain planner's
    two-axis segmentation: ABC from cumulative revenue share (A = parts
    covering the top 80% of revenue, B to 95%, C the tail — the
    `pareto_revenue_share` curve turned into classes) crossed with XYZ
    from demand variability (CV of observed monthly shipped quantity:
    X < 0.5 steady, Y < 1.0 seasonal, Z erratic).  The A-X cell is
    forecast-and-automate; C-Z is order-on-demand.

    Exactness: revenue ranks in exact integer cents; the cumulative is
    exact longs, so class boundaries compare a long against a
    deterministic double; monthly quantity power sums stay exactly
    representable (2-dp values, bounded magnitude), so CV is one double
    expression tree.

    Scale shape: both axes collapse the fact to part grain first; the
    ONLY global ordering (the Pareto cumulative) runs through
    `distributed_running_sums` on (-revenue, part) — range repartition +
    parallel `_pid` windows + 32 broadcast offsets, no single-partition
    window at any catalog size; the class join is part-grain equi."""
    from auron_spark.operators.window import distributed_running_sums

    li = Tables(spark, sf_dir).lineitem
    pr = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("rev_cents")
    )
    ranked = pr.withColumn("skey", -F.col("rev_cents"))
    cum = distributed_running_sums(
        ranked, ["skey", "l_partkey"], ["rev_cents"]
    )
    total = pr.agg(F.sum("rev_cents").cast("bigint").alias("total"))
    abc = cum.join(F.broadcast(total)).select(
        "l_partkey",
        "rev_cents",
        "total",
        F.when(F.col("cum_rev_cents") <= 0.8 * F.col("total"), "A")
        .when(F.col("cum_rev_cents") <= 0.95 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    monthly = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mi"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(9,2)"))
        .cast("double")
        .alias("q")
    )
    mean_q = F.sum("q") / F.count("*")
    cv = F.sqrt(F.sum(F.col("q") * F.col("q")) / F.count("*") - mean_q * mean_q) / mean_q
    xyz = monthly.groupBy("l_partkey").agg(
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        )
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.round(
                F.sum("rev_cents") / F.min("total").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


@query(
    "dq_k_anonymity",
    oracle="""
    WITH classes AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(*) AS k,
               COUNT(DISTINCT c_mktsegment) AS l_div
        FROM customer
        GROUP BY 1, 2
    )
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(MIN(l_div) AS BIGINT) AS min_l,
           ROUND(CAST(SUM(l_div) AS DOUBLE) / COUNT(*), 6) AS avg_l,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
               AS rows_below_k5
    FROM classes
    GROUP BY k
    ORDER BY k
    """,
    tags=("dq", "privacy"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the customer table:
    quasi-identifiers = (nation, account-balance band); sensitive
    attribute = market segment.  Rows whose QI equivalence class has
    k < 5 are re-identifiable under the standard k-anonymity threshold;
    classes with l_div = 1 leak the sensitive value outright (homogeneity
    attack).  The per-k histogram is what a privacy review reads before
    a dataset export — the release gate is min(k) and min(l), the row
    mass below k=5 sizes the suppression cost.

    Scale shape: one scan -> hash aggregate at QI grain (exact distinct
    over one low-cardinality sensitive column) -> re-aggregate at k grain
    (tens of rows).  No joins, no windows; both shuffles key on group
    columns, the second on a scalar."""
    t = Tables(spark, sf_dir)
    classes = (
        t.customer.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count("*").alias("k"),
            F.countDistinct("c_mktsegment").alias("l_div"),
        )
    )
    return (
        classes.groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("k").cast("bigint").alias("n_rows"),
            F.min("l_div").cast("bigint").alias("min_l"),
            F.round(F.sum("l_div").cast("double") / F.count("*"), 6).alias(
                "avg_l"
            ),
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
            .cast("bigint")
            .alias("rows_below_k5"),
        )
        .orderBy("k")
    )


@query(
    "dq_join_explosion_audit",
    oracle="""
    WITH le AS (
        SELECT user_id AS k, COUNT(*) AS cnt_l FROM events GROUP BY 1
    ), ri AS (
        SELECT o_custkey AS k, COUNT(*) AS cnt_r FROM orders GROUP BY 1
    ), fan AS (
        SELECT COALESCE(le.k, ri.k) AS k, cnt_l, cnt_r,
               cnt_l * cnt_r AS fanout
        FROM le FULL OUTER JOIN ri ON le.k = ri.k
    )
    SELECT CAST(COUNT(cnt_l) AS BIGINT) AS n_keys_left,
           CAST(COUNT(cnt_r) AS BIGINT) AS n_keys_right,
           CAST(COUNT(fanout) AS BIGINT) AS n_keys_both,
           CAST(SUM(fanout) AS BIGINT) AS predicted_join_rows,
           CAST(MAX(fanout) AS BIGINT) AS max_fanout,
           ROUND(CAST(SUM(fanout) AS DOUBLE) / COUNT(fanout), 6) AS avg_fanout,
           CAST(SUM(CASE WHEN fanout > 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keys_over_100,
           CAST(MAX(fanout * 10000000000 + k) % 10000000000 AS BIGINT)
               AS top_fanout_key
    FROM fan
    """,
    tags=("dq", "join", "profiling"),
)
def dq_join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality audit BEFORE running an M:N join (events.user_id
    |x| orders.o_custkey): per-key multiplicities on each side, predicted
    output rows (sum of per-key products), worst fan-out key and the
    count of keys whose product exceeds 100 — the pre-flight check that
    catches join explosions from duplicate keys at plan time instead of
    OOMing a 100-TB shuffle at run time.

    The audit itself never materializes the join: both sides reduce to
    per-key counts first (map-side partial aggregation), then ONE
    count-grain FULL OUTER join computes side cardinalities and
    intersection stats in a single pass — orders of magnitude cheaper
    than the join it predicts.

    Exactness: everything is integer counts; the argmax key rides the
    encoded-BIGINT max (fanout * 1e10 + key, ties -> larger key) exactly
    as both engines compute it."""
    t = Tables(spark, sf_dir)
    le = t.events.groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").alias("cnt_l")
    )
    ri = t.orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("cnt_r")
    )
    # FULL OUTER at count grain: one pass computes both side
    # cardinalities AND the intersection stats (a crossJoin of per-side
    # scalar aggregates would make Catalyst re-scan each fact — the
    # single-subtree rule, plan-gated to one scan per fact).
    fan = le.join(ri, "k", "full").select(
        F.coalesce(le.k, ri.k).alias("k"),
        "cnt_l",
        "cnt_r",
        (F.col("cnt_l") * F.col("cnt_r")).alias("fanout"),
    )
    return fan.agg(
        F.count("cnt_l").cast("bigint").alias("n_keys_left"),
        F.count("cnt_r").cast("bigint").alias("n_keys_right"),
        F.count("fanout").cast("bigint").alias("n_keys_both"),
        F.sum("fanout").cast("bigint").alias("predicted_join_rows"),
        F.max("fanout").cast("bigint").alias("max_fanout"),
        F.round(
            F.sum("fanout").cast("double") / F.count("fanout"), 6
        ).alias("avg_fanout"),
        F.sum(F.when(F.col("fanout") > 100, 1).otherwise(0))
        .cast("bigint")
        .alias("n_keys_over_100"),
        (
            F.max(F.col("fanout") * F.lit(10000000000).cast("long") + F.col("k"))
            % F.lit(10000000000).cast("long")
        )
        .cast("bigint")
        .alias("top_fanout_key"),
    )


@query(
    "dq_dp_noisy_counts",
    oracle="""
    WITH g AS (
        SELECT c_mktsegment, COUNT(*) AS true_n
        FROM customer GROUP BY c_mktsegment
    ),
    seeded AS (
        SELECT c_mktsegment, true_n,
               (CAST(('0x' || substr(md5('dp-seed-' || c_mktsegment), 1, 8))
                     AS BIGINT) % 1000000 + 0.5) / 1000000.0 - 0.5 AS u
        FROM g
    )
    SELECT c_mktsegment,
           CAST(true_n AS BIGINT) AS true_n,
           ROUND(-2.0 * CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END
                      * ln(1.0 - 2.0 * abs(u)), 6) AS noise,
           ROUND(true_n - 2.0 * CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END
                        * ln(1.0 - 2.0 * abs(u)), 6) AS noisy_n,
           CAST(0.5 AS DOUBLE) AS epsilon
    FROM seeded
    ORDER BY c_mktsegment
    """,
    tags=("dq", "privacy"),
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism, eps = 0.5,
    sensitivity 1 => scale b = 2): per-segment customer counts plus
    Laplace noise drawn by inverse-CDF — noise = -b * sign(u) *
    ln(1 - 2|u|) for u ~ Uniform(-1/2, 1/2).  TEST-HARNESS
    DETERMINIZATION, documented loudly: u is seeded from md5(segment) so
    both engines draw the identical sample and the driver can hash the
    release; a production release draws u fresh per query (the one-line
    swap is `rand()` for the hash) — everything else (scale calibration,
    the inverse-CDF transform, post-processing) is the real mechanism.

    Scale shape: one scan -> segment-grain count aggregate; the noise is
    scalar arithmetic on the 5-row release.  The noisy release, not the
    true counts, is what leaves the boundary — the true_n column is kept
    here only because the audit (not the release) is the query."""
    t = Tables(spark, sf_dir)
    g = t.customer.groupBy("c_mktsegment").agg(F.count("*").alias("true_n"))
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dp-seed-"), F.col("c_mktsegment"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
            + 0.5
        )
        / 1000000.0
        - 0.5
    )
    noise = (
        -2.0
        * F.when(u < 0, -1.0).otherwise(1.0)
        * F.log(1.0 - 2.0 * F.abs(u))
    )
    return g.select(
        "c_mktsegment",
        F.col("true_n").cast("bigint").alias("true_n"),
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_n") + noise, 6).alias("noisy_n"),
        F.lit(0.5).alias("epsilon"),
    ).orderBy("c_mktsegment")


_COMPACT_TARGET = 60000  # rows per compaction group (the 128 MB analog)

_SQL_FILE_INVENTORY = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}"
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
)


@query(
    "layout_compaction_plan",
    oracle=f"""
    WITH inv AS ({_SQL_FILE_INVENTORY}),
    ordered AS (
        SELECT table_name, n_rows,
               COALESCE(SUM(n_rows) OVER (
                   ORDER BY n_rows DESC, table_name
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS rows_before
        FROM inv
    )
    SELECT table_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(floor(CAST(rows_before AS DOUBLE) / {_COMPACT_TARGET})
                AS BIGINT) AS compaction_group
    FROM ordered
    ORDER BY n_rows DESC, table_name
    """,
    tags=("layout", "maintenance", "compaction"),
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction (OPTIMIZE) planning: inventory every data file with its
    row count via the zero-I/O `_metadata` scan column, order size-
    descending, and pack into target-size groups by cumulative-rows
    bucketing — the greedy bin-packing plan a lakehouse table service
    (Delta OPTIMIZE / Iceberg rewriteDataFiles) computes before rewriting
    small files.  Row count stands in for byte size on the fixtures (the
    planner is size-metric-agnostic); at fixture SF each table is one
    file, so file grain == table grain and the oracle can mirror the
    inventory with per-view COUNT(*)s.

    Scale shape: the inventory is file-grain (footer metadata, no row
    materialized beyond the count aggregate); the ordering + cumulative
    window run at file-inventory grain — thousands of rows for a 100-TB
    table, never corpus rows.  The plan itself (group -> files) is what
    the rewrite job consumes."""
    from auron_spark.tables import TABLE_NAMES, table
    from pyspark.sql import Window

    inv = None
    for name in TABLE_NAMES:
        one = (
            table(spark, sf_dir, name)
            .select(F.col("_metadata.file_name").alias("f"))
            .agg(F.count("*").alias("n_rows"))
            .select(F.lit(name).alias("table_name"), "n_rows")
        )
        inv = one if inv is None else inv.unionAll(one)
    w = (
        Window.orderBy(F.desc("n_rows"), "table_name")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        inv.select(
            "table_name",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.floor(
                F.coalesce(F.sum("n_rows").over(w), F.lit(0)).cast("double")
                / _COMPACT_TARGET
            )
            .cast("bigint")
            .alias("compaction_group"),
        )
        .orderBy(F.desc("n_rows"), "table_name")
    )


@query(
    "split_temporal_holdout",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-22'
                        THEN 1 ELSE 0 END) AS n_tr,
               SUM(CASE WHEN ts >= TIMESTAMP '2024-01-22'
                        THEN 1 ELSE 0 END) AS n_te
        FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(n_tr) AS BIGINT) AS n_train,
           CAST(SUM(n_te) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS users_train,
           CAST(SUM(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS users_test,
           CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS users_overlap,
           ROUND(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1.0 ELSE 0 END)
                 / SUM(CASE WHEN n_te > 0 THEN 1 ELSE 0 END), 6)
               AS overlap_rate
    FROM per_user
    """,
    tags=("pipeline", "split", "temporal"),
)
def split_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test holdout audit: events before 2024-01-22 train,
    the rest test — with the entity-overlap measurement (users present on
    BOTH sides of the cut) that decides whether this is a future-forecast
    split (overlap expected) or must be tightened to a user-disjoint split
    (`split_group_integrity`'s contract) for memorization-sensitive evals.
    Completes the split family: random (`split_train_val_test`), k-fold,
    group-integrity, leakage-audit, and now time-based.

    Scale shape: ONE corpus scan — the per-user side tallies (n_tr, n_te)
    are a single user-grain aggregate, and every audit number (row
    counts, per-side user counts, overlap) is a flag-sum over that frame
    (the single-subtree rule: separate distinct/join formulations would
    re-scan the fact per output column; plan-gated to one scan)."""
    t = Tables(spark, sf_dir)
    cut = F.lit("2024-01-22").cast("timestamp")
    per_user = t.events.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0)).alias("n_te"),
    )
    tr_flag = F.when(F.col("n_tr") > 0, 1).otherwise(0)
    te_flag = F.when(F.col("n_te") > 0, 1).otherwise(0)
    ov_flag = F.when((F.col("n_tr") > 0) & (F.col("n_te") > 0), 1).otherwise(0)
    return per_user.agg(
        F.sum("n_tr").cast("bigint").alias("n_train"),
        F.sum("n_te").cast("bigint").alias("n_test"),
        F.sum(tr_flag).cast("bigint").alias("users_train"),
        F.sum(te_flag).cast("bigint").alias("users_test"),
        F.sum(ov_flag).cast("bigint").alias("users_overlap"),
        F.round(
            F.sum(ov_flag.cast("double")) / F.sum(te_flag), 6
        ).alias("overlap_rate"),
    )


@query(
    "dq_iqr_outliers",
    oracle="""
    WITH vals AS (
        SELECT 'quantity' AS metric, l_quantity AS v FROM lineitem
        UNION ALL
        SELECT 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'discount', l_discount FROM lineitem
    ),
    q AS (
        SELECT metric,
               quantile_cont(v, 0.25) AS q1,
               quantile_cont(v, 0.75) AS q3
        FROM vals GROUP BY metric
    )
    SELECT v.metric,
           ROUND(q1, 6) AS q1, ROUND(q3, 6) AS q3,
           ROUND(q3 - q1, 6) AS iqr,
           ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
           ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi_fence,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN v.v < q1 - 1.5 * (q3 - q1)
                           OR v.v > q3 + 1.5 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN v.v < q1 - 1.5 * (q3 - q1)
                            OR v.v > q3 + 1.5 * (q3 - q1)
                          THEN 1.0 ELSE 0 END) / COUNT(*), 6) AS outlier_rate
    FROM vals v JOIN q ON q.metric = v.metric
    GROUP BY v.metric, q1, q3
    ORDER BY v.metric
    """,
    tags=("dq", "profiling", "outliers"),
)
def dq_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit over three lineitem metrics: exact
    Q1/Q3/IQR, the 1.5xIQR fences, and the count/share of values outside
    them — the robust companion to `anomaly_mad_events` (IQR fences are
    the standard box-plot rule a DQ monitor alerts on when a load's
    outlier share jumps).

    Scale shape: the unpivot is a map-side `stack` (x3 row fan-out inside
    ONE scan — the pre-r9 union-of-three-selects compiled to three scans
    per pass, six total; now two, and the remaining second pass is
    inherent: exact quantiles need a full pass before any value can be
    classified against the fences); exact quartiles sort within 3 metric
    groups (the approx_percentile sketch is the 100-TB swap, as
    documented on `agg_median_percentile`); the fence pass joins the
    3-row quartile table broadcast.

    Exactness: quartile interpolation on 2-dp doubles is exact and
    definition-shared (Spark percentile == DuckDB quantile_cont); counts
    integer; rates 6-dp."""
    t = Tables(spark, sf_dir)
    li = t.lineitem
    vals = li.select(
        F.expr(
            "stack(3, 'quantity', CAST(l_quantity AS DOUBLE), "
            "'extendedprice', CAST(l_extendedprice AS DOUBLE), "
            "'discount', CAST(l_discount AS DOUBLE)) AS (metric, v)"
        )
    )
    q = vals.groupBy("metric").agg(
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    out_flag = (F.col("v") < lo) | (F.col("v") > hi)
    return (
        vals.join(F.broadcast(q), "metric")
        .groupBy("metric", "q1", "q3")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(out_flag, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(
                F.sum(F.when(out_flag, 1.0).otherwise(0.0)) / F.count("*"), 6
            ).alias("outlier_rate"),
        )
        .select(
            "metric",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            F.round(F.col("q3") - F.col("q1"), 6).alias("iqr"),
            F.round(lo, 6).alias("lo_fence"),
            F.round(hi, 6).alias("hi_fence"),
            "n",
            "n_outliers",
            "outlier_rate",
        )
        .orderBy("metric")
    )


@query(
    "customer_segment_migration",
    oracle="""
    WITH p1 AS (
        SELECT o_custkey,
               NTILE(4) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                       DESC, o_custkey) AS tier
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    ),
    p2 AS (
        SELECT o_custkey,
               NTILE(4) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                       DESC, o_custkey) AS tier
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(CAST(p1.tier AS INT), 0) AS tier_from,
           COALESCE(CAST(p2.tier AS INT), 0) AS tier_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM p1 FULL OUTER JOIN p2 ON p1.o_custkey = p2.o_custkey
    GROUP BY 1, 2
    ORDER BY tier_from, tier_to
    """,
    tags=("agg", "segmentation", "migration", "window"),
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-tier migration matrix: spend quartiles (tier 1 =
    top) computed independently for 1995-97 and 1998-2001, full-outer
    joined per customer into a 5x5 transition matrix (tier 0 = absent in
    that period: churned / newly acquired) — the retention report behind
    'are our top-quartile customers staying top-quartile?', and the
    business-grain sibling of `events_markov_transitions`.

    Scale shape: each period is one orders aggregate to customer grain +
    one customer-grain quartile cut (the `customer_rfm_segments` global-
    ntile posture — `customer_rfm_segments_scale` shows the
    distributed_ntile swap at billions of customers); the matrix is a
    customer-key full-outer join aggregated to <= 25 cells.

    Exactness: spend is exact DECIMAL; ntile cuts are tiebroken on the
    customer key; counts integer."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)

    def tiers(pred):
        spend = (
            t.orders.where(pred)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m")
            )
        )
        w = Window.orderBy(F.desc("m"), "o_custkey")
        return spend.select("o_custkey", F.ntile(4).over(w).alias("tier"))

    cut = F.lit("1998-01-01").cast("timestamp")
    p1 = tiers(F.col("o_orderdate") < cut).select(
        F.col("o_custkey").alias("k1"), F.col("tier").alias("t1")
    )
    p2 = tiers(F.col("o_orderdate") >= cut).select(
        F.col("o_custkey").alias("k2"), F.col("tier").alias("t2")
    )
    return (
        p1.join(p2, F.col("k1") == F.col("k2"), "full")
        .select(
            F.coalesce(F.col("t1"), F.lit(0)).cast("int").alias("tier_from"),
            F.coalesce(F.col("t2"), F.lit(0)).cast("int").alias("tier_to"),
        )
        .groupBy("tier_from", "tier_to")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("tier_from", "tier_to")
    )


@query(
    "customer_segment_migration_scale",
    oracle="""
    WITH p1 AS (
        SELECT o_custkey,
               NTILE(4) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                       DESC, o_custkey) AS tier
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    ),
    p2 AS (
        SELECT o_custkey,
               NTILE(4) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                       DESC, o_custkey) AS tier
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(CAST(p1.tier AS INT), 0) AS tier_from,
           COALESCE(CAST(p2.tier AS INT), 0) AS tier_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM p1 FULL OUTER JOIN p2 ON p1.o_custkey = p2.o_custkey
    GROUP BY 1, 2
    ORDER BY tier_from, tier_to
    """,
    tags=("agg", "segmentation", "migration", "window", "scale-safe"),
)
def customer_segment_migration_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """customer_segment_migration with NO single-partition window (VERDICT
    r10 ask #5 — the last of the three global-NTILE reports to gain a
    registered distributed twin): each period's quartile cut goes through
    `distributed_ntile` (range repartition on (spend DESC, custkey),
    parallel per-partition ranks, broadcast prefix-sum offsets, map-side
    bucket closed form), bit-identical to the exact twin because the
    ordering key is a total order.

    Scale shape: two period aggregates to customer grain, each followed by
    one 32-way range exchange + one 32-long count collect; the transition
    matrix is the same customer-key full-outer join, aggregated to <= 25
    cells.  Zero `Exchange SinglePartition` nodes (plan-gated)."""
    from auron_spark.operators.window import distributed_ntile

    t = Tables(spark, sf_dir)

    def tiers(pred):
        spend = (
            t.orders.where(pred)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m")
            )
        )
        return distributed_ntile(
            spend, 4, [F.desc("m"), F.asc("o_custkey")], "tier"
        ).select("o_custkey", "tier")

    cut = F.lit("1998-01-01").cast("timestamp")
    p1 = tiers(F.col("o_orderdate") < cut).select(
        F.col("o_custkey").alias("k1"), F.col("tier").alias("t1")
    )
    p2 = tiers(F.col("o_orderdate") >= cut).select(
        F.col("o_custkey").alias("k2"), F.col("tier").alias("t2")
    )
    return (
        p1.join(p2, F.col("k1") == F.col("k2"), "full")
        .select(
            F.coalesce(F.col("t1"), F.lit(0)).cast("int").alias("tier_from"),
            F.coalesce(F.col("t2"), F.lit(0)).cast("int").alias("tier_to"),
        )
        .groupBy("tier_from", "tier_to")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("tier_from", "tier_to")
    )


@query(
    "parts_supplier_hhi",
    oracle="""
    WITH cat AS (
        SELECT split_part(p_type, ' ', 1) AS category, l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS rev_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT category, SUM(rev_cents) AS cat_cents,
               COUNT(*) AS n_suppliers
        FROM cat GROUP BY category
    )
    SELECT c.category,
           CAST(n_suppliers AS BIGINT) AS n_suppliers,
           ROUND(CAST(cat_cents AS DOUBLE) / 100, 2) AS category_revenue,
           CAST(ROUND(SUM(CAST(ROUND(pow(10000.0 * c.rev_cents / t.cat_cents,
                                      2) / 10000, 9) AS DECIMAL(28,9))), 6)
                AS DOUBLE) AS hhi,
           ROUND(CAST(MAX(c.rev_cents) AS DOUBLE) / t.cat_cents, 6)
               AS top_share
    FROM cat c JOIN tot t ON t.category = c.category
    GROUP BY c.category, t.cat_cents, t.n_suppliers
    ORDER BY c.category
    """,
    tags=("agg", "concentration", "supply-chain"),
)
def parts_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per part category: the Herfindahl-Hirschman
    index (sum of squared percentage market shares, the antitrust /
    supply-risk standard — >2500 is 'highly concentrated'), supplier
    count and top-supplier share — the single-source-risk report a
    procurement mart refreshes per load, extending the Pareto family
    (`pareto_revenue_share`) with the index form.

    Scale shape: one fact aggregate to (category, supplier) grain (exact
    integer cents); category totals and supplier counts are a
    category-partitioned window over that grain frame (single-subtree
    rule — the pre-r9 groupBy-then-join-back re-derived the fact
    aggregate, compiling to four scans of part), and the HHI a
    share-grain rollup — every shuffle shrinks.

    Exactness: shares derive from exact integer cents; each squared-share
    term is 9-dp-rounded into DECIMAL before the order-insensitive sum
    (the `text_word_entropy` containment device)."""
    t = Tables(spark, sf_dir)
    cat = (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("category"),
            "l_suppkey",
        )
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    wc = Window.partitionBy("category")
    cat = cat.withColumn("cat_cents", F.sum("rev_cents").over(wc)).withColumn(
        "n_suppliers", F.count("*").over(wc)
    )
    share_sq = F.round(
        F.pow(10000.0 * F.col("rev_cents") / F.col("cat_cents"), 2) / 10000, 9
    ).cast("decimal(28,9)")
    return (
        cat.groupBy("category", "cat_cents", "n_suppliers")
        .agg(
            F.round(F.sum(share_sq), 6).alias("hhi"),
            F.round(
                F.max("rev_cents").cast("double") / F.col("cat_cents"), 6
            ).alias("top_share"),
        )
        .select(
            "category",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.round(F.col("cat_cents").cast("double") / 100, 2).alias(
                "category_revenue"
            ),
            F.col("hhi").cast("double").alias("hhi"),
            "top_share",
        )
        .orderBy("category")
    )


@query(
    "events_engagement_gini",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x, user_id) AS r,
               COUNT(*) OVER () AS n_all
        FROM per_user
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(r * x) AS srx,
               SUM(CASE WHEN r > n_all * 0.9 THEN x ELSE 0 END)
                   AS top_decile_x
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(sx AS BIGINT) AS total_events,
           ROUND(2.0 * srx / (n * CAST(sx AS DOUBLE)) - (n + 1.0) / n, 6)
               AS gini,
           ROUND(CAST(top_decile_x AS DOUBLE) / sx, 6) AS top_decile_share
    FROM s
    """,
    tags=("agg", "concentration", "inequality"),
)
def events_engagement_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement inequality: the Gini coefficient of per-user event
    counts (rank formula G = 2*SUM(r*x)/(n*SUM(x)) - (n+1)/n on the
    ascending-sorted counts) plus the top-decile activity share — the
    'how concentrated is our usage' number that pairs with
    `pareto_revenue_share` (curve) and `parts_supplier_hhi` (index) to
    complete the concentration-metrics trio.

    Scale shape: corpus reduces to user grain in one aggregate; the rank
    runs at user grain (the documented `customer_rfm_segments` global-
    ntile posture — swap in `distributed_running_sums` at billions of
    users, as `pareto_revenue_share_scale` demonstrates); the power sums
    are exact integers into one scalar row."""
    from pyspark.sql import Window

    t = Tables(spark, sf_dir)
    per_user = t.events.groupBy("user_id").agg(F.count("*").alias("x"))
    ranked = per_user.select(
        "x", F.row_number().over(Window.orderBy("x", "user_id")).alias("r")
    ).withColumn("n_all", F.count("*").over(Window.partitionBy()))
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("r") * F.col("x")).alias("srx"),
        F.sum(
            F.when(F.col("r") > F.col("n_all") * 0.9, F.col("x")).otherwise(0)
        ).alias("top_decile_x"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("sx").cast("bigint").alias("total_events"),
        F.round(
            2.0 * F.col("srx") / (F.col("n") * F.col("sx").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
        F.round(
            F.col("top_decile_x").cast("double") / F.col("sx"), 6
        ).alias("top_decile_share"),
    )


_SNAP_CUT1 = "1997-07-01"
_SNAP_CUT2 = "1998-01-01"


@query(
    "dq_snapshot_reconcile",
    oracle=f"""
    WITH st AS (
        SELECT l_orderkey,
               SUM(CASE WHEN l_shipdate < DATE '{_SNAP_CUT1}'
                        THEN 1 ELSE 0 END) AS ship_a,
               SUM(CASE WHEN l_shipdate < DATE '{_SNAP_CUT2}'
                        THEN 1 ELSE 0 END) AS ship_b
        FROM lineitem GROUP BY l_orderkey
    ),
    classed AS (
        SELECT CASE
                 WHEN o.o_orderdate >= DATE '{_SNAP_CUT1}' THEN 'added'
                 WHEN COALESCE(s.ship_a, 0) <> COALESCE(s.ship_b, 0)
                     THEN 'changed'
                 ELSE 'unchanged'
               END AS diff_class,
               COALESCE(s.ship_a, 0) AS ship_a,
               COALESCE(s.ship_b, 0) AS ship_b
        FROM orders o LEFT JOIN st s ON s.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate < DATE '{_SNAP_CUT2}'
    )
    SELECT diff_class,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(ship_b - ship_a) AS BIGINT) AS shipped_delta
    FROM classed
    GROUP BY diff_class
    ORDER BY diff_class
    """,
    tags=("dq", "reconciliation", "snapshot-diff"),
)
def dq_snapshot_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation between two as-of cuts of the order book
    (1997-07-01 vs 1998-01-01): every order in the later snapshot is
    classed as ADDED (absent from the earlier cut), CHANGED (its
    shipped-lineitem state advanced between cuts) or UNCHANGED, with the
    total shipped-count delta per class — the load-to-load diff a
    warehouse reconciliation job publishes after every batch (row counts
    alone miss in-place state drift; this catches both).

    Scale shape: ONE scan per fact — both snapshots' per-order states
    are flag-sums of the same lineitem aggregate (the `dq_psi_drift`
    single-subtree device), joined once to the order filter; output is
    3 rows.  At 100 TB the join is key-colocated (both sides hash on
    orderkey) and everything before it is partial-aggregatable.

    Exactness: all counts exact integers; classification is pure flag
    logic."""
    t = Tables(spark, sf_dir)
    st = t.lineitem.groupBy("l_orderkey").agg(
        F.sum(
            F.when(F.col("l_shipdate") < F.lit(_SNAP_CUT1).cast("date"), 1)
            .otherwise(0)
        ).alias("ship_a"),
        F.sum(
            F.when(F.col("l_shipdate") < F.lit(_SNAP_CUT2).cast("date"), 1)
            .otherwise(0)
        ).alias("ship_b"),
    )
    classed = (
        t.orders.where(
            F.col("o_orderdate") < F.lit(_SNAP_CUT2).cast("date")
        )
        .join(st, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .select(
            F.when(
                F.col("o_orderdate") >= F.lit(_SNAP_CUT1).cast("date"),
                F.lit("added"),
            )
            .when(
                F.coalesce("ship_a", F.lit(0))
                != F.coalesce("ship_b", F.lit(0)),
                F.lit("changed"),
            )
            .otherwise(F.lit("unchanged"))
            .alias("diff_class"),
            F.coalesce("ship_a", F.lit(0)).alias("ship_a"),
            F.coalesce("ship_b", F.lit(0)).alias("ship_b"),
        )
    )
    return (
        classed.groupBy("diff_class")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("ship_b") - F.col("ship_a"))
            .cast("bigint")
            .alias("shipped_delta"),
        )
        .orderBy("diff_class")
    )


_TRI_MIN_SUPPORT = 2


@query(
    "market_basket_triples",
    oracle=f"""
    WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    tri AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
               COUNT(*) AS n_baskets
        FROM op a
        JOIN op b ON b.l_orderkey = a.l_orderkey
                 AND b.l_partkey > a.l_partkey
        JOIN op c ON c.l_orderkey = a.l_orderkey
                 AND c.l_partkey > b.l_partkey
        GROUP BY pa, pb, pc
        HAVING COUNT(*) >= {_TRI_MIN_SUPPORT}
    )
    SELECT pa, pb, pc, CAST(n_baskets AS BIGINT) AS n_baskets
    FROM tri
    ORDER BY n_baskets DESC, pa, pb, pc
    """,
    tags=("agg", "market-basket", "apriori"),
)
def market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets (a-priori level 3): part triples bought
    together in >= 2 baskets — the next candidate-generation level above
    `market_basket_pairs`, and the step where a-priori's anti-monotone
    pruning starts to matter: a triple can only be frequent if ALL THREE
    of its sub-pairs are, so the Spark side semi-joins each pair leg
    against the frequent-pair set BEFORE the triple count.  The DuckDB
    oracle counts triples UNPRUNED and applies only the final support
    filter — the hash match is therefore a machine-checked proof that the
    pruning is lossless, the `geo_radius_join` proof device applied to
    a-priori.

    Scale shape: the basket table materializes once (the
    `market_basket_pairs` note); pair and triple joins co-locate on
    l_orderkey with basket-bounded fan-out (~items-per-order choose 3);
    the frequent-pair set is model-sized and broadcast into the three
    semi-joins, so at 100 TB the triple stage only enumerates candidates
    whose every sub-pair already survived level 2.

    Exactness: all counts are exact integers; output ends in the
    (pa, pb, pc) total order."""
    li = Tables(spark, sf_dir).lineitem
    op = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    c = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pc"))
    fp = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_pair"))
        .where(F.col("n_pair") >= _TRI_MIN_SUPPORT)
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )
    cand = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .join(c, "ok")
        .where(F.col("pc") > F.col("pb"))
        # anti-monotone pruning: every sub-pair must be level-2 frequent
        .join(F.broadcast(fp), ["pa", "pb"], "left_semi")
        .join(
            F.broadcast(fp.select(F.col("pa").alias("pb"), F.col("pb").alias("pc"))),
            ["pb", "pc"],
            "left_semi",
        )
        .join(
            F.broadcast(fp.select("pa", F.col("pb").alias("pc"))),
            ["pa", "pc"],
            "left_semi",
        )
    )
    return (
        cand.groupBy("pa", "pb", "pc")
        .agg(F.count("*").alias("n_baskets"))
        .where(F.col("n_baskets") >= _TRI_MIN_SUPPORT)
        .select(
            "pa", "pb", "pc", F.col("n_baskets").cast("bigint").alias("n_baskets")
        )
        .orderBy(F.desc("n_baskets"), "pa", "pb", "pc")
    )


_DRIFT_CUT = "1997-07-01"


@query(
    "dq_schema_drift",
    oracle=f"""
    WITH flags AS (
        SELECT *, (o_orderdate < DATE '{_DRIFT_CUT}') AS in_a FROM orders
    ),
    m AS (
        SELECT
          SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS na,
          SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS nb,
          COUNT(CASE WHEN in_a THEN o_custkey END) AS nn_a_o_custkey,
          COUNT(CASE WHEN NOT in_a THEN o_custkey END) AS nn_b_o_custkey,
          COUNT(DISTINCT CASE WHEN in_a THEN o_custkey END) AS nd_a_o_custkey,
          COUNT(DISTINCT CASE WHEN NOT in_a THEN o_custkey END)
              AS nd_b_o_custkey,
          COUNT(CASE WHEN in_a THEN o_orderstatus END) AS nn_a_o_orderstatus,
          COUNT(CASE WHEN NOT in_a THEN o_orderstatus END)
              AS nn_b_o_orderstatus,
          COUNT(DISTINCT CASE WHEN in_a THEN o_orderstatus END)
              AS nd_a_o_orderstatus,
          COUNT(DISTINCT CASE WHEN NOT in_a THEN o_orderstatus END)
              AS nd_b_o_orderstatus,
          COUNT(CASE WHEN in_a THEN o_orderpriority END)
              AS nn_a_o_orderpriority,
          COUNT(CASE WHEN NOT in_a THEN o_orderpriority END)
              AS nn_b_o_orderpriority,
          COUNT(DISTINCT CASE WHEN in_a THEN o_orderpriority END)
              AS nd_a_o_orderpriority,
          COUNT(DISTINCT CASE WHEN NOT in_a THEN o_orderpriority END)
              AS nd_b_o_orderpriority,
          COUNT(CASE WHEN in_a THEN o_totalprice END) AS nn_a_o_totalprice,
          COUNT(CASE WHEN NOT in_a THEN o_totalprice END) AS nn_b_o_totalprice,
          COUNT(DISTINCT CASE WHEN in_a THEN o_totalprice END) AS nd_a_o_totalprice,
          COUNT(DISTINCT CASE WHEN NOT in_a THEN o_totalprice END) AS nd_b_o_totalprice
        FROM flags
    )
    SELECT column_name,
           CAST(nn_a AS BIGINT) AS nn_a, CAST(nn_b AS BIGINT) AS nn_b,
           CAST(nd_a AS BIGINT) AS nd_a, CAST(nd_b AS BIGINT) AS nd_b,
           ROUND(CAST(nn_b AS DOUBLE) / nb - CAST(nn_a AS DOUBLE) / na, 6)
               AS fill_delta,
           ROUND(CAST(nd_b AS DOUBLE) / nd_a, 6) AS cardinality_ratio
    FROM (
        SELECT 'o_custkey' AS column_name, na, nb,
               nn_a_o_custkey AS nn_a, nn_b_o_custkey AS nn_b,
               nd_a_o_custkey AS nd_a, nd_b_o_custkey AS nd_b FROM m
        UNION ALL
        SELECT 'o_orderstatus', na, nb, nn_a_o_orderstatus,
               nn_b_o_orderstatus, nd_a_o_orderstatus, nd_b_o_orderstatus
        FROM m
        UNION ALL
        SELECT 'o_orderpriority', na, nb, nn_a_o_orderpriority,
               nn_b_o_orderpriority, nd_a_o_orderpriority,
               nd_b_o_orderpriority FROM m
        UNION ALL
        SELECT 'o_totalprice', na, nb, nn_a_o_totalprice, nn_b_o_totalprice,
               nd_a_o_totalprice, nd_b_o_totalprice FROM m
    )
    ORDER BY column_name
    """,
    tags=("dq", "drift", "profiling"),
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural drift between two load periods: per column, the fill
    rate and distinct cardinality in the pre-cut vs post-cut half, with
    the fill-rate delta and cardinality ratio — the schema-level drift
    monitor that complements `dq_psi_drift` (value-distribution drift):
    a price-cardinality collapse or an upstream null regression shows here
    before any distribution test fires.

    Scale shape: ONE corpus scan — both periods' per-column metrics are
    conditional aggregates of the same pass (flag-sums + conditional
    multi-distinct via one Expand, the `dq_completeness_profile` /
    `dq_psi_drift` single-subtree devices), unpivoted to column grain
    with a single stack.

    Exactness: all counts exact integers; deltas/ratios 6-dp divisions
    of exact inputs."""
    o = Tables(spark, sf_dir).orders
    in_a = F.col("o_orderdate") < F.lit(_DRIFT_CUT).cast("date")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]
    aggs = [
        F.sum(F.when(in_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(~in_a, 1).otherwise(0)).alias("nb"),
    ]
    for c in cols:
        aggs.append(F.count(F.when(in_a, F.col(c))).alias(f"nn_a_{c}"))
        aggs.append(F.count(F.when(~in_a, F.col(c))).alias(f"nn_b_{c}"))
        aggs.append(
            F.countDistinct(F.when(in_a, F.col(c))).alias(f"nd_a_{c}")
        )
        aggs.append(
            F.countDistinct(F.when(~in_a, F.col(c))).alias(f"nd_b_{c}")
        )
    one = o.agg(*aggs)
    stack = "stack({}, {}) AS (column_name, nn_a, nn_b, nd_a, nd_b)".format(
        len(cols),
        ", ".join(
            f"'{c}', nn_a_{c}, nn_b_{c}, nd_a_{c}, nd_b_{c}" for c in cols
        ),
    )
    return (
        one.select("na", "nb", F.expr(stack))
        .select(
            "column_name",
            F.col("nn_a").cast("bigint").alias("nn_a"),
            F.col("nn_b").cast("bigint").alias("nn_b"),
            F.col("nd_a").cast("bigint").alias("nd_a"),
            F.col("nd_b").cast("bigint").alias("nd_b"),
            F.round(
                F.col("nn_b").cast("double") / F.col("nb")
                - F.col("nn_a").cast("double") / F.col("na"),
                6,
            ).alias("fill_delta"),
            F.round(
                F.col("nd_b").cast("double") / F.col("nd_a"), 6
            ).alias("cardinality_ratio"),
        )
        .orderBy("column_name")
    )


@query(
    "orders_ship_latency_sla",
    oracle="""
    WITH lat AS (
        SELECT o.o_orderpriority AS priority,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    q AS (
        SELECT priority,
               COUNT(*) AS n,
               quantile_cont(days, 0.5) AS p50,
               quantile_cont(days, 0.9) AS p90,
               quantile_cont(days, 0.99) AS p99
        FROM lat GROUP BY priority
    ),
    b AS (
        SELECT priority,
               SUM(CASE WHEN days > 90 THEN 1 ELSE 0 END) AS n_breach
        FROM lat GROUP BY priority
    )
    SELECT q.priority, CAST(q.n AS BIGINT) AS n_lines,
           ROUND(p50, 6) AS p50_days, ROUND(p90, 6) AS p90_days,
           ROUND(p99, 6) AS p99_days,
           CAST(b.n_breach AS BIGINT) AS n_breach_90d,
           ROUND(CAST(b.n_breach AS DOUBLE) / q.n, 6) AS breach_rate
    FROM q JOIN b ON b.priority = q.priority
    ORDER BY q.priority
    """,
    tags=("agg", "latency", "sla", "percentiles"),
)
def orders_ship_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA report per priority class: exact
    p50/p90/p99 of the order-date-to-ship-date gap plus the 90-day
    breach count and rate — the fulfilment-SLA dashboard (and the same
    shape as a pipeline-latency SLO report over any two event
    timestamps).

    Scale shape: one fact join (key-colocated on orderkey) collapses to
    integer-day latency values; exact percentiles sort within |priority|
    = 5 groups (approx_percentile is the 100-TB swap, the
    `dq_iqr_outliers` contract); breach counts ride the same grain in
    one aggregate — Spark computes percentiles AND breach flags in ONE
    groupBy (the oracle splits them into two CTEs for clarity; same
    exact numbers).

    Exactness: day gaps are exact integers (no timezone arithmetic —
    dates only); percentile interpolation is the shared
    percentile/quantile_cont definition; rates 6-dp."""
    t = Tables(spark, sf_dir)
    lat = t.orders.join(
        t.lineitem, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").alias("days"),
    )
    return (
        lat.groupBy("priority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.round(F.expr("percentile(days, 0.5)"), 6).alias("p50_days"),
            F.round(F.expr("percentile(days, 0.9)"), 6).alias("p90_days"),
            F.round(F.expr("percentile(days, 0.99)"), 6).alias("p99_days"),
            F.sum(F.when(F.col("days") > 90, 1).otherwise(0))
            .cast("bigint")
            .alias("n_breach_90d"),
            F.round(
                F.sum(F.when(F.col("days") > 90, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("breach_rate"),
        )
        .orderBy("priority")
    )


# --- round-10 wave: backlog aging + DQ profiles ------------------------------


@query(
    "orders_backlog_aging",
    oracle="""
    WITH open_orders AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority,
               date_diff('day', o_orderdate, TIMESTAMP '1998-01-01')
                   AS age_days
        FROM orders
        WHERE o_orderstatus = 'O' AND o_orderdate <= TIMESTAMP '1998-01-01'
    ),
    b AS (
        SELECT CASE WHEN age_days <= 30 THEN '0-30'
                    WHEN age_days <= 90 THEN '31-90'
                    WHEN age_days <= 180 THEN '91-180'
                    ELSE '180+' END AS bucket,
               o_totalprice, age_days
        FROM open_orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS open_value,
           CAST(MAX(age_days) AS BIGINT) AS oldest_days
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("relational", "aging", "backlog", "report"),
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging report at a snapshot date: orders still
    open ('O') as of 1998-01-01 bucketed by days outstanding, with count,
    exposed value and the oldest age per bucket — the AR-aging /
    fulfillment-backlog report every operational warehouse runs.

    Scale shape: one pushed-down filter scan over orders (status +
    date predicates reach the parquet reader), one 4-bucket aggregate —
    map-side combine makes the shuffle 4 rows per partition."""
    t = Tables(spark, sf_dir)
    snap = F.lit("1998-01-01").cast("date")
    open_ = t.orders.where(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate") <= "1998-01-01 00:00:00")
    ).select(
        "o_totalprice",
        F.datediff(snap, F.col("o_orderdate").cast("date")).alias("age_days"),
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 180, "91-180")
        .otherwise("180+")
    )
    return (
        open_.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("open_value"),
            F.max("age_days").cast("bigint").alias("oldest_days"),
        )
        .orderBy("bucket")
    )


_ENTROPY_COLS = (
    ("events", "event_type"),
    ("customer", "c_mktsegment"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
)


def _entropy_leg_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS column_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS entropy_bits,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_share
    FROM (
        SELECT c,
               ROUND(-(CAST(c AS DOUBLE) / tot)
                     * log2(CAST(c AS DOUBLE) / tot), 9) AS term
        FROM (
            SELECT c, SUM(c) OVER () AS tot
            FROM (SELECT {col} AS v, COUNT(*) AS c FROM {table}
                  GROUP BY {col})
        )
    )
    """


@query(
    "dq_column_entropy_profile",
    oracle=" UNION ALL ".join(
        _entropy_leg_sql(tb, c) for tb, c in _ENTROPY_COLS
    )
    + " ORDER BY column_name",
    tags=("pipeline", "dq", "profile", "entropy"),
)
def dq_column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column information profile: Shannon entropy (bits),
    distinct count and top-value share for the four main categorical
    columns — the column-level profiling a data catalog runs to flag
    near-constant (entropy ~ 0) or unexpectedly-diffuse columns.

    Exactness contract: per-value probabilities come from integer counts;
    each -p*log2(p) double term is 9-dp-rounded into DECIMAL(28,9) so the
    cross-value sum is order-insensitive.

    Scale shape: one value-grain aggregate per column (map-side combine;
    the value domains are small), unioned plan-level — each leg scans
    ONLY its own column (column pruning)."""
    t = Tables(spark, sf_dir)
    out = None
    for tb, c in _ENTROPY_COLS:
        vg = getattr(t, tb).groupBy(F.col(c).alias("v")).agg(
            F.count("*").alias("c")
        )
        tot = Window.partitionBy()
        p = F.col("c").cast("double") / F.sum("c").over(tot)
        leg = (
            vg.select("c", F.round(-p * F.log2(p), 9).alias("term"))
            .agg(
                F.lit(f"{tb}.{c}").alias("column_name"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count("*").cast("bigint").alias("n_distinct"),
                F.round(
                    F.sum(F.col("term").cast("decimal(28,9)")).cast("double"),
                    6,
                ).alias("entropy_bits"),
                F.round(
                    F.max("c").cast("double") / F.sum("c"), 6
                ).alias("top_share"),
            )
        )
        out = leg if out is None else out.unionAll(leg)
    return out.orderBy("column_name")


@query(
    "dq_freshness_lag",
    oracle="""
    WITH per_type AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS max_epoch,
               MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS min_epoch
        FROM events
        GROUP BY event_type
    ),
    g AS (SELECT MAX(max_epoch) AS global_max FROM per_type)
    SELECT event_type, n_events,
           CAST(g.global_max - max_epoch AS BIGINT) AS staleness_sec,
           CAST(max_epoch - min_epoch AS BIGINT) AS span_sec,
           ROUND(n_events * 3600.0 / NULLIF(max_epoch - min_epoch, 0), 6)
               AS events_per_hour
    FROM per_type CROSS JOIN g
    ORDER BY event_type
    """,
    tags=("pipeline", "dq", "freshness", "sla"),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness audit: how far each event type's newest record
    lags the newest record overall (staleness), plus its time span and
    arrival rate — the staleness SLA check a data-health dashboard runs
    per upstream feed.

    Exactness contract: epochs are integer seconds; the only double is the
    final rate division.  Spark's unix_timestamp(ts) agrees with DuckDB's
    timezone-naive epoch(ts) ONLY under a UTC-pinned session — which
    `session.get_spark` sets (`spark.sql.session.timeZone=UTC`,
    session.py:31) and every driver artifact since r1 confirms for the
    driver's session too (ADVICE r10).  An event type whose timestamps are
    all identical has zero span: both engines emit NULL rate via the
    NULLIF guard instead of diverging (Spark ANSI throws, DuckDB errors).

    Scale shape: one per-type aggregate (5 rows) + a broadcast 1-row
    global max — the fact is scanned once."""
    t = Tables(spark, sf_dir)
    per = t.events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(F.unix_timestamp("ts")).alias("max_epoch"),
        F.min(F.unix_timestamp("ts")).alias("min_epoch"),
    )
    g = per.agg(F.max("max_epoch").alias("global_max"))
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            (F.col("global_max") - F.col("max_epoch"))
            .cast("bigint")
            .alias("staleness_sec"),
            (F.col("max_epoch") - F.col("min_epoch"))
            .cast("bigint")
            .alias("span_sec"),
            F.round(
                F.col("n_events") * 3600.0
                / F.nullif(
                    F.col("max_epoch") - F.col("min_epoch"), F.lit(0)
                ),
                6,
            ).alias("events_per_hour"),
        )
        .orderBy("event_type")
    )


@query(
    "dq_sequence_gaps_scale",
    oracle="""
    WITH k AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    adj AS (
        SELECT lag(k) OVER (ORDER BY k) AS k_prev, k FROM k
    ),
    gaps AS (
        SELECT k_prev + 1 AS gap_start, k - 1 AS gap_end,
               k - k_prev - 1 AS gap_len
        FROM adj WHERE k_prev IS NOT NULL AND k - k_prev > 1
    ),
    summary AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(k) - MIN(k) + 1 - COUNT(*) AS BIGINT)
                   AS missing_total
        FROM k
    )
    SELECT g.gap_start, g.gap_end, CAST(g.gap_len AS BIGINT) AS gap_len,
           s.n_keys, s.missing_total
    FROM gaps g CROSS JOIN summary s
    ORDER BY gap_len DESC, gap_start LIMIT 5
    """,
    tags=("dq", "sequence", "gaps", "scale-safe"),
)
def dq_sequence_gaps_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyspace-gap audit with NO single-partition window — the top-5
    largest id gaps in a sparse key subsequence (URGENT orders), plus
    the subset's total missing-key mass.  The naive plan is a global
    `lag(k) OVER (ORDER BY k)`; the distributed device here is ADJACENT-
    DIFFERENCE WITH BOUNDARY HANDOFF, the third member of the
    range-partition family (ntile: bucket closed form; running sums:
    broadcast offsets): range-repartition on the key, lag WITHIN each
    partition (parallel windows), then stitch the 32 partition seams by
    collecting each partition's (min, max) — constant-size model state —
    and unioning the driver-built seam pairs back in.  Every adjacent
    key pair is seen exactly once: interior pairs by the partitioned
    lag, seam pairs by the handoff.

    Exactness: keys and gaps are integers; the top-5 cut orders on
    (gap_len DESC, gap_start) — a total order since gap_start is unique.

    Scale shape: one subset scan, one 32-way range exchange, a 32-row
    collect, and a TakeOrderedAndProject head; zero single-partition
    windows (plan-gated)."""
    from auron_spark.operators.window import distributed_adjacent_pairs

    t = Tables(spark, sf_dir)
    # Checkpoint the key subset ONCE: the pair device and the summary
    # aggregate both read it, so the orders scan runs once (review r13
    # #6 — the pre-review draft re-scanned orders for the summary).
    keys = (
        t.orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        # Lazy (r16): materializes inside the pair device's first bounds
        # job — one driver job fewer, same one-scan sharing.
        .localCheckpoint(eager=False)
    )
    adj = distributed_adjacent_pairs(keys, "k")
    gaps = adj.where(F.col("k") - F.col("k_prev") > 1).select(
        (F.col("k_prev") + 1).alias("gap_start"),
        (F.col("k") - 1).alias("gap_end"),
        (F.col("k") - F.col("k_prev") - 1).cast("bigint").alias("gap_len"),
    )
    summary = keys.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        (F.max("k") - F.min("k") + 1 - F.count("*"))
        .cast("bigint")
        .alias("missing_total"),
    )
    return (
        gaps.join(F.broadcast(summary))
        .orderBy(F.desc("gap_len"), "gap_start")
        .limit(5)
    )
