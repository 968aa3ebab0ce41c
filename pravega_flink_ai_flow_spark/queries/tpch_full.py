"""Remaining TPC-H query shapes (Q2,4,6,7,8,9,11,13,15,19,20,21),
adapted to the driver schema — completing all 22 TPC-H shapes together
with ``tpch.py`` (Q3/5/10/12/14/16/17/18/22) and ``a1_pricing_summary``
(Q1).

The reference embeds the full Flink SQL surface
(``table_env.execute_sql``, batch_train_batch_predict_processor.py:44);
these queries exercise the decision-support end of it. The driver tables
lack ``partsupp`` and lineitem's commit/receipt dates, so:
- part↔supplier relationships come from ``SELECT DISTINCT l_partkey,
  l_suppkey FROM lineitem`` (the shape of the join tree is unchanged);
- "late" is ``l_shipdate > o_orderdate + INTERVAL n DAY`` instead of
  receipt-vs-commit;
- supply cost is proxied by ``0.5 * p_retailprice`` per unit.

Scale notes (verified with ``.explain("formatted")``):
- every dimension join (nation/region/part/supplier) broadcasts;
- Q2's correlated min-per-part is one extra aggregate + broadcast join,
  never a per-row re-scan; Q11's total threshold and Q15's max revenue
  are read on the driver from a checkpointed aggregate, so no task
  receives the whole aggregate;
- Q21's double EXISTS/NOT-EXISTS collapses to ONE per-(order, supplier)
  aggregate with the per-order supplier counts as a window over the same
  frame — one scan of lineitem total, not four.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import declared, tables


def _ts(s: str):
    return F.lit(s + " 00:00:00").cast("timestamp")


@declared(
    "tpch_q2",
    oracle="""
    WITH partsupp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    eur_supp AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part, partsupp, eur_supp
    WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      AND p_size = 15 AND p_type = 'STANDARD'
      AND s_acctbal = (SELECT MIN(es.s_acctbal)
                       FROM partsupp ps2 JOIN eur_supp es
                            ON ps2.l_suppkey = es.s_suppkey
                       WHERE ps2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    survey_ids=("J1", "J2", "A1", "O2"),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2 shape): correlated MIN subquery
    per part, decorrelated. r15 (guide §2.4): the old aggregate-and-
    join-back formulation ran the corpus-sized partsupp distinct TWICE
    (Catalyst shares no common subtrees) and paid a separate min
    aggregate. partsupp dedup now happens inside ONE l_partkey
    aggregate (collect_set + explode — the t13 pattern), the per-part
    MIN is a window over that same partitioning (no new exchange), and
    rows at the min survive a filter before the small filtered-part
    side broadcasts in. One lineitem scan, one corpus shuffle."""
    from pyspark.sql import Window

    part, supplier, nation, region, lineitem = tables(
        spark, sf_dir, "part", "supplier", "nation", "region", "lineitem")
    ps = (lineitem.groupBy("l_partkey")
          .agg(F.collect_set("l_suppkey").alias("__sks"))
          .select("l_partkey", F.explode("__sks").alias("l_suppkey")))
    eur = (supplier
           .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    flagged = (ps.join(F.broadcast(eur),
                       F.col("l_suppkey") == F.col("s_suppkey"))
               .withColumn("min_bal",
                           F.min("s_acctbal")
                           .over(Window.partitionBy("l_partkey")))
               .filter(F.col("s_acctbal") == F.col("min_bal")))
    cand = part.filter((F.col("p_size") == 15)
                       & (F.col("p_type") == "STANDARD"))
    return (flagged.join(F.broadcast(cand),
                         F.col("p_partkey") == F.col("l_partkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
            .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
            .limit(100))


@declared(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    survey_ids=("J5", "A1", "P4"),
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): EXISTS as a left-semi
    join with a mixed equi + non-equi condition (ship >60 days after
    order), then a tiny grouped count."""
    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    ord_q = orders.filter(
        (F.col("o_orderdate") >= _ts("1997-01-01")) &
        (F.col("o_orderdate") < _ts("1997-04-01")))
    return (ord_q.join(
                lineitem.select("l_orderkey", "l_shipdate"),
                (F.col("o_orderkey") == F.col("l_orderkey")) &
                (F.col("l_shipdate") >
                 F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
                "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count"))
            .orderBy("o_orderpriority"))


@declared(
    "tpch_q6",
    oracle="""
    SELECT SUM(l_extendedprice * l_discount) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey_ids=("A2", "P4"),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change (TPC-H Q6): pure scan+filter+global sum —
    all three predicates and the 3-column projection push into the
    parquet scan; no shuffle beyond the single-row final aggregate."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return (lineitem.filter(
                (F.col("l_shipdate") >= _ts("1997-01-01")) &
                (F.col("l_shipdate") < _ts("1998-01-01")) &
                (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) &
                (F.col("l_quantity") < 24))
            .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount"))
                 .alias("revenue")))


@declared(
    "tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, SUM(volume) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
                 (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    survey_ids=("J1", "J2", "A1", "P5"),
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (TPC-H Q7 shape): two nation-dim lookups with a
    disjunctive cross-nation predicate, yearly revenue. Both nation maps
    broadcast; the only shuffles are orders⋈lineitem and the final
    4-row aggregate."""
    supplier, lineitem, orders, customer, nation = tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = nation.select(F.col("n_nationkey").alias("sn_key"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("cn_key"),
                       F.col("n_name").alias("cust_nation"))
    supp = (supplier.join(F.broadcast(n1),
                          F.col("s_nationkey") == F.col("sn_key"))
            .filter(F.col("supp_nation").isin(pair))
            .select("s_suppkey", "supp_nation"))
    cust = (customer.join(F.broadcast(n2),
                          F.col("c_nationkey") == F.col("cn_key"))
            .filter(F.col("cust_nation").isin(pair))
            .select("c_custkey", "cust_nation"))
    return (lineitem.filter(
                (F.col("l_shipdate") >= _ts("1996-01-01")) &
                (F.col("l_shipdate") < _ts("1998-01-01")))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .select("supp_nation", "cust_nation",
                    F.year("l_shipdate").alias("l_year"),
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .alias("volume"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.sum("volume").alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


@declared(
    "tpch_q8",
    oracle="""
    SELECT o_year,
           round(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
            AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    survey_ids=("J1", "J2", "A1", "P5"),
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): 8-table star join, share
    of one supplier-nation's volume per order-year via conditional sum.
    part/supplier-nation/customer-region dims all broadcast."""
    part, supplier, lineitem, orders, customer, nation, region = tables(
        spark, sf_dir, "part", "supplier", "lineitem", "orders",
        "customer", "nation", "region")
    amer_cust = (customer
                 .join(F.broadcast(nation),
                       F.col("c_nationkey") == F.col("n_nationkey"))
                 .join(F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
                       F.col("n_regionkey") == F.col("r_regionkey"))
                 .select("c_custkey"))
    supp_nat = (supplier
                .join(F.broadcast(nation.select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("nation"))),
                    F.col("s_nationkey") == F.col("sn_key"))
                .select("s_suppkey", "nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (lineitem
            .join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")
                              .select("p_partkey")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(orders.filter(
                (F.col("o_orderdate") >= _ts("1996-01-01")) &
                (F.col("o_orderdate") < _ts("1998-01-01"))),
                F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(amer_cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.year("o_orderdate").alias("o_year"),
                    vol.alias("volume"), "nation")
            .groupBy("o_year")
            .agg(F.round(
                F.sum(F.when(F.col("nation") == "NATION_5",
                             F.col("volume")).otherwise(0.0))
                / F.sum("volume"), 6).alias("mkt_share"))
            .orderBy("o_year"))


@declared(
    "tpch_q9",
    oracle="""
    SELECT nation, o_year, SUM(amount) AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - 0.5 * p_retailprice * l_quantity AS amount
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%bolt%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year
    """,
    survey_ids=("J1", "J2", "A1", "P5"),
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape; supply cost proxied as
    0.5·p_retailprice per unit — the schema has no partsupp). LIKE
    filter on part pushes before the broadcast; profit grouped by
    supplier nation × order year."""
    part, supplier, lineitem, orders, nation = tables(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation")
    supp_nat = (supplier
                .join(F.broadcast(nation.select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("nation"))),
                    F.col("s_nationkey") == F.col("sn_key"))
                .select("s_suppkey", "nation"))
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.5 * F.col("p_retailprice") * F.col("l_quantity"))
    return (lineitem
            .join(F.broadcast(part.filter(F.col("p_name").like("%bolt%"))
                              .select("p_partkey", "p_retailprice")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(orders.select("o_orderkey", "o_orderdate"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("nation", F.year("o_orderdate").alias("o_year"),
                    amount.alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.sum("amount").alias("sum_profit"))
            .orderBy("nation", "o_year"))


@declared(
    "tpch_q11",
    oracle="""
    WITH natsupp AS (
        SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'),
    v AS (SELECT l_partkey, SUM(l_extendedprice * l_quantity) AS part_value
          FROM lineitem JOIN natsupp ON l_suppkey = s_suppkey
          GROUP BY l_partkey)
    SELECT l_partkey, part_value FROM v
    WHERE part_value > (SELECT SUM(part_value) * 0.001 FROM v)
    ORDER BY part_value DESC, l_partkey
    """,
    survey_ids=("J2", "A1", "A2", "A8"),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape; shipped value by
    one nation's suppliers stands in for partsupp inventory value).
    The per-part aggregate is checkpointed and the fraction-of-total
    threshold is summed from it on the driver, so lineitem is scanned
    once and no task receives every part. Summation order differs from
    DuckDB's, but both engines' thresholds sit far from every
    part_value, which the oracle hash proves."""
    supplier, nation, lineitem = tables(
        spark, sf_dir, "supplier", "nation", "lineitem")
    natsupp = (supplier
               .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_3")),
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .select("s_suppkey"))
    v = (lineitem
         .join(F.broadcast(natsupp), F.col("l_suppkey") == F.col("s_suppkey"))
         .groupBy("l_partkey")
         .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
              .alias("part_value"))
         .localCheckpoint())
    total = v.agg(F.sum("part_value")).first()[0]
    return (v.filter(F.col("part_value")
                     > F.lit(total).cast("double") * 0.001)
            .orderBy(F.col("part_value").desc(), "l_partkey"))


@declared(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    survey_ids=("J4", "A1"),
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer distribution (TPC-H Q13 shape): left outer join with an
    extra join-side predicate (filtered BEFORE the join so null-extension
    still counts the customer), two stacked aggregates."""
    customer, orders = tables(spark, sf_dir, "customer", "orders")
    ord_f = (orders.filter(F.col("o_orderpriority") != "1-URGENT")
             .select("o_custkey", "o_orderkey"))
    per_cust = (customer.select("c_custkey")
                .join(ord_f, F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@declared(
    "tpch_q15",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    survey_ids=("J1", "A1", "A2"),
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): quarterly revenue per supplier,
    filtered to its maximum. The revenue aggregate is checkpointed and
    its maximum taken on the driver, so lineitem is scanned once, no
    task receives every supplier, and the equality compares values of
    one computation (max is exact on doubles). The few max rows are
    broadcast into supplier."""
    supplier, lineitem = tables(spark, sf_dir, "supplier", "lineitem")
    revenue = (lineitem.filter(
                   (F.col("l_shipdate") >= _ts("1997-01-01")) &
                   (F.col("l_shipdate") < _ts("1997-04-01")))
               .groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .alias("total_revenue"))
               .localCheckpoint())
    max_rev = revenue.agg(F.max("total_revenue")).first()[0]
    best = revenue.filter(
        F.col("total_revenue") == F.lit(max_rev).cast("double"))
    return (supplier
            .join(F.broadcast(best), F.col("s_suppkey") == F.col("supplier_no"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


@declared(
    "tpch_q19",
    oracle="""
    SELECT SUM(l_extendedprice * (1 - l_discount)) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    survey_ids=("J2", "A2", "P4"),
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (TPC-H Q19 shape): disjunction of conjunctive
    brand/size/quantity bands evaluated on the joined row — the part
    side pre-filters to the union of brands so the broadcast stays
    small."""
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    brands = ["Brand#12", "Brand#23", "Brand#4"]
    p = part.filter(F.col("p_brand").isin(brands))
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 5) & q.between(1, 11)) |
        ((F.col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20)) |
        ((F.col("p_brand") == "Brand#4") & sz.between(1, 15) & q.between(20, 30)))
    return (lineitem
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue")))


@declared(
    "tpch_q20",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'small%'
            AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY l_suppkey
          HAVING SUM(l_quantity) > 100)
    ORDER BY s_name
    """,
    survey_ids=("J5", "J2", "A1", "A8"),
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (TPC-H Q20 shape): nested semi-join —
    suppliers of one nation whose yearly shipped quantity of 'small%'
    parts exceeds a threshold. The HAVING aggregate runs once per
    supplier before the semi join; part and nation broadcast."""
    supplier, nation, lineitem, part = tables(
        spark, sf_dir, "supplier", "nation", "lineitem", "part")
    heavy = (lineitem.filter(
                 (F.col("l_shipdate") >= _ts("1997-01-01")) &
                 (F.col("l_shipdate") < _ts("1998-01-01")))
             .join(F.broadcast(part.filter(F.col("p_name").like("small%"))
                               .select("p_partkey")),
                   F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("l_suppkey")
             .agg(F.sum("l_quantity").alias("qty"))
             .filter(F.col("qty") > 100)
             .select("l_suppkey"))
    return (supplier
            .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
            .select("s_name", "s_acctbal")
            .orderBy("s_name"))


@declared(
    "tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    survey_ids=("J5", "J6", "A1", "A6"),
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers-who-kept-orders-waiting (TPC-H Q21 shape; late =
    shipped >90 days after order date). The EXISTS + NOT-EXISTS pair
    reduces to per-order supplier facts, computed from ONE
    per-(order, supplier) aggregate — n_late_lines per supplier — with
    the per-order counts (suppliers, late suppliers) as a window over
    the SAME frame: a multi-supplier order whose only late supplier is
    this one contributes its late-line count. One pass over lineitem;
    the r15 before-plan's shape (a per-order countDistinct pair whose
    Expand doubled every joined row, joined back to a SECOND
    lineitem-orders subtree Catalyst could not share) scanned lineitem
    twice and shuffled ~3× the line count."""
    supplier, lineitem, orders, nation = tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    li = (lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(orders.filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .withColumn("late",
                      F.col("l_shipdate") >
                      F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")))
    per_os = (li.groupBy("l_orderkey", "l_suppkey")
              .agg(F.sum(F.col("late").cast("int")).alias("n_late_lines")))
    w = Window.partitionBy("l_orderkey")
    pos = (per_os
           .withColumn("n_supp", F.count(F.lit(1)).over(w))
           .withColumn("n_late_supp",
                       F.sum((F.col("n_late_lines") > 0).cast("int"))
                       .over(w)))
    waiting = pos.filter((F.col("n_late_lines") > 0) &
                         (F.col("n_supp") > 1) &
                         (F.col("n_late_supp") == 1))
    nat_supp = (supplier
                .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_2")),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", "s_name"))
    return (waiting
            .join(F.broadcast(nat_supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.sum("n_late_lines").alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name")
            .limit(100))
