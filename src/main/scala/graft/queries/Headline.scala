package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Graft
import graft.streaming.EventStream

/** Headline analytical queries: TPC-H-shaped multi-join aggregations
  * composed with the native DataFrame API (the engine's "compiled
  * pipeline" output shape), plus the streaming-window extension.
  *
  * Scale notes: join order leaves the big fact table (lineitem) on the
  * probe side; dimension tables (region/nation/supplier/customer at
  * TPC-H's 1:10:...:150k per SF) get explicit broadcast hints so no
  * 100 TB shuffle forms on the build side; aggregates go through
  * DECIMAL(18,4) for oracle-exact sums.
  */
object Headline {
  private val dec = DecimalType(18, 4)

  val all: Seq[QueryDef] = Seq(

    // TPC-H Q6: pure scan+filter+agg — measures scan/pushdown throughput
    QueryDef("q_tpch_q6",
      (s, dir) => Graft.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
               col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
               col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24.0)
        .agg(sum((col("l_extendedprice").cast(dec)) * (col("l_discount").cast(dec)))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0""")),

    // TPC-H Q3 shape: customer ⨝ orders ⨝ lineitem, group, top-k
    QueryDef("q_tpch_q3",
      (s, dir) => {
        val c = Graft.table(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = Graft.table(s, dir, "orders")
          .where(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val l = Graft.table(s, dir, "lineitem")
        // no forced broadcast: customer/orders scale with SF — AQE
        // broadcasts them while small and shuffle-joins at 100 TB
        l.join(o.join(c, o("o_custkey") === c("c_custkey")),
            l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec))).cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
              FROM customer JOIN orders ON c_custkey = o_custkey
                            JOIN lineitem ON l_orderkey = o_orderkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY l_orderkey, o_orderdate, o_orderpriority
              ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // TPC-H Q5 shape: 6-way join through the dimension chain
    QueryDef("q_tpch_q5",
      (s, dir) => {
        val l = Graft.table(s, dir, "lineitem")
        val o = Graft.table(s, dir, "orders")
          .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                 col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val c = Graft.table(s, dir, "customer")
        val sup = Graft.table(s, dir, "supplier")
        val n = Graft.table(s, dir, "nation")
        // broadcast only the fixed-cardinality dim (nation: 25 rows at
        // every SF); supplier/customer/orders scale with SF → AQE decides
        l.join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey") &&
            c("c_nationkey") === sup("s_nationkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec))).cast(DoubleType).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                            JOIN orders ON l_orderkey = o_orderkey
                            JOIN customer ON o_custkey = c_custkey
                                         AND c_nationkey = s_nationkey
                            JOIN nation ON s_nationkey = n_nationkey
              WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY n_name ORDER BY n_name""")),

    // TPC-H Q4 shape (semi-join: orders with ≥1 qualifying line; the
    // fixture lacks commit/receipt dates, so "late" becomes "returned")
    QueryDef("q_tpch_q4",
      (s, dir) => {
        val o = Graft.table(s, dir, "orders")
          .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                 col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        val l = Graft.table(s, dir, "lineitem").where(col("l_returnflag") === "R")
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                AND EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // TPC-H Q7: volume shipping between two nations — the classic
    // nation-PAIR join (supplier nation × customer nation) with a year
    // breakdown; the OR of the two pair orientations must survive into
    // one join, not a union of scans
    QueryDef("q_tpch_q7",
      (s, dir) => {
        val l = Graft.table(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
                 col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        val o = Graft.table(s, dir, "orders")
        val c = Graft.table(s, dir, "customer")
        val sup = Graft.table(s, dir, "supplier")
        val n1 = Graft.table(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Graft.table(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        l.join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n1), sup("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
          .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                 (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                            JOIN orders ON l_orderkey = o_orderkey
                            JOIN customer ON o_custkey = c_custkey
                            JOIN nation n1 ON s_nationkey = n1.n_nationkey
                            JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // TPC-H Q8 shape: market share — a conditional-share ratio per year
    // over a 6-way join (decimal-exact sums, double ratio)
    QueryDef("q_tpch_q8",
      (s, dir) => {
        val l = Graft.table(s, dir, "lineitem")
        val p = Graft.table(s, dir, "part").where(col("p_type") === "PROMO")
        val o = Graft.table(s, dir, "orders")
          .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
                 col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        val sup = Graft.table(s, dir, "supplier")
        val n = Graft.table(s, dir, "nation")
        val vol = col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(
            sum(when(col("n_name") === "NATION_3", vol).otherwise(lit(0).cast(dec)))
              .cast(DoubleType) /
            sum(vol).cast(DoubleType), 6).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                     ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_3'
                              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                   * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                           6) AS mkt_share
              FROM lineitem JOIN part ON l_partkey = p_partkey
                            JOIN orders ON l_orderkey = o_orderkey
                            JOIN supplier ON l_suppkey = s_suppkey
                            JOIN nation ON s_nationkey = n_nationkey
              WHERE p_type = 'PROMO'
                AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q21 shape: the double correlation on one key — suppliers
    // whose RETURNED line sits in a multi-supplier order where no OTHER
    // supplier returned (semi-join + anti-join against the same
    // fact-table self-reference, both on the order key; "late" becomes
    // "returned" in this fixture)
    QueryDef("q_tpch_q21",
      (s, dir) => {
        val l = Graft.table(s, dir, "lineitem")
        val l1 = l.where(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("k1"), col("l_suppkey").as("s1"))
        val l2 = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
        val l3 = l.where(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
        val sup = Graft.table(s, dir, "supplier")
        l1.join(l2, col("k1") === col("k2") && col("s1") =!= col("s2"),
            "left_semi")
          .join(l3, col("k1") === col("k3") && col("s1") =!= col("s3"),
            "left_anti")
          .join(sup, col("s1") === sup("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name").asc)
          .limit(20)
      },
      Some("""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
              FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
              WHERE l1.l_returnflag = 'R'
                AND EXISTS (SELECT 1 FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey
                              AND l2.l_suppkey <> l1.l_suppkey)
                AND NOT EXISTS (SELECT 1 FROM lineitem l3
                                WHERE l3.l_orderkey = l1.l_orderkey
                                  AND l3.l_suppkey <> l1.l_suppkey
                                  AND l3.l_returnflag = 'R')
              GROUP BY s_name
              ORDER BY numwait DESC, s_name LIMIT 20""")),

    // TPC-H Q10: returned-item revenue by customer, top 20
    QueryDef("q_tpch_q10",
      (s, dir) => {
        val c = Graft.table(s, dir, "customer")
        val o = Graft.table(s, dir, "orders")
          .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                 col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")))
        val l = Graft.table(s, dir, "lineitem").where(col("l_returnflag") === "R")
        val n = Graft.table(s, dir, "nation")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                            JOIN customer ON o_custkey = c_custkey
                            JOIN nation ON c_nationkey = n_nationkey
              WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
                AND l_returnflag = 'R'
              GROUP BY c_custkey, c_name, c_acctbal, n_name
              ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // TPC-H Q12 shape (conditional counts by priority class; the
    // fixture lacks l_shipmode, so lines group by l_linestatus)
    QueryDef("q_tpch_q12",
      (s, dir) => {
        val o = Graft.table(s, dir, "orders")
        val l = Graft.table(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                 col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
               sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
                     CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                     CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // TPC-H Q13: customer order-count distribution (outer join → two
    // stacked aggregations; the o_comment filter becomes o_orderstatus)
    QueryDef("q_tpch_q13",
      (s, dir) => {
        val c = Graft.table(s, dir, "customer")
        val o = Graft.table(s, dir, "orders").where(col("o_orderstatus") =!= "F")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
              FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
                    FROM customer LEFT OUTER JOIN orders
                      ON c_custkey = o_custkey AND o_orderstatus <> 'F'
                    GROUP BY c_custkey)
              GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q14: promo revenue share (decimal-exact sums, double ratio)
    QueryDef("q_tpch_q14",
      (s, dir) => {
        val p = Graft.table(s, dir, "part")
        val l = Graft.table(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-03-01 00:00:00")) &&
                 col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
        val disc = col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .agg(round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0).cast(dec)))
              .cast(DoubleType) /
            sum(disc).cast(DoubleType), 6).as("promo_revenue"))
      },
      Some("""SELECT ROUND(100.0 *
                     CAST(SUM(CASE WHEN p_type = 'PROMO'
                              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                   * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                     6) AS promo_revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""")),

    // TPC-H Q17 shape: small-quantity orders below 20% of the per-part
    // average (the correlated subquery is a broadcast per-part agg join;
    // p_container becomes a p_size gate in this fixture)
    QueryDef("q_tpch_q17",
      (s, dir) => {
        val p = Graft.table(s, dir, "part")
          .where(col("p_brand") === "Brand#1" && col("p_size") < 10)
        val l = Graft.table(s, dir, "lineitem")
        val lim = Graft.table(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("a_pk"))
          .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_lim"))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(lim, l("l_partkey") === col("a_pk"))
          .where(col("l_quantity") < col("qty_lim"))
          .agg(round(sum(col("l_extendedprice").cast(dec)).cast(DoubleType) /
            lit(7.0), 6).as("avg_yearly"))
      },
      Some("""SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                           / 7.0, 6) AS avg_yearly
              FROM lineitem JOIN part ON l_partkey = p_partkey
                            JOIN (SELECT l_partkey AS a_pk,
                                         0.2 * AVG(l_quantity) AS qty_lim
                                  FROM lineitem GROUP BY l_partkey)
                              ON l_partkey = a_pk
              WHERE p_brand = 'Brand#1' AND p_size < 10
                AND l_quantity < qty_lim""")),

    // TPC-H Q19: disjunctive brand/size/quantity predicate — the OR of
    // ANDs Catalyst must keep pushable as one post-join filter
    QueryDef("q_tpch_q19",
      (s, dir) => {
        val p = Graft.table(s, dir, "part")
        val l = Graft.table(s, dir, "lineitem")
        val cond =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .where(cond)
          .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast(DoubleType).as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                     AND l_quantity BETWEEN 1 AND 11)
                 OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                     AND l_quantity BETWEEN 10 AND 20)
                 OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                     AND l_quantity BETWEEN 20 AND 30)""")),

    // TPC-H Q22 shape: rich idle customers — anti-join against orders +
    // a 1-row decimal-exact average broadcast (country code = nation
    // key; every fixture customer has SOME order, so "idle" means no
    // order in the final year — same anti-join plan, nonempty result)
    QueryDef("q_tpch_q22",
      (s, dir) => {
        val c = Graft.table(s, dir, "customer")
        val avgBal = c.where(col("c_acctbal") > 0.0)
          .agg(avg(col("c_acctbal").cast(dec)).as("a"))
        val o = Graft.table(s, dir, "orders")
          .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        c.crossJoin(broadcast(avgBal))
          .where(col("c_acctbal").cast(dec) > col("a"))
          .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            sum(col("c_acctbal").cast(dec)).cast(DoubleType).as("totacctbal"))
          .orderBy(col("cntrycode"))
      },
      Some("""SELECT c_nationkey AS cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
              FROM customer,
                   (SELECT AVG(CAST(c_acctbal AS DECIMAL(18,4))) AS a
                    FROM customer WHERE c_acctbal > 0.0)
              WHERE CAST(c_acctbal AS DECIMAL(18,4)) > a
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
              GROUP BY c_nationkey ORDER BY cntrycode""")),

    // TPC-H Q2 shape: minimum-cost supplier per part, region-gated. The
    // fixture has no partsupp table, so lineitem is the part↔supplier
    // bridge and "supply cost" is the minimum observed unit price
    // min(l_extendedprice / l_quantity) per (part, supplier). The
    // correlated MIN subquery decorrelates into a per-part agg joined
    // back on the part key (hash equi-join on (pk, cost) — never a
    // nested loop); nation/region are fixed-cardinality broadcasts.
    QueryDef("q_tpch_q2",
      (s, dir) => {
        val cost = Graft.table(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        val n = Graft.table(s, dir, "nation")
        val r = Graft.table(s, dir, "region").where(col("r_name") === "EUROPE")
        val qual = cost
          .join(Graft.table(s, dir, "supplier"), col("sk") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("pk"), col("unit_cost"), col("s_acctbal"),
            col("s_name"), col("n_name"))
        val best = qual.groupBy(col("pk").as("bpk"))
          .agg(min(col("unit_cost")).as("mc"))
        val p = Graft.table(s, dir, "part")
          .where(col("p_size") <= 10 && col("p_type") === "STANDARD")
        qual.join(best, col("pk") === col("bpk") && col("unit_cost") === col("mc"))
          .join(p, col("pk") === col("p_partkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_name"),
            round(col("unit_cost"), 6).as("unit_cost"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH cost AS (
                SELECT l_partkey AS pk, l_suppkey AS sk,
                       MIN(l_extendedprice / l_quantity) AS unit_cost
                FROM lineitem GROUP BY 1, 2),
               qual AS (
                SELECT c.pk AS pk, c.unit_cost, s_acctbal, s_name, n_name
                FROM cost c JOIN supplier ON sk = s_suppkey
                            JOIN nation ON s_nationkey = n_nationkey
                            JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'),
               best AS (SELECT pk AS bpk, MIN(unit_cost) AS mc
                        FROM qual GROUP BY 1)
              SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                     ROUND(unit_cost, 6) AS unit_cost
              FROM qual JOIN best ON pk = bpk AND unit_cost = mc
                        JOIN part ON pk = p_partkey
              WHERE p_size <= 10 AND p_type = 'STANDARD'
              ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
              LIMIT 100""")),

    // TPC-H Q9 shape: profit by supplier nation and order year. Cost
    // side proxied by 0.6 × p_retailprice (no ps_supplycost in the
    // fixture). Each decimal product is re-cast to (18,4) immediately —
    // exact for these domains — so Spark's and DuckDB's different
    // intermediate-precision rules can never round differently.
    QueryDef("q_tpch_q9",
      (s, dir) => {
        val l = Graft.table(s, dir, "lineitem")
        val p = Graft.table(s, dir, "part").where(col("p_name").contains("gear"))
        val o = Graft.table(s, dir, "orders")
        val sup = Graft.table(s, dir, "supplier")
        val n = Graft.table(s, dir, "nation")
        val vol = col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))
        val cost = ((lit(0.6).cast(dec) * col("p_retailprice").cast(dec)).cast(dec) *
          col("l_quantity").cast(dec)).cast(dec)
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(sum(vol - cost).cast(DoubleType).as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS nation,
                     CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                            - CAST(CAST(CAST(0.6 AS DECIMAL(18,4))
                                        * CAST(p_retailprice AS DECIMAL(18,4)) AS DECIMAL(18,4))
                                   * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,4)))
                          AS DOUBLE) AS sum_profit
              FROM lineitem JOIN part ON l_partkey = p_partkey
                            JOIN supplier ON l_suppkey = s_suppkey
                            JOIN orders ON l_orderkey = o_orderkey
                            JOIN nation ON s_nationkey = n_nationkey
              WHERE p_name LIKE '%gear%'
              GROUP BY 1, 2 ORDER BY nation, o_year DESC""")),

    // TPC-H Q11 shape: important stock per part for one nation's
    // suppliers — lineitem value stands in for availqty×supplycost; the
    // HAVING threshold is a 1-row broadcast scalar (decimal-exact sum,
    // double compare mirrored in the twin so both engines test the
    // same IEEE boundary)
    QueryDef("q_tpch_q11",
      (s, dir) => {
        val v = Graft.table(s, dir, "lineitem")
          .join(Graft.table(s, dir, "supplier").where(col("s_nationkey") === 3),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey").as("partkey"))
          .agg(sum(col("l_extendedprice").cast(dec)).as("value"))
        val thresh = v.agg((sum(col("value")).cast(DoubleType) * lit(0.001))
          .as("thresh"))
        v.crossJoin(broadcast(thresh))
          .where(col("value").cast(DoubleType) > col("thresh"))
          .select(col("partkey"), col("value").cast(DoubleType).as("value"))
          .orderBy(col("value").desc, col("partkey"))
      },
      Some("""WITH v AS (
                SELECT l_partkey AS partkey,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS value
                FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                WHERE s_nationkey = 3
                GROUP BY 1)
              SELECT partkey, CAST(value AS DOUBLE) AS value
              FROM v WHERE CAST(value AS DOUBLE)
                           > (SELECT CAST(SUM(value) AS DOUBLE) * 0.001 FROM v)
              ORDER BY value DESC, partkey""")),

    // TPC-H Q15: top supplier by 3-month revenue. The revenue "view" is
    // one hash agg; the scalar MAX is a 1-row broadcast; the equality
    // match is decimal-exact so ties reproduce identically.
    QueryDef("q_tpch_q15",
      (s, dir) => {
        val rev = Graft.table(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                 col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec))).as("total_rev"))
        val mx = rev.agg(max(col("total_rev")).as("mx"))
        Graft.table(s, dir, "supplier")
          .join(rev, col("s_suppkey") === col("supplier_no"))
          .crossJoin(broadcast(mx))
          .where(col("total_rev") === col("mx"))
          .select(col("s_suppkey"), col("s_name"),
            col("total_rev").cast(DoubleType).as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (
                SELECT l_suppkey AS supplier_no,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
                GROUP BY 1)
              SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
              FROM supplier JOIN rev ON s_suppkey = supplier_no
              WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
              ORDER BY s_suppkey""")),

    // TPC-H Q16 shape: distinct-supplier count per part attribute.
    // lineitem bridges part↔supplier; the complaints NOT IN becomes a
    // broadcast anti-join against the (tiny) negative-balance supplier
    // set; COUNT(DISTINCT) is Spark's two-phase distinct aggregate —
    // partial per partition, merge on the group key, no row explosion.
    QueryDef("q_tpch_q16",
      (s, dir) => {
        val p = Graft.table(s, dir, "part")
          .where(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        val bad = Graft.table(s, dir, "supplier")
          .where(col("s_acctbal") < 0).select(col("s_suppkey"))
        Graft.table(s, dir, "lineitem")
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
                     CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
                AND p_size IN (1, 4, 9, 16, 25, 36, 49)
                AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                      WHERE s_acctbal < 0)
              GROUP BY 1, 2, 3
              ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // TPC-H Q20 shape: suppliers of 'red' parts in one nation whose
    // unshipped stock proxy (all-time minus 1996 shipments) exceeds
    // half the 1996 volume. The EXISTS is a left-semi hash join on the
    // supplier key; quantities are small integers in doubles, so the
    // halving compare is exact in both engines.
    QueryDef("q_tpch_q20",
      (s, dir) => {
        val in96 = col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
        val pq = Graft.table(s, dir, "lineitem")
          .join(Graft.table(s, dir, "part").where(col("p_name").contains("red")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .agg(sum(when(in96, col("l_quantity")).otherwise(lit(0.0))).as("qty_1996"),
               sum(col("l_quantity")).as("qty_all"))
          .where(col("qty_all") - col("qty_1996") > lit(0.5) * col("qty_1996") &&
            col("qty_1996") > 0)
        val n = Graft.table(s, dir, "nation").where(col("n_name") === "NATION_18")
        Graft.table(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(pq, col("s_suppkey") === col("sk"), "left_semi")
          .select(col("s_name"), col("s_acctbal").cast(DoubleType).as("s_acctbal"))
          .orderBy(col("s_name"))
      },
      Some("""WITH pq AS (
                SELECT l_suppkey AS sk,
                       SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                                 AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                            THEN l_quantity ELSE 0 END) AS qty_1996,
                       SUM(l_quantity) AS qty_all
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE '%red%'
                GROUP BY sk, l_partkey)
              SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_18'
                AND EXISTS (SELECT 1 FROM pq WHERE sk = s_suppkey
                            AND qty_all - qty_1996 > 0.5 * qty_1996
                            AND qty_1996 > 0)
              ORDER BY s_name""")),

    // gap-based sessionization (batch twin of streaming session windows)
    QueryDef("q_sessionize",
      (s, dir) => graft.operators.Sessionize.byGap(
        Graft.table(s, dir, "events"), "user_id", "ts", "event_id", "value",
        gapMinutes = 30).orderBy("user_id", "session_idx"),
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
                         FROM events),
                f AS (SELECT *, CASE WHEN prev IS NULL
                                     OR epoch_us(ts) - epoch_us(prev) > 1800000000
                                THEN 1 ELSE 0 END AS nw
                      FROM (SELECT *, lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                            FROM e)),
                g AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
                      FROM f)
              SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     min(ts) AS session_start, max(ts) AS session_end,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
              FROM g GROUP BY user_id, session_idx
              ORDER BY user_id, session_idx""")),

    // streaming extension: tumbling-window agg with watermark, verified
    // against the batch-equivalent SQL (time_bucket)
    QueryDef("q_events_window",
      (s, dir) => EventStream.runOnFixture(s, dir, windowLen = "1 hour")
        .orderBy("win_start", "event_type"),
      Some("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
                     event_type, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // $dateTrunc binSize/startOfWeek: 14-day bins anchored on the first
    // SUNDAY on/after Mongo's 2000-01-01 reference, plus 5-month bins —
    // DuckDB's time_bucket(width, ts, origin) independently replays the
    // identical anchoring (so the bin arithmetic is cross-checked by an
    // engine that implements it natively, not by our own model)
    QueryDef("q_date_bins",
      (s, dir) => Graft.aggregate(s, dir, "events", """[
        {"$group": {"_id": {
            "w2": {"$dateTrunc": {"date": "$ts", "unit": "week",
                                  "binSize": 2, "startOfWeek": "sunday"}},
            "m5": {"$dateTrunc": {"date": "$ts", "unit": "month", "binSize": 5}}},
           "n": {"$count": {}},
           "sv": {"$sum": {"$toDecimal": "$value"}}}},
        {"$project": {"_id": 0, "w2": "$_id.w2", "m5": "$_id.m5",
           "n": 1, "sum_value": {"$round": [{"$toDouble": "$sv"}, 4]}}},
        {"$sort": {"w2": 1, "m5": 1}}]"""),
      Some("""SELECT time_bucket(INTERVAL '14 days', CAST(ts AS TIMESTAMP),
                       TIMESTAMP '2000-01-02 00:00:00') AS w2,
                     time_bucket(INTERVAL '5 months', CAST(ts AS TIMESTAMP),
                       TIMESTAMP '2000-01-01 00:00:00') AS m5,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 4)
                       AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY w2, m5""")),

    // timezone option end-to-end: events grouped by their
    // America/New_York calendar day (DST-correct wall clock), hours
    // extracted in the zone — DuckDB's ICU timezone() replays the
    // conversion as the independent twin (composed session-tz-free:
    // timezone('UTC', ts) pins the instant interpretation)
    QueryDef("q_date_tz",
      (s, dir) => Graft.aggregate(s, dir, "events", """[
        {"$group": {"_id": {"$dateToString": {"date": "$ts",
             "format": "%Y-%m-%d", "timezone": "America/New_York"}},
           "n": {"$count": {}},
           "hmin": {"$min": {"$hour": {"date": "$ts",
             "timezone": "America/New_York"}}},
           "hmax": {"$max": {"$hour": {"date": "$ts",
             "timezone": "America/New_York"}}}}},
        {"$project": {"_id": 0, "ny_day": "$_id", "n": 1,
           "hmin": 1, "hmax": 1}},
        {"$sort": {"ny_day": 1}}]"""),
      Some("""WITH w AS (SELECT timezone('America/New_York',
                           timezone('UTC', CAST(ts AS TIMESTAMP))) AS nyt
                         FROM events)
              SELECT strftime(nyt, '%Y-%m-%d') AS ny_day,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(MIN(extract(hour FROM nyt)) AS INT) AS hmin,
                     CAST(MAX(extract(hour FROM nyt)) AS INT) AS hmax
              FROM w GROUP BY 1 ORDER BY ny_day""")),

    // the MQL pipeline surface ON A STREAM: same pipeline string as
    // batch, compiled onto readStream, complete-mode materialized
    // aggregate — hash-matched against the DuckDB batch twin
    QueryDef("q_mql_stream",
      (s, dir) => EventStream.mqlOnFixture(s, dir, """[
          {"$match": {"value": {"$gt": 0}}},
          {"$group": {"_id": {"h": {"$dateTrunc": {"date": "$ts", "unit": "hour"}},
                              "t": "$event_type"},
             "n": {"$count": {}},
             "sv": {"$sum": {"$toDecimal": "$value"}}}},
          {"$project": {"_id": 0, "hour": "$_id.h", "event_type": "$_id.t",
             "n": 1, "sum_value": {"$round": [{"$toDouble": "$sv"}, 4]}}},
          {"$sort": {"hour": 1, "event_type": 1}}]""")
        .orderBy("hour", "event_type"),
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                     event_type, CAST(COUNT(*) AS BIGINT) AS n,
                     round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 4)
                       AS sum_value
              FROM events WHERE value > 0
              GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // streaming schema-directed document decode: DocDecoder on a
    // readStream source (the reference's decode loop with a cursor that
    // never ends), complete-mode count per decoded key — must equal the
    // batch decode the oracle computes from the same props column
    QueryDef("q_stream_decode",
      (s, dir) => EventStream.runDecodeStreamOnFixture(s, dir)
        .select(col("k").cast(LongType).as("k"), col("n"))
        .orderBy("k"),
      Some("""SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY k""")),

    // salted skew join (manual fallback for power-law keys AQE can't
    // split): result must equal the plain join, which the oracle computes
    // directly — the salt only changes the physical shuffle layout
    QueryDef("q_salted_join",
      (s, dir) => {
        val ev = Graft.table(s, dir, "events").where(col("user_id").isNotNull)
        val dim = ev.select(col("user_id")).distinct()
          .withColumn("cohort", (col("user_id") % 3).cast(LongType))
        graft.api.Skew.saltedJoin(ev, dim, "user_id", salt = 8)
          .groupBy("cohort")
          .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).as("sv"))
          .select(col("cohort"), col("n"), col("sv").cast(DoubleType).as("sum_value"))
          .orderBy("cohort")
      },
      Some("""SELECT user_id % 3 AS cohort, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
              FROM events WHERE user_id IS NOT NULL
              GROUP BY 1 ORDER BY cohort""")),

    // streaming gap sessions (session_window + watermark) vs the
    // gaps-and-islands batch SQL. session_window opens a new session at
    // diff >= gap (half-open [t, t+gap) merge intervals).
    QueryDef("q_stream_sessions",
      (s, dir) => EventStream.runSessionsOnFixture(s, dir, gap = "30 minutes")
        .orderBy("user_id", "session_start"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
                         WHERE ts IS NOT NULL),
                f AS (SELECT *, CASE WHEN prev IS NULL
                                     OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                                THEN 1 ELSE 0 END AS nw
                      FROM (SELECT *, lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts) AS prev
                            FROM e)),
                g AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
                      FROM f)
              SELECT user_id, min(ts) AS session_start,
                     CAST(COUNT(*) AS BIGINT) AS n_events
              FROM g GROUP BY user_id, sid
              ORDER BY user_id, session_start""")),

    // streaming exact dedup (dropDuplicatesWithinWatermark, append
    // mode): the emitted key set equals batch DISTINCT — which row of
    // each dup group survives is arrival-order-dependent, so only the
    // keys are emitted/compared
    QueryDef("q_stream_dedup",
      (s, dir) => EventStream.runDedupOnFixture(s, dir)
        .orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events
              WHERE ts IS NOT NULL
              ORDER BY user_id, event_type""")),

    // per-key custom state (flatMapGroupsWithState): the update-mode
    // emission stream folded to its final row per user equals the batch
    // cumulative GROUP BY — the custom-state twin of q_mql_stream's
    // built-in-aggregate check
    QueryDef("q_stream_state",
      (s, dir) => EventStream.runRunningStatsOnFixture(s, dir)
        .orderBy("user_id"),
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
                     MAX(CAST(ts AS TIMESTAMP)) AS last_ts
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
                AND value IS NOT NULL
              GROUP BY user_id ORDER BY user_id""")),

    // continuous ingest through the graftdocs document sink: stream →
    // foreachBatch DSv2 write (jsonl) → read back through the same
    // source; the round trip must be value-exact (ts excluded: $date is
    // ms-grained by design)
    QueryDef("q_doc_sink",
      (s, dir) => EventStream.runDocSinkOnFixture(s, dir)
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type, value FROM events
              WHERE ts IS NOT NULL ORDER BY event_id""")),

    // $out tail (server-side write the reference client rejects,
    // api.py:235-240): pipeline result atomically replaces the target
    // collection in a DocStore; the gate reads the collection back, so
    // the staged-swap write path is hash-verified end to end
    QueryDef("q_out_stage",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_out").toString)
        Graft.aggregateTo(s, dir, "orders", """[
          {"$group": {"_id": "$o_orderpriority",
             "n": {"$count": {}},
             "total": {"$sum": {"$toDecimal": "$o_totalprice"}}}},
          {"$project": {"_id": 0, "priority": "$_id", "n": 1,
             "total": {"$toDouble": "$total"}}},
          {"$out": "order_summary"}]""", store)
        store.read("order_summary").orderBy("priority")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
                     o_orderpriority AS priority
              FROM orders GROUP BY o_orderpriority ORDER BY priority""")),

    // versioned $out: the MQL write path composed with snapshot
    // retention — a store opened with versioned=true retains every
    // replaced collection, so two $out runs leave generation 1
    // time-travelable while generation 2 is live. The oracle replays
    // both aggregations.
    QueryDef("q_out_versioned",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_outv").toString,
          "graftdocs", versioned = true)
        Graft.aggregateTo(s, dir, "orders", """[
          {"$group": {"_id": "$o_orderpriority", "n": {"$count": {}}}},
          {"$project": {"_id": 0, "priority": "$_id", "n": 1}},
          {"$out": "summary"}]""", store)
        Graft.aggregateTo(s, dir, "orders", """[
          {"$match": {"o_totalprice": {"$lt": 100000.0}}},
          {"$group": {"_id": "$o_orderpriority", "n": {"$count": {}}}},
          {"$project": {"_id": 0, "priority": "$_id", "n": 1}},
          {"$out": "summary"}]""", store)
        store.readVersion("summary", 1).select(lit("v1").as("snap"),
            col("priority"), col("n"))
          .unionByName(store.read("summary").select(lit("live").as("snap"),
            col("priority"), col("n")))
          .orderBy("snap", "priority")
      },
      Some("""SELECT snap, priority, n FROM (
                SELECT 'v1' AS snap, o_orderpriority AS priority,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM orders GROUP BY o_orderpriority
                UNION ALL
                SELECT 'live', o_orderpriority, CAST(COUNT(*) AS BIGINT)
                FROM orders WHERE o_totalprice < 100000
                GROUP BY o_orderpriority)
              ORDER BY snap, priority""")),

    // dataset versioning / time travel: three curation generations of
    // the corpus land via writeVersioned (each replacement retires the
    // prior contents by POINTER MOVE — O(1) in data, so snapshots stay
    // free at 100 TB), then every generation is read back — v1 and v2
    // through time travel, v3 live — and aggregated. The oracle replays
    // the three curation filters directly.
    QueryDef("q_doc_versions",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_vers").toString)
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source", "n_chars")
        store.writeVersioned(docs, "corpus"): Unit
        store.writeVersioned(docs.where(col("n_chars") >= 200), "corpus"): Unit
        store.writeVersioned(docs.where(col("n_chars") >= 200)
          .where(col("doc_id") % 3 =!= 0), "corpus"): Unit
        Seq(store.readVersion("corpus", 1).withColumn("gen", lit(1L)),
            store.readVersion("corpus", 2).withColumn("gen", lit(2L)),
            store.read("corpus").withColumn("gen", lit(3L)))
          .reduce(_ unionByName _)
          .groupBy("gen", "source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
          .orderBy("gen", "source")
      },
      Some("""SELECT gen, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM (
                SELECT CAST(1 AS BIGINT) AS gen, source, n_chars FROM documents
                UNION ALL
                SELECT CAST(2 AS BIGINT), source, n_chars FROM documents
                WHERE n_chars >= 200
                UNION ALL
                SELECT CAST(3 AS BIGINT), source, n_chars FROM documents
                WHERE n_chars >= 200 AND doc_id % 3 <> 0)
              GROUP BY gen, source ORDER BY gen, source""")),

    // snapshot audit diff: what a curation run changed between two
    // versions (multiset added/removed/kept) — schemas aligned by
    // name, one hash-agg per side + one full-outer equi-join, no
    // driver-side rows. The oracle replays the curation filter.
    QueryDef("q_version_diff",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_vdiff").toString)
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source", "n_chars")
        store.writeVersioned(docs, "corpus"): Unit
        store.writeVersioned(docs.where(col("n_chars") >= 200), "corpus"): Unit
        store.diffVersions("corpus", 1).orderBy("change")
      },
      Some("""SELECT 'added' AS change, CAST(0 AS BIGINT) AS n_rows
              UNION ALL
              SELECT 'kept', CAST(COUNT(*) AS BIGINT) FROM documents
              WHERE n_chars >= 200
              UNION ALL
              SELECT 'removed', CAST(COUNT(*) AS BIGINT) FROM documents
              WHERE n_chars < 200
              ORDER BY change""")),

    // change-stream replay with update/delete operationTypes: two
    // curation generations of a versioned collection diff into
    // Mongo-shaped change documents — deletes (ids dropped), updates
    // (n_chars bumped on even ids, named in updatedFields), inserts
    // (ids added) — fullDocument = after-image (updateLookup free from
    // snapshots). The oracle replays the same transition as a
    // full-outer diff.
    QueryDef("q_watch_ops",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_watch").toString)
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source", "n_chars")
        store.writeVersioned(docs.where(col("doc_id") < 400), "coll"): Unit
        store.writeVersioned(
          docs.where(col("doc_id") >= 200 && col("doc_id") < 500)
            .withColumn("n_chars",
              when(col("doc_id") % 2 === 0, col("n_chars") + 1)
                .otherwise(col("n_chars"))),
          "coll"): Unit
        store.changeEvents("coll", "doc_id")
          .select(col("operationType"),
            col("documentKey").as("doc_id"),
            col("fullDocument.source").as("after_source"),
            col("fullDocument.n_chars").as("after_chars"),
            array_join(col("updatedFields"), ",").as("updated"),
            col("txnVersion").as("v"))
          .orderBy("doc_id", "operationType")
      },
      Some("""WITH v1 AS (SELECT doc_id, source, n_chars FROM documents
                          WHERE doc_id < 400),
                   v2 AS (SELECT doc_id, source,
                            CASE WHEN doc_id % 2 = 0 THEN n_chars + 1
                                 ELSE n_chars END AS n_chars
                          FROM documents
                          WHERE doc_id >= 200 AND doc_id < 500)
              SELECT CASE WHEN a.doc_id IS NULL THEN 'insert'
                          WHEN b.doc_id IS NULL THEN 'delete'
                          ELSE 'update' END AS operationType,
                     COALESCE(a.doc_id, b.doc_id) AS doc_id,
                     b.source AS after_source,
                     b.n_chars AS after_chars,
                     CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
                          THEN 'n_chars' END AS updated,
                     CAST(2 AS BIGINT) AS v
              FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
              WHERE a.doc_id IS NULL OR b.doc_id IS NULL
                 OR a.n_chars <> b.n_chars OR a.source <> b.source
              ORDER BY doc_id, operationType""")),

    // the SAME change history over the REAL wire: a $changeStream
    // aggregate opens a tailable OP_MSG cursor server-side, change
    // documents cross as raw BSON with (txnVersion/documentKey) resume
    // tokens, the client drives getMore to caught-up and kills the
    // cursor — the decoded events must equal the local watchOps replay
    // (identical oracle as q_watch_ops, so any wire-side loss,
    // duplication, or token misordering breaks the hash)
    QueryDef("q_wire_watch",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_wwatch").toString)
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source", "n_chars")
        store.writeVersioned(docs.where(col("doc_id") < 400), "coll"): Unit
        store.writeVersioned(
          docs.where(col("doc_id") >= 200 && col("doc_id") < 500)
            .withColumn("n_chars",
              when(col("doc_id") % 2 === 0, col("n_chars") + 1)
                .otherwise(col("n_chars"))),
          "coll"): Unit
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          val (events, _) = graft.sources.OpMsg.watch(s, "127.0.0.1",
            server.port, "graft", "coll", keyField = "doc_id",
            batchSize = 64)
          val out = events.select(col("operationType"),
              col("documentKey").as("doc_id"),
              col("fullDocument.source").as("after_source"),
              col("fullDocument.n_chars").as("after_chars"),
              array_join(col("updatedFields"), ",").as("updated"),
              col("txnVersion").as("v"))
            .orderBy("doc_id", "operationType")
          // materialize inside the try: the scan is lazy and the
          // loopback server dies in the finally
          val rows = out.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        } finally server.stop()
      },
      Some("""WITH v1 AS (SELECT doc_id, source, n_chars FROM documents
                          WHERE doc_id < 400),
                   v2 AS (SELECT doc_id, source,
                            CASE WHEN doc_id % 2 = 0 THEN n_chars + 1
                                 ELSE n_chars END AS n_chars
                          FROM documents
                          WHERE doc_id >= 200 AND doc_id < 500)
              SELECT CASE WHEN a.doc_id IS NULL THEN 'insert'
                          WHEN b.doc_id IS NULL THEN 'delete'
                          ELSE 'update' END AS operationType,
                     COALESCE(a.doc_id, b.doc_id) AS doc_id,
                     b.source AS after_source,
                     b.n_chars AS after_chars,
                     CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
                          THEN 'n_chars' END AS updated,
                     CAST(2 AS BIGINT) AS v
              FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
              WHERE a.doc_id IS NULL OR b.doc_id IS NULL
                 OR a.n_chars <> b.n_chars OR a.source <> b.source
              ORDER BY doc_id, operationType""")),

    // the change stream as a Structured Streaming SOURCE: resume
    // tokens are the offsets — each trigger drives the tailable wire
    // cursor to caught-up and spools raw change documents beside the
    // checkpoint; micro-batches decode the spooled files. The streamed
    // union must equal the same local replay (identical oracle as
    // q_wire_watch), so any spool loss, duplication, or token
    // misadvance breaks the hash.
    QueryDef("q_wire_watch_stream",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_wwstr").toString)
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source", "n_chars")
        store.writeVersioned(docs.where(col("doc_id") < 400), "coll"): Unit
        store.writeVersioned(
          docs.where(col("doc_id") >= 200 && col("doc_id") < 500)
            .withColumn("n_chars",
              when(col("doc_id") % 2 === 0, col("n_chars") + 1)
                .otherwise(col("n_chars"))),
          "coll"): Unit
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          val qn = s"wire_cs_${System.nanoTime()}"
          val q = s.readStream.format("graftwire")
            .option("host", "127.0.0.1").option("port", server.port)
            .option("collection", "coll")
            .option("changeStream", "true").option("keyField", "doc_id")
            .load()
            .select(col("operationType"),
              col("documentKey").as("doc_id"),
              col("fullDocument.source").as("after_source"),
              col("fullDocument.n_chars").as("after_chars"),
              array_join(col("updatedFields"), ",").as("updated"),
              col("txnVersion").as("v"))
            .writeStream.format("memory").queryName(qn)
            .option("checkpointLocation", Staging.scratch("graft_wwstr_ck").toString)
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
          val out = s.table(qn).orderBy("doc_id", "operationType")
          val rows = out.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        } finally server.stop()
      },
      Some("""WITH v1 AS (SELECT doc_id, source, n_chars FROM documents
                          WHERE doc_id < 400),
                   v2 AS (SELECT doc_id, source,
                            CASE WHEN doc_id % 2 = 0 THEN n_chars + 1
                                 ELSE n_chars END AS n_chars
                          FROM documents
                          WHERE doc_id >= 200 AND doc_id < 500)
              SELECT CASE WHEN a.doc_id IS NULL THEN 'insert'
                          WHEN b.doc_id IS NULL THEN 'delete'
                          ELSE 'update' END AS operationType,
                     COALESCE(a.doc_id, b.doc_id) AS doc_id,
                     b.source AS after_source,
                     b.n_chars AS after_chars,
                     CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
                          THEN 'n_chars' END AS updated,
                     CAST(2 AS BIGINT) AS v
              FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
              WHERE a.doc_id IS NULL OR b.doc_id IS NULL
                 OR a.n_chars <> b.n_chars OR a.source <> b.source
              ORDER BY doc_id, operationType""")),

    // DB-LEVEL change stream (mongod's db.watch() → aggregate: 1):
    // one wire cursor tails EVERY versioned collection, ns.coll
    // distinguishing, one total resume-token order across them — the
    // oracle replays both collections' snapshot diffs and unions them,
    // so a lost collection, cross-collection leak, or mislabeled ns
    // breaks the hash
    QueryDef("q_wire_watch_db",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_wwdb").toString)
        val docs = Graft.table(s, dir, "documents")
          .select("doc_id", "source", "n_chars")
        store.writeVersioned(docs.where(col("doc_id") < 400), "coll"): Unit
        store.writeVersioned(
          docs.where(col("doc_id") >= 200 && col("doc_id") < 500)
            .withColumn("n_chars",
              when(col("doc_id") % 2 === 0, col("n_chars") + 1)
                .otherwise(col("n_chars"))),
          "coll"): Unit
        store.writeVersioned(
          docs.where(col("doc_id") >= 100 && col("doc_id") < 350), "aux"): Unit
        store.writeVersioned(
          docs.where(col("doc_id") >= 150 && col("doc_id") < 300)
            .withColumn("n_chars",
              when(col("doc_id") % 3 === 0, col("n_chars") + 2)
                .otherwise(col("n_chars"))),
          "aux"): Unit
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          val (events, _) = graft.sources.OpMsg.watch(s, "127.0.0.1",
            server.port, "graft", "*", keyField = "doc_id",
            batchSize = 128)
          val out = events.select(col("ns.coll").as("coll"),
              col("operationType"),
              col("documentKey").as("doc_id"),
              col("fullDocument.n_chars").as("after_chars"))
            .orderBy("coll", "doc_id", "operationType")
          val rows = out.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        } finally server.stop()
      },
      Some("""WITH c1 AS (SELECT doc_id, source, n_chars FROM documents
                          WHERE doc_id < 400),
                   c2 AS (SELECT doc_id, source,
                            CASE WHEN doc_id % 2 = 0 THEN n_chars + 1
                                 ELSE n_chars END AS n_chars
                          FROM documents
                          WHERE doc_id >= 200 AND doc_id < 500),
                   a1 AS (SELECT doc_id, source, n_chars FROM documents
                          WHERE doc_id >= 100 AND doc_id < 350),
                   a2 AS (SELECT doc_id, source,
                            CASE WHEN doc_id % 3 = 0 THEN n_chars + 2
                                 ELSE n_chars END AS n_chars
                          FROM documents
                          WHERE doc_id >= 150 AND doc_id < 300)
              SELECT 'coll' AS coll,
                     CASE WHEN a.doc_id IS NULL THEN 'insert'
                          WHEN b.doc_id IS NULL THEN 'delete'
                          ELSE 'update' END AS operationType,
                     COALESCE(a.doc_id, b.doc_id) AS doc_id,
                     b.n_chars AS after_chars
              FROM c1 a FULL OUTER JOIN c2 b ON a.doc_id = b.doc_id
              WHERE a.doc_id IS NULL OR b.doc_id IS NULL
                 OR a.n_chars <> b.n_chars OR a.source <> b.source
              UNION ALL
              SELECT 'aux',
                     CASE WHEN a.doc_id IS NULL THEN 'insert'
                          WHEN b.doc_id IS NULL THEN 'delete'
                          ELSE 'update' END,
                     COALESCE(a.doc_id, b.doc_id),
                     b.n_chars
              FROM a1 a FULL OUTER JOIN a2 b ON a.doc_id = b.doc_id
              WHERE a.doc_id IS NULL OR b.doc_id IS NULL
                 OR a.n_chars <> b.n_chars OR a.source <> b.source
              ORDER BY coll, doc_id, operationType""")),

    // DDL through the change stream (mongod semantics): a drop mid-
    // watch surfaces as a `drop` event then a terminal `invalidate`,
    // the server closes the cursor WITH the invalidate batch (id 0),
    // resuming past it needs startAfter (resumeAfter refuses — spec-
    // pinned in OpMsgWatchSpec), and the startAfter stream opens and
    // idles. All three phases cross the real wire; the oracle replays
    // the data diff plus the two journaled DDL rows.
    QueryDef("q_watch_invalidate",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_winv").toString)
        val docs = Graft.table(s, dir, "documents").select("doc_id", "n_chars")
        store.writeVersioned(docs.where(col("doc_id") < 300), "coll"): Unit
        store.writeVersioned(docs.where(col("doc_id") < 400), "coll"): Unit
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          // phase 1: watch to caught-up — the v1→live inserts (txn 2)
          val (ev1, tok1) = graft.sources.OpMsg.watch(s, "127.0.0.1",
            server.port, "graft", "coll", keyField = "doc_id",
            batchSize = 64)
          // phase 2: drop mid-watch, resume → drop(3) + invalidate(4),
          // cursor closed by the server with the batch
          store.drop("coll"): Unit
          val (ev2, tok2) = graft.sources.OpMsg.watch(s, "127.0.0.1",
            server.port, "graft", "coll", keyField = "doc_id",
            resumeAfter = Some(tok1), batchSize = 64)
          // phase 3: startAfter the invalidate token survives (opens
          // and idles; resumeAfter on the same token refuses)
          val (ev3, _) = graft.sources.OpMsg.watch(s, "127.0.0.1",
            server.port, "graft", "coll", keyField = "doc_id",
            startAfter = Some(tok2), batchSize = 64)
          val shape = (df: org.apache.spark.sql.DataFrame) => df.select(
            col("operationType"),
            col("documentKey").cast("bigint").as("doc_id"),
            col("txnVersion").cast("bigint").as("v"))
          val out = shape(ev1).unionByName(shape(ev2))
            .unionByName(s.range(1).select(
              lit("startafter_survives").as("operationType"),
              lit(null).cast("bigint").as("doc_id"),
              lit(ev3.count()).cast("bigint").as("v")))
            .orderBy("v", "operationType", "doc_id")
          val rows = out.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        } finally server.stop()
      },
      Some("""WITH v1 AS (SELECT doc_id FROM documents WHERE doc_id < 300),
                   lv AS (SELECT doc_id FROM documents WHERE doc_id < 400)
              SELECT 'insert' AS operationType, b.doc_id AS doc_id,
                     CAST(2 AS BIGINT) AS v
              FROM lv b LEFT JOIN v1 a ON a.doc_id = b.doc_id
              WHERE a.doc_id IS NULL
              UNION ALL SELECT 'drop', NULL, 3
              UNION ALL SELECT 'invalidate', NULL, 4
              UNION ALL SELECT 'startafter_survives', NULL, 0
              ORDER BY v, operationType, doc_id""")),

    // dropDatabase through a DB-LEVEL change stream (mongod semantics):
    // collection DDL never invalidates a db watch — dropDatabase is its
    // ONE invalidation path. The wire command drops every collection
    // (each journaling its drop), then the db watch resumed past the
    // caught-up token serves each collection's `drop`, the db-level
    // `dropDatabase`, and the terminal `invalidate`, closing the cursor
    // with the batch. The oracle replays the data diff plus the four
    // journaled DDL rows at their deterministic txnVersions.
    QueryDef("q_watch_dropdb",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_wdd").toString)
        val docs = Graft.table(s, dir, "documents").select("doc_id", "n_chars")
        store.writeVersioned(docs.where(col("doc_id") < 200), "c1"): Unit
        store.writeVersioned(docs.where(col("doc_id") < 250), "c1"): Unit
        store.writeVersioned(docs.where(col("doc_id") >= 300 &&
          col("doc_id") < 400), "c2"): Unit
        store.writeVersioned(docs.where(col("doc_id") >= 300 &&
          col("doc_id") < 450), "c2"): Unit
        val server = new graft.sources.OpMsg.Server(s, store)
        try {
          // phase 1: db watch to caught-up (both collections' inserts)
          val (ev1, tok1) = graft.sources.OpMsg.watch(s, "127.0.0.1",
            server.port, "graft", "*", keyField = "doc_id",
            batchSize = 128)
          // phase 2: dropDatabase over the wire, resume → per-
          // collection drops + dropDatabase + terminal invalidate
          graft.sources.OpMsg.command("127.0.0.1", server.port, "graft",
            org.json4s.JObject(List(
              "dropDatabase" -> org.json4s.JInt(1)))): Unit
          val (ev2, _) = graft.sources.OpMsg.watch(s, "127.0.0.1",
            server.port, "graft", "*", keyField = "doc_id",
            resumeAfter = Some(tok1), batchSize = 128)
          val shape = (df: org.apache.spark.sql.DataFrame) => df.select(
            col("ns.coll").as("coll"),
            col("operationType"),
            col("documentKey").cast("bigint").as("doc_id"),
            col("txnVersion").cast("bigint").as("v"))
          val out = shape(ev1).unionByName(shape(ev2))
            .orderBy("v", "coll", "operationType", "doc_id")
          val rows = out.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        } finally server.stop()
      },
      Some("""SELECT 'c1' AS coll, 'insert' AS operationType,
                     CAST(doc_id AS BIGINT) AS doc_id, CAST(2 AS BIGINT) AS v
              FROM documents WHERE doc_id >= 200 AND doc_id < 250
              UNION ALL
              SELECT 'c2', 'insert', CAST(doc_id AS BIGINT), 2
              FROM documents WHERE doc_id >= 400 AND doc_id < 450
              UNION ALL SELECT 'c1', 'drop', NULL, 3
              UNION ALL SELECT 'c2', 'drop', NULL, 3
              UNION ALL SELECT NULL, 'dropDatabase', NULL, 5
              UNION ALL SELECT NULL, 'invalidate', NULL, 6
              ORDER BY v, coll, operationType, doc_id""")),

    // Z-order clustered layout (Delta OPTIMIZE ZORDER as a plain
    // write): events re-laid along the (user_id, event_id) Morton
    // curve, then a 2-D range filter reads back — values identical to
    // the source table (layout is invisible to semantics; the skipping
    // win is spec-proven in LayoutSpec with scan metrics)
    QueryDef("q_zorder",
      (s, dir) => {
        val path = Staging.scratch("graft_zq").toString
        graft.api.Layout.writeZOrdered(
          Graft.table(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("value")),
          path, Seq("user_id", "event_id"), bits = 16, files = 8)
        s.read.parquet(path)
          .where(col("user_id").between(2, 9) &&
            col("event_id").between(100, 800))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
              WHERE user_id BETWEEN 2 AND 9
                AND event_id BETWEEN 100 AND 800
              ORDER BY event_id""")),

    // Mongo `compact` in file-layout form: a deliberately sprayed
    // ingest (16 files) compacts to one; rows, schema, partition
    // layout, and commit tags survive — the read-back equals the source
    QueryDef("q_compact",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_cpt").toString,
          "graftdocs")
        val ev = Graft.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        store.write(ev.repartition(16), "ev", tags = Map("batchId" -> "7"))
        store.compact("ev")
        store.read("ev").orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value FROM events
              ORDER BY event_id""")),

    // $merge upsert (default whenMatched merge / whenNotMatched insert):
    // per-customer order stats merged into a seeded customer collection —
    // matched rows overlay the stat columns and keep the target-only
    // ones, unmatched sources insert, unmatched targets pass through ≡
    // the FULL OUTER JOIN oracle
    QueryDef("q_merge_upsert",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_merge").toString)
        store.write(Graft.table(s, dir, "customer")
          .where(col("c_custkey") <= 750)
          .select(col("c_custkey").as("_id"), col("c_name"), col("c_acctbal")),
          "cust_stats")
        Graft.aggregateTo(s, dir, "orders", """[
          {"$match": {"o_custkey": {"$lte": 1000}}},
          {"$group": {"_id": "$o_custkey", "n_orders": {"$count": {}},
             "spend": {"$sum": {"$toDecimal": "$o_totalprice"}}}},
          {"$addFields": {"spend": {"$toDouble": "$spend"}}},
          {"$merge": {"into": "cust_stats", "on": "_id"}}]""", store)
        store.read("cust_stats").orderBy("_id")
      },
      Some("""WITH t AS (SELECT c_custkey AS _id, c_name, c_acctbal
                         FROM customer WHERE c_custkey <= 750),
                   s AS (SELECT o_custkey AS _id,
                                CAST(COUNT(*) AS BIGINT) AS n_orders,
                                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
                         FROM orders WHERE o_custkey <= 1000 GROUP BY 1)
              SELECT COALESCE(t._id, s._id) AS _id, t.c_name, t.c_acctbal,
                     s.n_orders, s.spend
              FROM t FULL OUTER JOIN s ON t._id = s._id
              ORDER BY _id""")),

    // $merge whenMatched update-pipeline ($$new): incremental stats —
    // first half of orders seeds the collection via $out, the second
    // half folds in through {$set: {n: n + $$new.n, …}}; the final
    // collection must equal the one-shot GROUP BY over ALL orders
    // (associative-exact measures: count + max)
    QueryDef("q_merge_pipeline",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_mergep").toString)
        Graft.aggregateTo(s, dir, "orders", """[
          {"$match": {"o_orderkey": {"$mod": [2, 0]}}},
          {"$group": {"_id": "$o_custkey", "n": {"$count": {}},
             "maxp": {"$max": "$o_totalprice"}}},
          {"$out": "cust_inc"}]""", store)
        Graft.aggregateTo(s, dir, "orders", """[
          {"$match": {"o_orderkey": {"$mod": [2, 1]}}},
          {"$group": {"_id": "$o_custkey", "n": {"$count": {}},
             "maxp": {"$max": "$o_totalprice"}}},
          {"$merge": {"into": "cust_inc", "on": "_id",
            "whenMatched": [{"$set": {
              "n": {"$add": ["$n", "$$new.n"]},
              "maxp": {"$max": ["$maxp", "$$new.maxp"]}}}],
            "whenNotMatched": "insert"}}]""", store)
        store.read("cust_inc").orderBy("_id")
      },
      Some("""SELECT o_custkey AS _id, CAST(COUNT(*) AS BIGINT) AS n,
                     MAX(o_totalprice) AS maxp
              FROM orders GROUP BY 1 ORDER BY _id""")),

    // continuous materialized view: a $merge-tailed MQL pipeline run per
    // micro-batch (4 admission-paced batches over a re-laid-out events
    // feed) — the standing collection accumulates associative measures
    // and must equal the one-shot batch GROUP BY
    QueryDef("q_stream_merge",
      (s, dir) => EventStream.runMergeStreamOnFixture(s, dir).orderBy("_id"),
      Some("""SELECT user_id AS _id, CAST(COUNT(*) AS BIGINT) AS n,
                     MAX(value) AS maxv
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
                AND value IS NOT NULL
              GROUP BY 1 ORDER BY _id""")),

    // partition-scoped $merge: the target is a PARTITIONED graftdocs
    // collection and the on-keys cover the partition column, so the
    // merge reads and rewrites only the partitions the source touches
    // (per-partition staged renames); folding the second disjoint half
    // into the first must equal the one-shot GROUP BY over all orders
    QueryDef("q_merge_partitioned",
      (s, dir) => {
        val store = new graft.sinks.DocStore(s,
          Staging.scratch("graft_pmq").toString,
          "graftdocs")
        def half(rem: Int) = s"""[
          {"$$match": {"o_orderkey": {"$$mod": [2, $rem]}}},
          {"$$group": {"_id": {"st": "$$o_orderstatus", "ck": "$$o_custkey"},
             "n": {"$$count": {}}, "maxp": {"$$max": "$$o_totalprice"}}},
          {"$$project": {"_id": 0, "status": "$$_id.st", "custkey": "$$_id.ck",
             "n": 1, "maxp": 1}}"""
        store.overwritePartitions(
          Graft.aggregate(s, dir, "orders", half(0) + "]"),
          "cust_part", Seq("status"))
        Graft.aggregateTo(s, dir, "orders", half(1) + """,
          {"$merge": {"into": "cust_part", "on": ["status", "custkey"],
            "whenMatched": [{"$set": {
              "n": {"$add": ["$n", "$$new.n"]},
              "maxp": {"$max": ["$maxp", "$$new.maxp"]}}}],
            "whenNotMatched": "insert"}}]""", store)
        store.read("cust_part").orderBy("status", "custkey")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(o_totalprice) AS maxp,
                     o_orderstatus AS status, o_custkey AS custkey
              FROM orders GROUP BY 3, 4 ORDER BY status, custkey""")),

    // change-stream surface (db[coll].watch — the third Mongo query
    // entry point): the events collection tailed as change documents
    // {operationType, ns, fullDocument} with an MQL pipeline on top;
    // the drained stream must equal the batch filter over the table
    QueryDef("q_watch",
      (s, dir) => {
        val root = Staging.scratch("graft_watchq").toString
        Graft.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"))
          .write.format("graftdocs").mode("overwrite").save(s"$root/events_docs")
        val cat = s"graftwatch${System.nanoTime()}"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.dir", root)
        val name = s"watchq${System.nanoTime()}"
        val ckptBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
          else System.getProperty("java.io.tmpdir")
        val q = Graft.Db(s, cat).watch("events_docs", """[
            {"$match": {"fullDocument.event_type": "click"}},
            {"$project": {"operationType": 1,
               "event_id": "$fullDocument.event_id",
               "user_id": "$fullDocument.user_id"}}]""")
          .writeStream.outputMode("append")
          .format("memory").queryName(name)
          .option("checkpointLocation", s"$ckptBase/ckpt_$name")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.processAllAvailable() finally q.stop()
        s.table(name).orderBy("event_id")
      },
      Some("""SELECT 'insert' AS operationType, event_id, user_id
              FROM events WHERE event_type = 'click' ORDER BY event_id""")),

    // stream-stream interval join (attribution): each purchase joined to
    // the same user's clicks in the preceding 10 minutes. Inner-join
    // matches emit as found; the watermarks + time band only bound the
    // join state, so the append result equals the batch join.
    QueryDef("q_stream_join",
      (s, dir) => EventStream.runIntervalJoinOnFixture(s, dir,
        leftType = "click", rightType = "purchase", within = "10 minutes")
        .orderBy("l_id", "r_id"),
      Some("""SELECT c.event_id AS l_id, p.event_id AS r_id, c.user_id,
                     epoch_us(CAST(p.ts AS TIMESTAMP))
                       - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us
              FROM events c JOIN events p
                ON p.user_id = c.user_id
               AND c.event_type = 'click' AND p.event_type = 'purchase'
               AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
               AND CAST(p.ts AS TIMESTAMP)
                     <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
              WHERE c.ts IS NOT NULL AND p.ts IS NOT NULL
              ORDER BY l_id, r_id""")),

    // stream-stream LEFT OUTER interval join: matches emit as found; an
    // unmatched click emits null-joined only when the global watermark
    // (min of both sides' max event time − 30 min delay) proves no
    // purchase can still arrive — Spark's state-eviction contract, made
    // exact in the twin: unmatched rows appear iff l_ts + 10 min lies
    // strictly below the final watermark (clicks nearer the stream's
    // end stay in state — at stream scale that state is bounded by the
    // watermark, which is the point). The AvailableNow no-data batch
    // performs the final flush.
    QueryDef("q_stream_outer_join",
      (s, dir) => EventStream.runIntervalJoinOnFixture(s, dir,
        leftType = "click", rightType = "purchase", within = "10 minutes",
        joinType = "left_outer")
        .orderBy("l_id", "r_id"),
      Some("""WITH c AS (SELECT * FROM events
                         WHERE event_type = 'click' AND ts IS NOT NULL),
                   p AS (SELECT * FROM events
                         WHERE event_type = 'purchase' AND ts IS NOT NULL),
                   wm AS (SELECT least(
                            (SELECT max(CAST(ts AS TIMESTAMP)) FROM c),
                            (SELECT max(CAST(ts AS TIMESTAMP)) FROM p))
                          - INTERVAL 30 MINUTE AS w)
              SELECT c.event_id AS l_id, p.event_id AS r_id, c.user_id,
                     epoch_us(CAST(p.ts AS TIMESTAMP))
                       - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us
              FROM c LEFT JOIN p
                ON p.user_id = c.user_id
               AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
               AND CAST(p.ts AS TIMESTAMP)
                     <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
              WHERE p.event_id IS NOT NULL
                 OR CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
                      < (SELECT w FROM wm)
              ORDER BY l_id, r_id"""))
  )
}
