package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.Cdc
import graft.types.PgConverters
import QueryHelpers._

/** TPC-H-style analytics (`q*`): joins, aggregates, windows and set
  * operations on the lineitem/orders/customer tables, Catalyst built-ins
  * only. */
object AnalyticsQueries {
  val all: Seq[Query] = Seq(
    Query("q1_pricing_summary", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_price"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty,
         |  CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_price,
         |  CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Query("q6_forecast_revenue", (s, dir) =>
      // TPC-H Q6: tight-band filter + single agg — the pure predicate-
      // pushdown showcase (every filter reaches the parquet scan)
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1994-01-01") &&
          col("l_shipdate") < lit("1995-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
          count(lit(1)).as("n")),
      """SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * l_discount) * 100.0 + 0.5)
        |         AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    Query("q4_order_priority", (s, dir) => {
      // TPC-H Q4 (adapted: "late" = shipped >30 days after order date —
      // this dataset has no commit/receipt dates): EXISTS decorrelates to
      // a left-semi join whose equi-key (orderkey) carries the non-equi
      // lateness residual — one shuffle, no subquery re-execution per row
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"), "leftsemi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Query("q7_volume_shipping", (s, dir) => {
      // TPC-H Q7: revenue between two nation pairs by ship year. The two
      // catalog-sized dims (supplier+nation, customer+nation) broadcast;
      // lineitem⋈orders is the only shuffle
      val n1 = Tables.nation(s, dir).select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      val sup = Tables.supplier(s, dir).join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      val cus = Tables.customer(s, dir).join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .withColumn("l_year", year(col("l_shipdate")))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS l_year,
         |  CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_cents
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    Query("q10_returned_items", (s, dir) => {
      // TPC-H Q10: returned-item revenue per customer, one quarter, top 20.
      // Aggregate BEFORE joining the customer dim: the groupBy key is
      // o_custkey, so the heavy lineitem⋈orders rolls up first and only
      // ~|customers| rows meet the (broadcast) dim join
      val rev = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1995-10-01") && col("o_orderdate") < lit("1996-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
      val nat = Tables.nation(s, dir)
      rev.join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue_cents"), col("n_name"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(20)
    },
      s"""SELECT c_custkey, c_name, revenue_cents, n_name
         |FROM (SELECT o_custkey,
         |        CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_cents
         |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |      WHERE l_returnflag = 'R'
         |        AND o_orderdate >= DATE '1995-10-01' AND o_orderdate < DATE '1996-01-01'
         |      GROUP BY o_custkey) r
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin),

    Query("q12_shipping_delay", (s, dir) => {
      // TPC-H Q12 (adapted: delay bands replace ship modes): per band,
      // how many high- vs low-priority lines — the CASE-sum pattern;
      // single lineitem⋈orders shuffle, bands derived post-join
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_band",
          when(datediff(col("l_shipdate"), col("o_orderdate")) > 90, "late")
            .when(datediff(col("l_shipdate"), col("o_orderdate")) > 30, "slow")
            .otherwise("fast"))
        .groupBy(col("delay_band"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
        .orderBy(col("delay_band"))
    },
      """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90 THEN 'late'
        |            WHEN datediff('day', o_orderdate, l_shipdate) > 30 THEN 'slow'
        |            ELSE 'fast' END AS delay_band,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q14_promo_effect", (s, dir) =>
      // TPC-H Q14: promo revenue share for one month. The ratio is
      // emitted as its two integer-cents terms (numerator/denominator) —
      // exact under any aggregation order, division left to the reader
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-09-01") && col("l_shipdate") < lit("1995-10-01"))
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).otherwise(0L))
            .as("promo_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("total_cents")),
      s"""SELECT
         |  CAST(SUM(CASE WHEN p_type = 'PROMO'
         |    THEN ${centsSql("l_extendedprice * (1.0 - l_discount)")} ELSE 0 END) AS BIGINT)
         |    AS promo_cents,
         |  CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS total_cents
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'""".stripMargin),

    Query("q16_supplier_cnt", (s, dir) =>
      // TPC-H Q16 (adapted: lineitem links parts to suppliers — this
      // dataset has no partsupp): distinct-supplier counts per brand/size
      // slice; the part dim broadcasts, count(distinct) is the only
      // aggregate (expands to a two-phase exact distinct)
      Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#9" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size")),
      """SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin),

    Query("q18_large_volume", (s, dir) => {
      // TPC-H Q18: orders whose total quantity exceeds 300. The HAVING
      // subquery and the outer per-order rollup are the SAME aggregation —
      // computed once, filtered, then joined to the order/customer dims
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"))
        .filter(col("sum_qty_cents") > 300 * 100L)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          unix_millis(col("o_orderdate")).as("order_ms"),
          cents(col("o_totalprice")).cast("long").as("total_cents"),
          col("sum_qty_cents"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
        .limit(100)
    },
      s"""SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate) AS order_ms,
         |  ${centsSql("o_totalprice")} AS total_cents, sum_qty_cents
         |FROM (SELECT l_orderkey,
         |        CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_cents
         |      FROM lineitem GROUP BY l_orderkey HAVING sum_qty_cents > 30000) big
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_cents DESC, o_orderkey LIMIT 100""".stripMargin),

    Query("q19_disjunctive", (s, dir) =>
      // TPC-H Q19: OR-of-ANDs over joined attributes — the predicate
      // can't fully push past the join, but each disjunct's part-side
      // half prunes the broadcast build, and the lineitem quantity
      // envelope (1..40 across all branches) pushes to the scan
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 21)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#20" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 40)))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"),
          count(lit(1)).as("n")),
      s"""SELECT CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
         |    AS revenue_cents,
         |  COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
         |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    Query("q21_waiting_supplier", (s, dir) => {
      // TPC-H Q21 (adapted lateness): suppliers who were the ONLY late
      // supplier on a multi-supplier order. EXISTS/NOT-EXISTS become one
      // left-semi + one left-anti on the same orderkey — Catalyst plans
      // all three lineitem passes off a shared scan, keyed shuffles only
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = li
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val l1 = late.as("l1")
      val others = li.select(col("l_orderkey").as("o2_key"), col("l_suppkey").as("s2_key"))
      val lateOthers = late.select(col("l_orderkey").as("o3_key"), col("l_suppkey").as("s3_key"))
      l1.join(others, col("l1.l_orderkey") === col("o2_key") &&
          col("l1.l_suppkey") =!= col("s2_key"), "leftsemi")
        .join(lateOthers, col("l1.l_orderkey") === col("o3_key") &&
          col("l1.l_suppkey") =!= col("s3_key"), "leftanti")
        .join(broadcast(Tables.supplier(s, dir)), col("l1.l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(50)
    },
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 50""".stripMargin),

    Query("q22_dormant_customers", (s, dir) => {
      // TPC-H Q22 (adapted: "no orders" → "no orders since 2000" — every
      // customer here has some order): above-average balance, integer-
      // exact mean test (bal_cents·n > Σcents avoids the float mean), the
      // 1-row global stats broadcast-crossed, recent orders anti-joined
      val cust = Tables.customer(s, dir)
      val stats = cust.filter(col("c_acctbal") > 0)
        .agg(sum(cents(col("c_acctbal")).cast("long")).as("pos_sum"),
          count(lit(1)).as("pos_n"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(stats))
        .filter(cents(col("c_acctbal")).cast("long") * col("pos_n") > col("pos_sum"))
        .join(recent, col("c_custkey") === col("o_custkey"), "leftanti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(cents(col("c_acctbal")).cast("long")).as("totacctbal_cents"))
        .orderBy(col("c_nationkey"))
    },
      s"""WITH st AS (SELECT CAST(SUM(${centsSql("c_acctbal")}) AS BIGINT) AS pos_sum,
         |              COUNT(*) AS pos_n
         |            FROM customer WHERE c_acctbal > 0)
         |SELECT c_nationkey, COUNT(*) AS numcust,
         |  CAST(SUM(${centsSql("c_acctbal")}) AS BIGINT) AS totacctbal_cents
         |FROM customer, st
         |WHERE ${centsSql("c_acctbal")} * pos_n > pos_sum
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    Query("q8_market_share", (s, dir) => {
      // TPC-H Q8: NATION_1 suppliers' share of ASIA-customer revenue per
      // order year, emitted as exact (nation_cents, total_cents) pairs.
      // Every dim chain (customer→nation→region, supplier→nation)
      // broadcasts; the only shuffle is the final 2-key agg
      val asiaCust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppNation = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1",
            cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .otherwise(0L)).as("nation_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("total_cents"))
        .orderBy(col("o_year"))
    },
      s"""SELECT year(o_orderdate) AS o_year,
         |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
         |    THEN ${centsSql("l_extendedprice * (1.0 - l_discount)")} ELSE 0 END) AS BIGINT)
         |    AS nation_cents,
         |  CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
         |    AS total_cents
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q9_product_profit", (s, dir) =>
      // TPC-H Q9 (adapted: no partsupp → profit is the discounted
      // revenue on name-matched parts): per supplier nation and order
      // year. part/supplier/nation broadcast; one (nation, year) agg
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").contains("red")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("profit_cents"))
        .orderBy(col("nation"), col("o_year").desc),
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
         |    AS profit_cents
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    Query("q11_important_stock", (s, dir) => {
      // TPC-H Q11 (adapted: no partsupp → "stock value" is NATION_2
      // suppliers' shipped value per part): parts whose value exceeds
      // 1/1000 of the nation's total. The HAVING-against-a-scalar
      // subquery is the pattern: a 1-row aggregate broadcast-crossed,
      // compared division-free (value·1000 > total)
      val natSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_2")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val vals = Tables.lineitem(s, dir)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice") * col("l_quantity"))).as("value_cents"))
      val total = vals.agg(sum(col("value_cents")).as("total_cents"))
      vals.crossJoin(broadcast(total))
        .filter(col("value_cents") * 1000 > col("total_cents"))
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("l_partkey"))
    },
      s"""WITH vals AS (
         |  SELECT l_partkey,
         |    CAST(SUM(${centsSql("l_extendedprice * l_quantity")}) AS BIGINT) AS value_cents
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_2'
         |  GROUP BY 1)
         |SELECT l_partkey, value_cents FROM vals
         |WHERE value_cents * 1000 > (SELECT CAST(SUM(value_cents) AS BIGINT) FROM vals)
         |ORDER BY value_cents DESC, l_partkey""".stripMargin),

    Query("q13_order_distribution", (s, dir) => {
      // TPC-H Q13: customers per order count INCLUDING zero-order
      // customers — the left outer join is the point (an inner join
      // silently drops the c_count=0 row); "special" orders excluded
      val ords = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"))
      Tables.customer(s, dir)
        .join(ords, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count")) // count(col) skips nulls
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(COUNT(o_custkey) AS BIGINT) AS c_count
        |      FROM customer LEFT OUTER JOIN
        |        (SELECT o_custkey FROM orders WHERE o_orderpriority <> '1-URGENT') o
        |        ON c_custkey = o_custkey
        |      GROUP BY c_custkey) c
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    Query("q15_top_supplier", (s, dir) => {
      // TPC-H Q15: supplier(s) with max quarterly revenue. The view +
      // scalar-max subquery collapses to one agg reused twice via a
      // rank-1 window over an UNPARTITIONED 100-row frame (supplier-
      // sized, never data-sized — safe at any SF)
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("total_revenue_cents"))
      val w = Window.orderBy(col("total_revenue_cents").desc)
      rev.withColumn("rk", rank().over(w)).filter(col("rk") === 1).drop("rk")
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_cents"))
        .orderBy(col("s_suppkey"))
    },
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
         |      AS total_revenue_cents
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue_cents
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM rev)
         |ORDER BY s_suppkey""".stripMargin),

    Query("q17_small_quantity", (s, dir) => {
      // TPC-H Q17: revenue from lines whose quantity is below 20% of the
      // part's average — the correlated AVG subquery becomes a per-part
      // agg self-join, and the 0.2·avg comparison is cleared of division:
      // 5·qty·n_part < sum_qty (exact integers, no float mean)
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#3").select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
      val perPart = li.groupBy(col("p_partkey").as("agg_partkey"))
        .agg(sum(cents(col("l_quantity")).cast("long")).as("sum_qty_cents"),
          count(lit(1)).as("n_lines"))
      li.join(broadcast(perPart), col("p_partkey") === col("agg_partkey"))
        .filter(cents(col("l_quantity")).cast("long") * lit(5L) * col("n_lines") <
          col("sum_qty_cents"))
        .agg(sum(cents(col("l_extendedprice")).cast("long")).as("yearly_cents"))
    },
      s"""WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'),
         |pp AS (SELECT l_partkey AS agg_partkey,
         |    CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_cents,
         |    COUNT(*) AS n_lines
         |  FROM li GROUP BY 1)
         |SELECT CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS yearly_cents
         |FROM li JOIN pp ON l_partkey = agg_partkey
         |WHERE ${centsSql("l_quantity")} * 5 * n_lines < sum_qty_cents""".stripMargin),

    Query("q20_dominant_supplier", (s, dir) => {
      // TPC-H Q20 (adapted: no partsupp availability → a supplier
      // "dominates" a part when it shipped over half of the part's 1995
      // volume): division-free 2·supp_qty > part_qty, supplier dim
      // broadcast, the part-total agg reused via a broadcast join
      val li95 = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01"))
        .select(col("l_partkey"), col("l_suppkey"), cents(col("l_quantity")).cast("long").as("qc"))
      val perPart = li95.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qc")).as("part_qty_cents"))
      val perSupp = li95.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("qc")).as("supp_qty_cents"))
      perSupp.join(broadcast(perPart), col("l_partkey") === col("pk"))
        .filter(col("supp_qty_cents") * 2 > col("part_qty_cents"))
        .select(col("l_suppkey")).distinct()
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy(col("s_suppkey"))
    },
      s"""WITH li AS (SELECT l_partkey, l_suppkey,
         |    CAST(${centsSql("l_quantity")} AS BIGINT) AS qc
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'),
         |pp AS (SELECT l_partkey, CAST(SUM(qc) AS BIGINT) AS part_qty_cents
         |       FROM li GROUP BY 1),
         |ps AS (SELECT l_partkey, l_suppkey, CAST(SUM(qc) AS BIGINT) AS supp_qty_cents
         |       FROM li GROUP BY 1, 2)
         |SELECT DISTINCT s_suppkey, s_name, n_name
         |FROM ps JOIN pp USING (l_partkey)
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE supp_qty_cents * 2 > part_qty_cents
         |ORDER BY s_suppkey""".stripMargin),

    Query("q3_shipping_priority", (s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord  = Tables.orders(s, dir)
        .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val li   = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          PgConverters.timestampToMillis(col("o_orderdate")).as("order_ms"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      s"""SELECT l_orderkey, epoch_ms(o_orderdate) AS order_ms,
        |  CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, order_ms
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    Query("q5_local_supplier", (s, dir) => {
      val reg  = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val nat  = Tables.nation(s, dir)
      val cust = Tables.customer(s, dir)
      val sup  = Tables.supplier(s, dir)
      val ord  = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val li   = Tables.lineitem(s, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
                              col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      s"""SELECT n_name,
        |  CAST(SUM(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    Query("q_window_rank", (s, dir) => {
      val w1 = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val w2 = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w1).as("rn"), rank().over(w2).as("rnk"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, rn, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |    rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    Query("q_geo_radius_join", (s, dir) => {
      // 2-D radius join via grid binning: users × stores within 25k
      // micro-units — the oracle recomputes by ALL-PAIRS distance, so
      // the hash match proves the 3×3-cell candidate set is complete
      val users = Cdc.walEvents(s, dir).select(col("user_id")).distinct()
        .select(col("user_id"),
          expr("(user_id * 37) % 1000 * 1000").as("lat_m"),
          expr("(user_id * 91 + 13) % 1000 * 1000").as("lon_m"))
      val stores = Tables.supplier(s, dir)
        .select(col("s_suppkey"),
          expr("(s_suppkey * 53) % 1000 * 1000").as("lat_m"),
          expr("(s_suppkey * 17 + 7) % 1000 * 1000").as("lon_m"))
      ops.RangeJoin.geoRadiusJoin(users, stores, radius = 25000L)
        .select(col("user_id"), col("s_suppkey"),
          col("lat_m"), col("lon_m"), col("b_lat_m"), col("b_lon_m"))
        .orderBy(col("user_id"), col("s_suppkey"))
    },
      // radius-join twin: the brute-force all-pairs truth
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT user_id, (user_id * 37) % 1000 * 1000 AS lat_m,
        |             (user_id * 91 + 13) % 1000 * 1000 AS lon_m FROM u),
        |b AS (SELECT s_suppkey, (s_suppkey * 53) % 1000 * 1000 AS b_lat_m,
        |             (s_suppkey * 17 + 7) % 1000 * 1000 AS b_lon_m FROM supplier)
        |SELECT user_id, s_suppkey, lat_m, lon_m, b_lat_m, b_lon_m
        |FROM a, b
        |WHERE (lat_m - b_lat_m) * (lat_m - b_lat_m)
        |    + (lon_m - b_lon_m) * (lon_m - b_lon_m) <= 625000000
        |ORDER BY user_id, s_suppkey""".stripMargin),

    Query("q_window_range_frame", (s, dir) => {
      // RANGE (value-based) frame — the window class rows-frames can't
      // express: per-user rolling 24h event count + micro-value sum
      // over the ts_ms ORDER key itself; one shuffle on user_id
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(-86400000L + 1, Window.currentRow)
      Cdc.walEvents(s, dir)
        .select(col("user_id"), col("lsn"), col("ts_ms"),
          count(lit(1)).over(w).as("n_24h"),
          sum(expr("cast(floor(value * 1000000 + 0.5) as bigint)")).over(w)
            .as("sum_micros_24h"))
        .orderBy(col("lsn"))
    },
      // range-frame twin: identical RANGE bound on the ms integers
      """WITH wal AS (SELECT event_id AS lsn, user_id,
        |    epoch_ns(ts) // 1000000 AS ts_ms,
        |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
        |  FROM events)
        |SELECT user_id, lsn, ts_ms,
        |  COUNT(*) OVER w AS n_24h,
        |  CAST(SUM(vm) OVER w AS BIGINT) AS sum_micros_24h
        |FROM wal
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
        |  RANGE BETWEEN 86399999 PRECEDING AND CURRENT ROW)
        |ORDER BY lsn""".stripMargin),

    Query("q_window_running", (s, dir) => {
      // frame spec: per-customer running revenue + lead/lag deltas
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(cents(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("running_total"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      s"""SELECT o_custkey, o_orderkey,
        |  CAST(SUM(${centsSql("o_totalprice")}) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_order,
        |  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_order
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    Query("q_string_funcs", (s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(trim(col("p_name"))).as("nlen"),
          substring(col("p_brand"), 1, 5).as("brand5"),
          regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"),
          levenshtein(col("p_brand"), col("p_type")).as("dist"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, upper(p_name) AS uname, length(trim(p_name)) AS nlen,
        |  substr(p_brand, 1, 5) AS brand5,
        |  regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
        |  levenshtein(p_brand, p_type) AS dist
        |FROM part ORDER BY p_partkey""".stripMargin),

    Query("q_date_funcs", (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          PgConverters.timestampToMillis(date_trunc("month", col("o_orderdate")))
            .as("month_start_ms"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS d,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Query("q_topk_orders", (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("total"))
        .orderBy(col("total").desc, col("o_orderkey"))
        .limit(20)
    },
      s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS total
         |FROM orders ORDER BY total DESC, o_orderkey LIMIT 20""".stripMargin),

    Query("q_semi_join", (s, dir) => {
      // customers with at least one 1996 order (left_semi ≙ EXISTS)
      val ord96 = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      Tables.customer(s, dir)
        .join(ord96, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY c_custkey""".stripMargin),

    Query("q_rollup_revenue", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty, COUNT(*) AS n
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    Query("q_cube_events", (s, dir) =>
      // the full grouping-sets lattice (CUBE) + grouping_id — the §2.4
      // "Catalyst built-ins" claim made checkable: one expand+agg, the
      // 4 grouping sets share a single shuffle
      Cdc.walEvents(s, dir)
        .cube(col("event_type"), expr("user_id div 20").as("user_band"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(floor(value * 1000000 + 0.5) as bigint)")).as("sum_micros"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first,
          col("user_band").asc_nulls_first),
      // cube twin: DuckDB CUBE + GROUPING() (standard bit order: leftmost
      // column = most significant bit, 1 when aggregated away)
      s"""SELECT event_type, user_id // 20 AS user_band, COUNT(*) AS n,
         |  CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micros,
         |  CAST(GROUPING(event_type, user_id // 20) AS BIGINT) AS gid
         |FROM events
         |GROUP BY CUBE (event_type, user_id // 20)
         |ORDER BY gid, event_type ASC NULLS FIRST, user_band ASC NULLS FIRST""".stripMargin),

    Query("q_pivot_events", (s, dir) => {
      // PIVOT with an explicit value list (the only scale-sane form —
      // an implicit list means a distinct scan before planning): one
      // groupBy shuffle on user_id, absent cells coalesced to 0
      val kinds = Seq("click", "error", "purchase", "signup", "view")
      val p = Cdc.walEvents(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", kinds)
        .agg(count(lit(1)))
      p.select(col("user_id") +:
          kinds.map(k => coalesce(col(k), lit(0L)).as(s"n_$k")): _*)
        .orderBy(col("user_id"))
    },
      // pivot twin: one conditional-sum column per pivoted value
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    Query("q_min_cost_supplier", (s, dir) => {
      // scalar-subquery shape: per nation, the supplier(s) with minimal
      // account balance (correlated min via join-back)
      val sup = Tables.supplier(s, dir)
      val mins = sup.groupBy(col("s_nationkey").as("nk"))
        .agg(min(col("s_acctbal")).as("min_bal"))
      sup.join(broadcast(mins),
          col("s_nationkey") === col("nk") && col("s_acctbal") === col("min_bal"))
        .select(col("s_nationkey"), col("s_suppkey"), col("s_name"))
        .orderBy(col("s_nationkey"), col("s_suppkey"))
    },
      """SELECT s_nationkey, s_suppkey, s_name FROM supplier s
        |WHERE s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier s2
        |                   WHERE s2.s_nationkey = s.s_nationkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin),

    Query("q_quantiles", (s, dir) => {
      // exact interpolated quantiles (continuous definition, both engines)
      Tables.orders(s, dir)
        .agg(
          count_distinct(col("o_custkey")).as("n_customers"),
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
    },
      """SELECT COUNT(DISTINCT o_custkey) AS n_customers,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders""".stripMargin),

    Query("q_quantiles_approx", (s, dir) => {
      // the documented 100 TB path for q_quantiles: quantile-sketch agg
      // (bounded state, mergeable) instead of exact percentile's
      // hold-all-values state; no SQL oracle (sketch ≠ bit-exact) —
      // OpsSpec bounds its error against the exact result.
      // count_distinct stays in its OWN aggregation: a distinct agg
      // mixed with a TypedImperativeAggregate forces sort-based agg with
      // per-row sketch (de)serialization (~10× slower); two single-row
      // aggs + cross join keep both hash-aggregated.
      val o = Tables.orders(s, dir)
      val sketch = o.agg(
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)").as("p90"))
      // driver-checkable sketch gate (r8 advice: shrink the rows-only
      // set): re-rank the sketch estimates against the data and emit
      // BOUND BOOLEANS — approx_percentile guarantees rank error
      // <= n/accuracy, so the oracle states `true` and a drifting sketch
      // turns the hash red. The extra pass is gate-only arithmetic; the
      // production operator remains the single sketch aggregation.
      val ranked = o.crossJoin(broadcast(sketch)).agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") <= col("p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("o_totalprice") <= col("p90"), 1L).otherwise(0L)).as("r90"))
        .select(
          (abs(col("r50") * 20000 - col("n") * 10000) <= col("n") * 2 + 20000).as("p50_rank_ok"),
          (abs(col("r90") * 10000 - col("n") * 9000) <= col("n") + 10000).as("p90_rank_ok"))
      o.agg(count_distinct(col("o_custkey")).as("n_customers")).crossJoin(broadcast(ranked))
    },
      // approx twin: the sketch's rank-error contract is the checkable
      // fact (estimates themselves are engine-specific); a sketch outside
      // its n/accuracy bound turns these booleans false -> hash red
      """SELECT COUNT(DISTINCT o_custkey) AS n_customers,
        |  true AS p50_rank_ok, true AS p90_rank_ok
        |FROM orders""".stripMargin),

    Query("q_except_customers", (s, dir) => {
      Tables.customer(s, dir).select(col("c_custkey"))
        .except(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin),

    Query("q_intersect_users", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "error").select(col("user_id")))
        .orderBy(col("user_id"))
    },
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin),

    Query("q_array_agg", (s, dir) => {
      // deterministic array agg: per-user sorted event types
      // array column joined to a string — the driver's comparator can't
      // hash list cells (round-1 oracle error), values are unchanged
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_list(col("event_type"))), ",").as("types"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id, array_to_string(list_sort(list(event_type)), ',') AS types, COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    Query("q_explode_tokens", (s, dir) => {
      // posexplode ≙ unnest WITH ORDINALITY (1-based to match SQL);
      // orderBy before limit so the 50-doc selection is deterministic
      // regardless of parquet split order (ADVICE r1)
      Tables.documents(s, dir).orderBy(col("doc_id")).limit(50)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
        .orderBy(col("doc_id"), col("pos"))
    },
      """SELECT doc_id, pos, t[pos] AS tok FROM
        |  (SELECT doc_id, string_split(text, ' ') AS t
        |   FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)) d,
        |  LATERAL unnest(generate_series(1, len(t))) AS u(pos)
        |ORDER BY doc_id, pos""".stripMargin),

    Query("q_interval_overlap", (s, dir) => {
      // two-sided range join, binned: purchases (any user) landing
      // inside each user-session window — equi-join on the hour bin +
      // residual BETWEEN, never a nested-loop cross product
      val wal = Cdc.walEvents(s, dir)
      val sessions = Cdc.sessionize(wal)
        .select(col("user_id"), col("sess_no").cast("long").as("sess_no"),
          col("sess_start_ms"), col("sess_end_ms"))
      val purchases = wal.filter(col("event_type") === "purchase")
        .select(col("lsn").as("purchase_lsn"), col("ts_ms").as("pt_ms"))
      graft.ops.RangeJoin.pointInInterval(purchases, sessions,
          "pt_ms", "sess_start_ms", "sess_end_ms", binWidth = 3600000L)
        .select(col("user_id"), col("sess_no"), col("purchase_lsn"), col("pt_ms"))
        .orderBy(col("user_id"), col("sess_no"), col("purchase_lsn"))
    },
      // overlap twin: the same session CTE, then a plain inequality join
      // (DuckDB's IEJoin handles it natively — the binning is Spark-side
      // physical strategy, invisible in the result)
      s"""WITH sess AS (
         |  SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
         |    MIN(ts_ms) AS sess_start_ms, MAX(ts_ms) AS sess_end_ms
         |  FROM (
         |    SELECT user_id, ts_ms,
         |      SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, lsn
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
         |    FROM (
         |      SELECT user_id, event_id AS lsn, epoch_ns(ts) // 1000000 AS ts_ms,
         |        CASE WHEN lag(epoch_ns(ts) // 1000000, 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000, event_id) IS NULL
         |               OR epoch_ns(ts) // 1000000 - lag(epoch_ns(ts) // 1000000, 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000, event_id) > 3600000
         |             THEN 1 ELSE 0 END AS new_sess
         |      FROM events) a) b
         |  GROUP BY user_id, sess_no),
         |p AS (SELECT event_id AS purchase_lsn, epoch_ns(ts) // 1000000 AS pt_ms
         |      FROM events WHERE event_type = 'purchase')
         |SELECT s.user_id, s.sess_no, p.purchase_lsn, p.pt_ms
         |FROM sess s JOIN p ON p.pt_ms BETWEEN s.sess_start_ms AND s.sess_end_ms
         |ORDER BY s.user_id, s.sess_no, p.purchase_lsn""".stripMargin),

    Query("q_range_autobin", (s, dir) => {
      // the SAME containment join as q_interval_overlap, written the
      // NAIVE declarative way (bare BETWEEN, no manual binning) —
      // RangeJoinBinRule rewrites it into the binned equi-join at
      // optimization time, so the nested-loop product never plans.
      // The binWidth conf scopes to a CHILD session: setting it on the
      // shared session would race concurrent planners (Verify submits
      // queries in parallel) into seeing a conf they never asked for
      val sess = s.newSession()
      GraftExtensions.registerTo(sess)
      sess.conf.set("spark.graft.rangeJoin.binWidth", "3600000")
      val wal = Cdc.walEvents(sess, dir)
      val sessions = Cdc.sessionize(wal)
        .select(col("user_id"), col("sess_no").cast("long").as("sess_no"),
          col("sess_start_ms"), col("sess_end_ms"))
      val purchases = wal.filter(col("event_type") === "purchase")
        .select(col("lsn").as("purchase_lsn"), col("ts_ms").as("pt_ms"))
      purchases
        .join(sessions,
          col("pt_ms") >= col("sess_start_ms") && col("pt_ms") <= col("sess_end_ms"))
        .select(col("user_id"), col("sess_no"), col("purchase_lsn"), col("pt_ms"))
        .orderBy(col("user_id"), col("sess_no"), col("purchase_lsn"))
    },
      // identical semantics to q_interval_overlap — the Spark side differs
      // only in HOW the plan is produced (optimizer rewrite vs manual
      // binning), which the twin result must not see
      s"""WITH sess AS (
         |  SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
         |    MIN(ts_ms) AS sess_start_ms, MAX(ts_ms) AS sess_end_ms
         |  FROM (
         |    SELECT user_id, ts_ms,
         |      SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, lsn
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
         |    FROM (
         |      SELECT user_id, event_id AS lsn, epoch_ns(ts) // 1000000 AS ts_ms,
         |        CASE WHEN lag(epoch_ns(ts) // 1000000, 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000, event_id) IS NULL
         |               OR epoch_ns(ts) // 1000000 - lag(epoch_ns(ts) // 1000000, 1) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000, event_id) > 3600000
         |             THEN 1 ELSE 0 END AS new_sess
         |      FROM events) a) b
         |  GROUP BY user_id, sess_no),
         |p AS (SELECT event_id AS purchase_lsn, epoch_ns(ts) // 1000000 AS pt_ms
         |      FROM events WHERE event_type = 'purchase')
         |SELECT s.user_id, s.sess_no, p.purchase_lsn, p.pt_ms
         |FROM sess s JOIN p ON p.pt_ms BETWEEN s.sess_start_ms AND s.sess_end_ms
         |ORDER BY s.user_id, s.sess_no, p.purchase_lsn""".stripMargin),

    Query("q_asof_join", (s, dir) => {
      Cdc.asofLastOrder(Cdc.walEvents(s, dir), Tables.orders(s, dir))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, e.user_id, MAX(epoch_ms(o.o_orderdate)) AS last_order_ms
        |FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events) e
        |LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND epoch_ms(o.o_orderdate) <= e.ts_ms
        |GROUP BY e.event_id, e.user_id
        |ORDER BY e.event_id""".stripMargin),

    Query("q_grouping_sets", (s, dir) =>
      // GROUPING SETS ((type), (day), ()): three aggregation grains in
      // one pass, grouping_id disambiguates the null grain markers
      Cdc.walEvents(s, dir)
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("chunk_day")), Seq()),
          col("event_type"), col("chunk_day"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(expr("cast(floor(value * 1000 + 0.5) as bigint)")).as("sum_milli"))
        .select(col("gid"), col("event_type"), col("chunk_day"),
          col("n"), col("sum_milli"))
        .orderBy(col("gid"), col("event_type"), col("chunk_day")),
      // grouping-sets twin: same three grains, same composite GROUPING
      // bitmask convention (leftmost argument = most significant bit)
      """WITH wal AS (SELECT event_type,
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm
        |  FROM events)
        |SELECT CAST(GROUPING(event_type, chunk_day) AS BIGINT) AS gid,
        |  event_type, chunk_day, COUNT(*) AS n,
        |  CAST(SUM(vm) AS BIGINT) AS sum_milli
        |FROM wal GROUP BY GROUPING SETS ((event_type), (chunk_day), ())
        |ORDER BY gid, event_type, chunk_day""".stripMargin),

    Query("q_unpivot_daily", (s, dir) =>
      // wide per-day metrics melted long (the Spark 3.4+ unpivot /
      // ANSI UNPIVOT): name-value pairs a metrics store ingests
      Cdc.walEvents(s, dir)
        .groupBy(col("chunk_day"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("cast(floor(value * 1000 + 0.5) as bigint)")).as("sum_milli"),
          max(expr("cast(floor(value * 1000 + 0.5) as bigint)")).as("max_milli"))
        .unpivot(Array(col("chunk_day")),
          Array(col("n_events"), col("sum_milli"), col("max_milli")),
          "metric", "value")
        .orderBy(col("chunk_day"), col("metric")),
      // unpivot twin: ANSI UNPIVOT in the FROM clause
      """WITH wal AS (SELECT
        |    epoch_ns(ts) // 86400000000000 - 19723 AS chunk_day,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm
        |  FROM events),
        |wide AS (SELECT chunk_day, COUNT(*) AS n_events,
        |    CAST(SUM(vm) AS BIGINT) AS sum_milli,
        |    CAST(MAX(vm) AS BIGINT) AS max_milli
        |  FROM wal GROUP BY 1)
        |SELECT chunk_day, metric, value FROM wide
        |UNPIVOT (value FOR metric IN (n_events, sum_milli, max_milli))
        |ORDER BY chunk_day, metric""".stripMargin)
  )
}
