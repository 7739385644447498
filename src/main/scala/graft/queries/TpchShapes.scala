package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints
import graft.queries.Battery.Row

/** The remaining classic TPC-H query shapes (Q4, Q12, Q14, Q16, Q17, Q21,
  * Q22) adapted to the fixture schema — SURVEY §2 Group D rows D3/D4/D7/D8.
  *
  * Adaptations (the fixtures lack `partsupp`, `l_commitdate`,
  * `l_receiptdate`, `l_shipmode`, `c_phone`):
  *  - Q4/Q21's "late delivery" predicate becomes a shipdate-vs-orderdate
  *    lag (shipped >60 days after order / latest shipper on the order);
  *  - Q16's supplier counts come from the observed (l_partkey, l_suppkey)
  *    pairs in lineitem instead of partsupp;
  *  - Q12 classifies by `l_returnflag` instead of `l_shipmode`;
  *  - Q22 selects dormant customers by account balance vs the positive-
  *    balance mean, grouped by nation key instead of phone prefix.
  *
  * Determinism: money math in DECIMAL(18,2) cast to double once at the
  * end; the Q17/Q22 "vs mean" predicates are rewritten multiplication-only
  * (`x * n > total`) so no engine-specific AVG accumulation order can flip
  * a row near the threshold.
  */
object TpchShapes {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Q4 — order-priority checking: orders from 1996H1 with at least one
    * line item shipped more than 60 days after the order date, counted per
    * priority. The EXISTS is a left-semi join on orderkey whose extra
    * non-equi predicate (shipdate vs orderdate+60d) rides on the join; the
    * orderdate range is pushed to the orders scan, so at 100 TB the semi
    * join shuffles only the 6-month order slice plus (orderkey, shipdate)
    * pairs — never whole rows of either table. (D4)
    */
  def priorityExists(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))

  private val priorityExistsSql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** Q12 — line classification: 1997 shipments joined to their order,
    * counting high- vs low-priority order lines per return flag. The
    * orders side carries only (orderkey, priority); the conditional counts
    * are map-side partial aggregates, so the single shuffle moves one
    * (flag, two counters) row per partition per flag. (D7)
    */
  def linePriorityClasses(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))

  private val linePriorityClassesSql =
    """SELECT l_returnflag,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag""".stripMargin

  /** Q14 — promotion effect: the share of March-1997 revenue from PROMO
    * parts. Part is a broadcast dimension; both branch sums stay exact
    * DECIMAL through the aggregate and the single division happens once in
    * double on the final one-row result ((100 * promo) / total, identical
    * association in the oracle). (D7, D3)
    */
  def promoRevenue(s: SparkSession, d: String): DataFrame = {
    val discPrice = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) * sum(when(col("p_type") === "PROMO", discPrice)
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double")
          / sum(discPrice).cast("double")).as("promo_revenue_pct"))
  }

  private val promoRevenueSql =
    """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |   THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
      |   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      | / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
      | AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |  AND l_shipdate <  TIMESTAMP '1997-04-01'""".stripMargin

  /** Q16 — parts/supplier relationship: distinct suppliers observed per
    * (brand, type) over the selected part sizes, one brand excluded. The
    * fixtures have no partsupp, so supplier sets come from lineitem's
    * (l_partkey, l_suppkey) pairs. The part side is filtered BEFORE the
    * join (predicate at the scan, dimension broadcast); exact
    * count-distinct expands to Spark's two-phase plan — first de-dup on
    * (brand, type, suppkey), then count — both phases partial-aggregated
    * map-side. (D8, D3)
    */
  def partSupplierCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#13" &&
          col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  private val partSupplierCountsSql =
    """SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#13'
      |  AND p_size IN (1, 9, 17, 25, 33, 41, 49)
      |GROUP BY p_brand, p_type""".stripMargin

  /** Q17 — small-quantity-order revenue: average yearly revenue lost if
    * orders below 20% of a part's mean order quantity were not filled.
    * The correlated scalar subquery (per-part mean) becomes an aggregate +
    * equi-join re-used by Catalyst/AQE as a broadcast when small; the
    * threshold predicate is the multiplication-only rewrite
    * `5 * qty * cnt < sumq` (quantities and counts are integral doubles,
    * exact under IEEE up to 2^53), so no division-order drift can flip a
    * borderline row between engines. (D7)
    */
  def smallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val brandParts = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(brandParts, col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy(col("p_partkey").as("ap_partkey"))
      .agg(sum(col("l_quantity")).as("sumq"), count(lit(1)).as("cnt"))
    li.join(perPart, col("p_partkey") === col("ap_partkey"))
      .filter(lit(5.0) * col("l_quantity") * col("cnt") < col("sumq"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  private val smallQtyRevenueSql =
    """SELECT CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem l1 JOIN part p1 ON l1.l_partkey = p1.p_partkey
      |WHERE p1.p_brand = 'Brand#13'
      |  AND 5.0 * l1.l_quantity * (SELECT COUNT(*) FROM lineitem l2
      |                             WHERE l2.l_partkey = l1.l_partkey)
      |      < (SELECT SUM(l2.l_quantity) FROM lineitem l2
      |         WHERE l2.l_partkey = l1.l_partkey)""".stripMargin

  /** Q21 — suppliers who kept orders waiting: on completed ('F') orders
    * with at least two suppliers, count the line items whose supplier
    * shipped at-or-after every OTHER supplier's last shipment (the
    * EXISTS / NOT-EXISTS pair of the original). Rather than two correlated
    * scans, the plan aggregates lineitem once to per-(order, supplier) max
    * shipdates, derives each supplier's "others' max" with two window
    * passes over the orderkey partition (global max + runner-up max +
    * count-at-max resolve ties exactly: when several suppliers share the
    * order max, every one of them still has another supplier at that max),
    * and joins back on (orderkey, suppkey) — three orderkey-co-partitioned
    * shuffles of slim columns, no quadratic self-join. The oracle states
    * the literal EXISTS/NOT-EXISTS, so DuckDB computes it an entirely
    * different way. (D4, D10)
    */
  def soleLateSupplier(s: SparkSession, d: String): DataFrame = {
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val lf = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
    // partition by orderkey ALONE: hash(o) satisfies the (o, s) aggregate's
    // clustered distribution AND the windows' partitionBy(o), so the
    // aggregate→window pipeline runs on one exchange instead of two —
    // one full lineitem shuffle saved, which at 100 TB is the query's cost
    val perSupp = lf.repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey").as("g_orderkey"),
        col("l_suppkey").as("g_suppkey"))
      .agg(max(col("l_shipdate")).as("msd"))
    val w = Window.partitionBy(col("g_orderkey"))
    val stats = perSupp
      .withColumn("nsupp", count(lit(1)).over(w))
      .withColumn("m1", max(col("msd")).over(w))
      .withColumn("cnt_at_max",
        sum(when(col("msd") === col("m1"), 1L).otherwise(0L)).over(w))
      .withColumn("m2", max(when(col("msd") < col("m1"), col("msd"))).over(w))
      .filter(col("nsupp") >= 2)
      .withColumn("others_max",
        when(col("msd") === col("m1") && col("cnt_at_max") === 1, col("m2"))
          .otherwise(col("m1")))
      .select(col("g_orderkey"), col("g_suppkey"), col("others_max"))
    lf.join(stats, col("l_orderkey") === col("g_orderkey") &&
        col("l_suppkey") === col("g_suppkey"))
      .filter(col("l_shipdate") >= col("others_max"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private val soleLateSupplierSql =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** Q22 — dormant high-balance customers: customers with no orders in the
    * final year of data whose balance exceeds the mean positive balance,
    * totalled per nation (every fixture customer has SOME order, so Q22's
    * literal "no orders ever" is degenerate here; the recency cutoff keeps
    * the anti-join shape non-trivial). The global mean is a one-row
    * aggregate nested-loop-broadcast to the scan; the threshold predicate
    * is the multiplication-only rewrite `bal * n > total` in exact
    * DECIMAL, and the recency test is a left-anti join whose date filter
    * is pushed to the orders scan — at 100 TB only the last year's
    * (custkey) column crosses the exchange. (D4, D7)
    */
  def dormantCustomers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val stats = c.filter(col("c_acctbal") > 0)
      .agg(sum(dec(col("c_acctbal"))).as("total"), count(lit(1)).as("n"))
    c.crossJoin(broadcast(stats))
      .filter(dec(col("c_acctbal")) * col("n") > col("total"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-08-01").cast("timestamp"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
  }

  private val dormantCustomersSql =
    """WITH stats AS (
      |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total, COUNT(*) AS n
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, stats
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > total
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2000-08-01')
      |GROUP BY c_nationkey""".stripMargin

  /** Q6 — forecasting revenue change: the canonical scan-filter-aggregate.
    * One pass, zero joins, one-row result; every predicate (shipdate year,
    * discount band, quantity cap) sits in PushedFilters at the parquet
    * scan, and the single SUM is a map-side partial aggregate — the
    * textbook shape whose 100 TB cost is exactly one read of the filtered
    * columns. Money math stays DECIMAL through the sum, one double cast on
    * the final row (the promoRevenue discipline). The discount band is an
    * exact IEEE comparison on the raw stored doubles — identical in both
    * engines because both read the same parquet bits. (D2, D7)
    */
  def forecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"))

  private val forecastRevenueSql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |   * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Q15 — top supplier: the grouped-max view + join-back. The original's
    * `revenue` view is the (suppkey, decimal-sum) aggregate; the
    * correlated `= (SELECT MAX(...))` becomes a ONE-ROW max aggregate of
    * the view broadcast back onto it — ties all match, exactly like the
    * spec's equality against the scalar subquery. NOT a global
    * `rank() OVER (ORDER BY total_rev)` window: an empty partition key
    * funnels every supplier through one task, the textbook Q15 scale trap
    * (|suppliers| is data-sized — ~10M at 100 TB). The revenue view is
    * pinned (|suppliers| slim rows) so the fact table is READ ONCE — AQE's
    * broadcast conversion on the max branch defeats ReusedExchange here,
    * the jaccardPairs lesson; the max then costs one broadcast of a
    * single row and the whole plan stays partition-parallel. Comparison
    * is on the exact DECIMAL sums, so no double-rounding tie ambiguity;
    * winners surface ordered by suppkey, exactly as the spec's ORDER BY
    * resolves ties. (D7, D10)
    */
  def topSupplier(s: SparkSession, d: String): DataFrame = {
    val discPrice = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discPrice).as("total_rev"))
      .transform(Checkpoints.pin)
    val best = rev.agg(max(col("total_rev")).as("best_rev"))
    rev.join(broadcast(best), col("total_rev") === col("best_rev"))
      .join(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private val topSupplierSql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |     * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate <  TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  val rows: Seq[Row] = Seq(
    Row("d04_priority_exists", priorityExists, priorityExistsSql),
    Row("d07_line_priority_classes", linePriorityClasses, linePriorityClassesSql),
    Row("d07_promo_revenue", promoRevenue, promoRevenueSql),
    Row("d08_part_supplier_counts", partSupplierCounts, partSupplierCountsSql),
    Row("d07_small_qty_revenue", smallQtyRevenue, smallQtyRevenueSql),
    Row("d04_sole_late_supplier", soleLateSupplier, soleLateSupplierSql),
    Row("d04_dormant_customers", dormantCustomers, dormantCustomersSql),
    Row("d07_forecast_revenue", forecastRevenue, forecastRevenueSql),
    Row("d10_top_supplier", topSupplier, topSupplierSql)
  )
}
