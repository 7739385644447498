package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Checkpoints, Closure}
import graft.queries.Battery.Row

/** SURVEY §2 Group D (+A7/A9/B7 shapes) as oracle-checked queries over the
  * `/root/testdata` fixtures.
  *
  * Determinism rules (the driver hash-compares against DuckDB):
  *  - money aggregates run in DECIMAL(18,2) (exact in both engines) and are
  *    cast to double once at the end — no float-summation-order drift;
  *  - quantities are integral doubles → summed then cast to BIGINT;
  *  - every ORDER BY / window has a unique tie-break column;
  *  - no libm-dependent functions (exp/ln/trig) in checked outputs.
  */
object Relational {

  /** The oracle's exact revenue sum: sum(extendedprice × (1 − discount))
    * in DECIMAL(18,2), cast to double once (see the header). */
  private val revenueSql =
    """CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |   * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)""".stripMargin

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** TPC-H Q1-shaped pricing summary: filter → hash aggregate with partial
    * (map-side) aggregation; the scan reads only the 7 referenced columns
    * and the shipdate predicate is pushed to parquet. (D7, D2)
    */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
          * dec(lit(1.0) + col("l_tax"))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))

  private val pricingSummarySql =
    s"""SELECT l_returnflag, l_linestatus,
      | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | $revenueSql AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) * CAST(1.0 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
      | COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Star join: fact×fact shuffle join on orderkey, then the dimension
    * chain (customer⋈nation⋈region) joined UNHINTED — customer scales
    * with SF, so a forced broadcast would OOM the build side at 100 TB;
    * at test scale AQE picks the same broadcast on its own, and at scale
    * it correctly degrades to a shuffle join (the round-13 de-hinting
    * rule; nation/region stay auto-broadcast inside the chain). (D3)
    */
  def revenueByNation(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val revenueByNationSql =
    s"""SELECT r_name, n_name,
      | $revenueSql AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** D3b — the salted-skew-join variant of the equi-join
    * ([[graft.operators.SkewJoin]], SURVEY §4 scale mitigations): the
    * same lineitem⋈orders join with the left side scattered 8 ways and
    * the right replicated. The oracle is the PLAIN join — salting must be
    * semantics-invisible, which is exactly what a hash row-salt (vs a
    * positional/rand salt) guarantees under task retries. */
  def saltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val or = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.operators.SkewJoin
      .saltedJoin(li, or, "l_orderkey", "o_orderkey", buckets = 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val saltedSkewJoinSql =
    s"""SELECT o_orderpriority,
      | $revenueSql AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Top-k: orderBy+limit plans as TakeOrderedAndProject — per-partition
    * heaps then a k-row merge on the driver, never a global sort. (D11) */
  def topOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private val topOrdersSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** Semi ⊕ anti join: customers with a finished order but no open order.
    * Both sides plan as broadcast semi/anti joins of the orders projection.
    * (D4) */
  def semiAntiCustomers(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    Tables.customer(s, d)
      .join(o.filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(o.filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  private val semiAntiCustomersSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  /** Distinct aggregation: exact count-distinct expands to a two-phase
    * aggregate; keeps one shuffle per distinct column set. (D8) */
  def distinctCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))

  private val distinctCountsSql =
    """SELECT l_returnflag,
      | COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT l_suppkey) AS n_supps,
      | COUNT(DISTINCT l_orderkey) AS n_orders,
      | COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Error-bound gate for the HLL++ estimator: per group, the approximate
    * count must land within 3× the configured rsd (0.02 → 6%) of the exact
    * count. The oracle recomputes the exact counts in DuckDB and expects
    * every `within_bound` true, so a broken sketch (hash collision bug,
    * wrong merge) fails the driver compare even though the raw estimates
    * are engine-specific. 3σ of a 2% rsd ≈ P(false alarm) < 0.3% per
    * group; measured error at sf0.01 is well under 2%. */
  def approxDistinctGate(s: SparkSession, d: String): DataFrame = {
    // dedupe-first, one pipeline per column: two countDistincts in a single
    // aggregate plan an Expand that triples every input row through the
    // shuffle (measured 10.5 s vs 1.5 s at sf0.1 once the bench stopped
    // pruning the agg). After the distinct, the exact count is a plain
    // count and the HLL sees each value once — duplicate-insensitive, so
    // the estimate is bit-identical to the single-pass formulation.
    def side(c: String, exact: String, approx: String): DataFrame =
      Tables.lineitem(s, d)
        // drop null keys so the post-distinct count matches COUNT(DISTINCT)
        // semantics (which ignores nulls) unconditionally, not just because
        // TPC-H keys happen to be non-null
        .filter(col(c).isNotNull)
        .select(col("l_returnflag"), col(c)).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(exact),
          approx_count_distinct(col(c), 0.02).as(approx))
    side("l_partkey", "n_parts", "ap")
      .join(side("l_orderkey", "n_orders", "ao"), "l_returnflag")
      .select(col("l_returnflag"), col("n_parts"), col("n_orders"),
        (abs(col("ap") - col("n_parts")).cast("double") / col("n_parts") <= 0.06 &&
          abs(col("ao") - col("n_orders")).cast("double") / col("n_orders") <= 0.06)
          .as("within_bound"))
  }

  private val approxDistinctGateSql =
    """SELECT l_returnflag,
      | COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT l_orderkey) AS n_orders,
      | true AS within_bound
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Exact-register HyperLogLog (D8's sketch surface with a FULL oracle):
    * per (group, bucket) the register value itself. Unlike the
    * engine-specific `approx_count_distinct` sketch (which only admits
    * the `d08_approx_error_gate` bound check), these registers are a
    * pure function of the data computable identically by ANY engine with
    * md5: bucket = the digest's first 8 hex chars mod 256, rho = 33 −
    * bit-length of the 32-bit value in hex chars 9-16 (bit-length via
    * the binary-string length — integer arithmetic end to end, no libm,
    * so the oracle hash-matches register-for-register). The floating
    * estimate and its accuracy live in the spec, which folds THESE
    * registers through the harmonic-mean estimator and checks the error
    * against the exact count. Scale shape: registers are the textbook
    * mergeable summary — map-side partial MAX per (group, bucket), ONE
    * shuffle of ≤ |groups|×256 rows regardless of input volume, and
    * register tables from disjoint corpus shards merge by element-wise
    * MAX. Streaming twin: [[graft.streaming.ApproxDistinct]] proves the
    * same register-fold discipline under micro-batching (with xxhash64,
    * which stays engine-internal — hence the md5 variant here for the
    * cross-engine pin). */
  def hllRegisters(s: SparkSession, d: String): DataFrame = {
    val hex = md5(col("l_partkey").cast("string"))
    val h1 = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val w = conv(substring(hex, 9, 8), 16, 10).cast("long")
    val rho = when(w === 0L, lit(33)).otherwise(lit(33) - length(bin(w)))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), (h1 % 256).as("bucket"), rho.as("rho"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(max(col("rho")).as("max_rho"))
  }

  /** The oracle's md5-hex-slice → BIGINT parse: chars [start, start+8)
    * of the digest. ONE definition of this finicky ASCII-arithmetic fold
    * for the whole oracle battery — LlmOps' content buckets delegate
    * here with start = 1. */
  private[queries] def hexValSql(arg: String, start: Int): String =
    s"""list_reduce(
       | [CAST(CASE WHEN ascii(substr(md5($arg), i, 1)) < 58
       |   THEN ascii(substr(md5($arg), i, 1)) - 48
       |   ELSE ascii(substr(md5($arg), i, 1)) - 87 END AS BIGINT)
       |  for i in range($start, ${start + 8})],
       | (acc, x) -> acc * 16 + x)""".stripMargin

  private val hllRegistersSql =
    s"""WITH h AS (
       | SELECT l_returnflag,
       |  ${hexValSql("CAST(l_partkey AS VARCHAR)", 1)} AS h1,
       |  ${hexValSql("CAST(l_partkey AS VARCHAR)", 9)} AS w
       | FROM lineitem)
       |SELECT l_returnflag, h1 % 256 AS bucket,
       | CAST(MAX(CASE WHEN w = 0 THEN 33
       |   ELSE 33 - length(to_base(w, 2)) END) AS INT) AS max_rho
       |FROM h GROUP BY l_returnflag, bucket""".stripMargin

  /** Rank-error gate for the quantile sketch (D8's quantile variant —
    * `approx_percentile`, Spark's KLL-style mergeable sketch, the
    * replacement for exact sort-based quantiles at 100 TB): for each
    * requested percentile the sketch's answer must sit within the
    * configured rank error (n/accuracy, +1 for interpolation slack) of
    * its target rank. Exact ranks come from one conditional-aggregation
    * scan (no sort, no join); a broken sketch (bad merge, wrong
    * compression) fails the driver compare even though the raw quantile
    * values are engine-specific. Two 1-row collects — both sides are
    * full map-side-combined aggregates, so the driver never sees data. */
  def quantileSketchGate(s: SparkSession, d: String): DataFrame = {
    val pcts = Seq(10, 25, 50, 75, 90)
    val accuracy = 1000
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
    val first = li.agg(
      percentile_approx(col("x"),
        array(pcts.map(p => lit(p / 100.0)): _*), lit(accuracy)).as("ap"),
      count(lit(1)).as("n")).head()
    val approx = first.getSeq[Double](0)
    val n = first.getLong(1)
    val rankExprs = approx.zipWithIndex.flatMap { case (v, i) =>
      Seq(sum(when(col("x") < v, 1L).otherwise(0L)).as(s"lo_$i"),
        sum(when(col("x") <= v, 1L).otherwise(0L)).as(s"hi_$i"))
    }
    val ranks = li.agg(rankExprs.head, rankExprs.tail: _*).head()
    val eps = n.toDouble / accuracy + 1
    val rows = pcts.zipWithIndex.map { case (p, i) =>
      val lo = ranks.getLong(2 * i)
      val hi = ranks.getLong(2 * i + 1)
      val target = p / 100.0 * n
      (p, n, lo <= target + eps && hi >= target - eps)
    }
    import s.implicits._
    rows.toDF("pct_x100", "n_rows", "within_bound")
  }

  private val quantileSketchGateSql =
    """SELECT p.pct_x100, (SELECT COUNT(*) FROM lineitem) AS n_rows,
      | true AS within_bound
      |FROM (VALUES (10),(25),(50),(75),(90)) p(pct_x100)""".stripMargin

  /** Ranking window: top-3 orders per customer. Same shape as the
    * reference's last-write-wins reader (B7/D10). */
  def topOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  private val topOrdersPerCustomerSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      | FROM orders) WHERE rn <= 3""".stripMargin

  /** Running total (analytic window, decimal-exact cumulative sum). (D10) */
  def runningTotal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("run_total", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("run_total"))
  }

  private val runningTotalSql =
    """SELECT o_custkey, o_orderkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
      |FROM orders""".stripMargin

  /** lag/lead deltas over the events stream table. (D10) */
  def eventDeltas(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("delta", col("value") - col("prev_value"))
      .select(col("event_id"), col("user_id"), col("value"), col("prev_value"), col("delta"))
  }

  private val eventDeltasSql =
    """SELECT event_id, user_id, value,
      | LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_value,
      | value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS delta
      |FROM events""".stripMargin

  /** ROLLUP hierarchy totals. (D9) */
  def rollupQuantities(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
        count(lit(1)).as("n"))

  private val rollupQuantitiesSql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** CUBE over order status × priority. (D9) */
  def cubeOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))

  private val cubeOrdersSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** GROUPING SETS (D9, SQL surface): per-flag totals, per-status totals,
    * and the grand total in one pass. */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  private val groupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** Set operators: INTERSECT ∖ EXCEPT on customer key sets. (D12) */
  def setOpsCustkeys(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val oo = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    f.intersect(oo).except(p).withColumnRenamed("o_custkey", "custkey")
  }

  private val setOpsCustkeysSql =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin

  /** String function battery over part. (D13) */
  def stringFns(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      length(col("p_name")).as("name_len"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
      size(split(col("p_name"), " ")).as("n_words"))

  private val stringFnsSql =
    """SELECT p_partkey,
      | UPPER(p_name) AS name_upper,
      | SUBSTR(p_type, 1, 5) AS type_prefix,
      | CONCAT_WS('-', p_brand, p_type) AS brand_type,
      | LENGTH(p_name) AS name_len,
      | REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
      | LEN(STRING_SPLIT(p_name, ' ')) AS n_words
      |FROM part""".stripMargin

  /** Date/time battery: extraction + truncation over orders. (D14) */
  def dateFns(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(
        count(lit(1)).as("n"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date"))

  private val dateFnsSql =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
      | CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
      | COUNT(*) AS n, MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** C3/C4 column forms checked end-to-end against DuckDB's epoch
    * functions: ISO→epoch-us/ms conversions and the 3-decimal-rounded
    * duration between commit and receipt dates (whole seconds here, so the
    * banker's-vs-half-up rounding edge — spec-covered by golden vectors —
    * cannot diverge). Session TZ is pinned UTC in every entrypoint, which
    * is what makes `unix_micros(to_timestamp(...))` equal DuckDB's
    * TZ-free `epoch_us`. */
  def timeFns(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_orderkey") <= 1000)
    val o = Tables.orders(s, d).filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"), col("o_orderdate"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        graft.model.TimeFns.isoToEpochUsCol(col("l_shipdate").cast("string")).as("ship_us"),
        graft.model.TimeFns.isoToEpochMsCol(col("l_shipdate").cast("string")).as("ship_ms"),
        graft.model.TimeFns.durationSCol(col("o_orderdate").cast("string"),
          col("l_shipdate").cast("string")).as("order_to_ship_s"))
  }

  private val timeFnsSql =
    """SELECT l_orderkey, l_linenumber,
      | epoch_us(l_shipdate) AS ship_us,
      | epoch_ms(l_shipdate) AS ship_ms,
      | round(CAST(epoch_us(l_shipdate) - epoch_us(o_orderdate) AS DOUBLE) / 1e6, 3)
      |  AS order_to_ship_s
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_orderkey <= 1000""".stripMargin

  /** Math battery — only IEEE-deterministic functions (sqrt, floor, ceil,
    * abs, pmod); no libm-implementation-defined exp/ln. (D15) */
  def mathFns(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      sqrt(col("l_quantity")).as("sqrt_qty"),
      floor(col("l_extendedprice") / 100).cast("long").as("price_h"),
      ceil(col("l_discount") * 100).cast("long").as("disc_pct"),
      abs(col("l_quantity") - lit(25.0)).as("qty_dev"),
      pmod(col("l_orderkey"), lit(7)).as("key_mod"))

  private val mathFnsSql =
    """SELECT l_orderkey, l_linenumber,
      | SQRT(l_quantity) AS sqrt_qty,
      | CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS price_h,
      | CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct,
      | ABS(l_quantity - 25.0) AS qty_dev,
      | l_orderkey % 7 AS key_mod
      |FROM lineitem""".stripMargin

  /** D5 — interval join (pairs of events of the same user within 30
    * minutes) via the binned range-join operator: equi-join on (user,
    * 30-min time bucket) instead of user alone, so hot users never
    * degenerate to an O(n²) residual scan inside one sort-merge group. */
  def rangeJoinEvents(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val a = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = e.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
      col("ts").as("b_ts"))
    graft.operators.RangeJoin
      .within(a, b, "user_id", "b_user", "a_ts", "b_ts",
        windowMicros = 30L * 60 * 1000000)
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val rangeJoinEventsSql =
    """SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |GROUP BY a.user_id""".stripMargin

  /** As-of join via the union+window operator: each purchase event gets the
    * most recent prior non-purchase event of the same user. (D6) */
  def asofPriorEvent(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val others = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("src_id"),
        col("value").as("src_value"))
    AsOfJoin.asOf(purchases, others, "user_id", "ts", "ts",
      Seq("src_id", "src_value"))
      .select(col("event_id"), col("user_id"),
        col("asof_src_id").as("prior_event_id"),
        col("asof_src_value").as("prior_value"))
  }

  private val asofPriorEventSql =
    """SELECT p.event_id AS event_id, p.user_id AS user_id,
      | (SELECT o.event_id FROM events o
      |   WHERE o.user_id = p.user_id AND o.event_type <> 'purchase' AND o.ts <= p.ts
      |   ORDER BY o.ts DESC, o.event_id DESC LIMIT 1) AS prior_event_id,
      | (SELECT o.value FROM events o
      |   WHERE o.user_id = p.user_id AND o.event_type <> 'purchase' AND o.ts <= p.ts
      |   ORDER BY o.ts DESC, o.event_id DESC LIMIT 1) AS prior_value
      |FROM events p WHERE p.event_type = 'purchase'""".stripMargin

  /** Point-in-time-correct feature join (D6's staleness variant): each
    * purchase gets its prior non-purchase event ONLY when that event is at
    * most 30 minutes old at purchase time — the feature-freshness contract
    * of a training pipeline ([[AsOfJoin.asOfWithin]]). The oracle keeps
    * the same latest-prior pick and CASEs out stale matches. */
  def asofStaleness(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val others = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("src_id"),
        col("value").as("src_value"))
    AsOfJoin.asOfWithin(purchases, others, "user_id", "ts", "ts",
      Seq("src_id", "src_value"), expr("INTERVAL 30 MINUTES"))
      .select(col("event_id"), col("user_id"),
        col("asof_src_id").as("prior_event_id"),
        col("asof_src_value").as("prior_value"))
  }

  private val asofStalenessSql =
    """SELECT p.event_id AS event_id, p.user_id AS user_id,
      | CASE WHEN l.ts >= p.ts - INTERVAL 30 MINUTE THEN l.event_id END
      |   AS prior_event_id,
      | CASE WHEN l.ts >= p.ts - INTERVAL 30 MINUTE THEN l.value END
      |   AS prior_value
      |FROM events p LEFT JOIN LATERAL (
      |  SELECT o.event_id, o.value, o.ts FROM events o
      |  WHERE o.user_id = p.user_id AND o.event_type <> 'purchase'
      |    AND o.ts <= p.ts
      |  ORDER BY o.ts DESC, o.event_id DESC LIMIT 1) l ON true
      |WHERE p.event_type = 'purchase'""".stripMargin

  /** Transitive closure over a synthetic binary-tree hierarchy (per-user
    * event rank rn, parent = rn/2) — the A7 subtree-selection kernel on
    * oracle-checkable data; the oracle is a recursive CTE. The edge set is
    * partitionable by user, so the Spark side uses the one-shuffle grouped
    * walk ([[Closure.treeClosureGrouped]]). */
  def closureTree(s: SparkSession, d: String): DataFrame =
    Closure.treeClosureGrouped(syntheticTreeEdges(s, d), "user_id")
      .select(col("ancestor"), col("descendant"), col("depth"))

  /** The shared synthetic-tree edge derivation (per-user event rank rn,
    * parent = rn/2) — ONE definition so [[closureTree]] and
    * [[closureRecursiveSql]] provably walk the SAME tree (RelationalSpec
    * asserts their closures set-equal; a divergence here would only
    * surface as that spec's confusing failure). */
  private def syntheticTreeEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val ranked = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("rn", row_number().over(w))
    ranked.filter(col("rn") > 1)
      .join(ranked.select(col("user_id").as("p_user"),
        col("event_id").as("parent"), col("rn").as("p_rn")),
        col("user_id") === col("p_user") &&
          col("p_rn") === floor(col("rn") / 2).cast("int"))
      .select(col("user_id"), col("parent"), col("event_id").as("child"))
  }

  private val closureTreeSql =
    """WITH RECURSIVE ev AS (
      | SELECT event_id, user_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      | FROM events),
      |edges AS (
      | SELECT p.event_id AS parent, c.event_id AS child
      | FROM ev c JOIN ev p ON c.user_id = p.user_id AND p.rn = c.rn // 2
      | WHERE c.rn > 1),
      |closure AS (
      | SELECT parent AS ancestor, child AS descendant, 1 AS depth FROM edges
      | UNION ALL
      | SELECT c.ancestor, e.child, c.depth + 1
      | FROM closure c JOIN edges e ON e.parent = c.descendant)
      |SELECT ancestor, descendant, CAST(depth AS INT) AS depth FROM closure""".stripMargin

  /** A7 on the SQL SURFACE: the same synthetic-tree transitive closure as
    * [[closureTree]], but expressed as Spark-native `WITH RECURSIVE`
    * (UnionLoop, Spark 4.x) — the declarative form a SQL-only consumer
    * writes for the reference's subtree walk
    * (`CL/opentelemetry_helpers.py:295-308`), previously reachable only
    * through the library operator. The UnionLoop plan iterates the
    * recursive step (one edges join per depth level, the loop-carried
    * frontier shrinking each round); the one-shuffle grouped walk of
    * [[Closure.treeClosureGrouped]] remains the 100 TB batch path —
    * registering BOTH pins engine-vs-engine recursion semantics
    * (cycle-free expansion, depth arithmetic) against DuckDB's
    * recursive CTE. */
  def closureRecursiveSql(s: SparkSession, d: String): DataFrame = {
    // materialize the edge derivation ONCE: the UnionLoop re-executes its
    // anchor/step subplans each iteration, so an unpinned view would
    // replay the window + self-join per depth level. The lazy result reads
    // the pin, so the caller's scope (not this call) releases it.
    val edges = syntheticTreeEdges(s, d)
      .select(col("parent"), col("child"))
      .transform(Checkpoints.pin)
    // a unique view name per invocation (no cross-invocation races), and
    // the view is dropped as soon as the plan below has bound to it
    val view = s"__a7_sql_edges_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    edges.createOrReplaceTempView(view)
    try s.sql(
      s"""WITH RECURSIVE closure (ancestor, descendant, depth) AS (
         |  SELECT parent, child, 1 FROM $view
         |  UNION ALL
         |  SELECT c.ancestor, e.child, c.depth + 1
         |  FROM closure c JOIN $view e ON e.parent = c.descendant
         |)
         |SELECT ancestor, descendant, depth FROM closure""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  /** Shared derivation for the A8/A10 SQL-surface rows: the per-user probe
    * table (root = rn 1, mid = rn 2, leaf = the deepest node) over the
    * synthetic tree, restricted to users with ≥3 events so the probe ids
    * are distinct (the reference asserts distinct path elements,
    * `opentelemetry_helpers.py:358`). One groupBy over the ranked events —
    * no joins. The booleans/counts downstream VARY per user (the fixture's
    * per-user event counts range ~49–86, so whether the deepest node lies
    * in rn 2's binary subtree is data-dependent), which is what makes the
    * hash compare pin real recursion, not a constant. */
  private def treeProbes(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), row_number().over(w).as("rn"))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("rn") === 1, col("event_id"))).as("root_id"),
        max(when(col("rn") === 2, col("event_id"))).as("mid_id"),
        expr("max_by(event_id, rn)").as("leaf_id"),
        max(col("rn")).as("maxrn"))
      .filter(col("maxrn") >= 3)
      .select(col("user_id"), col("root_id"), col("mid_id"), col("leaf_id"))
  }

  /** The DuckDB-side prelude shared by the A8/A10 recursive oracles —
    * identical ev/edges/probes derivation to the Spark frames above. */
  private val recursiveProbePreludeSql =
    """ev AS (
      | SELECT event_id, user_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      | FROM events),
      |edges AS (
      | SELECT c.user_id, p.event_id AS parent, c.event_id AS child
      | FROM ev c JOIN ev p ON c.user_id = p.user_id AND p.rn = c.rn // 2
      | WHERE c.rn > 1),
      |probes AS (
      | SELECT user_id,
      |  MAX(CASE WHEN rn = 1 THEN event_id END) AS root_id,
      |  MAX(CASE WHEN rn = 2 THEN event_id END) AS mid_id,
      |  ARG_MAX(event_id, rn) AS leaf_id
      | FROM ev GROUP BY user_id HAVING MAX(rn) >= 3)""".stripMargin

  /** A8 on the SQL SURFACE: `contains_path` as `WITH RECURSIVE` — the
    * reference's `traverse_from` seeded at each probe node
    * (`opentelemetry_helpers.py:295-308`), with `contains_path(root, mid,
    * leaf)` decided pairwise over the walks (`:323-362`). Unlike the
    * boolean gate row [[SpanAlgebra.pathContainment]] (one customer, a
    * constant oracle), this computes a per-user verdict whose truth VARIES
    * with the tree shape, recursion semantics checked engine-vs-engine.
    * The walk is seeded from the three probe nodes only — O(probe
    * subtrees), not the full O(n·depth) closure of the A7 row, which is
    * exactly how a path check should scale: at 100 TB you walk the
    * subtrees you ask about, not the forest. */
  def pathRecursiveSql(s: SparkSession, d: String): DataFrame = {
    // checkpoint both UnionLoop inputs: the loop re-executes its step (and
    // the outer query its anchor) per iteration, so an un-checkpointed
    // window/self-join derivation would replay per depth level
    val edges = Checkpoints.pin(syntheticTreeEdges(s, d))
    val probes = Checkpoints.pin(treeProbes(s, d))
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ev, pv) = (s"__a8_sql_edges_$tag", s"__a8_sql_probes_$tag")
    edges.createOrReplaceTempView(ev)
    probes.createOrReplaceTempView(pv)
    try s.sql(
      s"""WITH RECURSIVE walk (user_id, src, node) AS (
         |  SELECT user_id, root_id, root_id FROM $pv
         |  UNION ALL SELECT user_id, mid_id, mid_id FROM $pv
         |  UNION ALL SELECT user_id, leaf_id, leaf_id FROM $pv
         |  UNION ALL
         |  SELECT w.user_id, w.src, e.child
         |  FROM walk w JOIN $ev e ON e.user_id = w.user_id AND e.parent = w.node
         |)
         |SELECT p.user_id,
         |  bool_or(w.src = p.root_id AND w.node = p.mid_id)
         |    AND bool_or(w.src = p.mid_id AND w.node = p.leaf_id) AS path_ok,
         |  bool_or(w.src = p.leaf_id AND w.node = p.mid_id) AS reversed_ok
         |FROM $pv p JOIN walk w ON w.user_id = p.user_id
         |GROUP BY p.user_id""".stripMargin)
    finally { s.catalog.dropTempView(ev); s.catalog.dropTempView(pv) }
  }

  private val pathRecursiveSqlOracle =
    s"""WITH RECURSIVE $recursiveProbePreludeSql,
       |walk (user_id, src, node) AS (
       |  SELECT user_id, root_id, root_id FROM probes
       |  UNION ALL SELECT user_id, mid_id, mid_id FROM probes
       |  UNION ALL SELECT user_id, leaf_id, leaf_id FROM probes
       |  UNION ALL
       |  SELECT w.user_id, w.src, e.child
       |  FROM walk w JOIN edges e ON e.user_id = w.user_id AND e.parent = w.node
       |)
       |SELECT p.user_id,
       |  BOOL_OR(w.src = p.root_id AND w.node = p.mid_id)
       |    AND BOOL_OR(w.src = p.mid_id AND w.node = p.leaf_id) AS path_ok,
       |  BOOL_OR(w.src = p.leaf_id AND w.node = p.mid_id) AS reversed_ok
       |FROM probes p JOIN walk w ON w.user_id = p.user_id
       |GROUP BY p.user_id""".stripMargin

  /** A10 on the SQL SURFACE: `bound_by(mid, inclusive=true)` as `WITH
    * RECURSIVE` (`opentelemetry_helpers.py:310-321`) — the bounded
    * sub-UDT's node count and height per user, the graph-shape summary a
    * SQL-only consumer computes about a subtree. Seeded at one node per
    * user; the recursion touches only the bounded subtree. */
  def boundByRecursiveSql(s: SparkSession, d: String): DataFrame = {
    val edges = Checkpoints.pin(syntheticTreeEdges(s, d))
    val probes = Checkpoints.pin(treeProbes(s, d))
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ev, pv) = (s"__a10_sql_edges_$tag", s"__a10_sql_probes_$tag")
    edges.createOrReplaceTempView(ev)
    probes.createOrReplaceTempView(pv)
    try s.sql(
      s"""WITH RECURSIVE sub (user_id, node, rel_depth) AS (
         |  SELECT user_id, mid_id, 0 FROM $pv
         |  UNION ALL
         |  SELECT t.user_id, e.child, t.rel_depth + 1
         |  FROM sub t JOIN $ev e ON e.user_id = t.user_id AND e.parent = t.node
         |)
         |SELECT user_id, COUNT(*) AS n_nodes,
         |  CAST(MAX(rel_depth) AS INT) AS height
         |FROM sub GROUP BY user_id""".stripMargin)
    finally { s.catalog.dropTempView(ev); s.catalog.dropTempView(pv) }
  }

  private val boundByRecursiveSqlOracle =
    s"""WITH RECURSIVE $recursiveProbePreludeSql,
       |sub (user_id, node, rel_depth) AS (
       |  SELECT user_id, mid_id, 0 FROM probes
       |  UNION ALL
       |  SELECT t.user_id, e.child, t.rel_depth + 1
       |  FROM sub t JOIN edges e ON e.user_id = t.user_id AND e.parent = t.node
       |)
       |SELECT user_id, COUNT(*) AS n_nodes,
       |  CAST(MAX(rel_depth) AS INT) AS height
       |FROM sub GROUP BY user_id""".stripMargin

  /** Last-write-wins dedup (the reference's legacy reader policy, B7):
    * keep the latest event per (user, type) via a desc ranking window. */
  def lastWriteWins(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
  }

  private val lastWriteWinsSql =
    """SELECT user_id, event_type, event_id, value FROM (
      | SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |   ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1""".stripMargin

  /** Anti-join root detection (A9 shape): parts that never appear in any
    * lineitem. */
  /** Anti join with a filtered right side: parts never ordered in bulk
    * (quantity ≥ 48). The unfiltered variant is trivially empty at every
    * fixture SF (all parts are ordered), which would make the oracle a
    * zero-row no-op rather than a real anti-join check. */
  def neverOrderedParts(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 48),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))

  private val neverOrderedPartsSql =
    """SELECT p_partkey, p_name FROM part
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_partkey = p_partkey AND l_quantity >= 48)""".stripMargin

  /** Array functions over tokenized documents. (D16) */
  def arrayFns(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("words")).as("n_words"),
        size(array_distinct(col("words"))).as("n_distinct"),
        element_at(col("words"), 1).as("first_word"),
        element_at(col("words"), -1).as("last_word"))

  private val arrayFnsSql =
    """SELECT doc_id,
      | LEN(STRING_SPLIT(text, ' ')) AS n_words,
      | LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
      | STRING_SPLIT(text, ' ')[1] AS first_word,
      | STRING_SPLIT(text, ' ')[-1] AS last_word
      |FROM documents""".stripMargin

  /** JSON extraction from the events.props payload column. (D17) */
  def jsonFns(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))

  private val jsonFnsSql =
    """SELECT CAST(props->>'$.k' AS BIGINT) % 10 AS k_bucket,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** Semi-structured access through Spark 4's VARIANT type: `parse_json`
    * once, then typed `variant_get` paths — the open-schema column
    * pattern that replaces string re-parsing per field at 100 TB (the
    * variant binary encoding parses ONCE per row; every subsequent path
    * access is a binary probe, and shredded-variant stats can push down
    * in newer parquet). Aggregates stay exact: counts, an integer sum,
    * order-independent MIN/MAX on the double — no FP accumulation in
    * the checked output. (D17) */
  def variantShred(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        sum(col("k").cast("long")).as("k_sum"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"))

  private val variantShredSql =
    """SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
      | MIN(value) AS v_min,
      | MAX(value) AS v_max
      |FROM events GROUP BY 1""".stripMargin

  /** Correlated scalar aggregate via join: each order vs its customer's
    * average order value (self-join aggregate shape). (D7+D3) */
  def aboveCustomerAvg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val avgs = o.groupBy(col("o_custkey").as("ck"))
      .agg((sum(dec(col("o_totalprice"))).cast("double") / count(lit(1)))
        .as("avg_price"))
    o.join(avgs, col("o_custkey") === col("ck"))
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_above"))
  }

  private val aboveCustomerAvgSql =
    """WITH avgs AS (
      | SELECT o_custkey AS ck,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
      | FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, COUNT(*) AS n_above
      |FROM orders JOIN avgs ON o_custkey = ck
      |WHERE o_totalprice > avg_price
      |GROUP BY o_custkey""".stripMargin

  /** Union of branded subsets with a tag column. (D12) */
  def unionTagged(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val hi = o.filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey"), lit("high").as("bucket"))
    val lo = o.filter(col("o_totalprice") < 50000)
      .select(col("o_orderkey"), lit("low").as("bucket"))
    hi.unionByName(lo)
  }

  private val unionTaggedSql =
    """SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 300000
      |UNION ALL
      |SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 50000""".stripMargin

  /** Pivot (wide reshape): event counts per user-bucket × event_type. The
    * value list is explicit, so the plan is a single hash aggregate — no
    * extra distinct-values collect job, which is the form that survives a
    * 100 TB scan (one pass, map-side partial agg). (D9)
    */
  def pivotEventTypes(s: SparkSession, d: String): DataFrame =
    pivotCounts(Tables.events(s, d),
      (col("user_id") % 10).as("user_bucket"), "event_type",
      Seq("click", "error", "purchase", "signup", "view"))

  def pivotCounts(events: DataFrame, rowKey: Column, pivotCol: String,
      values: Seq[String]): DataFrame =
    events
      .groupBy(rowKey)
      .pivot(pivotCol, values)
      .agg(count(lit(1)))
      // pivot+count yields NULL (not 0) for absent combos; the oracle's
      // COUNT(*) FILTER yields 0 — align on 0
      .na.fill(0L, values)

  private val pivotEventTypesSql =
    """SELECT user_id % 10 AS user_bucket,
      | COUNT(*) FILTER (event_type = 'click')    AS click,
      | COUNT(*) FILTER (event_type = 'error')    AS error,
      | COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      | COUNT(*) FILTER (event_type = 'signup')   AS signup,
      | COUNT(*) FILTER (event_type = 'view')     AS view
      |FROM events GROUP BY 1""".stripMargin

  /** D9 unpivot — wide→long reshaping via `Dataset.unpivot` (Spark 4's
    * native melt; a Generate node, no shuffle beyond the input's): the
    * pivoted per-bucket event-type counts back to (bucket, type, n) rows.
    * Together with `d09_pivot_event_types` this pins the pivot∘unpivot
    * round-trip: the oracle is the direct long-form GROUP BY densified
    * over the bucket×type grid (pivot manufactures explicit zeros for
    * absent combos, and unpivot must preserve them). */
  def unpivotEventTypes(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    pivotCounts(Tables.events(s, d),
      (col("user_id") % 10).as("user_bucket"), "event_type", types)
      .unpivot(Array(col("user_bucket")), types.map(col).toArray,
        "event_type", "n")
  }

  private val unpivotEventTypesSql =
    """WITH p AS (SELECT user_id % 10 AS user_bucket, event_type,
      |  COUNT(*) AS n FROM events GROUP BY 1, 2),
      |b AS (SELECT DISTINCT user_id % 10 AS user_bucket FROM events),
      |t AS (SELECT unnest(['click','error','purchase','signup','view'])
      |  AS event_type)
      |SELECT b.user_bucket, t.event_type,
      | CAST(COALESCE(p.n, 0) AS BIGINT) AS n
      |FROM b CROSS JOIN t
      |LEFT JOIN p ON p.user_bucket = b.user_bucket
      | AND p.event_type = t.event_type""".stripMargin

  /** Batch sessionization via `session_window` (gap = 12h): the same
    * merging-session operator Structured Streaming uses (H4), run in batch.
    * One shuffle on user_id, sessions merged inside the aggregate — the
    * oracle reproduces it with the lag/cumsum island formulation. A new
    * session starts only when the gap is STRICTLY greater than 12h: Spark
    * merges touching windows (an event at exactly last+gap still joins the
    * session — pinned by RelationalSpec). (D10/H4)
    */
  def sessionWindows(s: SparkSession, d: String): DataFrame =
    sessionize(Tables.events(s, d), "12 hours")

  def sessionize(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("sum_value"))

  private val sessionWindowsSql =
    """WITH flagged AS (
      | SELECT user_id, ts, value, event_id,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |       OR ts > lag(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END AS new_s
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      | SELECT user_id, ts, value,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      | FROM flagged)
      |SELECT user_id, epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** Tumbling event-time window in batch: the H2 streaming aggregate shape
    * (`window(ts, "1 hour")`) run as a plain batch groupBy — one shuffle on
    * (window, type), map-side partials; the oracle reproduces the
    * epoch-aligned hourly buckets with date_trunc. (D10/H2)
    */
  def tumblingThroughput(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  private val tumblingThroughputSql =
    """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, event_type,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Rank-family window functions: ntile / percent_rank / cume_dist per
    * customer over order value. The ordering carries a unique tie-break
    * (o_orderkey), so rank == row_number and both engines compute the same
    * integer-ratio doubles (IEEE division of small ints is exact-identical).
    * (D10)
    */
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
  }

  private val windowNtileSql =
    """SELECT o_orderkey, o_custkey,
      | NTILE(4) OVER w AS quartile,
      | PERCENT_RANK() OVER w AS pr,
      | CUME_DIST() OVER w AS cd
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin

  /** D7f — exact distribution percentiles per group. Spark's `percentile`
    * is a partial-aggregating sort-free exact quantile (per-partition
    * OpenHashMap of value→count merged on the reducer), so the plan is the
    * same two-phase hash aggregate as any sum — no global sort, no
    * per-group collect. The interpolated values land on the 0.0025 price
    * grid (2-decimal prices × 2-decimal rank fractions), so `round(_, 4)`
    * recovers the exact grid value in both engines and no FP-drift can
    * survive the hash-compare. (D7)
    */
  def percentiles(s: SparkSession, d: String): DataFrame =
    // ONE percentile aggregate over the probability array — four separate
    // percentile() calls each buffer the full value distribution per group
    // (4× the merge traffic for identical answers; 5.5 s → ~1.5 s at sf0.1)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.99))).as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        round(element_at(col("ps"), 4), 4).as("p99"))

  private val percentilesSql =
    """SELECT l_returnflag,
      | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** D10f — time-series resample + forward-fill: hourly buckets per user,
    * a dense `sequence()` grid between each user's first and last bucket,
    * and `last(_, ignoreNulls)` to carry observations across gaps. The
    * bucket value is an exact DECIMAL sum cast to double once, so the
    * forward-filled value is bit-identical wherever it's carried. Grid
    * size is users × hours — bounded by the time span, not the event
    * count, so the explode cannot amplify a 100 TB input (the heavy side
    * stays the pre-aggregated buckets). One shuffle for the bucket agg,
    * one for the per-user span+grid, one window sort. (D10, D5)
    */
  def resampleFfill(s: SparkSession, d: String): DataFrame = {
    val b = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(dec(col("value"))).cast("double").as("v"))
    val grid = b.groupBy(col("user_id"))
      .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(b, Seq("user_id", "h"), "left")
      .select(col("user_id"), unix_micros(col("h")).as("hour_us"), col("v"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
  }

  private val resampleFfillSql =
    """WITH b AS (
      | SELECT user_id, date_trunc('hour', ts) AS h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      | FROM events GROUP BY 1, 2),
      |grid AS (
      | SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      | FROM (SELECT user_id, min(h) AS lo, max(h) AS hi FROM b GROUP BY 1)),
      |j AS (
      | SELECT g.user_id, g.h, b.v
      | FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.h = b.h)
      |SELECT user_id, epoch_us(h) AS hour_us, v,
      | last_value(v IGNORE NULLS) OVER (
      |   PARTITION BY user_id ORDER BY h
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM j""".stripMargin

  /** D5c — interval-overlap concurrency by sweep line: each event opens a
    * 5-minute interval; +1/−1 boundary rows, a cumulative sum ordered by
    * (time, delta DESC) — starts before ends at the same instant, so
    * touching intervals count as overlapping — and a per-user max. The
    * max prefix-sum is invariant under any ordering of exact (t, delta)
    * ties, so the result is deterministic without a unique tie-break.
    * This is the scale shape for "peak concurrent sessions" on 100 TB:
    * two narrow columns, one shuffle for the window, one for the max.
    * (D5, D10)
    */
  def intervalConcurrency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val bounds = ev.select(col("user_id"), col("ts").as("t"), lit(1).as("delta"))
      .unionAll(ev.select(col("user_id"),
        (col("ts") + expr("interval 5 minutes")).as("t"), lit(-1).as("delta")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds.withColumn("load", sum(col("delta")).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("load")).cast("int").as("max_concurrent"))
  }

  private val intervalConcurrencySql =
    """WITH bounds AS (
      | SELECT user_id, ts AS t, 1 AS delta FROM events
      | UNION ALL
      | SELECT user_id, ts + INTERVAL 5 MINUTE AS t, -1 AS delta FROM events),
      |load AS (
      | SELECT user_id, SUM(delta) OVER (
      |   PARTITION BY user_id ORDER BY t ASC, delta DESC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
      | FROM bounds)
      |SELECT user_id, CAST(MAX(load) AS INT) AS max_concurrent
      |FROM load GROUP BY user_id""".stripMargin

  /** D8c — Count-Min-Sketch frequency gate: the sketch (mergeable per
    * partition, fixed seed) never undercounts, and overcounts by at most
    * eps·N with probability 1−δ; the gate pins both sides against the
    * exact distributed counts. At 100 TB the sketch replaces a full
    * groupBy when only heavy-hitter estimates are needed — the driver
    * holds w×d counters, never the keys. (D8)
    */
  def cmsGate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val eps = 0.001
    val sketch = ev.stat.countMinSketch(col("event_type"), eps,
      0.99, 42)
    // N for the eps*N bound comes from the sketch itself — a separate
    // count() would be a second full scan of the input
    val bound = math.ceil(eps * sketch.totalCount()).toLong
    val est = udf((t: String) => sketch.estimateCount(t))
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        (est(col("event_type")) >= col("n") &&
          est(col("event_type")) <= col("n") + lit(bound)).as("within_bound"))
  }

  private val cmsGateSql =
    """SELECT event_type, COUNT(*) AS n, true AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** D10g — conversion funnel: for every click, does a purchase by the
    * same user follow within the hour? Expressed as a window scan — one
    * shuffle on user_id, a `lead`-style forward search via min-over-frame
    * — NOT a self-join: the join formulation explodes on power users
    * (clicks × purchases per user), the window stays linear in events.
    * Rows: per-day funnel counts (clicks, converted, distinct converting
    * users). (D10, D5)
    */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelCounts(Tables.events(s, d))

  /** DataFrame-level funnel core over (user_id, ts, event_type). */
  def funnelCounts(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("t_us"))
    // for each event, the time of the NEXT purchase by the same user at or
    // after it: min(purchase time) over the forward frame. RANGE (not ROWS)
    // so a purchase at the exact same microsecond is always inside the
    // click's frame — a ROWS frame would include it only when the tie
    // happens to sort after the click, a nondeterministic coin flip.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"))
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    val nextPurchase = min(when(col("event_type") === "purchase", col("t_us")))
      .over(w)
    ev.withColumn("next_purchase_us", nextPurchase)
      .filter(col("event_type") === "click")
      .select(to_date(col("ts")).as("day"), col("user_id"),
        (col("next_purchase_us") - col("t_us") <= 3600L * 1000 * 1000)
          .as("converted"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("clicks"),
        sum(when(col("converted"), 1).otherwise(0)).as("converted"),
        countDistinct(when(col("converted"), col("user_id")))
          .as("converting_users"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("clicks"), col("converted"), col("converting_users"))
  }

  private val funnelSql =
    """WITH ev AS (
      | SELECT user_id, event_type, ts, epoch_us(ts) AS t_us
      | FROM events WHERE event_type IN ('click', 'purchase')),
      |nxt AS (
      | SELECT user_id, event_type, ts, t_us,
      |  MIN(CASE WHEN event_type = 'purchase' THEN t_us END) OVER (
      |    PARTITION BY user_id ORDER BY t_us
      |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |    AS next_purchase_us
      | FROM ev)
      |SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      | COUNT(*) AS clicks,
      | CAST(SUM(CASE WHEN next_purchase_us - t_us <= 3600000000
      |   THEN 1 ELSE 0 END) AS BIGINT) AS converted,
      | COUNT(DISTINCT CASE WHEN next_purchase_us - t_us <= 3600000000
      |   THEN user_id END) AS converting_users
      |FROM nxt WHERE event_type = 'click'
      |GROUP BY 1""".stripMargin

  /** D7g — cohort retention: users grouped by first-activity day, counted
    * by how many distinct days-since-cohort they return on. Two shuffles
    * (per-user min, then cohort×offset count-distinct); the per-user
    * cohort side joins back broadcast-or-shuffle on user_id, which AQE
    * picks by size. The classic growth-analytics matrix at any scale.
    * (D7, D3)
    */
  def retentionCohorts(s: SparkSession, d: String): DataFrame =
    retentionFrom(Tables.events(s, d))

  /** DataFrame-level retention core over (user_id, ts). */
  def retentionFrom(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("offset_days"),
        col("user_id"))
      // (cohort_day, offset_days, user_id) is already unique — days is
      // distinct on (user_id, day) and offset is a function of day — so a
      // plain count avoids the extra dedup-aggregate pass a countDistinct
      // would plan
      .groupBy(col("cohort_day"), col("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("offset_days"), col("n_users"))
  }

  private val retentionCohortsSql =
    """WITH days AS (
      | SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohorts AS (
      | SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
      |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
      | CAST(date_diff('day', c.cohort_day, d.day) AS INT) AS offset_days,
      | COUNT(*) AS n_users
      |FROM days d JOIN cohorts c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** D3/D7/D11 — TPC-H Q3 (shipping priority) adapted to the fixture
    * schema: segment-filtered customers broadcast into the orders join,
    * open orders joined to shipped lineitems, revenue per order, top 10.
    * The composite everything-at-once query: two broadcastable dimension
    * reductions, one fact shuffle, TakeOrderedAndProject for the limit.
    * Tie-break on l_orderkey keeps the limit deterministic. (D3, D7, D11)
    */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val orders = Tables.orders(s, d)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  private val shippingPrioritySql =
    s"""SELECT l_orderkey,
      | strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
      | o_orderpriority,
      | $revenueSql AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      | AND o_orderdate < TIMESTAMP '1998-03-15'
      | AND l_shipdate > TIMESTAMP '1998-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** D7/D4/D11 — TPC-H Q18 (large-volume customers) on the fixture schema:
    * a HAVING-filtered aggregate (orders whose total lineitem quantity
    * exceeds the threshold) used as the semi-join driver into orders +
    * customer, then the deterministic top 100. The aggregate-filter side
    * is tiny after the HAVING, so it broadcasts into the fact join — the
    * "find the heavy entities, then enrich them" shape that at 100 TB
    * must aggregate FIRST and join the survivors, never join-then-filter.
    * (D7, D4, D11)
    */
  def bigSpenders(s: SparkSession, d: String): DataFrame = {
    val heavy = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .filter(col("total_qty") > 150)
    Tables.orders(s, d)
      .join(broadcast(heavy), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(100)
  }

  private val bigSpendersSql =
    """WITH heavy AS (
      | SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
      | FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
      |SELECT c_custkey, c_name, o_orderkey,
      | strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
      | total_qty
      |FROM heavy
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 100""".stripMargin

  /** D7h — 3-sigma anomaly flags per event type, with cross-engine-exact
    * arithmetic: the per-group sum and sum-of-squares run in DECIMAL
    * (exact), and mean/variance/threshold are derived with the SAME
    * expression tree in both engines — every double op is correctly
    * rounded over identical inputs, so no stddev/sqrt (libm) is needed:
    * compare (value−mean)² against 9·variance instead. One aggregate pass
    * + a broadcast join of the 5-row stats table back onto the scan. (D7)
    */
  def outliers(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sv"),
        sum((dec(col("value")) * dec(col("value"))).cast("decimal(28,4)"))
          .cast("double").as("svv"))
      .select(col("event_type"), col("n"),
        (col("sv") / col("n")).as("mean"),
        (col("svv") / col("n") - (col("sv") / col("n")) * (col("sv") / col("n")))
          .as("variance"))
    Tables.events(s, d)
      .join(broadcast(stats), Seq("event_type"))
      .filter((col("value") - col("mean")) * (col("value") - col("mean")) >
        lit(9.0) * col("variance"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("mean"), 6).as("mean_v"))
  }

  private val outliersSql =
    """WITH stats AS (
      | SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
      |        * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE)
      |    AS svv
      | FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type, e.value,
      | round(sv / n, 6) AS mean_v
      |FROM events e JOIN stats s USING (event_type)
      |WHERE (e.value - sv / n) * (e.value - sv / n)
      |      > 9.0 * (svv / n - (sv / n) * (sv / n))""".stripMargin

  /** D3e — TPC-H Q5 (local supplier volume): revenue per nation where the
    * CUSTOMER's nation equals the SUPPLIER's nation inside one region. The
    * distinguishing join shape vs plain star joins: the equality constraint
    * runs BETWEEN two dimension paths (customer→nation, supplier→nation),
    * so the supplier broadcast join carries a compound key
    * (l_suppkey, c_nation). Facts shuffle once on orderkey; every
    * dimension (region-filtered nation, customer, supplier) broadcasts —
    * at 100 TB the only exchange is the lineitem⋈orders co-partition. (D3)
    */
  def localSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val asia = Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .join(broadcast(asia), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount")),
        col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val localSupplierVolumeSql =
    s"""SELECT n_name,
      | $revenueSql AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      | AND o_orderdate >= TIMESTAMP '1996-01-01'
      | AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin

  /** D3f — TPC-H Q7 (volume shipping): revenue between two trading nations
    * by direction and ship year. The nation dimension joins the fact chain
    * TWICE under different roles (supplier's nation vs customer's nation) —
    * the alias-collision case a query engine must keep straight — and the
    * symmetric pair filter keeps both directions. Both nation joins and the
    * supplier join broadcast; lineitem⋈orders is the single shuffle. (D3)
    */
  def volumeShipping(s: SparkSession, d: String): DataFrame = {
    val n1 = "NATION_1"
    val n2 = "NATION_2"
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .filter(col("n_name").isin(n1, n2))
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .filter(col("n_name").isin(n1, n2))
        .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === n1 && col("cust_nation") === n2) ||
        (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val volumeShippingSql =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      | CAST(year(l_shipdate) AS INT) AS l_year,
      | $revenueSql AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier  ON l_suppkey = s_suppkey
      |JOIN orders    ON l_orderkey = o_orderkey
      |JOIN customer  ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      | AND l_shipdate >= TIMESTAMP '1996-01-01'
      | AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3""".stripMargin

  /** D7i — TPC-H Q8-shaped market share: of the PROMO-part revenue bought
    * by AMERICA-region customers, the fraction supplied by NATION_1, per
    * order year. The share is ONE IEEE division of two exact decimal sums
    * cast to double (the i5_lm_score determinism pattern) — numerator and
    * denominator ride the SAME aggregate pass as conditional sums, so the
    * fact chain is scanned and shuffled once. (D7, D3)
    */
  def marketShare(s: SparkSession, d: String): DataFrame = {
    val vol = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "AMERICA")
        .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val promo = Tables.part(s, d)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(promo, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_1", vol)).cast("double")
          .as("target_rev"),
        sum(vol).cast("double").as("total_rev"))
      .select(col("o_year"), col("target_rev"), col("total_rev"),
        (col("target_rev") / col("total_rev")).as("mkt_share"))
  }

  private val marketShareSql =
    """WITH vol AS (
      | SELECT CAST(year(o_orderdate) AS INT) AS o_year, n_name,
      |  CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS v
      | FROM lineitem
      | JOIN part     ON l_partkey = p_partkey
      | JOIN orders   ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation sn ON s_nationkey = sn.n_nationkey
      | WHERE p_type = 'PROMO' AND c_nationkey IN (
      |   SELECT n_nationkey FROM nation JOIN region
      |     ON n_regionkey = r_regionkey WHERE r_name = 'AMERICA'))
      |SELECT o_year,
      | CAST(SUM(CASE WHEN n_name = 'NATION_1' THEN v END) AS DOUBLE)
      |   AS target_rev,
      | CAST(SUM(v) AS DOUBLE) AS total_rev,
      | CAST(SUM(CASE WHEN n_name = 'NATION_1' THEN v END) AS DOUBLE)
      |   / CAST(SUM(v) AS DOUBLE) AS mkt_share
      |FROM vol GROUP BY o_year""".stripMargin

  /** D3g/D11 — TPC-H Q10 (returned items): revenue lost to returns per
    * customer in a quarter, top 20. Aggregate-first discipline: the fact
    * join (lineitem⋈orders) reduces to per-custkey revenue BEFORE the
    * customer dimension joins — the join input shrinks from line items to
    * customers, and the dimension broadcasts. TakeOrderedAndProject for
    * the limit; tie-break on c_custkey. (D3, D7, D11)
    */
  def returnedTopCustomers(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
    perCust
      .join(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  private val returnedTopCustomersSql =
    s"""SELECT c_custkey, c_name, c_acctbal,
      | $revenueSql AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      | AND o_orderdate >= TIMESTAMP '1996-07-01'
      | AND o_orderdate <  TIMESTAMP '1996-10-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** D3h/D2 — TPC-H Q19-shaped disjunctive join predicate: revenue over an
    * OR of brand×size×quantity conjunct groups. The OR spans both tables,
    * so no engine can push it whole; the scale move is deriving the
    * single-table envelopes BY HAND — part prunes to the two brands and
    * the size union, lineitem prunes to the quantity union — so both scans
    * skip row groups long before the join evaluates the exact disjunction.
    * (D2, D3)
    */
  def disjunctiveParts(s: SparkSession, d: String): DataFrame = {
    val pt = Tables.part(s, d)
      // derived single-table envelope of the disjunction (pushed to scan)
      .filter(col("p_brand").isin("Brand#1", "Brand#2") &&
        col("p_size").between(1, 30))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(s, d)
      .filter(col("l_quantity").between(1, 40)) // derived envelope
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(pt, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(16, 30) &&
          col("l_quantity").between(20, 40)))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val disjunctivePartsSql =
    s"""SELECT
      | $revenueSql AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
      |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  /** D11b — Pareto frontier (skyline): orders not strictly dominated on
    * (maximize o_totalprice, minimize o_orderdate). Never the O(n²)
    * self-join: collapse to one row per DISTINCT price with its best date
    * (a hash aggregate), then — since distinct prices scale with |orders|
    * — the "earliest date among STRICTLY higher prices" comes from
    * [[graft.operators.PrefixScan.withMinBefore]] (range partition +
    * per-partition scan + carry-in stitch), NOT an empty-key running-min
    * window that would funnel the whole price table through one task. A
    * row survives iff that min is not earlier than its own date. The
    * oracle is the independent NOT EXISTS dominance formulation.
    * (D11, D10)
    */
  def paretoOrders(s: SparkSession, d: String): DataFrame = {
    val perPrice = Tables.orders(s, d)
      .groupBy(dec(col("o_totalprice")).as("price"))
      .agg(min(col("o_orderdate")).as("best_date"))
    // distinct prices ⇒ ROWS-to--1 over the desc order ≡ strictly higher
    val frontier = graft.operators.PrefixScan
      .withMinBefore(perPrice, "min_date_higher", "best_date",
        col("price").desc)
      .filter(col("min_date_higher").isNull ||
        col("min_date_higher") >= col("best_date"))
      .select(col("price"), col("min_date_higher"))
    Tables.orders(s, d)
      .join(broadcast(frontier), dec(col("o_totalprice")) === col("price"))
      .filter(col("min_date_higher").isNull ||
        col("min_date_higher") >= col("o_orderdate"))
      .select(col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
  }

  private val paretoOrdersSql =
    """SELECT a.o_orderkey, a.o_totalprice,
      | strftime(CAST(a.o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate
      |FROM orders a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders b
      |  WHERE CAST(b.o_totalprice AS DECIMAL(18,2))
      |        > CAST(a.o_totalprice AS DECIMAL(18,2))
      |    AND b.o_orderdate < a.o_orderdate)""".stripMargin

  /** D10i — trailing 7-day activity per event (rolling time-RANGE frame):
    * per-user revenue and event count over the last 7 days AT EVERY EVENT —
    * the trailing behavioral feature a training pipeline attaches to each
    * interaction. A RANGE frame over epoch-micros, so same-timestamp peers
    * are always in-frame (deterministic under ties) and there is no
    * per-event self-join. One shuffle on user_id. (D10)
    */
  def rolling7d(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
      .rangeBetween(-7L * 86400 * 1000000, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("value"))
      .withColumn("roll_sum", sum(dec(col("value"))).over(w).cast("double"))
      .withColumn("roll_n", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("roll_sum"), col("roll_n"))
  }

  private val rolling7dSql =
    """SELECT event_id, user_id,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |   PARTITION BY user_id ORDER BY epoch_us(ts)
      |   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   AS roll_sum,
      | COUNT(*) OVER (
      |   PARTITION BY user_id ORDER BY epoch_us(ts)
      |   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS roll_n
      |FROM events""".stripMargin

  /** D10j — hopping (sliding) window aggregate: 1-hour windows advancing
    * every 15 minutes, so each event lands in exactly 4 overlapping
    * windows. Spark's `window(ts, '1 hour', '15 minutes')` explodes the 4
    * memberships at the scan (map-side, no self-join); the oracle derives
    * the same epoch-aligned window starts arithmetically. The H2 streaming
    * window shape, proven on the batch engine. (D10)
    */
  def hoppingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  private val hoppingWindowSql =
    """SELECT (epoch_us(ts) - epoch_us(ts) % 900000000)
      |   - k * 900000000 AS win_start_us,
      | event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events, (SELECT unnest(range(0, 4)) AS k) g
      |GROUP BY 1, 2""".stripMargin

  /** D12c — CDC-style MERGE (upsert with change classification): the
    * per-user state BEFORE a cutoff (the warehouse snapshot) full-outer
    * joined against the per-user state derived from events AFTER it (the
    * incoming batch), classifying every key as insert / update / keep.
    * Both sides reduce to one row per key BEFORE the join — the
    * aggregate-first discipline that makes the merge shuffle |keys|, not
    * |events| — and "last state" is a deterministic row_number over
    * (ts, event_id), never a nondeterministic last(). (D12, D3)
    */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("2024-01-21").cast("timestamp")
    def lastPerUser(df: DataFrame, as: String): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("value").as(as))
    }
    val ev = Tables.events(s, d)
    val snapshot = lastPerUser(ev.filter(col("ts") < cutoff), "old_value")
    val updates = lastPerUser(ev.filter(col("ts") >= cutoff), "new_value")
    snapshot.join(updates, Seq("user_id"), "full_outer")
      .select(col("user_id"), col("old_value"), col("new_value"),
        when(col("old_value").isNull, "insert")
          .when(col("new_value").isNull, "keep")
          .when(col("new_value") === col("old_value"), "unchanged")
          .otherwise("update").as("action"))
  }

  private val mergeUpsertSql =
    """WITH snap AS (
      | SELECT user_id, value AS old_value FROM (
      |  SELECT user_id, value, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE ts < TIMESTAMP '2024-01-21') WHERE rn = 1),
      |upd AS (
      | SELECT user_id, value AS new_value FROM (
      |  SELECT user_id, value, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-21') WHERE rn = 1)
      |SELECT COALESCE(snap.user_id, upd.user_id) AS user_id,
      | old_value, new_value,
      | CASE WHEN old_value IS NULL THEN 'insert'
      |      WHEN new_value IS NULL THEN 'keep'
      |      WHEN new_value = old_value THEN 'unchanged'
      |      ELSE 'update' END AS action
      |FROM snap FULL OUTER JOIN upd ON snap.user_id = upd.user_id"""
      .stripMargin

  /** D7j — TPC-H Q13 (customer order-count distribution): how many
    * customers placed exactly N orders, INCLUDING the zero bucket. The
    * left-join-then-histogram shape, done aggregate-first: orders reduce
    * to per-custkey counts (one fact shuffle), the customer dimension
    * left-joins that small result (keys, not rows), zeros come from
    * coalesce — identical to count(o_orderkey) over a row-level outer
    * join, without ever widening the fact table. (D7, D3)
    */
  def custOrderDistribution(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
  }

  private val custOrderDistributionSql =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      | SELECT c_custkey, COUNT(o_orderkey) AS c_count
      | FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      | GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  /** D10k — session path mining: the top user-journey prefixes (first 5
    * event types of each session, 1-hour inactivity gap), with how many
    * sessions follow each. `session_window` assigns sessions (merging
    * touching windows — the oracle's islands use the strictly-greater gap
    * accordingly); the per-session sequence is rebuilt by sorting the
    * collected (ts, event_id, type) structs, so equal-timestamp events
    * order by the unique event_id, never by arrival. Top-20 runs as
    * TakeOrderedAndProject with the path itself as tie-break. (D10, D11)
    */
  def sessionPaths(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
      .agg(array_join(
        transform(
          slice(sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))), 1, 5),
          x => x("event_type")),
        ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)

  private val sessionPathsSql =
    """WITH flagged AS (
      | SELECT user_id, ts, event_id, event_type,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |       OR ts > lag(ts) OVER w + INTERVAL 1 HOUR THEN 1 ELSE 0 END
      |    AS new_s
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      | SELECT user_id, ts, event_id, event_type,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      | FROM flagged),
      |ranked AS (
      | SELECT user_id, sid, event_type, ts, event_id,
      |  row_number() OVER (PARTITION BY user_id, sid
      |                     ORDER BY ts, event_id) AS rn
      | FROM sess),
      |paths AS (
      | SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      | FROM ranked WHERE rn <= 5 GROUP BY user_id, sid)
      |SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
      |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin

  /** D10j — trailing-7-day distinct users per day. Distinct-over-sliding-
    * windows does NOT partial-aggregate the way the hopping SUM does (a
    * user seen on 3 days must count once per window, not 3×), so the scale
    * shape is: per-(day, user) dedup FIRST (shrinks the explode input to
    * at most |users|×|days| rows), THEN a 7-way explode of each day into
    * the trailing windows it feeds, THEN exact count-distinct per window
    * day. Windows near the end of the data extend past it by design (they
    * report the users of the partial trailing week). (D10, D8)
    */
  def slidingDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(date_trunc("DAY", col("ts")).cast("date").as("day"),
        col("user_id"))
      .distinct()
      .withColumn("k", explode(sequence(lit(0), lit(6))))
      .select(date_add(col("day"), col("k")).as("win_day"), col("user_id"))
      .groupBy(col("win_day"))
      .agg(countDistinct(col("user_id")).as("users_7d"))

  /** D7g — incremental aggregate maintenance by algebraic partial merge:
    * per-(customer, month) partial aggregates (count, exact decimal sum,
    * HLL sketch of order keys) merge into per-customer totals by pure
    * summation / sketch union — the primitive that updates 100 TB
    * statistics from a daily delta WITHOUT rescanning the base (store the
    * month partials; fold the new month in). Count and sum merge is
    * exact by algebra; the sketch union's estimate is pinned inside the
    * query against the exact count (HLL is exact in sparse mode at
    * per-customer cardinalities, and the oracle pins `approx_ok = TRUE`
    * for every customer, so a broken merge fails the hash compare). (D7, D8)
    */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(col("o_custkey"), date_trunc("MONTH", col("o_orderdate")).as("mon"))
      .agg(count(lit(1)).as("pn"),
        sum(dec(col("o_totalprice"))).as("psum"),
        hll_sketch_agg(col("o_orderkey")).as("psketch"))
    monthly.groupBy(col("o_custkey"))
      .agg(sum(col("pn")).as("n_orders"),
        sum(col("psum")).cast("double").as("total_spent"),
        hll_sketch_estimate(hll_union_agg(col("psketch"))).as("approx"))
      .select(col("o_custkey"), col("n_orders"), col("total_spent"),
        (abs(col("approx") - col("n_orders")) <=
          lit(0.1) * col("n_orders")).as("approx_ok"))
  }

  private val incrementalAggSql =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
      | TRUE AS approx_ok
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** D3g — market-basket co-occurrence: top-25 part pairs ordered
    * together most often. Baskets (distinct parts per order) self-join on
    * the order key with `part_a < part_b` de-orientation; both join
    * inputs are the SAME deduped scan, so the planner materializes ONE
    * exchange and replays it (ReusedExchange — PlanSpec pins this), and
    * TPC-H-ish baskets are small (~4-7 items) so the pair explosion is
    * O(k²) per order, not quadratic in the table. Counts are integers,
    * the top-25 is TakeOrdered with a full pair tie-break. (D3, D11)
    */
  def basketPairs(s: SparkSession, d: String): DataFrame = {
    // partition by orderkey ALONE (the Q21 trick): hash(orderkey)
    // satisfies the (orderkey, partkey) dedup AND the self-join, so one
    // exchange serves both instead of a (o,p) dedup exchange followed by
    // an orderkey re-shuffle
    val basket = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey")).distinct()
    basket.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(basket.select(col("l_orderkey"), col("l_partkey").as("part_b")),
        Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(25)
  }

  private val basketPairsSql =
    """WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      | COUNT(*) AS n_orders
      |FROM basket a JOIN basket b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, part_a, part_b LIMIT 25""".stripMargin

  private val slidingDistinctSql =
    """SELECT CAST(date_trunc('day', ts) AS DATE) + CAST(k AS INTEGER) AS win_day,
      | COUNT(DISTINCT user_id) AS users_7d
      |FROM events, (SELECT unnest(range(0, 7)) AS k) g
      |GROUP BY 1""".stripMargin

  /** D1-EXT — the z-order clustering CELL MAP over events
    * ([[graft.operators.ZOrder]] made oracle-checkable): both layout
    * dimensions (user id, event minute) min-max normalized onto 16 bits,
    * Morton-interleaved into a 32-bit z-key — pure built-in bit arithmetic,
    * whole-stage-codegen, identical integer formula on the DuckDB side —
    * then aggregated per 8×8 grid cell (the z-key's top 6 bits) with each
    * cell's row count and RAW min/max band on both dimensions. The output
    * IS the layout claim: every cell's (u, m) bands are ~1/8 of their
    * domains, which is exactly why files cut along the z-curve serve
    * selective predicates on EITHER column via parquet min/max stats (the
    * two-dimensional skipping SourceFormatsSpec measures). Plan: one scan,
    * one 4-value bounds aggregate broadcast back, one cell aggregate —
    * the bounds pass is a second scan of the (u, m) projection only. */
  def zorderCells(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.events(s, d).select(
      col("user_id").cast("long").as("u"),
      expr("unix_micros(ts) div 60000000").as("m"))
    val bounds = dims.agg(
      min("u").as("u0"), max("u").as("u1"),
      min("m").as("m0"), max("m").as("m1"))
    val mask = (1L << 16) - 1
    dims.crossJoin(broadcast(bounds))
      .select(col("u"), col("m"),
        expr(s"((u - u0) * $mask) div greatest(u1 - u0, 1)").as("un"),
        expr(s"((m - m0) * $mask) div greatest(m1 - m0, 1)").as("mn"))
      .select(col("u"), col("m"),
        graft.operators.ZOrder.zvalue(col("un"), col("mn"), 16).as("z"))
      .groupBy(shiftright(col("z"), 26).as("zcell"))
      .agg(count(lit(1)).as("n_events"),
        min("u").as("u_min"), max("u").as("u_max"),
        min("m").as("m_min"), max("m").as("m_max"))
  }

  private val zorderCellsSql =
    s"""WITH dims AS (
       | SELECT CAST(user_id AS BIGINT) AS u,
       |  epoch_us(ts) // 60000000 AS m FROM events),
       |bounds AS (
       | SELECT MIN(u) AS u0, MAX(u) AS u1, MIN(m) AS m0, MAX(m) AS m1
       | FROM dims),
       |normed AS (
       | SELECT u, m,
       |  ${graft.operators.ZOrder.normalizeSql("u", "u0", "u1", 16)} AS un,
       |  ${graft.operators.ZOrder.normalizeSql("m", "m0", "m1", 16)} AS mn
       | FROM dims, bounds),
       |z AS (
       | SELECT u, m, ${graft.operators.ZOrder.zvalueSql("un", "mn", 16)} AS z
       | FROM normed)
       |SELECT z >> 26 AS zcell, COUNT(*) AS n_events,
       | MIN(u) AS u_min, MAX(u) AS u_max, MIN(m) AS m_min, MAX(m) AS m_max
       |FROM z GROUP BY 1""".stripMargin

  val rows: Seq[Row] = Seq(
    Row("d01_zorder_cells", zorderCells, zorderCellsSql),
    Row("d07_agg_pricing", pricingSummary, pricingSummarySql),
    Row("d03_join_revenue_by_nation", revenueByNation, revenueByNationSql),
    Row("d03_salted_skew_join", saltedSkewJoin, saltedSkewJoinSql),
    Row("d11_topk_orders", topOrders, topOrdersSql),
    Row("d04_semi_anti_customers", semiAntiCustomers, semiAntiCustomersSql),
    Row("d08_distinct_counts", distinctCounts, distinctCountsSql),
    Row("d08_approx_error_gate", approxDistinctGate, approxDistinctGateSql),
    Row("d08_hll_registers", hllRegisters, hllRegistersSql),
    Row("d08_quantile_gate", quantileSketchGate, quantileSketchGateSql),
    Row("d10_window_topk_per_customer", topOrdersPerCustomer, topOrdersPerCustomerSql),
    Row("d10_window_running_total", runningTotal, runningTotalSql),
    Row("d10_window_lag_delta", eventDeltas, eventDeltasSql),
    Row("d09_rollup_quantities", rollupQuantities, rollupQuantitiesSql),
    Row("d09_cube_orders", cubeOrders, cubeOrdersSql),
    Row("d09_grouping_sets", groupingSets, groupingSetsSql),
    Row("d12_setops_custkeys", setOpsCustkeys, setOpsCustkeysSql),
    Row("d13_string_fns", stringFns, stringFnsSql),
    Row("d14_date_fns", dateFns, dateFnsSql),
    Row("c3_time_epoch_fns", timeFns, timeFnsSql),
    Row("d15_math_fns", mathFns, mathFnsSql),
    Row("d05_range_join_events", rangeJoinEvents, rangeJoinEventsSql),
    Row("d06_asof_prior_event", asofPriorEvent, asofPriorEventSql),
    Row("d06_asof_staleness", asofStaleness, asofStalenessSql),
    Row("a7_closure_tree", closureTree, closureTreeSql),
    Row("a7_closure_recursive_sql", closureRecursiveSql, closureTreeSql),
    Row("a8_path_recursive_sql", pathRecursiveSql, pathRecursiveSqlOracle),
    Row("a10_bound_by_recursive_sql", boundByRecursiveSql, boundByRecursiveSqlOracle),
    Row("b7_last_write_wins", lastWriteWins, lastWriteWinsSql),
    Row("a9_anti_join_roots", neverOrderedParts, neverOrderedPartsSql),
    Row("d16_array_fns", arrayFns, arrayFnsSql),
    Row("d17_json_fns", jsonFns, jsonFnsSql),
    Row("d17_variant_shred", variantShred, variantShredSql),
    Row("d07_above_customer_avg", aboveCustomerAvg, aboveCustomerAvgSql),
    Row("d12_union_tagged", unionTagged, unionTaggedSql),
    Row("d09_pivot_event_types", pivotEventTypes, pivotEventTypesSql),
    Row("d09_unpivot", unpivotEventTypes, unpivotEventTypesSql),
    Row("d10_session_windows", sessionWindows, sessionWindowsSql),
    Row("d10_window_ntile", windowNtile, windowNtileSql),
    Row("d10_tumbling_window", tumblingThroughput, tumblingThroughputSql),
    Row("d07_percentiles", percentiles, percentilesSql),
    Row("d10_resample_ffill", resampleFfill, resampleFfillSql),
    Row("d05_interval_concurrency", intervalConcurrency, intervalConcurrencySql),
    Row("d08_cms_gate", cmsGate, cmsGateSql),
    Row("d10_funnel", funnel, funnelSql),
    Row("d07_retention_cohorts", retentionCohorts, retentionCohortsSql),
    Row("d03_shipping_priority", shippingPriority, shippingPrioritySql),
    Row("d07_big_spenders", bigSpenders, bigSpendersSql),
    Row("d07_outliers", outliers, outliersSql),
    Row("d03_local_supplier_volume", localSupplierVolume, localSupplierVolumeSql),
    Row("d03_volume_shipping", volumeShipping, volumeShippingSql),
    Row("d07_market_share", marketShare, marketShareSql),
    Row("d03_returned_top_customers", returnedTopCustomers, returnedTopCustomersSql),
    Row("d03_disjunctive_parts", disjunctiveParts, disjunctivePartsSql),
    Row("d11_pareto_orders", paretoOrders, paretoOrdersSql),
    Row("d10_rolling_7d", rolling7d, rolling7dSql),
    Row("d10_hopping_window", hoppingWindow, hoppingWindowSql),
    Row("d12_merge_upsert", mergeUpsert, mergeUpsertSql),
    Row("d07_cust_order_distribution", custOrderDistribution, custOrderDistributionSql),
    Row("d10_session_paths", sessionPaths, sessionPathsSql),
    Row("d10_sliding_distinct", slidingDistinct, slidingDistinctSql),
    Row("d07_incremental_agg", incrementalAgg, incrementalAggSql),
    Row("d03_basket_pairs", basketPairs, basketPairsSql)
  )
}
