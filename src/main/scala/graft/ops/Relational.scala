package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

/** TPC-H-style relational coverage over orders/lineitem/customer/
  * supplier/nation/region: hash aggregation, broadcast + shuffle joins,
  * rollup, windowed top-N, distinct aggregation.
  *
  * Money arithmetic is done in DECIMAL end-to-end: per-row casts from
  * the 2-dp doubles are exact (the doubles sit ~1e-13 from their decimal
  * value, the cast boundary is 5e-3 away), and decimal sums are exact
  * and order-independent — so Spark's parallel aggregation and DuckDB's
  * serial one agree bit-for-bit. Outputs keep their full natural scale:
  * a final scale-REDUCING cast would round, and Spark (half-up) and
  * DuckDB (half-down at the .5 boundary) disagree there. The final
  * column is then cast to DOUBLE on BOTH the engine and oracle sides:
  * the driver's compare hashes dtypes, and DuckDB's DECIMAL surfaces
  * differently from parquet decimal even when every value is equal.
  * Same decimal → same nearest double, deterministically — PROVIDED
  * the unscaled value stays below 2^53 (~9e13 at scale 2), where both
  * engines' decimal→double conversions are exact-then-rounded the
  * same way; above that DuckDB's two-step int64/10^scale rounding can
  * differ by 1 ulp. Sums at the tested scale factors peak ~2.4e13
  * unscaled (sf0.1); revisit if run at sf >= 10.
  *
  * Scale notes per query are on each method: region/nation are
  * constant-size (broadcast always safe); customer/supplier grow
  * linearly with sf, so their joins carry NO broadcast hint — AQE
  * decides from runtime sizes. Fact-fact joins shuffle on their keys,
  * aggregations are partial map-side first.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    IndexStore.table(spark, dir, name)

  /** [[t]] with the scan fanned out to cluster parallelism
    * ([[Similarity.fanOut]] — a NO-OP once the scan has >=
    * defaultParallelism splits, the 100 TB case). Used by the queries
    * whose per-row scan-adjacent compute dominates (md5 checksums,
    * decimal partial aggregation, HLL sketches): the single-row-group
    * fixture parquet otherwise runs that compute on ONE core (r21
    * job-timeline: table_checksum's scan job 0.80 s single-task at
    * sf0.1/32 with 31 cores idle). */
  private def tFanned(spark: SparkSession, dir: String, name: String,
      key: String): DataFrame =
    Similarity.fanOut(spark, dir, name, t(spark, dir, name), col(key))

  /** Exact 2-dp decimal view of a double money column (shared with
    * the other money-carrying operator modules — the house convention
    * lives HERE, once). */
  private[ops] def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  private[ops] val one = lit(1).cast(DecimalType(3, 2))

  // -------------------------------------------------------- Q1: pricing

  /** TPC-H Q1 shape: full-scan hash agg on lineitem. One shuffle of 6
    * groups; everything else is map-side partial aggregation. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    tFanned(spark, dir, "lineitem", "l_orderkey")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount"))))
          .cast(DecimalType(27, 4)).cast("double").as("sum_disc_price"),
        sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))
          * (one + dec2(col("l_tax")))).cast(DecimalType(27, 6))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(27,4)) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |           * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DECIMAL(27,6)) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------- Q3: top revenue orders

  /** Customer (filtered) ⋈ orders ⋈ lineitem, revenue per order, top
    * 10. The shuffle is orders⋈lineitem on o_orderkey; the final top-k
    * is a single-partition sort of the aggregated orders — at 100 TB
    * use the same plan (agg output is |orders| rows, the global
    * limit-10 sort is a TakeOrdered, not a full sort). Customer grows
    * linearly with sf, so no broadcast hint: AQE broadcasts the
    * filtered side when it fits and falls back to a shuffle join when
    * it doesn't. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val joined = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    joined.groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount"))))
        .cast(DecimalType(27, 4)).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(27,4)) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // -------------------------------------- Q5: revenue by nation/region

  /** Six-way star join: the fact shuffle is lineitem⋈orders⋈supplier
    * ⋈customer; nation/region are constant-size (25/5 rows at every
    * sf) so their broadcast hints are safe. Customer grows linearly
    * with sf — it gets NO hint, AQE picks broadcast vs shuffle from
    * runtime sizes (a forced broadcast would hit the 8 GB limit at
    * scale). Customer joins on BOTH custkey and nationkey (the TPC-H
    * Q5 "local supplier" predicate). */
  def q5NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val joined = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
    joined.groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount"))))
        .cast(DecimalType(27, 4)).cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")
  }

  val q5Oracle: String =
    """SELECT r_name, n_name,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(27,4)) AS DOUBLE) AS revenue,
      |  count(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ----------------------------------------------------- rollup report

  /** Grouping-sets coverage: ROLLUP(priority, status) with explicit
    * NULLS FIRST ordering so Spark and DuckDB agree on subtotal row
    * placement. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  val qRollupOracle: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // ------------------------------------------------- grouping sets

  /** `q_grouping_sets`: explicit GROUPING SETS — the generalization
    * cube/rollup can't express: here ((priority, status), (status), ())
    * skips the (priority)-only marginal a rollup would force and the
    * (status-within-priority ordering a cube would pad with. `gid` is
    * the engine-computed grouping bitmask (first grouping column =
    * most significant bit, the Postgres/Spark shared convention) —
    * it disambiguates a grouped-out NULL from a data NULL, and the
    * oracle recomputes it with DuckDB's GROUPING().
    *
    * 100 TB shape: one Expand node multiplies rows ×3 BEFORE the
    * partial aggregation, so the shuffle carries one row per (set,
    * group) per task — same plan family as cube/rollup, no extra
    * passes over the fact table. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderstatus")), Seq.empty[Column]),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast(DecimalType(18, 2))
          .cast("double").as("sum_price"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  val qGroupingSetsOracle: String =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
      |  count(*) AS n_orders,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
      |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // ------------------------------------------------- windowed top-N

  /** Top-3 orders per customer by price: the canonical window top-N —
    * one shuffle on custkey, rank inside the partition, no global sort
    * of the fact table. */
  def qWindowTopn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast(IntegerType).as("rn"))
      .orderBy("o_custkey", "rn")
  }

  val qWindowTopnOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // -------------------------------------------------- distinct agg

  /** Distinct aggregation: count(distinct) forces the two-phase
    * expand/agg plan; min/max are exact on the raw doubles. */
  def qAggDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("o_orderpriority")

  val qAggDistinctOracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_custs,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------- Q17: correlated subquery

  /** TPC-H Q17 shape (small-quantity-order revenue): revenue from
    * lineitems of one brand whose quantity falls under 20% of that
    * PART's average quantity — written as a correlated scalar
    * subquery through `spark.sql` deliberately: this query exists to
    * exercise Catalyst's decorrelation
    * (RewriteCorrelatedScalarSubquery), which plans the subquery as a
    * partial-aggregated per-partkey average joined back on the
    * correlation key — at 100 TB one map-side-combined agg over
    * lineitem plus one equi-join, never a per-row re-scan (the naive
    * reading of correlated SQL). The spec asserts exactly that plan:
    * an Aggregate feeding a join, zero nested-loop operators.
    *
    * Cross-engine exactness: l_quantity is integer-valued (TPC-H
    * quantities 1..50), so its double sum is EXACT under any
    * partition order / parallelism; avg = exact-sum / exact-count and
    * `0.2 * avg` are single correctly-rounded IEEE ops both engines
    * perform identically, so the `<` admission can never flicker.
    * Revenue then follows the house decimal convention (exact 2-dp
    * sums, final cast to double). The /7.0 is Q17's published
    * "yearly" scaling, kept for recognizability. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("graft_q17_lineitem")
    t(spark, dir, "part").createOrReplaceTempView("graft_q17_part")
    spark.sql(
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |         AS avg_yearly
        |FROM graft_q17_lineitem l
        |JOIN graft_q17_part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1'
        |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                      FROM graft_q17_lineitem l2
        |                      WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
  }

  val q17Oracle: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
      |         AS avg_yearly
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#1'
      |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |                      FROM lineitem l2
      |                      WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  // ------------------------------- Q13: outer-join count distribution

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    * join customer←orders with a predicate ON THE JOIN (orders may
    * drop, customers may not — zero-order customers must survive into
    * the c_count=0 bucket; the fixture lacks o_comment, so the
    * published NOT-LIKE filter becomes an o_orderpriority exclusion
    * with the same plan shape), then the double aggregation: orders
    * per customer, customers per order-count.
    *
    * Scale shape: the join shuffles both sides on custkey, and the
    * FIRST aggregate groups on the same key — Catalyst reuses the
    * join's partitioning, so per-customer counting adds no exchange;
    * only the tiny (c_count, custdist) distribution (≤ max orders per
    * customer rows) shuffles again. count(o_orderkey) — not
    * count(*) — is what puts unmatched customers at 0. Output order
    * (custdist desc, c_count desc) is a total order: (c_count,
    * custdist) pairs are unique by construction. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey") &&
        o("o_orderpriority") =!= lit("1-URGENT"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Oracle: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |      FROM customer c LEFT OUTER JOIN orders o
      |        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |      GROUP BY c.c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ----------------------------------- snapshot checksum (validation)

  /** `table_checksum`: an ORDER-INDEPENDENT fingerprint of a table
    * snapshot — the cross-system validation primitive a 100 TB
    * migration needs (compare a copied/re-encoded snapshot to its
    * source WITHOUT moving either: ship one row, not the data). Each
    * row renders to a canonical string (ints, an exact bigint cast of
    * the integer-valued quantity, the date — no float formatting
    * anywhere), hashes through md5 (shared verbatim by both engines),
    * and the first 15 hex digits become a < 2^60 integer via
    * positional arithmetic; the table fingerprint is bit_xor over
    * those values plus the row count. XOR is commutative/associative
    * with no overflow, so the aggregate partial-combines map-side and
    * is independent of partitioning, parallelism, and row order —
    * and both engines compute the identical value, which is the whole
    * point: the oracle here IS a second engine validating the
    * snapshot. (Count rides along because XOR alone cannot see
    * duplicate-pair insertions.)
    *
    * A second order-independent aggregate rides along (r19):
    * `checksum_sum` = Σv mod 2⁶⁰, decimal-exact (Σ over 10¹⁰ rows of
    * < 2⁶⁰ values stays < 10²⁸ ≪ 10³⁸, so the decimal sum never
    * overflows; the mod is taken once at the end) and replayed
    * term-for-term by DuckDB. It closes XOR+count's EVEN-MULTIPLICITY
    * blind spot: replacing two copies of row X with two copies of row
    * Y leaves n_rows and the XOR unchanged, but moves the sum by
    * 2·(vY−vX) mod 2⁶⁰. A difference must now hold row count, XOR,
    * AND wrapping sum simultaneously — a vastly smaller collision
    * class than either invariant alone. */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val canon = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("bigint"),
      col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate").cast("date").cast("string"))
    val h = md5(canon)
    // hex→int via one codegen'd conv (the 15-term positional-sum
    // formulation allocated 15 substring UTF8Strings per row — 2.5 s
    // for 600k rows; conv is one pass). 15 hex digits < 2^60, so the
    // unsigned conv result fits a signed long exactly — identical to
    // the oracle's positional arithmetic.
    val v = conv(substring(h, 1, 15), 16, 10).cast("long")
    tFanned(spark, dir, "lineitem", "l_orderkey")
      .select(v.as("v"))
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("v")).as("checksum"),
        pmod(sum(col("v").cast(DecimalType(38, 0))), lit(1L << 60))
          .cast("long").as("checksum_sum"))
  }

  val tableChecksumOracle: String = {
    val terms = (1 to 15).map(i =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (15 - i))}")
      .mkString(" + ")
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       bit_xor($terms) AS checksum,
       |       CAST(sum(CAST(($terms) AS DECIMAL(38,0))) % ${1L << 60} AS BIGINT)
       |         AS checksum_sum
       |FROM (SELECT md5(concat_ws('|', l_orderkey, l_linenumber,
       |               CAST(l_quantity AS BIGINT), l_returnflag, l_linestatus,
       |               CAST(CAST(l_shipdate AS DATE) AS VARCHAR))) AS h
       |      FROM lineitem)""".stripMargin
  }

  /** `table_checksum_groups`: [[tableChecksum]] sliced per ship-month —
    * the drill-down that makes the one-row fingerprint actionable at
    * 100 TB: when two snapshots' totals diverge, the per-group table
    * (bounded: one row per month) localizes WHICH slice diverged
    * without re-shipping either side. Same hash, same XOR algebra —
    * the groups' checksums XOR together with the counts to the global
    * row, so the two operators cross-check. */
  def tableChecksumGroups(spark: SparkSession, dir: String): DataFrame = {
    val canon = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("bigint"),
      col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate").cast("date").cast("string"))
    val v = conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    tFanned(spark, dir, "lineitem", "l_orderkey")
      .select(trunc(col("l_shipdate").cast("date"), "mm").as("ship_month"), v.as("v"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("v")).as("checksum"),
        pmod(sum(col("v").cast(DecimalType(38, 0))), lit(1L << 60))
          .cast("long").as("checksum_sum"))
      .orderBy("ship_month")
  }

  val tableChecksumGroupsOracle: String = {
    val terms = (1 to 15).map(i =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (15 - i))}")
      .mkString(" + ")
    s"""SELECT ship_month, CAST(count(*) AS BIGINT) AS n_rows,
       |       bit_xor($terms) AS checksum,
       |       CAST(sum(CAST(($terms) AS DECIMAL(38,0))) % ${1L << 60} AS BIGINT)
       |         AS checksum_sum
       |FROM (SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS ship_month,
       |             md5(concat_ws('|', l_orderkey, l_linenumber,
       |               CAST(l_quantity AS BIGINT), l_returnflag, l_linestatus,
       |               CAST(CAST(l_shipdate AS DATE) AS VARCHAR))) AS h
       |      FROM lineitem)
       |GROUP BY ship_month ORDER BY ship_month""".stripMargin
  }

  // ------------------------- Q22: anti-join + global scalar threshold

  /** TPC-H Q22 shape (idle high-balance customers): customers whose
    * balance exceeds the positive-balance average AND who have no
    * high-value order, counted per nation — a global scalar-subquery
    * threshold plus a conditioned NOT EXISTS (plans as a broadcast/
    * shuffled ANTI join with the order-value predicate pushed below
    * it, never a per-row re-scan).
    *
    * Cross-engine exactness: the published form compares against
    * `avg(...)` — a double division whose last ulp is partition-order
    * dependent. Rewritten as `balance · count > sum` in DECIMAL: every
    * quantity exact, the comparison can never flicker (the q17
    * integer-average argument, done in decimal because balances are
    * not integers). */
  def q22IdleBalance(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("graft_q22_customer")
    t(spark, dir, "orders").createOrReplaceTempView("graft_q22_orders")
    spark.sql(
      """SELECT c_nationkey, count(*) AS numcust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM graft_q22_customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2))
        |        * (SELECT count(*) FROM graft_q22_customer WHERE c_acctbal > 0.0)
        |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |         FROM graft_q22_customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q22_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 480000.0)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  val q22Oracle: String =
    """SELECT c_nationkey, count(*) AS numcust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,2))
      |        * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
      |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
      |         FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_totalprice > 480000.0)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing" -> (q1Pricing _),
    "q3_top_orders" -> (q3TopOrders _),
    "q5_nation_volume" -> (q5NationVolume _),
    "q_rollup" -> (qRollup _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_window_topn" -> (qWindowTopn _),
    "q_agg_distinct" -> (qAggDistinct _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q13_custdist" -> (q13CustDist _),
    "table_checksum" -> (tableChecksum _),
    "table_checksum_groups" -> (tableChecksumGroups _),
    "q22_idle_balance" -> (q22IdleBalance _),
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing" -> q1Oracle,
    "q3_top_orders" -> q3Oracle,
    "q5_nation_volume" -> q5Oracle,
    "q_rollup" -> qRollupOracle,
    "q_grouping_sets" -> qGroupingSetsOracle,
    "q_window_topn" -> qWindowTopnOracle,
    "q_agg_distinct" -> qAggDistinctOracle,
    "q17_small_qty_revenue" -> q17Oracle,
    "q13_custdist" -> q13Oracle,
    "table_checksum" -> tableChecksumOracle,
    "table_checksum_groups" -> tableChecksumGroupsOracle,
    "q22_idle_balance" -> q22Oracle,
  )
}
