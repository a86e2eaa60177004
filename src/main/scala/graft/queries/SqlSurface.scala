package graft.queries

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `spark.sql(...)` surface: the same engine through SQL text instead of
  * the DataFrame API — register the corpus as temp views, run TPC-H-shaped
  * analytical SQL, get the identical Catalyst plan. Demonstrates that a user
  * of the reference could drive this engine from plain SQL.
  *
  * The oracle strings are intentionally near-identical to the Spark SQL —
  * both are ANSI; the only divergences are engine-typing casts.
  */
object SqlSurface extends QueryModule {

  /** TPC-H Q3 shape: unshipped-revenue top-10 per order. */
  def sqlQ3(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT l_orderkey,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** TPC-H Q5 shape: revenue by nation within a region. */
  def sqlQ5(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** Correlated-subquery shape (decorrelated by Catalyst into a join):
    * customers whose account balance exceeds their nation's average.
    */
  def sqlCorrelated(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS bal
        |FROM customer c1
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) * 1.5 FROM customer c2
        |                   WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Explicit GROUPING SETS (A4's third form, beyond rollup/cube). */
  def sqlGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total,
        |  CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** TPC-H Q18 shape (large-volume customers): uncorrelated IN-subquery
    * with HAVING, re-joined and re-aggregated. l_quantity is integral, so
    * the double sums are exact and order-independent — no rounding needed.
    */
  def sqlQ18(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT c_name, c_custkey, o_orderkey, SUM(l_quantity) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 100""".stripMargin)
  }

  /** TPC-H Q7 shape (volume shipping): bidirectional nation pair through a
    * self-joined dimension (nation appears twice under different roles) —
    * the classic alias-disambiguation case. The two nation sides both
    * broadcast; lineitem⋈orders⋈customer shuffle on their natural keys.
    * Nations 3 and 8 are the two with suppliers at every scale factor.
    */
  def sqlQ7(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT supp_nation, cust_nation, l_year,
        |  COUNT(*) AS n_ship,
        |  CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1997-12-31'
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** TPC-H Q4 shape (order-priority checking): correlated EXISTS — orders in
    * a quarter with at least one line shipped >30 days after the order date.
    * Catalyst decorrelates the EXISTS into a left-semi hash join on
    * l_orderkey; the correlated o_orderdate comparison rides along as a
    * join-side predicate, so the plan is one shuffle, no per-row subquery.
    */
  def sqlQ4(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS + NOT
    * EXISTS against the same derived table — the only supplier late on a
    * multi-supplier finished order. Lateness (shipped >60 days after the
    * order date) is computed once in the CTE so both subqueries correlate
    * purely on l_orderkey equality; Catalyst plans them as a left-semi and a
    * left-anti hash join over one scan of the CTE (the corpus has no
    * commit/receipt dates, so o_orderdate anchors the lateness clock).
    */
  def sqlQ21(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """WITH lateline AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lateline l1 ON s_suppkey = l1.l_suppkey
        |WHERE l1.is_late
        |  AND EXISTS (SELECT 1 FROM lateline l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lateline l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.is_late)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
  }

  /** Window function through SQL text (top-3 per group via a ranked
    * subquery — the portable spelling, since neither engine has QUALIFY).
    * No arithmetic on the sort key: o_totalprice is compared raw, ties
    * broken by key, so ranks are engine-independent.
    */
  def sqlTopkWindow(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (
        |      PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders
        |) t WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin)
  }

  /** LATERAL correlated subquery — "top-2 orders per BUILDING customer"
    * as the SQL-standard lateral join both engines support natively.
    * Catalyst decorrelates the per-row ORDER BY + LIMIT into a window
    * rank under the hood (DecorrelateInnerQuery), so the executed plan is
    * the same one-shuffle ranked join `sql_topk_window` writes by hand —
    * the point of the query is that the LATERAL surface itself works and
    * plans without a per-row re-execution at any scale.
    */
  def sqlLateral(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
  }

  /** TPC-H Q12 shape: shipping-priority counts per line status (the corpus
    * has no l_shipmode; l_linestatus takes its grouping role).
    */
  def sqlQ12(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT l_linestatus,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS high_count,
        |  SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS low_count
        |FROM orders
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)
  }

  /** TPC-H Q14 shape: promo revenue share in a window — conditional
    * aggregation over a fact-dim join; sums ride exact decimals so the
    * share is order-independent at any scale.
    */
  def sqlQ14(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))
        |    ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
        |  ROUND(100.0
        |    * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))
        |        ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE), 6) AS promo_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_q18"           -> (sqlQ18 _),
    "sql_q4"            -> (sqlQ4 _),
    "sql_q21"           -> (sqlQ21 _),
    "sql_q12"           -> (sqlQ12 _),
    "sql_q14"           -> (sqlQ14 _),
    "sql_q7"            -> (sqlQ7 _),
    "sql_topk_window"   -> (sqlTopkWindow _),
    "sql_lateral"       -> (sqlLateral _),
    "sql_q3"            -> (sqlQ3 _),
    "sql_q5"            -> (sqlQ5 _),
    "sql_correlated"    -> (sqlCorrelated _),
    "sql_grouping_sets" -> (sqlGroupingSets _),
  )

  override def oracles: Map[String, String] = Map(
    "sql_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sql_q21" ->
      """WITH lateline AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lateline l1 ON s_suppkey = l1.l_suppkey
        |WHERE l1.is_late
        |  AND EXISTS (SELECT 1 FROM lateline l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lateline l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.is_late)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "sql_q12" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM orders
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "sql_q14" ->
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(19,6))
        |    ELSE CAST(0 AS DECIMAL(19,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(19,6))) AS DOUBLE) AS total_revenue,
        |  ROUND(100.0
        |    * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(19,6))
        |        ELSE CAST(0 AS DECIMAL(19,6)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(19,6))) AS DOUBLE), 6) AS promo_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin,
    "sql_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin,
    "sql_topk_window" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (
        |      PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders
        |) t WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "sql_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  COUNT(*) AS n_ship,
        |  CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1997-12-31'
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "sql_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, SUM(l_quantity) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "sql_q3" ->
      """SELECT l_orderkey,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "sql_q5" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "sql_correlated" ->
      """SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS bal
        |FROM customer c1
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) * 1.5 FROM customer c2
        |                   WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "sql_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
  )
}
