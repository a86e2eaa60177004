package graft.queries

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The rest of the TPC-H suite (Q1,2,6,8,9,10,11,13,15,16,17,19,20,22),
  * adapted to the driver corpus's slim star schema — together with
  * `SqlSurface` (Q3,4,5,7,12,14,18,21) this covers all 22 query shapes, so a
  * SQL user of the reference pipeline has the complete analytical surface.
  *
  * Schema adaptations (the corpus has no partsupp / l_shipmode /
  * l_commitdate / c_phone):
  *  - Q2's supply cost comes from a derived `offers` table (per
  *    (part,supplier) minimum unit price observed in lineitem).
  *  - Q9's supply cost is the deterministic synthetic `p_retailprice * 0.5`.
  *  - Q11's inventory value is shipped `l_extendedprice` from one nation's
  *    suppliers.
  *  - Q13 filters order priority instead of comment text.
  *  - Q16's complaint-supplier exclusion keys on negative account balance.
  *  - Q20's "availability > half of shipped" gate becomes a shipped-quantity
  *    threshold per (supplier, part).
  *  - Q22's phone country code becomes `c_nationkey % 7`.
  *
  * Cross-engine exactness: every money sum rides an element-wise cast onto
  * the decimal grid the exact product lies on (prices 2dp, ×(1−disc) 4dp,
  * ×(1+tax) 6dp) — DECIMAL(30,6) in Spark, DECIMAL(19,6) (hugeint-backed)
  * in DuckDB — so sums are order-independent at any scale and the final
  * DOUBLE cast is bit-identical. Averages divide exact sums and round.
  * Q22's `c_acctbal > avg(...)` threshold is rewritten as the fully-exact
  * `bal·count > sum` decimal comparison — a float average differs in its
  * last bits between engines' summation orders, a decimal product can't.
  * Scale notes: Q1/Q6 are single-scan partial aggs (map-side combine, no
  * join); Q17's correlated scalar subquery decorrelates into one
  * re-aggregated join per Catalyst's RewriteCorrelatedScalarSubquery — no
  * per-row subquery at any scale; Q2 and Q11 are written in the
  * single-scan window form (per-part MIN / grand-total SUM OVER) instead
  * of the textbook correlated/scalar-subquery form, which plans the same
  * expensive join TWICE — the window form halved their measured cost;
  * Q15/Q22's uncorrelated scalars are one-row broadcasts; dimension joins
  * (part/supplier/nation/region) broadcast under the 10 MB default at
  * every SF.
  */
object TpchSql extends QueryModule {

  private def run(sql: String)(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerCorpusViews(spark, sfDir)
    spark.sql(sql)
  }

  /** Q1 pricing summary: full official column set over one lineitem scan. */
  private val q1 =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
      |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
      |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Q2 min-cost supplier: the corpus has no partsupp, so the offer book is
    * derived — per (part, supplier) minimum unit price seen in lineitem.
    * The per-part MIN is a window over one scan (not the textbook
    * correlated subquery, which would build the Europe offer book twice)
    * and compares raw doubles: both engines compute the same IEEE division
    * on the same rows, so the minima are bit-identical. The printed cost
    * rounds on the decimal grid: Spark and DuckDB round a double's
    * half-cent ties differently (2222.74 / 4 = 555.685 → Spark 555.69,
    * DuckDB 555.68), while both round the 6dp decimal half-up.
    */
  private[queries] val q2 =
    """WITH offers AS (
      |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey
      |), eu AS (
      |  SELECT l_partkey, unit_cost, s_acctbal, s_name, n_name,
      |    MIN(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
      |  FROM offers
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'
      |)
      |SELECT ROUND(s_acctbal, 2) AS s_bal, s_name, n_name, p_partkey,
      |  CAST(ROUND(CAST(unit_cost AS DECIMAL(30,6)), 2) AS DOUBLE) AS cost
      |FROM part JOIN eu ON p_partkey = l_partkey
      |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
      |  AND unit_cost = min_cost
      |ORDER BY s_bal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** Q6 forecasting revenue change: single-scan conditional sum. */
  private val q6 =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.06
      |  AND l_quantity < 24""".stripMargin

  /** Q8 national market share: NATION_9's share of ASIA's LARGE-part market. */
  private val q8 =
    """SELECT o_year,
      |  ROUND(
      |    CAST(SUM(CASE WHEN nation = 'NATION_9' THEN CAST(volume AS DECIMAL(30,6))
      |                  ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE), 6) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume,
      |    n2.n_name AS nation
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'LARGE'
      |    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      |) allnations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** Q9 product-type profit: supply cost is the synthetic p_retailprice/2
    * (deterministic, so both engines price identically). The amount stays a
    * plain double expression — identical parse tree, identical IEEE ops —
    * and lands exactly on the 6dp grid at the decimal cast.
    */
  private val q9 =
    """SELECT nation, o_year,
      |  CAST(SUM(CAST(amount AS DECIMAL(30,6))) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |    l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.5 * l_quantity AS amount
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%red%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** Q10 returned-item reporting: top 20 customers by lost revenue. */
  private val q10 =
    """SELECT c_custkey, c_name,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE), 4) AS revenue,
      |  ROUND(c_acctbal, 2) AS bal, n_name
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Q11 important stock: parts whose shipped value from ASIA's suppliers
    * exceeds 2× the mean per-part value. Scale-invariant where the official
    * fixed fraction is not (TPC-H divides its 0.01% by SF for the same
    * reason — a fixed share empties as the part count grows; this corpus
    * proved it: 0.1% matched 52 parts at sf0.01 and zero at sf0.1). The
    * total comes from a scalar-subquery cross join over the same grouped
    * CTE — NOT `SUM(...) OVER ()`, which would sort the whole per-part
    * table (O(parts), corpus-shaped) through ONE task; Spark's
    * ReuseExchange serves both references of `v` from a single scan of the
    * join, and the 1-row total broadcasts. The threshold compares in exact
    * integer MICROS (the 6dp sums are exact decimal-grid multiples, so
    * ×10⁶ is an exact BIGINT): s·n > 2·total avoids both float drift and
    * decimal-width overflow. Headroom: |products| < 2e18 here; a 100 TB
    * corpus upgrades the comparison to DECIMAL(38,0).
    */
  private val q11 =
    """WITH v AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS s
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |  GROUP BY l_partkey
      |), t AS (
      |  SELECT CAST(SUM(CAST(s * 1000000 AS BIGINT)) AS BIGINT) AS tot,
      |    COUNT(*) AS cnt
      |  FROM v
      |)
      |SELECT l_partkey, CAST(s AS DOUBLE) AS value
      |FROM v CROSS JOIN t
      |WHERE CAST(s * 1000000 AS BIGINT) * cnt > 2 * tot
      |ORDER BY value DESC, l_partkey""".stripMargin

  /** Q13 customer order-count distribution: left join preserving
    * zero-order customers, priority filter in the join condition.
    */
  private val q13 =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey
      |) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q15 top supplier: revenue is rounded onto its exact 4dp grid BEFORE the
    * MAX comparison, so the winner set is engine-independent.
    */
  private val q15 =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE), 4) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey
      |)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Q16 parts/supplier relationship: distinct suppliers per part group,
    * excluding one brand and negative-balance ("complaint") suppliers.
    */
  private val q16 =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q17 small-quantity-order revenue: lines under 20% of their part's
    * average quantity. Quantities are integral doubles, so the correlated
    * AVG is exact and order-independent in both engines.
    */
  private val q17 =
    """SELECT
      |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
      |  COUNT(*) AS n_small
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Q19 discounted revenue: the classic disjunctive brand/size/quantity
    * predicate — one scan, no join explosion, OR pushed into the part join.
    */
  private val q19 =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** Q20 potential part promotion: suppliers in one region who shipped >50
    * units of some PROMO part in 1996 (the shipped-volume stand-in for the
    * availqty gate, keeping the nested IN-subquery shape; region-scoped for
    * the same smoke-corpus reason as Q11).
    */
  private val q20 =
    """SELECT s_name, ROUND(s_acctbal, 2) AS s_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND s_suppkey IN (
      |    SELECT l_suppkey
      |    FROM lineitem JOIN part ON p_partkey = l_partkey
      |    WHERE p_type = 'PROMO'
      |      AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING SUM(l_quantity) > 50.0)
      |ORDER BY s_name""".stripMargin

  /** Q22 global sales opportunity: rich inactive customers per country code
    * (nationkey mod 7 stands in for the phone prefix; "inactive" = no order
    * since 2000 — every customer has SOME order in this corpus). The
    * average-balance threshold is the exact cross-multiplied decimal form
    * bal·n > sum — see the object Scaladoc.
    */
  private val q22 =
    """SELECT cntrycode, COUNT(*) AS numcust,
      |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(19,6))) AS DOUBLE), 2) AS totacctbal
      |FROM (
      |  SELECT CAST(c_nationkey % 7 AS INT) AS cntrycode, c_acctbal
      |  FROM customer
      |  WHERE c_nationkey % 7 IN (0, 1, 2, 4)
      |    AND CAST(c_acctbal AS DECIMAL(19,6)) * (SELECT CAST(COUNT(*) AS DECIMAL(10,0)) FROM customer WHERE c_acctbal > 0.0)
      |        > (SELECT SUM(CAST(c_acctbal AS DECIMAL(19,6))) FROM customer WHERE c_acctbal > 0.0)
      |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |) custsale
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin

  /** DuckDB spellings: identical except (a) money elements cast to
    * DECIMAL(19,6) — hugeint-backed, same 6dp grid, since DuckDB's
    * DECIMAL(30,6) products overflow int64 storage; (b) COUNT already
    * BIGINT in both; (c) year() wrapped in CAST(... AS INT) both sides.
    */
  private def duck(sql: String): String =
    sql.replace("DECIMAL(30,6)", "DECIMAL(19,6)")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_q1"  -> run(q1) _,
    "sql_q2"  -> run(q2) _,
    "sql_q6"  -> run(q6) _,
    "sql_q8"  -> run(q8) _,
    "sql_q9"  -> run(q9) _,
    "sql_q10" -> run(q10) _,
    "sql_q11" -> run(q11) _,
    "sql_q13" -> run(q13) _,
    "sql_q15" -> run(q15) _,
    "sql_q16" -> run(q16) _,
    "sql_q17" -> run(q17) _,
    "sql_q19" -> run(q19) _,
    "sql_q20" -> run(q20) _,
    "sql_q22" -> run(q22) _,
  )

  override def oracles: Map[String, String] = Map(
    "sql_q1"  -> duck(q1),
    "sql_q2"  -> duck(q2),
    "sql_q6"  -> duck(q6),
    "sql_q8"  -> duck(q8),
    "sql_q9"  -> duck(q9),
    "sql_q10" -> duck(q10),
    "sql_q11" -> duck(q11),
    "sql_q13" -> duck(q13),
    "sql_q15" -> duck(q15),
    "sql_q16" -> duck(q16),
    "sql_q17" -> duck(q17),
    "sql_q19" -> duck(q19),
    "sql_q20" -> duck(q20),
    "sql_q22" -> duck(q22),
  )
}
