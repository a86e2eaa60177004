package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{Alias, Round}
import org.apache.spark.sql.types.DecimalType

class TpchSqlSpec extends SparkSpec {

  test("sql_q2 rounds half-cent cost ties on the decimal grid") {
    // (extended price, quantity, printed cost). 2222.74 / 4 = 555.685 and
    // 0.29 / 2 = 0.145 are half-cent ties: ROUND of the double printed
    // 555.69 / 0.15 in Spark but 555.68 / 0.14 in DuckDB. Half-up on the
    // 6dp decimal prints the costs below in both engines.
    val rows = Seq((2222.74, 4.0, 555.69), (0.29, 2.0, 0.15), (10.0, 3.0, 3.33))
    val s = spark.newSession() // own temp views: the corpus views stay put
    import s.implicits._
    rows.zipWithIndex.map { case ((price, qty, _), i) => (i.toLong, i.toLong, qty, price) }
      .toDF("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      .createOrReplaceTempView("lineitem")
    rows.indices.map(i => (i.toLong, s"Supplier#$i", 0, (rows.size - i).toDouble))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .createOrReplaceTempView("supplier")
    Seq((0, "GERMANY", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
      .createOrReplaceTempView("nation")
    Seq((0, "EUROPE")).toDF("r_regionkey", "r_name").createOrReplaceTempView("region")
    rows.indices.map(i => (i.toLong, 15, "LARGE")).toDF("p_partkey", "p_size", "p_type")
      .createOrReplaceTempView("part")
    val q = s.sql(TpchSql.q2)
    val cost = q.collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[Double]("cost")).toMap
    assert(cost === rows.zipWithIndex.map { case ((_, _, c), i) => i.toLong -> c }.toMap)
    // Spark alone prints these cents either way; the DuckDB agreement rests
    // on the rounding being done on the decimal grid, so pin that too
    val costRounds = q.queryExecution.analyzed.flatMap(_.expressions).flatMap(_.collect {
      case a: Alias if a.name == "cost" => a.collect { case r: Round => r.child.dataType }
    }.flatten)
    assert(costRounds.nonEmpty && costRounds.forall(_.isInstanceOf[DecimalType]), costRounds)
  }
}
