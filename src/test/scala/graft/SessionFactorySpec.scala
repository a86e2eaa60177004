package graft

import org.apache.spark.sql.graft.GraftOptimizations

/** Pins the single session factory: one builder site, the measured config
  * on the shared test session, each engine rule registered once, and the
  * `graft_*` SQL surface callable.
  */
class SessionFactorySpec extends SparkSpec {

  test("Graft.scala holds the only session builder under src/") {
    val needle = "SparkSession" + ".builder("
    val root = new java.io.File("src")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val sites = files(root).filter(_.getName.endsWith(".scala")).filter { f =>
      scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.mkString)
        .contains(needle)
    }.map(_.getName)
    assert(sites === Seq("Graft.scala"))
  }

  test("the shared test session carries the measured config") {
    assert(spark.sparkContext.master === "local[4]")
    val expected = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.ui.enabled" -> "false")
    expected.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  test("each engine rule appears exactly once across the optimizer batches") {
    // `batches` and `Batch.rules` are protected in Scala, public in bytecode
    val optimizer = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.optimizer
    val batches = optimizer.getClass.getMethod("batches").invoke(optimizer)
      .asInstanceOf[Seq[AnyRef]]
    val rules = batches.flatMap(b =>
      b.getClass.getMethod("rules").invoke(b).asInstanceOf[Seq[AnyRef]])
    GraftOptimizations.rules.foreach { r =>
      assert(rules.count(_ eq r) === 1, r.ruleName)
    }
  }

  test("the graft_* SQL functions resolve on the factory session") {
    val r = spark.sql(
      "SELECT graft_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS c")
      .collect()
    assert(r.head.getInt(0) === 2)
  }
}
