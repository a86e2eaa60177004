package graft

import java.nio.file.Files
import java.time.Instant

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}

/** Pins the schema memo behind `Tables.table`: one schema inference per
  * file version and conf key, reads identical to a plain
  * `spark.read.parquet`, one file listing per read (stale or not), and the
  * row-group decision of `repartitionIfNarrow` following a rewrite.
  */
class TablesSchemaMemoSpec extends JobCounting {

  /** A fresh table directory: `(sfDir, name)` for `Tables.table` and the
    * table's own path. */
  private def tmpTable(name: String): (String, String, String) = {
    val dir = Files.createTempDirectory("graft-memo").toString
    (dir, name, s"$dir/$name.parquet")
  }

  /** Leaf files `body` lists, as Spark's file-index metrics count them. */
  private def filesListed(body: => Unit): Long = {
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    body
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before
  }

  test("building sql_q6 a second time launches no Spark job") {
    val q6 = SparkEntry.queries("sql_q6")
    q6(spark, sf0001)
    assert(jobsOf(q6(spark, sf0001)) === 0)
  }

  test("a table overwritten at the same path is read with its new schema") {
    val (dir, t, path) = tmpTable("t")
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables.table(spark, dir, t).columns.toSeq === Seq("a"))
    assert(jobsOf(Tables.table(spark, dir, t)) === 0)
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode("overwrite").parquet(path)
    val df = Tables.table(spark, dir, t)
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.orderBy("a").collect().map(_.getLong(1)).toSeq === Seq(0L, 2L, 4L))
  }

  test("a stale read lists the files once, as a plain read does") {
    val (dir, t, path) = tmpTable("t")
    spark.range(0, 4, 1, 2).toDF("a").write.parquet(path)
    Tables.table(spark, dir, t)
    spark.range(0, 6, 1, 3).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(path)
    val plain = filesListed(spark.read.parquet(path))
    assert(plain === 3)
    var df: DataFrame = null
    assert(filesListed { df = Tables.table(spark, dir, t) } === plain)
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(jobsOf(Tables.table(spark, dir, t)) === 0, "the re-inferred schema is memoized")
  }

  test("a stale partitioned table reads its new partition types as a plain read does") {
    val (dir, t, path) = tmpTable("p")
    // string partition values first: the memoized read of the rewrite
    // then succeeds, with every new value typed as the old string type
    spark.range(4).selectExpr("id", "IF(id % 2 = 0, 'x', 'y') AS k")
      .write.partitionBy("k").parquet(path)
    assert(Tables.table(spark, dir, t).schema("k").dataType === StringType)
    spark.range(4).selectExpr("id", "CAST(id % 2 AS INT) AS k")
      .write.mode("overwrite").partitionBy("k").parquet(path)
    val plain = spark.read.parquet(path)
    val memo = Tables.table(spark, dir, t)
    assert(memo.schema === plain.schema)
    assert(memo.schema("k").dataType === IntegerType)
    assert(memo.orderBy("id").collect().toSeq === plain.orderBy("id").collect().toSeq)
  }

  test("Tables.events yields the same TimestampType ts after nanosAsLong flips") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // a TIMESTAMP(NANOS) vintage, which only the legacy conf can read
    val sfDir = Files.createTempDirectory("graft-memo-ev").toString
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1700000000123456000L, 1700000100000001000L)
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(new Path(s"$sfDir/events.parquet"))
      .withType(schema).withConf(conf).build()
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()
    val expected = nanos.map(ns => Instant.ofEpochSecond(0, ns))
    def eventTimes(): Seq[Instant] = {
      val ev = Tables.events(spark, sfDir)
      assert(ev.schema("ts").dataType === TimestampType)
      ev.orderBy("event_id").collect().map(_.getTimestamp(1).toInstant).toSeq
    }
    val prev = spark.conf.getOption(key)
    try {
      assert(eventTimes() === expected)
      assert(Tables.table(spark, sfDir, "events").schema("ts").dataType === LongType)
      // the memoized LongType schema must not leak into a read under the
      // other setting: that read behaves as a plain one does
      spark.conf.set(key, "false")
      val plain = Try(spark.read.parquet(s"$sfDir/events.parquet").schema)
      val memo = Try(Tables.table(spark, sfDir, "events").schema)
      (memo, plain) match {
        case (Success(m), Success(p)) => assert(m === p)
        case (Failure(m), Failure(p)) => assert(m.getClass === p.getClass)
        case _ => fail(s"memoized read: $memo, plain read: $plain")
      }
      assert(eventTimes() === expected)
      // the corpus events, read once under each setting
      spark.conf.set(key, "false")
      Tables.table(spark, sf0001, "events")
      assert(Tables.events(spark, sf0001).schema("ts").dataType === TimestampType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("every corpus table reads the same schema and rows as a plain read") {
    val names = new java.io.File(sf0001).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(names.contains("lineitem") && names.contains("events"))
    names.foreach { t =>
      Tables.table(spark, sf0001, t)
      val memo = Tables.table(spark, sf0001, t)
      val plain = spark.read.parquet(s"$sf0001/$t.parquet")
      assert(memo.schema === plain.schema, t)
      assert(memo.collect().toSeq === plain.collect().toSeq, t)
    }
  }

  test("a partitioned read keeps its column order, partition types and filters") {
    val (dir, t, path) = tmpTable("part")
    spark.range(20).selectExpr("id", "CAST(200001 + id % 4 AS INT) AS part_ym")
      .write.partitionBy("part_ym").parquet(path)
    val plain = spark.read.parquet(path)
    def read(): DataFrame = Tables.table(spark, dir, t)
      .filter(col("part_ym") >= 200002 && col("part_ym") <= 200003)
    read()
    val memo = read()
    assert(memo.schema === plain.schema)
    val filters = memo.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.partitionFilters
    }
    assert(filters.flatten.map(_.references.map(_.name)).flatten.toSet === Set("part_ym"))
    assert(memo.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 20L).filter(i => i % 4 == 1 || i % 4 == 2))
  }

  test("a missing path still throws PATH_NOT_FOUND, memoized or not") {
    val (absentDir, absent, _) = tmpTable("absent")
    val e = intercept[AnalysisException](Tables.table(spark, absentDir, absent))
    assert(e.getCondition === "PATH_NOT_FOUND")
    val (dir, t, path) = tmpTable("gone")
    spark.range(2).write.parquet(path)
    Tables.table(spark, dir, t)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val e2 = intercept[AnalysisException](Tables.table(spark, dir, t))
    assert(e2.getCondition === "PATH_NOT_FOUND")
  }

  test("repartitionIfNarrow follows a table rewritten at the same path") {
    val (dir, t, path) = tmpTable("rg")
    def widened(df: DataFrame): Boolean =
      Tables.repartitionIfNarrow(df).queryExecution.analyzed
        .collect { case r: Repartition => r }.nonEmpty
    val rows = spark.range(0, 4000, 1, 1).selectExpr("id", "repeat(CAST(id AS STRING), 8) AS s")
    rows.write.parquet(path)
    assert(widened(Tables.table(spark, dir, t)), "one row group is narrow")
    rows.write.mode("overwrite").option("parquet.block.size", 4096).parquet(path)
    assert(!widened(Tables.table(spark, dir, t)), "many row groups are wide")
  }

  test("corpus tables under src/main are read only through Tables.table") {
    val needle = "read" + ".parquet("
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val sites = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Tables.scala")
      .flatMap { f =>
        scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toList)
          .filter(l => l.contains(needle) && l.contains("$sfDir/"))
          .map(l => s"${f.getName}: ${l.trim}")
      }
    assert(sites.isEmpty)
  }
}
