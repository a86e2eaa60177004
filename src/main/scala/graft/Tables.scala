package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap
import scala.util.Try

/** Loaders for the driver's test corpus (TESTDATA.md / FIXTURES.md).
  *
  * One parquet file per table under `sfDir`. All query entry points take
  * `(SparkSession, sfDir)` so the same code runs at any scale factor — and,
  * at production scale, against any S3/HDFS prefix holding the same layout.
  * Scans stay declarative so Catalyst pushes filters and prunes columns
  * into the parquet reader.
  *
  * Corpus tables ([[table]]) are read through [[parquet]], which infers a
  * table's schema once per file version: a plain `spark.read.parquet`
  * runs one Spark job per call just to read a footer
  * (`mergeSchemasInParallel`), and a SQL query over the corpus views
  * reads seven unchanged tables. Other parquet reads (fresh per-run
  * paths, per-version dirs, outputs read right after they are written)
  * would never hit, so they stay plain. The memo holds one entry per
  * qualified path, keyed on
  *   - the STAMP: (path, length, modification time) of every leaf file,
  *     taken from the FileIndex listing the read itself already did (no
  *     second LIST — at 100 TB that costs more than the job it saves);
  *   - the CONF KEY: every set session conf whose key contains `parquet`,
  *     plus `spark.sql.caseSensitive` (e.g. [[events]] flips
  *     `spark.sql.legacy.parquet.nanosAsLong`, which changes `ts`'s type).
  * A hit reads with the memoized schema and launches no job. A changed
  * stamp re-infers from the same listing and replaces the entry (a
  * partitioned table, and a changed conf key, take a plain read).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Registers the seven TPC-H corpus tables as temp views of their names. */
  def registerCorpusViews(spark: SparkSession, sfDir: String): Unit =
    Seq("customer", "orders", "lineitem", "nation", "region", "supplier", "part")
      .foreach { t => table(spark, sfDir, t).createOrReplaceTempView(t) }

  /** (path, length, modification time) of every leaf file of a read. */
  private type Stamp = Set[(String, Long, Long)]

  /** The file relations `df` reads, each with its FileIndex — the listing
    * the read already did, never a new one. */
  private def fileRelations(df: DataFrame): Seq[(HadoopFsRelation, PartitioningAwareFileIndex)] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case r @ HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
          Seq(r -> index)
        case _ => Nil
      }
    }.flatten

  private def stampOf(files: Seq[FileStatus]): Stamp =
    files.iterator.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet

  private def confKey(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter(_._1.contains("parquet")) +
      ("spark.sql.caseSensitive" -> spark.conf.get("spark.sql.caseSensitive"))

  private val schemaMemo =
    TrieMap.empty[String, (Stamp, Map[String, String], StructType)]

  /** `spark.read.parquet(path)` with the schema inferred once per file
    * version and conf key (see the object doc). */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val key = p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
    val conf = confKey(spark)
    def remember(df: DataFrame, files: Seq[FileStatus]): DataFrame = {
      if (files.nonEmpty) schemaMemo.put(key, (stampOf(files), conf, df.schema))
      df
    }
    def infer(): DataFrame = {
      val df = spark.read.parquet(path)
      remember(df, fileRelations(df).flatMap(_._2.allFiles()))
    }
    schemaMemo.get(key) match {
      case Some((stamp, `conf`, schema)) =>
        // a failing memoized read falls back to the plain one, which
        // raises the plain read's own error (a missing path, say)
        Try(spark.read.schema(schema).parquet(path)).toOption
          .map(df => df -> fileRelations(df)) match {
          case Some((df, Seq((rel, index)))) =>
            val files = index.allFiles()
            if (stampOf(files) == stamp) df
            // Stale: the files changed. Re-infer over the listing this
            // read already did. Its partition values were typed by the
            // old schema, so a partitioned table takes the plain read.
            else if (index.partitionSchema.isEmpty)
              PlanBridge.reinferred(spark, rel, files)
                .map(remember(_, files)).getOrElse(infer())
            else infer()
          case _ => infer()
        }
      case _ => infer()
    }
  }

  /** Parquet row-group count of the files `df` reads (summed), memoized
    * per set of root paths with the stamp it was counted at, so a table
    * rewritten at the same path is counted again — metadata-scale driver
    * work (one footer read per file, like every table format's planning
    * pass). Parquet scans cannot split below a row group, so this IS the
    * scan's maximum parallelism. */
  private val rowGroupMemo = TrieMap.empty[Seq[String], (Stamp, Long)]

  private def rowGroupsOf(df: DataFrame): Long = {
    val indexes = fileRelations(df).map(_._2)
    val files = indexes.flatMap(_.allFiles())
    val key = indexes.flatMap(_.rootPaths.map(_.toString)).sorted
    val stamp = stampOf(files)
    if (files.isEmpty) Long.MaxValue
    else rowGroupMemo.get(key) match {
      case Some((`stamp`, n)) => n
      case _ =>
        val n = try {
          val conf = df.sparkSession.sessionState.newHadoopConf()
          files.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRowGroups.size.toLong finally r.close()
          }.sum
        } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
        rowGroupMemo.put(key, (stamp, n))
        n
    }
  }

  /** UNSPLITTABLE-INPUT guard (optimization guide §2.5: "one huge
    * unsplittable file … otherwise repartition immediately after the
    * read"): a parquet scan parallelizes at most to its row-group count,
    * so per-row-expensive map work (regex tokenization, shingling,
    * decimal GD passes) over a few-row-group table runs on a few cores
    * no matter the cluster. When the table's row groups cover less than
    * half the session's core budget, repartition right after the read —
    * the shuffle moves the narrow projected input ONCE so every
    * downstream pass runs wide; when the scan is naturally wide (any
    * production-scale table: row groups ≫ cores) this is an exact no-op
    * and the plan is untouched, which is what makes it scale-adaptive
    * rather than a local-mode tune. The width derives from
    * `defaultParallelism` (cluster size), never a constant. The row groups
    * counted are those of the parquet files `df` reads. */
  private[graft] def repartitionIfNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (rowGroupsOf(df) < math.max(cores / 2, 2)) df.repartition(cores)
    else df
  }

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  /** `events.ts` has shipped as two parquet vintages across driver
    * regenerations, so the loader adapts to whichever is on disk and
    * normalizes both to the SAME TimestampType instants (UTC wall clock —
    * the values every oracle was pinned against):
    *   - TIMESTAMP(NANOS): Spark's vectorized reader won't produce it
    *     directly — read as a nanosecond long (legacy conf) and convert via
    *     integer division (ns-since-epoch ~1.7e18 exceeds double's 2^53
    *     exact-integer range, so `div`, not `/`; micros-truncation is
    *     lossless — the generator stamps microsecond values).
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ; cast to TimestampType under a pinned UTC session
    *     timezone, which maps the naive wall clock to the identical
    *     instant. The session tz is set HERE because the cast's meaning
    *     depends on it — mains that don't set UTC themselves (Bench,
    *     Scratch) must not silently shift event times with the host tz.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // PUBLIC-API CONTRACT: events() PINS the session timezone to UTC for
    // the whole session (the NTZ→instant cast's meaning depends on it,
    // and downstream timestamp rendering/casts in OTHER queries follow).
    // Overriding a deliberately different caller setting is surprising —
    // so it is loud, never silent.
    val prev = spark.conf.get("spark.sql.session.timeZone")
    if (prev != "UTC")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft.Tables.events pins spark.sql.session.timeZone=UTC for this session " +
          s"(was '$prev'): event-time semantics are defined in UTC; set UTC at " +
          "session build to silence this")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
