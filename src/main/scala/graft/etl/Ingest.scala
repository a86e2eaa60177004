package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest path — the reference's upload entry point (SURVEY §2.1 S4-S6,
  * §3.2), Spark-shaped.
  *
  * The reference's ingest Lambda takes `{key, content, metadata?}`, coerces
  * content to bytes, merges user metadata with the routing hint, and puts
  * one S3 object (`lambda/ingest-handler.ts:36-56`); the processor later
  * re-reads that metadata with HeadObject (`lambda/handler.ts:39-46`).
  * Spark has no object-metadata side channel, so the durable form of the
  * same contract is metadata stamped as literal columns at ingest — they
  * travel with the data, survive any downstream transform, and cost nothing
  * (constant columns compress to near-zero in any columnar sink).
  *
  * The payload is one bounded body the driver already holds, so it is
  * parsed on the driver by Spark's own JSON inference and parser
  * ([[Ndjson.parseLocal]]): uploading an object and reading its metadata
  * back launch no Spark job.
  */
object Ingest {

  val MetadataPrefix = "_meta_"
  /** The reference's routing-hint metadata key (`lambda/ingest-handler.ts:22`). */
  val OutputRootHint = "pipeline-output-bucket"

  /** Parse an NDJSON payload string and stamp metadata columns. Returns the
    * frame ready to land (or to hand straight to a transform).
    */
  def fromContent(
      spark: SparkSession,
      content: String,
      metadata: Map[String, String] = Map.empty): DataFrame = {
    val parsed = Ndjson.parseLocal(spark, content.linesIterator.toSeq)
    metadata.foldLeft(parsed) { case (df, (k, v)) =>
      df.withColumn(s"$MetadataPrefix$k", lit(v))
    }
  }

  /** Land a payload under `landingDir/key` as ONE NDJSON file — the upload
    * Lambda's PutObject (one S3 object per upload). The payload is a single
    * bounded HTTP body, which the reference also buffers whole
    * (`lambda/ingest-handler.ts:36-40`), so serializing it driver-side is
    * faithful and keeps the landing zone a flat set of real files — what the
    * streaming file source consumes, with the key as the routing basename.
    * (Bulk data takes the distributed writers; this is the control-plane
    * ingest path.)
    *
    * The rendering is a projection over the parsed local relation, which
    * the optimizer folds, so `collect` launches no job. The object is
    * written to a hidden sibling (`.<name>.tmp-<uuid>`, which the file
    * source skips) and renamed into place atomically: a drain listing the
    * landing dir meanwhile sees the whole object or none of it, never a
    * prefix that its checkpoint would then mark as consumed.
    */
  def uploadSourceObject(
      spark: SparkSession,
      landingDir: String,
      key: String,
      content: String,
      metadata: Map[String, String] = Map.empty): Unit = {
    val lines = fromContent(spark, content, metadata)
      .select(to_json(struct(col("*")))).collect().map(_.getString(0))
    val path = Paths.get(landingDir, key)
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp-${UUID.randomUUID()}")
    try {
      Files.writeString(tmp, lines.mkString("\n") + "\n")
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Read back the metadata of a landed object — the HeadObject twin.
    * Parses the object on the driver, as the upload did: no Spark job. */
  def readMetadata(spark: SparkSession, landingDir: String, key: String): Map[String, String] = {
    val lines = Files.readAllLines(Paths.get(landingDir, key)).asScala.toSeq
    val df = Ndjson.parseLocal(spark, lines)
    val metaCols = df.columns.filter(_.startsWith(MetadataPrefix))
    if (metaCols.isEmpty) Map.empty
    else {
      val row = df.select(metaCols.map(col): _*).head()
      metaCols.zipWithIndex.map { case (c, i) =>
        c.stripPrefix(MetadataPrefix) -> row.getString(i)
      }.toMap
    }
  }
}
