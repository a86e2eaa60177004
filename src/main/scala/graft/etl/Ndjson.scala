package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.graft.JsonBridge
import org.apache.spark.sql.types.StructType

/** NDJSON source/sink — the reference's storage format.
  *
  * Reference behavior being reproduced (cited from pedrohw12/etl-pipeline-aws):
  *  - one JSON object per non-blank line, blank lines skipped
  *    (`glue/job.py:25`) — Spark's JSON source skips blank lines natively;
  *  - dynamic, per-record schema (`{**record}` spread, `glue/job.py:28-29`) —
  *    `PERMISSIVE` mode with a `_corrupt_record` column keeps malformed lines
  *    visible instead of failing the batch;
  *  - serialize one object per line and write under a `transformed/` prefix
  *    (`glue/job.py:19,36-44`).
  *
  * Scale notes: schema inference (`read`) scans the input once up front —
  * fine for ad-hoc, wrong at 100 TB; production paths pass an explicit
  * `StructType` (`readWithSchema`) so the scan is single-pass and the plan is
  * stable across batches.
  */
object Ndjson {
  val CorruptCol = "_corrupt_record"

  /** The reader options of every NDJSON read here, batch or streaming. */
  val ReadOptions: Map[String, String] =
    Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)

  /** Ad-hoc read with schema inference (reference's dynamic-schema mode). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.options(ReadOptions).json(path)

  /** Production read: explicit schema, single pass, stable plan. */
  def readWithSchema(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).options(ReadOptions).json(path)

  /** Parse an already-loaded string Dataset (e.g. a raw `text` scan). */
  def parse(spark: SparkSession, lines: org.apache.spark.sql.Dataset[String]): DataFrame =
    spark.read.options(ReadOptions).json(lines)

  /** [[parse]] over lines the driver already holds: the same schema and
    * rows, parsed in the calling thread by Spark's own JSON code
    * ([[JsonBridge]]), as a local relation. Launches no Spark job.
    */
  def parseLocal(spark: SparkSession, lines: Seq[String]): DataFrame =
    JsonBridge.parse(spark, lines, ReadOptions)

  /** The reference's output-key rule: `transformed/{source_key}`
    * (`glue/job.py:19`). Pure path arithmetic.
    */
  def transformedKey(sourceKey: String): String = s"transformed/$sourceKey"

  /** Write NDJSON. `singleFile=true` reproduces the reference's
    * one-object-per-batch S3 write (`glue/job.py:38-44`) for byte-parity
    * tests; leave false in production so the write stays parallel.
    */
  def write(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }
}
