package graft.streaming

import java.util.UUID

import graft.etl.{Enrich, Ndjson}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's event-driven pipeline (SURVEY §2.9 T1-T4, §3.1),
  * re-expressed as Structured Streaming:
  *
  *  - S3 `ObjectCreated:Put` → processor Lambda (`infra/index.ts:275-286`,
  *    `lambda/handler.ts:32-69`) becomes a file-source stream on the landing
  *    directory. Unlike the reference — which silently drops all but
  *    `Records[0]` of a multi-record event (`lambda/handler.ts:35`, a bug we
  *    deliberately do NOT replicate) — the file source processes every
  *    new path exactly once, tracked by the checkpoint. It remembers seen
  *    files by path alone, so a key uploaded again into the same landing
  *    dir is not drained again on the same checkpoint (CHANGES.md
  *    `FOUND:` on re-uploads).
  *  - `Trigger.AvailableNow` ≈ "drain whatever has arrived, then stop" —
  *    the batch-like semantics of the reference's one-Lambda-per-object
  *    model, with checkpointed exactly-once instead of Lambda at-least-once.
  *  - Per-object output routing (`transformed/{source_key}`,
  *    `glue/job.py:19`; metadata-hint bucket, `lambda/handler.ts:46-48`)
  *    becomes one `foreachBatch` write partitioned by source file into a
  *    hidden staging dir, then a per-object publish: each partition dir is
  *    renamed to `transformed/{source_key}` under a caller-resolved output
  *    root. A micro-batch costs one Spark job however many objects it holds.
  *  - Fire-and-forget dispatch + job-run polling (`src/aws/
  *    lambda.service.ts:25-49`, `src/aws/glue.service.ts:53-62`) becomes a
  *    non-blocking `query.start()` whose handle registers in [[JobRegistry]]
  *    — and unlike the reference's upload response (which returns only a
  *    Lambda request id, forcing users to fish the run id out of logs,
  *    `README.md:87`), `run` returns the real run handle.
  *
  * Scale: every trigger lists the whole landing dir and then drops the
  * files it has already seen, so listing costs O(objects) per trigger.
  * Files are processed in parallel; `maxFilesPerTrigger` bounds batch
  * size. State (checkpoint) is per-query, so one pipeline per landing
  * prefix mirrors the reference's `maxConcurrentRuns: 1`
  * (`infra/index.ts:178-180`) without serializing distinct pipelines.
  */
object Pipeline {

  /** Drain the landing dir once (AvailableNow), enriching each NDJSON object
    * and writing per-source-file NDJSON under `transformed/` — the
    * reference's full data path, distributed. Each micro-batch is written
    * once, partitioned by object, to `<outputRoot>/_staging/<run>/<batch>`;
    * each object's dir then replaces `<root>/transformed/<key>` and gets
    * its `_SUCCESS`.
    *
    * @param resolveOutputRoot maps a source file name to its output root —
    *   the Spark form of the reference's per-object
    *   `pipeline-output-bucket` metadata hint with env-default fallback
    *   (`lambda/handler.ts:28-30,46-48`). Default: constant root.
    * @param maxFilesPerTrigger admission control, ON BY DEFAULT: a drain
    *   over a large backlog (first run on a populated zone, recovery
    *   after downtime) processes at most this many objects per
    *   micro-batch instead of one giant all-or-nothing batch — bounded
    *   memory/retry units, exactly-once across batches via the
    *   checkpoint. The reference-parity entry point must not need the
    *   caller to know the option spelling to be recovery-storm safe.
    * @param maxBytesPerTrigger byte-bounded admission instead (the right
    *   bound when object sizes vary wildly); Spark's file source forbids
    *   combining the two, so when set it REPLACES the file bound.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      outputRoot: String,
      schema: StructType,
      checkpointDir: String,
      resolveOutputRoot: Option[String => String] = None,
      maxFilesPerTrigger: Int = 1000,
      maxBytesPerTrigger: Option[Long] = None): StreamingQuery = {

    val resolve = resolveOutputRoot.getOrElse((_: String) => outputRoot)
    val reader = spark.readStream
      .schema(schema.add(Ndjson.CorruptCol, "string"))
      .options(Ndjson.ReadOptions)
    val admitted = maxBytesPerTrigger match {
      case Some(b) => reader.option("maxBytesPerTrigger", b.toString)
      case None    => reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    }
    val in = admitted.json(landingDir)
      // P4 (lambda/handler.ts:37 `decodeURIComponent(record.s3.object.key)`):
      // input_file_name() returns the PERCENT-ENCODED URI, so the source key
      // must be decoded before the transformed/{key} routing rule sees it —
      // otherwise an object named "a b.ndjson" routes to "a%20b.ndjson".
      // '+' is protected first: a URI path '+' is a literal plus (unlike the
      // form encoding url_decode implements), same as decodeURIComponent.
      .withColumn("__src", expr(
        "url_decode(replace(element_at(split(input_file_name(), '/'), -1), '+', '%2B'))"))

    // one staging dir per run, one child per micro-batch; the leading
    // '_' hides it from every Spark reader of the output root
    val staging = new Path(outputRoot, s"_staging/${UUID.randomUUID()}")
    val query = in.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val staged = new Path(staging, batchId.toString)
        try {
          // the batch's only Spark job: one write, partitioned by object
          Enrich.enrich(batch.drop(Ndjson.CorruptCol))
            .write.mode("overwrite").partitionBy("__src").json(staged.toString)
          publish(spark, staged, resolve)
        } finally dropStaging(spark, staging)
      }
      .start()
    JobRegistry.register(query)
    query
  }

  /** Move each object's staged output to `<resolve(key)>/transformed/<key>`,
    * replacing what an earlier drain published there (the overwrite a
    * per-object write did), and mark it committed with `_SUCCESS`. Keys
    * come back from the `__src=` partition dirs, so only objects that
    * produced rows publish. A root on another filesystem gets a copy.
    */
  private def publish(spark: SparkSession, staged: Path, resolve: String => String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = staged.getFileSystem(conf)
    fs.listStatus(staged)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__src="))
      .foreach { dir =>
        val key = ExternalCatalogUtils.unescapePathName(dir.getPath.getName.stripPrefix("__src="))
        val dst = new Path(s"${resolve(key)}/${Ndjson.transformedKey(key)}")
        val dstFs = dst.getFileSystem(conf)
        dstFs.delete(dst, true)
        dstFs.mkdirs(dst.getParent)
        val moved =
          if (dstFs.getUri == fs.getUri) fs.rename(dir.getPath, dst)
          else FileUtil.copy(fs, dir.getPath, dstFs, dst, true, conf)
        if (!moved) throw new java.io.IOException(s"could not publish ${dir.getPath} to $dst")
        dstFs.create(new Path(dst, "_SUCCESS"), true).close()
      }
  }

  /** Delete this run's staging dir, and `_staging` itself once no other
    * run stages under it. */
  private def dropStaging(spark: SparkSession, staging: Path): Unit = {
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true)
    val parent = staging.getParent
    try if (fs.exists(parent) && fs.listStatus(parent).isEmpty) fs.delete(parent, false)
    catch { case _: java.io.IOException => () } // another run staged meanwhile
  }
}
