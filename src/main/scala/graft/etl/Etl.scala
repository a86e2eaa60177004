package graft.etl

import graft.streaming.{JobRegistry, Pipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The reference's three REST entry points (SURVEY §3) as one library
  * façade — what a user of `pedrohw12/etl-pipeline-aws` calls instead of
  * `POST /etl/upload`, `POST /etl/run`, `GET /etl/jobs/:id`:
  *
  *  - [[upload]]        ≡ upload: land a payload (+metadata) and return its
  *                        location — downstream processing fires on drain,
  *                        matching the reference's unconditional S3
  *                        notification (§3.2).
  *  - [[runPipeline]]   ≡ run: land the payload, drain the landing zone
  *                        through the enrichment into the output zone, and
  *                        return the REAL run id (the reference returns only
  *                        a Lambda request id and tells users to fish the
  *                        run id out of CloudWatch, `README.md:87` — a
  *                        deliberate improvement, SURVEY §2.9).
  *  - [[jobStatus]]     ≡ jobs/:id: RUNNING | SUCCEEDED | FAILED.
  */
object Etl {

  case class UploadResult(landingDir: String, key: String)
  case class RunResult(runId: String, outputRoot: String)

  def upload(
      spark: SparkSession,
      landingDir: String,
      key: String,
      content: String,
      metadata: Map[String, String] = Map.empty): UploadResult = {
    Ingest.uploadSourceObject(spark, landingDir, key, content, metadata)
    UploadResult(landingDir, key)
  }

  /** Land `content` and drain the landing zone: every object lands under
    * `outputRoot`. Nothing reads a `pipeline-output-bucket` metadata hint
    * here; per-object routing is [[Pipeline.run]]'s `resolveOutputRoot`
    * over the key. Blocking by default (AvailableNow drain); the returned
    * run id is poll-able either way.
    */
  def runPipeline(
      spark: SparkSession,
      landingDir: String,
      key: String,
      content: String,
      outputRoot: String,
      schema: StructType,
      checkpointDir: String,
      metadata: Map[String, String] = Map.empty,
      await: Boolean = true): RunResult = {
    upload(spark, landingDir, key, content, metadata)
    val query = Pipeline.run(spark, landingDir, outputRoot, schema, checkpointDir)
    val runId = query.id.toString
    if (await) query.awaitTermination()
    RunResult(runId, outputRoot)
  }

  def jobStatus(runId: String): Option[JobRegistry.RunStatus] =
    JobRegistry.status(runId)
}
