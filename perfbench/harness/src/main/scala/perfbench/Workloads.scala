package perfbench

import graft.SparkEntry
import graft.etl.{Etl, Ndjson}
import graft.streaming.Pipeline
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The workloads. Each runs its operations in a closed loop (one client,
  * the next operation starts when the previous one returns) until
  * `run.seconds` have passed and at least its minimum numbers of
  * operations (`run.minRounds`, `run.minQueries`) are done.
  * Every result is consumed inside the timed region (`collect` for query
  * results, files written and made readable for the landing path); the
  * copies the output checks need are written after the measured region.
  */
object Workloads {

  type Op = Map[String, Any]

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def sorted(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Run the measured region, then stamp its wall time, the peak RSS and
    * (when tracing) the trace record over exactly that region. */
  private def measure(run: Run)(loop: => Map[String, Any]): Map[String, Any] = {
    val start = run.tracer.snapshot(run.spark)
    val s = run.tracer.nowMs
    val res = loop
    val e = run.tracer.nowMs
    res ++ Map("measured_start_ms" -> s, "measured_ms" -> (e - s), "peak_rss_mb" -> peakRssMb(),
      "trace" -> run.tracer.record(run.spark, start, s, e))
  }

  private final case class Result(rows: Array[Row], schema: StructType)

  /** One registered query, fully consumed. */
  private def collect(run: Run, query: String, tables: Path): Result = {
    val df = SparkEntry.queries(query)(run.spark, tables.toString)
    Result(df.collect(), df.schema)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, since(t0))
  }

  private def failure(kind: String, name: String, e: Throwable): Op =
    Map("kind" -> kind, "name" -> name, "ok" -> false,
      "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))

  /** Write a collected result for the oracle check (outside timing). */
  private def dump(run: Run, name: String, r: Result): String = {
    val dir = run.out.resolve("results").resolve(name).toString
    run.spark.createDataFrame(r.rows.toSeq.asJava, r.schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def checks(run: Run, dumps: Seq[(String, String, String)]): Map[String, Any] =
    Map(
      "dumps" -> dumps.map { case (query, tables, result) =>
        Map("query" -> query, "tables" -> tables, "result" -> result)
      },
      "oracles" -> dumps.map(_._1).distinct
        .flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)

  // ------------------------------------------------------------ etl_sql

  /** The landing schema: the generated records' fields, nested extras
    * included (the reference's dynamic-schema records under an explicit
    * production schema). */
  private val LandingSchema = new StructType()
    .add("id", LongType).add("name", StringType)
    .add("extra", new StructType().add("score", LongType).add("tags", ArrayType(StringType)))

  /** The TPC-H query shapes (`queries.SqlSurface` and `TpchSql`) the
    * benchmark runs: all but `sql_q2`, whose `ROUND` of a double quotient
    * rounds half-cent ties differently from its DuckDB oracle on some
    * inputs (see perfbench/README.md, "Output checks"). */
  val SqlQueries: Seq[String] = (1 to 22).filter(_ != 2).map(i => s"sql_q$i")

  /** The queries of an untraced run: a fixed set, so that its median
    * latency does not swing with which queries a seed would draw. */
  val UntracedQueries: Seq[String] = SqlQueries.filter(_.drop(5).toInt % 2 == 1)

  /** Land, then query. First the landing path, in arrival rounds: upload
    * every object of a round through `Etl.upload`, drain the landing zone
    * with `Pipeline.run` (AvailableNow, one checkpoint across rounds), poll
    * `Etl.jobStatus` until the run leaves RUNNING, and confirm every
    * object's output is committed. The rounds go on until `run.minRounds`
    * are done and half of `run.seconds` has passed. The first round, in a
    * fresh JVM, also pays JIT and codegen; it is reported apart.
    *
    * Then the TPC-H queries over the generated tables, every result
    * collected: all of `SqlQueries` in a traced run, `UntracedQueries`
    * otherwise, both in an order drawn from the seed, cycled until
    * `run.minQueries` ran and `run.seconds` have passed. Each query's
    * first result is checked. */
  def etlSql(run: Run): Map[String, Any] = {
    val spark = run.spark
    val tr = run.tracer
    val rounds = sorted(run.in.resolve("landing"))
    val tables = run.in.resolve("tpch")
    val landing = run.out.resolve("landing").toString
    val zone = run.out.resolve("zone")
    val ckpt = run.out.resolve("checkpoint").toString
    val rnd = new scala.util.Random(run.seed)
    val order = rnd.shuffle(if (tr.on) SqlQueries else UntracedQueries)
    val ops = ArrayBuffer.empty[Op]
    val kept = ArrayBuffer.empty[(String, Path, Result)]
    var inputBytes = 0L
    val res = measure(run) {
      val t0 = System.nanoTime()
      var r = 0
      while (r < rounds.size && (r < run.minRounds || since(t0) < run.seconds / 2)) {
        val files = sorted(rounds(r))
        val keys = files.map(_.getFileName.toString)
        // the client's object bodies, read before the round starts
        val contents = files.map(Files.readString(_))
        inputBytes += files.map(Files.size).sum
        val roundStart = System.nanoTime()
        try tr.span("etl.round") {
          val (_, uploadS) = timed(tr.span("etl.upload") {
            keys.zip(contents).foreach { case (key, content) =>
              tr.span("etl.Etl.upload") {
                Etl.upload(spark, landing, key, content,
                  Map("round" -> rounds(r).getFileName.toString))
              }
            }
          })
          val ((query, status), drainS) = timed(tr.span("streaming.drain") {
            val q = tr.span("streaming.Pipeline.run") {
              Pipeline.run(spark, landing, zone.toString, LandingSchema, ckpt)
            }
            val id = q.id.toString
            var st = Etl.jobStatus(id)
            while (st.exists(_.state == "RUNNING")) {
              Thread.sleep(2)
              st = tr.span("etl.Etl.jobStatus")(Etl.jobStatus(id))
            }
            (q, st)
          })
          val readable =
            keys.forall(k => Files.exists(zone.resolve(Ndjson.transformedKey(k)).resolve("_SUCCESS")))
          val state = status.map(_.state).getOrElse("UNKNOWN")
          ops += Map("kind" -> "round", "name" -> rounds(r).getFileName.toString,
            "seconds" -> since(roundStart), "upload_s" -> uploadS, "drain_s" -> drainS,
            "ok" -> (state == "SUCCEEDED" && readable), "state" -> state,
            "keys" -> keys,
            "microbatches" -> query.recentProgress.count(_.numInputRows > 0))
        } catch { case NonFatal(e) => ops += failure("round", rounds(r).getFileName.toString, e) }
        r += 1
      }
      var i = 0
      while (i < run.minQueries || since(t0) < run.seconds) {
        val q = order(i % order.size)
        try {
          val (res, secs) = timed(tr.span(s"sql.$q")(collect(run, q, tables)))
          ops += Map("kind" -> "query", "name" -> q, "seconds" -> secs,
            "rows" -> res.rows.length, "ok" -> true)
          if (i < order.size) kept += ((q, tables, res))
        } catch { case NonFatal(e) => ops += failure("query", q, e) }
        i += 1
      }
      Map("ops" -> ops.toSeq)
    }
    val written = if (Files.exists(zone))
      Files.walk(zone).iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).toSeq
    else Seq.empty
    res ++ Map("zone" -> zone.toString, "input_bytes" -> inputBytes,
      "files_written" -> written.size, "bytes_written" -> written.map(Files.size).sum) ++
      checks(run, dumpAll(run, kept.toSeq))
  }

  // ------------------------------------------------------- curation_ann

  /** The curation stages timed alone in the traced run, each on its own
    * fresh snapshot: (layer metric, registered query). */
  val CurationStages = Seq(
    "llm.gate" -> "curate_classifier",
    "llm.decontaminate" -> "decontaminate",
    "llm.cluster_dedup" -> "dedup_clusters",
    "llm.span_mask" -> "text_dedup_spans_exact",
    "llm.pack" -> "pack_sequences")

  /** Curate a new corpus, then index its embeddings. A job runs on
    * inputs the session has never seen (a `documents` snapshot and an
    * `embeddings` table): `refinery_full` on the snapshot, in the first
    * measured job the same again (served partly from the engine's memos;
    * it must return the same rows), then `sim_ann_ivfpq_rerank` (IVF-PQ
    * build, probe and exact re-rank in one query) over the embeddings.
    * The first job (`w000`, small inputs) warms the fresh JVM and is
    * reported apart; the measured jobs (`j000`, `j001`, ...) follow until
    * `run.minRounds` are done and `run.seconds` have passed. A traced run
    * then times each curation stage alone on its own fresh snapshot
    * (`t000`, ...) and `sim_cosine_topk` on the first measured job's
    * vectors, the brute-force base. Every other result is checked
    * against its oracle. */
  def curationAnn(run: Run): Map[String, Any] = {
    val tr = run.tracer
    val dirs = sorted(run.in)
    val warmup = dirs.filter(_.getFileName.toString.startsWith("w"))
    val jobs = dirs.filter(_.getFileName.toString.startsWith("j"))
    val stageSnaps = dirs.filter(_.getFileName.toString.startsWith("t"))
    val ops = ArrayBuffer.empty[Op]
    val kept = ArrayBuffer.empty[(String, Path, Result)]
    /** One job; `tag` prefixes the op kinds of the warm-up job. */
    def job(dir: Path, tag: String, repeat: Boolean): Unit = {
      val name = dir.getFileName.toString
      try {
        val (fresh, freshS) = timed(tr.span("llm.refinery_full.fresh")(
          collect(run, "refinery_full", dir)))
        ops += Map("kind" -> s"${tag}fresh", "name" -> name, "seconds" -> freshS, "ok" -> true,
          "docs_kept" -> fresh.rows.map(_.getAs[Number]("n_docs").longValue).sum)
        kept += (("refinery_full", dir, fresh))
        if (repeat) {
          val (again, againS) = timed(tr.span("llm.refinery_full.repeat")(
            collect(run, "refinery_full", dir)))
          ops += Map("kind" -> "repeat", "name" -> name, "seconds" -> againS,
            "ok" -> again.rows.sameElements(fresh.rows),
            "pinned_rdds_after" -> run.spark.sparkContext.getPersistentRDDs.size)
        }
      } catch { case NonFatal(e) => ops += failure(s"${tag}fresh", name, e) }
      try {
        val (r, secs) = timed(tr.span("similarity.ivfpq")(
          collect(run, "sim_ann_ivfpq_rerank", dir)))
        ops += Map("kind" -> s"${tag}ann", "name" -> name, "seconds" -> secs,
          "rows" -> r.rows.length, "recall_hits" -> r.rows.count(_.getAs[Boolean]("in_exact3")),
          "ok" -> true)
        kept += (("sim_ann_ivfpq_rerank", dir, r))
      } catch { case NonFatal(e) => ops += failure(s"${tag}ann", name, e) }
    }
    val res = measure(run) {
      val t0 = System.nanoTime()
      warmup.foreach(job(_, "warmup_", repeat = false))
      var j = 0
      while (j < jobs.size && (j < run.minRounds || since(t0) < run.seconds)) {
        job(jobs(j), "", repeat = j == 0)
        j += 1
      }
      if (tr.on) {
        CurationStages.zip(stageSnaps).foreach { case ((layer, query), s) =>
          try {
            val (r, secs) = timed(tr.span(layer)(collect(run, query, s)))
            ops += Map("kind" -> "stage", "name" -> layer, "query" -> query,
              "seconds" -> secs, "ok" -> true)
            kept += ((query, s, r))
          } catch { case NonFatal(e) => ops += failure("stage", layer, e) }
        }
        try {
          val (r, secs) = timed(tr.span("similarity.exact_topk")(
            collect(run, "sim_cosine_topk", jobs.head)))
          ops += Map("kind" -> "exact", "name" -> "sim_cosine_topk", "seconds" -> secs,
            "ok" -> true)
          kept += (("sim_cosine_topk", jobs.head, r))
        } catch { case NonFatal(e) => ops += failure("exact", "sim_cosine_topk", e) }
      }
      Map("ops" -> ops.toSeq)
    }
    res ++ checks(run, dumpAll(run, kept.toSeq))
  }

  private def dumpAll(run: Run, kept: Seq[(String, Path, Result)]): Seq[(String, String, String)] =
    kept.map { case (q, tables, r) =>
      (q, tables.toString, dump(run, s"$q-${tables.getFileName}", r))
    }
}
