package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark process: start a session through the engine's public
  * builder, run the warm-up job, print READY (the end of set-up), then run
  * one workload over the generated inputs and write `result.json` into the
  * output directory.
  *
  *   --workload etl_sql|curation_ann
  *   --in <inputs dir> --out <output dir> --seconds <s> --seed <n>
  *   --min-rounds <n> --min-queries <n> --trace 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.Graft.localSession(cores)
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    spark.range(1000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().collect()
    val t2 = System.nanoTime()
    println("READY")
    System.out.flush()
    val out = Paths.get(opt("out"))
    val run = Run(spark, Paths.get(opt("in")), out, opt("seconds").toDouble,
      opt("seed").toLong, opt("min-rounds").toInt, opt("min-queries").toInt,
      new Tracer(opt("trace") == "1", s"$workload-${opt("seed")}"))
    run.tracer.install(spark)
    val result = workload match {
      case "etl_sql" => Workloads.etlSql(run)
      case "curation_ann" => Workloads.curationAnn(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(out.resolve("result.json"),
      Json.render(result ++ Map(
        "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "cores" -> cores, "master" -> spark.sparkContext.master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)))
    spark.stop()
    sys.exit(0)
  }
}

final case class Run(spark: SparkSession, in: Path, out: Path, seconds: Double,
                     seed: Long, minRounds: Int, minQueries: Int, tracer: Tracer)
