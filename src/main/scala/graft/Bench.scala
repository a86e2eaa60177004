package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the given SF and prints
  * ONE compact JSON line. The harness that records the result keeps only the
  * last ~2000 chars of stdout (round-1 evidence: BENCH_r01.json captured a
  * mid-line tail and parsed nothing), and sbt appends a "[success] Total
  * time" epilogue after us — so the line is budgeted to always fit that
  * window: full total over ALL queries, per-query breakdown trimmed to the
  * slowest entries until the line is ≤ 1500 chars.
  */
object Bench {

  /** 1-minute load average, or -1 where unavailable. */
  def loadAvg(): Double =
    try {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      os.getSystemLoadAverage
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.envCores
    // Contention guard: a bench recorded while sbt (or anything else) has
    // the box busy overstates per-query cost 1.5-6× (round-3 evidence:
    // the recorded artifact showed 494 s wall for a 185 s bench, and every
    // large delta collapsed on an idle re-run). The artifact must be
    // self-identifying, so the starting load average is measured here,
    // shouted to stderr when high, and stamped into the JSON line.
    val startLoad = loadAvg()
    if (startLoad > 4.0)
      System.err.println(
        f"[bench] WARNING: load average $startLoad%.1f at start — numbers " +
          "will be contention-inflated; re-run on an idle box " +
          "(NEVER bench while sbt test/compile runs)")
    val spark = Graft.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM (classloading, codegen, shuffle machinery) so the first
    // timed query doesn't absorb session startup.
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count()
    // Steady-state timing, structured against the box's ambient noise:
    //  - TWO FULL PASSES (not two back-to-back runs per query): adjacent
    //    runs share whatever transient poisoned them — r5's artifact had
    //    14× spread on unchanged queries from exactly that; a full-pass
    //    gap puts minutes between a query's two samples, so a spike
    //    lands in at most one. Pass 1 doubles as the per-query warmup
    //    (page cache, codegen); the min is the recorded value.
    //  - a THIRD sample only where the two passes still disagree >2×
    //    (plus 0.2 s absolute slack so millisecond queries don't
    //    trigger): targeted, so the resample cost is bounded by the
    //    unstable tail instead of doubling the whole bench.
    // A throwing query must be VISIBLE in the artifact: swallowing it
    // records the time-to-throw as a legitimate sample, so a regression
    // that breaks a query between Verify and Bench would quietly make the
    // bench look FASTER. Failures still contribute their wall time (n
    // stays the registry size) but the line carries the count and names.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => failed += name }
      (System.nanoTime() - t0) / 1e9
    }
    val queries = SparkEntry.queries
    val pass1 = queries.map { case (name, fn) => name -> once(name, fn) }
    val pass2 = queries.map { case (name, fn) => name -> once(name, fn) }
    var resampled = 0
    val results = queries.map { case (name, fn) =>
      val (a, b) = (pass1(name), pass2(name))
      val m = math.min(a, b)
      val v = if (math.max(a, b) > 2 * m + 0.2) {
        resampled += 1; math.min(m, once(name, fn))
      } else m
      name -> v
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String = f"$v%.2f"
    def line(entries: Seq[(String, Double)]): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // failure names are bounded to 10 in the line (a wholesale breakage
      // would otherwise evict the entire per-query breakdown); the COUNT
      // is always exact
      val failedNames = failed.take(10)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":${failed.size},"failed_queries":$failedNames,"load_start":${fmt(startLoad)},"load_end":${fmt(loadAvg())},"resampled":$resampled,"queries":$qs,"sf":"$sfDir"}"""
    }
    // Slowest-first breakdown, dropped one-at-a-time until the line fits.
    var shown = results.toSeq.sortBy(-_._2)
    while (line(shown).length > 1500 && shown.nonEmpty) shown = shown.init
    println(line(shown))
    spark.stop()
  }
}
