package graft

/** Single-query timing harness (dev tool, not part of the driver
  * contract): `runMain graft.Scratch <query_name>` times one registered
  * query 3× at SPARK_GRAFT_SF_DIR — the fast loop for optimizing one
  * operator without paying for a full Bench sweep.
  *
  * Multi-query form: a comma-separated list runs each query 3× and ends
  * with ONE JSON line (`{"scratch":{...}}`, min-of-3 seconds per query) —
  * the steady-state per-query baseline a full Bench sweep can't give
  * (run-order/GC noise there is ±20%; see SCRATCH_r*.json round records).
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Graft.envCores
    val spark = Graft.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count()
    // Per-run job/stage/task counters (SPARK_GRAFT_BLOCKSTATS=1): at bench
    // SF the data is tiny, so wall time ≈ Σ fixed stage/job overhead — these
    // counts are the quantity optimization actually has to shrink (r14).
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          // SPARK_GRAFT_STAGETIMES=1: per-stage wall duration — the
          // which-stage-is-slow attribution the disabled UI would give
          if (sys.env.contains("SPARK_GRAFT_STAGETIMES")) {
            val ms = (for {
              s <- e.stageInfo.submissionTime
              c <- e.stageInfo.completionTime
            } yield c - s).getOrElse(-1L)
            if (ms >= 100) println(
              s"[stagetime] ${ms}ms tasks=${e.stageInfo.numTasks} ${e.stageInfo.name}")
          }
        }
      })
    val names = args.headOption.getOrElse("dedup_containment").split(',').toSeq
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      names.filter(SparkEntry.queries.contains)
        .foreach(n => SparkEntry.queries(n)(spark, sfDir).explain("formatted"))
    val mins = names.map { name =>
      // production-shaped incremental-CC timing: materialize the standing
      // labeling OUTSIDE the timer, time only the per-batch fold — the
      // cost a daily pipeline actually pays (the registered query times
      // prior-build + fold because its oracle proves incremental ≡ batch)
      val run: () => Long =
        if (name == "graph_copurchase_incremental_fold") {
          val (prior, fold) = graft.queries.Graph
            .copurchaseIncrementalHalves(spark, sfDir)
          // standing labeling: fully materialized before "day 2" begins
          val (p, _, _) = org.apache.spark.sql.graft.PlanBridge.cutLineage(prior)
          // unpersist each run's fold cuts: min-of-3 must not time run 3
          // under two earlier runs' pinned labelings
          () => { val (df, h) = fold(p); val n = df.count(); h.release(); n }
        } else {
          () => SparkEntry.queries(name)(spark, sfDir).count()
        }
      val times = (1 to 3).map { i =>
        val (j0, st0, tk0) = (jobs.get, stages.get, tasks.get)
        val t0 = System.nanoTime()
        val n = run()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[scratch] $name run$i rows=$n $s%.2f s" + (
          if (sys.env.contains("SPARK_GRAFT_BLOCKSTATS"))
            s" jobs=${jobs.get - j0} stages=${stages.get - st0} tasks=${tasks.get - tk0}"
          else ""))
        // Session-health probe (SPARK_GRAFT_BLOCKSTATS=1): pinned-RDD /
        // driver-heap accounting after each run — the instrument that
        // located the r14 cross-query session degradation (leaked pinned
        // blocks inflate every LATER query, so min-of-3 numbers lie).
        if (sys.env.contains("SPARK_GRAFT_BLOCKSTATS")) {
          val sc = spark.sparkContext
          val rdds = sc.getPersistentRDDs
          val mem = sc.getExecutorMemoryStatus.values
            .map { case (max, free) => max - free }.sum
          val rt = Runtime.getRuntime
          val heap = (rt.totalMemory - rt.freeMemory) / (1 << 20)
          import scala.jdk.CollectionConverters._
          val gcMs = java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
          // cumulative host steal/idle jiffies — rules the box in or out
          val stat = scala.util.Try(scala.io.Source.fromFile("/proc/stat")
            .getLines().next().trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array[Long]())
          val steal = if (stat.length > 7) stat(7) else -1L
          val busy = if (stat.length > 3) stat.sum - stat(3) else -1L
          println(s"[blockstats] $name run$i pinnedRdds=${rdds.size} " +
            s"storageUsedMB=${mem / (1 << 20)} driverHeapMB=$heap " +
            s"gcTotalMs=$gcMs stealJ=$steal busyJ=$busy")
        }
        s
      }
      name -> times.min
    }
    if (names.size > 1) {
      // Locale.ROOT: the default-locale f-interpolator would emit a comma
      // decimal separator on e.g. de_DE JVMs — invalid JSON
      val body = mins.map { case (n, s) =>
        "\"" + n + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(s))
      }.mkString(",")
      println(s"""{"scratch":{$body},"sf":"$sfDir","cpus":$cpus}""")
    }
    spark.stop()
  }
}
