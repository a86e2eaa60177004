package graft

import org.apache.spark.sql.SparkSession

/** Library entry point and the engine's only session factory: every main,
  * the test trait and the benchmark harness build their session here, so
  * the plans the specs and PLANS.md see are the plans Verify and Bench
  * measure.
  *
  * `Graft.localSession(cores)` encodes the local→cluster delta documented
  * in SCALING.md §9: UTC semantics (the oracle contract and the only sane
  * default for event-time data), shuffle parallelism sized to the target
  * (cores locally; ≈ bytes/200 MB on a cluster), AQE left on (runtime
  * coalesce + skew-split are assumed by the join designs), and the engine's
  * optimizer rules and `graft_*` SQL functions registered through
  * `Graft.install` — the one install path, which also retrofits a session
  * built elsewhere.
  */
object Graft {

  /** Local parallelism for the mains: `SPARK_GRAFT_CPUS`, else every core
    * the JVM sees. Nothing here is tuned to a particular core count.
    */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session: parallelism = given cores, the measured config. */
  def localSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // timestamp semantics must not depend on host tz or on whether an
      // events-based query ran first
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Composed queries (forget_audit, the refinery chains) generate
      // hundreds of codegen units per run, and a Bench pass runs ~300
      // queries between a query's two samples: the default 100-entry
      // codegen cache evicts every plan's generated classes in between, so
      // every sample pays Janino recompilation (~0.1-0.3 s/query, measured
      // +45% on the suite; forget_audit 9.6 s vs 3.5 s). Size the cache to
      // hold the whole suite.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Let AQE re-partition CACHED plans (off by default for plan-reuse
      // compatibility only): a persisted iterative frame otherwise
      // materializes at the static shuffle-partition count and every
      // downstream pass re-reads it at that width regardless of size —
      // scale-adaptive in BOTH directions (guide §2.2: size-based
      // partitioning), not a core-count tune; measured text_unigram_sweep
      // 1923 → 97 tasks, 5.2 → 3.5 s at sf0.1. Partitioning is not part of
      // any query's result contract.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    install(s) // getOrCreate may have returned a pre-existing session
    s
  }

  /** Register the engine's optimizer rules and `graft_*` SQL functions on a
    * live session (idempotent — the rules are added once, functions
    * re-register like-for-like).
    */
  def install(spark: SparkSession): Unit = {
    org.apache.spark.sql.graft.GraftOptimizations.install(spark)
    org.apache.spark.sql.graft.VectorBridge.register(spark)
  }
}
