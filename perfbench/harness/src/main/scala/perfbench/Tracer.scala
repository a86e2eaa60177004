package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Outside-in tracer: spans around every call the harness makes into the
  * engine, plus Spark-runtime counters from listeners the harness
  * registers. Nothing here edits or hooks engine code.
  *
  * Spans are recorded only from the main thread, which drives every
  * workload sequentially, so nesting is a plain stack. Times are epoch
  * milliseconds (listener events carry the same clock), derived from one
  * wall anchor plus `nanoTime` so spans never go backwards. With tracing
  * off, `span` is the body alone and no listener is registered.
  */
final class Tracer(val on: Boolean, val runId: String) {
  import Tracer._

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), runId, name, nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  private var counters: Option[Counters] = None

  def install(spark: SparkSession): Unit = if (on) {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    counters = Some(c)
  }

  /** Counter snapshot at a point in time; `record` subtracts the one taken
    * at the start of the measured region from the one at its end. */
  def snapshot(spark: SparkSession): Map[String, Double] = counters match {
    case None => Map.empty
    case Some(c) =>
      org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum
      c.totals() ++ Map(
        "gc_ms" -> gcMs.toDouble,
        "codegen_compile_ns" ->
          org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            .compileTime.toDouble)
  }

  /** The trace section of the result: spans, job starts, stage intervals
    * and counter deltas over [startMs, endMs]. */
  def record(spark: SparkSession, start: Map[String, Double],
             startMs: Double, endMs: Double): Map[String, Any] =
    counters match {
      case None => Map.empty
      case Some(c) =>
        val end = snapshot(spark)
        val within = (t: Double) => t >= startMs && t <= endMs
        c.synchronized {
          Map(
            "spans" -> spans.toSeq.map(_.toMap),
            "job_starts_ms" -> c.jobStarts.filter(within).toSeq,
            "stages" -> c.stages.filter(s => within(s._1)).toSeq
              .map { case (s, e, n) => Seq(s, e, n.toDouble) },
            "counters" -> end.map { case (k, v) => k -> (v - start.getOrElse(k, 0.0)) },
            "storage_peak_bytes" -> c.storagePeak.toDouble)
        }
    }
}

object Tracer {
  final case class Span(id: Int, parent: Int, run: String, name: String,
                        startMs: Double, endMs: Double) {
    def toMap: Map[String, Any] =
      Map("id" -> id, "parent" -> parent, "run" -> run, "name" -> name,
        "start_ms" -> startMs, "end_ms" -> endMs)
  }

  /** Spark-runtime counters: jobs, stages (with their intervals), tasks
    * and task metrics, RDD block storage, and, per action, planning time
    * from `QueryPlanningTracker` and the duration of file-writing
    * commands (the writers' time, `foreachBatch` writes included). */
  final class Counters extends SparkListener with QueryExecutionListener {
    val jobStarts = ArrayBuffer.empty[Double]
    val stages = ArrayBuffer.empty[(Double, Double, Int)]
    private val sums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val blocks = scala.collection.mutable.Map.empty[String, Long]
    private var storageNow = 0L
    var storagePeak = 0L

    private def add(k: String, v: Double): Unit = sums(k) += v

    def totals(): Map[String, Double] = synchronized {
      sums.toMap ++ Map("jobs" -> jobStarts.size.toDouble,
        "stages" -> stages.size.toDouble)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts += e.time.toDouble
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += ((s.toDouble, c.toDouble, i.numTasks))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor_run_ms", m.executorRunTime.toDouble)
        add("executor_cpu_ns", m.executorCpuTime.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        val id = info.blockId.name
        storageNow -= blocks.getOrElse(id, 0L)
        if (info.storageLevel.isValid && size > 0) blocks(id) = size else blocks.remove(id)
        storageNow += blocks.getOrElse(id, 0L)
        storagePeak = storagePeak.max(storageNow)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val phases = qe.tracker.phases.values
        add("plan_ms", phases.map(_.durationMs).sum.toDouble)
        if (qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec])) {
          add("write_ns", durationNs.toDouble)
          add("write_commands", 1)
        }
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
