package graft.llm

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** Driver-overlapped solves must run their jobs under the CALLER's job
  * group: cancelling the caller's group, and attributing work to the
  * query that ran it, both read that property. A pool thread keeps the
  * local properties of the thread that created it, so branches have to
  * be handed the caller's properties on every run.
  */
class ScopedJobGroupSpec extends SparkSpec with Eventually {

  test("every job of an overlapped query carries the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    // a first run with no group, so that any branch threads already exist
    Forget.forgetAudit(spark, sf0001).collect()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("g", "forget_audit under a caller group")
      try Forget.forgetAudit(spark, sf0001).collect() finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job of the run above has been recorded
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(groups.contains(marker)))
      val seen = groups.asScala.toSeq.takeWhile(_ != marker)
      assert(seen.nonEmpty)
      assert(seen.forall(_ == "g"), seen.groupBy(identity).map { case (k, v) => k -> v.size })
    } finally sc.removeSparkListener(listener)
  }

  test("no hand-rolled Future/Await overlap under src/main") {
    val needles = Seq("scala.concurrent.Future", "Await.result", "ExecutionContext.global")
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val sites = files(root).filter(_.getName.endsWith(".scala"))
      .filter(_.getName != "PlanBridge.scala")
      .flatMap { f =>
        val text = scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.mkString)
        needles.filter(text.contains).map(n => s"${f.getName}: $n")
      }
    assert(sites === Seq.empty)
  }
}
