package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** Counts the Spark jobs a block launches, through a listener that is
  * read only once a marker job has come through the bus (events arrive
  * in order, so every job the block started has been seen by then). */
trait JobCounting extends SparkSpec with Eventually {

  /** The job group of every Spark job that starts while `body` runs, on
    * any thread; jobs of the calling thread carry `group`. */
  private def jobGroupsWith(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(groups.contains(marker)))
      groups.asScala.toSeq.filter(_ != marker)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs `body` launches on this thread. */
  def jobsOf(body: => Unit): Int = {
    val group = s"measured-${java.util.UUID.randomUUID()}"
    jobGroupsWith(group)(body).count(_ == group)
  }

  /** Spark jobs launched on any thread while `body` runs, a streaming
    * query's micro-batches included. */
  def allJobsOf(body: => Unit): Int =
    jobGroupsWith(s"measured-${java.util.UUID.randomUUID()}")(body).size
}
