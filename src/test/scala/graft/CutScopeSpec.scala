package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.{CutScope, PlanBridge}
import org.scalatest.concurrent.{Eventually, Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

object CutScopeSpec {
  /** Tasks of [[CutScopeSpec.untilCancelled]] jobs now running (local
    * mode: tasks run in this JVM and see this object). */
  val running = new AtomicInteger
}

/** Pins [[PlanBridge.scoped]]'s lifecycle: every registered cut is
  * released on success and on failure, a failing overlap branch surfaces
  * its error and cancels its siblings' jobs, and a failing cut pins
  * nothing.
  */
class CutScopeSpec extends SparkSpec with Eventually with TimeLimits {
  implicit val signaler: Signaler = ThreadSignaler
  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = 30.seconds, interval = 20.millis)

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(n: Long): DataFrame = spark.range(n).toDF("id")

  /** A one-task job that runs until it is cancelled (at most 60 s). */
  private def untilCancelled(): Long =
    spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { it =>
      val tc = TaskContext.get()
      CutScopeSpec.running.incrementAndGet()
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!tc.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(10)
        it
      } finally CutScopeSpec.running.decrementAndGet()
    }.count()

  test("success: results in order, every branch cut released, final cut returned") {
    val before = persistentIds
    var tag = ""
    val res = PlanBridge.scoped(spark) { s =>
      tag = s.tag
      val (a, b, c) = s.overlap(s.cut(frame(10)), s.cut(frame(20)), s.cut(frame(30)))
      assert((persistentIds -- before).size === 3)
      a.union(b).union(c).groupBy().count()
    }
    assert(res.collect().head.getLong(0) === 60L)
    // only the final cut backing `res` stays pinned
    assert((persistentIds -- before).size === 1)
    assert(!spark.sparkContext.getJobTags().contains(tag))
  }

  test("branches see the caller's job group and carry the scope tag") {
    val sc = spark.sparkContext
    sc.setJobGroup("cut-scope-group", "caller group")
    try {
      PlanBridge.scoped(spark) { s =>
        def seen(): (String, Boolean) =
          (sc.getLocalProperty("spark.jobGroup.id"), sc.getJobTags().contains(s.tag))
        val (a, b, c) = s.overlap(seen(), seen(), seen())
        Seq(a, b, c).foreach(x => assert(x === (("cut-scope-group", true))))
        frame(1)
      }
    } finally sc.clearJobGroup()
  }

  test("a nested overlap of the same scope leaves the tag on its branch") {
    PlanBridge.scoped(spark) { s =>
      val (_, kept) = s.overlap((), {
        s.overlap((), ())
        spark.sparkContext.getJobTags().contains(s.tag)
      })
      assert(kept)
      frame(1)
    }
  }

  for (thrower <- 0 until 3)
    test(s"branch $thrower throws: error surfaces, siblings cancelled, cuts released") {
      val sc = spark.sparkContext
      val before = persistentIds
      val cut = new CountDownLatch(3)
      var tag = ""
      def branch(s: CutScope, i: Int): Long = {
        s.cut(frame(50 + i))
        cut.countDown()
        cut.await()
        if (i == thrower) {
          // throw only while both siblings' long jobs are running
          eventually(assert(CutScopeSpec.running.get === 2))
          throw new IllegalStateException(s"boom-$i")
        }
        untilCancelled()
      }
      val e = intercept[IllegalStateException] {
        PlanBridge.scoped(spark) { s =>
          tag = s.tag
          s.overlap(branch(s, 0), branch(s, 1), branch(s, 2))
          frame(1)
        }
      }
      assert(e.getMessage === s"boom-$thrower")
      assert(e.getSuppressed.length === 2)
      assert(e.getSuppressed.forall(_.isInstanceOf[org.apache.spark.SparkException]))
      assert(persistentIds -- before === Set.empty)
      eventually {
        val tagged = sc.statusTracker.getJobIdsForTag(tag).toSet
        assert(tagged.size >= 2) // the siblings' jobs ran under the tag
        assert(sc.statusTracker.getActiveJobIds().toSet.intersect(tagged) === Set.empty)
        assert(CutScopeSpec.running.get === 0)
      }
    }

  test("a sibling that starts a job after the first cancel is cancelled too") {
    val thrown = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      PlanBridge.scoped(spark) { s =>
        s.overlap(
          { thrown.await(); Thread.sleep(200); untilCancelled() },
          { thrown.countDown(); throw new IllegalStateException("boom") })
        frame(1)
      }
    }
    assert(e.getSuppressed.length === 1)
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    eventually(assert(CutScopeSpec.running.get === 0))
  }

  test("a throw in the body after the overlap still releases the branch cuts") {
    val before = persistentIds
    val e = intercept[IllegalStateException] {
      PlanBridge.scoped(spark) { s =>
        s.overlap(s.cut(frame(5)), s.cut(frame(6)), s.cut(frame(7)))
        assert((persistentIds -- before).size === 3)
        throw new IllegalStateException("after the overlap")
      }
    }
    assert(e.getMessage === "after the overlap")
    assert(persistentIds -- before === Set.empty)
  }

  test("a failing cutLineage leaves no persisted RDD behind") {
    val before = persistentIds
    intercept[Exception] {
      PlanBridge.cutLineage(spark.range(8)
        .selectExpr("CASE WHEN id = 5 THEN raise_error('cut-boom') ELSE id END AS x"))
    }
    assert(persistentIds -- before === Set.empty)
  }

  test("a branch that opens its own scope and overlap completes") {
    val before = persistentIds
    val n = failAfter(120.seconds) {
      PlanBridge.scoped(spark) { s =>
        val (a, b) = s.overlap(
          s.cut(frame(3)).count(),
          PlanBridge.scoped(spark) { t =>
            val (x, y) = t.overlap(t.cut(frame(4)), t.cut(frame(5)))
            x.union(y)
          }.count())
        spark.range(1).selectExpr(s"CAST(${a + b} AS BIGINT) AS n")
      }.collect().head.getLong(0)
    }
    assert(n === 12L)
    // the outer final cut and the nested scope's final cut back frames
    assert((persistentIds -- before).size <= 2)
  }
}
