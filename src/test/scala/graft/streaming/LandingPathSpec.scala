package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.JobCounting
import graft.etl.{Etl, Ingest}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The landing path's Spark work and routing: an upload (and reading its
  * metadata back) launches no job, a drain launches one per non-empty
  * micro-batch, and every object publishes whole at its decoded
  * `transformed/<key>`, leaving no staging behind.
  */
class LandingPathSpec extends JobCounting {

  private val schema = new StructType().add("id", LongType).add("name", StringType)

  private def tmp(): String = Files.createTempDirectory("graft-land").toString

  private def payload(ids: Range): String =
    ids.map(i => s"""{"id":$i,"name":"n$i"}""").mkString("\n", "\n\n", "\n")

  /** The NDJSON lines published for `key` under `root`, in id order. */
  private def published(root: String, key: String): Seq[String] = {
    val dir = new File(s"$root/transformed/$key")
    assert(new File(dir, "_SUCCESS").isFile, s"$key has no _SUCCESS")
    dir.listFiles().filter(_.getName.startsWith("part-")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .sortBy(l => l.drop(6).takeWhile(_.isDigit).toInt)
  }

  private def residue(root: String): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala.map(_.toString)
      .filter(p => p.contains("_staging") || p.contains("__src=")).toSeq

  /** Drain `landing` into `out`: (jobs launched, non-empty micro-batches). */
  private def drain(landing: String, out: String, ckpt: String): (Int, Int) = {
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val jobs = allJobsOf {
      q = Pipeline.run(spark, landing, out, schema, ckpt)
      q.awaitTermination()
    }
    (jobs, q.recentProgress.count(_.numInputRows > 0))
  }

  test("an upload and its metadata read-back launch no Spark job") {
    val landing = tmp()
    val meta = Map("round" -> "r1", Ingest.OutputRootHint -> "/tmp/x")
    val content = payload(1 to 50) + """{"id":51,"extra":{"tags":["a"]}}""" + "\n{\"id\":52,\n"
    assert(jobsOf(Etl.upload(spark, landing, "obj.json", content, meta)) === 0)
    var back = Map.empty[String, String]
    assert(jobsOf { back = Ingest.readMetadata(spark, landing, "obj.json") } === 0)
    assert(back === meta)
  }

  test("a 3-object drain runs one job per micro-batch and publishes each object") {
    val landing = tmp(); val out = tmp(); val ckpt = tmp()
    val keys = Seq("a.json", "b.json", "c.json")
    keys.zipWithIndex.foreach { case (k, i) =>
      Etl.upload(spark, landing, k, payload(i * 10 until i * 10 + 5))
    }
    val (jobs, batches) = drain(landing, out, ckpt)
    assert(batches === 1)
    assert(jobs === batches)
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(published(out, k) === (i * 10 until i * 10 + 5).map(j =>
        s"""{"id":$j,"name":"n$j","processed":true,"uppercase_name":"N$j"}"""))
    }
    assert(residue(out).isEmpty)
  }

  test("keys that need partition-path escaping land at their decoded key") {
    val landing = tmp(); val out = tmp(); val ckpt = tmp()
    val keys = Seq("a=b.json", "50%.json", "x#y.json", "ü.json")
    keys.zipWithIndex.foreach { case (k, i) => Etl.upload(spark, landing, k, payload(i to i)) }
    val (jobs, batches) = drain(landing, out, ckpt)
    assert(jobs === batches)
    assert(new File(s"$out/transformed").list().toSet === keys.toSet)
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(published(out, k) === Seq(s"""{"id":$i,"name":"n$i","processed":true,"uppercase_name":"N$i"}"""))
    }
    assert(residue(out).isEmpty)
  }

  test("a key uploaded again in a later round replaces its earlier output") {
    val out = tmp()
    val (first, second) = (tmp(), tmp())
    Etl.upload(spark, first, "k.json", payload(1 to 3))
    Etl.upload(spark, first, "other.json", payload(7 to 7))
    drain(first, out, tmp())
    assert(published(out, "k.json").size === 3)
    Etl.upload(spark, second, "k.json", payload(9 to 9))
    drain(second, out, tmp())
    assert(published(out, "k.json") ===
      Seq("""{"id":9,"name":"n9","processed":true,"uppercase_name":"N9"}"""))
    assert(published(out, "other.json").size === 1)
    assert(residue(out).isEmpty)
  }

  test("a drain listing the landing dir never sees a partly written object") {
    val landing = tmp()
    val content = (1 to 20000).map(i => s"""{"id":$i,"name":"${"x" * 60}"}""").mkString("\n")
    Etl.upload(spark, landing, "probe.json", content)
    val whole = Files.readAllBytes(Paths.get(landing, "probe.json")).toSeq
    val done = new AtomicBoolean(false)
    var partial = Seq.empty[String]
    val lister = new Thread(() => while (!done.get()) {
      Option(new File(landing).listFiles()).getOrElse(Array.empty)
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
        .foreach { f =>
          val seen = scala.util.Try(Files.readAllBytes(f.toPath).toSeq).getOrElse(whole)
          if (seen != whole) partial :+= s"${f.getName}: ${seen.size} of ${whole.size} bytes"
        }
    })
    lister.start()
    try (1 to 6).foreach(i => Etl.upload(spark, landing, if (i % 2 == 0) "probe.json" else s"o$i.json", content))
    finally { done.set(true); lister.join() }
    assert(partial.isEmpty)
  }
}
