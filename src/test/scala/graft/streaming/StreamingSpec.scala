package graft.streaming

import graft.SparkSpec
import graft.etl.Etl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("id", LongType)))

  test("end-to-end drain: NDJSON objects land -> enriched per-object outputs") {
    val landing = tmp(); val out = tmp(); val ckpt = tmp()
    Files.writeString(java.nio.file.Paths.get(landing, "batch1.json"),
      "{\"name\":\"Alice\",\"id\":1}\n{\"name\":\"Bob\",\"id\":2}\n")
    Files.writeString(java.nio.file.Paths.get(landing, "batch2.json"),
      "{\"name\":null,\"id\":3}\n")

    val q = Pipeline.run(spark, landing, out, schema, ckpt)
    val runId = q.id.toString
    q.awaitTermination()

    val st = JobRegistry.status(runId).get
    assert(st.state === "SUCCEEDED")

    val b1 = spark.read.json(s"$out/transformed/batch1.json")
    assert(b1.count() === 2)
    assert(b1.columns.toSet === Set("name", "id", "processed", "uppercase_name"))
    assert(b1.filter(col("id") === 1).head().getAs[String]("uppercase_name") === "ALICE")
    val b2 = spark.read.json(s"$out/transformed/batch2.json")
    assert(b2.head().getAs[String]("uppercase_name") === "")
  }

  test("P4 key decode: object names with spaces/pluses route by the DECODED key") {
    val landing = tmp(); val out = tmp(); val ckpt = tmp()
    // input_file_name() reports "my batch.json" as "my%20batch.json"; the
    // reference decodes before routing (lambda/handler.ts:37) — so must we.
    // A literal '+' is a plain character in a URI path and must SURVIVE.
    Files.writeString(java.nio.file.Paths.get(landing, "my batch.json"),
      "{\"name\":\"Alice\",\"id\":1}\n")
    Files.writeString(java.nio.file.Paths.get(landing, "a+b.json"),
      "{\"name\":\"Bob\",\"id\":2}\n")
    Pipeline.run(spark, landing, out, schema, ckpt).awaitTermination()
    assert(spark.read.json(s"$out/transformed/my batch.json").count() === 1)
    assert(spark.read.json(s"$out/transformed/a+b.json").count() === 1)
  }

  test("per-object routing hint: resolver directs files to different roots") {
    val landing = tmp(); val rootA = tmp(); val rootB = tmp(); val ckpt = tmp()
    Files.writeString(java.nio.file.Paths.get(landing, "a.json"), "{\"name\":\"x\",\"id\":1}\n")
    Files.writeString(java.nio.file.Paths.get(landing, "b.json"), "{\"name\":\"y\",\"id\":2}\n")

    val q = Pipeline.run(spark, landing, rootA, schema, ckpt,
      resolveOutputRoot = Some(src => if (src.startsWith("b")) rootB else rootA))
    q.awaitTermination()

    assert(spark.read.json(s"$rootA/transformed/a.json").count() === 1)
    assert(spark.read.json(s"$rootB/transformed/b.json").count() === 1)
  }

  test("backlog drain is admission-controlled into bounded micro-batches") {
    // 5 objects with maxFilesPerTrigger=2 must drain as ceil(5/2)=3
    // micro-batches (2+2+1), not one giant batch — the recovery-storm
    // safety the façade now defaults to — and still produce every output
    // exactly once.
    val landing = tmp(); val out = tmp(); val ckpt = tmp()
    (1 to 5).foreach { i =>
      Files.writeString(java.nio.file.Paths.get(landing, s"f$i.json"),
        s"""{"name":"n$i","id":$i}\n""")
    }
    val q = Pipeline.run(spark, landing, out, schema, ckpt,
      maxFilesPerTrigger = 2)
    q.awaitTermination()
    val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
    assert(nonEmpty === 3, s"expected 3 bounded micro-batches, got $nonEmpty")
    (1 to 5).foreach { i =>
      assert(spark.read.json(s"$out/transformed/f$i.json").count() === 1)
    }
  }

  test("checkpoint gives exactly-once across drains: re-run processes nothing new") {
    val landing = tmp(); val out = tmp(); val ckpt = tmp()
    Files.writeString(java.nio.file.Paths.get(landing, "x.json"), "{\"name\":\"x\",\"id\":1}\n")
    Pipeline.run(spark, landing, out, schema, ckpt).awaitTermination()
    val mtime = new java.io.File(s"$out/transformed/x.json").lastModified()
    Thread.sleep(1100)
    Pipeline.run(spark, landing, out, schema, ckpt).awaitTermination()
    assert(new java.io.File(s"$out/transformed/x.json").lastModified() === mtime,
      "second drain must not rewrite an already-processed object")
    // a new arrival is the only thing the next drain processes
    Etl.upload(spark, landing, "y.json", "{\"name\":\"y\",\"id\":2}\n")
    Pipeline.run(spark, landing, out, schema, ckpt).awaitTermination()
    assert(spark.read.json(s"$out/transformed/y.json")
      .head().getAs[String]("uppercase_name") === "Y")
    assert(new java.io.File(s"$out/transformed/x.json").lastModified() === mtime,
      "the new-arrival drain must not reprocess older objects")
  }
}

class StreamOpsSpec extends SparkSpec {

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeEvents(dir: String, rows: String*): Unit =
    Files.writeString(java.nio.file.Paths.get(dir, "e.json"), rows.mkString("\n"))

  test("streaming tumbling counts match the batch operator on the same data") {
    val dir = Files.createTempDirectory("graft-ev").toString
    writeEvents(dir,
      """{"event_id":1,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"c","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:02:00Z","user_id":1,"event_type":"c","value":2.0}""",
      """{"event_id":3,"ts":"2024-01-01T00:07:00Z","user_id":2,"event_type":"v","value":3.0}""")

    val stream = spark.readStream.schema(eventsSchema).json(dir)
    val q = StreamOps.tumblingCounts(stream)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("tumbling_out").orderBy("w_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("2024-01-01T00:00:00Z", "c", 2L, 3.0),
      ("2024-01-01T00:05:00Z", "v", 1L, 3.0)))
  }

  test("streaming OHLC bars: open/close follow event-time order, not arrival order") {
    val dir = Files.createTempDirectory("graft-ohlc").toString
    // Arrival order deliberately scrambled vs event time within the window.
    writeEvents(dir,
      """{"event_id":3,"ts":"2024-01-01T00:03:00Z","user_id":1,"event_type":"c","value":9.0}""",
      """{"event_id":1,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"c","value":4.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:02:00Z","user_id":1,"event_type":"c","value":1.0}""")
    val stream = spark.readStream.schema(eventsSchema).json(dir)
    val q = StreamOps.ohlcBars(stream)
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ohlc_out")
      .select("open", "high", "low", "close", "n", "volume").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq((4.0, 9.0, 1.0, 9.0, 3L, 14.0)))
  }

  test("stream-stream interval join attributes clicks to in-horizon views only") {
    val vdir = Files.createTempDirectory("graft-ssv").toString
    val cdir = Files.createTempDirectory("graft-ssc").toString
    writeEvents(vdir,
      """{"event_id":10,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"view","value":0.0}""",
      """{"event_id":11,"ts":"2024-01-01T00:30:00Z","user_id":2,"event_type":"view","value":0.0}""")
    writeEvents(cdir,
      // in horizon of view 10 (same user, +4 min)
      """{"event_id":20,"ts":"2024-01-01T00:04:00Z","user_id":1,"event_type":"click","value":0.0}""",
      // same user but 20 min after view 10 — outside the 10-min horizon
      """{"event_id":21,"ts":"2024-01-01T00:20:00Z","user_id":1,"event_type":"click","value":0.0}""",
      // other user, in horizon of view 11
      """{"event_id":22,"ts":"2024-01-01T00:35:00Z","user_id":2,"event_type":"click","value":0.0}""")

    val views = spark.readStream.schema(eventsSchema).json(vdir)
    val clicks = spark.readStream.schema(eventsSchema).json(cdir)
    val q = StreamOps.attributeClicksToViews(views, clicks)
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("ssjoin_out").select("view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 20L), (11L, 22L)))
  }

  test("left-outer stream-stream join emits unmatched views only past the watermark") {
    val vdir = Files.createTempDirectory("graft-slv").toString
    val cdir = Files.createTempDirectory("graft-slc").toString
    val ckpt = Files.createTempDirectory("graft-sl-ck").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    // the shared writeEvents helper overwrites one fixed file (fine for
    // single-wave suites); multi-wave drains need fresh file names or the
    // source never sees the later arrivals
    def arrive(dir: String, rows: String*): Unit =
      Files.writeString(java.nio.file.Paths.get(dir, s"w${System.nanoTime}.json"),
        rows.mkString("\n"))
    def drain(): Unit = {
      val views = spark.readStream.schema(eventsSchema).json(vdir)
      val clicks = spark.readStream.schema(eventsSchema).json(cdir)
      val q = StreamOps.attributeViewsLeftOuter(views, clicks)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.select("view_id", "click_id").collect()
            .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    arrive(vdir,
      """{"event_id":10,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"view","value":0.0}""",
      """{"event_id":11,"ts":"2024-01-01T00:30:00Z","user_id":2,"event_type":"view","value":0.0}""")
    arrive(cdir,
      """{"event_id":20,"ts":"2024-01-01T00:04:00Z","user_id":1,"event_type":"click","value":0.0}""")
    drain()
    // the converted view emits immediately; the unconverted one must NOT —
    // a click for user 2 could still arrive inside its horizon
    assert(got.toSet === Set((10L, Some(20L))),
      s"only the matched view may emit before the watermark passes: $got")
    // much later arrivals on BOTH streams: the engine's GLOBAL watermark
    // is the MIN across inputs (multipleWatermarkPolicy=min), so a late
    // click alone cannot prove view 11 unmatched while the view-side
    // watermark still allows late views that could... not matter here,
    // but min() doesn't know that — both sides must advance
    arrive(cdir,
      """{"event_id":99,"ts":"2024-01-01T03:00:00Z","user_id":9,"event_type":"click","value":0.0}""")
    arrive(vdir,
      """{"event_id":98,"ts":"2024-01-01T03:00:00Z","user_id":9,"event_type":"view","value":0.0}""")
    drain()
    // the watermark advance is COMMITTED at the end of the batch that saw
    // the late arrivals; the null flush itself needs one more batch to
    // evaluate under it (restart-boundary twin of the in-run no-data
    // batch) — so push one more arrival and re-drain
    arrive(cdir,
      """{"event_id":100,"ts":"2024-01-01T03:30:00Z","user_id":9,"event_type":"click","value":0.0}""")
    drain()
    assert(got.toSet.contains((11L, None)),
      s"watermark passage must flush the unmatched view with NULL click: $got")
    assert(got.count(_ == (11L, None)) == 1 && got.count(_ == (10L, Some(20L))) == 1,
      s"each view emits exactly once: $got")
  }

  test("streaming top-k emits a window's leaderboard exactly once, on close") {
    val dir = Files.createTempDirectory("graft-topk").toString
    val ckpt = Files.createTempDirectory("graft-topk-ck").toString
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, String, Double)]
    def drain(): Unit = {
      val stream = spark.readStream.schema(eventsSchema).json(dir)
      val q = StreamOps.windowedTopK(stream, ckpt, k = 2) { ranked =>
        got ++= ranked.collect().map(r => (r.getTimestamp(0).toInstant.toString,
          r.getInt(1), r.getString(2), r.getDouble(3)))
      }
      q.awaitTermination()
    }
    writeEvents(dir,
      """{"event_id":1,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"a","value":5.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:02:00Z","user_id":1,"event_type":"b","value":9.0}""",
      """{"event_id":3,"ts":"2024-01-01T00:03:00Z","user_id":2,"event_type":"c","value":7.0}""",
      """{"event_id":4,"ts":"2024-01-01T00:04:00Z","user_id":2,"event_type":"a","value":2.0}""")
    drain()
    // window [00:00, 00:05) is still open: the watermark hasn't passed it
    assert(got.isEmpty, s"open window must not emit, got: $got")
    // a much later event pushes the watermark past the window's end
    Files.writeString(java.nio.file.Paths.get(dir, "late.json"),
      """{"event_id":9,"ts":"2024-01-01T09:00:00Z","user_id":9,"event_type":"z","value":1.0}""")
    drain()
    assert(got.toSeq === Seq(
      ("2024-01-01T00:00:00Z", 1, "b", 9.0),
      ("2024-01-01T00:00:00Z", 2, "a", 7.0)))
    // re-drain with no new data: exactly-once per window — nothing re-emits
    val before = got.size
    drain()
    assert(got.size == before, "re-drain must not re-emit closed windows")
  }

  test("dropDuplicatesWithinWatermark removes in-horizon duplicate keys") {
    val dir = Files.createTempDirectory("graft-dd").toString
    writeEvents(dir,
      """{"event_id":1,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"c","value":1.0}""",
      """{"event_id":1,"ts":"2024-01-01T00:02:00Z","user_id":1,"event_type":"c","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:03:00Z","user_id":2,"event_type":"v","value":2.0}""")
    val stream = spark.readStream.schema(eventsSchema).json(dir)
    val q = StreamOps.dedupWithinWatermark(stream, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }
}
