package graft.etl

import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** `Ndjson.parseLocal` (the driver-side parse of an upload) against
  * `Ndjson.parse` over the same lines as a Dataset: the same schema (field
  * order and nullability included) and the same rows, on the awkward
  * payloads, at the default conf and with partial results flipped. An
  * upload lands the bytes the Dataset path's `toJSON` renders.
  */
class ParseLocalParitySpec extends SparkSpec {

  private val cases: Seq[(String, Seq[String])] = Seq(
    "blank and whitespace-only lines" -> Seq("", "   ", "\t", """{"a":1}""", " "),
    "only blank lines" -> Seq("", "  "),
    "no lines" -> Seq.empty,
    "corrupt lines" -> Seq("""{"a":1,"b":"x"}""", """{"a":""", "not json", """{"a":2}""", """{"a":3,}"""),
    "scalar top-level lines" -> Seq("1", "\"s\"", "true", "null", "2.5", """{"a":1}"""),
    "only scalars" -> Seq("1", "\"two\""),
    "arrays of objects and []" -> Seq("""[{"a":1},{"a":2,"b":"x"}]""", "[]", """{"a":3}""", "[1,2]"),
    "int/string conflict" -> Seq("""{"v":1}""", """{"v":"x"}"""),
    "int/double conflict" -> Seq("""{"v":1}""", """{"v":2.5}""", """{"v":-7}"""),
    "struct/string conflict" -> Seq("""{"v":{"x":1}}""", """{"v":"s"}"""),
    "nested structs and arrays" -> Seq(
      """{"s":{"t":{"u":[1,2]},"l":[{"k":"a"},{"k":"b","m":null}]},"z":[[1],[2,3]]}""",
      """{"s":{"t":{"u":[]}},"z":[]}""", """{"s":null}"""),
    "all-null fields" -> Seq("""{"n":null,"a":1}""", """{"n":null}""", """{"m":[],"o":{}}"""),
    "integers beyond Long and exponents" -> Seq(
      """{"big":123456789012345678901234567890,"e":1e3,"f":-2.5E-4,"g":9223372036854775807}""",
      """{"big":1,"e":2,"f":0,"g":-9223372036854775808}"""),
    "unicode and escapes" -> Seq(
      """{"s":"ü€😀 ✓","t":"a\"b\\c\n\tAé","u":"😀"}""", """{"ü":"x","s":"tab\tin"}"""),
    "duplicate keys" -> Seq("""{"a":1,"a":2}""", """{"a":3}"""),
    "empty objects" -> Seq("{}", "{}"),
    "empty objects beside fields" -> Seq("{}", """{"a":"x"}"""),
    "a field named _corrupt_record" -> Seq("""{"_corrupt_record":"x","a":1}""", "bad{", """{"a":2}"""),
    "the bench's record shapes" -> Seq(
      """{"id":1,"name":"alice","extra":{"score":3,"tags":["a","b"]}}""", """{"id":2}""",
      """{"id":3,"name":null}""", "", """{"id":4,"name":"bob","extra":{"tags":[]}}""", """{"id":5,"nam"""))

  private val payloads = cases :+ ("every case in one payload" -> cases.flatMap(_._2))

  /** The outcome of a parse: schema and rendered rows, or the failure. */
  private def outcome(df: => DataFrame): Either[String, (String, Seq[String])] =
    Try { val d = df; (d.schema.json, d.toJSON.collect().toSeq) }
      .toEither.left.map(e => Option(e.getCause).getOrElse(e).getClass.getName)

  private def viaDataset(lines: Seq[String]): DataFrame = {
    import spark.implicits._
    Ndjson.parse(spark, lines.toDS())
  }

  private def withPartialResults(value: Option[String])(body: => Unit): Unit = {
    val key = "spark.sql.json.enablePartialResults"
    val prev = spark.conf.getOption(key)
    value.foreach(spark.conf.set(key, _))
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def flipped: String =
    (!spark.conf.get("spark.sql.json.enablePartialResults").toBoolean).toString

  private val settings: Seq[(String, () => Option[String])] =
    Seq("default conf" -> (() => None), "partial results flipped" -> (() => Some(flipped)))

  for ((conf, setting) <- settings)
    test(s"parseLocal matches the Dataset parse, $conf") {
      withPartialResults(setting()) {
        payloads.foreach { case (name, lines) =>
          assert(outcome(Ndjson.parseLocal(spark, lines)) === outcome(viaDataset(lines)), name)
        }
      }
    }

  test("an upload lands the bytes the Dataset parse renders with toJSON") {
    val landing = Files.createTempDirectory("graft-parity").toString
    val meta = Map("round" -> "r007", Ingest.OutputRootHint -> "/tmp/o")
    payloads.zipWithIndex.foreach { case ((name, lines), i) =>
      Ingest.uploadSourceObject(spark, landing, s"p$i.json", lines.mkString("\n"), meta)
      val expected = meta.foldLeft(viaDataset(lines)) { case (df, (k, v)) =>
        df.withColumn(s"${Ingest.MetadataPrefix}$k", lit(v))
      }.toJSON.collect().mkString("\n") + "\n"
      assert(Files.readString(Paths.get(landing, s"p$i.json")) === expected, name)
    }
  }
}
