package org.apache.spark.sql.catalyst.graft

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import scala.util.Using

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser, JsonInferSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.options(options).json(lines.toDS())`, run on the driver.
  *
  * The Dataset form costs two Spark jobs: one to infer the schema, one to
  * parse. A payload already held by the driver needs neither, so this runs
  * the same Spark code over the lines in the calling thread:
  *
  *  - schema: `JsonInferSchema.inferField` per line (a line Jackson cannot
  *    read infers as the corrupt-record struct, as PERMISSIVE inference
  *    does), folded with `compatibleRootType` from `StructType(Nil)`, then
  *    `canonicalizeType` (`private[catalyst]`, hence this package), with
  *    `StructType(Nil)` when nothing is left;
  *  - rows: `JacksonParser` inside `FailureSafeParser`, as
  *    `DataFrameReader.json(Dataset)` parses each partition.
  *
  * The rows come back as a `LocalRelation`, so the optimizer folds any
  * projection over them (`ConvertToLocalRelation`) and collecting one
  * launches no job. Only PERMISSIVE is modelled: it is the mode whose
  * inference never fails a payload.
  */
object JsonBridge {

  def parse(spark: SparkSession, lines: Seq[String], options: Map[String, String]): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val opts = new JSONOptions(options, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      require(opts.parseMode == PermissiveMode, s"only PERMISSIVE is supported, got ${opts.parseMode}")
      val schema = inferSchema(lines, opts)
      ExprUtils.verifyColumnNameOfCorruptRecord(schema, opts.columnNameOfCorruptRecord)
      val actual = StructType(schema.filterNot(_.name == opts.columnNameOfCorruptRecord))
      val raw = new JacksonParser(actual, opts, allowArrayAsStructs = true)
      val parser = new FailureSafeParser[String](
        line => raw.parse(line, CreateJacksonParser.string, UTF8String.fromString),
        opts.parseMode, schema, opts.columnNameOfCorruptRecord)
      // FailureSafeParser reuses one result row across records
      val rows = lines.iterator.flatMap(parser.parse).map(_.copy()).toVector
      Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
    }
  }

  private def inferSchema(lines: Seq[String], opts: JSONOptions): StructType = {
    val inferrer = new JsonInferSchema(opts)
    val merge = JsonInferSchema.compatibleRootType(opts.columnNameOfCorruptRecord, opts.parseMode)
    val corrupt = StructType(Array(StructField(opts.columnNameOfCorruptRecord, StringType)))
    val factory = opts.buildJsonFactory()
    val root = lines.iterator.map { line =>
      try Using.resource(CreateJacksonParser.utf8String(factory, UTF8String.fromString(line))) { p =>
        p.nextToken()
        inferrer.inferField(p)
      } catch {
        case _: RuntimeException | _: JsonProcessingException |
             _: MalformedInputException | _: CharConversionException => corrupt
      }
    }.foldLeft(StructType(Nil): DataType)(merge)
    inferrer.canonicalizeType(root, opts)
      .collect { case st: StructType => st }
      .getOrElse(StructType(Nil))
  }
}
