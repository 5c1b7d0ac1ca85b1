package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.Tables

/** The parse stage's output contract and its two execution paths: the
  * generated code and the generator's interpreted `eval`.
  */
class ParseStageSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("parse output: column names, order and types") {
    val expected = Seq(
      "conv_id" -> StringType, "turn_idx" -> IntegerType, "role" -> StringType,
      "tool" -> StringType, "ts" -> TimestampType, "text" -> StringType,
      "domain" -> StringType, "client_ip" -> StringType, "remote_logname" -> StringType,
      "remote_user" -> StringType, "log_ts" -> TimestampType, "tz_offset_sec" -> IntegerType,
      "method" -> StringType, "path" -> StringType, "path1" -> StringType,
      "path2" -> StringType, "path3" -> StringType, "protocol" -> StringType,
      "status" -> StringType, "bytes_sent" -> LongType, "referer" -> StringType,
      "ua_full" -> StringType, "ua_os" -> StringType, "ua_family" -> StringType,
      "ua_device_type" -> StringType, "ua_human" -> StringType, "ua_intent" -> StringType,
      "malicious" -> IntegerType, "format" -> StringType)
    val transcripts = Tables.transcripts(spark, sf)
    assert(ParseStage.parse(transcripts).schema.map(f => f.name -> f.dataType) == expected)
    assert(ParseStage.parse(transcripts, keepText = false).columns.toSeq ==
      expected.map(_._1).filter(_ != "text"))
  }

  test("whole-stage codegen off (the generator's eval path) gives the codegen output") {
    val ts = new java.sql.Timestamp(0L)
    val crafted = Seq(
      null, "", "not a log line",
      """1.2.3.4 - - [01/Jan/+100000:00:00:00 +0100] "GET /a/b HTTP/1.1" 200 7""",
      """1.2.3.4 - - [01/Jan/-100000:00:00:00 +0000] "GET / HTTP/1.1" 200 2""",
      """1.2.3.4 - - [01/Jan/+999999999:00:00:00 +0000] "GET / HTTP/1.1" 200 1""",
      """d.com 1.2.3.4 - u [02/Jan/2006:15:04:05 -0700] "GET /x?utm_source=y HTTP/1.1" 404 3 "http://www.r.org/" "curl/8.0"""")
      .zipWithIndex.map { case (text, i) => Row("crafted", i, "user", text, "", ts) }
    val input = Tables.transcripts(spark, sf).unionByName(
      spark.createDataFrame(java.util.Arrays.asList(crafted: _*), Tables.transcriptSchema))
    def rows(): Seq[String] = {
      val parsed: DataFrame = ParseStage.parse(input)
        .withColumn("w", ParseStage.timeWindowCol(col("log_ts"), col("tz_offset_sec")))
      parsed.collect().map(_.toString).toSeq.sorted
    }
    val key = "spark.sql.codegen.wholeStage"
    val codegen = rows()
    spark.conf.set(key, "false")
    val interpreted = try rows() finally spark.conf.unset(key)
    // null, empty and prose texts yield no row; every log line yields one
    assert((0 to 6).map(i => codegen.count(_.startsWith(s"[crafted,$i,"))) == Seq(0, 0, 0, 1, 1, 1, 1))
    assert(codegen.size == interpreted.size)
    codegen.zip(interpreted).foreach { case (a, b) => assert(a == b) }
  }
}
