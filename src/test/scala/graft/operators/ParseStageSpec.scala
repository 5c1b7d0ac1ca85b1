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
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // the last three leave the byte scan for the regex tier: a non-ASCII
    // line, malformed UTF-8 (a stray 0xff in the UA) and a tab in the UA
    val malformed = utf8("""1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET /m HTTP/1.1" 200 4 "-" "curl/8.0"""")
    malformed(malformed.length - 3) = 0xff.toByte
    val crafted = Seq(
      null, utf8(""), utf8("not a log line"),
      utf8("""1.2.3.4 - - [01/Jan/+100000:00:00:00 +0100] "GET /a/b HTTP/1.1" 200 7"""),
      utf8("""1.2.3.4 - - [01/Jan/-100000:00:00:00 +0000] "GET / HTTP/1.1" 200 2"""),
      utf8("""1.2.3.4 - - [01/Jan/+999999999:00:00:00 +0000] "GET / HTTP/1.1" 200 1"""),
      utf8("""d.com 1.2.3.4 - u [02/Jan/2006:15:04:05 -0700] "GET /x?utm_source=y HTTP/1.1" 404 3 "http://www.r.org/" "curl/8.0""""),
      utf8("""1.2.3.4 - jörg [02/Jan/2006:15:04:05 +0000] "GET /größe/ü?q=é HTTP/1.1" 200 5 "http://www.ß.de/" "Mozilla/5.0 (X11; Linux) Firefox/1.0""""),
      malformed,
      utf8("1.2.3.4 - - [02/Jan/2006:15:04:05 +0000] \"GET /t HTTP/1.1\" 200 6 \"-\" \"Mozilla/5.0\t(Windows NT 10.0)\tChrome/1.0\""))
      .zipWithIndex.map { case (text, i) => Row("crafted", i, "user", text, "", ts) }
    // text as bytes cast to string, so the malformed bytes reach the parse as they are
    val craftedSchema = StructType(Tables.transcriptSchema.map(f =>
      if (f.name == "text") f.copy(dataType = BinaryType) else f))
    val input = Tables.transcripts(spark, sf).unionByName(
      spark.createDataFrame(java.util.Arrays.asList(crafted: _*), craftedSchema)
        .withColumn("text", col("text").cast(StringType)))
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
    assert((0 to 9).map(i => codegen.count(_.startsWith(s"[crafted,$i,"))) == Seq(0, 0, 0, 1, 1, 1, 1, 1, 1, 1))
    def row(i: Int) = codegen.find(_.startsWith(s"[crafted,$i,")).get
    assert(row(7).contains(",jörg,") && row(7).contains(",/größe/ü,"))
    assert(row(8).contains("curl/8\ufffd0"))
    assert(row(9).contains("Mozilla/5.0\t(Windows NT 10.0)"))
    assert(codegen.size == interpreted.size)
    codegen.zip(interpreted).foreach { case (a, b) => assert(a == b) }
  }
}
