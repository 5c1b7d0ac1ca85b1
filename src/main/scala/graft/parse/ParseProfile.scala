package graft.parse

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.graft.ParseTurn
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TranscriptGen

/** Dev microbenchmark: where does per-line parse time go? Times components of
  * the parse hot path over generator-shaped lines, single-threaded (the
  * Spark stage cost model is per-core work x cores). No Spark session.
  * The lines sit back to back in one buffer and are read through
  * `UTF8String` views, the way a parquet column vector hands them to the
  * parse stage.
  *
  * `runMain graft.parse.ParseProfile [nLines] [reps]`
  */
object ParseProfile {

  private val Seq(malicious, status, bytesSent, tzOffset, logTs, uaDevice, uaFamily, uaHuman) =
    Seq("malicious", "status", "bytes_sent", "tz_offset_sec", "log_ts", "ua_device_type", "ua_family",
      "ua_human").map(ParseTurn.schema.fieldIndex)

  /** The ingest job's parse work for one `text` value, without Spark: the
    * generator's per-row call plus reads of the eight parse fields the job
    * uses (Route.sinkCol, ParseStage.timeWindowCol, sum(bytes_sent)).
    * Returns a checksum of the values read; 0 when the line yields no row.
    */
  def ingestParse(text: UTF8String): Long = {
    val it = ParseTurn.rows(text)
    if (!it.hasNext) return 0L
    val r = it.next()
    var h = r.getInt(malicious) + r.getUTF8String(status).numBytes + r.getLong(bytesSent) + r.getInt(tzOffset)
    if (!r.isNullAt(logTs)) h += r.getLong(logTs)
    if (!r.isNullAt(uaDevice)) {
      h += r.getUTF8String(uaDevice).numBytes + r.getUTF8String(uaFamily).numBytes +
        r.getUTF8String(uaHuman).numBytes
    }
    h
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 500000
    val reps = if (args.length > 1) args(1).toInt else 3
    val lay = TranscriptGen.layout(n.toLong)
    val lines = Array.tabulate(n)(i => TranscriptGen.turn(i.toLong, lay).text)
    val encoded = lines.map(_.getBytes(StandardCharsets.UTF_8))
    val buf = new Array[Byte](encoded.map(_.length).sum)
    val starts = encoded.scanLeft(0)(_ + _.length)
    encoded.zipWithIndex.foreach { case (b, i) => System.arraycopy(b, 0, buf, starts(i), b.length) }
    def view(i: Int) = UTF8String.fromBytes(buf, starts(i), starts(i + 1) - starts(i))

    def time(label: String)(f: => Long): Unit = {
      // warm-up + reps, report best
      var best = Double.MaxValue
      var sink = 0L
      (0 to reps).foreach { r =>
        val t0 = System.nanoTime()
        sink += f
        val dt = (System.nanoTime() - t0) / 1e9
        if (r > 0 && dt < best) best = dt
      }
      println(f"[profile] $label%-32s $best%7.3f s  (${n / best / 1e6}%6.2f M lines/s)  sink=${sink % 10}")
    }

    time("decode to String") {
      var s = 0L; var i = 0
      while (i < n) { s += view(i).toString.length; i += 1 }
      s
    }
    time("parseAutoRegex (regex tier)") {
      var s = 0L; var i = 0
      while (i < n) { if (LineParser.parseAutoRegex(lines(i)).isDefined) s += 1; i += 1 }
      s
    }
    time("scan (byte tier, spans only)") {
      var s = 0L; var i = 0
      val pos = new Array[Int](LineParser.Slots)
      while (i < n) {
        val v = view(i)
        if (LineParser.scan(v.getBaseObject, v.getBaseOffset, v.numBytes, pos) != null) s += 1
        i += 1
      }
      s
    }
    time("ParseTurn.rows + ingest reads") {
      var s = 0L; var i = 0
      while (i < n) { s += ingestParse(view(i)); i += 1 }
      s
    }
    time("parseAuto (String API)") {
      var s = 0L; var i = 0
      while (i < n) { if (LineParser.parseAuto(lines(i)).isDefined) s += 1; i += 1 }
      s
    }
  }
}
