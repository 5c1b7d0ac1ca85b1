package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.ParseTurn
import org.apache.spark.unsafe.types.UTF8String

import graft.parse.LineParser
import graft.sources.TranscriptGen

/** Profiling entry point: where does a query's or a parse's time go?
  *
  * `runMain graft.Profile query <sfDir> <names|all> [n] [planDir]` times each
  * named `SparkEntry.queries` entry (comma-separated, or `all`) n times
  * (default 3) in the session `Bench` times it in, prints the final adaptive
  * plan and, given a directory, writes `explain("formatted")` of that plan
  * to `<planDir>/<name>.txt`.
  *
  * `runMain graft.Profile parse [nLines] [reps]` times each tier of the parse
  * hot path single-threaded (the Spark stage cost model is per-core work x
  * cores) over generator-shaped lines, no Spark session. The lines sit back
  * to back in one buffer and are read through `UTF8String` views, the way a
  * parquet column vector hands them to the parse stage.
  */
object Profile {

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

  /** Seconds one evaluation of `f` takes. */
  def time(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Min and median seconds of `n` timed runs of `f`, after one untimed
    * warm-up run that pays JIT and codegen.
    */
  def minMedian(n: Int)(f: => Any): (Double, Double) = {
    f
    val ts = Seq.fill(n)(time(f)).sorted
    (ts.head, ts(ts.length / 2))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "query" :: sfDir :: names :: rest =>
      query(sfDir, names, rest.headOption.fold(3)(_.toInt), rest.lift(1))
    case "parse" :: rest =>
      parse(rest.headOption.fold(500000)(_.toInt), rest.lift(1).fold(3)(_.toInt))
    case _ => sys.error("usage: graft.Profile query <sfDir> <names|all> [n] [planDir] | parse [nLines] [reps]")
  }

  private def query(sfDir: String, names: String, n: Int, planDir: Option[String]): Unit = {
    val spark = Bench.session(Sessions.cpus)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val selected = if (names == "all") SparkEntry.queries.keys.toSeq.sorted else names.split(",").toSeq
    selected.foreach { name =>
      val fn = SparkEntry.queries(name)
      var rows = 0L
      val (min, median) = minMedian(n) { rows = fn(spark, sfDir).count() }
      println(f"[profile] $name min=$min%.3f s median=$median%.3f s ($rows rows, n=$n)")
      val df = fn(spark, sfDir)
      df.collect() // finalizes the adaptive plan of this QueryExecution
      println(df.queryExecution.executedPlan)
      planDir.foreach { d =>
        Files.writeString(Paths.get(d, s"$name.txt"), df.queryExecution.explainString(FormattedMode))
      }
    }
    Sessions.stop(spark)
  }

  private def parse(n: Int, reps: Int): Unit = {
    val lay = TranscriptGen.layout(n.toLong)
    val lines = Array.tabulate(n)(i => TranscriptGen.turn(i.toLong, lay).text)
    val buf = lines.mkString.getBytes(StandardCharsets.UTF_8)
    val starts = lines.scanLeft(0)(_ + _.getBytes(StandardCharsets.UTF_8).length)
    def view(i: Int) = UTF8String.fromBytes(buf, starts(i), starts(i + 1) - starts(i))

    def tier(label: String)(f: Int => Long): Unit = {
      var sink = 0L
      val (min, median) = minMedian(reps) {
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
      }
      println(f"[profile] $label%-32s min=$min%7.3f s median=$median%7.3f s " +
        f"(${n / min / 1e6}%6.2f M lines/s)  sink=${sink % 10}")
    }

    tier("decode to String")(i => view(i).toString.length)
    tier("parseAutoRegex (regex tier)")(i => if (LineParser.parseAutoRegex(lines(i)).isDefined) 1 else 0)
    val pos = new Array[Int](LineParser.Slots)
    tier("scan (byte tier, spans only)") { i =>
      val v = view(i)
      if (LineParser.scan(v.getBaseObject, v.getBaseOffset, v.numBytes, pos) != null) 1 else 0
    }
    tier("ParseTurn.rows + ingest reads")(i => ingestParse(view(i)))
    tier("parseAuto (String API)")(i => if (LineParser.parseAuto(lines(i)).isDefined) 1 else 0)
  }
}
