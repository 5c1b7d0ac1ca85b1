package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    // pin the oracle's derived-table globs to THIS run's scale, so verifying
    // at sf0.001/sf0.1 compares against same-scale transcripts + sig tables
    graft.app.OracleSql.verifySf = graft.sources.Tables.sfName(sfDir)
    // pin the LSH/fingerprint signature tables the DuckDB oracle reads
    // (synth-on-first-use, deterministic — see graft.sources.SigTables).
    // A synth failure must not zero the whole round: the 30+ non-sig rows
    // can still verify.
    try graft.sources.SigTables.ensure(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] sig-table synth failed: ${e.getMessage}")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
