package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.Pipeline
import graft.operators.{ParseStage, Route}
import graft.sources.Tables

/** The measured jobs, the session they run in, and their correctness
  * checks against the expected counts.
  */
object Engine {

  /** The session Pipeline.main builds, at `cores` local threads; shuffle
    * partitions follow SPARK_GRAFT_CPUS exactly as Pipeline.main does.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Points `Tables.dataRoot` at `root`, so `Tables.transcripts`, which
    * Pipeline.run's stages read through, finds the generated table inside the
    * benchmark's own work directory. The program hard-codes its data root
    * as a constant; the benchmark must neither read nor write outside the
    * directory it runs in, so it rewrites that constant before any engine
    * code reads it, and fails if the rewrite did not take.
    */
  def redirectDataRoot(root: Path): Unit = {
    val target = root.toAbsolutePath.toString
    require(Tables.dataRoot.nonEmpty) // runs Tables' static initializer before the overwrite
    val field = Tables.getClass.getDeclaredField("dataRoot")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field), target)
    val probe = Tables.transcriptsPath("x")
    require(probe == s"$target/transcripts/x", s"data root redirect failed: $probe")
  }

  /** The table directory Tables.transcripts resolves for `sfDir`. */
  def tablePath(dataRoot: Path, sfDir: String): Path =
    dataRoot.resolve("transcripts").resolve(Tables.sfName(sfDir))

  /** parse → Route.withSink → per-(sink, role, window) rows and bytes_sent,
    * the shape of Bench.pipelineE2E; collected so every value is checked.
    */
  def ingest(spark: SparkSession, sfDir: String): Array[Row] =
    Route.withSink(ParseStage.parse(Tables.transcripts(spark, sfDir)))
      .groupBy(col("sink"), col("role"),
        ParseStage.timeWindowCol(col("log_ts"), col("tz_offset_sec")).as("w"))
      .agg(count(lit(1)).as("rows"), sum(col("bytes_sent")).as("bytes"))
      .collect()

  /** @return mismatches against the expected counts; empty when correct */
  def checkIngest(rows: Array[Row], exp: Expected): Seq[String] = {
    def sums(key: Row => String, value: Row => Long): Map[String, Long] =
      rows.groupBy(key).map { case (k, rs) => k -> rs.map(value).sum }
    val sink = (r: Row) => r.getString(0)
    val rowCount = (r: Row) => r.getLong(3)
    diff("parsed", Map("all" -> rows.map(rowCount).sum), Map("all" -> exp.parsed)) ++
      diff("sink rows", sums(sink, rowCount), exp.sinkRows) ++
      diff("sink bytes_sent", sums(sink, _.getLong(4)), exp.sinkBytes) ++
      diff("sink/role rows", sums(r => s"${r.getString(0)}/${r.getString(1)}", rowCount), exp.sinkRoleRows)
  }

  /** Checks a finished run of Pipeline.run's stages: the fan-out wrote
    * (not resumed) and its manifest's per-sink rows match, the relog holds
    * one line per parsed row, and the raw-log sink holds exactly the
    * relevant rows.
    */
  def checkPipeline(res: Pipeline.Result, outDir: Path, exp: Expected): Seq[String] = {
    val routed = outDir.resolve("routed")
    val written = Files.exists(routed.resolve("data").resolve("_SUCCESS"))
    val manifestFile = routed.resolve("_lineage").resolve("manifest.json")
    val manifest = if (Files.exists(manifestFile)) Files.readString(manifestFile) else ""
    val perSink = """"sink":"([^"]*)","bucket":"[^"]*","rows":(\d+)""".r.findAllMatchIn(manifest)
      .map(m => m.group(1) -> m.group(2).toLong).toSeq
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val relogLines = dataFiles(outDir.resolve("relog"), ".json").map { f =>
      val b = Files.readAllBytes(f); b.count(_ == '\n'.toByte).toLong
    }.sum
    val rawRows = dataFiles(outDir.resolve("rawlogs"), ".parquet").map(Parquet.rowCount).sum
    (if (written) Nil else Seq("fan-out data was not written (resumed or failed)")) ++
      (if (manifest.nonEmpty && res.manifest == manifest) Nil else Seq("manifest missing or not the one returned")) ++
      diff("manifest sink rows", perSink, exp.sinkRows) ++
      diff("rows", Map("result" -> res.rows, "relog lines" -> relogLines, "rawlogs" -> rawRows),
        Map("result" -> exp.parsed, "relog lines" -> exp.parsed, "rawlogs" -> exp.relevant))
  }

  /** part files with `suffix` under `dir`, recursively */
  def dataFiles(dir: Path, suffix: String = ""): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(suffix))
        .toVector
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator())
      .asScala.foreach(Files.delete)
    finally s.close()
  }

  private def diff(what: String, got: Map[String, Long], want: Map[String, Long]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      val (g, w) = (got.getOrElse(k, 0L), want.getOrElse(k, 0L))
      if (g == w) None else Some(s"$what[$k]: got $g, expected $w")
    }
}
