package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` drives it. Each phase runs
  * in its own JVM:
  *
  *   prepare  --workload W --seed S --dir D
  *            check the generator reproduces its seed, then generate the
  *            input table and its expected counts
  *   session  --workload W --seed S --dir D --seconds T --out F
  *            cold session start plus the first repetition, then
  *            repetitions at local[nproc] for T seconds
  *   trace    --workload W --seed S --dir D --seconds T --out F
  *            the per-layer run (see Traced)
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    lazy val w = Workload(opt("workload"))
    lazy val seed = opt("seed").toLong
    lazy val dir = Paths.get(opt("dir")).toAbsolutePath
    lazy val out = Paths.get(opt("out"))
    args.headOption match {
      case Some("prepare") => prepare(w, seed, dir)
      case Some("session") => Json.writeFile(out, Run(w, seed, dir).session(opt("seconds").toDouble))
      case Some("trace") => Json.writeFile(out, Traced(Run(w, seed, dir), opt("seconds").toDouble))
      case other => throw new IllegalArgumentException(s"unknown phase $other")
    }
  }

  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt

  def prepare(w: Workload, seed: Long, dir: Path): Unit = {
    selftest(w, seed)
    val exp = Gen.writeTable(w, seed, Engine.tablePath(dir.resolve("data"), Gen.tableName(w, seed)), cores)
    Json.writeFile(dir.resolve("expected.json"), exp.toMap)
  }

  /** The generator is a pure function of its seed: the same seed gives
    * identical turns, the next seed different ones.
    */
  def selftest(w: Workload, seed: Long): Unit = {
    def digest(s: Long): Long = {
      val g = new Gen(w, s)
      (0L until math.min(w.turns, 20000L)).foldLeft(0L)((h, i) => h * 31L + g.turn(i).hashCode())
    }
    require(digest(seed) == digest(seed), s"${w.name}: seed $seed does not reproduce its input")
    require(digest(seed) != digest(seed + 1), s"${w.name}: seeds $seed and ${seed + 1} give the same input")
  }
}

/** One workload's table, expected counts and job, for one seed. */
final case class Run(w: Workload, seed: Long, dir: Path) {
  val dataRoot: Path = dir.resolve("data")
  val sfDir: String = Gen.tableName(w, seed)
  lazy val expected: Expected = Expected.fromMap(Json.readFile(dir.resolve("expected.json")))
  private var outSeq = 0

  Engine.redirectDataRoot(dataRoot)

  /** Runs the ingest job; returns the check to apply once the clock has
    * stopped.
    */
  def job(spark: SparkSession, outDir: Path): () => Seq[String] = {
    val rows = Engine.ingest(spark, sfDir)
    () => Engine.checkIngest(rows, expected)
  }

  /** Times one repetition of `body` (the job by default) into a fresh
    * output directory, made and removed outside the timed span, then
    * checks its output. A failure is a mismatch, never retried.
    * @return (wall seconds, mismatches; empty when correct)
    */
  def rep(spark: SparkSession, body: (SparkSession, Path) => (() => Seq[String]) = job): (Double, Seq[String]) = {
    val outDir = dir.resolve("out").resolve(s"rep$outSeq")
    outSeq += 1
    Engine.deleteTree(outDir)
    val t0 = System.nanoTime()
    try {
      val check = body(spark, outDir)
      val s = (System.nanoTime() - t0) / 1e9
      (s, check())
    } catch {
      case e: Exception => ((System.nanoTime() - t0) / 1e9, Seq(s"failed: $e"))
    } finally Engine.deleteTree(outDir)
  }

  final class Tally {
    var attempted, failed = 0
    val errors = ArrayBuffer.empty[String]
    def apply(r: (Double, Seq[String])): Double = {
      attempted += 1
      if (r._2.nonEmpty) { failed += 1; errors ++= r._2.take(5) }
      r._1
    }
  }

  /** Cold session start plus the first repetition (not its output check),
    * in seconds.
    */
  def coldStart(tally: Tally): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Engine.session(Main.cores)
    val started = (System.nanoTime() - t0) / 1e9
    (spark, started + tally(rep(spark)))
  }

  /** Repetitions until `seconds` have passed, at least `minReps`. */
  def reps(seconds: Double, minReps: Int)(one: => Double): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = ArrayBuffer.empty[Double]
    while (out.size < minReps || System.nanoTime() < end) out += one
    out.toSeq
  }

  /** One untraced session: cold setup, one discarded warm-up repetition,
    * repetitions at local[nproc] for `seconds` (at least three), and
    * the heap left after the last one. The job keeps getting faster for
    * about a minute after setup, far longer than a run can afford to wait,
    * so every run measures the same window right after the warm-up.
    */
  def session(seconds: Double): Map[String, Any] = {
    val tally = new Tally
    val (spark, setupS) = coldStart(tally)
    val (wide, heapMb) = try {
      tally(rep(spark))
      val r = reps(seconds, 3)(tally(rep(spark)))
      (r, Heap.retainedMb())
    } finally Engine.stop(spark)
    Map("setup_s" -> setupS, "wide_s" -> wide, "retained_heap_mb" -> heapMb,
      "attempted" -> tally.attempted, "failed" -> tally.failed, "errors" -> tally.errors.toSeq)
  }
}

object Heap {
  /** Heap in use after full collections, in MB. The pause between the two
    * lets Spark's ContextCleaner drop the blocks of broadcasts the first
    * collection found unreachable; without it the figure depends on
    * whether the cleaner thread happened to run first.
    */
  def retainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(1000)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
