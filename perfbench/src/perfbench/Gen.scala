package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.model.TranscriptTurn
import graft.sources.TranscriptGen
import graft.sources.TranscriptGen.{Layout, mix}

/** One benchmark workload: the input properties the engine's behaviour
  * depends on. Every workload runs the same ingest job.
  *
  * @param turns         input rows (transcript turns)
  * @param proseShare    share of turns that are chat prose (no log shape,
  *                      dropped by the parse)
  * @param offShapeShare share of UA-bearing log lines whose UA carries tab
  *                      separators: off the parse fast tier's clean shape,
  *                      so the regex tier decides them
  * @param uniqueUris    every log line's URI gets a per-row query string,
  *                      so distinct URIs far exceed the parse memo cap
  */
final case class Workload(name: String, turns: Long, proseShare: Double, offShapeShare: Double,
    uniqueUris: Boolean)

object Workload {
  // On a 4-vCPU host one local[4] repetition of the ingest job takes about
  // 0.8 s on either table.
  val all: Seq[Workload] = Seq(
    Workload("ingest_clean", 300000L, 0.0, 0.0, uniqueUris = false),
    Workload("ingest_mixed", 300000L, 1.0 / 3, 0.25, uniqueUris = true))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}

/** Seeded transcript generator. Reuses TranscriptGen's public pools and its
  * hot-conversation layout; every field is a pure function of
  * (seed, conversation, turn), so one seed always yields the same table.
  * Conversations stay format-sticky, as in TranscriptGen, so the engine's
  * per-line format detection and RefOracle's per-conversation sticky
  * detection pick the same format.
  */
final class Gen(w: Workload, seed: Long) {
  import Gen._

  val layout: Layout = TranscriptGen.layout(w.turns)
  private val s = mix(seed ^ 0x7e57b3e5c0ffeeL)

  private def h2(a: Long, b: Long): Long = mix(mix(a ^ s) ^ b)
  private def pick(h: Long, shift: Int, n: Int): Int = (((h >>> shift) & 0xffffffL) % n).toInt
  private def roll(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** conversations as (first global turn index, length), in order */
  def conversations: Iterator[(Long, Int)] = {
    val tailConvs = (w.turns - layout.hotTotal + layout.tailLen - 1) / layout.tailLen
    Iterator.range(0, layout.hot).map(c => (c * layout.hotLen, layout.hotLen.toInt)) ++
      Iterator.range(0L, tailConvs).map { j =>
        val start = layout.hotTotal + j * layout.tailLen
        (start, math.min(layout.tailLen, w.turns - start).toInt)
      }
  }

  /** One turn plus what the generator knows about it. */
  def turn(i: Long): GenTurn = {
    val (c, t) = layout.convOf(i)
    val hc = h2(c, 2L)
    val h = h2(c * 1000003L, t.toLong)
    val hx = h2(c * 1000003L + 7L, t.toLong) // independent rolls

    val fmtRoll = pick(hc, 0, 10)
    val fmt = if (fmtRoll == 0) 0 else if (fmtRoll <= 3) 1 else if (fmtRoll <= 5) 2 else if (fmtRoll <= 7) 3 else 4
    val convStart = TranscriptGen.baseEpochSec + (java.lang.Long.remainderUnsigned(hc, 86400L) / 60L) * 60L
    val epochSec = convStart + t.toLong * 37L + (java.lang.Long.remainderUnsigned(h, 21L) - 10L)
    val role =
      if (t == 0) "system"
      else { val r = pick(h, 4, 10); if (r < 4) "user" else if (r < 8) "assistant" else "tool" }
    val tool = if (role == "tool") TranscriptGen.toolPool(pick(h, 12, TranscriptGen.toolPool.size)) else ""
    val ts = new java.sql.Timestamp(epochSec * 1000L)
    val convId = f"conv-$c%08d"

    if (roll(hx) < w.proseShare) {
      val words = 6 + pick(hx, 40, 18)
      val text = (0 until words).map(k => proseWords(pick(mix(hx + k), 8, proseWords.size))).mkString(" ") + "."
      return GenTurn(TranscriptTurn(convId, t, role, text.capitalize, tool, ts), prose = true, offShape = false, uri = null)
    }

    val ip = s"203.0.113.${pick(h, 8, 64)}"
    val pathRoll = pick(h, 32, 100)
    val baseUri =
      if (pathRoll < 70) TranscriptGen.benignPaths(pick(h, 40, TranscriptGen.benignPaths.size))
      else if (pathRoll < 92) TranscriptGen.queryPaths(pick(h, 40, TranscriptGen.queryPaths.size))
      else TranscriptGen.maliciousPaths(pick(h, 40, TranscriptGen.maliciousPaths.size))
    val uri =
      if (!w.uniqueUris) baseUri
      else baseUri + (if (baseUri.contains('?')) "&" else "?") + "r=" + java.lang.Long.toHexString(hx & 0xffffffffffL)
    val method = TranscriptGen.methodPool(pick(h, 56, TranscriptGen.methodPool.size))
    val status = TranscriptGen.statusPool(pick(h, 48, TranscriptGen.statusPool.size))
    val bytes = 1L + java.lang.Long.remainderUnsigned(h, 49999L)
    val ua0 = TranscriptGen.uaPool(pick(h, 16, TranscriptGen.uaPool.size))
    val ua = if (fmt != 0 && ua0.indexOf(' ') >= 0 && roll(mix(hx)) < w.offShapeShare) ua0.replace(' ', '\t') else ua0
    val referer = TranscriptGen.refererPool(pick(h, 24, TranscriptGen.refererPool.size))
    val logname = if (pick(hc, 4, 3) == 0) "frank" else "-"
    val user = if (pick(hc, 12, 4) == 0) "alice" else "-"
    val domain = TranscriptGen.domainPool(pick(hc, 20, TranscriptGen.domainPool.size))
    val tsStr = TranscriptGen.renderTs(epochSec)
    val text = fmt match {
      case 0 => s"""$ip $logname $user [$tsStr] "$method $uri HTTP/1.1" $status $bytes"""
      case 1 => s"""$ip $logname $user [$tsStr] "$method $uri HTTP/1.1" $status $bytes "$referer" "$ua""""
      case 2 => s"""$domain $ip $logname $user [$tsStr] "$method $uri HTTP/1.1" $status $bytes "$referer" "$ua""""
      case 3 => s"""$ip - $user [$tsStr] "$method $uri HTTP/1.1" $status $bytes "$referer" "$ua""""
      case _ =>
        s"""$ip - $user [$tsStr] "$method $uri HTTP/1.1" $status $bytes "$referer" "$ua" 0.${100 + pick(h, 36, 900)} 0.${100 + pick(h, 44, 900)}"""
    }
    GenTurn(TranscriptTurn(convId, t, role, text, tool, ts), prose = false, offShape = ua ne ua0, uri = uri)
  }
}

final case class GenTurn(turn: TranscriptTurn, prose: Boolean, offShape: Boolean, uri: String)

object Gen {
  private val proseWords: Vector[String] = Vector(
    "sure", "here", "is", "the", "summary", "of", "deployment", "logs", "you", "asked", "for",
    "I", "checked", "config", "and", "it", "looks", "fine", "let", "me", "know", "if",
    "anything", "else", "needs", "a", "closer", "look,", "thanks", "retry", "after", "build",
    "failed", "on", "step", "two", "cache", "warm", "request", "route")

  /** Generated table name: a basename no `sf*` fixture or Bench table uses. */
  def tableName(w: Workload, seed: Long): String = s"perfbench-${w.name}-seed$seed"

  /** Write the workload's table as parquet under `dir` (one file per
    * group of whole conversations, written by `threads` writer threads)
    * and compute the expected results in the same pass. Returns the
    * expected counts; `dir/_SUCCESS` marks a complete table.
    */
  def writeTable(w: Workload, seed: Long, dir: Path, threads: Int): Expected = {
    val gen = new Gen(w, seed)
    val files = math.max(64L, w.turns / 50000L).toInt // as many as Tables.synthesize writes
    val perFile = (w.turns + files - 1) / files
    // whole conversations per file, so each writer streams its
    // conversations through the oracle in turn order
    val groups = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[(Long, Int)])
    var filled = 0L
    gen.conversations.foreach { conv =>
      if (filled >= perFile) { groups += mutable.ArrayBuffer.empty; filled = 0L }
      groups.last += conv
      filled += conv._2
    }
    Files.createDirectories(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = groups.zipWithIndex.map { case (convs, k) =>
        pool.submit(() => {
          val acc = new Expected.Acc
          Parquet.writeTurns(dir.resolve(f"part-$k%05d.parquet"), convs.iterator.flatMap { case (start, len) =>
            val turns = (0 until len).map(t => gen.turn(start + t))
            acc.add(turns)
            turns.iterator.map(_.turn)
          })
          acc
        })
      }
      val acc = futures.map(_.get()).reduce(_ merge _)
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      acc.result(gen.layout)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}
