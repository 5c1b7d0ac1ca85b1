package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, ParseTurn}
import org.apache.spark.sql.types.LongType

/** The parse stage: one single-pass struct parse per row (SURVEY.md §2
  * P1-P12), as a Catalyst `Generate` node driven by the `ParseTurn`
  * generator over `text`.
  *
  * Why not per-column `regexp_extract`: the built-in re-runs the regex for
  * every projected field (SURVEY.md §4). Why a Generate:
  *  - Generate is a plan node, so the parse runs exactly once per input row.
  *    A struct-returning UDF does not: as a deterministic expression,
  *    CollapseProject and predicate pushdown inline its alias and evaluate
  *    it once per reference; marked `asNondeterministic()`, it evaluates
  *    once but takes whole-stage codegen away from the whole fused stage,
  *    which made the downstream explode + aggregate ~12x slower (4 s → 46 s
  *    at sf0.1).
  *  - Unlike a typed `mapPartitions` over Dataset[TranscriptTurn], Catalyst
  *    sees through it. ColumnPruning reaches the parquet scan (a query that
  *    reads only `role` and the parse fields scans `[role, text]`), and
  *    scan → parse → route → partial aggregate fuse into one whole-stage
  *    codegen stage. The mapPartitions hop cost more than the parse itself:
  *    a row copy of every input column, String and Timestamp decoding of the
  *    provenance columns, a 29-field object per row and its re-encoding.
  *  - The generator's rows encode a field only when a consumer reads it, so
  *    parse columns no query references are never materialized.
  *
  * Inside the generator the parse has two tiers (see ParseTurn): a byte scan
  * that decides clean log lines straight from the column's UTF-8 bytes,
  * handing Catalyst views of them and pre-encoded memo values, and the
  * regex chain for every line the scan does not decide.
  */
object ParseStage {

  val provenanceCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "tool", "ts", "text")

  /** transcripts(conv_id, turn_idx, role, text, tool, ts) → flat parsed DF:
    * the provenance columns, then `ParseTurn.schema`. Unparseable lines and
    * null texts are dropped (the reference counts them as errors and emits
    * nothing, main.go:753-756 / :789).
    *
    * quirk=true reproduces main.go:744's variable shadowing end-to-end: the
    * format-detection line — the first line (in turn order) of each
    * conversation that parses — is itself dropped, exactly like
    * RefOracle.parseConv(quirk = true). Default emits it (documented
    * divergence, SURVEY.md §2 P1).
    */
  def parse(transcripts: DataFrame, keepText: Boolean = true, quirk: Boolean = false): DataFrame = {
    val flat = transcripts.select(
      provenanceCols.map(col) :+ Bridge.column(ParseTurn(Bridge.expression(col("text")))): _*)
    val quirked =
      if (!quirk) flat
      else {
        // detection line = min parsed turn_idx per conversation (parse order
        // IS turn order). A conv-partitioned window — scale-safe, one shuffle.
        // Alternatives considered (VERDICT r4 item 8) and rejected: a
        // secondary-sort mapPartitions costs the same full-row exchange +
        // sort this window plans; a tiny (conv, min) aggregate broadcast
        // back would avoid the full-row shuffle but the dim is #convs rows
        // (~10⁸ at 10¹² turns) — far beyond broadcast. One full-row
        // exchange is the floor for this semantics; this is it.
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("conv_id"))
        flat.withColumn("_det", min(col("turn_idx")).over(w))
          .filter(col("turn_idx") =!= col("_det"))
          .drop("_det")
      }
    if (keepText) quirked else quirked.drop("text")
  }

  /** Instant shifted by its own UTC offset: formatting the result in a UTC
    * session yields the event's local-time fields. Built from the passed
    * Columns (cast arithmetic, not a name-bound expr): log timestamps are
    * whole seconds by construction (strptime stops at seconds), so the
    * long-seconds round-trip is exact.
    */
  def localTs(logTs: Column, tzOffsetSec: Column): Column =
    (logTs.cast("long") + tzOffsetSec.cast("long")).cast("timestamp")

  /** Event-time window as int64 yyyyMMddHHmm, minute floored to the window
    * size, computed in the event's own UTC offset — exact integer semantics
    * of metricgenerator.go:131-158, independent of the session time zone.
    * Null timestamp → the Go zero-time window. One codegen'd static call
    * per row (`windowKey`), not a tree of nested Column arithmetic.
    */
  def timeWindowCol(logTs: Column, tzOffsetSec: Column, windowMinutes: Int = 10): Column = {
    require(Set(1, 5, 10, 15, 30, 60).contains(windowMinutes), s"bad window $windowMinutes")
    val key = StaticInvoke(getClass, LongType, "windowKey",
      Seq(Bridge.expression(logTs), Bridge.expression(tzOffsetSec.cast("int")), Literal(windowMinutes)),
      returnNullable = false)
    // Go zero time "0001010100"+"00" (error ignored at httpservers.go:175)
    coalesce(Bridge.column(key), lit(101010000L))
  }

  /** yyyyMMddHHmm of the local time `tzOffsetSec` east of UTC at
    * `logTsMicros`, minute floored to `windowMinutes`. Local seconds are
    * `cast(log_ts as long) + tz_offset_sec`; the date is the civil-from-days
    * closed form (proleptic Gregorian, like Spark's own date functions).
    */
  def windowKey(logTsMicros: Long, tzOffsetSec: Int, windowMinutes: Int): Long = {
    val local = Math.floorDiv(logTsMicros, 1000000L) + tzOffsetSec
    val secOfDay = Math.floorMod(local, 86400L)
    val z = Math.floorDiv(local, 86400L) + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = yoe + era * 400 + (if (month <= 2) 1 else 0)
    val minute = secOfDay % 3600 / 60
    (((year * 100 + month) * 100 + day) * 100 + secOfDay / 3600) * 100 + (minute - minute % windowMinutes)
  }
}
