package perfbench

import scala.collection.mutable

import graft.model.{Malicious, ParsedFields, TranscriptTurn}
import graft.oracle.RefOracle
import graft.parse.UserAgents
import graft.sources.TranscriptGen.Layout

/** Expected results of one (workload, seed), computed with RefOracle's
  * sticky-format parse one conversation at a time, keeping only counts.
  * Also carries the realized input properties the run artifact records.
  */
final case class Expected(
    turns: Long,
    parsed: Long,
    relevant: Long,
    sinkRows: Map[String, Long],
    sinkBytes: Map[String, Long],
    sinkRoleRows: Map[String, Long], // "sink/role" → rows
    proseShare: Double,
    offShapeShare: Double,
    distinctUris: Long,
    hotShare: Double) {

  def toMap: Map[String, Any] = Map(
    "turns" -> turns, "parsed" -> parsed, "relevant" -> relevant,
    "sink_rows" -> sinkRows, "sink_bytes" -> sinkBytes, "sink_role_rows" -> sinkRoleRows,
    "prose_share" -> proseShare, "off_shape_share" -> offShapeShare,
    "distinct_uris" -> distinctUris, "uri_memo_cap" -> Expected.UriMemoCap,
    "hot_conversation_share" -> hotShare)
}

object Expected {
  /** LineParser's per-URI memo stops inserting at this many entries */
  val UriMemoCap = 100000L

  /** Route.rules, restated over the oracle's parse output */
  def sinkOf(t: TranscriptTurn, p: ParsedFields): String =
    if (p.malicious != Malicious.Unknown) "quarantine"
    else if (RefOracle.isRelevant(p)) "relevant"
    else if (t.role == "tool" ||
        p.ua.exists(u => u.ua_device_type == UserAgents.DeviceScript || u.ua_human == UserAgents.HumanNo))
      "bot_traffic"
    else "archive"

  def fromMap(m: Map[String, Any]): Expected = {
    def num(k: String) = Json.num(m(k))
    def longs(k: String) = Json.obj(m(k)).map { case (a, b) => a -> Json.num(b).toLong }
    Expected(num("turns").toLong, num("parsed").toLong, num("relevant").toLong,
      longs("sink_rows"), longs("sink_bytes"), longs("sink_role_rows"),
      num("prose_share"), num("off_shape_share"), num("distinct_uris").toLong, num("hot_conversation_share"))
  }

  /** Per-writer accumulator; one per thread, merged at the end. */
  final class Acc {
    var turns, parsed, relevant, prose, logLines, offShape = 0L
    val sinkRows, sinkBytes, sinkRoleRows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val uriHashes = mutable.HashSet.empty[Long]

    /** one whole conversation, in turn order */
    def add(conv: Seq[GenTurn]): Unit = {
      conv.foreach { g =>
        turns += 1
        if (g.prose) prose += 1
        else {
          logLines += 1
          if (g.offShape) offShape += 1
          uriHashes += graft.operators.Dedup.fnv1a(g.uri)
        }
      }
      RefOracle.parseConv(conv.map(_.turn)).foreach { case (t, p) =>
        val sink = sinkOf(t, p)
        parsed += 1
        if (RefOracle.isRelevant(p)) relevant += 1
        sinkRows(sink) += 1
        sinkBytes(sink) += p.bytes_sent
        sinkRoleRows(s"$sink/${t.role}") += 1
      }
    }

    def merge(o: Acc): Acc = {
      turns += o.turns; parsed += o.parsed; relevant += o.relevant; prose += o.prose
      logLines += o.logLines; offShape += o.offShape
      Seq(sinkRows -> o.sinkRows, sinkBytes -> o.sinkBytes, sinkRoleRows -> o.sinkRoleRows)
        .foreach { case (a, b) => b.foreach { case (k, v) => a(k) += v } }
      uriHashes ++= o.uriHashes
      this
    }

    def result(lay: Layout): Expected = Expected(
      turns, parsed, relevant, sinkRows.toMap, sinkBytes.toMap, sinkRoleRows.toMap,
      proseShare = prose.toDouble / turns,
      offShapeShare = offShape.toDouble / math.max(1L, logLines),
      distinctUris = uriHashes.size.toLong,
      hotShare = lay.hotTotal.toDouble / turns)
  }
}
