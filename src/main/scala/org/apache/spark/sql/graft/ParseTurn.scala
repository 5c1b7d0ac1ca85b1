package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BaseGenericInternalRow, ExpectsInputTypes, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.RebaseDateTime
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.ParsedFields
import graft.parse.{LineParser, UserAgents}

/** The parse stage as a Catalyst generator over one `text` value, yielding
  * no row (null text or an unparseable line) or one row of `elementSchema`,
  * the single parse output schema.
  *
  * Generated code makes one static call per input row (`ParseTurn.rows`),
  * which parses in two tiers:
  *  - the byte scan (`LineParser.scan`) reads the `UTF8String`'s bytes in
  *    place. A line it decides is never decoded: its row serves raw
  *    captures as views of `text`, parses `log_ts` from the bytes and takes
  *    derived fields from the URI, referer and UA memos;
  *  - any other line (off the clean shape, non-ASCII or malformed UTF-8) is
  *    decoded and parsed by the regex chain (`LineParser.parseAutoRegex`),
  *    and its row adapts the resulting ParsedFields.
  * Either row converts a field to its Catalyst value only when the consumer
  * reads it, so columns no query references are never encoded. See
  * graft.operators.ParseStage for why the parse is a Generate.
  */
case class ParseTurn(child: Expression) extends UnaryExpression with Generator with ExpectsInputTypes {

  override def elementSchema: StructType = ParseTurn.schema

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    ParseTurn.rows(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val text = child.genCode(ctx)
    val obj = ParseTurn.getClass.getName.stripSuffix("$")
    ev.copy(code =
      code"""
         |${text.code}
         |scala.collection.Iterator<InternalRow> ${ev.value} =
         |  $obj.rows(${text.isNull} ? null : ${text.value});
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseTurn = copy(child = newChild)
}

object ParseTurn {

  /** Parse output columns, in output order. Nullable exactly where the
    * parse can leave a value unset: `log_ts` (unparseable timestamp) and
    * the `ua_*` fields (formats without a user agent).
    */
  val schema: StructType = {
    def str(name: String) = StructField(name, StringType, nullable = false)
    def ua(name: String) = StructField(name, StringType, nullable = true)
    StructType(Seq(
      str("domain"), str("client_ip"), str("remote_logname"), str("remote_user"),
      StructField("log_ts", TimestampType, nullable = true),
      StructField("tz_offset_sec", IntegerType, nullable = false),
      str("method"), str("path"), str("path1"), str("path2"), str("path3"),
      str("protocol"), str("status"),
      StructField("bytes_sent", LongType, nullable = false),
      str("referer"),
      ua("ua_full"), ua("ua_os"), ua("ua_family"), ua("ua_device_type"), ua("ua_human"), ua("ua_intent"),
      StructField("malicious", IntegerType, nullable = false),
      str("format")))
  }

  /** The per-row call the generated code makes. The byte scan decides the
    * line in place; a line it does not decide (off the clean shape,
    * non-ASCII or malformed UTF-8) is decoded and goes to the regex tier.
    */
  def rows(text: UTF8String): Iterator[InternalRow] = {
    if (text == null) return Iterator.empty
    val pos = new Array[Int](LineParser.Slots)
    val fmt = LineParser.scan(text.getBaseObject, text.getBaseOffset, text.numBytes, pos)
    if (fmt != null) Iterator.single(new ScannedRow(text, fmt, pos))
    else LineParser.parseAutoRegex(text.toString) match {
      case Some(p) => Iterator.single(new ParsedRow(p))
      case None => Iterator.empty
    }
  }

  /** One parsed line as a read-only row over `schema`. Getters convert on
    * read; `isNullAt` never encodes a value (ScannedRow parses the timestamp
    * to tell whether it is null and keeps it for the read).
    */
  private abstract class LineRow extends BaseGenericInternalRow {
    override def numFields: Int = schema.length

    override protected def genericGet(i: Int): Any =
      if (isNullAt(i)) null
      else i match {
        case 5 | 21 => getInt(i)
        case 4 | 13 => getLong(i)
        case _ => getUTF8String(i)
      }

    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException("read-only row")
    override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException("read-only row")
  }

  /** A line the byte scan decided, served from its bytes: raw captures are
    * views of `text` (no copy), `log_ts` is parsed in place, and the derived
    * fields come from the URI, referer and UA memos, each looked up only
    * when one of its fields is read. Nothing is decoded.
    */
  private final class ScannedRow(text: UTF8String, fmt: LineParser.Format, pos: Array[Int])
      extends LineRow {
    import LineParser._

    private val base = text.getBaseObject
    private val off = text.getBaseOffset
    private var ts = Unread
    private var uri: UriFields = _
    private var ua: UserAgents.UaClass = _

    private def start(f: Int): Long = off + pos(2 * f)
    private def length(f: Int): Int = pos(2 * f + 1) - pos(2 * f)
    private def slice(f: Int): UTF8String = UTF8String.fromAddress(base, start(f), length(f))

    private def packedTs: Long = {
      if (ts == Unread) ts = tsEpochOff(base, start(FTs), length(FTs))
      ts
    }
    private def uriFields: UriFields = {
      if (uri == null) uri = LineParser.uriFields(slice(FUri))
      uri
    }
    private def uaClass: UserAgents.UaClass = {
      if (ua == null) ua = userAgent(uriFields, slice(FUa))
      ua
    }

    override def isNullAt(i: Int): Boolean = i match {
      case 4 => packedTs == TsNone
      case 15 | 16 | 17 | 18 | 19 | 20 => !fmt.hasUa
      case _ => false
    }

    // tz_offset_sec: 0 for a line without a timestamp, as in ParsedFields
    override def getInt(i: Int): Int =
      if (i == 5) { if (packedTs == TsNone) 0 else tsOffset(packedTs) }
      else uriFields.mal

    override def getLong(i: Int): Long =
      if (i == 4) logTsMicros(tsSec(packedTs)) else atoi(base, start(FBytes), length(FBytes))

    override def getUTF8String(i: Int): UTF8String = i match {
      case 0 => slice(FDomain)
      case 1 => slice(FIp)
      case 2 => slice(FLogname)
      case 3 => slice(FUser)
      case 6 => slice(FMethod)
      case 7 => uriFields.path
      case 8 => uriFields.p1
      case 9 => uriFields.p2
      case 10 => uriFields.p3
      case 11 => slice(FProto)
      case 12 => slice(FStatus)
      case 14 => if (fmt.hasUa) referer(uriFields, slice(FRef)) else UTF8String.EMPTY_UTF8
      case 15 => slice(FUa)
      case 16 => uaClass.os
      case 17 => uaClass.family
      case 18 => uaClass.device
      case 19 => uaClass.human
      case 20 => uaClass.intent
      case 22 => fmt.utf8
    }
  }

  /** `ScannedRow.ts` before the timestamp is read: no packed value */
  private val Unread = Long.MaxValue

  /** `log_ts` as Catalyst micros: what DateTimeUtils.fromJavaTimestamp
    * gives the whole-second Timestamp of `epochSec`, Julian rebase included.
    * The rebase is the identity from its last switch on; testing that first
    * skips its per-call default time zone lookup (a TimeZone clone).
    */
  private def logTsMicros(epochSec: Long): Long = {
    val micros = epochSec * 1000000L
    if (micros >= RebaseDateTime.lastSwitchJulianTs) micros
    else RebaseDateTime.rebaseJulianToGregorianMicros(micros)
  }

  /** A line the regex tier parsed, served from its ParsedFields. */
  private final class ParsedRow(p: ParsedFields) extends LineRow {
    override def isNullAt(i: Int): Boolean = i match {
      case 4 => p.log_ts.isEmpty
      case 15 | 16 | 17 | 18 | 19 | 20 => p.ua.isEmpty
      case _ => false
    }

    override def getInt(i: Int): Int = if (i == 5) p.tz_offset_sec else p.malicious

    // log_ts: parse timestamps are whole seconds (getTime = seconds * 1000)
    override def getLong(i: Int): Long =
      if (i == 4) logTsMicros(Math.floorDiv(p.log_ts.get.getTime, 1000L)) else p.bytes_sent

    override def getUTF8String(i: Int): UTF8String = UTF8String.fromString(string(i))

    private def string(i: Int): String = i match {
      case 0 => p.domain
      case 1 => p.client_ip
      case 2 => p.remote_logname
      case 3 => p.remote_user
      case 6 => p.method
      case 7 => p.path
      case 8 => p.path1
      case 9 => p.path2
      case 10 => p.path3
      case 11 => p.protocol
      case 12 => p.status
      case 14 => p.referer
      case 15 => p.ua.get.ua_full
      case 16 => p.ua.get.ua_os
      case 17 => p.ua.get.ua_family
      case 18 => p.ua.get.ua_device_type
      case 19 => p.ua.get.ua_human
      case 20 => p.ua.get.ua_intent
      case 22 => p.format
    }
  }
}
