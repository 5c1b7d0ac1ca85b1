package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BaseGenericInternalRow, ExpectsInputTypes, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.ParsedFields
import graft.parse.LineParser

/** The parse stage as a Catalyst generator: `LineParser.parseAuto` over one
  * `text` value, yielding no row (null text or an unparseable line) or one
  * row of `elementSchema`, the single parse output schema.
  *
  * Generated code makes one static call per input row (`ParseTurn.rows`),
  * and the row it returns converts a field to its Catalyst value only when
  * the consumer reads that field, so columns no query references are never
  * encoded. See graft.operators.ParseStage for why the parse is a Generate.
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

  /** The per-row call the generated code makes. */
  def rows(text: UTF8String): Iterator[InternalRow] =
    if (text == null) Iterator.empty
    else LineParser.parseAuto(text.toString) match {
      case Some(p) => Iterator.single(new ParsedRow(p))
      case None => Iterator.empty
    }

  /** One parsed line as a read-only row over `schema`. Getters convert on
    * read; `isNullAt` never converts.
    */
  private final class ParsedRow(p: ParsedFields) extends BaseGenericInternalRow {
    override def numFields: Int = schema.length

    override def isNullAt(i: Int): Boolean = i match {
      case 4 => p.log_ts.isEmpty
      case 15 | 16 | 17 | 18 | 19 | 20 => p.ua.isEmpty
      case _ => false
    }

    override def getInt(i: Int): Int = if (i == 5) p.tz_offset_sec else p.malicious

    // log_ts: the micros the Timestamp encoder gives, Julian rebase included
    override def getLong(i: Int): Long =
      if (i == 4) DateTimeUtils.fromJavaTimestamp(p.log_ts.get) else p.bytes_sent

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
}
