package graft.parse

import java.nio.charset.StandardCharsets
import java.time.OffsetDateTime
import java.time.format.ResolverStyle
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap
import java.util.regex.{Matcher, Pattern}

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{Malicious, ParsedFields}

/** The "grok" stage: the five log-format parsers plus the derived fields
  * (path split, referer normalization, malicious classification, UA
  * classification, robots override). Semantics mirror the reference
  * (logparsers/httpservers.go) exactly; pinned by LineParserSpec.
  *
  * Format auto-detection follows the reference quirk (main.go:743-749): the
  * detection loop does not break, so the LAST matching format wins — which is
  * equivalent to first-match over the reversed format list, the form used
  * here so each row tries at most 5 regexes and stops early.
  *
  * Two tiers decide a line: `scan`, a structural scan over its UTF-8 bytes
  * that decides the clean log-line shape without decoding or regexes, and
  * `parseAutoRegex`, the regex chain, for everything else. Both share the
  * URI, referer and UA memos, whose keys are UTF-8 bytes and whose values
  * are pre-encoded parse-column values.
  */
object LineParser {

  /** @param hasUa the format captures a referer and a user agent */
  sealed abstract class Format(val name: String, val hasUa: Boolean = true) {
    /** `name` as the parse stage's `format` column value */
    val utf8: UTF8String = UTF8String.fromString(name)
  }
  case object ApacheCommon extends Format("apache_common", hasUa = false)
  case object ApacheCombined extends Format("apache_combined")
  case object ApacheVHostCombined extends Format("apache_vhost_combined")
  case object NginxCombined extends Format("nginx_combined")
  case object NginxCustom extends Format("nginx_custom")

  /** reference declaration order — main.go:735-739 */
  val formatsInOrder: Seq[Format] =
    Seq(ApacheCommon, ApacheCombined, ApacheVHostCombined, NginxCombined, NginxCustom)

  // regexes — httpservers.go:170, :197, :229, :260, :289
  private val reCommon = Pattern.compile(
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+)$")
  private val reCombined = Pattern.compile(
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\"$")
  private val reVHost = Pattern.compile(
    "^(\\S+) (\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\"$")
  private val reNginx = Pattern.compile(
    "^(\\S+) - (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\"$")
  private val reNginxCustom = Pattern.compile(
    "^(\\S+) - (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+) \"([^\"]*)\" \"([^\"]*)\" (\\S+) (\\S+)$")

  private val reUtmSource = Pattern.compile("(\\?|&)utm_source=([^&]+)(&|\\z)")
  private val reXss = Pattern.compile("<script|script>|alert|onmouseover|onmouseout")
  private val reSqlInj = Pattern.compile("'.*(insert|update|exec|execute)")

  // Go layout "02/Jan/2006:15:04:05 -0700" — httpservers.go:322/:332.
  // Go time.Parse matches month names byte-wise case-insensitively
  // ("10/OCT/2000:…" parses), so the formatter is case-insensitive and the
  // fast path folds the month key before lookup.
  private val tsFormat = new java.time.format.DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .appendPattern("dd/MMM/uuuu:HH:mm:ss Z")
    .toFormatter(Locale.ENGLISH)
    .withResolverStyle(ResolverStyle.STRICT)

  private val monthIdx: java.util.Map[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
      .zipWithIndex.foreach { case (n, i) => m.put(n, i + 1) }
    m
  }

  /** ASCII case-fold to the canonical Jan/Feb/... key (Go folds per byte) */
  private def monthKey(s: String, from: Int): String = {
    val c0 = Character.toUpperCase(s.charAt(from))
    val c1 = Character.toLowerCase(s.charAt(from + 1))
    val c2 = Character.toLowerCase(s.charAt(from + 2))
    new String(Array(c0, c1, c2))
  }

  /** allocation-free month lookup over three bytes: the same ASCII
    * case-fold + table as monthKey/monthIdx (value-equivalence pinned in
    * LineParserSpec), returns 1-12 or -1. Bytes >= 0x80 (negative here)
    * never fold into a month: no month name has non-ASCII chars.
    */
  private def monthNum(b0: Int, b1: Int, b2: Int): Int = {
    if (b0 < 0 || b1 < 0 || b2 < 0) return -1
    val c0 = if (b0 >= 'a' && b0 <= 'z') b0 - 32 else b0
    val c1 = if (b1 >= 'A' && b1 <= 'Z') b1 + 32 else b1
    val c2 = if (b2 >= 'A' && b2 <= 'Z') b2 + 32 else b2
    ((c0 << 16) | (c1 << 8) | c2) match {
      case 0x4A616E => 1  // Jan
      case 0x466562 => 2  // Feb
      case 0x4D6172 => 3  // Mar
      case 0x417072 => 4  // Apr
      case 0x4D6179 => 5  // May
      case 0x4A756E => 6  // Jun
      case 0x4A756C => 7  // Jul
      case 0x417567 => 8  // Aug
      case 0x536570 => 9  // Sep
      case 0x4F6374 => 10 // Oct
      case 0x4E6F76 => 11 // Nov
      case 0x446563 => 12 // Dec
      case _        => -1
    }
  }

  private def dig(c: Char): Int = if (c >= '0' && c <= '9') c - '0' else -1000

  /** Fast path for the exact 26-char layout (hand-rolled: ~10x faster than
    * DateTimeFormatter, which dominates per-line parse cost); anything that
    * deviates falls back to the strict formatter so semantics are unchanged.
    */
  def parseTimestamp(s: String): Option[OffsetDateTime] = {
    if (s.length == 26 && s.charAt(2) == '/' && s.charAt(6) == '/' &&
      s.charAt(11) == ':' && s.charAt(14) == ':' && s.charAt(17) == ':' &&
      s.charAt(20) == ' ' && (s.charAt(21) == '+' || s.charAt(21) == '-')) {
      val day = dig(s.charAt(0)) * 10 + dig(s.charAt(1))
      val mon = monthIdx.get(monthKey(s, 3))
      val year = dig(s.charAt(7)) * 1000 + dig(s.charAt(8)) * 100 + dig(s.charAt(9)) * 10 + dig(s.charAt(10))
      val hh = dig(s.charAt(12)) * 10 + dig(s.charAt(13))
      val mm = dig(s.charAt(15)) * 10 + dig(s.charAt(16))
      val ss = dig(s.charAt(18)) * 10 + dig(s.charAt(19))
      val offH = dig(s.charAt(22)) * 10 + dig(s.charAt(23))
      val offM = dig(s.charAt(24)) * 10 + dig(s.charAt(25))
      if (mon != null && day >= 1 && year >= 0 && hh >= 0 && hh <= 23 &&
        mm >= 0 && mm <= 59 && ss >= 0 && ss <= 59 && offH >= 0 && offM >= 0 && offM <= 59) {
        try {
          val sign = if (s.charAt(21) == '-') -1 else 1
          val off = java.time.ZoneOffset.ofTotalSeconds(sign * (offH * 3600 + offM * 60))
          // LocalDate.of validates day-of-month per month like Go time.Parse
          return Some(OffsetDateTime.of(year, mon, day, hh, mm, ss, 0, off))
        } catch { case _: Exception => return None }
      }
    }
    try Some(OffsetDateTime.parse(s, tsFormat))
    catch { case _: Exception => None }
  }

  /** "no timestamp" sentinel for the packed (epochSec, offset) encoding */
  val TsNone: Long = Long.MinValue

  /** days since 1970-01-01 for a civil (y, m, d) — the standard
    * days-from-civil closed form; value-identical to
    * LocalDate.of(y,m,d).toEpochDay for every valid date (LineParserSpec
    * sweeps all four-digit-year dates)
    */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365L + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 2 => if (y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** tsLayout's answer for a timestamp it does not decide: the strict
    * formatter does (no packed value reaches it, see MaxTsSec)
    */
  private val TsFormatter: Long = Long.MaxValue

  /** The exact 26-byte layout, read in place and ALLOCATION-FREE: packs
    * (epochSeconds, offsetSeconds) into one long as
    * epochSec * 131072 + (offset + 64800); TsNone = invalid; TsFormatter =
    * off the layout or outside its field ranges. Semantics are exactly
    * parseTimestamp's fast path (same structural gate, same validation —
    * day-of-month per month like LocalDate.of, |offset| <= 18h like
    * ZoneOffset.ofTotalSeconds). A non-ASCII timestamp has more than 26
    * bytes or fails a range check, so the formatter decides it.
    */
  private def tsLayout(base: AnyRef, off: Long, len: Int): Long = {
    def at(i: Int): Int = Platform.getByte(base, off + i)
    def dig(i: Int): Int = { val c = at(i); if (c >= '0' && c <= '9') c - '0' else -1000 }
    if (len == 26 && at(2) == '/' && at(6) == '/' && at(11) == ':' && at(14) == ':' &&
      at(17) == ':' && at(20) == ' ' && (at(21) == '+' || at(21) == '-')) {
      val day = dig(0) * 10 + dig(1)
      val mon = monthNum(at(3), at(4), at(5))
      val year = dig(7) * 1000 + dig(8) * 100 + dig(9) * 10 + dig(10)
      val hh = dig(12) * 10 + dig(13)
      val mm = dig(15) * 10 + dig(16)
      val ss = dig(18) * 10 + dig(19)
      val offH = dig(22) * 10 + dig(23)
      val offM = dig(24) * 10 + dig(25)
      if (mon > 0 && day >= 1 && year >= 0 && hh >= 0 && hh <= 23 &&
        mm >= 0 && mm <= 59 && ss >= 0 && ss <= 59 && offH >= 0 && offM >= 0 && offM <= 59) {
        // the try/catch of the OffsetDateTime fast path, made explicit:
        // LocalDate.of validates day-of-month; ZoneOffset.ofTotalSeconds
        // rejects |offset| > 18h — both returned None there, None here
        if (day > daysInMonth(year, mon)) return TsNone
        val offSec = offH * 3600 + offM * 60
        if (offSec > 64800) return TsNone
        val signedOff = if (at(21) == '-') -offSec else offSec
        val epochSec =
          epochDay(year, mon, day) * 86400L + hh * 3600L + mm * 60L + ss - signedOff
        return epochSec * 131072L + (signedOff + 64800L)
      }
    }
    TsFormatter
  }

  /** Off the fast layout the strict formatter decides, exactly like
    * parseTimestamp's tail. It accepts years up to ±999999999, whose epoch
    * seconds would wrap the packing; outside the range a timestamp column
    * can hold, the line keeps no timestamp.
    */
  private def tsFormatted(s: String): Long =
    try {
      val o = OffsetDateTime.parse(s, tsFormat)
      val sec = o.toEpochSecond
      if (sec > MaxTsSec || sec < -MaxTsSec) TsNone
      else sec * 131072L + (o.getOffset.getTotalSeconds + 64800L)
    } catch { case _: Exception => TsNone }

  /** The packed (epochSec, offset) of a timestamp string: the same value as
    * parseTimestamp (property-pinned in ParseProps and LineParserSpec).
    */
  def tsEpochOff(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    val t = tsLayout(b, Platform.BYTE_ARRAY_OFFSET, b.length)
    if (t != TsFormatter) t else tsFormatted(s)
  }

  /** tsEpochOff over a timestamp's UTF-8 bytes, read in place */
  def tsEpochOff(base: AnyRef, off: Long, len: Int): Long = {
    val t = tsLayout(base, off, len)
    if (t != TsFormatter) t else tsFormatted(UTF8String.fromAddress(base, off, len).toString)
  }

  /** epoch seconds of a packed timestamp (not TsNone) */
  def tsSec(packed: Long): Long = Math.floorDiv(packed, 131072L)

  /** UTC offset seconds of a packed timestamp (not TsNone) */
  def tsOffset(packed: Long): Int = (Math.floorMod(packed, 131072L) - 64800L).toInt

  /** largest |epoch second| tsEpochOff packs: its microseconds fit a long,
    * as a Spark timestamp needs, with room for the Julian-calendar rebase
    * the timestamp encoder applies to early dates
    */
  private[parse] val MaxTsSec: Long = Long.MaxValue / 1000000L / 2

  private def atoi(s: String): Long =
    try s.toLong
    catch { case _: Exception => 0L } // strconv.Atoi error → 0 (httpservers.go:176)

  /** atoi over an all-digit span read in place: a value past Long.MaxValue
    * is 0, as `toLong`'s error is
    */
  def atoi(base: AnyRef, off: Long, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) {
      val d = Platform.getByte(base, off + i) - '0'
      if (v > (Long.MaxValue - d) / 10) return 0L
      v = v * 10 + d
      i += 1
    }
    v
  }

  /** Path split + malicious classification — httpservers.go:95-165. */
  private[parse] def pathFields(requestUri: String): (String, String, String, String, Int) = {
    GoUrl.parseRequestUri(requestUri) match {
      case None =>
        // invalid URI: Path = raw cut at '?', no split, Malicious=INVALID (httpservers.go:99-102)
        val cut = requestUri.indexOf('?')
        val path = if (cut >= 0) requestUri.substring(0, cut) else requestUri
        (path, "", "", "", Malicious.Invalid)
      case Some((path, rawQuery)) =>
        var p1 = ""; var p2 = ""; var p3 = ""
        if (path.nonEmpty) {
          val split = path.split("/", -1) // Go strings.Split keeps trailing empties
          if (split.length == 1) p1 = "/"
          if (split.length > 1) p1 = "/" + split(1)
          if (split.length > 2) p2 = p1 + "/" + split(2)
          if (split.length > 3) p3 = p2 + "/" + split(3)
        }
        val mal =
          if (path.contains("/../") || requestUri.contains("%00")) Malicious.Traversal
          else if (reXss.matcher(rawQuery).find()) Malicious.Xss
          else if (reSqlInj.matcher(rawQuery).find()) Malicious.SqlInj
          else Malicious.Unknown
        (path, p1, p2, p3, mal)
    }
  }

  /** Each memo stops inserting at this many entries. */
  val MemoCap = 100000

  /** All URI-derived fields (path split, malicious class, utm_source
    * override) as pre-encoded parse-column values; `utm` is null when the URI
    * carries no utm_source parameter (reUtmSource semantics).
    */
  final case class UriFields(
      path: UTF8String, p1: UTF8String, p2: UTF8String, p3: UTF8String, mal: Int, utm: UTF8String)

  // The parse memos: bounded pure-function memos keyed by the value's UTF-8
  // bytes. Field cardinality is far below row count in real logs (the
  // reference re-derives per line, single-threaded), so both tiers share
  // one map per concept: the byte tier looks up views of the line, the
  // regex tier the encoding of its captures. A key is copied on insert, so
  // it never aliases the buffer it was read from; a value is computed from
  // the decoded key, so it depends on the key's bytes alone.
  private val uriMemo = new ConcurrentHashMap[UTF8String, UriFields]()
  private val refererMemo = new ConcurrentHashMap[UTF8String, UTF8String]()

  def uriFields(uri: UTF8String): UriFields = {
    val hit = uriMemo.get(uri)
    if (hit != null) return hit
    val s = uri.toString
    val (path, p1, p2, p3, mal) = pathFields(s)
    val m = reUtmSource.matcher(s)
    val pathU = UTF8String.fromString(path)
    // path1-3 are usually prefixes of the path: views of its bytes, not
    // copies (for an ASCII path, where a prefix's chars are its bytes)
    val ascii = pathU.numBytes == path.length
    def prefix(p: String): UTF8String =
      if (p.isEmpty) UTF8String.EMPTY_UTF8
      else if (p == path) pathU
      else if (ascii && path.startsWith(p)) UTF8String.fromAddress(pathU.getBaseObject, pathU.getBaseOffset, p.length)
      else UTF8String.fromString(p)
    val uf = UriFields(pathU, prefix(p1), prefix(p2), prefix(p3), mal,
      if (m.find()) UTF8String.fromString(m.group(2)) else null)
    if (uriMemo.size < MemoCap) uriMemo.put(uri.copy(), uf)
    uf
  }

  private def refererHost(ref: UTF8String): UTF8String = {
    val hit = refererMemo.get(ref)
    if (hit != null) return hit
    val host = GoUrl.refererHostname(ref.toString)
    val norm = UTF8String.fromString(if (host.startsWith("www.")) host.substring(4) else host)
    if (refererMemo.size < MemoCap) refererMemo.put(ref.copy(), norm)
    norm
  }

  /** Referer normalization — httpservers.go:79-93: a utm_source query param
    * on the REQUEST URI overrides the referer header; otherwise the referer's
    * hostname with a leading "www." stripped. `ref` is the referer capture
    * of a format that has one.
    */
  def referer(uri: UriFields, ref: UTF8String): UTF8String =
    if (uri.utm != null) uri.utm
    else if (ref.numBytes > 0) refererHost(ref)
    else UTF8String.EMPTY_UTF8

  private val RobotsTxt = UTF8String.fromString("/robots.txt")

  /** UA classification with the robots.txt override (httpservers.go:63-77)
    * applied when the request's path1 is "/robots.txt"
    */
  def userAgent(uri: UriFields, ua: UTF8String): UserAgents.UaClass = {
    val c = UserAgents.classify(ua)
    if (uri.p1 == RobotsTxt) c.robots else c
  }

  private def build(
      fmt: Format,
      domain: String, clientIp: String, logname: String, user: String,
      tsStr: String, method: String, uri: String, protocol: String,
      status: String, bytes: String, refererRaw: Option[String], uaRaw: Option[String]): ParsedFields = {
    // packed-epoch fast path: same values as parseTimestamp (Timestamp.from
    // of a whole-second instant = new Timestamp(sec * 1000), nanos 0) without
    // the OffsetDateTime/Instant/ZoneOffset intermediates per line
    val ts = tsEpochOff(tsStr)
    val uf = uriFields(UTF8String.fromString(uri))
    val ref = refererRaw.fold("")(r => referer(uf, UTF8String.fromString(r)).toString)
    val ua = uaRaw.map(u => userAgent(uf, UTF8String.fromString(u)).info(u))
    ParsedFields(
      domain = domain, client_ip = clientIp, remote_logname = logname, remote_user = user,
      log_ts = if (ts == TsNone) None else Some(new java.sql.Timestamp(tsSec(ts) * 1000L)),
      tz_offset_sec = if (ts == TsNone) 0 else tsOffset(ts),
      method = method, path = uf.path.toString, path1 = uf.p1.toString,
      path2 = uf.p2.toString, path3 = uf.p3.toString,
      protocol = protocol, status = status, bytes_sent = atoi(bytes),
      referer = ref, ua = ua, malicious = uf.mal, format = fmt.name)
  }

  def parse(line: String, fmt: Format): Option[ParsedFields] = {
    def m(p: Pattern): Option[Matcher] = {
      val mm = p.matcher(line)
      if (mm.matches()) Some(mm) else None
    }
    fmt match {
      case ApacheCommon => m(reCommon).map { g =>
        build(fmt, "", g.group(1), g.group(2), g.group(3), g.group(4),
          g.group(5), g.group(6), g.group(7), g.group(8), g.group(9), None, None)
      }
      case ApacheCombined => m(reCombined).map { g =>
        build(fmt, "", g.group(1), g.group(2), g.group(3), g.group(4),
          g.group(5), g.group(6), g.group(7), g.group(8), g.group(9),
          Some(g.group(10)), Some(g.group(11)))
      }
      case ApacheVHostCombined => m(reVHost).map { g =>
        build(fmt, g.group(1), g.group(2), g.group(3), g.group(4), g.group(5),
          g.group(6), g.group(7), g.group(8), g.group(9), g.group(10),
          Some(g.group(11)), Some(g.group(12)))
      }
      case NginxCombined => m(reNginx).map { g =>
        build(fmt, "", g.group(1), "", g.group(2), g.group(3),
          g.group(4), g.group(5), g.group(6), g.group(7), g.group(8),
          Some(g.group(9)), Some(g.group(10)))
      }
      case NginxCustom => m(reNginxCustom).map { g =>
        // request_time/upstream_time (groups 11-12) captured then discarded
        // by the reference (httpservers.go:311-316)
        build(fmt, "", g.group(1), "", g.group(2), g.group(3),
          g.group(4), g.group(5), g.group(6), g.group(7), g.group(8),
          Some(g.group(9)), Some(g.group(10)))
      }
    }
  }

  /** Reference detection = last match over formatsInOrder (main.go:743-749)
    * = first match over the reversed list.
    */
  def detect(line: String): Option[Format] =
    formatsInOrder.reverseIterator.find(f => parse(line, f).isDefined)

  /** Per-row auto-detecting parse. On data where every line of a source uses
    * one format (our generator guarantees this) it is equivalent to the
    * reference's per-file sticky-parser memoization, minus the quirk that the
    * detection line itself is not emitted (main.go:744 shadowing) — that
    * quirk lives only in the oracle's quirk mode (RefOracle.stickyQuirk).
    *
    * Two tiers: `scan`, one structural pass over the line's UTF-8 bytes,
    * decides the clean log-line shape with NO regex at all; anything it
    * cannot decide falls to `parseAutoRegex` — the pruned regex chain,
    * kept as the completeness tier and the property-test oracle for the
    * scan. The engine calls the scan on the column bytes directly
    * (org.apache.spark.sql.graft.ParseTurn); this String form runs the same
    * scan on the line's bytes when every char is ASCII, so its byte offsets
    * are char offsets.
    */
  def parseAuto(line: String): Option[ParsedFields] = {
    if (line.isEmpty) return None
    var ascii = true
    var i = 0
    while (ascii && i < line.length) { ascii = line.charAt(i) < 0x80; i += 1 }
    val pos = new Array[Int](Slots)
    val fmt =
      if (!ascii) null
      else {
        val b = line.getBytes(StandardCharsets.ISO_8859_1)
        scan(b, Platform.BYTE_ARRAY_OFFSET, b.length, pos)
      }
    if (fmt == null) return parseAutoRegex(line)
    def f(k: Int) = line.substring(pos(2 * k), pos(2 * k + 1))
    def refUa(k: Int) = if (fmt.hasUa) Some(f(k)) else None
    Some(build(fmt, f(FDomain), f(FIp), f(FLogname), f(FUser), f(FTs), f(FMethod), f(FUri),
      f(FProto), f(FStatus), f(FBytes), refUa(FRef), refUa(FUa)))
  }

  /** The pre-r6 regex-chain parse (structural pruning per VERDICT r3 item 6):
    * reversed reference order minus provably-impossible candidates —
    *  - nginx formats demand a literal "-" second field (`^(\S+) - `)
    *  - combined/vhost/nginx-combined anchor on a trailing `"`
    *  - common anchors on trailing bytes digits (`(\d+)$`)
    * A last-success MEMO (the reference's per-file shape, main.go:728-751)
    * was considered and rejected: apache_combined lines with logname "-"
    * also match the nginx grammar, so a memo would reclassify them relative
    * to the per-line last-match-wins rule this engine (and its oracle) pins.
    */
  def parseAutoRegex(line: String): Option[ParsedFields] = {
    if (line.isEmpty) return None
    val lastCh = line.charAt(line.length - 1)
    val endsQuote = lastCh == '"'
    val endsDigit = lastCh >= '0' && lastCh <= '9'
    val sp1 = line.indexOf(' ')
    val dash2nd = sp1 >= 0 && sp1 + 2 < line.length &&
      line.charAt(sp1 + 1) == '-' && line.charAt(sp1 + 2) == ' '
    // reversed reference order, minus the provably-impossible candidates
    if (dash2nd) {
      val r = parse(line, NginxCustom)
      if (r.isDefined) return r
      if (endsQuote) {
        val r2 = parse(line, NginxCombined)
        if (r2.isDefined) return r2
      }
    }
    if (endsQuote) {
      val r = parse(line, ApacheVHostCombined)
      if (r.isDefined) return r
      val r2 = parse(line, ApacheCombined)
      if (r2.isDefined) return r2
    }
    if (endsDigit) {
      val r = parse(line, ApacheCommon)
      if (r.isDefined) return r
    }
    None
  }

  /** Field slots of a line the byte scan decided: field `k` spans bytes
    * `[pos(2k), pos(2k + 1))` of the line. A field the format lacks (domain
    * outside vhost, logname in the nginx formats, referer and UA in apache
    * common) stays the empty span.
    */
  final val FDomain = 0; final val FIp = 1; final val FLogname = 2; final val FUser = 3
  final val FTs = 4; final val FMethod = 5; final val FUri = 6; final val FProto = 7
  final val FStatus = 8; final val FBytes = 9; final val FRef = 10; final val FUa = 11
  /** first of the six slots after the fields where `scan` keeps the line's
    * quote offsets
    */
  private final val Quote0 = 24
  /** length of the `pos` array `scan` fills */
  final val Slots = Quote0 + 6

  // SWAR lane constants: one bit or value per byte of a 64-bit word
  private final val LaneHi = 0x8080808080808080L
  private final val LaneLo7 = 0x7f7f7f7f7f7f7f7fL
  private final val LaneOnes = 0x0101010101010101L
  private final val LaneQuotes = LaneOnes * '"'
  private val BigEndian = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.BIG_ENDIAN

  /** the eight bytes at `addr`; lane k (bits 8k..8k+7) is the byte at addr + k */
  private def word(base: AnyRef, addr: Long): Long = {
    val w = Platform.getLong(base, addr)
    if (BigEndian) java.lang.Long.reverseBytes(w) else w
  }

  /** bit 7 set in exactly the lanes of `w` equal to the lane pattern `pat`
    * (the zero lanes of w ^ pat; no lane carries into the next)
    */
  private def lanesEqual(w: Long, pat: Long): Long = {
    val x = w ^ pat
    ~(((x & LaneLo7) + LaneLo7) | x | LaneLo7)
  }

  /** The fast tier: one structural scan over a line's UTF-8 bytes, read in
    * place (`base`/`off` address them the way Spark's `Platform` does, so a
    * `UTF8String` view into a parquet column vector is never copied or
    * decoded). It decides the CLEAN log-line shape — the shape every real
    * access-log line has:
    *
    *   t1 t2 t3 [t4] [TS] "METHOD URI PROTO" STATUS BYTES ["REF" "UA" [q1 q2]]
    *
    * where the leading tokens contain no '[' ']' '"', the bracket holds no
    * '[' '"', the request tokens hold no '"', STATUS/BYTES are all-digits,
    * and the line holds exactly 2 or 6 quote characters in total.
    *
    * Under those constraints every boundary the five anchored regexes could
    * choose is FORCED: `(\S+)` groups cannot span the literal separator
    * spaces, the pattern's literal quotes must consume the line's quotes in
    * order (the captures are quote-free, and `[^"]*` cannot hold one), and
    * the single token-initial '[' is the only place ` \[` can anchor — so
    * the recorded spans are exactly the regex captures, and the
    * (token-count, dash-second-field, tail-shape) triple picks the same
    * format the last-match-wins chain picks. A line off the clean shape
    * returns null and goes to parseAutoRegex: the scan never *rejects* a
    * line, it only decides ones whose regex parse is forced.
    *
    * Pass 1 reads eight bytes at a time (the word-at-a-time structural scan
    * of simdjson, Langdale & Lemire, VLDB J. 2019). It bails on any byte
    * >= 0x80, so only ASCII lines are decided and a byte offset is a char
    * offset, and on any of `\t \n \v \f \r` (separators for `\s` yet
    * non-tokens for `\S`: the regexes decide those); it counts the quotes
    * and records their offsets: the quotes are the request, referer and UA
    * delimiters, so the referer and UA bytes are never visited again. Pass 2
    * walks the remaining forced boundaries and records each field's span in
    * `pos` (length `Slots`, zeroed).
    *
    * Equivalence with parseAutoRegex is property-pinned in ParseProps
    * (generated lines, adversarial soup, non-ASCII and malformed UTF-8, views
    * at nonzero offsets) and on the reference fixtures in LineParserSpec.
    *
    * @return the decided format, or null (bail to the regex tier)
    */
  def scan(base: AnyRef, off: Long, len: Int, pos: Array[Int]): Format = {
    def at(i: Int): Int = Platform.getByte(base, off + i)
    // the first offset in [from, until) holding byte a, b or c, else until
    def firstOf(from: Int, until: Int, a: Int, b: Int, c: Int): Int = {
      val la = LaneOnes * a; val lb = LaneOnes * b; val lc = LaneOnes * c
      var i = from
      while (i + 8 <= until) {
        val w = word(base, off + i)
        val m = lanesEqual(w, la) | lanesEqual(w, lb) | lanesEqual(w, lc)
        if (m != 0L) return i + (java.lang.Long.numberOfTrailingZeros(m) >>> 3)
        i += 8
      }
      while (i < until) {
        val x = at(i)
        if (x == a || x == b || x == c) return i
        i += 1
      }
      until
    }

    // pass 1: validity and the quote offsets (slots Quote0.., at most 6)
    var quotes = 0
    var i = 0
    while (i + 8 <= len) {
      val w = word(base, off + i)
      if ((w & LaneHi) != 0L) return null
      // a lane holds 0x09-0x0D iff 141 - b and b + 119 both carry into bit 7
      // (no lane borrows or carries: every lane is below 0x80 here)
      val lo = w & LaneLo7
      if (((LaneOnes * 141 - lo) & (lo + LaneOnes * 119) & LaneHi) != 0L) return null
      var z = lanesEqual(w, LaneQuotes)
      while (z != 0L) {
        if (quotes == 6) return null
        pos(Quote0 + quotes) = i + (java.lang.Long.numberOfTrailingZeros(z) >>> 3)
        quotes += 1
        z &= z - 1
      }
      i += 8
    }
    while (i < len) {
      val c = at(i)
      if (c < 0 || (c >= 0x09 && c <= 0x0d)) return null
      if (c == '"') {
        if (quotes == 6) return null
        pos(Quote0 + quotes) = i
        quotes += 1
      }
      i += 1
    }
    if (quotes != 2 && quotes != 6) return null

    // pass 2. Leading tokens (3 or 4), single-space separated, none
    // containing '[' ']' '"'; then a token-initial '[' opens the timestamp
    // bracket. Token k goes to slot k (the vhost order) until the format is
    // known. A quote in a token or in the bracket puts the first quote
    // before `close + 2`, which the request check below rejects.
    var k = 0
    var p = 0
    var bracketOpen = -1
    while (bracketOpen < 0) {
      if (p >= len) return null
      if (at(p) == '[') {
        if (k < 3) return null // '[' this early fits no format cleanly
        bracketOpen = p
      } else {
        if (k == 4) return null // 5+ leading tokens fit no format
        val end = firstOf(p, len, ' ', '[', ']')
        if (end == p || end == len || at(end) != ' ') return null
        pos(2 * k) = p; pos(2 * k + 1) = end
        k += 1
        p = end + 1 // past the single separator space
      }
    }

    // bracket: content up to the next ']', non-empty, no '['; then exactly
    // ` "` after the close, that quote being the line's first
    val close = firstOf(bracketOpen + 1, len, ']', '[', '[')
    if (close == len || at(close) != ']' || close == bracketOpen + 1) return null
    if (close + 2 != pos(Quote0) || at(close + 1) != ' ') return null

    // request: exactly three nonempty space-separated tokens between the
    // first two quotes
    val r0 = close + 2
    val rClose = pos(Quote0 + 1)
    val s1 = firstOf(r0 + 1, rClose, ' ', ' ', ' ')
    val s2 = firstOf(s1 + 1, rClose, ' ', ' ', ' ')
    if (s2 >= rClose || firstOf(s2 + 1, rClose, ' ', ' ', ' ') != rClose) return null
    if (s1 == r0 + 1 || s2 == s1 + 1 || rClose == s2 + 1) return null

    // status + bytes: ' ' digits ' ' digits
    var d = rClose + 1
    if (d >= len || at(d) != ' ') return null
    d += 1
    val st0 = d
    while (d < len && at(d) >= '0' && at(d) <= '9') d += 1
    if (d == st0) return null
    val st1 = d
    if (d == len) return null // no bytes field fits no format
    if (at(d) != ' ') return null
    d += 1
    val by0 = d
    while (d < len && at(d) >= '0' && at(d) <= '9') d += 1
    if (d == by0) return null
    val by1 = d

    def span(f: Int, from: Int, until: Int): Unit = { pos(2 * f) = from; pos(2 * f + 1) = until }
    span(FTs, bracketOpen + 1, close)
    span(FMethod, r0 + 1, s1); span(FUri, s1 + 1, s2); span(FProto, s2 + 1, rClose)
    span(FStatus, st0, st1); span(FBytes, by0, by1)
    val dash2 = pos(3) - pos(2) == 1 && at(pos(2)) == '-'
    // three leading tokens are ip, logname (nginx: a literal "-", not
    // captured) and user: move them out of the vhost slots
    def threeTokens(fmt: Format, logname: Boolean): Format = {
      span(FUser, pos(4), pos(5))
      if (logname) span(FLogname, pos(2), pos(3)) else span(FLogname, 0, 0)
      span(FIp, pos(0), pos(1))
      span(FDomain, 0, 0)
      fmt
    }

    if (by1 == len) {
      // ends at bytes: only apache_common's `(\d+)$` anchors here
      if (quotes != 2 || k != 3) return null
      return threeTokens(ApacheCommon, logname = true)
    }

    // referer + ua: ` "..." "..."`, quotes 2-5 (forced by the total count 6)
    if (quotes != 6) return null
    val f0 = pos(Quote0 + 2)
    val f1 = pos(Quote0 + 3)
    val u0 = pos(Quote0 + 4)
    val u1 = pos(Quote0 + 5)
    if (at(by1) != ' ' || f0 != by1 + 1 || u0 != f1 + 2 || at(f1 + 1) != ' ') return null
    span(FRef, f0 + 1, f1); span(FUa, u0 + 1, u1)

    if (u1 + 1 == len) {
      // ends at the final quote: nginx_combined (dash) beats combined by the
      // last-match-wins order; vhost is the unique 4-token shape
      if (k == 3 && dash2) return threeTokens(NginxCombined, logname = false)
      if (k == 3) return threeTokens(ApacheCombined, logname = true)
      return ApacheVHostCombined
    }

    // trailing ` q1 q2`: nginx_custom only (timings captured then discarded)
    if (!(k == 3 && dash2)) return null
    var t = u1 + 1
    if (at(t) != ' ') return null
    t += 1
    val x0 = t
    while (t < len && at(t) != ' ') t += 1
    if (t == x0 || t >= len) return null
    t += 1
    val y0 = t
    while (t < len && at(t) != ' ') t += 1
    if (t == y0 || t < len) return null
    threeTokens(NginxCustom, logname = false)
  }
}
