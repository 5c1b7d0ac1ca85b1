package graft.parse

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.ParseTurn
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.model.{ParsedFields, UaInfo}
import graft.oracle.RefOracle
import graft.sources.{Tables, TranscriptGen}

/** Property-based tests (SURVEY.md §5.3) — pure, no Spark session:
  * render∘parse identity, aggregate-sum invariants, arrival-order
  * insensitivity of the batch aggregates under bounded lateness.
  */
object ParseProps extends Properties("graft.parse") {

  private val genIndex: Gen[Long] = Gen.chooseNum(0L, 59999L)
  private val lay = TranscriptGen.layout(60000L)

  property("every generated turn parses and round-trips its rendered fields") =
    forAll(genIndex) { i =>
      val t = TranscriptGen.turn(i, lay)
      LineParser.parseAuto(t.text) match {
        case None => Prop.falsified :| s"unparseable: ${t.text}"
        case Some(p) =>
          val tsOk = p.log_ts.exists(ts => math.abs(ts.getTime - t.ts.getTime) < 1000)
          val statusOk = p.status.nonEmpty && p.status.forall(_.isDigit)
          val bytesOk = p.bytes_sent >= 1 && p.bytes_sent <= 50000
          (Prop(tsOk) :| "timestamp round-trip") &&
            (Prop(statusOk) :| "status") && (Prop(bytesOk) :| "bytes")
      }
    }

  property("detection is stable: re-parsing with the detected format gives the same result") =
    forAll(genIndex) { i =>
      val line = TranscriptGen.turn(i, lay).text
      val auto = LineParser.parseAuto(line)
      val redo = LineParser.detect(line).flatMap(f => LineParser.parse(line, f))
      auto == redo
    }

  /** the unpruned reversed-order scan — the spec-reference parseAuto */
  private def parseAutoNaive(line: String): Option[graft.model.ParsedFields] = {
    if (line.isEmpty) return None
    LineParser.formatsInOrder.reverseIterator
      .map(f => LineParser.parse(line, f)).collectFirst { case Some(r) => r }
  }

  property("structural pruning in parseAuto is exact: identical to the full reversed scan") = {
    // generator lines cover all 5 formats incl. the dash-logname apache
    // lines that also match the nginx grammar (the logname trap)
    val genLine: Gen[String] = genIndex.map(i => TranscriptGen.turn(i, lay).text)
    // plus adversarial shapes around the pruning anchors
    val crafted = Gen.oneOf(
      """1.2.3.4 - - [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1""",
      """1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "ua"""",
      """1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "ua" 0.1 0.2""",
      """d.com 1.2.3.4 - u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1 "r" "ua"""",
      """1.2.3.4 frank u [02/Jan/2006:15:04:05 +0000] "GET / HTTP/1.1" 200 1""",
      "-", "- ", " - ", "\"", "9", "a b c", "",
      """1.2.3.4 - u [ts] "GET / H" 200 1 "r" "ua" 0.1 "x"""")
    forAll(Gen.frequency(3 -> genLine, 1 -> crafted)) { line =>
      LineParser.parseAuto(line) == parseAutoNaive(line)
    }
  }

  // ---------------------------------------------------------------- byte tier
  /** the 23 parse columns of a generator row, read as Catalyst values */
  private def rowValues(r: InternalRow): Seq[Any] =
    ParseTurn.schema.fields.indices.map(i => if (r.isNullAt(i)) null else r.get(i, ParseTurn.schema(i).dataType))

  /** the regex tier's result encoded as the same values, independently of
    * the generator's row classes
    */
  private def regexValues(p: ParsedFields): Seq[Any] = {
    def u(s: String) = UTF8String.fromString(s)
    def ua(f: UaInfo => String): Any = p.ua.map(x => u(f(x))).orNull
    Seq(u(p.domain), u(p.client_ip), u(p.remote_logname), u(p.remote_user),
      p.log_ts.map(t => DateTimeUtils.fromJavaTimestamp(t): Any).orNull, p.tz_offset_sec,
      u(p.method), u(p.path), u(p.path1), u(p.path2), u(p.path3), u(p.protocol), u(p.status),
      p.bytes_sent, u(p.referer), ua(_.ua_full), ua(_.ua_os), ua(_.ua_family),
      ua(_.ua_device_type), ua(_.ua_human), ua(_.ua_intent), p.malicious, u(p.format))
  }

  /** `bytes` as a parquet column vector hands them over: a view into a
    * larger buffer, at an offset, with bytes on either side
    */
  private def genView(bytes: Array[Byte]): Gen[UTF8String] = for {
    pre <- Gen.chooseNum(0, 11)
    post <- Gen.chooseNum(0, 9)
    fill <- Gen.oneOf(' ', '"', 'x', '[', '9')
  } yield {
    val buf = Array.fill(pre + bytes.length + post)(fill.toByte)
    System.arraycopy(bytes, 0, buf, pre, bytes.length)
    UTF8String.fromBytes(buf, pre, bytes.length)
  }

  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** adversarial line soup: fragments with quotes, brackets, dashes, digits,
    * doubled/odd spacing, tabs — everything the clean-shape scanner keys on
    */
  private val genSoupLine: Gen[String] = {
    val frag = Gen.oneOf(
      "1.2.3.4", "-", "u", "frank", "[02/Jan/2006:15:04:05 +0000]",
      "[ts with space]", "[]", "[x", "x]", "\"GET / HTTP/1.1\"", "\"GET /\"",
      "\"GET  / HTTP/1.1\"", "\"G\"ET\"", "200", "12", "0", "a1b", "\"r\"",
      "\"\"", "\"r with [brackets] inside\"", "\"ua (x; y)\"", "0.15",
      "\"", "[", "]", "q\"q", "d.com", "\t", "GET", "200x", "x200")
    for {
      k <- Gen.chooseNum(0, 14)
      parts <- Gen.listOfN(k, frag)
      sep <- Gen.oneOf(" ", " ", " ", "  ", "")
    } yield parts.mkString(sep)
  }

  property("fast tier dispatch == pure regex chain on adversarial line soup") =
    forAll(Gen.frequency(2 -> genSoupLine,
      1 -> genIndex.map(i => TranscriptGen.turn(i, lay).text))) { line =>
      val now = LineParser.parseAuto(line)
      val regex = LineParser.parseAutoRegex(line)
      Prop(now == regex) :| s"line=<$line> fast-dispatch=$now regex=$regex"
    }

  property("byte scan == regex tier on all 23 parse fields, for any bytes at any offset") = {
    val genLine = genIndex.map(i => TranscriptGen.turn(i, lay).text)
    // one char of a generated line replaced by a non-ASCII one (NBSP and
    // U+2028 are \S to the regexes, like any non-ASCII char)
    val genNonAscii = for {
      line <- genLine
      at <- Gen.chooseNum(0, line.length - 1)
      c <- Gen.oneOf("é", "Ω", "\u00a0", "\u2028", "\ud83d\ude00", "\u0131")
    } yield utf8(line.substring(0, at) + c + line.substring(at + 1))
    // one char of a generated line replaced by the whitespace the regexes'
    // \s knows besides ' '
    val genCtl = for {
      line <- genLine
      at <- Gen.chooseNum(0, line.length - 1)
      c <- Gen.oneOf("\t", "\n", "\u000b", "\f", "\r")
    } yield utf8(line.substring(0, at) + c + line.substring(at + 1))
    // generated lines with one field swapped for an edge value: timestamps
    // off the layout, out of range or invalid; byte counts past a long; URIs
    // the path split, malicious class, utm and robots rules treat specially
    val genTs = for {
      day <- Gen.oneOf("01", "29", "31", "32", "00", "1")
      mon <- Gen.oneOf("Jan", "FEB", "aPr", "Xyz", "J0n")
      year <- Gen.oneOf("0000", "1582", "1900", "2000", "9999", "+100000", "-100000", "+999999999")
      off <- Gen.oneOf("+0000", "-0700", "+1800", "+1801", "+0060", "0000")
    } yield s"$day/$mon/$year:12:34:56 $off"
    val genEdge = for {
      line <- genLine
      field <- Gen.chooseNum(0, 2)
      ts <- genTs
      bytes <- Gen.oneOf("0", "9223372036854775807", "9223372036854775808", "000000000000000000000042")
      uri <- Gen.oneOf("/robots.txt", "/a/b/c/d?utm_source=x&y=1", "/x?utm_source=", "*", "mailto:a@b",
        "/%zz", "/a/../b", "/c?q=<script>", "/i?id='1%20insert", "http://h:80/p/q?r=1", "/%00")
    } yield {
      def sub(re: String, by: String) = line.replaceFirst(re, java.util.regex.Matcher.quoteReplacement(by))
      utf8(field match {
        case 0 => sub("\\[[^\\]]*\\]", s"[$ts]")
        case 1 => sub("\" (\\d+) \\d+", "\" 200 " + bytes)
        case _ => sub("\"(\\S+) \\S+ ", "\"GET " + uri + " ")
      })
    }
    // one byte of a generated line replaced by a byte no valid UTF-8 has
    // there: a stray continuation byte, a truncated lead byte, 0xff
    val genMalformed = for {
      line <- genLine
      at <- Gen.chooseNum(0, line.length - 1)
      b <- Gen.oneOf(0x80, 0xbf, 0xc3, 0xe2, 0xff)
    } yield { val bs = utf8(line); bs(at) = b.toByte; bs }
    // (bytes, whether the byte scan must decide them)
    val genBytes: Gen[(Array[Byte], Boolean)] = Gen.frequency(
      3 -> genLine.map(l => (utf8(l), true)), 2 -> genSoupLine.map(l => (utf8(l), false)),
      1 -> genNonAscii.map((_, false)), 1 -> genMalformed.map((_, false)),
      1 -> genCtl.map((_, false)), 2 -> genEdge.map((_, false)))
    val genInput = for { (bytes, clean) <- genBytes; text <- genView(bytes) } yield (text, clean)
    forAll(Gen.listOfN(4, genInput)) { inputs =>
      Prop.all(inputs.map { case (text, clean) =>
        val pos = new Array[Int](LineParser.Slots)
        val decided = LineParser.scan(text.getBaseObject, text.getBaseOffset, text.numBytes, pos) != null
        val line = text.toString
        val byteTier = ParseTurn.rows(text).map(rowValues).toList
        val regex = LineParser.parseAutoRegex(line).map(regexValues).toList
        (Prop(byteTier == regex) :| s"line=<$line> byte tier=$byteTier regex=$regex") &&
          (Prop(decided || !clean) :| s"a clean generator line must not bail: $line")
      }: _*)
    }
  }

  property("tsEpochOff == parseTimestamp (packed epoch + offset) on structured + fuzzed inputs") = {
    val genTs: Gen[String] = for {
      day <- Gen.chooseNum(0, 39)
      mon <- Gen.oneOf("Jan", "Feb", "MAR", "apr", "May", "Jun", "Jul",
        "Aug", "Sep", "Oct", "Nov", "Dec", "Xyz", "J0n")
      year <- Gen.oneOf(0, 1, 1900, 1999, 2000, 2024, 2025, 2100, 9999)
      hh <- Gen.chooseNum(0, 30)
      mm <- Gen.chooseNum(0, 70)
      ss <- Gen.chooseNum(0, 70)
      sign <- Gen.oneOf("+", "-")
      offH <- Gen.chooseNum(0, 99)
      offM <- Gen.chooseNum(0, 99)
    } yield f"$day%02d/$mon/$year%04d:$hh%02d:$mm%02d:$ss%02d $sign$offH%02d$offM%02d"
    val genJunk = Gen.oneOf("", "02/Jan/2006", "garbage", "02/Jan/2006:15:04:05 0000",
      "2/Jan/2006:15:04:05 +0000", "02/Jan/2006:15:04:05  +0000")
    forAll(Gen.frequency(5 -> genTs, 1 -> genJunk)) { s =>
      val packed = LineParser.tsEpochOff(s)
      val viaOdt = LineParser.parseTimestamp(s)
      val unpacked =
        if (packed == LineParser.TsNone) None
        else Some((Math.floorDiv(packed, 131072L), (Math.floorMod(packed, 131072L) - 64800L).toInt))
      val expected = viaOdt.map(o => (o.toEpochSecond, o.getOffset.getTotalSeconds))
      Prop(unpacked == expected) :| s"ts=<$s> packed=$unpacked odt=$expected"
    }
  }

  property("uriFields memo == pathFields + utm regex for pool and fuzzed URIs") = {
    val genUri = Gen.frequency(
      3 -> Gen.oneOf(TranscriptGen.benignPaths ++ TranscriptGen.queryPaths ++
        TranscriptGen.maliciousPaths),
      1 -> Gen.listOf(Gen.oneOf("/a", "/", "?", "&", "utm_source=x", "%zz", "%00",
        "..", "'", "<script>", "a", ":", "//h:80")).map(_.mkString))
    forAll(genUri) { uri =>
      val uf = LineParser.uriFields(UTF8String.fromString(uri))
      val (path, p1, p2, p3, mal) = LineParser.pathFields(uri)
      val m = java.util.regex.Pattern.compile("(\\?|&)utm_source=([^&]+)(&|\\z)").matcher(uri)
      val utm = if (m.find()) m.group(2) else null
      def u(s: String) = UTF8String.fromString(s)
      uf == LineParser.UriFields(u(path), u(p1), u(p2), u(p3), mal, u(utm))
    }
  }

  property("keyed counts sum to the total for every dimension") =
    forAll(Gen.chooseNum(50, 400)) { n =>
      val parsed = RefOracle.parseAll(Tables.localTurns(n.toLong)).map(_._2)
      val totals = RefOracle.counterTotals(parsed)
      RefOracle.keyedCounts(parsed).forall { case (_, m) =>
        m.values.sum == totals.handledEntries
      }
    }

  property("metric REQ_COUNT sums to the number of parsed entries (bounded lateness)") =
    forAll(Gen.chooseNum(50, 400)) { n =>
      val turns = Tables.localTurns(n.toLong)
      val parsedCount = RefOracle.parseAll(turns).size
      val reqTotal = RefOracle.metricRows(turns)
        .filter(_.metric_type == graft.model.MetricType.ReqCount)
        .map(_.metric_value).sum
      reqTotal == parsedCount
    }

  property("unescapePath inverts percent-encoding for ASCII strings") = {
    val asciiGen = Gen.listOf(Gen.choose(33.toChar, 126.toChar)).map(_.mkString)
    forAll(asciiGen) { s =>
      val escaped = s.flatMap {
        case c if c.isLetterOrDigit || c == '/' => c.toString
        case c => f"%%${c.toInt}%02X"
      }
      GoUrl.unescapePath(escaped).contains(s)
    }
  }

  property("shingleHashes == fnv1a over joined token n-grams (r6 allocation-free form)") = {
    val textGen = Gen.listOf(Gen.oneOf("Spark", "data", "ROW", "agg,", "a", "1x9",
      "!!", "b2", " ", "join-key", "Ω")).map(_.mkString(" "))
    forAll(textGen) { text =>
      val toks = graft.operators.Dedup.tokenize(text)
      val viaStrings =
        if (toks.length < 3) Array(graft.operators.Dedup.fnv1a(toks.mkString(" ")))
        else Array.tabulate(toks.length - 3 + 1)(i =>
          graft.operators.Dedup.fnv1a(toks.slice(i, i + 3).mkString(" ")))
      graft.operators.Dedup.shingleHashes(text).toSeq == viaStrings.toSeq &&
        toks.toSeq == text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    }
  }

  property("jaccard is symmetric, reflexive, bounded") = {
    val textGen = Gen.nonEmptyListOf(Gen.oneOf("spark", "data", "row", "agg", "scan",
      "join", "key", "window", "batch", "merge")).map(_.mkString(" "))
    forAll(textGen, textGen) { (a, b) =>
      val jab = graft.operators.Dedup.jaccard(a, b)
      val jba = graft.operators.Dedup.jaccard(b, a)
      jab == jba && jab >= 0.0 && jab <= 1.0 &&
        graft.operators.Dedup.jaccard(a, a) == 1.0
    }
  }

  property("jaccardSorted == set jaccard for arbitrary texts (bitwise)") = {
    val textGen = Gen.listOf(Gen.oneOf("spark", "data", "row", "agg", "scan",
      "join", "key", "window", "batch", "merge", "a", "b")).map(_.mkString(" "))
    forAll(textGen, textGen) { (a, b) =>
      val viaSets = graft.operators.Dedup.jaccard(a, b)
      val viaArrays = graft.operators.Dedup.jaccardSorted(
        graft.operators.Dedup.sortedShingles(a), graft.operators.Dedup.sortedShingles(b))
      java.lang.Double.doubleToRawLongBits(viaSets) ==
        java.lang.Double.doubleToRawLongBits(viaArrays)
    }
  }

  property("time window floors to the configured size in the event's own offset") =
    forAll(Gen.chooseNum(0L, 4102444800L), Gen.oneOf(1, 5, 10, 15, 30, 60),
      Gen.oneOf(-43200, -25200, 0, 3600, 19800)) { (epoch, w, off) =>
      val odt = java.time.Instant.ofEpochSecond(epoch)
        .atOffset(java.time.ZoneOffset.ofTotalSeconds(off))
      val p = graft.model.ParsedFields("", "", "", "",
        Some(java.sql.Timestamp.from(odt.toInstant)), off,
        "", "", "", "", "", "", "200", 0L, "", None, 0, "")
      val tw = RefOracle.timeWindow(p, w)
      val minutePart = (tw % 100).toInt
      minutePart % w == 0 && minutePart < 60 && tw > 0
    }
}
