package graft.parse

import java.util.concurrent.ConcurrentHashMap
import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

import graft.model.UaInfo

/** User-agent classifier with the exact semantics of the reference's
  * NewSBOUserAgent (logparsers/useragent.go:126-287), reimplemented from the
  * behavioral spec in SURVEY.md §2 P11. Pinned by the 19 active reference
  * test cases (logparsers/useragent_test.go:121-661) in UserAgentsSpec.
  *
  * Known reference quirk kept bug-for-bug: a "compatible; ...blex..." token
  * sets DeviceType to the *family* constant "SEOBot" (useragent.go:283).
  */
object UserAgents {

  // enums — useragent.go:62-103
  val FamilyOther = "Other"; val FamilyChrome = "Chrome"; val FamilyFirefox = "Firefox"
  val FamilySafari = "Safari"; val FamilyEdge = "Edge"; val FamilySearchBot = "SearchBot"
  val FamilyAIBot = "AIBot"; val FamilyScript = "Script"; val FamilySocialBot = "SocialBot"
  val FamilyOtherBot = "OtherBot"; val FamilySEOBot = "SEOBot"; val FamilyScanner = "Scanner"

  val OsOther = "Other"; val OsWindows = "Windows"; val OsMacOS = "MacOS"
  val OsLinux = "Linux"; val OsAndroid = "Android"; val OsIOS = "IOS"

  val DeviceUnknown = "Unknown"; val DeviceDesktop = "Desktop"
  val DeviceMobile = "Mobile"; val DeviceScript = "Script"

  val HumanYes = "Human"; val HumanNo = "NonHuman"; val HumanUnknown = "Unknown"

  val IntentUnknown = "Unknown"; val IntentScraping = "Scraping"; val IntentMalicious = "Malicious"
  val IntentScanning = "Scanning"; val IntentProcessing = "Processing"

  // bot-class regexes over the lowercased UA — useragent.go:105-115
  private val reSearchBots =
    Pattern.compile("(googlebot|bingbot|baiduspider|yandexbot|duckduckbot)")
  private val reSocialBots =
    Pattern.compile("(facebookexternalhit|twitterbot|linkedinbot|pinterestbot|slackbot|bytespider)")
  private val reMarketingBots =
    Pattern.compile("(ahrefs|semrush|dotbot|mj12bot|seobilitybot|siteauditbot|yandex.)")
  private val reAIBots =
    Pattern.compile("(gptbot|chatgpt|google-extended|claudebot|meta-externalagent|amazonbot|perplexitybot|youbot)")
  private val reScannerBots =
    Pattern.compile("(censysinspect|expanse|aliyunsecbot|nmap|masscan|zgrab|shodanbot|urlscan|tchelebi)")
  private val reScriptAgents =
    Pattern.compile("(curl|scrapy|wget|python|go-http-client|java|ruby|okhttp|postman|axios|guzzlehttp|headlesschrome|phantomjs|cloudflare-traffic-manager)")

  // token scan over the part after the first space — useragent.go:191
  private val reToken = Pattern.compile("\\s*\\(([^)]+)\\)|\\s*([^/]+/[^ ]+)")

  private def found(p: Pattern, s: String): Boolean = p.matcher(s).find()

  private final class State {
    var os: String = OsOther
    var family: String = FamilyOther
    var device: String = DeviceUnknown
    var human: String = HumanUnknown
    var intent: String = IntentUnknown
  }

  // "compatible; ..." token handling — useragent.go:276-287
  private def processCompatiblePart(st: State, part: String): Unit = {
    val lower = part.toLowerCase(java.util.Locale.ROOT) // locale-stable, like Go strings.ToLower
    if (lower.contains("bot")) {
      st.device = DeviceScript
      st.human = HumanNo
      st.family = FamilyOtherBot
      if (lower.contains("blex")) {
        st.device = FamilySEOBot // reference bug kept: family constant into DeviceType
        st.intent = IntentProcessing
      }
    }
  }

  /** A classification as parse-column values: the five enum fields,
    * pre-encoded (the UA string itself is `ua_full`).
    */
  final class UaClass private[UserAgents] (base: UaInfo) {
    val os: UTF8String = encoded(base.ua_os)
    val family: UTF8String = encoded(base.ua_family)
    val device: UTF8String = encoded(base.ua_device_type)
    val human: UTF8String = encoded(base.ua_human)
    val intent: UTF8String = encoded(base.ua_intent)

    /** this class under the robots.txt override, applied after
      * classification when the request's path1 is "/robots.txt"
      */
    lazy val robots: UaClass = new UaClass(robotsOverride(base))

    def info(full: String): UaInfo = base.copy(ua_full = full)
  }

  // the enum values, each encoded once and shared by all memo entries
  private val encodedEnums = new ConcurrentHashMap[String, UTF8String]()
  private def encoded(v: String): UTF8String = encodedEnums.computeIfAbsent(v, UTF8String.fromString(_))

  /** Memoized classification, keyed by the UA's UTF-8 bytes (the same
    * bounded memo as LineParser's URI and referer memos, shared by both
    * parse tiers): UA-string cardinality is tiny relative to row count (a
    * closed pool here; low thousands in real logs), and classify is a pure
    * function — the reference memoizes nothing but pays the regex per line
    * on one goroutine.
    */
  private val cache = new ConcurrentHashMap[UTF8String, UaClass]()

  def classify(ua: UTF8String): UaClass = {
    val hit = cache.get(ua)
    if (hit != null) return hit
    val c = new UaClass(classifyUncached(ua.toString))
    if (cache.size < LineParser.MemoCap) cache.put(ua.copy(), c)
    c
  }

  def classify(uaString: String): UaInfo = classify(UTF8String.fromString(uaString)).info(uaString)

  def classifyUncached(uaString: String): UaInfo = {
    val st = new State
    val lower = uaString.toLowerCase(java.util.Locale.ROOT) // locale-stable, like Go strings.ToLower

    if (found(reSearchBots, lower)) {
      st.device = DeviceScript; st.family = FamilySearchBot; st.human = HumanNo; st.intent = IntentProcessing
    } else if (found(reSocialBots, lower)) {
      st.device = DeviceScript; st.family = FamilySocialBot; st.human = HumanNo; st.intent = IntentProcessing
    } else if (found(reMarketingBots, lower)) {
      st.device = DeviceScript; st.family = FamilySEOBot; st.human = HumanNo; st.intent = IntentProcessing
    } else if (found(reAIBots, lower)) {
      st.device = DeviceScript; st.family = FamilyAIBot; st.human = HumanNo; st.intent = IntentProcessing
    } else if (found(reScannerBots, lower)) {
      st.device = DeviceScript; st.family = FamilyScanner; st.human = HumanNo; st.intent = IntentScanning
    } else if (found(reScriptAgents, lower)) {
      st.device = DeviceScript; st.family = FamilyScript; st.human = HumanNo; st.intent = IntentScraping
    } else {
      val sp = uaString.indexOf(' ')
      if (sp < 0) {
        // single-token UA — useragent.go:167-183; always NonHuman
        val lb = lower
        if (lb.contains("google")) st.family = FamilySearchBot
        else if (lb.startsWith("facebook")) { st.family = FamilyOtherBot; st.device = DeviceScript }
        else if (lb.startsWith("meta-")) { st.family = FamilyAIBot; st.device = DeviceScript }
        else if (lb.contains("curl") || lb.startsWith("go-") || lb.contains("java") ||
          lb.contains("apache") || lb.contains("php") || lb.contains("python") ||
          lb.contains("requests")) st.family = FamilyScript
        st.human = HumanNo
      } else {
        val after = uaString.substring(sp + 1)
        var foundCrios = false; var foundChrome = false; var foundSafari = false
        var foundFirefox = false; var foundEdge = false
        val m = reToken.matcher(after)
        while (m.find()) {
          val g1 = { val g = m.group(1); if (g == null) "" else g }
          val g2 = { val g = m.group(2); if (g == null) "" else g }
          if (g1.nonEmpty) { // parenthesized part — useragent.go:194-220
            if (g1.startsWith("Windows")) { st.device = DeviceDesktop; st.os = OsWindows }
            else if (g1.startsWith("Mac")) { st.device = DeviceDesktop; st.os = OsMacOS }
            else if (g1.startsWith("iPhone") || g1.startsWith("iPad")) { st.device = DeviceMobile; st.os = OsIOS }
            else if (g1.contains("Android")) {
              st.device = DeviceMobile
              if (g1.contains("Googlebot")) st.human = HumanNo
              st.os = OsAndroid
            } else if (g1.contains("Linux")) { st.device = DeviceDesktop; st.os = OsLinux }
            else if (g1.startsWith("compatible")) processCompatiblePart(st, g1)
            else if (g1.contains("Claude")) { st.human = HumanNo; st.family = FamilyAIBot; st.device = DeviceScript }
          } else if (g2.nonEmpty) { // name/version product — useragent.go:221-250
            if (g2.startsWith("Chrome")) { st.family = FamilyChrome; foundChrome = true }
            else if (g2.startsWith("Safari")) { st.family = FamilySafari; foundSafari = true }
            else if (g2.startsWith("CriOS")) { st.family = FamilyChrome; st.os = OsIOS; foundCrios = true }
            else if (g2.startsWith("Edg")) { st.family = FamilyEdge; st.os = OsWindows; foundEdge = true }
            else if (g2.startsWith("Firefox")) { st.family = FamilyFirefox; foundFirefox = true }
            else if (g2.contains("compatible")) processCompatiblePart(st, g2)
            else if (g2.contains("openai")) { st.human = HumanNo; st.family = FamilyAIBot; st.device = DeviceScript }
            else if (g2.contains("Claude")) { st.human = HumanNo; st.family = FamilyAIBot; st.device = DeviceScript }
          }
        }
        // override precedence — useragent.go:252-263
        if (foundCrios) { st.family = FamilyChrome; st.os = OsIOS }
        else if (foundEdge) { st.family = FamilyEdge; st.os = OsWindows }
        else if (foundSafari && foundChrome) st.family = FamilyChrome
        else if (foundSafari && !foundChrome && !foundEdge && !foundFirefox) st.family = FamilySafari

        // SearchBot/OtherBot post-fix — useragent.go:265-269
        if (st.family == FamilySearchBot || st.family == FamilyOtherBot) {
          st.device = DeviceScript; st.os = OsOther; st.human = HumanNo
        }
      }
    }
    UaInfo(uaString, st.os, st.family, st.device, st.human, st.intent)
  }

  /** robots.txt override — httpservers.go:63-77. */
  private def robotsOverride(ua: UaInfo): UaInfo = {
    var family = ua.ua_family
    if (family != FamilyAIBot && family != FamilySEOBot && family != FamilyScript &&
      family != FamilySearchBot && family != FamilySocialBot) {
      family = FamilyOtherBot
    }
    ua.copy(ua_human = HumanNo, ua_device_type = DeviceScript, ua_family = family)
  }
}
