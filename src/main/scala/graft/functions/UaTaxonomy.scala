package graft.functions

import java.util.Locale
import java.util.regex.Pattern

/** F2 user-agent taxonomy — ONE ordered rule table and ONE JVM rule walk
  * per taxonomy part ([[browser]], [[engine]], [[os]], [[device]],
  * [[cpu]], [[bot]]). Every caller runs these walks: the native
  * expressions behind [[Scalars.parseUa]]
  * ([[graft.functions.expressions.ParseUserAgent]]) and the chain's
  * [[graft.chain.FunctionChain.parseUaNode]] through [[parse]]. Every
  * rule is a plain Java regex, compiled once with the table and matched
  * with `find()`.
  *
  * The field shape is the reference's `UserAgent` protocol type
  * (`types/protocols/functions.d.ts:102-125`): browser{name, version,
  * major}, engine{name, version}, os{name, version}, device{model,
  * type, vendor}, cpu{architecture}, bot. Bot keywords are the
  * reference's list verbatim (`lib/ua.ts:6`). Detection ORDER is the
  * taxonomy, as in any UA parser: Edge/Opera/Samsung UAs all contain
  * "Chrome", nearly everything advertises "Safari", iOS UAs say "like
  * Mac OS X", ChromeOS says "X11" — most-specific first, first match
  * wins. */
object UaTaxonomy {

  /** ref lib/ua.ts:6 — substring match on the lowercased UA. */
  val botKeywords: Seq[String] =
    Seq("bot", "spider", "headless", "crawler", "uptimia")

  /** (name, detect regex, version regexes — first with a group-1 match
    * wins). */
  final case class Rule(name: String, detect: String,
                        versions: Seq[String]) {
    private[UaTaxonomy] val detectP = Pattern.compile(detect)
    private[UaTaxonomy] val versionPs = versions.map(Pattern.compile)
  }

  val browsers: Seq[Rule] = Seq(
    Rule("Edge", "(?i)edg(?:e|a|ios)?/",
      Seq("(?i)edg(?:e|a|ios)?/([0-9.]+)")),
    Rule("Opera", "(?i)opr/|opera",
      Seq("OPR/([0-9.]+)", "Version/([0-9.]+)", "Opera[ /]([0-9.]+)")),
    Rule("Samsung Internet", "(?i)samsungbrowser",
      Seq("(?i)samsungbrowser/([0-9.]+)")),
    Rule("UC Browser", "(?i)ucbrowser",
      Seq("(?i)ucbrowser/([0-9.]+)")),
    Rule("Vivaldi", "(?i)vivaldi", Seq("(?i)vivaldi/([0-9.]+)")),
    Rule("Yandex", "(?i)yabrowser", Seq("(?i)yabrowser/([0-9.]+)")),
    Rule("IE", "(?i)msie |trident/",
      Seq("MSIE ([0-9.]+)", "rv:([0-9.]+)")),
    Rule("Chrome", "(?i)chrome|crios",
      Seq("(?:Chrome|CriOS)/([0-9.]+)")),
    Rule("Firefox", "(?i)firefox|fxios",
      Seq("(?:Firefox|FxiOS)/([0-9.]+)")),
    Rule("Safari", "(?i)safari",
      Seq("Version/([0-9.]+)", "Safari/([0-9.]+)")))

  val engines: Seq[Rule] = Seq(
    // legacy Edge ("Edge/18") is EdgeHTML; Chromium Edge ("Edg/") is
    // Blink like every other Chromium skin
    Rule("EdgeHTML", "(?i)edge/", Seq("(?i)edge/([0-9.]+)")),
    Rule("Blink",
      "(?i)chrome|crios|edg/|edga|edgios|opr/|samsungbrowser|yabrowser|vivaldi|ucbrowser",
      Seq("(?i)(?:chrome|crios)/([0-9.]+)")),
    Rule("Presto", "(?i)presto", Seq("(?i)presto/([0-9.]+)")),
    Rule("Trident", "(?i)trident", Seq("(?i)trident/([0-9.]+)")),
    Rule("Gecko", "(?i)gecko", Seq("rv:([0-9.]+)")),
    Rule("WebKit", "(?i)applewebkit",
      Seq("(?i)applewebkit/([0-9.]+)")))

  /** Version transform applied after extraction. */
  sealed trait Tx
  case object NoTx extends Tx
  case object UnderscoreDot extends Tx
  case object WinNt extends Tx

  /** NT build → marketing version (the public ua-parser windows map). */
  val winNtMap: Map[String, String] = Map(
    "10.0" -> "10", "6.4" -> "10", "6.3" -> "8.1", "6.2" -> "8",
    "6.1" -> "7", "6.0" -> "Vista", "5.2" -> "XP", "5.1" -> "XP",
    "5.0" -> "2000")

  final case class OsRule(name: String, detect: String,
                          versions: Seq[String], tx: Tx) {
    private[UaTaxonomy] val detectP = Pattern.compile(detect)
    private[UaTaxonomy] val versionPs = versions.map(Pattern.compile)
  }

  val oses: Seq[OsRule] = Seq(
    OsRule("Windows Phone", "(?i)windows phone",
      Seq("(?i)windows phone(?: os)? ([0-9.]+)"), NoTx),
    OsRule("ChromeOS", "(?i)cros",
      Seq("(?i)cros [^ ]+ ([0-9.]+)"), NoTx),
    OsRule("iOS", "(?i)iphone|ipad|ipod|ios",
      Seq("(?i)os ([0-9_]+)"), UnderscoreDot),
    OsRule("Android", "(?i)android",
      Seq("(?i)android ([0-9.]+)"), NoTx),
    OsRule("macOS", "(?i)macintosh|mac os",
      Seq("(?i)mac os x ([0-9_.]+)"), UnderscoreDot),
    OsRule("Windows", "(?i)windows",
      Seq("Windows NT ([0-9.]+)"), WinNt),
    OsRule("Linux", "(?i)linux|x11|ubuntu", Seq(), NoTx))

  /** Device: vendor + model (literal or extracted) + type. Type default
    * is "desktop" per ref ua.ts:24. */
  final case class DeviceRule(detect: String, vendor: String,
                              model: Either[String, String],
                              dtype: String) {
    private[UaTaxonomy] val detectP = Pattern.compile(detect)
    private[UaTaxonomy] val modelP = model.map(Pattern.compile)
  }

  val devices: Seq[DeviceRule] = Seq(
    DeviceRule("(?i)apple ?watch|watch ?os", "Apple",
      Left("Watch"), "wearable"),
    DeviceRule("(?i)playstation|xbox|nintendo", "",
      Right("(?i)(playstation [0-9a-z]+|xbox[^;)( ]*|nintendo [0-9a-z]+)"),
      "console"),
    DeviceRule("(?i)smart-?tv|appletv|googletv|hbbtv|tizen.*tv|web0?s.*tv",
      "", Left(""), "smarttv"),
    DeviceRule("(?i)ipad", "Apple", Left("iPad"), "tablet"),
    DeviceRule("(?i)iphone", "Apple", Left("iPhone"), "mobile"),
    DeviceRule("(?i)ipod", "Apple", Left("iPod"), "mobile"),
    DeviceRule("(?i)sm-[tx]", "Samsung",
      Right("(SM-[A-Za-z0-9]+)"), "tablet"),
    DeviceRule("(?i)sm-", "Samsung",
      Right("(SM-[A-Za-z0-9]+)"), "mobile"),
    DeviceRule("(?i)pixel", "Google",
      Right("(?i)(pixel(?: [0-9]+a?)?(?: pro| xl| fold)?)"), "mobile"),
    // Android without a "Mobile" token is a keyboard-less tablet
    DeviceRule("(?i)^(?!.*mobile).*android", "", Left(""), "tablet"),
    DeviceRule("(?i)mobile|android", "", Left(""), "mobile"))

  /** (architecture, detect) — ordered; amd64 before ia32 so "x86_64"
    * never half-matches "x86", arm64 before arm. */
  val cpus: Seq[(String, String)] = Seq(
    "amd64" -> "(?i)x86_64|x64|wow64|win64|amd64",
    "arm64" -> "(?i)arm64|aarch64",
    "arm" -> "(?i)\\barm",
    "ia32" -> "(?i)i[3-6]86|x86",
    "ppc" -> "(?i)ppc|powerpc")
  private val cpuPs = cpus.map { case (arch, p) => (arch, Pattern.compile(p)) }

  // ---- rule walks ------------------------------------------------------

  private def found(p: Pattern, s: String): Boolean = p.matcher(s).find()
  private def extract(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find() && m.groupCount() >= 1 && m.group(1) != null) m.group(1)
    else ""
  }
  private def firstVersion(ps: Seq[Pattern], s: String): String =
    ps.iterator.map(extract(_, s)).find(_.nonEmpty).getOrElse("")

  /** (name, version, major); major is the text before the first dot, so
    * "" for a version of dots only. */
  def browser(s: String): (String, String, String) =
    browsers.find(r => found(r.detectP, s)).fold(("unknown", "", "")) { r =>
      val v = firstVersion(r.versionPs, s)
      (r.name, v, v.takeWhile(_ != '.'))
    }

  /** (name, version) */
  def engine(s: String): (String, String) =
    engines.find(r => found(r.detectP, s)).fold(("unknown", "")) { r =>
      (r.name, firstVersion(r.versionPs, s))
    }

  /** (name, version) */
  def os(s: String): (String, String) =
    oses.find(r => found(r.detectP, s)).fold(("unknown", "")) { r =>
      val v = firstVersion(r.versionPs, s)
      (r.name, r.tx match {
        case NoTx => v
        case UnderscoreDot => v.replace('_', '.')
        case WinNt => winNtMap.getOrElse(v, v)
      })
    }

  /** (type, vendor, model) */
  def device(s: String): (String, String, String) =
    devices.find(r => found(r.detectP, s)).fold(("desktop", "", "")) { r =>
      (r.dtype, r.vendor, r.modelP.fold(identity, extract(_, s)))
    }

  def cpu(s: String): String =
    cpuPs.collectFirst { case (arch, p) if found(p, s) => arch }
      .getOrElse("")

  def bot(s: String): Boolean = {
    val lower = s.toLowerCase(Locale.ROOT)
    botKeywords.exists(lower.contains)
  }

  final case class UaResult(name: String, version: String, major: String,
                            engineName: String, engineVersion: String,
                            osName: String, osVersion: String,
                            deviceType: String, deviceVendor: String,
                            deviceModel: String, cpuArchitecture: String,
                            bot: Boolean)

  /** The whole taxonomy of one UA; null parses as "". */
  def parse(ua: String): UaResult = {
    val s = if (ua == null) "" else ua
    val (name, version, major) = browser(s)
    val (engineName, engineVersion) = engine(s)
    val (osName, osVersion) = os(s)
    val (deviceType, deviceVendor, deviceModel) = device(s)
    UaResult(name, version, major, engineName, engineVersion, osName,
      osVersion, deviceType, deviceVendor, deviceModel, cpu(s), bot(s))
  }
}
