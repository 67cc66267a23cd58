package graft.functions

import graft.functions.expressions.ParseUserAgent
import org.apache.spark.sql.{Column, DataFrame, graftshim}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar/enrichment function library — SURVEY §2.4 (F3–F17).
  *
  * Everything here is composed from `org.apache.spark.sql.functions`
  * built-ins or native expressions so it stays inside whole-stage
  * codegen; no Scala UDFs on the hot path.
  */
object Scalars {

  /** F3 `eventTimeSafeMs` — min(timestamp, receivedAt, now): clamps future
    * timestamps (ref `lib/index.ts:244-249`). Deterministic variant without
    * the `now` clamp for reproducible tests. */
  def eventTimeSafe(ts: Column, receivedAt: Column): Column =
    least(coalesce(ts, receivedAt), coalesce(receivedAt, ts))

  /** F6 URL parsing — host/path/search (ref `bulker-destination.ts:60-67`). */
  def urlHost(url: Column): Column = parse_url(url, lit("HOST"))
  def urlPath(url: Column): Column = parse_url(url, lit("PATH"))
  def urlParam(url: Column, key: String): Column =
    parse_url(url, lit("QUERY"), lit(key))

  /** F6 referring domain (ref `analytics-plugin.ts:441`). */
  def referringDomain(referrer: Column): Column = urlHost(referrer)

  /** F8 hashing family (ref `mixpanel-destination.ts:391-393`,
    * `facebook-conversions.ts:11-16`). */
  def md5InsertId(cols: Column*): Column = md5(concat_ws(":", cols: _*))
  def sha256Pii(c: Column): Column = sha2(lower(trim(c)), 256)

  /** F8 sha256 -> int partition id mod n
    * (ref `profiles-functions.ts:47-53,87`: 240 partitions). */
  def partitionId(c: Column, n: Int = 240): Column =
    pmod(conv(substring(sha2(c, 256), 1, 8), 16, 10).cast(LongType), lit(n.toLong))

  /** F9 IP anonymize — zero the last octet (ref
    * `bulker-destination.ts:19-27`). */
  def anonymizeIp(ip: Column): Column =
    regexp_replace(ip, "\\.[0-9]+$", ".0")

  /** F9 privacy fingerprint — hash(ip + user_agent) as anonymousId
    * substitute (ref `functions.d.ts:76-91`). */
  def fingerprintId(ip: Column, ua: Column): Column =
    sha2(concat_ws("|", ip, ua), 256)

  /** F12 `plural` — event type -> warehouse table name
    * (ref `bulker-destination.ts:310-323`). */
  def plural(t: Column): Column =
    when(t === "identify", "identifies")
      .when(t === "alias", "aliases")
      .when(t.isin("page", "track", "group", "screen"), concat(t, lit("s")))
      .otherwise(t)

  /** JVM twin of the reference's exact `plural` switch (ref
    * `bulker-destination.ts:310-323`): ONLY the four segment types map;
    * anything else (incl. "screen") passes through unchanged. */
  def pluralName(t: String): String = t match {
    case "identify" => "identifies"
    case "page" => "pages"
    case "track" => "tracks"
    case "group" => "groups"
    case other => other
  }

  /** Screen resolution "WxH" string (ref `bulker-destination.ts:127-139`). */
  def screenRes(w: Column, h: Column): Column =
    when(w.isNotNull && h.isNotNull, concat(w, lit("x"), h))

  /** F2 UA parse — full taxonomy (browser/engine/os/device/cpu + bot)
    * over the raw user-agent string, rule tables + reference shape in
    * [[UaTaxonomy]] (ref `lib/ua.ts:6,22-25`;
    * `types/protocols/functions.d.ts:102-125`). A flat struct of name,
    * version, major, engine_name, engine_version, os_name, os_version,
    * device_type, device_vendor, device_model, cpu_architecture, bot;
    * non-null for a null UA. One native expression
    * ([[graft.functions.expressions.ParseUserAgent]]) over the same rule
    * walks the chain's [[graft.chain.FunctionChain.parseUaNode]] runs, so
    * the two cannot drift; reading a field runs only its part. */
  def parseUa(ua: Column): Column =
    graftshim.column(ParseUserAgent(graftshim.expression(ua)))

  /** F10/P5 snake_case — `idToSnakeCaseFast` semantics
    * (ref `lib/strings.ts:11-35`): camelCase + spaces/dashes -> snake. */
  def snakeCaseName(s: String): String = {
    // reference contract (ref `lib/strings.ts` idToSnakeCaseFast,
    // pinned by its full strings.test.ts table): `_` before an
    // uppercase ONLY when the previous char is a latin letter (so
    // `_Camel` gains nothing, `camelUSCase` → camel_u_s_case, `CCamel`
    // → c_camel); each SPACE becomes one `_` (not collapsed); every
    // other char — hyphens, `$`, `#` — passes through untouched
    // (bulker replaces SQL-unsupported chars later, not here); a
    // string with no uppercase and no space returns unchanged
    val sb = new java.lang.StringBuilder(s.length + 8)
    var touched = false
    var prevIsLetter = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') {
        if (prevIsLetter) sb.append('_')
        sb.append((c + 32).toChar)
        touched = true
      } else if (c == ' ') {
        sb.append('_'); touched = true
      } else sb.append(c)
      prevIsLetter = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      i += 1
    }
    if (!touched) s else sb.toString
  }

  /** Column twin of [[snakeCaseName]] (same contract; lookbehind keeps
    * the only-between-letters rule, spaces map 1:1). Lowering is
    * ASCII-ONLY via translate — `lower()` would also fold non-Latin
    * uppercase (İ, Ä, Д…), drifting from the JVM twin's A-Z-only
    * contract and producing hoisted column names that disagree with
    * chain-side names on unicode keys. */
  def snakeCase(c: Column): Column =
    translate(
      regexp_replace(
        regexp_replace(c, "(?<=[A-Za-z])([A-Z])", "_$1"), " ", "_"),
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** P5 recursive schema snake_case rename — pure StructType rewrite via
    * cast (struct casts match by position), no data movement, stays in
    * codegen (ref `bulker-destination.ts:29-41,274-283`). */
  def snakeCaseSchema(df: DataFrame): DataFrame = {
    def rename(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(name = snakeCaseName(f.name), dataType = rename(f.dataType))))
      case a: ArrayType => a.copy(elementType = rename(a.elementType))
      case m: MapType => m.copy(valueType = rename(m.valueType))
      case other => other
    }
    df.select(df.schema.fields.map { f =>
      val target = rename(f.dataType)
      val base = col(s"`${f.name}`")
      (if (target == f.dataType) base else base.cast(target)).as(snakeCaseName(f.name))
    }: _*)
  }

  /** F14 GA4 event-name mapping — the full segment-style switch of
    * `ga4-destination.ts:169-298` + name sanitize/truncate-40 (:164-167). */
  val Ga4NameMap: Map[String, String] = Map(
    "Promotion Clicked" -> "select_promotion",
    "Promotion Viewed" -> "view_promotion",
    "Product List Viewed" -> "view_item_list",
    "Product Viewed" -> "view_item",
    "Product Clicked" -> "select_item",
    "Product Added" -> "add_to_cart",
    "Product Removed" -> "remove_from_cart",
    "Product Added to Wishlist" -> "add_to_wishlist",
    "Cart Viewed" -> "view_cart",
    "Checkout Started" -> "begin_checkout",
    "Payment Info Entered" -> "add_payment_info",
    "Order Completed" -> "purchase",
    "Order Refunded" -> "refund",
    "Products Searched" -> "search",
    "Signed Up" -> "sign_up",
    "Signed In" -> "login")

  def ga4EventName(event: Column): Column = {
    val mapped = Ga4NameMap.foldLeft(lit(null).cast("string")) {
      case (acc, (from, to)) => when(event === from, to).otherwise(acc)
    }
    substring(
      regexp_replace(coalesce(mapped, event), "[^a-zA-Z0-9_]", "_"), 1, 40)
  }

  /** F15 Mixpanel special traits: prefix `$` on reserved trait names
    * (ref `mixpanel-destination.ts:14-23`). */
  val MixpanelSpecialTraits: Seq[String] =
    Seq("avatar", "email", "phone", "name", "first_name", "last_name",
      "timezone", "unsubscribed")
}
