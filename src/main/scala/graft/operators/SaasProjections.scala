package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Scalars

/** SaaS destination projections — SURVEY §2.2 K3: the pure column-mapping
  * part of each HTTP destination (the network POST is a sink concern;
  * the projection is what's testable and what the reference unit-tests).
  *
  * Each returns the destination's wire-format rows as a DataFrame; at
  * scale these are narrow projections feeding `foreachPartition` HTTP
  * emitters with per-partition connection reuse.
  */
object SaasProjections {

  private def ctx(name: String): Column = col(s"context.$name")

  /** Ad-platform click-id query parameters Mixpanel lifts from the page
    * URL into event properties (ref `mixpanel-destination.ts:25,102-115`
    * CLICK_IDS + `clickIdProperties`). */
  val ClickIds: Seq[String] = Seq(
    "dclid", "fbclid", "gbraid", "gclid", "ko_click_id", "li_fat_id",
    "msclkid", "rtd_cid", "ttclid", "twclid", "wbraid")

  /** Mixpanel track projection (ref `mixpanel-destination.ts:334-420`):
    * distinct_id preference user_id > anonymous_id, md5 $insert_id,
    * $-prefixed reserved traits, UTM fields, click ids parsed from the
    * page URL's query string (null when absent — proper query-key
    * parsing, not substring matching: `gclid` must not read `fbclid`). */
  def mixpanelTrack(events: DataFrame): DataFrame =
    events.filter(col("type") === "track").select(
      Seq(
        coalesce(col("user_id"), col("anonymous_id")).as("distinct_id"),
        col("event").as("event"),
        (unix_timestamp(col("timestamp")) * 1000).as("time"),
        Scalars.md5InsertId(col("message_id")).as("insert_id"),
        ctx("ip").as("ip"),
        ctx("campaign.source").as("utm_source"),
        ctx("campaign.medium").as("utm_medium"),
        ctx("page.url").as("current_url"),
        ctx("geo.city").as("city"),
        ctx("geo.country").as("country_code")) ++
      ClickIds.map(k =>
        parse_url(ctx("page.url"), lit("QUERY"), lit(k)).as(k)): _*)

  /** GA4 event projection (ref `ga4-destination.ts`): client_id from
    * ga4 clientId else fingerprint, mapped+sanitized event name,
    * session_id, engagement. */
  def ga4Events(events: DataFrame): DataFrame =
    events.filter(col("type").isin("track", "page")).select(
      coalesce(ctx("client_ids.ga4"),
        Scalars.fingerprintId(ctx("ip"), ctx("user_agent"))).as("client_id"),
      col("user_id").as("user_id"),
      Scalars.ga4EventName(
        when(col("type") === "page", "page_view").otherwise(col("event")))
        .as("event_name"),
      (unix_timestamp(col("timestamp")) * 1000000).as("timestamp_micros"),
      ctx("page.url").as("page_location"),
      ctx("page.title").as("page_title"))

  /** Mixpanel people ($set) payload with the full special-traits rule
    * (ref `mixpanel-destination.ts:14-23,127-132`): every reserved trait
    * name gets the `$` prefix, custom traits pass through unchanged —
    * applied DYNAMICALLY over whatever keys the traits object carries
    * (transform_keys over the parsed map), not a fixed column list. */
  def mixpanelPeople(events: DataFrame): DataFrame = {
    val mapT = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.StringType)
    val traits = from_json(col("traits"), mapT)
    val prefixed = transform_keys(traits, (k, _) =>
      when(k.isInCollection(Scalars.MixpanelSpecialTraits), concat(lit("$"), k))
        .otherwise(k))
    events.filter(col("type") === "identify" && col("traits").isNotNull)
      .select(
        coalesce(col("user_id"), col("anonymous_id")).as("distinct_id"),
        to_json(prefixed).as("set_payload"))
  }

  /** GA4 e-commerce items (ref `ga4-destination.ts:39-76,64-104`): the
    * `properties.products[]` array parsed and mapped product->Ga4Item
    * (product_id->item_id, name->item_name, position->index, ...), one
    * output row per item (exploded). `productsJson` defaults to a
    * `products` JSON array inside the properties blob; items with no
    * product_id or name are dropped, as in getItem (:77-79). */
  def ga4PurchaseItems(events: DataFrame,
                       productsJson: Column = get_json_object(col("properties"), "$.products"))
      : DataFrame = {
    val productSchema = org.apache.spark.sql.types.DataType.fromDDL(
      "array<struct<product_id:string,name:string,price:double," +
        "quantity:int,category:string,position:int>>")
    val items = filter(
      transform(from_json(productsJson, productSchema), p =>
        struct(
          p.getField("product_id").as("item_id"),
          p.getField("name").as("item_name"),
          p.getField("price").as("price"),
          p.getField("quantity").as("quantity"),
          p.getField("category").as("item_category"),
          p.getField("position").as("index"))),
      p => p.getField("item_id").isNotNull && p.getField("item_name").isNotNull)
    events.filter(col("type") === "track")
      .select(
        coalesce(ctx("client_ids.ga4"),
          Scalars.fingerprintId(ctx("ip"), ctx("user_agent"))).as("client_id"),
        col("user_id"),
        Scalars.ga4EventName(col("event")).as("event_name"),
        col("message_id").as("transaction_id"),
        explode(items).as("item"))
      .select(col("client_id"), col("user_id"), col("event_name"),
        col("transaction_id"),
        col("item.item_id").as("item_id"),
        col("item.item_name").as("item_name"),
        col("item.price").as("item_price"),
        col("item.quantity").as("item_quantity"),
        col("item.item_category").as("item_category"))
  }

  /** Facebook conversions projection (ref `facebook-conversions.ts`):
    * sha256-hashed lowercase/trimmed PII, event time in seconds. */
  def facebookConversions(events: DataFrame): DataFrame =
    events.filter(col("type") === "track").select(
      col("event").as("event_name"),
      unix_timestamp(col("timestamp")).as("event_time"),
      Scalars.sha256Pii(get_json_object(col("traits"), "$.email")).as("em"),
      Scalars.sha256Pii(coalesce(col("user_id"), col("anonymous_id"))).as("external_id"),
      ctx("ip").as("client_ip_address"),
      ctx("user_agent").as("client_user_agent"),
      ctx("page.url").as("event_source_url"))

  /** PostHog capture projection (ref `posthog-destination.ts:31-79,
    * 129-169`): track/page/screen -> capture rows with `$`-prefixed
    * context properties ($pageview for page), distinct_id preference
    * user_id > anonymous_id, UA-derived browser/os/device, geoip_* from
    * the geo context, screen dims. Anonymous events pass only when
    * `enableAnonymousUserProfiles` (ref :138,159). */
  def posthogCapture(events: DataFrame,
                     enableAnonymousUserProfiles: Boolean = true): DataFrame = {
    val ua = Scalars.parseUa(ctx("user_agent"))
    events.filter(col("type").isin("track", "page") &&
        (col("user_id").isNotNull || lit(enableAnonymousUserProfiles)))
      .select(
        coalesce(col("user_id"), col("anonymous_id")).as("distinct_id"),
        when(col("type") === "page", "$pageview").otherwise(col("event"))
          .as("event"),
        (unix_timestamp(col("timestamp")) * 1000).as("time"),
        ctx("page.url").as("current_url"),
        ctx("page.host").as("host"),
        ctx("page.path").as("pathname"),
        ctx("page.referrer").as("referrer"),
        ctx("page.referring_domain").as("referring_domain"),
        ua.getField("name").as("browser"),
        ua.getField("os_name").as("os"),
        ua.getField("device_type").as("device"),
        ctx("geo.city").as("geoip_city_name"),
        ctx("geo.country").as("geoip_country_code"),
        ctx("screen.width").as("screen_width"),
        ctx("screen.height").as("screen_height"),
        ctx("screen.density").as("screen_dpi"))
  }

  /** Amplitude projection (ref `amplitude-destination.ts:38-137`): page/
    * track rows carry a session_id — the reference assigns it from a
    * 30-minute TTL store keyed by device (anonymousId); the batch
    * equivalent is gap-sessionization ([[Sessionize.tagEvents]], same
    * 30-min window, session id = epoch-ms of session start). identify
    * rows become `$identify` with `$set` user properties (:38-54).
    * os/platform fall back to the parsed UA when the event has no os
    * context (:121-127). */
  def amplitudeEvents(events: DataFrame,
                      enableAnonymousUserProfiles: Boolean = true): DataFrame = {
    val ua = Scalars.parseUa(ctx("user_agent"))
    val tracked = Sessionize.tagEvents(
        events.filter(col("type").isin("track", "page") &&
          (col("user_id").isNotNull || lit(enableAnonymousUserProfiles))),
        "anonymous_id", "timestamp")
      .select(
        col("message_id").as("insert_id"),
        (unix_timestamp(col("timestamp")) * 1000).as("time"),
        when(col("type") === "page", "pageview")
          .otherwise(coalesce(col("event"), lit("Unknown Event")))
          .as("event_type"),
        col("session_id"),
        col("user_id"),
        col("anonymous_id").as("device_id"),
        ua.getField("os_name").as("os_name"),
        ua.getField("device_type").as("platform"),
        ctx("locale").as("language"),
        ctx("ip").as("ip"),
        ctx("user_agent").as("user_agent"),
        ctx("geo.country").as("country"),
        ctx("geo.city").as("city"),
        ctx("geo.lat").as("location_lat"),
        ctx("geo.lon").as("location_lng"))
    val identified = events
      .filter(col("type") === "identify" && col("user_id").isNotNull)
      .select(
        col("message_id").as("insert_id"),
        (unix_timestamp(col("timestamp")) * 1000).as("time"),
        lit("$identify").as("event_type"),
        col("user_id"),
        get_json_object(col("traits"), "$.email").as("user_email"),
        get_json_object(col("traits"), "$.name").as("user_name"))
    tracked.unionByName(identified, allowMissingColumns = true)
  }

  /** Intercom projection (ref `intercom-destination.ts:195-303,306-404`):
    * identify w/ email -> contact upsert rows (role=user, external_id,
    * last_seen_at); non-identify/group -> event rows (event_name
    * page-view for page, created_at epoch-seconds, metadata url/ip/
    * timezone). One frame, discriminated by `kind`. */
  def intercomRows(events: DataFrame): DataFrame = {
    val contacts = events
      .filter(col("type") === "identify" &&
        get_json_object(col("traits"), "$.email").isNotNull)
      .select(
        lit("contact").as("kind"),
        lit("user").as("role"),
        col("user_id").as("external_id"),
        get_json_object(col("traits"), "$.email").as("email"),
        get_json_object(col("traits"), "$.name").as("name"),
        date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("last_seen_at"))
    val evs = events
      .filter(!col("type").isin("identify", "group"))
      .select(
        lit("event").as("kind"),
        when(col("type") === "track", col("event"))
          .when(col("type") === "page", "page-view")
          .otherwise(col("type")).as("event_name"),
        unix_timestamp(col("timestamp")).as("created_at"),
        col("user_id").as("external_id"),
        get_json_object(ctx("traits"), "$.email").as("email"),
        ctx("page.url").as("url"),
        ctx("ip").as("ip"),
        ctx("geo.timezone").as("timezone"))
    contacts.unionByName(evs, allowMissingColumns = true)
  }

  /** HubSpot contact upsert projection (ref `hubspot-destination.ts:
    * 20-26,156-197,257-263`): identify with userId+email -> contact
    * properties with the reference's name split (first token = firstname,
    * remainder = lastname or absent) and the jitsu_user_id marker
    * property. */
  def hubspotContacts(events: DataFrame): DataFrame = {
    val name = get_json_object(col("traits"), "$.name")
    val parts = split(name, " ")
    events.filter(col("type") === "identify" && col("user_id").isNotNull &&
        get_json_object(col("traits"), "$.email").isNotNull)
      .select(
        get_json_object(col("traits"), "$.email").as("email"),
        element_at(parts, 1).as("firstname"),
        nullif(array_join(slice(parts, 2, Int.MaxValue), " "), lit(""))
          .as("lastname"),
        col("user_id").as("jitsu_user_id"))
  }

  /** Braze users/track projection (ref `braze-destination.ts:46-88,
    * 215-220`): track events with the id-part preference external_id
    * (userId) > user_alias (anonymousId aliased as `anonymous_id` when
    * `useJitsuAnonymousIdAlias`), ISO-8601 event time. */
  def brazeTrack(events: DataFrame, appId: String = "app",
                 useJitsuAnonymousIdAlias: Boolean = true): DataFrame =
    events.filter(col("type") === "track")
      .select(
        col("user_id").as("external_id"),
        when(col("user_id").isNull && lit(useJitsuAnonymousIdAlias),
          col("anonymous_id")).as("alias_name"),
        when(col("user_id").isNull && lit(useJitsuAnonymousIdAlias),
          "anonymous_id").as("alias_label"),
        lit(appId).as("app_id"),
        col("event").as("name"),
        date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("time"),
        col("properties").as("properties"))

  /** June.so track projection (ref `june-destination.ts:21-42,87-94`):
    * track/page -> "Page View" naming, campaign_/screen_ prefixed context
    * properties, ip/userAgent/locale carried into properties. */
  def juneTrack(events: DataFrame,
                enableAnonymousUserProfiles: Boolean = true): DataFrame =
    events.filter(col("type").isin("track", "page") &&
        (col("user_id").isNotNull || lit(enableAnonymousUserProfiles)))
      .select(
        lit("track").as("type"),
        when(col("type") === "page", "Page View").otherwise(col("event"))
          .as("event"),
        unix_timestamp(col("timestamp")).as("timestamp_s"),
        col("anonymous_id").as("anonymousId"),
        col("user_id").as("userId"),
        get_json_object(ctx("traits"), "$.email").as("email"),
        ctx("campaign.source").as("campaign_source"),
        ctx("campaign.medium").as("campaign_medium"),
        ctx("screen.width").as("screen_width"),
        ctx("screen.height").as("screen_height"),
        ctx("ip").as("ip"),
        ctx("user_agent").as("userAgent"),
        ctx("locale").as("locale"))

  /** Segment-proxy projection (ref `segment-destination.ts:13-36`): the
    * forwarding request per event — `{apiBase}/{type}` URL, Basic auth of
    * `writeKey:` base64d, JSON payload. The reference holds writeKey in
    * destination props; the envelope's per-workspace `write_key` is that
    * value in multi-tenant routing, so the projection uses it. */
  def segmentProxy(events: DataFrame,
                   apiBase: String = "https://api.segment.io/v1"): DataFrame = {
    val base = apiBase.stripSuffix("/")
    events.select(
      concat(lit(s"$base/"), col("type")).as("url"),
      lit("POST").as("method"),
      base64(concat(col("write_key"), lit(":")).cast("binary")).as("authorization"),
      to_json(struct(col("message_id"), col("type"), col("event"),
        col("anonymous_id"))).as("payload"))
  }

  /** Webhook projection (ref `webhook-destination.ts:6-29`): POST of the
    * event JSON to a configured URL with configured headers. to_json drops
    * null fields — same shape as the reference's JSON.stringify. */
  def webhookRequests(events: DataFrame,
                      url: String = "https://hooks.example.com/jitsu",
                      method: String = "POST"): DataFrame =
    events.select(
      lit(url).as("url"),
      lit(method).as("method"),
      lit("application/json").as("content_type"),
      to_json(struct(col("message_id"), col("type"), col("event"),
        col("anonymous_id"), col("user_id"))).as("body"))
}
