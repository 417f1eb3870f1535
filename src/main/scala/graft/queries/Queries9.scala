package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.adapters.{Adapters, IgluQsAdapter, Tp1Adapter}

/** SURVEY §2 batch 9 (round 3): the remaining vendor adapter registry —
  * HubSpot (bare-array POST), Marketo / UrbanAirship (nested JSON),
  * Mandrill / Olark / Pingdom (form params holding URL-encoded JSON),
  * the Iglu self-describing querystring webhook, and Snowplow Tp1.
  * Payloads are synthesized from `event_id`; since every field is known by
  * construction, each oracle states the expected output directly — any
  * decode/parse/mapping bug in the adapter shows up as a value mismatch.
  */
object Queries9 extends QuerySet {
  private def ev(sp: SparkSession, dir: String): DataFrame =
    // fan the id projection out BEFORE the payload-decode chain: the synth
    // webhook queries are CPU-bound (regexp + url_decode + from_json) over
    // a tiny two-column input, and a single-row-group test file yields ONE
    // input split — so the whole chain ran on one core. The exchange moves
    // |ids| × 16 bytes; the decode it parallelizes costs ~100× that. Real
    // collector files arrive in many splits, where this is a cheap no-op.
    Tables.events(sp, dir).select(col("event_id"), col("user_id")).repartition()

  val defs: Map[String, Q] = Map(
    "adapter_hubspot" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val body = concat(
        lit("[{\"subscriptionType\":\"company.change\",\"eventId\":"), s(e),
        lit(",\"portalId\":"), s(e % 10), lit(",\"occurredAt\":"), s(e * 1000L),
        lit(",\"propertyName\":\"name\",\"propertyValue\":\"v"), s(e % 7),
        lit("\"},{\"subscriptionType\":\"contact.creation\",\"eventId\":"), s(e + 1),
        lit(",\"portalId\":"), s(e % 10), lit(",\"occurredAt\":"), s(e * 1000L),
        lit(",\"propertyName\":\"stage\",\"propertyValue\":\"s"), s(e % 3), lit("\"}]"))
      Adapters.hubspot(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("vendor_event_id"),
          col("portal_id"), col("property_name"), col("property_value"))
        .orderBy("event_id", "event_name")
    },

    "adapter_marketo" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val body = concat(
        lit("{\"name\":\"webhook A\",\"step\":"), s(e % 10),
        lit(",\"datetime\":\"2024-01-01 00:00:00\",\"lead\":{\"first_name\":\"lead"), s(e % 20),
        lit("\",\"created_at\":\"2024-01-01\"},\"company\":{\"name\":\"acme\"},\"campaign\":{\"id\":"), s(e % 100),
        lit(",\"name\":\"camp"), s(e % 5), lit("\"}}"))
      Adapters.marketo(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("step"), col("event_datetime"),
          col("lead_first_name"), col("company_name"), col("campaign_id"), col("campaign_name"))
        .orderBy("event_id")
    },

    "adapter_urbanairship" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val body = concat(
        lit("{\"id\":\"ua"), s(e),
        lit("\",\"occurred\":\"2024-01-01T00:00:00\",\"processed\":\"2024-01-01T00:00:01\",\"type\":\""),
        when(e % 2 === 0, lit("OPEN")).otherwise(lit("CLOSE")),
        lit("\",\"device_types\":[\"ios\"],\"body\":{\"session_id\":\"s"), s(e % 40), lit("\"}}"))
      Adapters.urbanairship(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("vendor_event_id"),
          col("occurred"), col("processed"), col("session_id"))
        .orderBy("event_id")
    },

    "adapter_mandrill" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      // form body: mandrill_events=<url-encoded JSON array of 2 events>
      val body = concat(
        lit("mandrill_events=%5B%7B%22event%22%3A%22subscribe%22%2C%22ts%22%3A"), s(e),
        lit("%2C%22msg%22%3A%7B%22email%22%3A%22u"), s(e % 50),
        lit("%40example.com%22%2C%22subject%22%3A%22hi%22%7D%7D%2C"),
        lit("%7B%22event%22%3A%22open%22%2C%22ts%22%3A"), s(e + 1),
        lit("%2C%22msg%22%3A%7B%22email%22%3A%22u"), s(e % 50),
        lit("%40example.com%22%2C%22subject%22%3A%22hi%22%7D%7D%5D"))
      Adapters.mandrill(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("event_ts"), col("email"), col("subject"))
        .orderBy("event_id", "event_name")
    },

    "adapter_olark" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val body = concat(
        lit("data=%7B%22kind%22%3A%22Conversation%22%2C%22id%22%3A%22EV"), s(e),
        lit("%22%2C%22visitor%22%3A%7B%22fullName%22%3A%22Bob%20Doe%22%2C%22emailAddress%22%3A%22bob"), s(e % 30),
        lit("%40example.com%22%2C%22city%22%3A%22Palo%20Alto%22%7D%7D"))
      Adapters.olark(ev(sp, dir).withColumn("payload", body), "payload")
        .select(col("event_id"), col("event_name"), col("vendor_event_id"),
          col("visitor_name"), col("visitor_email"))
        .orderBy("event_id")
    },

    "adapter_pingdom" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val qs = concat(
        lit("message=%7B%22check%22%3A%22c"), s(e % 9),
        lit("%22%2C%22checkname%22%3A%22Web_Check%22%2C%22host%22%3A%22h"), s(e % 5),
        lit(".example.com%22%2C%22action%22%3A%22assign%22%2C%22incidentid%22%3A"), s(e % 100),
        lit("%2C%22description%22%3A%22down%22%7D"))
      Adapters.pingdom(ev(sp, dir).withColumn("rqs", qs), "rqs")
        .select(col("event_id"), col("event_name"), col("check_id"), col("check_name"),
          col("host"), col("incident_id"), col("description"))
        .orderBy("event_id")
    },

    "adapter_iglu" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val qs = concat(
        lit("schema=iglu:com.acme/checkout/jsonschema/1-0-2&sku=sku"), s(e % 20),
        lit("&qty="), s(e % 5))
      IgluQsAdapter(ev(sp, dir).withColumn("rqs", qs), "rqs")
        .select(col("event_id"), col("schema_uri"), col("schema_vendor"), col("schema_name"),
          col("schema_format"), col("schema_version"),
          element_at(col("data_params"), "sku").as("sku"),
          element_at(col("data_params"), "qty").cast("bigint").as("qty"))
        .orderBy("event_id")
    },

    "adapter_tp1" -> { (sp, dir) =>
      val e = col("event_id")
      val s = (c: Column) => c.cast("string")
      val qs = concat(
        lit("e=pv&p=web&tv=js-1.0&uid=u"), s(col("user_id")),
        lit("&page=p"), s(e % 100))
      Tp1Adapter(ev(sp, dir).withColumn("rqs", qs), "rqs")
        .select(col("event_id"),
          element_at(col("params"), "e").as("p_e"),
          element_at(col("params"), "p").as("p_platform"),
          element_at(col("params"), "tv").as("p_tv"),
          element_at(col("params"), "uid").as("p_uid"),
          element_at(col("params"), "page").as("p_page"))
        .orderBy("event_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "adapter_hubspot" ->
      """SELECT event_id,
        |  v.nm AS event_name,
        |  event_id + v.delta AS vendor_event_id,
        |  event_id % 10 AS portal_id,
        |  v.pn AS property_name,
        |  CASE v.nm WHEN 'company.change' THEN concat('v', event_id % 7)
        |            ELSE concat('s', event_id % 3) END AS property_value
        |FROM events
        |CROSS JOIN (VALUES ('company.change', 0, 'name'), ('contact.creation', 1, 'stage')) v(nm, delta, pn)
        |ORDER BY event_id, event_name""".stripMargin,

    "adapter_marketo" ->
      """SELECT event_id, 'webhook A' AS event_name, event_id % 10 AS step,
        |  '2024-01-01 00:00:00' AS event_datetime,
        |  concat('lead', event_id % 20) AS lead_first_name,
        |  'acme' AS company_name,
        |  event_id % 100 AS campaign_id,
        |  concat('camp', event_id % 5) AS campaign_name
        |FROM events ORDER BY event_id""".stripMargin,

    "adapter_urbanairship" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'OPEN' ELSE 'CLOSE' END AS event_name,
        |  concat('ua', event_id) AS vendor_event_id,
        |  '2024-01-01T00:00:00' AS occurred, '2024-01-01T00:00:01' AS processed,
        |  concat('s', event_id % 40) AS session_id
        |FROM events ORDER BY event_id""".stripMargin,

    "adapter_mandrill" ->
      """SELECT event_id, v.nm AS event_name, event_id + v.delta AS event_ts,
        |  concat('u', event_id % 50, '@example.com') AS email, 'hi' AS subject
        |FROM events CROSS JOIN (VALUES ('subscribe', 0), ('open', 1)) v(nm, delta)
        |ORDER BY event_id, event_name""".stripMargin,

    "adapter_olark" ->
      """SELECT event_id, 'Conversation' AS event_name, concat('EV', event_id) AS vendor_event_id,
        |  'Bob Doe' AS visitor_name, concat('bob', event_id % 30, '@example.com') AS visitor_email
        |FROM events ORDER BY event_id""".stripMargin,

    "adapter_pingdom" ->
      """SELECT event_id, 'assign' AS event_name, concat('c', event_id % 9) AS check_id,
        |  'Web_Check' AS check_name, concat('h', event_id % 5, '.example.com') AS host,
        |  event_id % 100 AS incident_id, 'down' AS description
        |FROM events ORDER BY event_id""".stripMargin,

    "adapter_iglu" ->
      """SELECT event_id,
        |  'iglu:com.acme/checkout/jsonschema/1-0-2' AS schema_uri,
        |  'com.acme' AS schema_vendor, 'checkout' AS schema_name,
        |  'jsonschema' AS schema_format, '1-0-2' AS schema_version,
        |  concat('sku', event_id % 20) AS sku,
        |  event_id % 5 AS qty
        |FROM events ORDER BY event_id""".stripMargin,

    "adapter_tp1" ->
      """SELECT event_id, 'pv' AS p_e, 'web' AS p_platform, 'js-1.0' AS p_tv,
        |  concat('u', user_id) AS p_uid, concat('p', event_id % 100) AS p_page
        |FROM events ORDER BY event_id""".stripMargin
  )
}
