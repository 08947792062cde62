package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Bronze, EventsAdapter, Gold, Silver}

/** Harness queries for the medallion pipeline (SURVEY.md §2.1-§2.4:
  * P1-P9, A1, S3) with DuckDB oracle twins.
  *
  * Output canonicalization for the oracle compare: the Gold parallel
  * arrays are emitted as deterministic joined strings — parameters sorted,
  * values at 4 decimals ([[fixed4Sql]]) and sorted by (parameter, value)
  * — because raw double→string casts differ across engines and
  * collect_list order is nondeterministic (SURVEY.md §2.10-2). Library
  * consumers get real arrays from [[graft.etl.Gold.fromSilver]].
  */
object PipelineQueries {

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    // defensive: testdata events.ts is TIMESTAMP(NANOS); make every
    // caller's session read it as long nanos (runtime-settable, idempotent)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** events with `ts` normalized to a canonical TimestampType column
    * ([[EventsAdapter.tsTimestamp]]) — use this instead of raw
    * `table(_,_,"events")` whenever a query does timestamp arithmetic. */
  def eventsTs(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    ev.withColumn("ts", EventsAdapter.tsTimestamp(ev))
  }

  /** events with a canonical µs-since-epoch long `us` column (raw `ts`
    * dropped, so no site can accidentally do physical-type arithmetic). */
  def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    ev.withColumn("us", EventsAdapter.tsMicros(ev)).drop("ts")
  }

  def wire(s: SparkSession, dir: String): DataFrame =
    EventsAdapter.wire(table(s, dir, "events"))
  def bronze(s: SparkSession, dir: String): DataFrame =
    Bronze.fromWire(wire(s, dir))
  def silver(s: SparkSession, dir: String): DataFrame =
    Silver.fromBronze(bronze(s, dir))
  def gold(s: SparkSession, dir: String): DataFrame =
    Gold.fromSilver(silver(s, dir), deterministicArrays = true)
  def goldStrict(s: SparkSession, dir: String): DataFrame =
    Gold.fromSilver(silver(s, dir), strictCategory = true,
      deterministicArrays = true)

  // ----------------------------------------------------- oracle CTE prefix

  /** Gold twin: list(... ORDER BY parameter, value) mirrors Spark's
    * sort_array over struct(parameter, value). */
  val goldSql: String =
    """SELECT date_trunc('hour', datetime) AS datetime, location_id,
      |  location_name, country, latitude, longitude, year, month, day,
      |  max(aqi) AS aqi,
      |  list(parameter ORDER BY parameter, value) AS parameters,
      |  list(value ORDER BY parameter, value) AS "values",
      |  max(aqi_category) AS aqi_category
      |FROM silver
      |GROUP BY 1,2,3,4,5,6,7,8,9""".stripMargin.replace('\n', ' ')

  /** WITH-prefix reproducing the whole pipeline in DuckDB over `events`. */
  def withPipeline(body: String): String =
    s"WITH wire AS (${EventsAdapter.wireSql}), " +
      s"bronze AS (${Bronze.sqlFromWire}), " +
      s"silver AS (${Silver.sqlFromBronze}), " +
      s"gold AS ($goldSql) " + body

  /** DOUBLE `v` as text with exactly 4 decimals, by one rule that Spark
    * and DuckDB evaluate bit-identically: half-up (toward +∞) on the
    * IEEE product v·10⁴ — double multiply, add and floor round the same
    * way in both engines — then exact DECIMAL scaling. Formatting the
    * double directly does not agree on inexact ties: Spark's
    * format_string rounds Java's shortest decimal form half-up, DuckDB's
    * printf rounds the exact binary value (0.02445 → 0.0245 vs 0.0244). */
  private[queries] def fixed4Sql(v: String): String =
    s"CAST(CAST(floor($v * CAST('10000' AS DOUBLE) + CAST('0.5' AS DOUBLE))" +
      " AS DECIMAL(20,0)) * CAST('0.0001' AS DECIMAL(5,4)) AS STRING)"

  /** Spark-side canonical string form of the Gold arrays. */
  def goldCanonical(g: DataFrame): DataFrame =
    g.select(
      col("datetime"), col("location_id"), col("location_name"),
      col("country"), col("latitude"), col("longitude"),
      col("year"), col("month"), col("day"), col("aqi"),
      array_join(col("parameters"), ",").as("parameters"),
      expr(s"array_join(transform(`values`, v -> ${fixed4Sql("v")}), ',')")
        .as("values"),
      col("aqi_category"))
      .orderBy("location_id", "datetime")

  /** DuckDB twin of [[goldCanonical]] over a `gold` relation. */
  private[queries] val goldCanonicalSql: String =
    s"""SELECT datetime, location_id, location_name, country, latitude,
      |  longitude, year, month, day, aqi,
      |  array_to_string(parameters, ',') AS parameters,
      |  array_to_string(list_transform("values", v -> ${fixed4Sql("v")}),
      |    ',') AS "values",
      |  aqi_category
      |FROM gold
      |ORDER BY location_id, datetime""".stripMargin.replace('\n', ' ')

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1-P4 + JSON extraction (S1 wire parse stand-in)
    "p1_bronze_parse" -> ((s, dir) =>
      bronze(s, dir)
        .withColumn("prop_k",
          get_json_object(col("props"), "$.k").cast("long"))
        .drop("props")
        .orderBy("event_id")),
    // P5-P6
    "p5_silver_clean" -> ((s, dir) =>
      silver(s, dir).orderBy("location_id", "datetime", "parameter", "value")),
    // P9 + A1 (flagship roll-up; lexicographic max(category) quirk §2.10-1)
    "a1_gold_hourly" -> ((s, dir) => goldCanonical(gold(s, dir))),
    // A1 strictCategory variant (category derived from max(aqi) via R3)
    "a1_gold_strict" -> ((s, dir) => goldCanonical(goldStrict(s, dir)))
  )

  val oracle: Map[String, String] = Map(
    "p1_bronze_parse" -> withPipeline(
      """SELECT event_id, datetime, location_id, location_name, country,
        |  latitude, longitude, parameter, value, value_standard, unit, aqi,
        |  aqi_category, ingestion_timestamp, year, month, day,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM bronze ORDER BY event_id""".stripMargin.replace('\n', ' ')),
    "p5_silver_clean" -> withPipeline(
      "SELECT * FROM silver ORDER BY location_id, datetime, parameter, value"),
    "a1_gold_hourly" -> withPipeline(goldCanonicalSql),
    "a1_gold_strict" -> {
      val strictGold = goldSql.replace(
        "max(aqi_category) AS aqi_category",
        graft.expr.Aqi.categorySql("max(aqi)") + " AS aqi_category")
      s"WITH wire AS (${EventsAdapter.wireSql}), " +
        s"bronze AS (${Bronze.sqlFromWire}), " +
        s"silver AS (${Silver.sqlFromBronze}), " +
        s"gold AS ($strictGold) " + goldCanonicalSql
    }
  )
}
