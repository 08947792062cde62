package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Bronze, Gold, Silver}

/** Bronze→Silver→Gold semantics on hand-built wire fixtures
  * (FIXTURES.md §A), pinning the SURVEY.md §2.10 quirks. */
class MedallionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (datetime, location_id, location_name, country, lat, lon, parameter,
  //  value, value_standard, unit, aqi, aqi_category, ingestion_timestamp)
  private type Wire = (String, java.lang.Long, String, String,
    java.lang.Double, java.lang.Double, String, java.lang.Double,
    java.lang.Double, String, java.lang.Double, String, String)

  private def row(dt: String, loc: Long, param: String, std: Double,
      aqi: java.lang.Double, cat: String, name: String = "st"): Wire =
    (dt, loc, name, "VN", 1.0, 2.0, param, std, std, "µg/m³", aqi, cat,
      "2024-02-01 00:00:00")

  private val fixtures: Seq[Wire] = Seq(
    row("2024-01-01 10:05:00", 1L, "pm25", 10.0, 42.0, "Good"),
    row("2024-01-01 10:20:00", 1L, "pm10", 60.0, 53.0, "Moderate"),
    // same hour, category that sorts above "Unhealthy" lexicographically
    row("2024-01-01 10:40:00", 1L, "o3", 0.2, 201.0, "Unhealthy"),
    row("2024-01-01 10:50:00", 1L, "so2", 0.1, 120.0,
      "Unhealthy for Sensitive Groups"),
    // negative value → dropped by Silver P6
    row("2024-01-01 11:00:00", 1L, "pm25", -5.0, null, null),
    // NaN value → dropped by Silver P6
    row("2024-01-01 11:10:00", 1L, "pm25", Double.NaN, null, null),
    // null-AQI-only hour survives to Gold with null aqi (quirk §2.10-3)
    row("2024-01-01 12:00:00", 1L, "unknownparam", 7.0, null, null),
    // P3 null gate: null datetime / location / parameter dropped in Bronze
    ("2024-01-01 13:00:00", null, "st", "VN", 1.0, 2.0, "pm25", 5.0, 5.0,
      "µg/m³", 21.0, "Good", "2024-02-01 00:00:00"),
    (null, 2L, "st", "VN", 1.0, 2.0, "pm25", 5.0, 5.0, "µg/m³", 21.0,
      "Good", "2024-02-01 00:00:00"),
    row("2024-01-01 14:00:00", 2L, null, 5.0, 21.0, "Good")
  )

  private def wireDf = fixtures.toDF("datetime", "location_id",
    "location_name", "country", "latitude", "longitude", "parameter",
    "value", "value_standard", "unit", "aqi", "aqi_category",
    "ingestion_timestamp")

  test("P2-P4: bronze casts, null-gates, derives partition cols") {
    val bronze = Bronze.fromWire(wireDf)
    assert(bronze.count() === 7) // 3 rows null-gated
    val r = bronze.filter(col("location_id") === 1L &&
      col("parameter") === "pm25" && col("value") > 0).head()
    assert(r.getAs[Timestamp]("datetime") === ts("2024-01-01 10:05:00"))
    assert(r.getAs[Int]("year") === 2024)
    assert(r.getAs[Int]("month") === 1)
    assert(r.getAs[Int]("day") === 1)
  }

  test("P5-P6: silver renames value_standard→value, drops invalid") {
    val silver = Silver.fromBronze(Bronze.fromWire(wireDf))
    assert(silver.columns.toSeq ===
      graft.model.Schemas.silverColumns)
    assert(silver.count() === 5) // negative + NaN dropped; null-aqi kept
    assert(silver.filter(col("value") < 0).count() === 0)
  }

  test("A1: gold rolls up to (location, hour) with max(aqi) and " +
    "lexicographic max(category) understating severity (quirk §2.10-1)") {
    val gold = Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(wireDf)),
      deterministicArrays = true)
    val hour10 = gold.filter(col("datetime") === ts("2024-01-01 10:00:00"))
      .head()
    assert(hour10.getAs[Double]("aqi") === 201.0)
    // string max ranks "Unhealthy for Sensitive Groups" above "Unhealthy"
    assert(hour10.getAs[String]("aqi_category") ===
      "Unhealthy for Sensitive Groups")
    assert(hour10.getAs[Seq[String]]("parameters") ===
      Seq("o3", "pm10", "pm25", "so2"))
    assert(hour10.getAs[Seq[Double]]("values") === Seq(0.2, 60.0, 10.0, 0.1))
  }

  test("A1 strictCategory derives the category from max(aqi) instead") {
    val gold = Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(wireDf)),
      strictCategory = true)
    val hour10 = gold.filter(col("datetime") === ts("2024-01-01 10:00:00"))
      .head()
    assert(hour10.getAs[String]("aqi_category") === "Very Unhealthy")
  }

  test("A1 canonical values: inexact decimal ties format by the one " +
    "rule the DuckDB twin shares, not by Java's tie rounding") {
    // 0.02445 and 12.34565 sit just below their ties in binary: Java's
    // %.4f gives 0.0245 and 12.3457, DuckDB's printf 0.0244 and 12.3456
    val tied = Seq(
      row("2024-01-01 10:05:00", 7L, "co", 12.34565, 30.0, "Good"),
      row("2024-01-01 10:10:00", 7L, "no2", 0.02445, 40.0, "Good"))
      .toDF(wireDf.columns.toIndexedSeq: _*)
    val out = graft.queries.PipelineQueries.goldCanonical(
      Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(tied)),
        deterministicArrays = true)).head()
    assert(out.getAs[String]("parameters") === "co,no2")
    assert(out.getAs[String]("values") === "12.3456,0.0245")
  }

  test("quirk §2.10-3: an hour with only null-AQI rows yields null aqi") {
    val gold = Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(wireDf)))
    val hour12 = gold.filter(col("datetime") === ts("2024-01-01 12:00:00"))
      .head()
    assert(hour12.isNullAt(hour12.fieldIndex("aqi")))
    assert(hour12.isNullAt(hour12.fieldIndex("aqi_category")))
  }

  test("quirk §2.10-6: a mid-hour name change splits the gold row") {
    val df = Seq(
      row("2024-01-02 10:00:00", 9L, "pm25", 10.0, 42.0, "Good", "old"),
      row("2024-01-02 10:30:00", 9L, "pm25", 11.0, 46.0, "Good", "new")
    ).toDF("datetime", "location_id", "location_name", "country",
      "latitude", "longitude", "parameter", "value", "value_standard",
      "unit", "aqi", "aqi_category", "ingestion_timestamp")
    val gold = Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(df)))
    assert(gold.count() === 2)
  }

  test("value map view zips arrays into a map") {
    val gold = Gold.withValueMap(
      Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(wireDf)),
        deterministicArrays = true))
    val hour10 = gold.filter(col("datetime") === ts("2024-01-01 10:00:00"))
      .head()
    val m = hour10.getAs[Map[String, Double]]("value_map")
    assert(m("pm10") === 60.0 && m("o3") === 0.2)
  }
}
