package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.parallel.CollectionConverters._

import graft.expr.Aqi

/** Seeded generator of the 13-field wire record (`Schemas.wire`) as
  * JSON lines, shaped like the reference's OpenAQ feed: 542 stations in
  * 9 countries, 6 pollutants with about 2 readings per station-hour.
  * AQI and category are computed by `graft.expr.Aqi` at generation
  * time, as the reference's collector does before producing to Kafka.
  *
  * Concentrations follow a per-station, per-pollutant AR(1) in log space
  * on top of a diurnal cycle, so next-hour AQI carries signal a
  * forecaster can learn. Fixed shares of invalid rows are planted: null
  * datetime, negative value, NaN value and an unknown pollutant (AQI
  * null). The same seed gives byte-identical files.
  */
object WireGen {
  val Countries: Vector[String] =
    Vector("VN", "TH", "KH", "LA", "MM", "MY", "ID", "PH", "SG")
  val NStations = 542
  val Gases: Vector[String] = Vector("o3", "co", "so2", "no2")
  val Unknown = "bc"
  // typical level in the unit the reading is published in (µg/m³)
  private val baseLevel = Map("pm25" -> 28.0, "pm10" -> 55.0, "o3" -> 70.0,
    "co" -> 900.0, "so2" -> 25.0, "no2" -> 35.0)

  val NullDatetimeShare = 0.004
  val NegativeShare = 0.004
  val NanShare = 0.003
  val UnknownShare = 0.005
  // stream backlog only: rows delivered one file late but inside the
  // 1 h watermark, and rows delivered two files late, beyond it
  val WithinWatermarkShare = 0.02
  val LateShare = 0.01

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  final case class Station(id: Long, name: String, country: String,
      lat: Double, lon: Double, gas: String, scale: Double)

  final case class Counts(var rows: Long = 0, var nullDatetime: Long = 0,
      var negative: Long = 0, var nan: Long = 0, var unknown: Long = 0,
      var within: Long = 0, var late: Long = 0, var lateGroups: Long = 0) {
    def add(o: Counts): Unit = {
      rows += o.rows; nullDatetime += o.nullDatetime; negative += o.negative
      nan += o.nan; unknown += o.unknown; within += o.within; late += o.late
      lateGroups += o.lateGroups
    }
    def toMap: Map[String, Long] = Map("rows" -> rows,
      "null_datetime" -> nullDatetime, "negative_value" -> negative,
      "nan_value" -> nan, "unknown_pollutant" -> unknown,
      "within_watermark" -> within, "late_beyond_watermark" -> late,
      "late_station_hours" -> lateGroups)
  }

  def stations(seed: Long): Vector[Station] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    (0 until NStations).toVector.map { i =>
      val c = Countries(i % Countries.size)
      val ci = i % Countries.size
      Station(10000L + i, f"Station-$i%03d-$c", c,
        round4(-8.0 + ci * 3.0 + r.nextDouble() * 2.5),
        round4(95.0 + ci * 2.5 + r.nextDouble() * 2.5),
        Gases(r.nextInt(Gases.size)), 0.6 + r.nextDouble() * 0.9)
    }
  }

  private def round4(x: Double): Double = math.rint(x * 1e4) / 1e4
  private def round2(x: Double): Double = math.rint(x * 100) / 100

  /** One station's readings for hours [0, hours) after `start`; `emit`
    * receives (hour index, JSON line, is a valid reading with non-null
    * AQI). The series depends only on (seed, station), so any split of
    * stations into files gives the same rows. */
  def stationSeries(seed: Long, st: Station, start: LocalDateTime,
      hours: Int, c: Counts)(emit: (Int, String, Boolean) => Unit): Unit = {
    val r = new SplittableRandom(seed * 1000003L + st.id)
    val params = Vector("pm25", "pm10", st.gas)
    val shareOf = Vector(0.9, 0.85, 0.25)
    val ar = Array.fill(params.size)(0.0)
    val sb = new java.lang.StringBuilder(320)
    var h = 0
    while (h < hours) {
      val t = start.plusHours(h)
      val diurnal = 1.0 + 0.35 * math.sin((t.getHour - 7) * math.Pi / 12)
      var p = 0
      while (p < params.size) {
        ar(p) = 0.8 * ar(p) + 0.3 * gauss(r)
        if (r.nextDouble() < shareOf(p)) {
          var param = params(p)
          var value = round2(baseLevel(param) * st.scale * diurnal *
            math.exp(ar(p)) * (1.0 + 0.05 * gauss(r)))
          var dt: String = t.format(fmt)
          val u = r.nextDouble()
          if (u < NullDatetimeShare) { dt = null; c.nullDatetime += 1 }
          else if (u < NullDatetimeShare + NegativeShare) {
            value = -value; c.negative += 1
          } else if (u < NullDatetimeShare + NegativeShare + NanShare) {
            value = Double.NaN; c.nan += 1
          } else if (u < NullDatetimeShare + NegativeShare + NanShare +
              UnknownShare) { param = Unknown; c.unknown += 1 }
          val unit = "µg/m³"
          val std = Aqi.toStandardScala(param, unit, value)
          val aqi = Aqi.aqiScala(param, std)
          sb.setLength(0)
          sb.append("{\"datetime\":").append(str(dt))
            .append(",\"location_id\":").append(st.id)
            .append(",\"location_name\":").append(str(st.name))
            .append(",\"country\":").append(str(st.country))
            .append(",\"latitude\":").append(st.lat)
            .append(",\"longitude\":").append(st.lon)
            .append(",\"parameter\":").append(str(param))
            .append(",\"value\":").append(num(value))
            .append(",\"value_standard\":").append(num(std))
            .append(",\"unit\":").append(str(unit))
            .append(",\"aqi\":").append(aqi.map(_.toString).getOrElse("null"))
            .append(",\"aqi_category\":")
            .append(str(aqi.map(Aqi.categoryScala).orNull))
            .append(",\"ingestion_timestamp\":")
            .append(str(t.plusMinutes(7).format(fmt)))
            .append('}')
          c.rows += 1
          emit(h, sb.toString, dt != null && aqi.isDefined)
        }
        p += 1
      }
      h += 1
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  private def str(s: String): String = if (s == null) "null" else "\"" + s + "\""
  // a NaN reading is sent as the string "NaN", which both Spark's JSON
  // reader and DuckDB's read_json cast to a double NaN
  private def num(x: Double): String =
    if (x.isNaN) "\"NaN\"" else x.toString

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(p), StandardCharsets.UTF_8), 1 << 16)

  /** Batch input: `files` JSON-lines files, stations dealt round-robin,
    * written in parallel. */
  def writeBatch(seed: Long, dir: Path, start: LocalDateTime, hours: Int,
      files: Int): Counts = {
    Files.createDirectories(dir)
    val sts = stations(seed)
    val parts = (0 until files).par
    parts.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(math.min(files, 4)))
    val counts = parts.map { f =>
      val c = Counts()
      val w = writer(dir.resolve(f"wire-$f%02d.json"))
      try sts.indices.filter(_ % files == f).foreach { i =>
        stationSeries(seed, sts(i), start, hours, c) { (_, line, _) =>
          w.write(line); w.write('\n')
        }
      } finally w.close()
      c
    }.seq
    val total = Counts()
    counts.foreach(total.add)
    total
  }

  /** Stream backlog: file k holds event hours [2k, 2k+2). A share of the
    * valid rows of a file's last hour arrive one file later (out of
    * order, inside the 1 h watermark, kept); a share of the valid rows
    * of its first hour arrive two files later (beyond the watermark,
    * dropped by the Gold stream). Spark counts dropped rows after the
    * partial aggregation, one per (station, hour) group, so the late
    * station-hours are counted too. `ontimeDir` receives every row except
    * the late ones: the input batch Gold must agree with. File mtimes
    * increase with k so the file source reads them in order. */
  def writeStream(seed: Long, dir: Path, ontimeDir: Path,
      start: LocalDateTime, files: Int): Counts = {
    val hoursPerFile = 2
    Files.createDirectories(dir); Files.createDirectories(ontimeDir)
    val sts = stations(seed ^ 0x5DEECE66DL)
    val buf = Array.fill(files)(new java.lang.StringBuilder(1 << 20))
    val ontime = new java.lang.StringBuilder(1 << 20)
    val c = Counts()
    val pick = new SplittableRandom(seed * 31L + 5L)
    sts.foreach { st =>
      var lastLateHour = -1
      stationSeries(seed ^ 0x5DEECE66DL, st, start, files * hoursPerFile,
          c) { (h, line, valid) =>
        val k = h / hoursPerFile
        val first = h % hoursPerFile == 0
        val u = pick.nextDouble()
        val late = valid && first && u < LateShare && k + 2 < files
        if (late && h != lastLateHour) { c.lateGroups += 1; lastLateHour = h }
        val target =
          if (late) { c.late += 1; k + 2 }
          else if (valid && !first && u < WithinWatermarkShare &&
              k + 1 < files) { c.within += 1; k + 1 }
          else k
        buf(target).append(line).append('\n')
        if (!late) ontime.append(line).append('\n')
      }
    }
    val now = System.currentTimeMillis() - files * 1000L
    (0 until files).foreach { k =>
      val p = dir.resolve(f"backlog-$k%04d.json")
      Files.writeString(p, buf(k), StandardCharsets.UTF_8)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(now + k * 1000L))
    }
    Files.writeString(ontimeDir.resolve("ontime.json"), ontime,
      StandardCharsets.UTF_8)
    c
  }
}
