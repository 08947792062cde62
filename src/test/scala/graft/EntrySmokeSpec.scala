package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs on sf0.001 and every oracle key has
  * a query (driver-contract invariants). */
class EntrySmokeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Bench's session conf for a fixed core count is the map Bench " +
    "has always built") {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val localDir =
      if (java.nio.file.Files.isWritable(shm))
        Map("spark.local.dir" -> shm.resolve("graft_spark_local").toString)
      else Map.empty[String, String]
    val conf = Session.conf("8")
    assert(conf.map(_._1).distinct.size === conf.size)
    assert(conf.toMap === Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.expr.GraftExtensions",
      "spark.sql.codegen.cache.maxEntries" -> "4000",
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "15s"
    ) ++ localDir)
  }

  test("oracleSql keys ⊆ queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs non-empty on sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
