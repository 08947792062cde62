package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Bronze, Gold, Silver}
import graft.streaming.StreamPipeline

/** T1-T7: streaming twin ≡ batch on in-watermark data; late rows beyond
  * the 1 h watermark are dropped (FIXTURES.md §A5). */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def wireJson(dt: String, loc: Long, param: String, v: Double,
      aqi: Double): String =
    s"""{"datetime":"$dt","location_id":$loc,"location_name":"st$loc",
       |"country":"VN","latitude":1.0,"longitude":2.0,"parameter":"$param",
       |"value":$v,"value_standard":$v,"unit":"µg/m³","aqi":$aqi,
       |"aqi_category":"Good","ingestion_timestamp":"2024-02-01 00:00:00"}"""
      .stripMargin.replaceAll("\n", "")

  test("P1 stream parse + stateless silver equals the batch transform") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val rows = Seq(
      wireJson("2024-01-01 10:00:00", 1, "pm25", 10.0, 42),
      wireJson("2024-01-01 10:30:00", 1, "pm10", 60.0, 53),
      wireJson("2024-01-01 11:00:00", 1, "pm25", -4.0, 0))
    mem.addData(rows: _*)
    val wire = Bronze.parseWire(mem.toDF(), "value")
    val silver = StreamPipeline
      .silverStream(StreamPipeline.bronzeStream(wire))
      .drop("processing_timestamp")
    val got = StreamPipeline.replayToMemory(spark, silver, "spec_silver")
    val batch = Silver.fromBronze(Bronze.fromWire(
      Bronze.parseWire(rows.toDF("value"), "value")))
    assert(got.count() === 2)
    assert(got.orderBy("datetime").collect().toSeq ===
      batch.orderBy("datetime").collect().toSeq)
  }

  test("T3-T5: watermarked gold emits closed hours, drops rows later " +
    "than 1 h behind the max event time") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val wire = Bronze.parseWire(mem.toDF(), "value")
    val silver = StreamPipeline
      .silverStream(StreamPipeline.bronzeStream(wire))
    val gold = StreamPipeline.goldStream(silver,
      deterministicArrays = true)
    val q = gold.writeStream.format("memory").queryName("spec_gold")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    // batch 1: hours 10 and 11; max event time 12:30 ⇒ watermark 11:30
    mem.addData(
      wireJson("2024-01-01 10:00:00", 1, "pm25", 10.0, 42),
      wireJson("2024-01-01 10:30:00", 1, "pm10", 60.0, 53),
      wireJson("2024-01-01 11:15:00", 1, "pm25", 12.0, 50),
      wireJson("2024-01-01 12:30:00", 1, "pm25", 14.0, 55))
    q.processAllAvailable()
    // batch 2: a late row for hour 10 (already finalized → dropped) and a
    // within-watermark row for hour 11... wait: hour-11 group (11:00) is
    // NOT yet finalized iff 11:00 >= watermark(11:30) is false ⇒ it IS
    // finalized. Send late rows for both closed hours plus new data that
    // pushes the watermark forward to flush hour 12.
    mem.addData(
      wireJson("2024-01-01 10:45:00", 1, "o3", 0.2, 201), // late, dropped
      wireJson("2024-01-01 14:10:00", 1, "pm25", 20.0, 68))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("spec_gold")
    val hours = out.select(col("datetime")).as[Timestamp].collect()
      .map(_.toString).sorted
    // hour 10 must contain only the two original rows (late o3 dropped)
    val hour10 = out.filter(col("datetime") === "2024-01-01 10:00:00")
    if (hour10.count() > 0) {
      assert(hour10.head().getAs[Seq[String]]("parameters") ===
        Seq("pm10", "pm25"))
      assert(hour10.head().getAs[Double]("aqi") === 53.0)
    }
    // emitted hours are exactly those strictly below the final watermark
    assert(hours.nonEmpty)
    assert(hours.forall(_ < "2024-01-01 13:10:00"))
  }

  test("session stream merges out-of-order events that bridge two open " +
    "sessions, emits on watermark close") {
    import graft.streaming.SessionStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "value")
    val q = SessionStream.sessionizeStream(df).toDF()
      .writeStream.format("memory").queryName("spec_sessions")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    def t(s: String) = Timestamp.valueOf(s)
    // two sessions 50 min apart (> gap)...
    mem.addData((1L, t("2024-01-01 10:00:00"), 1.0),
      (1L, t("2024-01-01 10:50:00"), 2.0))
    q.processAllAvailable()
    // ...bridged by a late-but-in-watermark 10:25 event (≤30 min from
    // both), then closed by advancing the watermark past end+gap
    mem.addData((1L, t("2024-01-01 10:25:00"), 4.0))
    q.processAllAvailable()
    mem.addData((1L, t("2024-01-01 14:00:00"), 8.0))
    q.processAllAvailable()
    mem.addData((2L, t("2024-01-01 18:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("spec_sessions")
      .orderBy("user_id", "start_us").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
    // one merged session (3 events, sum 7.0); the 14:00 single closed later
    assert(out.take(2).toSeq === Seq((1L, 3L, 7.0), (1L, 1L, 8.0)))
  }

  test("T6: restarting a parquet sink from its checkpoint resumes " +
    "exactly-once — no duplicates, no loss") {
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      StreamPipeline.scratchRoot(), "graft_t6_")
    val inDir = root.resolve("in").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val rows1 = (0 until 24).map(i =>
      wireJson(f"2024-01-01 $i%02d:00:00", 1, "pm25", 10.0 + i, 40 + i))
    val rows2 = (0 until 24).map(i =>
      wireJson(f"2024-01-02 $i%02d:00:00", 2, "pm10", 20.0 + i, 50 + i))
    // two files in phase 1 + maxFilesPerTrigger=1 ⇒ several committed
    // micro-batches land in the checkpoint before the "crash"
    rows1.toDF("value").repartition(2).write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val src = spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val bronze = StreamPipeline.bronzeStream(
        Bronze.parseWire(src, "value"))
      val q = StreamPipeline.parquetSink(bronze, outDir, ckpt,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce() // consumes phase-1 files, then terminates (the "stop")
    assert(spark.read.parquet(outDir).count() === 24)
    rows2.toDF("value").repartition(2).write.mode("append").parquet(inDir)
    runOnce() // restart from the SAME checkpoint
    val out = spark.read.parquet(outDir)
    assert(out.count() === 48) // phase-1 rows not re-emitted, none lost
    val batch = Bronze.fromWire(
      Bronze.parseWire((rows1 ++ rows2).toDF("value"), "value"))
    val key = Seq("location_id", "datetime", "parameter", "value")
    assert(out.select(key.head, key.tail: _*).orderBy("datetime")
      .collect().toSeq ===
      batch.select(key.head, key.tail: _*).orderBy("datetime")
        .collect().toSeq)
  }

  test("RocksDB state store: the watermarked gold aggregation emits " +
    "IDENTICAL rows under the heap provider and RocksDB") {
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      StreamPipeline.scratchRoot(), "graft_rocks_eq_")
    val inDir = root.resolve("in").toString
    // two files + maxFilesPerTrigger=1 ⇒ a fixed 2-micro-batch schedule,
    // so the emitted (closed) hours are deterministic per provider
    Seq(
      wireJson("2024-01-01 10:00:00", 1, "pm25", 10.0, 42),
      wireJson("2024-01-01 10:30:00", 1, "pm10", 60.0, 53),
      wireJson("2024-01-01 12:30:00", 1, "pm25", 14.0, 55)
    ).toDF("value").coalesce(1).write.mode("append").parquet(inDir)
    Seq(
      wireJson("2024-01-01 11:15:00", 1, "pm25", 12.0, 50),
      wireJson("2024-01-01 14:10:00", 1, "pm25", 20.0, 68)
    ).toDF("value").coalesce(1).write.mode("append").parquet(inDir)
    def goldReplay(name: String): Seq[String] = {
      val src = spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val gold = StreamPipeline.goldStream(
        StreamPipeline.silverStream(StreamPipeline.bronzeStream(
          Bronze.parseWire(src, "value"))),
        deterministicArrays = true)
      StreamPipeline.replayToMemory(spark, gold, name)
        .select(col("datetime").cast("string"), col("location_id"),
          col("aqi"), col("parameters").cast("string"))
        .collect().map(_.toString).sorted.toSeq
    }
    val heap = goldReplay("rocks_eq_heap")
    val rocks = StreamPipeline.withStateStoreProvider(spark) {
      goldReplay("rocks_eq_rocksdb")
    }
    assert(heap.nonEmpty, "the fixture must close at least one hour")
    assert(rocks === heap,
      "provider choice must never change query results")
  }

  test("RocksDB state store: kill/restart of the stateful gold sink " +
    "resumes exactly-once from its RocksDB checkpoint") {
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      StreamPipeline.scratchRoot(), "graft_rocks_t6_")
    val inDir = root.resolve("in").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt")
    def runOnce(): Unit = StreamPipeline.withStateStoreProvider(spark) {
      val src = spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val gold = StreamPipeline.goldStream(
        StreamPipeline.silverStream(StreamPipeline.bronzeStream(
          Bronze.parseWire(src, "value"))),
        deterministicArrays = true)
      val q = StreamPipeline.parquetSink(gold, outDir, ckpt.toString,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // phase 1: hours 10/11 + a 12:30 watermark pusher (wm → 11:30
    // after the last batch ⇒ hours 10 and 11 close and are written)
    Seq(
      wireJson("2024-01-01 10:00:00", 1, "pm25", 10.0, 42),
      wireJson("2024-01-01 10:30:00", 1, "pm10", 60.0, 53)
    ).toDF("value").coalesce(1).write.mode("append").parquet(inDir)
    Seq(
      wireJson("2024-01-01 11:15:00", 1, "pm25", 12.0, 50),
      wireJson("2024-01-01 12:30:00", 1, "pm25", 14.0, 55)
    ).toDF("value").coalesce(1).write.mode("append").parquet(inDir)
    runOnce() // the "crash" after AvailableNow drains phase 1
    val phase1 = spark.read.parquet(outDir)
      .select(col("datetime").cast("string")).as[String].collect().toSet
    assert(phase1.contains("2024-01-01 10:00:00"))
    // the RocksDB provider actually engaged: its checkpointed state is
    // zip snapshots (+ optional changelogs), never the heap provider's
    // .delta files
    val stateFiles = Files.walk(ckpt.resolve("state")).toArray
      .map(_.toString).filter(p => Files.isRegularFile(
        java.nio.file.Paths.get(p)))
    assert(stateFiles.nonEmpty)
    assert(!stateFiles.exists(_.endsWith(".delta")),
      s"heap-provider .delta files in a RocksDB checkpoint: " +
        stateFiles.take(3).mkString(","))
    // phase 2: push the watermark past hour 12 ⇒ it closes on restart
    Seq(
      wireJson("2024-01-01 14:10:00", 1, "pm25", 20.0, 68)
    ).toDF("value").coalesce(1).write.mode("append").parquet(inDir)
    runOnce() // restart from the SAME RocksDB checkpoint
    val out = spark.read.parquet(outDir)
      .select(col("datetime").cast("string")).as[String].collect()
    assert(out.toSet.contains("2024-01-01 12:00:00"),
      "restart must resume state and close hour 12")
    assert(out.length === out.toSet.size,
      "no hour may be emitted twice across the restart")
    assert(out.toSet === phase1 + "2024-01-01 12:00:00",
      "no phase-1 hour may be re-emitted, none lost")
  }

  test("streamUpsert: multi-batch changelog with redelivery folds to " +
    "exactly-once latest state") {
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      StreamPipeline.scratchRoot(), "graft_upsert_spec_")
    val inDir = root.resolve("in").toString
    val target = root.resolve("target").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, "a", 1.0, ts("2024-01-01 00:00:00"), 1L),
      (2L, "b", 2.0, ts("2024-01-01 01:00:00"), 2L))
    val batch2 = Seq(
      (1L, "a2", 9.0, ts("2024-01-02 00:00:00"), 3L), // update key 1
      (2L, "b", 2.0, ts("2024-01-01 01:00:00"), 2L),  // redelivered row
      (3L, "c", 3.0, ts("2024-01-02 01:00:00"), 4L))  // insert key 3
    val cols = Seq("user_id", "state", "value", "ts", "event_id")
    batch1.toDF(cols: _*).coalesce(1).write.mode("append").parquet(inDir)
    batch2.toDF(cols: _*).coalesce(1).write.mode("append").parquet(inDir)
    val changelog = spark.readStream
      .schema(spark.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val state = StreamPipeline.streamUpsert(spark, changelog, target,
      Seq("user_id"), Seq("state", "value"), Seq("ts", "event_id"))
    assert(state.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "a2", 9.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    // two committed micro-batches ⇒ two snapshot versions (incremental
    // merge, not a single-batch collapse)
    val versions = Files.list(java.nio.file.Paths.get(target)).toArray
      .map(_.toString).count(_.contains("/v0"))
    assert(versions === 2, s"expected 2 snapshot versions, got $versions")
  }

  test("T1: one wire source fans out to three concurrent parquet sinks") {
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      StreamPipeline.scratchRoot(), "graft_t1_")
    val inDir = root.resolve("in").toString
    val rows = (0 until 48).map { i =>
      wireJson(f"2024-01-01 ${i / 2}%02d:${30 * (i % 2)}%02d:00", 1L,
        if (i % 2 == 0) "pm25" else "pm10", 10.0 + i, 40 + i)
    }
    rows.toDF("value").coalesce(1).write.parquet(inDir)
    val src = spark.readStream.schema("value STRING").parquet(inDir)
    val wire = Bronze.parseWire(src, "value")
    val qs = StreamPipeline.startAll(spark, wire,
      root.resolve("out").toString, root.resolve("ckpt").toString,
      trigger = Some(Trigger.AvailableNow()))
    assert(qs.size === 3)
    qs.foreach(_.awaitTermination())
    val bronze = spark.read.parquet(s"$root/out/bronze")
    val silver = spark.read.parquet(s"$root/out/silver")
    val gold = spark.read.parquet(s"$root/out/gold")
    assert(bronze.count() === 48)
    assert(silver.count() === 48) // all fixture rows pass validation
    assert(silver.columns.contains("processing_timestamp"))
    // gold holds the watermark-closed hours only: some, never all
    val nGold = gold.count()
    assert(nGold > 0 && nGold < 24)
    assert(gold.select("location_id").distinct().head().getLong(0) === 1L)
  }

  test("streaming gold equals batch gold on the emitted (closed) hours") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val rows = (0 until 48).map { i =>
      wireJson(f"2024-01-01 ${i / 2}%02d:${30 * (i % 2)}%02d:00", 1L,
        if (i % 2 == 0) "pm25" else "pm10", 10.0 + i, 40 + i)
    }
    mem.addData(rows: _*)
    val wire = Bronze.parseWire(mem.toDF(), "value")
    val sGold = StreamPipeline.goldStream(
      StreamPipeline.silverStream(StreamPipeline.bronzeStream(wire)),
      deterministicArrays = true)
    val got = StreamPipeline.replayToMemory(spark, sGold, "spec_gold_eq")
    val batch = Gold.fromSilver(
      Silver.fromBronze(Bronze.fromWire(
        Bronze.parseWire(rows.toDF("value"), "value"))),
      deterministicArrays = true)
    val emitted = got.select("datetime", "aqi", "parameters", "values")
      .orderBy("datetime").collect().toSeq
    val expected = batch.select("datetime", "aqi", "parameters", "values")
      .orderBy("datetime").collect()
      .take(emitted.size).toSeq
    assert(emitted.nonEmpty, "watermark should have closed some hours")
    assert(emitted === expected)
  }

  test("stream-stream join emits exactly the pairs inside the interval") {
    implicit val sqlCtx = spark.sqlContext
    val lm = MemoryStream[(Long, Timestamp)]
    val rm = MemoryStream[(Long, Timestamp)]
    val left = lm.toDF().toDF("uid", "l_ts")
    val right = rm.toDF().toDF("r_uid", "r_ts")
    val joined = StreamPipeline.streamStreamJoin(left, right, "l_ts", "r_ts",
      "1 hour", col("uid") === col("r_uid") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      lm.addData((1L, ts("2024-01-01 10:00:00")),
        (2L, ts("2024-01-01 10:00:00")))
      rm.addData((1L, ts("2024-01-01 10:30:00")), // inside [0, 1h]
        (2L, ts("2024-01-01 12:00:00")),          // outside the hour
        (3L, ts("2024-01-01 10:10:00")))          // no left match
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .select("uid", "r_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString))
      assert(rows.toSeq === Seq((1L, "2024-01-01 10:30:00.0")))
    } finally q.stop()
  }

  test("x35 update mode: the memory sink holds one row per (key, " +
    "micro-batch that changed it) — more rows than keys proves the " +
    "replay really ran multiple update emissions, and per-key counts " +
    "strictly grow") {
    val dir = "/root/testdata/sf0.001"
    // run the registered query (it reconstructs final state internally);
    // the un-aggregated memory table it leaves behind holds the raw
    // update stream
    val finalState = SparkEntry.queries("x35_stream_update")(spark, dir)
      .collect()
    val raw = spark.table("x35_stream_update")
      .select("event_type", "user_bucket", "n_events").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    val keys = raw.map(_._1).distinct
    assert(raw.length > keys.length,
      s"expected multiple update emissions for at least one key, got " +
        s"${raw.length} rows over ${keys.length} keys (single batch?)")
    // within a key, emitted counts are all distinct (strict growth)
    raw.groupBy(_._1).foreach { case (k, rows) =>
      val counts = rows.map(_._2)
      assert(counts.distinct.length === counts.length,
        s"key $k re-emitted an unchanged count: ${counts.toSeq}")
    }
    // and the reconstructed final state matches the raw stream's maxima
    val maxPerKey = raw.groupBy(_._1).view.mapValues(_.map(_._2).max)
    finalState.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      assert(maxPerKey(k) === r.getLong(2))
    }
  }

  test("drain restores shuffle.partitions and deletes its checkpoint " +
    "directory when the foreachBatch body throws") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before !== StreamPipeline.StreamParts)
    val mem = MemoryStream[Int]
    mem.addData(1, 2, 3)
    var ckpt: java.nio.file.Path = null
    var seen = ("", false)
    val err = intercept[Exception] {
      StreamPipeline.drain(spark, "graft_drain_spec") { dir =>
        ckpt = dir
        StreamPipeline.awaitAvailableNow(mem.toDF().writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            seen = (b.sparkSession.conf.get(key),
              java.nio.file.Files.exists(dir))
            (throw new IllegalStateException("planted batch failure")): Unit
          }, dir)
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("planted")))
    // the batch ran pinned, with its checkpoint on disk; both are undone
    assert(seen === ((StreamPipeline.StreamParts, true)))
    assert(spark.conf.get(key) === before)
    assert(ckpt != null && !java.nio.file.Files.exists(ckpt))
  }
}
