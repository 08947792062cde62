package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.etl.{Bronze, Gold, Silver}
import graft.model.Schemas

/** Structured Streaming pipeline (SURVEY.md §2.8 T1-T7): one unbounded
  * source fanned into Bronze/Silver/Gold sinks — the streaming twin of the
  * batch medallion, sharing the SAME transform code (source-agnostic
  * DataFrames, SURVEY.md §7.4-4).
  *
  * Production wiring (stream_processor.py:236-283): Kafka source, parquet
  * sinks, processing-time triggers 10 s/10 s/60 s, per-query checkpoints.
  * Harness wiring: file/memory source + `Trigger.AvailableNow` so tests
  * and the oracle gate can replay bounded data synchronously.
  *
  * Scale notes: Bronze/Silver are stateless appends (no state store, no
  * shuffle — they scale with source partitions). Gold keeps one state row
  * per (location, hour) group; the 1 h watermark (T3) bounds state: groups
  * older than (max event time − 1 h) are finalized and evicted each
  * micro-batch. State store defaults to the HDFS-backed heap provider —
  * right for the harness's thousands of keys; at 100× the stream-stream
  * joins (x14/x25/x37) and watermark-dedup buffer per-key state that
  * would pressure executor heap, so [[withStateStoreProvider]] pins the
  * RocksDB provider (state on local disk + block cache, bounded heap)
  * for queries started under it — see SCALE.md "Streaming state at
  * 100×".
  */
object StreamPipeline {

  /** The RocksDB state-store provider that ships with Spark
    * (rocksdbjni is on the classpath). Per-query: the provider is fixed
    * into a query's checkpoint at START, so it is selected by setting
    * `spark.sql.streaming.stateStore.providerClass` BEFORE `.start()`
    * — which also means switching providers for an EXISTING checkpoint
    * requires a state rebuild (replay), exactly like changing
    * `shuffle.partitions` for a stateful query. */
  val RocksDbProviderClass: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** Run `body` with the streaming state-store provider pinned; every
    * query STARTED inside picks it up (already-running queries keep
    * their checkpointed provider). Restores the prior setting after.
    * Flag-gated by design: harness/default behavior is unchanged unless
    * a caller opts in. */
  def withStateStoreProvider[T](spark: SparkSession,
      provider: String = RocksDbProviderClass)(body: => T): T =
    withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      provider)(body)

  /** Run `body` with session conf `key` set to `value`; the prior
    * setting (or its absence) is restored after, also when `body`
    * throws. */
  private def withConf[T](spark: SparkSession, key: String,
      value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The exact reader options the streaming source wires
    * (stream_processor.py:244-251) — pure map for SourcesConfigSpec. */
  def kafkaSourceOptions(brokers: String,
      topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> brokers,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest",
    "failOnDataLoss" -> "false")

  /** T1/S2: Kafka unbounded source (production path; not exercisable in
    * the offline harness — config parity with stream_processor.py:244-251). */
  def kafkaSource(spark: SparkSession, brokers: String,
      topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(brokers, topic))
      .load()

  /** Kafka bytes → wire columns (P1 on a stream). */
  def parseKafka(raw: DataFrame): DataFrame = Bronze.parseWire(raw)

  /** T2: stateless Bronze stream = the batch transform applied to an
    * unbounded DataFrame. */
  def bronzeStream(wire: DataFrame): DataFrame = Bronze.fromWire(wire)

  /** T2 + P7: Silver stream with the streaming-only audit column. */
  def silverStream(bronze: DataFrame): DataFrame =
    Silver.fromBronze(bronze)
      .withColumn("processing_timestamp", current_timestamp())

  /** T3-T5: watermarked hourly Gold aggregation in append mode.
    * Grouping is on the date_trunc'd event-time column (T4) — same output
    * schema as batch Gold (plain timestamp, not a window struct). The
    * P8 `aqi IS NOT NULL` pre-filter is the streaming-only quirk
    * (stream_processor.py:185-193, SURVEY.md §2.10-3). */
  def goldStream(silver: DataFrame, watermark: String = "1 hour",
      deterministicArrays: Boolean = false): DataFrame = {
    val cols = silver.columns.toSet
    val filtered = (if (cols.contains("processing_timestamp"))
      silver.drop("processing_timestamp") else silver)
      .filter(col("aqi").isNotNull)
    // Truncate FIRST, then watermark the truncated attribute, then group
    // by it bare: watermark metadata only survives on direct attribute
    // group keys. (The reference watermarks the raw datetime and groups on
    // an aliased date_trunc — stream_processor.py:197,200 — which Spark
    // rejects at query start; truncating first is the working equivalent:
    // the watermark now advances in hour quanta, so an hour closes once an
    // event ≥ that hour + 1 h + 1 h-quantum arrives.)
    val hourly = filtered
      .withColumn("datetime", date_trunc("hour", col("datetime")))
      .withWatermark("datetime", watermark)
    Gold.rollup(hourly, deterministicArrays = deterministicArrays,
      truncated = true)
  }

  /** Streaming deduplication with bounded state: exact-dup rows are
    * dropped across micro-batches; including the event-time column in the
    * dedup keys lets the watermark evict state for closed time ranges, so
    * state size is (arrival rate × delay), not stream length. The
    * training-data use: a re-delivered ingest feed (Kafka at-least-once)
    * deduped before it ever lands in Bronze. */
  def dedupStream(stream: DataFrame, eventTime: String, delay: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTime, delay)
      .dropDuplicates(keys :+ eventTime)

  /** The production streaming-dedup API (Spark 3.5+): duplicates drop
    * on the KEY ALONE within the watermark delay — unlike
    * [[dedupStream]], the event-time column need not be part of the key
    * (late duplicates with a perturbed timestamp still collapse), and
    * state expires by ingestion-order watermark instead of growing with
    * the key space. */
  def dedupWithinWatermark(stream: DataFrame, eventTime: String,
      delay: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner join with an event-time interval condition.
    * Both sides carry watermarks and the condition must time-bound the
    * match window — that is what lets Spark evict join state: each side
    * buffers only (arrival rate × (delay + interval)) rows, regardless of
    * stream length. Without the time bound the join would buffer both
    * streams forever; with it, this is the scalable funnel/attribution
    * primitive (click → purchase within an hour, request → response,
    * sensor A → sensor B correlation). Inner-join emission is
    * watermark-independent: a match is emitted as soon as both rows have
    * arrived, so a bounded replay equals the batch interval join. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String, delay: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTime, delay)
      .join(right.withWatermark(rightTime, delay), condition)

  /** Stream-stream LEFT OUTER join: same watermark + interval-bounded
    * state as [[streamStreamJoin]], but a left row with no match emits
    * once — with nulls on the right — when the watermark proves no
    * future right row can join it (its interval upper bound falls below
    * the join watermark). Matches still emit eagerly like the inner
    * join. This is the attribution shape that keeps UNconverted events
    * (click with no purchase) in the output, which a batch left join
    * gives for free but streaming only achieves via state expiry. */
  def streamStreamLeftJoin(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String, delay: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTime, delay)
      .join(right.withWatermark(rightTime, delay), condition, "left_outer")

  /** Stream-stream FULL OUTER join: the union of [[streamStreamJoin]]'s
    * eager matches, [[streamStreamLeftJoin]]'s expired-left null rows,
    * and the symmetric right-side expiry — an unmatched RIGHT row emits
    * null-padded once the watermark proves no future left row can fall
    * inside its match interval (its interval upper bound drops below the
    * join watermark, exactly the left rule mirrored). State on both
    * sides stays bounded by (arrival rate × (delay + interval)); full
    * outer adds no state over left outer — only the extra emission. */
  def streamStreamFullJoin(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String, delay: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTime, delay)
      .join(right.withWatermark(rightTime, delay), condition, "full_outer")

  /** S5: parquet streaming sink with checkpoint + partitioning + trigger
    * (stream_processor.py:105-112). */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day")
      .trigger(trigger)

  /** T1: start all three layers concurrently off one source — three
    * independent queries with their own sinks and checkpoints, exactly
    * the reference's fan-out (stream_processor.py:262-280). Returns the
    * running queries; production triggers by default, overridable so a
    * bounded harness replay (AvailableNow) can drive the same wiring to
    * termination. */
  def startAll(spark: SparkSession, wire: DataFrame, outRoot: String,
      checkpointRoot: String,
      trigger: Option[Trigger] = None)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val bronze = bronzeStream(wire)
    val silver = silverStream(bronze)
    val gold = goldStream(silver.drop("processing_timestamp"))
    Seq(
      parquetSink(bronze, s"$outRoot/bronze", s"$checkpointRoot/bronze",
        trigger.getOrElse(Trigger.ProcessingTime("10 seconds"))).start(),
      parquetSink(silver, s"$outRoot/silver", s"$checkpointRoot/silver",
        trigger.getOrElse(Trigger.ProcessingTime("10 seconds"))).start(),
      parquetSink(gold, s"$outRoot/gold", s"$checkpointRoot/gold",
        trigger.getOrElse(Trigger.ProcessingTime("1 minute"))).start())
  }

  /** T1: run the fan-out and block — awaitAnyTermination replaces the
    * reference's 3 hand-rolled threads (stream_processor.py:262-280). */
  def runAll(spark: SparkSession, wire: DataFrame, outRoot: String,
      checkpointRoot: String): Unit = {
    startAll(spark, wire, outRoot, checkpointRoot)
    spark.streams.awaitAnyTermination()
  }

  /** Scratch root for replay checkpoints: tmpfs when available. The
    * HDFS-backed state store fsyncs a delta file per partition per
    * micro-batch; on a contended shared disk those fsyncs dominated
    * round-1 driver benches (s5_stream_gold 254 s vs 6.8 s local), so
    * harness checkpoints go to memory-backed /dev/shm, not /tmp. */
  private[graft] def scratchRoot(): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
  }

  /** Harness helper: recursive delete, tolerating absence. */
  private[graft] def clearDir(p: java.nio.file.Path): Unit =
    try deleteRecursively(p) catch { case _: Throwable => () }

  /** Shuffle partitions a harness drain runs with (the reference does
    * the same: 10 vs 2×cores for batch, stream_processor.py:64):
    * state-store cost is per-partition-per-batch (one HDFS-backed store
    * + delta file each), so 32 partitions for a few thousand keys is
    * pure overhead. The number is fixed into a query's checkpoint at
    * start, so restoring the session conf after the drain is safe. */
  private[graft] val StreamParts = "8"

  /** Harness drain scope: pins `shuffle.partitions` to [[StreamParts]]
    * and hands `body` a fresh scratch directory `<tag>_<id>` under
    * [[scratchRoot]] for its checkpoints (and any sinks); the setting
    * is restored and the directory deleted after, also when `body`
    * throws. Fresh directories make every drain re-entrant: a repeated
    * bench pass never resumes old offsets. */
  private[graft] def drain[T](spark: SparkSession, tag: String)(
      body: java.nio.file.Path => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", StreamParts) {
      val dir = scratchRoot().resolve(
        s"${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
      try body(dir) finally clearDir(dir)
    }

  /** Start `writer` on AvailableNow with its checkpoint at `ckpt` and
    * block until it has drained everything its source held at start. */
  private[graft] def awaitAvailableNow(writer: DataStreamWriter[Row],
      ckpt: java.nio.file.Path): Unit =
    writer.option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Single-query drain: [[awaitAvailableNow]] inside a [[drain]] scope,
    * checkpointing into the scope's directory; `writer` is built inside
    * the scope. */
  private[graft] def drainOnce(spark: SparkSession, tag: String)(
      writer: => DataStreamWriter[Row]): Unit =
    drain(spark, tag)(awaitAvailableNow(writer, _))

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
  }

  /** Streaming MERGE sink: apply each micro-batch of a keyed changelog
    * into a parquet latest-state table via `foreachBatch` + the
    * [[graft.etl.Cdc]] collapse — the lakehouse streaming-upsert pattern
    * (what `MERGE INTO` does on Delta/Iceberg, expressed on plain
    * parquet with a versioned directory per committed batch).
    *
    * Exactly-once from at-least-once: the merge is idempotent (same
    * (key, ord) row folded twice changes nothing) AND each batch writes
    * `v<batchId>` — a re-delivered batch after a crash overwrites its
    * own version deterministically, so replays cannot double-apply.
    * Crash-safety: parquet directory writes are not atomic, so a version
    * counts as committed only once its `_SUCCESS` marker exists — a
    * replay after a mid-write crash never folds a torn snapshot in. The
    * merge base is additionally the highest version STRICTLY BELOW the
    * current batchId: if the crash landed between the parquet commit and
    * the checkpoint commit, the replayed batch would otherwise read its
    * own completed `v<batchId>` while overwriting the same path (an
    * AnalysisException loop); merging batch N into v(N-1) instead is
    * idempotent-identical to the lost write.
    *
    * Scale note: rewriting the full snapshot per batch is the
    * plain-parquet cost of this demo; a production deployment points the
    * same foreachBatch at a format with log-structured merge (Delta /
    * Iceberg `MERGE INTO`) or partitions the snapshot and rewrites only
    * the partitions a batch touches. The engine-side shape — idempotent
    * `max_by` collapse per batch, no window, checkpointed offsets — is
    * what carries to 100 TB.
    *
    * Runs the changelog stream to completion (AvailableNow) and returns
    * the final latest-state table. */
  def streamUpsert(spark: SparkSession, changelog: DataFrame,
      targetRoot: String, keyCols: Seq[String], payloadCols: Seq[String],
      ordCols: Seq[String]): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.etl.Cdc
    val root = Paths.get(targetRoot)
    Files.createDirectories(root)
    // Committed = Spark finished the write and dropped its _SUCCESS
    // marker (a torn dir from a crash mid-write never qualifies), and —
    // when merging for batch `below` — strictly older than the batch
    // being (re)applied, so a replay never reads the path it overwrites.
    def latestVersion(below: Long = Long.MaxValue)
        : Option[java.nio.file.Path] = {
      val s = Files.list(root)
      try s.filter(p => p.getFileName.toString.startsWith("v"))
        .filter(p => p.getFileName.toString.drop(1).toLongOption
          .exists(_ < below))
        .filter(p => Files.exists(p.resolve("_SUCCESS")))
        .sorted().toArray.lastOption.map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
    drainOnce(spark, "graft_ckpt_upsert")(changelog.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        val merged = latestVersion(below = batchId) match {
          case Some(cur) => Cdc.upsertLatest(
            batch.sparkSession.read.parquet(cur.toString), b,
            keyCols, payloadCols, ordCols)
          case None => Cdc.compactLatest(b, keyCols, payloadCols, ordCols)
        }
        merged.write.mode("overwrite")
          .parquet(root.resolve(f"v$batchId%06d").toString)
      })
    latestVersion() match {
      case Some(p) => spark.read.parquet(p.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        changelog.schema)
    }
  }

  /** STREAMING near-dup dedup (s16, round-8 VERDICT ask #6): d15's
    * persisted-index lifecycle composed into `foreachBatch` — every
    * micro-batch probes the on-disk LSH band index, exact-verifies
    * its candidates against the candidate slice of the stored corpus
    * text, and its survivors update the store the NEXT micro-batch
    * probes. The published output IS the store's accepted corpus.
    *
    * Exactly-once from at-least-once, structurally: an exact
    * redelivery collides with its own stored copy on every band
    * (Jaccard 1) and rejects; a MUTATED redelivery (footer edit —
    * what slips past s14's key dedup) near-collides and rejects on
    * the Jaccard verify. The same argument makes the
    * crash-between-store-append-and-checkpoint-commit replay
    * idempotent: the replayed batch's docs reject against themselves,
    * so nothing re-appends (NearDupStoreSpec pins the store-level
    * half; StreamNearDupSpec the composition).
    *
    * Scale: per micro-batch the moving parts are the batch's band
    * rows, the (band,bucket)-joined candidates, and the candidate
    * slice of stored text — never a corpus re-shingle; the store
    * append is survivor-sized. Exactly d11's 100 TB shape, driven by
    * the streaming engine's offsets instead of a manual ledger. */
  def streamNearDupDedup(spark: SparkSession, docs: DataFrame,
      storeRoot: String): DataFrame = {
    import graft.dedup.NearDupIndexStore
    drainOnce(spark, "graft_ckpt_snd")(docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        NearDupIndexStore.ingest(batch.sparkSession, storeRoot,
          batch.toDF())
        ()
      })
    NearDupIndexStore.publishedTexts(spark, storeRoot)
  }

  /** STREAMING write–audit–publish (s14): every micro-batch lands
    * through the io9 commit protocol — the accumulated snapshot
    * (previously published ∪ batch, deduped on `keyCols` so a
    * redelivered batch is a no-op: exactly-once from at-least-once,
    * the x16 argument) is staged, audited against `rules`, and only
    * then pointer-swapped live. A batch that fails the audit is
    * quarantined and the published version is untouched — readers
    * NEVER see a partial or invalid streaming write, the guarantee a
    * bare parquet-appending stream sink cannot give.
    *
    * Cost: one audit pass + one snapshot rewrite per micro-batch —
    * the snapshot-rewrite is the toy-layout simplification (a real
    * lake appends data files and commits manifests; the PROTOCOL —
    * stage, audit, atomic pointer — is identical). Returns the final
    * published frame. */
  def streamWapPublish(spark: SparkSession, stream: DataFrame,
      root: String, rules: Seq[(String, org.apache.spark.sql.Column)],
      keyCols: Seq[String]): DataFrame = {
    import graft.io.Wap
    drainOnce(spark, "graft_ckpt_swap")(stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val acc =
          if (Wap.versions(b.sparkSession, root).isEmpty) b
          else Wap.readPublished(b.sparkSession, root)
            .unionByName(b)
            .dropDuplicates(keyCols)
        Wap.publish(acc, root, rules)
        ()
      })
    Wap.readPublished(spark, root)
  }

  /** STREAMING KS drift gate (s17): dq11's two-sample
    * Kolmogorov–Smirnov test run per MICRO-BATCH against a static
    * reference distribution — the shape monitor on the ingest path
    * itself. s15 alerts on individual rows beyond a learned p99; this
    * alerts on a whole batch whose DISTRIBUTION moved (a collector
    * sending values scaled ×1.5 passes every row-level gate and
    * trips this one). Each batch appends ONE verdict row tagged with
    * a content-derived key (`tagExpr` — never the engine's batch id,
    * so replays and re-splits produce identical output).
    *
    * Per batch the work is dq11's: one pass over the batch to bins,
    * the bounded-grain CDF compare against the (pre-aggregated,
    * broadcastable) reference — state is the verdict store, not the
    * stream. `Checks.ksTest`'s integer disciplines carry over
    * unchanged, which is what makes the streamed verdicts
    * oracle-checkable at all. */
  def streamKsGate(spark: SparkSession, stream: DataFrame,
      ref: DataFrame, binExpr: String, tagExpr: String,
      outRoot: String): DataFrame = {
    import graft.quality.Checks
    drainOnce(spark, "graft_ckpt_sks")(stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (!b.isEmpty) {
          val tag = b.agg(min(expr(tagExpr)).as("batch_tag"))
          Checks.ksTest(ref, b, Seq("value" -> expr(binExpr)))
            .crossJoin(broadcast(tag))
            .select(col("batch_tag"), col("metric"), col("n_ref"),
              col("n_cur"), col("d_e6"), col("crit_e6"),
              col("drifted"))
            .write.mode("append").parquet(outRoot)
        }
        ()
      })
    // content-derived tags make a replayed batch's verdict row
    // byte-identical — the dedup turns at-least-once appends into
    // exactly-once verdicts (the x16 argument, one row per batch)
    spark.read.parquet(outRoot)
      .dropDuplicates(Seq("batch_tag")).orderBy("batch_tag")
  }

  /** STREAMING DSIR GATE (s20): score every micro-batch of documents
    * against a PERSISTED λ model ([[graft.text.Dsir.denseLambda]]
    * written to parquet by the offline fit — FAISS-style train/apply
    * split, the sim14/d15 lifecycle shape for the data-selection
    * model) and append per-doc keep verdicts. The model is fixed, so
    * the verdict for a doc is independent of batch boundaries — the
    * batch oracle recomputes the identical scores over the union of
    * all batches, and the doc_id dedup turns at-least-once appends
    * into exactly-once verdicts. λ is B rows read once per batch and
    * broadcast: at 100 TB/day of ingest the gate stays one broadcast
    * join + a doc-grain aggregate per batch. */
  def streamDsirGate(spark: SparkSession, stream: DataFrame,
      lambdaPath: String, buckets: Int, outRoot: String): DataFrame = {
    drainOnce(spark, "graft_ckpt_sdsir")(stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (!b.isEmpty) {
          val lam = spark.read.parquet(lambdaPath)
          graft.text.Dsir.scoreWith(lam, b, buckets)
            .select(col("doc_id"), col("n_feats"), col("weight"),
              when(col("weight") > 0, 1L).otherwise(0L).as("kept"))
            .write.mode("append").parquet(outRoot)
        }
        ()
      })
    spark.read.parquet(outRoot)
      .dropDuplicates(Seq("doc_id")).orderBy("doc_id")
  }

  /** Harness entry: replay a bounded wire DataFrame through the streaming
    * engine via a file re-read as stream + AvailableNow, collecting into a
    * memory sink. Returns the materialized result table. Re-entrant: the
    * previous run's temp view is dropped and each run gets a fresh
    * checkpoint dir (deleted afterwards), so bench passes can repeat the
    * same query without resuming old offsets. Runs with
    * `shuffle.partitions` pinned low (see [[StreamParts]]). */
  def replayToMemory(spark: SparkSession, stream: DataFrame,
      name: String, outputMode: String = "append"): DataFrame = {
    spark.catalog.dropTempView(name)
    drainOnce(spark, s"graft_ckpt_$name")(stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode))
    spark.table(name)
  }
}
