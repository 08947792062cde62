package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Bronze, EventsAdapter, Silver}
import graft.queries.PipelineQueries.{goldCanonical, withPipeline}
import graft.streaming.StreamPipeline

/** Registry + oracles for the Structured Streaming surface (SURVEY.md §2.8).
  * The harness replays the bounded `events` table as a file stream with
  * `Trigger.AvailableNow` into a memory sink, so the streaming engine
  * (micro-batches, state store, watermark) actually executes.
  *
  * s2 (stateless) must equal the batch Silver exactly. s5 (stateful,
  * append mode) emits only groups finalized by the 1 h watermark — the
  * oracle reproduces that cutoff declaratively: hours strictly below
  * (max event time − 1 h) over the P8-filtered stream. */
object StreamingQueries {

  /** The file stream source requires a DIRECTORY; expose the single
    * events.parquet through a per-sf symlink dir (tmpfs-backed scratch).
    * Returns (streaming DataFrame with the file's schema). NOFOLLOW +
    * deleteIfExists: a stale link whose target was deleted (regenerated
    * sf dir) must be re-created, and Files.exists on it follows the link
    * and lies. */
  private def eventsFileStream(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, LinkOption, Paths}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = Paths.get(s"$d/events.parquet")
    val dir = Paths.get(s"/tmp/graft_stream_${d.hashCode.toHexString}/events")
    Files.createDirectories(dir)
    val link = dir.resolve("events.parquet")
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS) ||
        !Files.exists(link)) {
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, src)
    }
    val schema = s.read.parquet(src.toString).schema
    s.readStream.schema(schema).parquet(dir.toString)
  }

  /** Same table exposed TWICE (two symlinks) with maxFilesPerTrigger=1:
    * an at-least-once changelog replay in two micro-batches, every row
    * delivered in both. Drives the idempotent-merge path of the upsert
    * sink. A separate dir from [[eventsFileStream]] — the single-copy
    * queries must not see the duplicate file. */
  private def doubledEventsFileStream(s: SparkSession,
      d: String): DataFrame = {
    import java.nio.file.{Files, LinkOption, Paths}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = Paths.get(s"$d/events.parquet")
    val dir =
      Paths.get(s"/tmp/graft_stream_${d.hashCode.toHexString}/events2x")
    Files.createDirectories(dir)
    Seq("events_a.parquet", "events_b.parquet").foreach { name =>
      val link = dir.resolve(name)
      if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS) ||
          !Files.exists(link)) {
        Files.deleteIfExists(link)
        Files.createSymbolicLink(link, src)
      }
    }
    val schema = s.read.parquet(src.toString).schema
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
  }

  private def eventsStream(s: SparkSession, d: String): DataFrame =
    EventsAdapter.wire(eventsFileStream(s, d))

  /** Raw (user_id, ts, value) file stream for the session operator. */
  private def rawEventsStream(s: SparkSession, d: String): DataFrame =
    eventsFileStream(s, d)
      .transform(df => df.select(col("user_id"),
          EventsAdapter.tsTimestamp(df).as("ts"), col("value")))

  /** Full-width raw file stream (all events columns, µs timestamps). */
  private def fullEventsStream(s: SparkSession, d: String): DataFrame =
    eventsFileStream(s, d)
      .transform(df => df.select(col("event_id"),
          EventsAdapter.tsTimestamp(df).as("ts"),
          col("user_id"), col("event_type"), col("value")))

  /** Documents as two ORDERED stream files (mod-times force half_0 to
    * be micro-batch 1): half_0 = docs < 250; half_1 = docs 250-500
    * plus exact (+700000) and mutated (+800000, ' zt<id>x' footer)
    * re-deliveries of half-0 docs — the s16 exactly-once fixtures.
    * Built once per sf dir behind a `_done` marker. */
  private def splitDocsFileStream(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    // key the cached split by source size+mtime — a regenerated
    // documents table at the same path must never reuse stale fixtures
    val docStat = {
      val p = Paths.get(s"$d/documents.parquet")
      s"${Files.size(p)}_${Files.getLastModifiedTime(p).toMillis}"
    }
    val dir = Paths.get(
      s"/tmp/graft_stream_${d.hashCode.toHexString}/docs_split_$docStat")
    val done = dir.resolve("_done")
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      val base = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 500)
      val half0 = base.filter(col("doc_id") < 250)
      val half1 = base.filter(col("doc_id") >= 250)
        .unionAll(half0.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 700000).as("doc_id"), col("text")))
        .unionAll(half0.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 800000).as("doc_id"),
            concat(col("text"), lit(" zt"),
              col("doc_id").cast("string"), lit("x")).as("text")))
      Seq(0 -> half0, 1 -> half1).foreach { case (i, df) =>
        val tmp = dir.resolve(s"_build_$i")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val dst = dir.resolve(s"half_$i.parquet")
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        // file-stream batches order by modification time
        Files.setLastModifiedTime(dst,
          FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      Files.createFile(done)
    }
    val schema = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text")).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
  }

  /** Events split into two DISJOINT halves (event-id parity — every user
    * bucket present in both) exposed as two files with
    * maxFilesPerTrigger=1: a genuine multi-batch replay in which every
    * aggregate key is updated in BOTH micro-batches. Built once per sf
    * dir behind a `_done` marker (underscore-prefixed = invisible to the
    * file stream source). */
  private def splitEventsFileStream(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s"$d/events.parquet"
    // cache key includes source size+mtime: a regenerated events table
    // at the same path must never reuse stale split fixtures
    val evStat = {
      val p = Paths.get(src)
      s"${Files.size(p)}_${Files.getLastModifiedTime(p).toMillis}"
    }
    val dir = Paths.get(
      s"/tmp/graft_stream_${d.hashCode.toHexString}/events_split_$evStat")
    val done = dir.resolve("_done")
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      val full = s.read.parquet(src)
      Seq(0, 1).foreach { par =>
        val tmp = dir.resolve(s"_build_$par")
        full.filter(pmod(xxhash64(col("event_id")), lit(2)) === par)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dir.resolve(s"half_$par.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      Files.createFile(done)
    }
    val schema = s.read.parquet(src).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
  }

  /** Events as two ORDERED stream files for the s17 KS gate:
    * micro-batch 1 = the clean quarter (event_id%4 = 1), micro-batch
    * 2 = the drifted quarter (event_id%4 = 3, value ×1.5 — the
    * collector regression every row-level gate passes). Built once
    * per sf dir behind a `_done` marker; the planted product is
    * stored in the file, and the oracle recomputes the identical IEEE
    * double from the source table. */
  private def splitKsFileStream(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val ksStat = {
      val p = Paths.get(s"$d/events.parquet")
      s"${Files.size(p)}_${Files.getLastModifiedTime(p).toMillis}"
    }
    val dir = Paths.get(
      s"/tmp/graft_stream_${d.hashCode.toHexString}/ks_split_$ksStat")
    val done = dir.resolve("_done")
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      val base = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val slices = Seq(
        0 -> base.filter(col("event_id") % 4 === 1),
        1 -> base.filter(col("event_id") % 4 === 3)
          .withColumn("value", col("value") * lit(1.5d)))
      slices.foreach { case (i, df) =>
        val tmp = dir.resolve(s"_build_$i")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dir.resolve(s"slice_$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dir.resolve(s"slice_$i.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
      }
      Files.createFile(done)
    }
    val schema = s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), col("user_id"), col("value")).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
  }

  /** Recursively delete every `prefix`-named sibling of `keep` under
    * `parent` — the GC for stat/model-keyed scratch caches whose key
    * drifts across rounds (quarter-corpus copies, s20 λ caches): a
    * stale key would otherwise accumulate one dead copy per drift,
    * unboundedly. */
  private def gcStaleSiblings(parent: java.nio.file.Path,
      prefix: String, keep: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(parent)) {
      val siblings = Files.list(parent)
      try siblings.forEach { p =>
        if (p.getFileName.toString.startsWith(prefix) && p != keep) {
          val tree = Files.walk(p)
          try tree.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.deleteIfExists(f))
          finally tree.close()
        }
      } finally siblings.close()
    }
  }

  /** Quarter-corpus events file stream (event_id % 4 = 0),
    * materialized once per sf dir behind a _SUCCESS marker keyed by
    * the source's size+mtime — the bench-scoped stand-in source for
    * s5 (see [[benchOverrides]]). The streaming file source skips
    * `_`-prefixed files, so the marker never enters a micro-batch. */
  private def quarterEventsFileStream(s: SparkSession,
      d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = Paths.get(s"$d/events.parquet")
    val stat =
      s"${Files.size(src)}_${Files.getLastModifiedTime(src).toMillis}"
    val dir = Paths.get(
      s"/tmp/graft_stream_${d.hashCode.toHexString}/events_q_$stat")
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      // the cache is keyed by the source's size+mtime — when testdata
      // drifts across rounds, stale events_q_<oldstat> siblings would
      // otherwise accumulate in /tmp unboundedly; drop them first
      gcStaleSiblings(dir.getParent, "events_q_", dir)
      s.read.parquet(src.toString)
        .filter(pmod(col("event_id"), lit(4)) === 0)
        .coalesce(4).write.mode("overwrite").parquet(dir.toString)
    }
    val schema = s.read.parquet(dir.toString).schema
    s.readStream.schema(schema).parquet(dir.toString)
  }

  /** Bench-scoped workload substitutions (see SparkEntry
    * .benchOverrides): the SAME composed bronze→silver→gold streaming
    * replay over a quarter of the events, so graft.Bench times the
    * stateful-aggregate replay's steady shape instead of rebuilding
    * the full planted stream every sample. Verify never reads this —
    * the oracle always certifies the full-scale s5 entry — and Bench
    * records the substitution in BENCH_FULL.json. */
  val benchOverrides: Map[String, (SparkSession, String) => DataFrame] =
    Map("s5_stream_gold" -> ((s, d) => {
      val silver = StreamPipeline.silverStream(
        StreamPipeline.bronzeStream(
          EventsAdapter.wire(quarterEventsFileStream(s, d))))
      val gold = StreamPipeline.goldStream(silver,
        deterministicArrays = true)
      goldCanonical(
        StreamPipeline.replayToMemory(s, gold, "s5_stream_gold_bench"))
    }))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // STREAMING KS drift gate (s17): dq11 per micro-batch against the
    // static reference — batch 1 (clean quarter) must pass, batch 2
    // (value ×1.5 collector regression, which trips no row-level
    // rule) must flag; one content-tagged verdict row per batch,
    // replay-idempotent via the tag dedup
    // STREAMING DSIR GATE (s20): the t40 data-selection model run the
    // way production runs it — λ fit OFFLINE on the reference corpus
    // and persisted (the sim14/d15 train/apply lifecycle, for a model
    // instead of an index), then every micro-batch of incoming docs
    // scores against the frozen artifact and carries a keep verdict.
    // The model is fixed ⇒ verdicts are batch-boundary-independent ⇒
    // the batch oracle recomputes identical scores over all batches;
    // doc_id dedup makes replays exactly-once
    "s20_stream_dsir_gate" -> ((s, d) => {
      import java.nio.file.{Files, Paths}
      val docStat = {
        val p = Paths.get(s"$d/documents.parquet")
        s"${Files.size(p)}_${Files.getLastModifiedTime(p).toMillis}"
      }
      val buckets = 4096
      // cache key carries the MODEL parameters (bucket count, target
      // predicate) and a bumpable algorithm-version tag next to the
      // data's size+mtime, so a λ written by an older Dsir build or
      // with different parameters is never silently reused
      // (round-11 ADVICE)
      // hash BOTH predicate representations: the Column actually
      // passed to the fit AND its SQL twin — editing either without
      // the other must also invalidate the cache
      val modelKey = s"${graft.text.Dsir.AlgoVersion}_b${buckets}_" +
        Integer.toHexString((TextQueries.dsirTarget.toString +
          "|" + TextQueries.dsirTargetSql).hashCode)
      val lamPrefix = s"graft_dsir_lambda_${d.hashCode.toHexString}_"
      val lamDir = StreamPipeline.scratchRoot().resolve(
        s"$lamPrefix${modelKey}_$docStat")
      if (!Files.exists(lamDir.resolve("_SUCCESS"))) {
        // GC stale λ caches for this sf dir (old model keys / drifted
        // testdata) before writing the fresh one — same unbounded-/tmp
        // leak class as the quarter-corpus stream cache
        gcStaleSiblings(StreamPipeline.scratchRoot(), lamPrefix, lamDir)
        graft.text.Dsir.denseLambda(
          PipelineQueries.table(s, d, "documents"),
          TextQueries.dsirTarget, buckets = buckets)
          .coalesce(1).write.mode("overwrite").parquet(lamDir.toString)
      }
      val out = SinkQueries.tmp(s"dsir_gate_${java.util.UUID
        .randomUUID().toString.take(8)}", d)
      StreamPipeline.streamDsirGate(s, splitDocsFileStream(s, d),
        lamDir.toString, buckets = buckets, outRoot = out)
    }),
    "s17_stream_ks_gate" -> ((s, d) => {
      val ref = PipelineQueries.table(s, d, "events")
        .filter(col("event_id") % 2 === 0)
        .select(col("value"))
      val out = SinkQueries.tmp(s"ks_gate_${java.util.UUID
        .randomUUID().toString.take(8)}", d)
      StreamPipeline.streamKsGate(s, splitKsFileStream(s, d), ref,
        binExpr = "CAST(floor(value * 10000D) AS BIGINT)",
        tagExpr = "event_id % 4", outRoot = out)
    }),
    // UPDATE-output-mode streaming aggregate — the third output mode next
    // to append (s5) and complete (x19): each micro-batch emits ONLY the
    // keys it changed, so the memory sink accumulates one row per
    // (key, update). The replay forces two micro-batches that both touch
    // every key; final state reconstructs as the max-count row per key
    // (a key's count strictly grows with each update, so the pick is
    // deterministic whatever the batch split) and must equal the batch
    // aggregate exactly — update mode's at-scale contract: state and
    // emissions bounded by |changed keys|, not |result|
    "x35_stream_update" -> ((s, d) => {
      val agg = splitEventsFileStream(s, d)
        .transform(df => df.select(col("event_id"),
            EventsAdapter.tsTimestamp(df).as("ts"),
            col("user_id"), col("event_type"), col("value")))
        .groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"),
          max(col("ts")).as("last_ts"))
      StreamPipeline.replayToMemory(s, agg, "x35_stream_update",
          outputMode = "update")
        .groupBy(col("event_type"), col("user_bucket"))
        .agg(max_by(struct(col("sum_value"), col("last_ts")),
            col("n_events")).as("f"),
          max(col("n_events")).as("n_events"))
        .select(col("event_type"), col("user_bucket"), col("n_events"),
          col("f.sum_value").as("sum_value"), col("f.last_ts").as("last_ts"))
        .orderBy("event_type", "user_bucket")
    }),
    // STREAMING near-dup dedup (s16): d15's persisted LSH index
    // lifecycle driven by foreachBatch — micro-batch 2 plants EXACT
    // (+700000) and MUTATED (+800000, footer) re-deliveries of
    // micro-batch 1's docs; both reject against the index batch 1
    // committed, so re-delivered and mutated-re-delivered events
    // collapse exactly once across micro-batches (the near-dup
    // strengthening of s14's key-dedup exactly-once). Published
    // output = the store's accepted corpus. Oracle = ground-truth
    // sequential all-pairs Jaccard over the same two stages.
    "s16_stream_neardup" -> ((s, d) => {
      val root = SinkQueries.tmp(s"docs_snd_${java.util.UUID
        .randomUUID().toString.take(8)}", d)
      graft.dedup.NearDupIndexStore.init(
        PipelineQueries.table(s, d, "documents")
          .select(col("doc_id"), col("text")).limit(0), root)
      StreamPipeline.streamNearDupDedup(s,
        splitDocsFileStream(s, d), root)
        .withColumn("fingerprint",
          graft.text.TextAnalysis.fingerprint(col("text")))
        .select(col("doc_id"), col("fingerprint"))
        .orderBy("doc_id")
    }),
    // STREAMING write-audit-publish (s14): the io9 commit protocol per
    // micro-batch — stage, audit, pointer-swap; redelivery-idempotent
    // via key dedup on merge. Two genuine micro-batches (the id-parity
    // split); final published snapshot must equal the full table.
    "s14_stream_wap" -> ((s, d) => {
      val root = SinkQueries.tmp(s"events_swap_${java.util.UUID
        .randomUUID().toString.take(8)}", d)
      val stream = splitEventsFileStream(s, d)
        .transform(df => df.select(col("event_id"), col("user_id"),
          col("event_type"), col("value")))
      StreamPipeline.streamWapPublish(s, stream, root,
        rules = Seq("event_id_present" -> col("event_id").isNotNull),
        keyCols = Seq("event_id"))
        .orderBy("event_id")
    }),
    // STREAMING dead-letter routing (s13): dq8's quarantine applied on
    // the stream itself — failing rows peel off into the DLQ leg as
    // they arrive, tagged with their violated rules. Pure stateless
    // per-row CASE arms: no watermark, no state store, append mode —
    // the cheapest possible streaming operator, and the one every
    // ingest stream runs first so bad rows never reach stateful
    // operators downstream. Oracle = the identical batch filter.
    "s13_stream_quarantine" -> ((s, d) => {
      val q = graft.quality.Checks.quarantine(
        fullEventsStream(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
        Seq(
          "value_le_450" -> (col("value") <= 450),
          "value_ge_1" -> (col("value") >= 1)))
      StreamPipeline.replayToMemory(s, q, "s13_stream_quarantine")
        .orderBy("event_id")
    }),
    // STREAM-vs-LEARNED-BASELINE alerting (s15): the monitoring shape
    // s13's static rules can't express — the threshold is LEARNED
    // from history (per-type p99 by integer rank-pick on the
    // (type, cents) histogram, the x79 discipline), broadcast as a
    // |types|-row static table, and each arriving event alerts when
    // it exceeds its own type's baseline. Stateless stream-static
    // broadcast join: no watermark, no state store, append mode.
    // In production the baseline refreshes per batch cycle while the
    // stream keeps running. Oracle = the identical batch computation.
    "s15_stream_baseline_alert" -> ((s, d) => {
      val hist = PipelineQueries.table(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c"))
      val tots = hist.groupBy(col("event_type").as("n_type"))
        .agg(sum(col("c")).as("n"))
      val baseline = graft.etl.Ids.keyedCumsum(hist, "event_type",
          Seq("cents"), "c", "cum")
        .join(broadcast(tots), col("event_type") === col("n_type"))
        .filter(col("cum") * 100 >= col("n") * 99)
        .groupBy(col("event_type"))
        .agg(min(col("cents")).as("p99_cents"))
      val alerts = fullEventsStream(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .join(broadcast(baseline), Seq("event_type"))
        .filter(expr("CAST(round(value * 100) AS BIGINT)") >
          col("p99_cents"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("p99_cents"))
      StreamPipeline.replayToMemory(s, alerts,
        "s15_stream_baseline_alert")
        .orderBy("event_id")
    }),
    // at-least-once replay dedup: the stream self-unioned (every row
    // delivered twice) must come out exactly once
    "s7_stream_dedup" -> ((s, d) => {
      val raw = fullEventsStream(s, d)
      val dedup = StreamPipeline.dedupStream(raw.unionAll(raw),
        eventTime = "ts", delay = "1 hour", keys = Seq("event_id"))
      StreamPipeline.replayToMemory(s, dedup, "s7_stream_dedup")
        .orderBy("event_id")
    }),
    // key-only watermarked dedup (dropDuplicatesWithinWatermark): the
    // replay delivers every row twice; duplicates collapse on event_id
    // ALONE — no event-time in the key — within the 1 h watermark
    "s8_dedup_within_watermark" -> ((s, d) => {
      val raw = fullEventsStream(s, d)
      val dedup = StreamPipeline.dedupWithinWatermark(
        raw.unionAll(raw), eventTime = "ts", delay = "1 hour",
        keys = Seq("event_id"))
      StreamPipeline.replayToMemory(s, dedup, "s8_dedup_within_watermark")
        .orderBy("event_id")
    }),
    // CEP sequential pattern match (view → click → purchase, strict
    // event-time order): buffered-until-watermark NFA — processing the
    // closed prefix in (ts, event_id) order makes the match a pure
    // function of the event set, independent of arrival order or
    // micro-batch split; greedy stage minima ≡ the batch oracle
    "x52_stream_cep" -> ((s, d) => {
      val matches = graft.streaming.CepStream
        .matchFunnel(fullEventsStream(s, d))
      StreamPipeline.replayToMemory(s, matches.toDF(), "x52_stream_cep")
        .select(col("user_id"),
          timestamp_micros(col("view_us")).as("view_ts"),
          timestamp_micros(col("click_us")).as("click_ts"),
          timestamp_micros(col("purchase_us")).as("purchase_ts"))
        .orderBy("user_id")
    }),
    "x9_stream_sessions" -> ((s, d) => {
      val sessions = graft.streaming.SessionStream
        .sessionizeStream(rawEventsStream(s, d))
      StreamPipeline.replayToMemory(s, sessions.toDF(),
        "x9_stream_sessions")
        .select(col("user_id"),
          timestamp_micros(col("start_us")).as("session_start"),
          timestamp_micros(col("end_us")).as("session_end"),
          col("n_events"),
          round(col("session_value"), 4).as("session_value"))
        .orderBy("user_id", "session_start")
    }),
    "s2_stream_silver" -> ((s, d) => {
      val silver = StreamPipeline
        .silverStream(StreamPipeline.bronzeStream(eventsStream(s, d)))
        .drop("processing_timestamp") // P7 audit col is wall-clock
      StreamPipeline.replayToMemory(s, silver, "s2_stream_silver")
        .orderBy("location_id", "datetime", "parameter", "value")
    }),
    "s5_stream_gold" -> ((s, d) => {
      val silver = StreamPipeline
        .silverStream(StreamPipeline.bronzeStream(eventsStream(s, d)))
      val gold = StreamPipeline.goldStream(silver,
        deterministicArrays = true)
      goldCanonical(
        StreamPipeline.replayToMemory(s, gold, "s5_stream_gold"))
    }),
    // ONE SOURCE → THREE SINKS (T1, the reference's fan-out topology —
    // collect_data.py's producer feeding raw/clean/aggregate consumers):
    // a foreachBatch query writes the stateless raw + clicks parquet
    // sinks from ONE read of each micro-batch (the production
    // multi-sink shape — per-batch persist, two writes, unpersist), and
    // the stateful hourly leg runs as its own topology into a third
    // parquet sink (watermark append — aggregations can't share the
    // stateless query). The harness row summarizes all three sinks
    // (rows + integer checksum) so the driver oracle certifies the
    // fan-out end to end: every sink complete, nothing duplicated.
    "s18_fanout_sinks" -> ((s, d) =>
      StreamPipeline.drain(s, "graft_fanout") { run =>
        val (rawDir, clickDir, hourDir) = (run.resolve("raw").toString,
          run.resolve("clicks").toString, run.resolve("hourly").toString)
        val ev = fullEventsStream(s, d)
        StreamPipeline.awaitAvailableNow(ev.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val b = batch.persist()
            b.select(col("event_id"), col("user_id"), col("event_type"))
              .write.mode("append").parquet(rawDir)
            b.filter(col("event_type") === "click")
              .select(col("event_id"), col("user_id"))
              .write.mode("append").parquet(clickDir)
            b.unpersist(); ()
          }, run.resolve("ckpt_fan"))
        val hourly = ev
          .withColumn("hour", date_trunc("hour", col("ts")))
          .withWatermark("hour", "1 hour")
          .groupBy(col("hour"))
          .agg(count(lit(1)).as("n_events"))
        StreamPipeline.awaitAvailableNow(hourly.writeStream
          .format("parquet")
          .option("path", hourDir)
          .outputMode("append"), run.resolve("ckpt_hour"))
        val raw = s.read.parquet(rawDir)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("checksum"))
          .select(lit("raw").as("sink"), col("n_rows"), col("checksum"))
        val clicks = s.read.parquet(clickDir)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("checksum"))
          .select(lit("clicks").as("sink"), col("n_rows"),
            col("checksum"))
        val hours = s.read.parquet(hourDir)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_events")).as("checksum"))
          .select(lit("hourly").as("sink"), col("n_rows"),
            col("checksum"))
        raw.unionAll(clicks).unionAll(hours).orderBy("sink")
          .localCheckpoint()
      }),
    // CHECKPOINT RECOVERY (T6): the same stateful hourly-count topology
    // run TWICE against one checkpoint — stage 1 sees only the first
    // (time-ordered) half of the corpus, stops, stage 2 restarts after
    // the second half lands. Recovery must (a) NOT reprocess the
    // already-committed half (file-source log) and (b) restore the
    // in-flight window state so boundary hours emit complete counts —
    // a stale or ignored checkpoint double-counts (a) or undercounts
    // (b), and the batch oracle catches both. The halves split on an
    // hour-aligned midpoint, so no stage-2 row can land in an hour the
    // stage-1 watermark already finalized (no late-drop ambiguity: the
    // oracle is the plain batch count under the s5 watermark cutoff).
    "s19_checkpoint_recovery" -> ((s, d) => {
      import java.nio.file.{Files, Paths}
      val scratch = StreamPipeline.scratchRoot()
      // halves built once per sf dir behind a _done marker; the key
      // includes the source file's size+mtime so a regenerated events
      // table (new round, same path) never reuses stale halves
      val srcStat = {
        val p = Paths.get(s"$d/events.parquet")
        s"${Files.size(p)}_${Files.getLastModifiedTime(p).toMillis}"
      }
      val prep = scratch.resolve(
        s"graft_recovery_halves_${d.hashCode.toHexString}_$srcStat")
      if (!Files.exists(prep.resolve("_done"))) {
        val raw = s.read.parquet(s"$d/events.parquet")
        val norm = raw.select(col("event_id"),
          EventsAdapter.tsTimestamp(raw).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        val Array(mn, mx) = norm
          .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        val hourUs = 3600L * 1000000L
        val cutoffUs = ((mn + (mx - mn) / 2) / hourUs) * hourUs
        val cutoff = expr(s"timestamp_micros(${cutoffUs}L)")
        norm.filter(col("ts") < cutoff).coalesce(1)
          .write.mode("overwrite").parquet(prep.resolve("h0").toString)
        norm.filter(col("ts") >= cutoff).coalesce(1)
          .write.mode("overwrite").parquet(prep.resolve("h1").toString)
        Files.createFile(prep.resolve("_done"))
      }
      val sch = s.read.parquet(prep.resolve("h0").toString).schema
      StreamPipeline.drain(s, "graft_recovery") { run =>
        val srcDir = run.resolve("src"); Files.createDirectories(srcDir)
        val sinkDir = run.resolve("sink").toString
        def addHalf(name: String): Unit = {
          val half = prep.resolve(name)
          Files.list(half).filter(_.toString.endsWith(".parquet"))
            .forEach(f => Files.copy(f,
              srcDir.resolve(s"${name}_${f.getFileName}")))
        }
        def runStage(): Unit = StreamPipeline.awaitAvailableNow(
          s.readStream.schema(sch).parquet(srcDir.toString)
            .withColumn("hour", date_trunc("hour", col("ts")))
            .withWatermark("hour", "1 hour")
            .groupBy(col("hour"), col("event_type"))
            .agg(count(lit(1)).as("n_events"))
            .writeStream.format("parquet")
            .option("path", sinkDir)
            .outputMode("append"), run.resolve("ckpt"))
        addHalf("h0"); runStage()
        val afterStage1 = s.read.parquet(sinkDir).count()
        addHalf("h1"); runStage()
        val out = s.read.parquet(sinkDir).localCheckpoint()
        // the recovery proof: stage 1 emitted finalized hours, stage 2
        // added strictly more WITHOUT re-emitting (every (hour, type)
        // appears exactly once across both stages)
        require(afterStage1 > 0, "stage 1 must finalize some hours")
        require(out.count() > afterStage1,
          "stage 2 must emit hours beyond stage 1's watermark")
        require(out.select(col("hour"), col("event_type")).distinct()
          .count() == out.count(),
          "a restarted checkpoint must never re-emit a finalized group")
        out.orderBy("hour", "event_type")
      }
    }),
    // stream-stream interval join: purchases attributed to a click by the
    // same user within the following hour — two live streams, join state
    // bounded by watermark + the interval condition
    "x14_stream_stream_join" -> ((s, d) => {
      val ev = fullEventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      val joined = StreamPipeline.streamStreamJoin(
        clicks, purchases, "click_ts", "purchase_ts", delay = "1 hour",
        condition = col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      StreamPipeline.replayToMemory(s, joined, "x14_stream_stream_join")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"),
          round(col("purchase_value"), 4).as("purchase_value"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),
    // stream-stream LEFT OUTER join: like x14 but UNconverted clicks
    // survive — a click with no purchase in its hour emits once, with
    // nulls, when the watermark proves no future purchase can match
    // (state expiry is the only way streaming gets outer semantics)
    "x25_stream_left_join" -> ((s, d) => {
      val ev = fullEventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      val joined = StreamPipeline.streamStreamLeftJoin(
        clicks, purchases, "click_ts", "purchase_ts", delay = "1 hour",
        condition = col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      StreamPipeline.replayToMemory(s, joined, "x25_stream_left_join")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"),
          round(col("purchase_value"), 4).as("purchase_value"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),
    // stream-stream FULL OUTER join: x25 plus the symmetric right-side
    // expiry — purchases with no click in their preceding hour ALSO
    // survive as null-padded rows once the watermark passes their match
    // window (user_id coalesced across sides, since either can be null)
    "x37_stream_full_join" -> ((s, d) => {
      val ev = fullEventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      val joined = StreamPipeline.streamStreamFullJoin(
        clicks, purchases, "click_ts", "purchase_ts", delay = "1 hour",
        condition = col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      StreamPipeline.replayToMemory(s, joined, "x37_stream_full_join")
        .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
          col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"),
          round(col("purchase_value"), 4).as("purchase_value"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),
    // complete-mode streaming aggregate: the memory sink holds the FULL
    // current result each micro-batch (no watermark, no eviction) — after
    // a bounded replay it must equal the batch aggregate exactly. The
    // third output mode next to append (s5) and the foreachBatch upsert
    // (x16); complete mode only scales while the RESULT is small (here:
    // one row per (event_type, user bucket)), state = result size.
    "x19_stream_complete" -> ((s, d) => {
      val agg = fullEventsStream(s, d)
        .groupBy(col("event_type"), (col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"),
          max(col("ts")).as("last_ts"))
      StreamPipeline.replayToMemory(s, agg, "x19_stream_complete",
        outputMode = "complete")
        .orderBy("event_type", "user_bucket")
    }),
    // streaming TOP-K: sort + limit on a streaming aggregate is legal
    // ONLY in complete mode (Spark re-ranks the full state each micro-
    // batch), so this is the leaderboard shape x19's plain aggregate
    // doesn't cover. The tie-break (n desc, user_id) makes the cut
    // deterministic; state = one row per user, result = K rows — the
    // complete-mode contract (scales while the RESULT is small) holds
    // because K is fixed. After the bounded replay the final top-10
    // must equal the batch top-10 exactly.
    "s11_stream_topk" -> ((s, d) => {
      val top = fullEventsStream(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy(desc("n_events"), col("user_id"))
        .limit(10)
      StreamPipeline.replayToMemory(s, top, "s11_stream_topk",
        outputMode = "complete")
        .orderBy(desc("n_events"), col("user_id"))
    }),
    // sliding-window streaming aggregate: 2 h windows advancing every 1 h
    // (each event lands in TWO windows) — the windowing mode tumbling
    // (T4/s5) doesn't cover; append mode emits a window once the
    // watermark passes its end
    "x17_stream_sliding" -> ((s, d) => {
      val ev = fullEventsStream(s, d)
      val agg = ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        // decimal-exact sum, not avg(): a 2-dp sum ÷ count lands on exact
        // 4th-decimal ties (S·10⁴/n) that the engines' round() split in
        // opposite directions, and raw double avg partial-sums reorder
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("event_type"),
          col("n_events"), col("sum_value"))
      StreamPipeline.replayToMemory(s, agg, "x17_stream_sliding")
        .orderBy("w_start", "event_type")
    }),
    // streaming MERGE: a twice-delivered changelog (2 micro-batches, every
    // row in both) upserts into a versioned parquet snapshot via
    // foreachBatch — final state must equal exactly-once latest-per-key
    "x16_stream_upsert" -> ((s, d) => {
      val changelog = doubledEventsFileStream(s, d)
        .transform(df => df.select(col("user_id"), col("event_type"), col("value"),
            EventsAdapter.tsTimestamp(df).as("ts"), col("event_id")))
      // deterministic per-sf target (no scratch leak across runs),
      // cleared at start: the query demonstrates a fresh changelog →
      // snapshot build, not resumption into a prior run's state
      val target = StreamPipeline.scratchRoot().resolve(
        s"graft_upsert_${d.hashCode.toHexString}")
      StreamPipeline.clearDir(target)
      val state = StreamPipeline.streamUpsert(s, changelog,
        target.toString, Seq("user_id"), Seq("event_type", "value"),
        Seq("ts", "event_id"))
      state
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("ts").as("last_ts"),
          col("event_id").as("last_event_id"))
        .orderBy("user_id")
    }),
    // the DECLARATIVE session twin of x9: Spark's built-in
    // session_window (dynamic gap-merging window) instead of the custom
    // flatMapGroupsWithState operator — same 30 min gap, same
    // watermark-gated append emission; state merges sessions engine-side
    "x32_stream_session_window" -> ((s, d) => {
      val ev = rawEventsStream(s, d)
      val agg = ev.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        // decimal-exact sum: a raw double sum reorders across partials
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("session_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("session_value"))
      StreamPipeline.replayToMemory(s, agg, "x32_stream_session_window")
        .orderBy("user_id", "session_start")
    }),
    // stream-static enrichment: each streamed measurement joins a STATIC
    // per-station reference (historical max + observation count from the
    // batch layer) — the standard "enrich events with a dimension" shape.
    // The static side is broadcast: no stream-side shuffle, no state.
    // Only order-independent aggregates (max, count) keep the oracle
    // exact.
    // STREAMING SCD2 point-in-time enrichment (s12): each streamed
    // event looks up the dimension interval VALID AT ITS EVENT TIME
    // (user's regime from the x11/Scd2 intervals) via a stream-static
    // range join on the broadcast dimension — the as-of lookup every
    // streaming enrichment against a type-2 dimension needs;
    // latest-value joins (x13) silently rewrite history. Stateless
    // per-event lookup: no watermark, no state store; the dimension
    // is bounded by attribute CHANGES, not events
    "s12_stream_scd2_enrich" -> ((s, d) => {
      val dim = graft.etl.Scd2.intervals(
        PipelineQueries.eventsTs(s, d), "user_id", "event_type", "ts")
        .select(col("user_id").as("dim_user"),
          col("event_type").as("regime_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
      val enriched = fullEventsStream(s, d)
        .join(broadcast(dim),
          col("user_id") === col("dim_user") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")))
      StreamPipeline.replayToMemory(s, enriched, "s12_stream_scd2")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("regime_type"),
          col("valid_from").as("regime_from"), col("is_current"))
        .orderBy("event_id")
    }),
    "x13_stream_enrich" -> ((s, d) => {
      val stationRef = PipelineQueries.silver(s, d)
        .groupBy(col("location_id"))
        .agg(max(col("aqi")).as("hist_max_aqi"),
          count(col("aqi")).as("n_obs"))
      val silver = StreamPipeline
        .silverStream(StreamPipeline.bronzeStream(eventsStream(s, d)))
        .drop("processing_timestamp")
      val enriched = silver
        .join(broadcast(stationRef), Seq("location_id"))
        .withColumn("is_peak", col("aqi") >= col("hist_max_aqi"))
      StreamPipeline.replayToMemory(s, enriched, "x13_stream_enrich")
        .select(col("location_id"), col("datetime"), col("parameter"),
          col("value"), col("aqi"), col("hist_max_aqi"), col("n_obs"),
          col("is_peak"))
        .orderBy("location_id", "datetime", "parameter", "value")
    })
  )

  val oracle: Map[String, String] = Map(
    // frozen model ⇒ the stream's per-doc verdicts equal the batch
    // computation over the union of both micro-batches (incl. the
    // planted re-deliveries and mutated twins under their own ids)
    "s20_stream_dsir_gate" -> graft.text.Dsir.gateSql(
      """(SELECT doc_id, text FROM documents WHERE doc_id < 500
        |  UNION ALL SELECT doc_id + 700000, text FROM documents
        |    WHERE doc_id < 250 AND doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 800000,
        |      text || ' zt' || CAST(doc_id AS VARCHAR) || 'x'
        |    FROM documents WHERE doc_id < 250 AND doc_id % 10 = 5)"""
        .stripMargin.replace('\n', ' '),
      TextQueries.dsirTargetSql, buckets = 4096),
    // batch twin: dq11's ksTestSql per slice, tagged like the stream's
    // content-derived batch keys (the planted ×1.5 product recomputes
    // to the identical IEEE double the stream file stores)
    "s17_stream_ks_gate" -> {
      val refRel = "(SELECT value FROM events WHERE event_id % 2 = 0)"
      val bin = "CAST(floor(value * CAST('10000' AS DOUBLE)) AS BIGINT)"
      def leg(tag: Int, curRel: String) =
        s"SELECT CAST($tag AS BIGINT) AS batch_tag, * FROM (" +
          graft.quality.Checks.ksTestSql(refRel, curRel,
            Seq("value" -> bin)) + ")"
      leg(1, "(SELECT value FROM events WHERE event_id % 4 = 1)") +
        " UNION ALL " +
        leg(3, "(SELECT value * CAST('1.5' AS DOUBLE) AS value " +
          "FROM events WHERE event_id % 4 = 3)") +
        " ORDER BY batch_tag"
    },
    // batch twin: identical interval build + as-of range join
    "s12_stream_scd2_enrich" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    user_id, event_type FROM events),
        |ch AS (SELECT user_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
        |      AS prev
        |  FROM ev),
        |iv0 AS (SELECT user_id, event_type AS regime_type,
        |    ts AS valid_from
        |  FROM ch WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT user_id, regime_type, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY valid_from) AS valid_to
        |  FROM iv0)
        |SELECT e.event_id, e.ts, e.user_id, e.event_type,
        |  i.regime_type, i.valid_from AS regime_from,
        |  i.valid_to IS NULL AS is_current
        |FROM ev e JOIN iv i ON e.user_id = i.user_id
        |  AND e.ts >= i.valid_from
        |  AND (i.valid_to IS NULL OR e.ts < i.valid_to)
        |ORDER BY event_id""".stripMargin.replace('\n', ' '),
    // the final published snapshot ≡ the whole table: both batches
    // audited clean and merged exactly-once
    "s14_stream_wap" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id"""
        .stripMargin.replace('\n', ' '),
    // ground-truth sequential replay of the two micro-batches:
    // batch 1 lands whole (fingerprint collapse only — empty store),
    // batch 2 verifies against batch 1's survivors by all-pairs
    // integer Jaccard (10000·|∩| ≥ 7000·|∪|); exact re-deliveries
    // reject with |∩| = |∪|, mutated ones on the near-collision
    "s16_stream_neardup" -> {
      val fp = graft.text.TextAnalysis.fingerprintSql("text")
      val norm = graft.text.TextAnalysis.normalizedSql("text")
      val sh = s"list_distinct([substr(n, i, 5) " +
        "for i in range(1, greatest(len(n) - 4, 1) + 1)])"
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 500),
         |b1 AS (SELECT * FROM base WHERE doc_id < 250),
         |b2 AS (
         |  SELECT * FROM base WHERE doc_id >= 250
         |  UNION ALL SELECT doc_id + 700000, text
         |  FROM b1 WHERE doc_id % 10 = 0
         |  UNION ALL SELECT doc_id + 800000,
         |    text || ' zt' || CAST(doc_id AS VARCHAR) || 'x'
         |  FROM b1 WHERE doc_id % 10 = 5),
         |surv1 AS (SELECT doc_id, text, fingerprint FROM (
         |    SELECT doc_id, text, $fp AS fingerprint,
         |      row_number() OVER (PARTITION BY $fp ORDER BY doc_id)
         |        AS rn FROM b1)
         |  WHERE rn = 1),
         |csh AS (SELECT doc_id, $sh AS s FROM
         |  (SELECT doc_id, $norm AS n FROM surv1)),
         |ish AS (SELECT doc_id, $sh AS s FROM
         |  (SELECT doc_id, $norm AS n FROM b2)),
         |rej AS (SELECT DISTINCT i.doc_id FROM ish i JOIN csh c
         |  ON len(list_intersect(i.s, c.s)) * 10000
         |     >= len(list_distinct(i.s || c.s)) * 7000),
         |surv2 AS (SELECT doc_id, text, fingerprint FROM (
         |    SELECT doc_id, text, $fp AS fingerprint,
         |      row_number() OVER (PARTITION BY $fp ORDER BY doc_id)
         |        AS rn FROM b2
         |    WHERE doc_id NOT IN (SELECT doc_id FROM rej))
         |  WHERE rn = 1)
         |SELECT doc_id, fingerprint FROM surv1
         |UNION ALL SELECT doc_id, fingerprint FROM surv2
         |ORDER BY doc_id""".stripMargin.replace('\n', ' ')
    },
    // the stream's alert leg ≡ the identical batch computation
    // (stateless stream-static join commutes with replay); same
    // rank-pick p99 baseline
    "s15_stream_baseline_alert" ->
      """WITH hist AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT event_type, cents,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist),
        |bl AS (SELECT event_type, CAST(min(cents) AS BIGINT)
        |    AS p99_cents
        |  FROM cm WHERE cum * 100 >= n * 99 GROUP BY 1)
        |SELECT event_id, user_id, e.event_type, value, p99_cents
        |FROM events e JOIN bl ON e.event_type = bl.event_type
        |WHERE CAST(round(value * 100) AS BIGINT) > p99_cents
        |ORDER BY event_id""".stripMargin.replace('\n', ' '),
    // the stream's DLQ leg ≡ the identical batch filter (stateless
    // routing commutes with replay)
    "s13_stream_quarantine" ->
      """SELECT event_id, user_id, event_type, value,
        |  concat_ws(',',
        |    CASE WHEN (value <= 450) IS DISTINCT FROM TRUE
        |      THEN 'value_le_450' END,
        |    CASE WHEN (value >= 1) IS DISTINCT FROM TRUE
        |      THEN 'value_ge_1' END) AS violated
        |FROM events
        |WHERE NOT (coalesce(value <= 450, FALSE)
        |    AND coalesce(value >= 1, FALSE))
        |ORDER BY event_id""".stripMargin.replace('\n', ' '),
    // dedup of the doubled stream ≡ the original table
    "s7_stream_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |  event_type, value
        |FROM events ORDER BY event_id""".stripMargin.replace('\n', ' '),
    // exact-once collapse of the doubled stream ≡ the original table
    // (same oracle as s7 — the API differs, the contract doesn't)
    "s8_dedup_within_watermark" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |  event_type, value
        |FROM events ORDER BY event_id""".stripMargin.replace('\n', ' '),
    // greedy earliest-completion funnel over watermark-closed events:
    // v = min view, c = min click > v, p = min purchase > c, every
    // stage restricted to us <= final watermark — exactly the NFA's
    // processed prefix (events in the last hour never close)
    "x52_stream_cep" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |wm AS (SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000
        |    - 3600000) * 1000 AS wm_us FROM events),
        |v AS (SELECT user_id, min(us) AS v_us
        |  FROM ev CROSS JOIN wm
        |  WHERE event_type = 'view' AND us <= wm_us GROUP BY 1),
        |c AS (SELECT ev.user_id, min(us) AS c_us
        |  FROM ev JOIN v ON ev.user_id = v.user_id CROSS JOIN wm
        |  WHERE event_type = 'click' AND us > v_us AND us <= wm_us
        |  GROUP BY 1),
        |p AS (SELECT ev.user_id, min(us) AS p_us
        |  FROM ev JOIN c ON ev.user_id = c.user_id CROSS JOIN wm
        |  WHERE event_type = 'purchase' AND us > c_us AND us <= wm_us
        |  GROUP BY 1)
        |SELECT v.user_id, make_timestamp(v_us) AS view_ts,
        |  make_timestamp(c_us) AS click_ts,
        |  make_timestamp(p_us) AS purchase_ts
        |FROM v JOIN c ON v.user_id = c.user_id
        |JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin.replace('\n', ' '),
    // batch sessionization restricted to sessions the watermark closed:
    // end + gap <= (ms-floored max event time − 1 h), all in epoch µs —
    // exactly SessionStream's emission rule.
    "x9_stream_sessions" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_seq
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |    count(*) AS n_events,
        |    round(CAST(sum(value) AS DOUBLE), 4) AS session_value
        |  FROM sessions GROUP BY user_id, session_seq),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000
        |  AS wm_us FROM ev)
        |SELECT user_id, session_start, session_end, n_events,
        |  session_value
        |FROM agg, wm
        |WHERE epoch_us(session_end) + 1800000000 <= wm_us
        |ORDER BY user_id, session_start""".stripMargin.replace('\n', ' '),
    "s2_stream_silver" -> withPipeline(
      "SELECT * FROM silver ORDER BY location_id, datetime, parameter, value"),
    // the CTE casts ns → µs FIRST so the interval condition compares the
    // same µs-truncated instants the engine sees
    // fan-out twin: raw/clicks straight from the table; the hourly
    // sink under the same watermark cutoff as s5 (hour <= trunc(max)-1h)
    "s18_fanout_sinks" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  event_type FROM events),
        |wm AS (SELECT date_trunc('hour', max(ts)) - INTERVAL 1 HOUR
        |  AS w FROM ev),
        |hourly AS (SELECT date_trunc('hour', ts) AS hour,
        |  CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1),
        |hsel AS (SELECT hour, c FROM hourly CROSS JOIN wm
        |  WHERE hour <= w)
        |SELECT 'clicks' AS sink, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS checksum
        |FROM ev WHERE event_type = 'click'
        |UNION ALL SELECT 'hourly', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT) FROM hsel
        |UNION ALL SELECT 'raw', CAST(count(*) AS BIGINT),
        |  CAST(sum(event_id) AS BIGINT) FROM ev
        |ORDER BY sink""".stripMargin.replace('\n', ' '),
    // recovery twin: the restarted stream's union of emissions equals
    // the one-shot batch count under the final watermark — recovery
    // that reprocessed the first half or dropped boundary-window state
    // diverges from this
    "s19_checkpoint_recovery" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |wm AS (SELECT date_trunc('hour', max(ts)) - INTERVAL 1 HOUR
        |  AS w FROM ev)
        |SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM ev CROSS JOIN wm
        |GROUP BY 1, 2, w HAVING hour <= w
        |ORDER BY hour, event_type""".stripMargin.replace('\n', ' '),
    "x14_stream_stream_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  user_id, event_type, value FROM events)
        |SELECT c.user_id, c.event_id AS click_id,
        |  p.event_id AS purchase_id,
        |  c.ts AS click_ts, p.ts AS purchase_ts,
        |  round(p.value, 4) AS purchase_value
        |FROM ev c JOIN ev p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id"""
        .stripMargin.replace('\n', ' '),
    // matched pairs ≡ the batch interval join (emitted eagerly); the
    // null row for a match-less click emits iff its match window's
    // upper bound (click_ts + 1 h) fell strictly below the final JOIN
    // watermark — the MIN of the two sides' watermarks, each computed
    // on its own filtered stream (ms-floored max side event time − 1 h).
    // Empirically pinned at sf0.01: the purchase side's earlier max is
    // what gates left-state eviction.
    "x25_stream_left_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  user_id, event_type, value FROM events),
        |clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM ev WHERE event_type = 'click'),
        |purchases AS (SELECT user_id AS p_user, event_id AS purchase_id,
        |  ts AS purchase_ts, value FROM ev WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts,
        |    p.purchase_ts, round(p.value, 4) AS purchase_value
        |  FROM clicks c JOIN purchases p ON c.user_id = p.p_user
        |    AND p.purchase_ts >= c.click_ts
        |    AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR),
        |wm AS (SELECT make_timestamp((epoch_us(least(
        |    (SELECT max(click_ts) FROM clicks),
        |    (SELECT max(purchase_ts) FROM purchases)))
        |  // 1000 - 3600000) * 1000) AS wm_ts),
        |unmatched AS (
        |  SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT)
        |      AS purchase_id,
        |    c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts,
        |    CAST(NULL AS DOUBLE) AS purchase_value
        |  FROM clicks c, wm
        |  WHERE c.click_ts + INTERVAL 1 HOUR < wm_ts
        |    AND NOT EXISTS (SELECT 1 FROM purchases p
        |      WHERE p.p_user = c.user_id
        |        AND p.purchase_ts >= c.click_ts
        |        AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR))
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        |ORDER BY user_id, click_id, purchase_id"""
        .stripMargin.replace('\n', ' '),
    // x25's rule plus the mirrored right side: an unmatched purchase's
    // match window upper bound is its own event time (clicks precede
    // purchases in the interval), so it emits nulls iff purchase_ts
    // fell strictly below the final join watermark
    "x37_stream_full_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  user_id, event_type, value FROM events),
        |clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM ev WHERE event_type = 'click'),
        |purchases AS (SELECT user_id AS p_user, event_id AS purchase_id,
        |  ts AS purchase_ts, value FROM ev WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts,
        |    p.purchase_ts, round(p.value, 4) AS purchase_value
        |  FROM clicks c JOIN purchases p ON c.user_id = p.p_user
        |    AND p.purchase_ts >= c.click_ts
        |    AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR),
        |wm AS (SELECT make_timestamp((epoch_us(least(
        |    (SELECT max(click_ts) FROM clicks),
        |    (SELECT max(purchase_ts) FROM purchases)))
        |  // 1000 - 3600000) * 1000) AS wm_ts),
        |unmatched_l AS (
        |  SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT)
        |      AS purchase_id,
        |    c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts,
        |    CAST(NULL AS DOUBLE) AS purchase_value
        |  FROM clicks c, wm
        |  WHERE c.click_ts + INTERVAL 1 HOUR < wm_ts
        |    AND NOT EXISTS (SELECT 1 FROM purchases p
        |      WHERE p.p_user = c.user_id
        |        AND p.purchase_ts >= c.click_ts
        |        AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)),
        |unmatched_r AS (
        |  SELECT p.p_user AS user_id, CAST(NULL AS BIGINT) AS click_id,
        |    p.purchase_id, CAST(NULL AS TIMESTAMP) AS click_ts,
        |    p.purchase_ts, round(p.value, 4) AS purchase_value
        |  FROM purchases p, wm
        |  WHERE p.purchase_ts < wm_ts
        |    AND NOT EXISTS (SELECT 1 FROM clicks c
        |      WHERE c.user_id = p.p_user
        |        AND p.purchase_ts >= c.click_ts
        |        AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR))
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched_l
        |UNION ALL SELECT * FROM unmatched_r
        |ORDER BY user_id, click_id, purchase_id"""
        .stripMargin.replace('\n', ' '),
    // update-mode final state over bounded input ≡ the plain batch
    // aggregate (same contract as x19, reached through per-key updates)
    "x35_stream_update" ->
      """SELECT event_type, user_id % 10 AS user_bucket,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(max(ts) AS TIMESTAMP) AS last_ts
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, user_bucket""".stripMargin.replace('\n', ' '),
    // complete mode over bounded input ≡ the plain batch aggregate
    "x19_stream_complete" ->
      """SELECT event_type, user_id % 10 AS user_bucket,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(max(ts) AS TIMESTAMP) AS last_ts
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, user_bucket""".stripMargin.replace('\n', ' '),
    // complete-mode top-k final state ≡ the batch top-k (deterministic
    // cut: count desc, then user_id)
    "s11_stream_topk" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1
        |ORDER BY n_events DESC, user_id LIMIT 10"""
        .stripMargin.replace('\n', ' '),
    // every event expands to its two enclosing 2h-windows; a window is
    // emitted iff its END is at or before the watermark (ms-floored max
    // event time − 1 h) — same emission rule family as s5/x9
    "x17_stream_sliding" ->
      """WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |expanded AS (
        |  SELECT event_type, value, date_trunc('hour', ts) AS w_start
        |  FROM ev
        |  UNION ALL
        |  SELECT event_type, value,
        |    date_trunc('hour', ts) - INTERVAL 1 HOUR
        |  FROM ev),
        |agg AS (
        |  SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end, event_type,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_value
        |  FROM expanded GROUP BY 1, 2, 3),
        |wm AS (SELECT make_timestamp(
        |    (epoch_us(max(ts)) // 1000 - 3600000) * 1000) AS wm_ts
        |  FROM ev)
        |SELECT w_start, w_end, event_type, n_events, sum_value
        |FROM agg, wm WHERE w_end <= wm_ts
        |ORDER BY w_start, event_type""".stripMargin.replace('\n', ' '),
    // at-least-once delivery folds away: latest per key over the ORIGINAL
    // table — if the duplicate batch double-applied, counts/values diverge
    "x16_stream_upsert" ->
      """WITH ev AS (SELECT user_id, event_type, value,
        |    CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |latest AS (
        |  SELECT user_id, event_type AS last_type, value AS last_value,
        |    ts AS last_ts, event_id AS last_event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, last_type, last_value, last_ts, last_event_id
        |FROM latest WHERE rn = 1
        |ORDER BY user_id""".stripMargin.replace('\n', ' '),
    // session_window sessions: [first, last + gap); a new event merges
    // while strictly inside the previous window (gap >= 30 min starts a
    // new session — x9's custom operator splits only on gap > 30 min);
    // append emission once the watermark reaches the window end
    "x32_stream_session_window" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) >= 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS seq
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS session_value
        |  FROM sessions GROUP BY user_id, seq),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000
        |  AS wm_us FROM ev)
        |SELECT user_id, session_start, session_end, n_events,
        |  session_value
        |FROM agg, wm WHERE epoch_us(session_end) <= wm_us
        |ORDER BY user_id, session_start""".stripMargin.replace('\n', ' '),
    "x13_stream_enrich" -> withPipeline(
      """SELECT s.location_id, s.datetime, s.parameter, s.value, s.aqi,
        |  r.hist_max_aqi, r.n_obs, s.aqi >= r.hist_max_aqi AS is_peak
        |FROM silver s
        |JOIN (SELECT location_id, max(aqi) AS hist_max_aqi,
        |    count(aqi) AS n_obs
        |  FROM silver GROUP BY 1) r USING (location_id)
        |ORDER BY s.location_id, s.datetime, s.parameter, s.value"""
        .stripMargin.replace('\n', ' ')),
    "s5_stream_gold" -> {
      // Gold over the aqi-filtered stream (P8), cut at the watermark.
      // goldStream watermarks the hour-truncated event time, so the final
      // watermark is trunc(max event time) − 1 h and an hour is emitted
      // iff hour <= that bound (empirically: state is evicted when
      // key <= watermark — verified against Spark 4.1 at sf0.01).
      val sgold = PipelineQueries.goldSql
        .replace("FROM silver", "FROM (SELECT * FROM silver " +
          "WHERE aqi IS NOT NULL)")
      s"WITH wire AS (${EventsAdapter.wireSql}), " +
        s"bronze AS (${Bronze.sqlFromWire}), " +
        s"silver AS (${Silver.sqlFromBronze}), " +
        s"gold AS (SELECT * FROM ($sgold) WHERE datetime <= " +
        "(SELECT date_trunc('hour', max(datetime)) - INTERVAL 1 HOUR " +
        "FROM silver WHERE aqi IS NOT NULL)) " +
        PipelineQueries.goldCanonicalSql
    }
  )
}
