package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.analytics.Queries
import graft.etl.{Bronze, Gold, Silver}
import graft.features.Features
import graft.io.Sinks
import graft.ml.Forecast
import graft.queries.PipelineQueries
import graft.streaming.StreamPipeline

/** The pipeline benchmark's JVM side: one `local[nproc]` session, one
  * closed-loop client. Every run drives all three paths of the system
  * (the batch medallion with forecast and OLAP, the streaming replay,
  * the registered-operator mix), because every end-to-end metric is
  * reported on every workload; the workload decides which path runs at
  * full size, last and repeated, while the others run small. Writes the
  * metrics, the check verdicts and the provenance to
  * `<work>/result.json`; run.py adds the DuckDB checks and prints the
  * final line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cores>
  *   <tablesDir>   (the operator mix's tables, `<tablesDir>/<name>.parquet`)
  */
object Main {

  /** Input sizes of one workload: `batchHours` of hourly readings for the
    * batch path, `streamFiles` two-hour backlog files, the registered
    * queries of the mix, the OLAP rounds after the pipeline's own pass and
    * the mix passes; `repeat` names the path ("olap" or "mix") that goes
    * on past its minimum until the run's --seconds have passed. */
  final case class Shape(batchHours: Int, streamFiles: Int,
      mix: Seq[String], olapRounds: Int, mixPasses: Int, repeat: String)

  val LoopOps = Seq("g1_pagerank", "g9_hits", "g15_random_walks", "g16_mis",
    "g17_closeness", "g25_betweenness", "x65_kmeans_lloyd")
  val XAnalytics = Seq("x64_rfm_segmentation", "x58_weighted_median",
    "x42_mad_outliers", "x94_decomposition_strength")
  val TextDedup = Seq("d8_duplicate_spans", "t27_quality_filter")
  val StreamRegistry = Seq("s18_fanout_sinks", "s19_checkpoint_recovery")
  val family: Map[String, String] =
    (LoopOps.map(_ -> "graph.loops") ++
      XAnalytics.map(_ -> "queries.xanalytics") ++
      TextDedup.map(_ -> "text.dedup") ++
      StreamRegistry.map(_ -> "streaming.registry")).toMap
  /** The mix of the other workload: one x-analytics query, so mix_s
    * keeps a value there while the loop, text and streaming registry
    * families stay idle. */
  val SmallMix = Seq("x94_decomposition_strength")

  val shapes: Map[String, Shape] = Map(
    "pipeline_batch" -> Shape(batchHours = 96, streamFiles = 7,
      mix = SmallMix, olapRounds = 4, mixPasses = 2, repeat = "olap"),
    "operator_mix" -> Shape(batchHours = 48, streamFiles = 7,
      mix = Seq("x65_kmeans_lloyd", "x94_decomposition_strength",
        "t27_quality_filter", "s18_fanout_sinks"),
      olapRounds = 2, mixPasses = 1, repeat = "mix"))

  val BatchFiles = 8
  val BatchStart: LocalDateTime = LocalDateTime.of(2025, 1, 1, 0, 0)
  val StreamStart: LocalDateTime = LocalDateTime.of(2025, 6, 1, 0, 0)

  /** The spans the benchmark opens around layer calls. */
  val Spans = Seq("etl.bronze", "etl.silver", "etl.gold", "features.matrix",
    "ml.train", "ml.serve", "analytics.olap", "streaming.fanout",
    "graph.loops", "queries.xanalytics", "text.dedup", "streaming.registry")

  final class Ops {
    var attempted = 0L; var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def apply[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch {
        case t: Throwable =>
          failed += 1; failures += s"$what: ${t.getClass.getName}: ${t.getMessage}"
          System.err.println(s"[perfbench] FAILED $what: $t")
          None
      }
    }
    def check(what: String)(ok: => Boolean): Unit =
      apply(what)(if (!ok) throw new IllegalStateException(s"$what: false"))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, coresS, tablesS) =
      args
    val shape = shapes(workload)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val cores = coresS.toInt
    Jvm.watchHeap()

    val conf = sessionConf(cores, work)
    val spark = session(conf)
    val sc = spark.sparkContext
    val ops = new Ops
    val gen = mutable.LinkedHashMap.empty[String, Any]

    // ---- set-up: inputs and a small-slice warm-up
    log("session ready")
    val wireDir = work.resolve("wire")
    val batchCounts = WireGen.writeBatch(seed, wireDir, BatchStart,
      shape.batchHours, BatchFiles)
    val streamIn = work.resolve("stream_in")
    val streamCounts = WireGen.writeStream(seed, streamIn,
      work.resolve("stream_ontime"), StreamStart, shape.streamFiles)
    val tablesDir = Paths.get(tablesS).toAbsolutePath
    log("inputs generated")
    warmUp(spark, wireDir)
    val setupS = uptimeS()
    log("warm-up done")
    gen("batch") = batchCounts.toMap + ("hours" -> shape.batchHours.toLong) +
      ("stations" -> WireGen.NStations.toLong) + ("files" -> BatchFiles.toLong)
    gen("stream") = streamCounts.toMap +
      ("files" -> shape.streamFiles.toLong) + ("hours_per_file" -> 2L)
    gen("shares") = Map("null_datetime" -> WireGen.NullDatetimeShare,
      "negative_value" -> WireGen.NegativeShare,
      "nan_value" -> WireGen.NanShare,
      "unknown_pollutant" -> WireGen.UnknownShare,
      "within_watermark" -> WireGen.WithinWatermarkShare,
      "late_beyond_watermark" -> WireGen.LateShare)

    // ---- the measured pass; with --trace 1 the same pass with spans
    val tracer = new Tracer(sc, enabled = trace)
    val run = measure(spark, shape, seconds, work, wireDir, streamIn,
      tablesDir, ops, tracer)
    val e2e = run.endToEnd + ("setup_s" -> setupS) +
      ("peak_heap_mb" -> Jvm.peakHeapMb)
    tracer.drain()
    val counters = Map("jobs" -> tracer.totalJobs.sum,
      "tasks" -> tracer.totalTasks.sum,
      "shuffle_bytes" -> tracer.totalShuffleBytes.sum,
      "wire_rows" -> batchCounts.rows, "stream_rows" -> streamCounts.rows,
      "gold_rows" -> run.layerCounts.getOrElse("gold", 0L))

    // ---- checks that need the JVM (outside every timed window)
    ops.check(s"forecast rmse ${run.rmse} < persistence ${run.persistenceRmse}") {
      run.rmse < run.persistenceRmse
    }
    ops.check(s"late rows dropped ${run.lateDropped} == generated " +
        s"late station-hours ${streamCounts.lateGroups}") {
      run.lateDropped == streamCounts.lateGroups
    }
    log("checks done")

    // ---- per-layer metrics of a traced pass, then the local[1] baseline
    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    var finalSpark = spark
    if (trace) {
      Spans.foreach { n =>
        tracer.stats(n).toMetrics(n).foreach { case (k, v, u) =>
          perLayer(k) = (v, u)
        }
      }
      perLayer("analytics.jobs_per_query") = (tracer.stats("analytics.olap")
        .jobs.sum / run.layers("analytics.olap_queries"), "count")
      run.layers.foreach { case (k, v) =>
        if (!k.startsWith("analytics.first_pass") &&
            k != "analytics.olap_queries") perLayer(k) = (v, layerUnit(k))
      }
      tracer.close()
      spark.stop()
      finalSpark = session(conf + ("spark.master" -> "local[1]"))
      val t0 = System.nanoTime()
      etl(finalSpark, wireDir, work.resolve("local1"), ops, new Tracer(
        finalSpark.sparkContext, enabled = false))
      perLayer("etl.local1_s") = ((System.nanoTime() - t0) / 1e9, "s")
    } else tracer.close()

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload); out.put("seed", seed)
    out.put("seconds", seconds); out.put("trace", trace)
    out.put("end_to_end", e2e.map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> e2eUnit(k)).asJava }.asJava)
    out.put("per_layer", perLayer.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u).asJava }.asJava)
    out.put("samples", run.samples.asJava)
    out.put("attempted", ops.attempted); out.put("failed", ops.failed)
    out.put("failures", ops.failures.asJava)
    out.put("generator", toJava(gen))
    out.put("counters", counters.asJava)
    out.put("spark_conf", conf.asJava)
    out.put("layers_dir", run.layersDir.toString)
    out.put("mix_dir", run.mixDir.toString)
    out.put("tables_dir", tablesDir.toString)
    out.put("sql", Map("bronze" -> Bronze.sqlFromWire,
      "silver" -> Silver.sqlFromBronze,
      "gold" -> PipelineQueries.goldSql).asJava)
    out.put("layer_counts", run.layerCounts.asJava)
    out.put("forecast", Map("rmse" -> run.rmse,
      "persistence_rmse" -> run.persistenceRmse).asJava)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter()
      .writeValue(work.resolve("result.json").toFile, out)
    finalSpark.stop()
    removeRegistryScratch(tablesDir.toString)
  }

  /** The streaming registry entries keep per-table-dir scratch outside
    * any directory they are given (`/tmp/graft_stream_<key>` and
    * `graft_recovery_halves_<key>_*` under StreamPipeline.scratchRoot);
    * remove what this run's tables left there. */
  def removeRegistryScratch(tablesDir: String): Unit = {
    val key = tablesDir.hashCode.toHexString
    Fs.delete(Paths.get(s"/tmp/graft_stream_$key"))
    val all = Files.list(StreamPipeline.scratchRoot())
    try all.iterator.asScala.filter(_.getFileName.toString
      .startsWith(s"graft_recovery_halves_${key}_")).foreach(Fs.delete)
    finally all.close()
  }

  /** Phase marks on stderr (the JVM log), with JVM uptime. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${uptimeS()}%8.2f s $what")

  private def toJava(x: Any): Any = x match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => k.toString -> toJava(v) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case v => v
  }

  def e2eUnit(k: String): String = k match {
    case "setup_s" | "pipeline_s" | "forecast_s" | "mix_s" => "s"
    case "ingest_rows_per_s" | "stream_rows_per_s" => "rows/s"
    case "peak_heap_mb" => "MB"
    case _ => "ms"
  }

  def layerUnit(k: String): String =
    if (k.endsWith("_rows") || k.endsWith("_files") || k.endsWith("batches") ||
        k.endsWith("_dropped"))
      "count"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_yield")) "ratio"
    else "s"

  // ------------------------------------------------------------ session

  /** graft.Bench's session settings with cores = nproc; scratch inside
    * the work directory; progress history long enough to keep every
    * micro-batch of a drain. */
  def sessionConf(cores: Int, work: Path): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.expr.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "15s",
    "spark.local.dir" -> work.resolve("spark_local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")

  def session(conf: Map[String, String]): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ measure

  final case class Run(endToEnd: Map[String, Double],
      layers: Map[String, Double], samples: Map[String, Any],
      layerCounts: Map[String, Long], rmse: Double, persistenceRmse: Double,
      lateDropped: Long, layersDir: Path, mixDir: Path)

  def measure(spark: SparkSession, shape: Shape, seconds: Double, work: Path,
      wireDir: Path, streamIn: Path, tablesDir: Path, ops: Ops,
      tr: Tracer): Run = {
    def until(path: String): Long =
      if (shape.repeat == path) System.nanoTime() + (seconds * 1e9).toLong
      else 0L
    val batchDir = work.resolve("batch")
    val streamDir = work.resolve("stream")
    val mixDir = work.resolve("mix")
    // the small paths warm the JVM for the stream drain; the full-size
    // path runs last, on the warmest JVM
    val order = if (shape.repeat == "olap") Seq("mix", "stream", "batch")
      else Seq("batch", "stream", "mix")
    var b: BatchResult = null; var o: OlapResult = null
    var s: StreamResult = null; var m: MixResult = null
    order.foreach { path =>
      path match {
        case "stream" => s = runStream(spark, streamIn, streamDir, ops, tr)
        case "mix" => m = runMix(spark, shape.mix, tablesDir, mixDir, ops,
          tr, shape.mixPasses, until("mix"))
        case "batch" =>
          b = runBatch(spark, wireDir, batchDir, ops, tr)
          o = runOlap(b, ops, tr, shape.olapRounds, until("olap"))
      }
      log(s"$path done")
    }
    Run(b.metrics ++ o.metrics ++ s.metrics ++ m.metrics,
      b.layers ++ o.layers ++ s.layers ++ m.layers,
      b.samples ++ o.samples ++ s.samples ++ m.samples, b.counts, b.rmse,
      b.persistenceRmse, s.lateDropped, batchDir, mixDir)
  }

  /** Runs `body` `min` times, then again while `deadline` (a nanoTime)
    * is ahead. */
  def repeat(min: Int, deadline: Long)(body: => Unit): Unit = {
    (1 to min).foreach(_ => body)
    while (System.nanoTime() < deadline) body
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Small-slice warm-up: the first 500 lines of one wire file through
    * parse, Bronze, Silver and Gold into the noop sink, which loads the
    * reader, codegen and shuffle machinery every path shares. */
  def warmUp(spark: SparkSession, wireDir: Path): Unit = {
    val first = Files.list(wireDir).iterator.asScala.toSeq.minBy(_.toString)
    val raw = spark.read.text(first.toString).limit(500)
    noop(Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(
      Bronze.parseWire(raw)))))
  }

  // ------------------------------------------------------------ batch path

  final case class Layers(bronze: DataFrame, silver: DataFrame,
      gold: DataFrame, goldRows: Long)

  /** Wire JSON lines → Bronze → Silver → Gold in BatchPipeline.run's
    * order, each layer written and re-read: Bronze and Silver by the
    * next layer's write, Gold by a count inside its span. */
  def etl(spark: SparkSession, wireDir: Path, out: Path, ops: Ops,
      tr: Tracer): Option[Layers] = ops("etl") {
    val raw = spark.read.text(wireDir.toString)
    tr.span("etl.bronze") {
      Sinks.writePartitioned(Bronze.fromWire(Bronze.parseWire(raw)),
        s"$out/bronze")
    }
    val bronze = spark.read.parquet(s"$out/bronze")
    tr.span("etl.silver") {
      Sinks.writePartitioned(Silver.fromBronze(bronze), s"$out/silver")
    }
    val silver = spark.read.parquet(s"$out/silver")
    val (gold, goldRows) = tr.span("etl.gold") {
      Sinks.writePartitioned(Gold.fromSilver(silver), s"$out/gold")
      val gold = spark.read.parquet(s"$out/gold")
      (gold, gold.count())
    }
    Layers(bronze, silver, gold, goldRows)
  }

  val olapQueries: Seq[(String, Layers => DataFrame)] = Seq(
    "layerStats" -> (l => Queries.layerStats(l.silver)),
    "countryStats" -> (l => Queries.countryStats(l.gold)),
    "dataQuality" -> (l => Queries.dataQuality(l.bronze)),
    "yearlyCounts" -> (l => Queries.yearlyCounts(l.silver)),
    "parameterDistribution" -> (l => Queries.parameterDistribution(l.silver)),
    "stationInventory" -> (l => Queries.stationInventory(l.silver)),
    "aliveStations" -> (l => Queries.aliveStations(l.silver)),
    "countryLive" -> (l => Queries.countryLive(l.silver)),
    "stationMaxAqi" -> (l => Queries.stationMaxAqi(l.silver)),
    "parameterSets" -> (l => Queries.parameterSets(l.gold)),
    "latestTopN" -> (l => Queries.latestTopN(l.silver)),
    "latestPerLocation" -> (l => Queries.latestPerLocation(l.silver)),
    "exportSorted" -> (l => Queries.exportSorted(l.silver)))

  final case class BatchResult(metrics: Map[String, Double],
      layers: Map[String, Double], samples: Map[String, Any],
      counts: Map[String, Long], rmse: Double, persistenceRmse: Double,
      committed: Option[Layers])

  /** One OLAP pass: each query's plan forced (traced runs only, timed as
    * plan_ms) and its result written to the noop sink; returns ms per
    * query. */
  def olapPass(l: Layers, ops: Ops, tr: Tracer,
      planMs: mutable.ArrayBuffer[Double]): Seq[Double] =
    olapQueries.flatMap { case (name, q) =>
      ops(s"olap $name") {
        tr.span("analytics.olap") {
          val t = System.nanoTime()
          val df = q(l)
          if (tr.enabled) {
            df.queryExecution.executedPlan
            planMs += (System.nanoTime() - t) / 1e6
          }
          noop(df)
          (System.nanoTime() - t) / 1e6
        }
      }
    }

  /** The batch job: wire records to served predictions plus one OLAP
    * pass over the committed layers. */
  def runBatch(spark: SparkSession, wireDir: Path, out: Path, ops: Ops,
      tr: Tracer): BatchResult = {
    val wireRows = Files.list(wireDir).iterator.asScala.map(p =>
      Files.lines(p).count()).sum
    val t0 = System.nanoTime()
    val layers = etl(spark, wireDir, out, ops, tr)
    val ingestS = (System.nanoTime() - t0) / 1e9
    var rmse = Double.NaN; var persistence = Double.NaN
    // features → train → metrics → serve; the persistence baseline is a
    // check and runs after the timing, on the cached test predictions
    val forecast = layers.flatMap { l =>
      ops("forecast") {
        secs {
          // a lazy plan: its windows execute inside training
          val matrix = tr.span("features.matrix") {
            Features.featureMatrix(l.gold)
          }
          val (model, predictions) = tr.span("ml.train") {
            val (model, p) = Forecast.train(matrix, maxIter = ForecastTrees)
            p.cache()
            rmse = Forecast.metrics(p)("rmse")
            (model, p)
          }
          tr.span("ml.serve") {
            noop(Forecast.serve(model, Features.inferenceFeatures(l.gold)))
          }
          predictions
        }
      }
    }
    val forecastS = forecast.map(_._2).getOrElse(0.0)
    forecast.foreach { case (predictions, _) =>
      persistence = Forecast.persistenceRmse(predictions)
      predictions.unpersist()
    }
    val planMs = mutable.ArrayBuffer.empty[Double]
    val firstPass = layers.map(olapPass(_, ops, tr, planMs)).getOrElse(Nil)
    val pipelineS = ingestS + forecastS + firstPass.sum / 1000
    // the Bronze and Silver counts are for the checks, after the timing
    val counts = layers.map(l => Map("bronze" -> l.bronze.count(),
      "silver" -> l.silver.count(), "gold" -> l.goldRows))
      .getOrElse(Map.empty)
    val (bb, _) = Fs.parquetSize(out.resolve("bronze"))
    val (sb, _) = Fs.parquetSize(out.resolve("silver"))
    val (gb, gf) = Fs.parquetSize(out.resolve("gold"))
    val c = counts.withDefaultValue(0L)
    BatchResult(
      Map("pipeline_s" -> pipelineS,
        "ingest_rows_per_s" -> wireRows / ingestS,
        "forecast_s" -> forecastS),
      Map("etl.bronze_rows" -> c("bronze").toDouble,
        "etl.silver_rows" -> c("silver").toDouble,
        "etl.gold_rows" -> c("gold").toDouble,
        "etl.silver_yield" -> c("silver").toDouble / c("bronze"),
        "io.bronze_bytes" -> bb.toDouble, "io.silver_bytes" -> sb.toDouble,
        "io.gold_bytes" -> gb.toDouble, "io.gold_files" -> gf.toDouble,
        "analytics.first_pass_plan_ms" -> planMs.sum,
        "analytics.first_pass_queries" -> firstPass.size.toDouble),
      Map("wire_rows" -> wireRows),
      counts, rmse, persistence, layers)
  }

  final case class OlapResult(metrics: Map[String, Double],
      layers: Map[String, Double], samples: Map[String, Any])

  /** OLAP rounds repeated over the committed Silver and Gold after the
    * pipeline's own pass; latency percentiles come from these rounds. */
  def runOlap(b: BatchResult, ops: Ops, tr: Tracer, minRounds: Int,
      deadline: Long): OlapResult = {
    val ms = mutable.ArrayBuffer.empty[Double]
    val planMs = mutable.ArrayBuffer.empty[Double]
    b.committed.foreach { l =>
      repeat(minRounds, deadline)(ms ++= olapPass(l, ops, tr, planMs))
    }
    val queries = ms.size + b.layers("analytics.first_pass_queries")
    OlapResult(
      Map("olap_p50_ms" -> median(ms.toSeq),
        "olap_p90_ms" -> pct(ms.toSeq, 0.9)),
      Map("analytics.plan_ms" ->
          (planMs.sum + b.layers("analytics.first_pass_plan_ms")) / queries,
        "analytics.olap_queries" -> queries),
      Map("olap_samples" -> ms.size))
  }

  /** Trees of the forecaster: the reference trains 5000 boosting rounds
    * on 2-4 CPU hours; a benchmark run affords a handful. */
  val ForecastTrees = 3

  // ------------------------------------------------------------ streaming

  final case class StreamResult(metrics: Map[String, Double],
      layers: Map[String, Double], samples: Map[String, Any],
      lateDropped: Long)

  /** Drains the backlog through StreamPipeline.startAll, one file per
    * trigger, AvailableNow. Phase times come from the queries' own
    * progress reports (bronze, silver, gold in startAll's order). */
  def runStream(spark: SparkSession, inDir: Path, out: Path, ops: Ops,
      tr: Tracer): StreamResult = {
    val rows = Files.list(inDir).iterator.asScala.map(p =>
      Files.lines(p).count()).sum
    val drained = ops("stream drain") {
      tr.span("streaming.fanout") {
        val raw = spark.readStream.option("maxFilesPerTrigger", "1")
          .text(inDir.toString)
        val t = System.nanoTime()
        val qs = StreamPipeline.startAll(spark,
          Bronze.parseWire(raw, "value"), out.resolve("out").toString,
          out.resolve("ckpt").toString, Some(Trigger.AvailableNow()))
        qs.foreach(_.awaitTermination())
        (rows / ((System.nanoTime() - t) / 1e9),
          qs.map(_.recentProgress.toSeq))
      }
    }
    val rate = drained.map(_._1).getOrElse(0.0)
    val progress = drained.map(_._2).getOrElse(Seq.fill(3)(Seq.empty))
    def data(i: Int) = progress(i).filter(_.numInputRows > 0)
    def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
      ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
    val goldMs = dur(data(2), "triggerExecution")
    val state = data(2).flatMap(_.stateOperators)
    val late = progress(2).flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    def maxOf(xs: Seq[Double]) = xs.maxOption.getOrElse(0.0)
    StreamResult(
      Map("stream_rows_per_s" -> rate,
        "batch_p50_ms" -> median(goldMs),
        "batch_p90_ms" -> pct(goldMs, 0.9)),
      Map("streaming.batches" -> progress(2).size.toDouble,
        "streaming.bronze_batch_ms" -> median(dur(data(0), "triggerExecution")),
        "streaming.silver_batch_ms" -> median(dur(data(1), "triggerExecution")),
        "streaming.gold_batch_ms" -> median(goldMs),
        "streaming.add_batch_ms" -> median(dur(data(2), "addBatch")),
        "streaming.wal_commit_ms" -> median(dur(data(2), "walCommit")),
        "streaming.query_planning_ms" ->
          median(dur(data(2), "queryPlanning")),
        "streaming.state_rows" -> maxOf(state.map(_.numRowsTotal.toDouble)),
        "streaming.state_bytes" ->
          maxOf(state.map(_.memoryUsedBytes.toDouble)),
        "streaming.state_commit_ms" ->
          median(state.map(_.commitTimeMs.toDouble)),
        "streaming.late_rows_dropped" -> late.toDouble,
        "io.stream_files" -> Fs.parquetSize(out.resolve("out"))._2.toDouble),
      Map("gold_batches" -> goldMs.size, "stream_rows" -> rows),
      late)
  }

  // ------------------------------------------------------------ operator mix
  final case class MixResult(metrics: Map[String, Double],
      layers: Map[String, Double], samples: Map[String, Any])

  /** Registered queries resolved through SparkEntry.queries. Each query
    * first runs once untimed and its result is written to parquet for the
    * oracle compare; this pass takes the cold start. Then the queries are
    * timed into the noop sink, `minPasses` passes and more until the
    * deadline, so every timed pass is a warm one. */
  def runMix(spark: SparkSession, names: Seq[String], tablesDir: Path,
      out: Path, ops: Ops, tr: Tracer, minPasses: Int,
      deadline: Long): MixResult = {
    val d = tablesDir.toString
    val sc = spark.sparkContext
    var peakStorage = 0L
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, d)
    def timed(name: String): Option[Double] = ops(s"mix $name") {
      val fam = family(name)
      def call() = tr.span(fam)(secs(noop(query(name)))._2)
      val s = if (tr.enabled && fam == "graph.loops") {
        val (s, peak) = StoragePeak.during(sc)(call())
        peakStorage = math.max(peakStorage, peak)
        s
      } else call()
      spark.catalog.clearCache()
      s
    }
    Files.createDirectories(out)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      out.resolve("oracle_sql.json").toFile,
      names.map(n => n -> SparkEntry.oracleSql(n)).toMap.asJava)
    names.foreach { n =>
      ops(s"mix $n result") {
        query(n).write.mode("overwrite").parquet(out.resolve(n).toString)
        spark.catalog.clearCache()
      }
    }
    val samples = names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    repeat(minPasses, deadline) {
      names.foreach(n => timed(n).foreach(samples(n) += _))
    }
    val med = names.map(n => n -> median(samples(n).toSeq)).toMap
    MixResult(
      Map("mix_s" -> med.values.sum,
        "mix_geomean_ms" -> math.exp(med.values.map(v =>
          math.log(v * 1000)).sum / med.size)),
      Map("graph.peak_storage_bytes" -> peakStorage.toDouble),
      Map("mix_passes" -> samples.values.map(_.size).min,
        "mix_median_s" -> med.asJava))
  }

  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}
