package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every graft main and the test
  * suite share, and the inter-query sweep of the long-running harnesses
  * (Bench, Verify, Profile). */
object Session {

  /** Local cores, `local[n]` and `shuffle.partitions`: SPARK_GRAFT_CPUS,
    * 32 when unset. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** SPARK_GRAFT_ONLY: an optional comma-separated query-name filter for
    * iterating on specific queries (Bench, Verify, RoundingAudit). */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)

  /** Spark's generated-class cache holds 100 entries by default (static
    * conf, spark.sql.codegen.cache.maxEntries). One bench pass compiles
    * a multiple of that across 360+ queries, so by the time pass 2
    * reaches a query its classes are evicted and EVERY SAMPLE pays
    * janino compile + fresh JIT again (measured r14: rrf1 8.0 s on both
    * passes vs 1.4 s with warm code — the cost is compilation, not
    * data). Sizing the cache to the surface makes pass 2+ and the
    * dispersion re-runs measure the QUERY, not the compiler. This caches
    * compiled code keyed on generated source — results are still
    * computed from parquet on every invocation. Same knob a long-lived
    * production driver (Thrift server) would set. */
  private val CodegenCacheEntries = "4000"

  /** /dev/shm fill (MB) above which the sweep's GC throttle is
    * bypassed: tmpfs shuffle litter is RAM the ContextCleaner can only
    * return after a collection, and letting it ride to heap pressure is
    * exactly the residual pass-2 contamination pattern (round-14). */
  private val ShmGcMb = 4096L

  /** Shuffle/spill files on tmpfs when available: at bench scale they
    * are small, and it removes disk-contention noise from a shared
    * machine (round-1 bench runs saw 8-37x inflation consistent with
    * slow /tmp). */
  private def localDir: Option[java.nio.file.Path] = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) Some(shm.resolve("graft_spark_local"))
    else None
  }

  /** The session conf for `cores` local cores, in builder order. */
  def conf(cores: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // testdata events.ts was TIMESTAMP(NANOS) in early rounds: read as
    // long nanos (EventsAdapter normalizes every physical type)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.expr.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries,
    // Stopped streaming queries' state-store providers hold their
    // last-version maps until the maintenance thread notices the query
    // is gone; with ~25 streaming replays per pass, the default 60 s
    // sweep lets tens of store instances linger — sweep more often so
    // their memory returns promptly.
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "15s") ++
    localDir.map(d => "spark.local.dir" -> d.toString)

  /** Build (or join) the session for `cores` local cores. */
  def build(cores: String = cpus): SparkSession = {
    localDir.foreach(Files.createDirectories(_))
    val builder = SparkSession.builder()
    conf(cores).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The inter-query sweep and util.Checkpoints.free unpersist
    // locally-checkpointed RDDs that are finished by design; Spark warns
    // per RDD, and thousands of stderr lines risk interleaving into a
    // bounded output capture around Bench's final JSON line.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Whole-tmpfs fill of /dev/shm in MB (statfs — O(1); measures the
    * host view, which is what matters: other tenants' fill slows our
    * writes too). -1 when unavailable. */
  def shmUsedMb(): Long =
    try {
      val fs = Files.getFileStore(Paths.get("/dev/shm"))
      (fs.getTotalSpace - fs.getUsableSpace) >> 20
    } catch { case _: Throwable => -1L }

  /** The post-query litter sweep; call it OUTSIDE every timed window.
    * clearCache/unpersist release the finished query's frames, but
    * BROADCASTS and SHUFFLE FILES are freed only when the weak-ref
    * ContextCleaner sees them collected — and spark.local.dir sits on
    * /dev/shm, so hundreds of queries' shuffle litter accumulates IN RAM
    * until a full GC happens to run (observed: mid-alphabet queries 2-3x
    * their solo times with disp ~1, both passes agreeing — contamination,
    * not variance). A time-throttled System.gc() (at most ~1/min, or
    * when /dev/shm passes [[ShmGcMb]]) gives the cleaner its collection
    * point at a bounded, untimed cost instead of waiting for heap
    * pressure. */
  def sweeper(spark: SparkSession): () => Unit = {
    var lastGcNs = System.nanoTime()
    () =>
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        if (System.nanoTime() - lastGcNs > 60e9.toLong ||
            shmUsedMb() > ShmGcMb) {
          System.gc()
          lastGcNs = System.nanoTime()
        }
      } catch { case _: Throwable => () }
  }
}
