package graft.tools

import java.nio.file.{Files, Paths}

/** Measurement harness for the optimization rounds (guide §1): times
  * registered queries through the NOOP SINK — which materializes every
  * column of every row, unlike count(), whose result the optimizer can
  * prune toward — and optionally dumps each query's formatted physical
  * plan to a file so before/after plan shapes can be committed as
  * evidence (plans/r14/).
  *
  * Not part of the driver contract; Bench.scala (count()-timed, the
  * methodology every prior round's numbers were taken with) remains
  * the judged artifact's source.
  *
  * Usage: Profile <sfDir> <reps> <name>[,<name>...]
  *   SPARK_GRAFT_CPUS          cores (default 32, as for every main)
  *   SPARK_GRAFT_PLAN_DIR      if set, write <dir>/<name>.txt formatted plan
  * Each rep prints its wall seconds with the jobs, stages, tasks, task
  * time and shuffle bytes it ran.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val spark = graft.Session.build()
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    // Per-rep job attribution (guide §1.1 empirical loop, stand-in for
    // the Stages tab in a UI-less sandbox): counts jobs and sums job
    // wall / task time / shuffle bytes between reps, so a query's
    // seconds decompose into "many small jobs" vs "few big".
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobMs = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val t0s = new java.util.concurrent.ConcurrentHashMap[
          Int, Long]()
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          t0s.put(e.jobId, System.nanoTime())
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          jobs.incrementAndGet()
          Option(t0s.remove(e.jobId)).foreach(t0 =>
            jobMs.addAndGet((System.nanoTime() - t0) / 1000000L))
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler
              .SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          taskMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
          shufRead.addAndGet(
            e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })
    def snapAttrib(): String =
      f" jobs=${jobs.getAndSet(0)}%d" +
        f" jobMs=${jobMs.getAndSet(0)}%d" +
        f" stages=${stages.getAndSet(0)}%d" +
        f" tasks=${tasks.getAndSet(0)}%d" +
        f" taskMs=${taskMs.getAndSet(0)}%d" +
        f" shufR=${shufRead.getAndSet(0) >> 10}%dK" +
        f" shufW=${shufWrite.getAndSet(0) >> 10}%dK"
    // same inter-query hygiene as Bench: drop finished frames so a rep
    // measures the query, not the previous rep's litter
    val sweep = graft.Session.sweeper(spark)
    names.foreach { n =>
      val fn = SparkEntryLookup.queries(n)
      planDir.foreach { d =>
        val df = fn(spark, sfDir)
        Files.writeString(Paths.get(d, s"$n.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      val ts = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$n rep $i")
        snapAttrib() // reset counters at rep start
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        Thread.sleep(200) // let the async listener bus drain
        println(f"  [$n rep $i] $t%6.2f s${snapAttrib()}")
        sweep()
        t
      }
      println(f"$n%-36s " +
        ts.map(t => f"$t%7.2f").mkString(" ") +
        f"  min=${ts.min}%.2f")
    }
    spark.stop()
  }
}

/** Indirection so Profile compiles without a hard import cycle. */
private object SparkEntryLookup {
  def queries = graft.SparkEntry.queries ++ graft.SparkEntry.benchOverrides
}
