package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one span: wall time, Spark work attributed to it through
  * the job's `perfbench.span` local property, and JVM GC time. */
final class SpanStats {
  val wallNs, jobs, tasks, cpuNs, shuffleBytes, spillBytes, gcMs =
    new LongAdder
  def toMetrics(name: String): Seq[(String, Double, String)] = Seq(
    (s"$name.s", wallNs.sum / 1e9, "s"),
    (s"$name.jobs", jobs.sum.toDouble, "count"),
    (s"$name.tasks", tasks.sum.toDouble, "count"),
    (s"$name.task_cpu_ms", cpuNs.sum / 1e6, "ms"),
    (s"$name.shuffle_bytes", shuffleBytes.sum.toDouble, "bytes"),
    (s"$name.spill_bytes", spillBytes.sum.toDouble, "bytes"),
    (s"$name.gc_ms", gcMs.sum.toDouble, "ms"))
}

/** One SparkListener for the whole run. It always keeps run totals
  * (jobs, tasks, shuffle bytes: counts that do not depend on the host);
  * with tracing on, [[span]] also tags the jobs a layer call submits and
  * the listener adds their stage metrics to that span. */
final class Tracer(sc: SparkContext, val enabled: Boolean)
    extends SparkListener {
  val Prop = "perfbench.span"
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val totalJobs, totalTasks, totalShuffleBytes = new LongAdder
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    totalJobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .foreach { name =>
        stats(name).jobs.increment()
        e.stageIds.foreach(stageSpan.put(_, name))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    totalTasks.add(si.numTasks)
    if (m != null) totalShuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
    Option(stageSpan.remove(si.stageId)).foreach { name =>
      val st = stats(name)
      st.tasks.add(si.numTasks)
      if (m != null) {
        st.cpuNs.add(m.executorCpuTime)
        st.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        st.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def stats(name: String): SpanStats =
    spans.computeIfAbsent(name, _ => new SpanStats)

  /** Runs `body` as span `name`. Off: runs it bare. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      sc.setJobGroup(name, name)
      sc.setLocalProperty(Prop, name)
      val gc0 = Jvm.gcMs()
      val t0 = System.nanoTime()
      try body
      finally {
        val st = stats(name)
        st.wallNs.add(System.nanoTime() - t0)
        st.gcMs.add(Jvm.gcMs() - gc0)
        sc.setLocalProperty(Prop, null)
        sc.clearJobGroup()
      }
    }

  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(sc)

  def close(): Unit = sc.removeSparkListener(this)
}

/** JVM-wide GC time and the peak heap left after a collection. */
object Jvm {
  private val peakAfterGc = new AtomicLong(0L)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Tracks the heap in use right after every collection (the
    * collection-usage peak): live data plus what the collector kept. */
  def watchHeap(): Unit = {
    val listener: NotificationListener = (n, _) =>
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getName).toSet
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakAfterGc.accumulateAndGet(after, math.max)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  def peakHeapMb: Double = peakAfterGc.get / (1024.0 * 1024.0)
}

/** Samples the storage memory Spark holds for cached and checkpointed
  * RDD blocks while `body` runs; returns the peak in bytes. */
object StoragePeak {
  def during[T](sc: SparkContext)(body: => T): (T, Long) = {
    val peak = new AtomicLong(0L)
    @volatile var running = true
    val t = new Thread(() => while (running) {
      val used = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      peak.accumulateAndGet(used, math.max)
      Thread.sleep(20)
    })
    t.setDaemon(true); t.start()
    val v = try body finally { running = false; t.join() }
    (v, peak.get)
  }
}
