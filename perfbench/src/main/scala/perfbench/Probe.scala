package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts for one job group: what Spark's scheduler and SQL layer did while
  * the harness had that group set.
  */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var scans = 0L
  var peakCachedBytes = 0L
  var wallS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var compileS = 0.0
}

/** One traced interval around a call into a layer, with the codegen
  * compile seconds inside it.
  */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: String, run: Int, compileS: Double)

/** Listener-backed measurement: scheduler metrics per job group, file scans
  * per executed plan, and the bytes of RDD blocks in the block store. The
  * harness sets the group itself (`sc.setJobGroup`) around each call, so no
  * program code is involved.
  */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val sc = spark.sparkContext
  private val groups = mutable.Map.empty[String, Tally]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val blocks = mutable.Map.empty[(String, String), Long]
  private var cached = 0L
  private var peak = 0L
  // QueryExecutionListener events carry no job group; the harness drains
  // the bus before it switches groups, so this label is always current.
  @volatile private var sqlGroup = ""
  val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def counts(g: String): Tally = groups.getOrElseUpdate(g, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counts(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val c = counts(stageGroup.getOrElse(info.stageId, ""))
      c.stages += 1
      c.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = (b.blockManagerId.executorId, b.blockId.name)
        val before = blocks.getOrElse(key, 0L)
        val now =
          if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        if (now == 0L) blocks.remove(key) else blocks(key) = now
        cached += now - before
        peak = math.max(peak, cached)
      }
    }

  // Spark drops an unpersisted RDD's blocks without a block update
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      val prefix = s"rdd_${e.rddId}_"
      blocks.keys.filter(_._2.startsWith(prefix)).toSeq.foreach { k =>
        cached -= blocks.remove(k).getOrElse(0L)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    counts(sqlGroup).scans += Probe.fileScans(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def drain(): Unit = PerfbenchBus.drain(sc)

  /** Run `body` under job group `group`, returning its result and the
    * counts it produced. Wall, GC and codegen time are taken around the
    * call; the bus is drained on both sides so no event leaks across.
    */
  def measure[T](group: String)(body: => T): (T, Tally) = {
    drain()
    synchronized { groups.remove(group); peak = cached }
    sqlGroup = group
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val gc0 = Probe.gcSeconds
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cpu0 = Probe.cpuSeconds
    val t0 = System.nanoTime()
    val out =
      try body
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        drain()
        sqlGroup = ""
        synchronized {
          val c = counts(group)
          c.wallS = (t1 - t0) / 1e9
          c.cpuS = Probe.cpuSeconds - cpu0
          c.gcS = Probe.gcSeconds - gc0
          c.compileS = Probe.compileSeconds(cc0)
          c.peakCachedBytes = peak
        }
      }
    (out, synchronized(groups(group)))
  }

  /** [[measure]] that also records a span. */
  def span[T](name: String, parent: String, run: Int)(body: => T): (T, Tally) = {
    val t0 = System.nanoTime()
    val r = measure(s"$name#$run")(body)
    spans += Span(name, t0, System.nanoTime(), parent, run, r._2.compileS)
    r
  }
}

object Probe {

  /** File-scan nodes in an executed plan: adaptive plans contribute their
    * final plan, reused exchanges are not scanned again.
    */
  def fileScans(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case _: ReusedExchangeExec => 0L
    case _: FileSourceScanExec | _: BatchScanExec => 1L
    case other =>
      (other.children ++ other.subqueries).map(fileScans).sum
  }

  /** CPU time of every thread of this process, JIT and GC included. */
  def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Spark's codegen histogram keeps a sample, not a sum: compilations
    * since `count0` times the sampled mean (ms) estimates the time spent.
    */
  def compileSeconds(count0: Long): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount - count0) * h.getSnapshot.getMean / 1e3
  }

  /** Run `body` while a sampler looks, once a second, for a thread other
    * than the caller and Spark's task threads that is executing a class
    * whose name starts with `prefix`. True when one was seen: the program
    * moved that work off the calling thread. Stacks are taken one thread
    * at a time, so the sampler never stops the whole JVM.
    */
  def offThread[T](prefix: String)(body: => T): (T, Boolean) = {
    val caller = Thread.currentThread
    var root = caller.getThreadGroup
    while (root.getParent != null) root = root.getParent
    @volatile var seen = false
    val sampler = new Thread(() =>
      try while (!seen) {
        val threads = new Array[Thread](root.activeCount * 2 + 16)
        seen = threads.take(root.enumerate(threads, true)).exists { t =>
          t != caller && t != Thread.currentThread &&
            !t.getName.startsWith("Executor task launch") &&
            t.getStackTrace.exists(_.getClassName.startsWith(prefix))
        }
        Thread.sleep(1000)
      } catch { case _: InterruptedException => () },
      "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
    // interrupted, the sampler stops at once instead of finishing its sleep
    val r = try body finally { sampler.interrupt(); sampler.join() }
    (r, seen)
  }

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakBytes: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
}
