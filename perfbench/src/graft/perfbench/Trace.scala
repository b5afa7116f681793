package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import scala.collection.mutable

/** Traced-run collector: a `SparkListener` that files every task's metrics
  * under the job group of the phase that launched it, plus an
  * executed-plan exchange counter.
  *
  * Jobs launched from a thread pool (checkpointRound's writes), which does
  * not inherit the caller's job group, are filed under the phase whose
  * wall-clock interval contains their submission.
  */
final class Trace(spark: SparkSession) extends SparkListener {

  private final case class Task(stage: Int, runMs: Long, gcMs: Long, shufW: Long,
                                shufR: Long, spill: Long)

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val tasks = mutable.HashMap.empty[String, mutable.ArrayBuffer[Task]]
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val jobsPending = mutable.ArrayBuffer.empty[(Long, Seq[Int])]

  private var attached = false

  def attach(): Unit = if (!attached) { spark.sparkContext.addSparkListener(this); attached = true }

  def detach(): Unit = if (attached) { spark.sparkContext.removeSparkListener(this); attached = false }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Trace.Prefix)).map(_.stripPrefix(Trace.Prefix))
    g match {
      case Some(name) => e.stageIds.foreach(stageGroup.update(_, name))
      case None => jobsPending += ((e.time, e.stageIds))
    }
  }

  private val pendingTasks = mutable.ArrayBuffer.empty[Task]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      pendingTasks += Task(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled)
    }
  }

  /** Run `body` as phase `name`: one job group, one wall-clock interval. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(Trace.Prefix + name, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { intervals += ((name, t0, t1)) }
      sc.clearJobGroup()
    }
  }

  private def settle(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized {
      jobsPending.foreach { case (t, stages) =>
        intervals.find { case (_, a, b) => t >= a && t <= b }
          .foreach { case (n, _, _) => stages.foreach(stageGroup.update(_, n)) }
      }
      jobsPending.clear()
      pendingTasks.foreach { t =>
        stageGroup.get(t.stage).foreach(g => tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += t)
      }
      pendingTasks.clear()
    }
  }

  /** spark.<phase>.{shuffle_write_mb, shuffle_read_mb, spill_mb, task_skew,
    * gc_s, tasks}. Task skew is max / median task run time of the phase's
    * busiest stage (the one with the most task time); 0 without tasks.
    */
  def sparkMetrics(phase: String): Seq[(String, Double, String)] = {
    settle()
    val ts = synchronized(tasks.getOrElse(phase, mutable.ArrayBuffer.empty).toVector)
    val mb = 1024.0 * 1024.0
    val skew =
      if (ts.isEmpty) 0.0
      else {
        val busiest = ts.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum)
        val runs = busiest.map(_.runMs.toDouble).sorted
        val med = Stats.median(runs)
        if (med > 0) runs.last / med else 1.0
      }
    val p = s"spark.$phase"
    Seq((s"$p.shuffle_write_mb", ts.map(_.shufW).sum / mb, "MB"),
      (s"$p.shuffle_read_mb", ts.map(_.shufR).sum / mb, "MB"),
      (s"$p.spill_mb", ts.map(_.spill).sum / mb, "MB"),
      (s"$p.task_skew", skew, "ratio"),
      (s"$p.gc_s", ts.map(_.gcMs).sum / 1000.0, "s"),
      (s"$p.tasks", ts.size.toDouble, "count"))
  }

}

object Trace {
  private val Prefix = "perfbench:"

  /** Shuffle exchanges in `df`'s executed plan (planning only, no job). */
  def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectWithSubqueries {
      case e: ShuffleExchangeLike => e
    }.size

  /** Seconds taken by `body`, and its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** Force every column of `df` through the no-op sink. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Peak heap in use right after a garbage collection, over the sections
  * wrapped in [[HeapPeak.apply]]: the live data the engine holds while
  * rounds or passes run, independent of how far the heap has grown.
  */
object HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var on = false
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n, _) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max(_, _))
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def apply[T](body: => T): T = {
    on = true
    try body finally on = false
  }

  def mb: Double = peak.get / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
