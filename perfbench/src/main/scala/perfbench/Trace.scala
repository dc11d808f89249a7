package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.PerfbenchShim
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Job group of one op phase: `pb:<op id>:<phase>`. Spark copies the
  * thread-local group into every job and SQL execution the phase
  * starts, so events reach the op that caused them, whichever thread
  * delivers them. */
object Group {
  def apply(opId: Int, phase: String): String = s"pb:$opId:$phase"
  def unapply(g: String): Option[(Int, String)] = g.split(':') match {
    case Array("pb", id, phase) => id.toIntOption.map(_ -> phase)
    case _ => None
  }
}

/** One traced interval of a layer, in epoch milliseconds, under the span
  * `parent` (-1 for the region). */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Double, endMs: Double)

/** Work counted for one job group (one op phase). */
final class GroupStats {
  var jobs, stages, tasks, failedTasks, aqeReplans = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var inputB, shuffleReadB, shuffleWriteB, spillB, outputB, outputRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var ruleNs, graftRuleNs, graftInvocations, graftEffective = 0L
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
}

/** Reads Spark's public observation hooks for one measured region:
  * scheduler events (jobs, stages, tasks and their metrics), each
  * finished QueryExecution's planning tracker, and AQE re-plan events.
  * It changes nothing in the engine. */
final class Tracer extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val seenTrackers = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean]()))
  /** (group, job id, start ms, end ms) */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  private def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)
  def allGroups: Map[String, GroupStats] = groups.asScala.toMap

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.put(_, g))
    val s = stats(g)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "other")
    jobSpans.add((g, e.jobId, jobStart.getOrDefault(e.jobId, e.time), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmit.put((i.stageId, i.attemptNumber()),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
    val s = stats(stageGroup.getOrDefault(i.stageId, "other"))
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(stageGroup.getOrDefault(e.stageId, "other"))
    val info = e.taskInfo
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (info.failed || info.killed) s.failedTasks += 1
      val submitted = stageSubmit.get((e.stageId, e.stageAttemptId))
      if (submitted != null) s.waitMs += math.max(0L, info.launchTime - submitted)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputB += m.inputMetrics.bytesRead
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.diskBytesSpilled
        s.outputB += m.outputMetrics.bytesWritten
        s.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup.put(s.executionId, s.jobGroupId.getOrElse("other"))
    case x: SparkListenerSQLExecutionEnd =>
      val qe = PerfbenchShim.queryExecution(x)
      if (qe != null) addTracker(execGroup.getOrDefault(x.executionId, "other"), qe.tracker)
    case a: SparkListenerSQLAdaptiveExecutionUpdate =>
      val s = stats(execGroup.getOrDefault(a.executionId, "other"))
      s.synchronized { s.aqeReplans += 1 }
    case _ =>
  }

  /** Adds one QueryExecution's phase and rule times, once per tracker. */
  def addTracker(group: String, t: QueryPlanningTracker): Unit =
    if (seenTrackers.add(t)) {
      val s = stats(group)
      val phases = t.phases
      val rules = t.rules
      s.synchronized {
        def phase(name: String): Long = phases.get(name).map { p =>
          s.phases += ((name, p.startTimeMs, p.endTimeMs)); p.durationMs
        }.getOrElse(0L)
        s.analysisMs += phase(QueryPlanningTracker.ANALYSIS)
        s.optimizationMs += phase(QueryPlanningTracker.OPTIMIZATION)
        s.planningMs += phase(QueryPlanningTracker.PLANNING)
        rules.foreach { case (name, r) =>
          s.ruleNs += r.totalTimeNs
          if (name.startsWith("graft.plans.")) {
            s.graftRuleNs += r.totalTimeNs
            s.graftInvocations += r.numInvocations
            s.graftEffective += r.numEffectiveInvocations
          }
        }
      }
    }
}

/** JVM-wide counters read from the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcCount: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Largest heap occupancy left after any collection since `reset`,
    * summed over the heap pools only (not Metaspace or the code cache). */
  object PostGcHeap {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    private val notified = new AtomicLong(0)
    private var gcCount0 = 0L
    def reset(): Unit = peak = 0L
    def value: Long = peak
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, h: AnyRef): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
          notified.incrementAndGet()
        }
    }
    def install(): Unit = {
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .foreach(_.asInstanceOf[javax.management.NotificationEmitter]
          .addNotificationListener(listener, null, null))
      gcCount0 = gcCount
    }
    /** Runs a full collection, then waits (at most 5 s) until every
      * collection so far has been notified: notifications arrive on
      * their own thread, and one arriving after `reset` or after `value`
      * is read would count in the wrong region. */
    def settle(): Unit = {
      System.gc()
      val target = gcCount - gcCount0
      val deadline = System.nanoTime() + 5000000000L
      while (notified.get < target && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }
}

/** Interval arithmetic for self times. */
object Intervals {
  /** Merges possibly overlapping intervals. */
  def union(xs: Iterable[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer[(Double, Double)]()
    xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }
  def length(xs: Seq[(Double, Double)]): Double = xs.map(x => x._2 - x._1).sum
  /** Length of `span` not covered by `cover` (already merged). */
  def uncovered(span: (Double, Double), cover: Seq[(Double, Double)]): Double = {
    val covered = cover.map { case (s, e) =>
      math.max(0.0, math.min(e, span._2) - math.max(s, span._1)) }.sum
    math.max(0.0, (span._2 - span._1) - covered)
  }
}
