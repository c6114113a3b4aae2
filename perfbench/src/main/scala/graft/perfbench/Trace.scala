package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.ExecutedCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer of the engine.
  * Wall-clock millis place the span against Spark's listener events
  * (which carry wall-clock times); nanos give its duration. */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    runId: String,
    startMs: Long,
    endMs: Long,
    durS: Double)

/** Spans kept in memory and written when the run ends. Calls arrive
  * from the one driver thread that issues every operation, so the
  * open-span stack is a plain stack. When tracing is off, `span` only
  * runs its body. */
final class Tracer(val runId: String) {
  @volatile var on: Boolean = false
  private var nextId = 0
  private val open = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        open.pop()
        spans += Span(id, name, parent, runId, w0, System.currentTimeMillis(), dt)
      }
    }

  /** Self time: the span's duration minus the union of the intervals
    * its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.durS - covered / 1000.0)
  }
}

/** Per-job and per-task facts from the scheduler, kept so that they
  * can be attributed to spans by time once the run ends. */
final class JobListener extends SparkListener {
  import JobListener._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null)
      tasks.add(Task(info.finishTime, m.executorRunTime / 1000.0,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, !info.successful))
    else tasks.add(Task(info.finishTime, 0.0, 0L, 0L, 0L, !info.successful))
  }

  def ended: Boolean = jobs.values.asScala.forall(_.endMs >= 0)
}

object JobListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(endMs: Long, runS: Double, shWriteB: Long, shReadB: Long,
      spillB: Long, failed: Boolean)
}

/** Planning time and graft's custom physical operators for every
  * executed query. */
final class PlanListener extends QueryExecutionListener {
  import PlanListener.Exec
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()

  private def customNodes(root: SparkPlan): Map[String, Int] = {
    val found = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: ExecutedCommandExec => ()
        case _ =>
          if (p.getClass.getSimpleName == "VectorTopKJoinExec") found("VectorTopKJoin") += 1
          if (p.expressions.exists(_.exists(_.isInstanceOf[graft.plans.TopKPairs])))
            found("TopKPairs") += 1
          p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
      p.innerChildren.foreach {
        case sp: SparkPlan => walk(sp)
        case _ => ()
      }
    }
    walk(root)
    found.toMap
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val end = phases.values.map(_.endTimeMs).foldLeft(System.currentTimeMillis())(math.max)
    val custom = try customNodes(qe.executedPlan) catch { case _: Throwable => Map.empty[String, Int] }
    execs.add(Exec(end, planMs / 1000.0, custom))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener {
  final case class Exec(endMs: Long, planS: Double, custom: Map[String, Int])
}

/** The JVM and the box, sampled around every timed rep. */
object Box {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcSeconds: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def load1: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** CPU time the hypervisor gave to other guests (`steal` in
    * /proc/stat), in seconds summed over CPUs: load the guest's own
    * load average does not show. */
  def stealSeconds: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toDouble / 100.0)
        .getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Spark-side instrumentation for a traced run: both listeners are
  * registered from here, not from the engine. */
final class SparkProbe(spark: SparkSession) {
  val jobs = new JobListener
  val plans = new PlanListener
  private var attached = false
  attach()

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    attached = true
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    attached = false
  }

  /** Listener events arrive on Spark's bus thread; wait (bounded) for
    * every started job to report its end before attribution. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    Thread.sleep(100)
    while (!jobs.ended && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Spark counters for the wall-clock window [a, b]: jobs by start,
    * tasks and plans by end; the driver gap is the window not covered
    * by any running job. */
  def window(a: Long, b: Long): Map[String, Double] = {
    val js = jobs.jobs.values.asScala.filter(j => j.startMs >= a && j.startMs <= b).toSeq
    val ts = tasks.filter(t => t.endMs >= a && t.endMs <= b)
    val ex = plans.execs.asScala.filter(e => e.endMs >= a && e.endMs <= b).toSeq
    val ivs = js.map(j => (math.max(a, j.startMs), math.min(b, if (j.endMs < 0) b else j.endMs)))
      .sortBy(_._1)
    var covered = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    val mb = 1048576.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> ts.map(_.runS).sum,
      "spark.driver_gap_s" -> math.max(0L, (b - a) - covered) / 1000.0,
      "spark.plan_s" -> ex.map(_.planS).sum,
      "spark.shuffle_write_mb" -> ts.map(_.shWriteB).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shReadB).sum / mb,
      "spark.spill_mb" -> ts.map(_.spillB).sum / mb,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "plans.custom_nodes" -> ex.map(_.custom.values.sum).sum.toDouble)
  }

  /** Custom operators found in every executed plan, by kind. */
  def customByKind(): Map[String, Int] =
    plans.execs.asScala.toSeq.flatMap(_.custom.toSeq).groupMapReduce(_._1)(_._2)(_ + _)

  private def tasks = jobs.tasks.asScala.toSeq
}

object SparkProbe {
  val units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.plan_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.failed_tasks" -> "count",
    "plans.custom_nodes" -> "count")
}
