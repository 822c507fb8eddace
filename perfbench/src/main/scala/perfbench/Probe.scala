package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task's metrics. Times in ms unless named otherwise. */
final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    schedMs: Long, fetchWaitMs: Long, shuffleBytes: Long, shuffleRecords: Long,
    spillBytes: Long, peakMem: Long, failed: Boolean)

/** An equi-join of an optimized logical plan, with its left key names. */
final case class JoinRec(keys: Seq[String], join: Join)

/** Counters of every job run under one job group (one pass or one prefix). */
final case class GroupStats(jobs: Int, stages: Int, tasks: Vector[TaskRec], exchanges: Int,
    joins: Vector[JoinRec]) {
  def ++(o: GroupStats): GroupStats = GroupStats(jobs + o.jobs, stages + o.stages,
    tasks ++ o.tasks, exchanges + o.exchanges, joins ++ o.joins)
  def shuffleBytes: Long = tasks.map(_.shuffleBytes).sum
  def shuffleRecords: Long = tasks.map(_.shuffleRecords).sum
  def peakMem: Long = if (tasks.isEmpty) 0L else tasks.map(_.peakMem).max
  /** max / median task duration of the group's last stage. */
  def lastStageSkew: Double = {
    if (tasks.isEmpty) 0.0
    else {
      val last = tasks.map(_.stage).max
      val ds = tasks.filter(_.stage == last).map(_.durMs.toDouble).sorted
      val p50 = Stats.median(ds)
      if (p50 <= 0) 0.0 else ds.last / p50
    }
  }
}

/** SparkListener + QueryExecutionListener that attributes task metrics,
  * final-plan exchange counts and equi-joins to the job group that
  * was active when the work was submitted. It is attached only around the
  * work it measures, so the timed passes run without it.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
  private val stages = new ConcurrentHashMap[String, AtomicInteger]()
  private val exchanges = new ConcurrentHashMap[String, AtomicInteger]()
  private val tasks = new ConcurrentHashMap[String, ConcurrentLinkedQueue[TaskRec]]()
  private val joins = new ConcurrentHashMap[String, ConcurrentLinkedQueue[JoinRec]]()
  /** Group of the action in flight; read on the listener thread. */
  @volatile var group: String = ""

  private def counter(m: ConcurrentHashMap[String, AtomicInteger], g: String) =
    m.computeIfAbsent(g, _ => new AtomicInteger())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      counter(jobs, g).incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(counter(stages, _).incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val i = e.taskInfo
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.stageId, i.duration, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
        else {
          val sched = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - i.gettingResultTime)
          TaskRec(e.stageId, i.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            sched, m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled, m.peakExecutionMemory,
            failed = e.reason != Success)
        }
      tasks.computeIfAbsent(g, _ => new ConcurrentLinkedQueue[TaskRec]()).add(rec)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = group
    if (g.nonEmpty) {
      counter(exchanges, g).addAndGet(Probe.exchanges(qe.executedPlan))
      val q = joins.computeIfAbsent(g, _ => new ConcurrentLinkedQueue[JoinRec]())
      Probe.joins(qe).foreach(q.add)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Run `body` under job group `g`, wait for its events, return its stats. */
  def measure[T](spark: SparkSession, g: String)(body: => T): (T, GroupStats) = {
    val sc = spark.sparkContext
    group = g
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try {
      val out = body
      org.apache.spark.perfbench.ListenerDrain(sc)
      (out, stats(g))
    } finally {
      sc.clearJobGroup()
      group = ""
    }
  }

  def stats(g: String): GroupStats = {
    def n(m: ConcurrentHashMap[String, AtomicInteger]) = Option(m.get(g)).map(_.get).getOrElse(0)
    def all[T](m: ConcurrentHashMap[String, ConcurrentLinkedQueue[T]]) =
      Option(m.get(g)).map(_.asScala.toVector).getOrElse(Vector.empty)
    GroupStats(n(jobs), n(stages), all(tasks), n(exchanges), all(joins))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in the final (post-AQE) physical plan. */
  def exchanges(plan: SparkPlan): Int = collect(plan) { case e: ShuffleExchangeLike => e }.size

  /** Equi-joins of the query's optimized logical plan. */
  def joins(qe: QueryExecution): Seq[JoinRec] = qe.optimizedPlan.collect { case j: Join =>
    ExtractEquiJoinKeys.unapply(j).map(k => JoinRec(k._2.flatMap(_.references.map(_.name)), j))
  }.flatten

  /** Cumulative CPU steal of the whole VM in seconds (/proc/stat, USER_HZ
    * = 100); -1 where the file is unreadable.
    */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
