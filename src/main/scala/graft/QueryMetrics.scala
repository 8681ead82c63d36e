package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-rep engine metrics of a measured query: one `SparkListener` plus
  * one `QueryExecutionListener`, installed by the caller
  * ([[QueryMetrics.install]]; `Session.get` never installs it).
  *
  * A rep is bracketed by [[reset]] and [[snapshot]]; both drain the
  * listener bus first, so a rep's events land in its own snapshot and
  * never in the next one. The snapshot splits the rep's wall into the
  * per-layer fields of the repository benchmark (`perfbench/README.md`):
  * `construct.ms` (DataFrame construction, eager jobs included), the
  * `plan.*` phases of the executions started after construction (the
  * executed write), `exec.job_ms` (the union of job intervals after
  * construction) and `exec.gap_ms` = wall − construct − plan − job union
  * (AQE re-planning, codegen and scheduling between jobs), so the four
  * add up to the wall. The counters cover every job of the rep.
  */
final class QueryMetrics private (spark: SparkSession) extends AutoCloseable {
  import QueryMetrics._

  private final class Acc {
    val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
    val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val maxTaskMs = new ConcurrentHashMap[Int, java.lang.Long]()
    val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val tasks, cpuNs, shuffleRead, shuffleWrite, spill, aqeUpdates = new LongAdder
  }
  @volatile private var acc = new Acc

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      acc.jobStarts.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = acc
      val s = a.jobStarts.remove(e.jobId)
      if (s != null) a.jobs.add((s.longValue, e.time)); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc
      a.tasks.increment()
      if (e.taskInfo != null)
        a.maxTaskMs.merge(e.stageId, e.taskInfo.duration, (x, y) => math.max(x, y))
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs.add(m.executorCpuTime)
        a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val (si, a) = (e.stageInfo, acc)
      val m = si.taskMetrics
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
        .getOrElse(-1L)
      a.stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks, wall,
        m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
        a.maxTaskMs.getOrDefault(si.stageId, 0L), m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => acc.aqeUpdates.increment()
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (k, p) => acc.phases.add((k, p.startTimeMs, p.endTimeMs)) }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  // epoch-ms anchor of System.nanoTime, taken on a millisecond tick (exact
  // to microseconds) and re-taken per rep so the two clocks never drift
  @volatile private var originMs, originNs = 0L
  private def anchor(): Unit = {
    val m0 = System.currentTimeMillis()
    var m = m0
    while (m == m0) m = System.currentTimeMillis()
    originNs = System.nanoTime(); originMs = m
  }
  anchor()

  private def drain(): Unit = {
    org.apache.spark.sql.graftexpr.ListenerDrain.drain(spark.sparkContext); ()
  }

  /** Start a rep: deliver the previous rep's events, then forget them. */
  def reset(): Unit = { drain(); acc = new Acc; anchor() }

  /** The rep since [[reset]], split at the caller's `System.nanoTime`
    * marks: start, construction done (`endNs` if it threw) and end.
    */
  def snapshot(startNs: Long, constructedNs: Long, endNs: Long): Snapshot = {
    drain()
    val a = acc
    def epochMs(ns: Long) = originMs + (ns - originNs) / 1e6
    val (t0, tc, t1) = (epochMs(startNs), epochMs(constructedNs), epochMs(endNs))
    // event timestamps are whole ms: one in the millisecond construction
    // ended in belongs after it
    val phaseMs = a.phases.asScala.toSeq.filter(_._2 >= math.floor(tc).toLong)
      .groupMapReduce(_._1)(p => (p._3 - p._2).toDouble)(_ + _)
    val jobs = a.jobs.asScala.toSeq
    Snapshot(t1 - t0, tc - t0, phaseMs.withDefaultValue(0.0), jobs.size,
      unionMs(jobs.map { case (s, e) => (math.max(s.toDouble, tc), math.min(e.toDouble, t1)) }),
      a.tasks.sum, a.cpuNs.sum / 1e9, a.shuffleRead.sum, a.shuffleWrite.sum, a.spill.sum,
      a.aqeUpdates.intValue, a.stages.asScala.toSeq.sortBy(_.id))
  }

  override def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object QueryMetrics {
  /** Register a collector on `spark`'s listener bus. */
  def install(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics(spark)
    spark.sparkContext.addSparkListener(m.sparkListener)
    spark.listenerManager.register(m.qeListener)
    m
  }

  /** One completed stage. `tasks=1` on a heavy stage, or `maxTaskMs ≈
    * wallMs` on a wide one, is the straggler / parallelism signal.
    */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, maxTaskMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, inputBytes: Long) {
    def describe: String =
      f"stage $id%4d tasks=$tasks%4d wall=$wallMs%6d ms run=$runMs%7d ms " +
        f"cpu=$cpuMs%7d ms gc=$gcMs%5d ms maxTask=$maxTaskMs%6d ms " +
        f"in=${inputBytes >> 20}%4d MB shR=${shuffleReadBytes >> 20}%4d MB " +
        f"shW=${shuffleWriteBytes >> 20}%4d MB  $name"
  }

  final case class Snapshot(wallMs: Double, constructMs: Double,
      phaseMs: Map[String, Double], jobs: Int, jobMs: Double, tasks: Long,
      taskCpuS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, aqeUpdates: Int, stageTable: Seq[Stage]) {
    def planMs: Double = Phases.map(phaseMs).sum
    def gapMs: Double = wallMs - constructMs - planMs - jobMs

    /** The per-layer fields, under the repository benchmark's names. */
    def layers: Seq[(String, Double)] =
      ("construct.ms" -> constructMs) +: Phases.map(p => s"plan.${p}_ms" -> phaseMs(p)) ++:
        Seq("exec.jobs" -> jobs.toDouble, "exec.stages" -> stageTable.size.toDouble,
          "exec.tasks" -> tasks.toDouble, "exec.job_ms" -> jobMs, "exec.gap_ms" -> gapMs,
          "exec.task_cpu_s" -> taskCpuS, "exec.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
          "exec.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
          "exec.spill_bytes" -> spillBytes.toDouble)

    def describe: String =
      f"wall=$wallMs%7.1f ms con=$constructMs%6.1f ms plan=$planMs%5.0f ms " +
        f"jobs=$jobs%3d jobUnion=$jobMs%6.0f ms gap=$gapMs%7.1f ms tasks=$tasks%4d " +
        f"cpu=$taskCpuS%6.2f s spill=${spillBytes >> 20}%4d MB aqeUpd=$aqeUpdates%3d " +
        Phases.map(p => s"$p=${phaseMs(p).toLong}ms").mkString("[", " ", "]")
  }

  /** The `QueryPlanningTracker` phases, in order. */
  private val Phases = Seq("analysis", "optimization", "planning")

  // length of the union: each interval, by start, adds what lies past
  // the furthest end so far
  private def unionMs(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((total, end), (s, e)) =>
      (total + math.max(0.0, e - math.max(s, end)), math.max(end, e))
    }._1
}
