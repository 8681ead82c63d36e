package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds;
  * `group` ties the spans of one operation together (a query execution
  * id, or `<stream query>/<batch id>`); `parent` is filled in by
  * [[Tracer.rollup]] from group and time containment.
  */
final case class Span(id: Long, name: String, layer: String, group: String,
    start: Double, end: Double, var parent: Long = 0L,
    attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** In-memory span recorder for the traced run. It listens through Spark's
  * public APIs only (SparkListener, QueryExecutionListener,
  * StreamingQueryListener) plus spans the benchmark opens around its own
  * calls into the engine; nothing inside the engine is instrumented.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.OpKey
  private val ids = new AtomicLong(1)
  private val origin = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, String, Double, Seq[Int])]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Double]]()
  private val counters = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  @volatile var worstStraggler = 1.0

  def now(): Double = origin + (System.nanoTime() - originNs) / 1e6
  def nextId(): Long = ids.getAndIncrement()
  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder()).add(v)
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  def record(name: String, layer: String, group: String, start: Double,
      end: Double, attrs: Map[String, Double] = Map.empty): Span = {
    val s = Span(nextId(), name, layer, group, start, end, attrs = attrs)
    spans.add(s)
    s
  }

  /** Time `body` as a span of `layer`. */
  def span[T](name: String, layer: String, group: String)(body: => T): T = {
    val t0 = now()
    try body finally record(name, layer, group, t0, now())
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty(OpKey)))
        .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))
          .map(q => q + "/" + Option(p.getProperty("streaming.sql.batchId")).getOrElse("?"))))
        .getOrElse("-")
      val id = nextId()
      jobSpan.put(e.jobId, (id, group, e.time.toDouble, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, group, t0, stages) =>
        spans.add(Span(id, s"job ${e.jobId}", "exec", group, t0, e.time.toDouble,
          attrs = Map("stages" -> stages.size.toDouble)))
        add("exec.jobs", 1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val jobId = Option(stageJob.get(si.stageId)).getOrElse(0L)
        val s = Span(nextId(), s"stage ${si.stageId}", "exec.stage", "-",
          t0.toDouble, t1.toDouble, parent = jobId,
          attrs = Map("tasks" -> si.numTasks.toDouble))
        spans.add(s)
      }
      add("exec.stages", 1)
      Option(stageTasks.remove(si.stageId)).foreach { q =>
        val d = q.asScala.toVector.sorted
        // stages of at least 4 tasks and 20 ms median: below that, task
        // launch jitter alone makes any ratio
        if (d.size >= 4 && d(d.size / 2) >= 20) worstStraggler = math.max(worstStraggler, d.last / d(d.size / 2))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Double]())
        .add(e.taskInfo.duration.toDouble)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.scan_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        record(phase, "plans", "?", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Per-batch progress of every streaming query, kept for the rollup. */
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile private var installed = false
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    installed = true
  }
  def uninstall(): Unit = if (installed) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Parent links, self time per layer, and the per-operation split of a
    * batch operation into construct / plan / job / unattributed gap.
    * `ops` are the operation spans (layer "op"), one per query execution.
    */
  def rollup(): Map[String, Double] = {
    drain()
    val all = spans.asScala.toVector
    val ops = all.filter(_.layer == "op").sortBy(_.start)
    val byGroup = all.groupBy(_.group)
    // plan phases arrive without a group: place them by time containment
    def opAt(t: Double): Option[Span] = ops.find(o => o.start <= t && t <= o.end)
    val out = mutable.LinkedHashMap[String, Double]()
    var construct, constructJobs, plan, jobMs, gap = 0.0
    val phase = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      if (s.layer == "plans" && s.group == "?") {
        opAt(s.start).foreach { o => s.parent = o.id }
        phase(s.name) += s.ms
      }
    }
    ops.foreach { o =>
      val kids = byGroup.getOrElse(o.group, Vector.empty).filter(_.id != o.id)
      val cons = kids.filter(_.layer == "construct")
      val jobs = kids.filter(_.layer == "exec")
      val plans = all.filter(s => s.layer == "plans" && s.parent == o.id)
      kids.foreach(_.parent = o.id)
      jobs.foreach { j =>
        cons.find(c => c.start <= j.start && j.start <= c.end).foreach { c =>
          j.parent = c.id; constructJobs += 1
        }
      }
      construct += cons.map(_.ms).sum
      plan += plans.map(_.ms).sum
      jobMs += union(jobs.map(j => (j.start, j.end)))
      gap += o.ms - union((cons ++ plans ++ jobs).map(s => (s.start, s.end)))
    }
    val selfByLayer = mutable.Map[String, Double]().withDefaultValue(0.0)
    val kidsOf = all.groupBy(_.parent)
    all.foreach { s =>
      val kids = kidsOf.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
      selfByLayer(s.layer) += math.max(0.0, s.ms - union(kids))
    }
    out("construct.ms") = construct
    out("construct.jobs") = constructJobs
    out("plan.analysis_ms") = phase("analysis")
    out("plan.optimization_ms") = phase("optimization")
    out("plan.planning_ms") = phase("planning")
    out("exec.job_ms") = jobMs
    out("exec.gap_ms") = gap
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.task_gc_ms",
      "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
      "sources.scan_rows", "sources.scan_bytes").foreach(k => out(k) = counter(k))
    val cores = spark.sparkContext.defaultParallelism
    out("exec.busy_ratio") =
      if (jobMs > 0) counter("exec.task_run_ms") / (cores * jobMs) else 0.0
    out("exec.straggler_ratio") = worstStraggler
    Seq("op" -> "query", "construct" -> "construct", "plans" -> "plan", "exec" -> "exec",
      "exec.stage" -> "stage", "stream" -> "stream", "sink" -> "sink", "sources" -> "sources")
      .foreach { case (l, name) => out(s"$name.self_ms") = selfByLayer(l) }
    out.toMap
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.asScala.toVector.sortBy(_.start).foreach { s =>
      w.println(Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "group" -> s.group, "start_ms" -> s.start,
        "end_ms" -> s.end) ++ s.attrs))
    } finally w.close()
  }
}

object Tracer {
  /** Spark local property naming the benchmark operation a job belongs to. */
  val OpKey = "perfbench.op"
}
