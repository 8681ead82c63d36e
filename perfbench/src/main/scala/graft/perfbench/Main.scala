package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Materialize, Session, SparkEntry}

/** Result of one workload run: the end-to-end metrics, the per-layer
  * metrics of a traced run, and the operation counts.
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double],
    layers: Map[String, Double], notes: Seq[String],
    perOp: Map[String, Double] = Map.empty)

/** Benchmark JVM entry point; `perfbench/run.py` builds the classpath,
  * prepares the inputs and launches it. One run = one workload:
  *
  *   --workload interactive_sf0.1|compute_sf1|stream_gmall --seed N
  *   --seconds S --trace 0|1 --sf NAME --data DIR --work DIR --config FILE
  *   --expected DIR --out FILE [--spans FILE] [--record 1] [--launch-ms T]
  *
  * --data is the directory of the tables at scale --sf.
  *
  * It writes the full result (every metric, counts, notes) as JSON to
  * --out; run.py prints the contract line from it.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a.getOrElse("trace", "0") == "1"
    val launchMs = a.get("launch-ms").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val cfg = Json.read(a("config")).asInstanceOf[Map[String, Any]]
    val ctx = Ctx(workload, a("seed").toLong, a("seconds").toDouble, trace, launchMs,
      a("sf"), a("data"), a("work"), cfg(workload).asInstanceOf[Map[String, Any]],
      a("expected"), a.get("record").contains("1"))

    Session.sizeShuffleFor(ctx.dataDir)
    val t0 = System.nanoTime()
    val spark = Session.get("perfbench")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val outcome =
      try {
        if (workload.startsWith("stream")) StreamWorkload.run(spark, ctx, tracer)
        else BatchWorkload.run(spark, ctx, tracer)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(1, 1, Map.empty, Map.empty, Seq(s"run failed: $e"))
      }
    val rss = peakRssMb()
    tracer.foreach(t => a.get("spans").foreach(t.writeSpans))
    val result = Map(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "error_rate" -> outcome.failed.toDouble / math.max(1L, outcome.attempted),
      "metrics" -> (outcome.metrics + ("peak_rss_mb" -> rss)),
      "layers" -> (outcome.layers + ("session.start_ms" -> sessionMs)),
      "notes" -> outcome.notes, "per_op_ms" -> outcome.perOp)
    val w = new java.io.PrintWriter(a("out"))
    try w.println(Json.write(result)) finally w.close()
    spark.stop()
  }

  /** High-water resident set size of this JVM (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** User + system CPU of this JVM, from /proc/self/stat (clock ticks). */
  def processCpuS(): Double = {
    val stat = scala.io.Source.fromFile("/proc/self/stat").mkString
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / 100.0
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    launchMs: Double, sf: String, dataDir: String, work: String,
    cfg: Map[String, Any], expectedDir: String, record: Boolean) {
  def list(k: String): Seq[String] = cfg(k).asInstanceOf[Seq[Any]].map(_.toString)
  def num(k: String): Double = cfg(k).toString.toDouble
  def expectedFile: String = s"$expectedDir/$workload@$sf.json"
  def setupSeconds: Double = (System.currentTimeMillis() - launchMs) / 1000.0
}

/** The two closed-loop batch workloads: one client runs registered
  * queries (`SparkEntry.queries`) back to back, each execution checked
  * against its recorded fingerprint.
  */
/** The two closed-loop batch workloads: one client runs registered
  * queries (`SparkEntry.queries`) back to back. A timed execution runs
  * from the registered-fn call to the end of a noop write of its output.
  * Outputs are checked in the untimed warm pass, on the measured tables:
  * each query's output, reduced to its fingerprint, must equal the
  * recorded one.
  */
object BatchWorkload {
  def run(spark: SparkSession, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    val fns = SparkEntry.queries
    val names = ctx.list("queries")
    val notes = mutable.ArrayBuffer[String]()
    var attempted, failed = 0L
    def release(): Unit = { Materialize.invalidate(spark); spark.catalog.clearCache() }
    def execute(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def failure(q: String, e: Throwable): Unit = {
      failed += 1
      notes += s"$q failed: ${e.toString.take(300)}"
    }
    val expected: Map[String, Fingerprint] =
      if (ctx.record || !new java.io.File(ctx.expectedFile).exists()) Map.empty
      else Json.read(ctx.expectedFile).asInstanceOf[Map[String, Any]].map {
        case (q, m) => q -> Fingerprint.fromJson(m.asInstanceOf[Map[String, Any]])
      }
    val recorded = mutable.LinkedHashMap[String, Fingerprint]()

    // warm pass, and the output check: codegen, JIT, table relations and
    // the page cache
    names.foreach { q =>
      release()
      attempted += 1
      try {
        val f = Fingerprint.of(fns(q)(spark, ctx.dataDir))
        if (ctx.record) recorded(q) = f
        else expected.get(q) match {
          case Some(e) if e.matches(f) => ()
          case Some(e) =>
            failed += 1
            notes += s"$q mismatch: got ${f.toJson} expected ${e.toJson}"
          case None =>
            failed += 1
            notes += s"$q mismatch: no expected fingerprint"
        }
      } catch { case e: Throwable => failure(q, e) }
    }
    if (ctx.record) {
      val w = new java.io.PrintWriter(ctx.expectedFile)
      try w.println(Json.write(recorded.map { case (q, f) => q -> f.toJson }))
      finally w.close()
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(t => graft.Tables.table(spark, ctx.dataDir, t))
    // a second pass on the timed path: after one pass the JIT is still
    // compiling the driver's planner code, and round times fall for several
    // rounds
    names.foreach { q =>
      release()
      attempted += 1
      try execute(fns(q)(spark, ctx.dataDir)) catch { case e: Throwable => failure(q, e) }
    }
    val setup = ctx.setupSeconds

    val rng = new scala.util.Random(ctx.seed)
    val lat = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val walls, cpus, tracedWalls = mutable.ArrayBuffer[Double]()
    var opSeq = 0L
    val t0 = System.nanoTime()
    var round = 0
    Materialize.resetBuildClock()
    // whole rounds until --seconds elapse; a traced run alternates plain and
    // traced rounds so the tracing overhead is measured in the same JVM
    // (a round starts only if it is expected to end within --seconds, give
    // or take half a round)
    def elapsed = (System.nanoTime() - t0) / 1e9
    def lastRound = (walls ++ tracedWalls).lastOption.getOrElse(0.0)
    while (round == 0 || elapsed + lastRound / 2 < ctx.seconds ||
        (ctx.trace && tracedWalls.isEmpty)) {
      val traced = tracer.filter(_ => round % 2 == 1)
      traced.foreach(_.install())
      val order = rng.shuffle(names)
      val c0 = Main.processCpuS()
      var roundNs = 0L
      order.foreach { q =>
        release()
        opSeq += 1
        val group = s"op$opSeq"
        spark.sparkContext.setLocalProperty(Tracer.OpKey, group)
        attempted += 1
        val s0 = System.nanoTime()
        val start = traced.map(_.now())
        try {
          val df = traced match {
            case Some(t) => t.span(q, "construct", group)(fns(q)(spark, ctx.dataDir))
            case None => fns(q)(spark, ctx.dataDir)
          }
          execute(df)
        } catch { case e: Throwable => failure(q, e) }
        val ns = System.nanoTime() - s0
        for (t <- traced; s <- start) t.record(q, "op", group, s, s + ns / 1e6)
        spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
        roundNs += ns
        if (!traced.isDefined) {
          lat += ns / 1e6
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer[Double]()) += ns / 1e6
        }
      }
      if (traced.isDefined) tracedWalls += roundNs / 1e9
      else { walls += roundNs / 1e9; cpus += Main.processCpuS() - c0 }
      traced.foreach(_.uninstall())
      round += 1
    }
    release()
    val metrics = Map(
      "setup_s" -> setup,
      "wall_s" -> Main.percentile(walls.toSeq, 0.5),
      "cpu_s" -> Main.percentile(cpus.toSeq, 0.5),
      "latency_p50_ms" -> Main.percentile(lat.toSeq, 0.5),
      "latency_p95_ms" -> Main.percentile(lat.toSeq, 0.95),
      "timed_executions" -> lat.size.toDouble)
    val layers = tracer.map { t =>
      val rolled = t.rollup()
      val tracedRounds = tracedWalls.size.toDouble
      // per-layer values are per round (one execution of every query)
      rolled.map { case (k, v) =>
        k -> (if (k == "exec.busy_ratio" || k == "exec.straggler_ratio") v else v / tracedRounds)
      } ++ Map(
        "load.trace_overhead_s" ->
          (Main.percentile(tracedWalls.toSeq, 0.5) - Main.percentile(walls.toSeq, 0.5)),
        "materialize.builds" -> Materialize.buildBreakdown.size.toDouble,
        "materialize.build_s" -> Materialize.buildSeconds / round)
    }.getOrElse(Map.empty)
    notes += s"rounds=$round untraced_rounds=${walls.size} timed_executions=${lat.size}"
    notes += s"round_walls_s=${walls.map(w => f"$w%.3f").mkString(",")}"
    Outcome(attempted, failed, metrics, layers, notes.toSeq,
      perQuery.map { case (q, xs) => q -> Main.percentile(xs.toSeq, 0.5) }.toMap)
  }
}
