package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The per-rep collector behind `graft.Bench`: counters, the layer split
  * of the wall time, rep isolation across `reset()`, and a failing rep.
  */
class QueryMetricsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val metrics = QueryMetrics.install(spark)
  override def afterAll(): Unit = metrics.close()

  private case class Rep(ok: Boolean, wallMs: Double, m: QueryMetrics.Snapshot)

  /** One rep timed the way `graft.Bench` times it: construction, then a
    * noop write, inside one timed region.
    */
  private def rep(build: => DataFrame): Rep = {
    metrics.reset()
    val t0 = System.nanoTime()
    var built = -1L
    val ok =
      try {
        val df = build
        built = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        true
      } catch { case _: Exception => false }
    val t1 = System.nanoTime()
    Rep(ok, (t1 - t0) / 1e6, metrics.snapshot(t0, if (built < 0) t1 else built, t1))
  }

  // a tiny in-memory frame with one shuffle
  private def grouped: DataFrame =
    spark.range(0, 2000, 1, 4).groupBy((col("id") % 7).as("k")).count()
  private def narrow: DataFrame = spark.range(0, 100, 1, 2).toDF()

  test("a shuffled query records jobs, stages, tasks, task CPU and shuffle bytes") {
    rep(grouped) // warm
    val r = rep(grouped)
    assert(r.ok)
    assert(r.m.jobs >= 1)
    assert(r.m.stageTable.size >= 2)
    assert(r.m.tasks > 0)
    assert(r.m.taskCpuS > 0)
    assert(r.m.shuffleWriteBytes > 0 && r.m.shuffleReadBytes > 0)
    assert(r.m.stageTable.map(_.tasks).sum.toLong === r.m.tasks)
    val layers = r.m.layers.toMap
    assert(layers("exec.jobs") === r.m.jobs.toDouble)
    assert(layers("exec.task_cpu_s") === r.m.taskCpuS)
  }

  test("construct + plan + job union + gap equals the measured wall within 1 ms") {
    (1 to 3).foreach { _ =>
      val r = rep(grouped)
      val l = r.m.layers.toMap
      val parts = l("construct.ms") + l("plan.analysis_ms") + l("plan.optimization_ms") +
        l("plan.planning_ms") + l("exec.job_ms") + l("exec.gap_ms")
      assert(math.abs(parts - r.wallMs) < 1.0, s"$parts vs ${r.wallMs}")
      assert(l("construct.ms") >= 0 && l("exec.job_ms") > 0)
      assert(l("exec.job_ms") <= r.wallMs)
    }
  }

  test("after reset(), one rep's events never appear in the next rep's snapshot") {
    rep(narrow) // warm
    (1 to 3).foreach { _ =>
      val a = rep(grouped)
      val b = rep(narrow)
      assert(a.m.shuffleWriteBytes > 0)
      assert(b.m.jobs === 1)
      assert(b.m.tasks === 2)
      assert(b.m.shuffleWriteBytes === 0 && b.m.shuffleReadBytes === 0)
      assert(b.m.stageTable.map(_.id).min > a.m.stageTable.map(_.id).max)
    }
  }

  test("a query that throws leaves a snapshot with its jobs and does not poison the next rep") {
    val boom = udf((x: Long) => if (x >= 0) throw new IllegalStateException("boom") else x)
    // one partition: the failing task is the only task, so no killed
    // sibling can report after the job ends
    val failed = rep(spark.range(0, 10, 1, 1).select(boom(col("id"))))
    assert(!failed.ok)
    assert(failed.m.jobs >= 1)
    assert(failed.m.tasks >= 1)
    val clean = rep(grouped)
    val next = rep(grouped)
    assert(next.ok)
    assert(next.m.jobs === clean.m.jobs)
    assert(next.m.tasks === clean.m.tasks)
    assert(clean.m.stageTable.map(_.id).min > failed.m.stageTable.map(_.id).maxOption.getOrElse(-1))
  }
}
