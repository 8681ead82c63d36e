package graft

/** Driver-latency breakdown and per-stage profile of registered queries —
  * the measurement aid behind the r16/r17 optimization rounds (decide
  * whether wall-clock goes to driver work, scan parallelism, shuffle or
  * serial stages BEFORE changing anything; the UI is disabled in this
  * environment, so this prints what it would show).
  *
  * Usage: `sbt "runMain graft.Profile <query> [query...]"` with the same
  * `SPARK_GRAFT_SF_DIR` contract as [[Bench]]. Each query runs once warm
  * (JIT/codegen/file listing), then three measured reps. Per rep it
  * prints where the wall goes when no stage is slow: DataFrame
  * construction (file listing + schema inference), analysis /
  * optimization / physical planning (from `QueryPlanningTracker` of the
  * EXECUTED plan, captured via `QueryExecutionListener`), the union of
  * job intervals (actual scheduled execution) and the remaining gap
  * (AQE stage re-planning, codegen, listener/bus latency between jobs),
  * plus task count, task CPU and AQE plan updates. After the last rep it
  * prints that rep's stage table: task count, wall of the stage
  * (submission→completion), summed task run/cpu time, GC ms and the max
  * single task runtime — `tasks=1` on a heavy stage or
  * `maxTask ≈ stageWall` on a wide one is the straggler/parallelism
  * signal. Dev measurement tool only: no artifact, does not participate
  * in the driver contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Session.sizeShuffleFor(sfDir)
    val spark = Session.get("graft-profile")
    val sel = SparkEntry.queries.toSeq.filter(q => args.contains(q._1))
      .sortBy(_._1)
    require(sel.nonEmpty, s"no matching queries in ${args.mkString(",")}")
    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
        runMs: Long, cpuMs: Long, gcMs: Long, maxTaskMs: Long,
        shRead: Long, shWrite: Long, inBytes: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val maxTask = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val aqeUpdates = new java.util.concurrent.atomic.AtomicInteger
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStarts.put(e.jobId, e.time); ()
        }
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStarts.remove(e.jobId)
          if (s != null) jobs.add((s.longValue, e.time)); ()
        }
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = if (e.taskInfo != null) e.taskInfo.duration else 0L
          maxTask.merge(e.stageId, d, (a, b) => math.max(a, b))
          if (e.taskMetrics != null) taskCpuNs.addAndGet(e.taskMetrics.executorCpuTime)
          tasks.incrementAndGet(); ()
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val m = si.taskMetrics
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(-1L)
          stages.add(St(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
            wall, m.executorRunTime, m.executorCpuTime / 1000000,
            m.jvmGCTime, maxTask.getOrDefault(si.stageId, 0L),
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
          ()
        }
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          if (e.getClass.getSimpleName.contains("SQLAdaptiveExecutionUpdate")) {
            aqeUpdates.incrementAndGet(); ()
          }
      })

    // planning phases of the EXECUTED write (df.write re-plans the whole
    // tree; forcing df.queryExecution first would double-plan and
    // mis-attribute the cost)
    @volatile var phases: Map[String, Long] = Map.empty
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    def drain(): Unit = {
      org.apache.spark.sql.graftexpr.ListenerDrain.drain(spark.sparkContext); ()
    }
    def unionMs(iv: Seq[(Long, Long)]): Long = {
      val s = iv.sortBy(_._1)
      var tot = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      s.foreach { case (a, b) =>
        if (a > curE) { tot += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      tot + math.max(0L, curE - curS)
    }

    import scala.jdk.CollectionConverters._
    sel.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"profile: $name")
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      spark.catalog.clearCache()
      (1 to 3).foreach { rep =>
        drain(); System.gc(); Thread.sleep(200)
        stages.clear(); maxTask.clear()
        jobs.clear(); jobStarts.clear(); aqeUpdates.set(0)
        taskCpuNs.set(0); tasks.set(0); phases = Map.empty
        val epoch0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tCon = (System.nanoTime() - t0) / 1e6
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e6
        drain()
        spark.catalog.clearCache()
        val iv = jobs.asScala.toSeq
        val jobMs = unionMs(iv)
        val firstJob = if (iv.isEmpty) -1L else iv.map(_._1).min - epoch0
        val ph = phases.map { case (k, v) => s"$k=${v}ms" }.toSeq.sorted.mkString(" ")
        println(f"$name rep$rep wall=$wall%7.1f ms con=$tCon%6.1f ms " +
          f"jobs=${iv.size}%3d jobUnion=$jobMs%5d ms gap=${wall - tCon - jobMs}%7.1f ms " +
          f"tasks=${tasks.get}%4d cpu=${taskCpuNs.get / 1e9}%6.2f s aqeUpd=${aqeUpdates.get}%3d " +
          f"firstJobDelay~${firstJob}%d ms  [$ph]")
      }
      println(s"==== $name stages (rep 3) ====")
      stages.asScala.toSeq.sortBy(_.id).foreach { s =>
        println(f"  stage ${s.id}%4d tasks=${s.tasks}%4d wall=${s.wallMs}%6d ms " +
          f"run=${s.runMs}%7d ms cpu=${s.cpuMs}%7d ms gc=${s.gcMs}%5d ms " +
          f"maxTask=${s.maxTaskMs}%6d ms in=${s.inBytes >> 20}%4d MB " +
          f"shR=${s.shRead >> 20}%4d MB shW=${s.shWrite >> 20}%4d MB  ${s.name}")
      }
    }
    spark.stop()
  }
}
