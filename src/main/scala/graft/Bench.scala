package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...}}.
  *
  * Methodology: each query is warmed once against the SAME target
  * directory — the warm pass settles JIT, whole-stage-codegen
  * compilation and file-listing caches for the exact plan shapes being
  * measured (warming at a smaller SF would compile different plans:
  * small tables broadcast where the target SF sort-merges) — then, in
  * the measured phase, runs ONE MORE unmeasured warm-up rep
  * immediately before its timed reps, and is measured
  * `SPARK_GRAFT_BENCH_REPS` times (default 3) and reported as the
  * per-query MEDIAN. The adjacent warm-up rep exists because the
  * suite-level warm pass alone left the ALPHABETICALLY FIRST family
  * absorbing whole-JVM warm-up that accrues between its warm pass and
  * its measurement (r14: `agg_corr_exact` reps read 6.88→2.77→3.26 s,
  * `agg_listagg` 0.72 s wall on 0.1 s cpu) — an adjacent unmeasured
  * rep pins every query's steady state at measurement time, not
  * suite-start time. Single measurements drifted ±14% run-to-run on
  * identical code (the r11 gate spanned 1.84–2.35× across same-day
  * pairs); the median of 3 in-suite measurements, each behind its own
  * GC barrier, makes the committed ratio a statistic of the suite
  * rather than of run selection. The Spark cache is cleared between
  * executions — operators that `cache()` subplans would otherwise
  * accumulate storage across the suite — and the teardown is excluded
  * from the timed region.
  *
  * Fixpoint accounting: Materialize-pinned artifacts are dropped ONCE,
  * between the warm and measure phases, then each build is clocked by
  * [[Materialize]] itself where it fires (inside rep 1 of its first
  * consumer), SUBTRACTED from that measurement, and reported as its own
  * `_materialize_sec` line in the artifact (`_materialize_builds` has
  * the per-artifact split). `_total_sec` = Σ per-query medians +
  * `_materialize_sec`: builds are paid exactly once — the cost a real
  * pipeline pays when it materializes the inter-stage artifact — while
  * every query median measures the shared-READ path all reps actually
  * take, instead of rep 1 of one arbitrary consumer eating the build.
  *
  * Every full run records per-measurement raw seconds, the 1-minute
  * system load average, the measurement's summed TASK CPU seconds, and
  * the two ambient-contamination channels — `ext` (CPU cores other
  * LOCAL processes consumed during the timed region) and `steal` (cores
  * the hypervisor withheld from this VM; this is a firecracker guest on
  * a shared host, and steal is the long-observed "ambient co-scheduled
  * load" that stretches wall while local cpu_s and loadavg stay flat) —
  * into `_diag`. Both discriminate where loadavg stops once the bench
  * itself drives the load (sf1 runs self-generate loadavg 10–20). A rep
  * with ext+steal beyond the suspect threshold on a non-trivial wall
  * carries `"suspect": true` and is counted in the artifact-level
  * `_suspect_reps` — a contaminated run is machine-readable, not a hand
  * audit. `_warmup_reps` records the
  * adjacent-warm-up protocol so cross-round artifact comparisons can
  * tell which measurement policy produced a given JSON. A query whose
  * EVERY rep is suspect is measured once more after the suite (storms
  * pass); the artifact reports the rep set with fewer suspect flags
  * and keeps the other under `sec_rerun`/`steal_rerun`/`suspect_rerun`
  * in `_diag`, with `_rerun_queries` counting affected rows — an
  * all-suspect median measures the hypervisor, not the code. Every rep
  * also records the GC and JIT-compilation milliseconds accrued inside
  * the timed region, plus the post-GC-barrier retained heap / Metaspace /
  * CodeHeap megabytes before it — MXBean reads outside the timed region,
  * which attribute run-to-run drift and in-suite accumulation to a named
  * JVM mechanism.
  *
  * Where the wall went: each rep is recorded by [[QueryMetrics]], with
  * DataFrame construction timed apart inside the same timed region, so
  * `_diag.<q>` carries per-rep arrays of its per-layer fields
  * (`construct.ms`, `plan.*`, `exec.*`) and `_layers` sums each field's
  * per-query median. The layers split the raw rep wall, a Materialize
  * build inside the rep included. A full run writes its artifact to
  * `bench_full{_sfTag}_r{N}.json` unless that file is already
  * committed-and-clean in git, in which case a `-postN` sibling is
  * written instead — committed round evidence is never clobbered.
  *
  * Uses the `noop` sink so the whole plan (projections, sorts) executes —
  * `count()` would let Catalyst prune most of the work. A query that
  * throws reports -1 so a regression is visible instead of silently
  * timed as fast.
  *
  * Local iteration aids (the driver always runs with no args): extra
  * args restrict the run to those query names and print, to stderr, each
  * rep's diag and layer split followed by the last rep's stage table;
  * `-explain` additionally prints each selected query's formatted
  * physical plan before timing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val explain = args.contains("-explain")
    val subset = args.filterNot(_ == "-explain").toSet
    // fail fast on a malformed value BEFORE any work, not after the
    // warm pass has already burned minutes
    val reps = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_REPS") match {
      case Some(v) => scala.util.Try(v.trim.toInt).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_REPS must be an integer, got '$v'"))
      case None => 3
    })
    // size the shuffle width to the target scale factor BEFORE the
    // session exists (the cluster-realistic configuration: per-task
    // shuffle state is data÷width, so width follows data); explicit
    // SPARK_GRAFT_SHUFFLE still wins
    Session.sizeShuffleFor(sfDir)
    val spark = Session.get("graft-bench")
    // the artifact records the width the session ACTUALLY runs with,
    // read back from the live conf — not the width the installer
    // computed (they differ exactly when a session pre-existed and the
    // property install was a no-op; see Session.sizeShuffleFor)
    val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // (succeeded, System.nanoTime when construction finished or -1 if it threw)
    def runOnce(name: String, fn: QuerySpec.Run, label: String): (Boolean, Long) = {
      var built = -1L
      try {
        val df = fn(spark, sfDir)
        built = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (true, built)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name $label failed: ${e.getMessage}"); (false, built)
      }
    }
    val sorted = SparkEntry.queries.toSeq
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .sortBy(_._1)
    if (explain) sorted.foreach { case (name, fn) =>
      System.err.println(s"==== $name ====")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => System.err.println(s"explain failed: ${e.getMessage}") }
    }
    sorted.foreach { case (name, fn) =>
      runOnce(name, fn, "warm")
      spark.catalog.clearCache()
    }
    // Honest fixpoint accounting: the warm pass pins the Materialize
    // artifacts (cluster map, k-NN graph), and the between-query
    // clearCache() deliberately does not evict them — so without this,
    // the measured region would charge the fixpoint builds to ZERO
    // queries. Builds re-fire lazily inside the measured phase, where
    // Materialize's build clock records them; each measurement subtracts
    // its build delta and the builds are summed into _materialize_sec.
    Materialize.invalidate(spark)
    Materialize.resetBuildClock()
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMillis: Long = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    // 1-minute load average at measurement time. This machine carries
    // EXTERNAL co-scheduled load (observed 1-min loadavg ≈5.7 with zero
    // local processes; the r13 post-round driver run inflated the dedup
    // family 2.4–4.4× under it) — recording it per rep makes an
    // inflated run self-identifying instead of reading as a code
    // regression. /proc/loadavg on Linux; the MXBean elsewhere.
    def loadAvg: Double =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")))
        s.split("\\s+")(0).toDouble
      } catch { case _: Throwable =>
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .getSystemLoadAverage
      }
    // Ambient contamination, measured DIRECTLY instead of inferred,
    // split into its two distinct mechanisms:
    //  - `ext`: CPU cores other LOCAL processes consumed during the
    //    timed region ((user+nice+system+irq+softirq from /proc/stat)
    //    minus this JVM's own process CPU, over wall);
    //  - `steal`: cores the HYPERVISOR withheld from this VM (the
    //    /proc/stat steal field over wall) — this machine is a
    //    firecracker guest on a shared host, and a 3 s idle sample
    //    reads ~1.3 cores of steal at ZERO local load. Steal is the
    //    long-observed "ambient co-scheduled load": it stretches
    //    wall-clock while local cpu_s stays flat and loadavg stays
    //    low, exactly the signature the r13–r15 audits kept
    //    re-deriving by hand.
    // Unlike the 1-minute loadavg, both discriminate even at sf1 where
    // the bench itself drives loadavg to 10-20. A rep whose ext+steal
    // exceeds SuspectExtCores on a non-trivial wall is flagged
    // `suspect` in _diag and counted in `_suspect_reps` — contaminated
    // runs are machine-readable. Threshold: local ambient idles at
    // ~0.03 cores and baseline steal at ~1.3; contamination storms run
    // several stolen/consumed cores, so 2.5 sits between the idle
    // baseline and the storms.
    val SuspectExtCores = 2.5
    val SuspectMinWall = 0.2 // below this, ext/wall is all jitter
    // (busy-excluding-steal seconds, steal seconds) since boot
    def sysBusySec: (Double, Double) =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        val f = line.trim.split("\\s+").drop(1).map(_.toDouble)
        // user nice system idle iowait irq softirq steal guest guest_nice
        // (guest/guest_nice are already folded into user/nice)
        val steal = if (f.length > 7) f(7) else 0.0
        val busy = f.take(7).sum - f(3) - (if (f.length > 4) f(4) else 0.0)
        (busy / 100.0, steal / 100.0)
      } catch { case _: Throwable => (-1.0, -1.0) }
    def procCpuSec: Double =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime / 1e9
      catch { case _: Throwable => -1.0 }
    // JVM-state accumulation instrumentation (recorded per rep, sampled
    // at the post-GC-barrier steady state):
    // used heap after a full GC is RETAINED state — growth across a
    // 273-query suite is exactly the "what accumulates in a long-lived
    // session" question; Metaspace and the CodeHeap pools grow with
    // generated codegen classes and JIT output, whose eviction churn
    // is the other candidate mechanism for late-suite slowdowns.
    def poolUsedMb(prefix: String): Long =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith(prefix))
        .map(p => Option(p.getUsage).map(_.getUsed).getOrElse(0L)).sum >> 20
    def heapUsedMb: Long = {
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) >> 20
    }
    // Per-rep engine metrics. Task CPU seconds (`cpu_s`) is the statistic
    // external co-scheduled load can't inflate the way it inflates wall
    // (a stolen core stalls the wall; CPU time only grows via cache/
    // memory-bandwidth contention): a rep whose wall diverges from its
    // cpu_s against a high `load` sample is ambient-inflated, not regressed.
    val metrics = QueryMetrics.install(spark)
    // one measured rep's full record
    case class Rep(sec: Double, gcMs: Long, jitMs: Long, load: Double,
        extCores: Double, stealCores: Double, suspect: Boolean,
        heapMb: Long, metaMb: Long, codeMb: Long, m: QueryMetrics.Snapshot)
    def measure(name: String, fn: QuerySpec.Run): Seq[Rep] = {
      // adjacent unmeasured warm-up rep (see methodology scaladoc):
      // absorbs whole-JVM warm-up accrued since the suite warm pass and
      // — for each Materialize artifact's first consumer — the lazy
      // rebuild, which the build clock still charges to _materialize_sec
      runOnce(name, fn, "warmup")
      spark.catalog.clearCache()
      (1 to reps).map { _ =>
        // GC barrier: without it, garbage from the PREVIOUS
        // measurement (HLL register arrays, shuffle buffers, broadcast
        // cleanup) is collected during THIS one's timed region —
        // measured drift of up to 2.5× on whichever query follows an
        // allocation-heavy one. The barrier is outside the timed
        // region, so every measurement starts from the same steady
        // state.
        System.gc()
        Thread.sleep(200)
        // post-barrier steady state = RETAINED JVM state (see scaladoc
        // on poolUsedMb); sampled here, outside the timed region
        val (hMb, mMb, cMb) = (heapUsedMb, poolUsedMb("Metaspace"),
          poolUsedMb("CodeHeap"))
        val la = loadAvg
        val (g0, j0, b0) = (gcMillis, jitMillis, Materialize.buildSeconds)
        metrics.reset()
        val ((busy0, steal0), prc0) = (sysBusySec, procCpuSec)
        val t0 = System.nanoTime()
        val (ok, built) = runOnce(name, fn, "measure")
        val t1 = System.nanoTime()
        val wall = (t1 - t0) / 1e9
        val ((busy1, steal1), prc1) = (sysBusySec, procCpuSec)
        val sec = wall -
          (Materialize.buildSeconds - b0) // builds reported separately
        val (gMs, jMs) = (gcMillis - g0, jitMillis - j0)
        val m = metrics.snapshot(t0, if (built < 0) t1 else built, t1)
        spark.catalog.clearCache() // teardown outside the timed region
        val ext =
          if (busy0 < 0 || prc0 < 0 || wall <= 0) -1.0
          else math.max(0.0, ((busy1 - busy0) - (prc1 - prc0)) / wall)
        val stl =
          if (steal0 < 0 || wall <= 0) -1.0 else (steal1 - steal0) / wall
        Rep(if (ok) sec else -1.0, gMs, jMs, la,
          math.rint(ext * 100) / 100, math.rint(stl * 100) / 100,
          ext + stl > SuspectExtCores && wall > SuspectMinWall,
          hMb, mMb, cMb, m)
      }
    }
    val firstPass = sorted.map { case (name, fn) => name -> measure(name, fn) }
    // Suspect-rep re-run pass (r17, VERDICT r16 item 5): a steal storm
    // crossing a query's alphabetical slot can contaminate ALL of its
    // reps — the median is then a measurement of the hypervisor, not the
    // code (r16 final pair: llm_sql_surface_remove 6.15 s at 4.3-7.3
    // stolen cores vs its 2.76 s clean profile, all three reps flagged).
    // After the suite, every all-suspect query is measured once more
    // (storms pass; the tail of the suite is usually outside the storm
    // window); the artifact reports whichever rep set carries FEWER
    // suspect flags and keeps the other under `_diag.<q>.sec_rerun…` so
    // both measurements stay on the record. Queries with at least one
    // clean rep keep their original median (the median of 3 already
    // rides over one bad rep).
    val samples = firstPass.map { case (name, rs) =>
      if (!rs.forall(_.suspect)) (name, rs, None)
      else {
        System.err.println(s"[bench] $name: all $reps reps suspect; re-running once")
        val rs2 = measure(name, SparkEntry.queries(name))
        if (rs2.count(_.suspect) < rs.size) (name, rs2, Some(rs))
        else (name, rs, Some(rs2))
      }
    }
    // subset runs are the local-iteration/probe path and write no
    // artifact — print each rep's diag and layer split to stderr, then the
    // last rep's stage table, so a probe can read wall vs cpu_s vs ext
    // and where the wall went without a full-suite run
    if (subset.nonEmpty) samples.foreach { case (name, rs, _) =>
      rs.zipWithIndex.foreach { case (r, i) =>
        System.err.println(
          f"[bench-diag] $name rep${i + 1} sec=${r.sec}%.3f cpu_s=${r.m.taskCpuS}%.1f " +
            f"load=${r.load}%.2f ext=${r.extCores}%.2f steal=${r.stealCores}%.2f " +
            f"suspect=${r.suspect} gc=${r.gcMs}ms jit=${r.jitMs}ms " +
            f"heap=${r.heapMb}MB meta=${r.metaMb}MB code=${r.codeMb}MB")
        System.err.println(s"[bench-diag] $name rep${i + 1} ${r.m.describe}")
      }
      System.err.println(s"[bench-diag] ==== $name stages (rep ${rs.size}) ====")
      rs.last.m.stageTable.foreach(st => System.err.println(s"[bench-diag]   ${st.describe}"))
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = samples.map { case (name, rs, _) =>
      name -> (if (rs.exists(_.sec < 0)) -1.0 else median(rs.map(_.sec)))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val matSec = Materialize.buildSeconds
    val total = results.map(_._2).filter(_ >= 0).sum + matSec
    // The driver's BENCH_r<N>.json artifact tail-truncates the stdout
    // line, losing all but the last ~60 per-query timings — so only a
    // minority of queries were round-over-round comparable. Persist the
    // COMPLETE per-query map ourselves (one query per line, name-sorted
    // → stable diffs), round-stamped from the driver artifacts already
    // in the repo (BENCH_r05.json present ⇒ this run belongs to r6).
    // Full-suite runs only: subset runs would clobber the round's
    // artifact with a partial map.
    if (subset.isEmpty) {
      val repo = new java.io.File("/root/repo")
      val round = repo.listFiles((_, n) => n.matches("BENCH_r\\d+\\.json"))
        .map(_.getName.replaceAll("\\D", "").toInt).foldLeft(0)(math.max) + 1
      val builds = Materialize.buildBreakdown
        .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      // everything is ALWAYS in _diag: the runs that need telling apart
      // (ambient load vs regression) are the ones nobody thought to instrument
      def num(v: Double): String =
        if (v == math.rint(v)) v.toLong.toString else (math.rint(v * 1000) / 1000).toString
      def arr[T](xs: Seq[T]): String = xs.mkString("[", ",", "]")
      val suspectReps = samples.map(_._2.count(_.suspect)).sum
      val rerunQueries = samples.count(_._3.nonEmpty)
      val diagBody = samples.map { case (k, rs, other) =>
        val sus = if (!rs.exists(_.suspect)) ""
          else s""","suspect":${arr(rs.map(_.suspect))}"""
        // the rep set NOT reported (all-suspect re-run pass): kept on
        // the record so both measurements are auditable
        val rerun = other.map { o =>
          s""","sec_rerun":${arr(o.map(_.sec))},"steal_rerun":${arr(o.map(_.stealCores))}""" +
            s""","suspect_rerun":${arr(o.map(_.suspect))}"""
        }.getOrElse("")
        val jvm = s""","gc_ms":${arr(rs.map(_.gcMs))},"jit_ms":${arr(rs.map(_.jitMs))}""" +
          s""","heap_mb":${arr(rs.map(_.heapMb))},"meta_mb":${arr(rs.map(_.metaMb))}""" +
          s""","code_mb":${arr(rs.map(_.codeMb))}"""
        val layers = rs.map(_.m.layers).transpose.map { col =>
          s""","${col.head._1}":${arr(col.map(l => num(l._2)))}"""
        }.mkString
        s"""    "$k": {"sec":${arr(rs.map(_.sec))},"load":${arr(rs.map(_.load))},""" +
          s""""cpu_s":${arr(rs.map(r => math.rint(r.m.taskCpuS * 1000) / 1000))},""" +
          s""""ext":${arr(rs.map(_.extCores))},"steal":${arr(rs.map(_.stealCores))}$sus$rerun$jvm$layers}"""
      }.mkString("  \"_diag\": {\n", ",\n", "\n  },\n")
      // per-layer roll-up: the sum over measured queries of each field's
      // median, the same rows _total_sec sums
      val layersBody = samples.filter(_._2.forall(_.sec >= 0))
        .map(_._2.map(_.m.layers).transpose.map(col => col.head._1 -> median(col.map(_._2))))
        .transpose.map(col => s""""${col.head._1}": ${num(col.map(_._2).sum)}""")
        .mkString("{", ", ", "}")
      val body = results.map { case (k, v) => s"""  "$k": $v""" }
        .mkString(s"""{\n  "_sf": "$sfDir",\n  "_total_sec": $total,\n  "_reps": $reps,\n  "_warmup_reps": 1,\n  "_suspect_reps": $suspectReps,\n  "_rerun_queries": $rerunQueries,\n  "_shuffle_partitions": $shuffleWidth,\n  "_materialize_sec": $matSec,\n  "_materialize_builds": $builds,\n  "_layers": $layersBody,\n$diagBody""",
          ",\n", "\n}\n")
      // non-driver scales (e.g. the sf1 audit runs) get their own
      // artifact name so they never clobber the round's sf0.1 record
      val sfTag = new java.io.File(sfDir).getName
      val scale = if (sfTag == "sf0.1") "" else s"_$sfTag"
      // overwrite guard: a COMMITTED round artifact is evidence — the
      // r13 driver's post-round re-run (made under external load)
      // silently clobbered the committed pair file on disk. If the
      // target exists and is git-clean (tracked, unmodified), write a
      // "-postN"-suffixed sibling instead; a dirty/untracked target is
      // still in-progress and fine to overwrite.
      def gitClean(p: java.nio.file.Path): Boolean =
        try {
          val pr = new ProcessBuilder("git", "-C", "/root/repo", "status",
            "--porcelain", "--", p.getFileName.toString).start()
          val out = new String(pr.getInputStream.readAllBytes()).trim
          pr.waitFor()
          out.isEmpty && {
            val ls = new ProcessBuilder("git", "-C", "/root/repo", "ls-files",
              "--error-unmatch", p.getFileName.toString).start()
            ls.getInputStream.readAllBytes(); ls.waitFor() == 0
          }
        } catch { case e: Throwable =>
          // fail CLOSED: if git itself can't answer, assume the file is
          // committed evidence and divert to the -post sibling — the
          // open failure mode is exactly the clobber the guard prevents
          System.err.println(
            s"[bench] git status for $p failed (${e.getMessage}); treating as committed")
          true
        }
      val base = java.nio.file.Paths.get(s"/root/repo/bench_full${scale}_r$round.json")
      val target = if (!java.nio.file.Files.exists(base) || !gitClean(base)) base
        else Iterator.from(1)
          .map(i => java.nio.file.Paths.get(
            s"/root/repo/bench_full${scale}_r$round-post${if (i == 1) "" else i}.json"))
          .find(p => !java.nio.file.Files.exists(p) || !gitClean(p)).get
      if (target != base)
        System.err.println(s"[bench] $base is committed round evidence; writing $target")
      java.nio.file.Files.writeString(target, body)
    }
    spark.stop()
    // The ONE-LINE JSON contract line is printed LAST, after the
    // artifact write and session stop, and explicitly flushed (r17,
    // VERDICT r16 item 1): the driver captures a bounded TAIL of stdout
    // and BENCH_r15 lost its entire per-query map because later output
    // pushed the line's head out of the window. Nothing may write to
    // stdout after this (stderr is fine — the driver parses stdout).
    println(s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"materialize_sec":$matSec,"queries":$qs,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
