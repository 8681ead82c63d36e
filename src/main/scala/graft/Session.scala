package graft

import org.apache.spark.sql.SparkSession

/** Single place for engine session defaults, shared by Verify, Bench and
  * the test suites.
  *
  * Scale posture: shuffle partitions default to the local core count
  * (the driver contract pins local mode); on a real cluster this knob —
  * and `spark.sql.files.maxPartitionBytes` — are sized so a shuffle
  * partition fits in executor memory. AQE is on so skewed shuffles are
  * split and tiny partitions coalesced at runtime, which is the setting
  * that carries a plan from sf0.1 to 100 TB unchanged.
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  /** Shuffle width: explicit SPARK_GRAFT_SHUFFLE wins, then the
    * scale-factor auto-default installed by [[sizeShuffleFor]], then
    * the core count. The knob a real cluster sizes to the target SF:
    * per-task aggregate/join state is data÷width, so a FIXED width
    * means per-task state grows linearly with scale — the one
    * super-linear residue the r14 sf3 basket probe measured (50→168
    * MB/task at 3× data, width 32; width 96 restored linear CPU).
    */
  def shufflePartitions: String =
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .orElse(sys.props.get("graft.shuffle.auto"))
      .getOrElse(cpus)

  /** Shuffle-partition target: ~128 MB of (compressed) input per
    * shuffle partition — the standard cluster sizing rule.
    */
  val TargetPartitionBytes: Long = 128L * 1024 * 1024

  /** Auto shuffle width for a data directory:
    * `max(cores, ⌈input bytes / 128 MB⌉)` — the width a real cluster
    * sizes to the data so per-task shuffle state stays bounded, floored
    * at the core count so every stage can fill the machine.
    *
    * Deliberately NOT a per-scale-factor multiplier: an r15 A/B at sf1
    * (same 10-query subset, fresh JVMs, quiet machine) measured width
    * 96 at 1.84× the wall of width 32 on local[32] — above the core
    * count, extra partitions just add task waves and per-task setup at
    * these data sizes (sf1 is 0.25 GB of parquet), while the per-task
    * aggregate-state growth the sf3 basket probe measured is a
    * state-heavy-query exception that `SPARK_GRAFT_SHUFFLE` probes
    * explicitly. The bytes rule yields the core count at every local
    * SF and keeps growing width only once the data actually needs it
    * (100 TB / 128 MB ≈ 800k partitions, capped in practice by the
    * cluster's own parallelism).
    */
  def autoShuffleWidth(sfDir: String): Int = {
    val bytes =
      try {
        val root = java.nio.file.Paths.get(sfDir)
        if (!java.nio.file.Files.isDirectory(root)) 0L
        else {
          val s = java.nio.file.Files.walk(root)
          try s.filter(p => java.nio.file.Files.isRegularFile(p))
            .mapToLong(p => java.nio.file.Files.size(p)).sum()
          finally s.close()
        }
      } catch { case _: Throwable => 0L }
    val byData = math.ceil(bytes.toDouble / TargetPartitionBytes).toLong
    math.max(cpus.toInt, math.min(byData, 1 << 20).toInt)
  }

  /** Scan-split open-cost floor for a data directory, derived from the
    * parquet ROW-GROUP layout (r16, guide §2.2/§6 — the profile that
    * motivated it is in OPTIMIZATION_r16.md): Spark sizes scan splits
    * as `min(maxPartitionBytes, max(openCostInBytes, bytes/cores))`,
    * so a 4 MB open-cost floor caps a small-but-CPU-dense table at
    * `bytes/4 MB` tasks — at sf1 the 5.9 MB compressed documents
    * corpus scanned as TWO tasks while tokenize/md5/shingle kernels
    * burned 5-10 CPU-seconds on it (30 idle cores; measured 3× wall on
    * `pipeline_dsir_weights` from this setting alone). The floor that
    * actually matters locally is the ROW GROUP: splits below one
    * row-group stride schedule empty tasks (the r6 2.5% regression
    * that set the old 4 MB default). So: open cost = the smallest
    * per-row-group byte stride among the dir's non-trivial parquet
    * files, clamped to [64 KB, 4 MB]. Single-row-group sf0.1 fixtures
    * derive multi-MB strides → clamp to 4 MB, Spark's default, no
    * empty splits; the multi-row-group sf1 layout derives ~0.2-2 MB →
    * scans split to the machine. At cluster scale (files ≥ 128 MB,
    * row groups ~128 MB) `bytes/cores` dominates and the floor never
    * binds — the rule degrades to Spark's own sizing, exactly like
    * [[autoShuffleWidth]].
    *
    * Mixed-layout caveat (ADVICE r16): the MINIMUM stride is one
    * session-wide floor, so a dir mixing a small-stride table with a
    * large SINGLE-row-group table would let splits subdivide the large
    * file's row group and re-pay the r6 empty-split overhead (~2.5%)
    * on that one table. Accepted: the shipped fixtures and gen_scale
    * layouts are stride-homogeneous, the exposure is bounded by the
    * clamp floor (64 KB splits of a ≥1 MB row group), and the
    * alternative — per-scan open costs — is not expressible as a
    * session conf; `SPARK_GRAFT_OPEN_COST` overrides if a mixed layout
    * ever appears.
    */
  def autoOpenCost(sfDir: String): Long = {
    val MinClamp = 64L * 1024
    val MaxClamp = 4L * 1024 * 1024
    val MinFileBytes = 1L * 1024 * 1024 // dims (nation, region) don't bind
    try {
      val root = java.nio.file.Paths.get(sfDir)
      if (!java.nio.file.Files.isDirectory(root)) return MaxClamp
      val conf = new org.apache.hadoop.conf.Configuration()
      var minStride = Long.MaxValue
      val stream = java.nio.file.Files.list(root)
      try stream.iterator().forEachRemaining { p =>
        val sz = try java.nio.file.Files.size(p) catch { case _: Throwable => 0L }
        if (p.toString.endsWith(".parquet") && sz >= MinFileBytes) {
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p.toUri), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val ng = try r.getRowGroups.size finally r.close()
            if (ng > 0) minStride = math.min(minStride, sz / ng)
          } catch { case _: Throwable => } // unreadable footer: skip
        }
      } finally stream.close()
      if (minStride == Long.MaxValue) MaxClamp
      else math.max(MinClamp, math.min(MaxClamp, minStride))
    } catch { case _: Throwable => MaxClamp }
  }

  /** Install the sf-derived width AND scan open-cost as the session
    * defaults (called by Bench/Verify BEFORE the session is built;
    * explicit SPARK_GRAFT_SHUFFLE / SPARK_GRAFT_OPEN_COST still
    * override). Returns the width the next session will use, for
    * artifact recording.
    *
    * The width is carried by a JVM property that is only read at
    * session CONSTRUCTION — if a session already exists
    * (`getOrCreate` reuse in tests or an embedding that built the
    * session first), installing the property is a silent no-op for
    * that session. In that case this returns the width the EXISTING
    * session actually runs with, so an artifact recorded from the
    * return value never claims a width that didn't apply.
    */
  def sizeShuffleFor(sfDir: String): Int = {
    sys.props("graft.shuffle.auto") = autoShuffleWidth(sfDir).toString
    sys.props("graft.opencost.auto") = autoOpenCost(sfDir).toString
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) if !s.sparkContext.isStopped =>
        System.err.println(
          "[session] sizeShuffleFor called with a live SparkSession: the " +
            "auto width applies only to FUTURE sessions; reporting the " +
            "live session's actual width")
        s.conf.get("spark.sql.shuffle.partitions").toInt
      case _ => shufflePartitions.toInt
    }
  }

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor. With parallelismFirst (default on), AQE
      // coalesces post-shuffle stages down to `shuffled bytes /
      // minPartitionSize` when that is SMALLER than the core count —
      // and this engine's shuffles carry compressed text whose
      // downstream work is CPU-dense (candidate-pair generation,
      // kernels): the r16 profile caught the simhash banded self-join
      // running as FIVE tasks (6 MB shuffled, 5.3 cpu-s of pair
      // emission, stage wall = one straggler task). 64 KB lets a
      // cpu-dense small shuffle keep the machine busy; at cluster
      // scale the advisory size and genuine data volumes dominate and
      // the floor never binds (same stance as autoOpenCost).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        (64 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // Scan-split open-cost floor: explicit SPARK_GRAFT_OPEN_COST wins,
      // then the row-group-derived auto value installed by
      // [[sizeShuffleFor]] (see [[autoOpenCost]] — the r16 change that
      // un-capped the 2-task corpus scans at sf1), then Spark's 4 MB
      // default (correct for the single-row-group sf0.1 fixtures, where
      // sub-file splits schedule only empty tasks).
      .config("spark.sql.files.openCostInBytes",
        sys.env.get("SPARK_GRAFT_OPEN_COST")
          .orElse(sys.props.get("graft.opencost.auto"))
          .getOrElse((4 * 1024 * 1024).toString))
      // ObjectHashAggregateExec (collect_set/collect_list and every
      // TypedImperativeAggregate) falls back to SORT-based aggregation
      // once a task's hash map holds this many keys. Default stays
      // Spark's 128: an r16 A/B at sf1 raised it to 256k expecting the
      // sort fallback to be the basket/collect bottleneck and measured
      // the OPPOSITE — `basket_lift_pairs`' collect_set stage ran
      // 50.2 s task-time with 12.5 s GC under hash aggregation vs
      // 31.4 s / 6.2 s sort-based (the sorted path feeds sorted runs
      // to the merging buffer; the big map churns the 8 GB heap).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
      // events.parquet carries TIMESTAMP(NANOS); Spark only reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // RocksDB-backed streaming state: state spills to local disk
      // instead of living on the JVM heap — the setting that lets the
      // stateful operators (dedup, CEP, stream-stream joins) carry
      // 100 TB-scale key cardinalities.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      // Plan-description verbosity for listener events. Every query
      // execution EAGERLY formats its physical plan into the
      // SQLExecutionStart event, and AQE re-formats it for EVERY stage
      // materialization (SQLAdaptiveExecutionUpdate) — with the default
      // "formatted" mode that is the full operator-detail explain, paid
      // on the driver between jobs. With the UI off nothing ever renders
      // the string; "simple" keeps the event contract at a fraction of
      // the formatting cost (r17 driver-latency work, guide §1.2 —
      // measured as part of the per-stage-transition gap). Purely a
      // diagnostics-verbosity knob: plans, results and scheduling are
      // untouched at any scale.
      .config("spark.sql.ui.explainMode", "simple")
      // catalog tables (bucketed layouts) land outside the repo tree
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))

  def get(appName: String): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // engine SQL surface (tokenize, tokenize_explode, word_tiles,
    // struct_sort_project, md5_prefix60, minhash_sig, simhash_fp,
    // word_shingles, long_array_dot, sketch aggregates); idempotent
    org.apache.spark.sql.graftexpr.GraftFunctions.registerAll(s)
    s
  }
}
