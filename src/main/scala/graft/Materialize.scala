package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped shared materialization of expensive FIXPOINT artifacts
  * (the minhash near-dup cluster map, the k-NN edge set, its connected
  * components): iterative closures whose driver-orchestrated loops run
  * eagerly at plan-build time, so every query that consumes one would
  * otherwise re-execute the whole fixpoint — at sf1 the cluster map alone
  * was independently recomputed by five registered queries and the k-NN
  * graph by eight.
  *
  * This is the engine's materialized-view discipline applied inside one
  * session: the FIRST consumer builds the artifact and pins it as an
  * eagerly-materialized `localCheckpoint` (executor-local blocks, lineage
  * truncated — the same mechanism the fixpoint loops already use per
  * round); every later consumer's plan starts from the checkpointed leaf
  * relation with ZERO of the clustering/candidate-join shuffles
  * (contract pinned by PlanShapeSpec). Keyed by (per-session-instance
  * UUID, data dir, artifact name), so different sessions, corpora, or
  * tests never share — each session instance draws a fresh UUID, unlike
  * `identityHashCode`, whose values can collide between live sessions and
  * be REUSED after a session is garbage-collected (a new session could be
  * handed a dead session's frame whose checkpoint blocks are gone).
  *
  * Concurrency: shared builders NEST (the cluster map consumes the shared
  * pair set; the component map consumes the shared undirected graph,
  * which consumes the shared k-NN graph). `ConcurrentHashMap` forbids a
  * mapping function that updates other keys of the same map — it can
  * throw `IllegalStateException("Recursive update")` or livelock when
  * the keys land in the same bin. So `computeIfAbsent` only ever inserts
  * an UNFORCED lazy holder; the build (and any nested [[shared]] call it
  * makes) runs after the map operation returns. Builds must be acyclic
  * in their [[shared]] dependencies — they are: pairs ← clusters,
  * graph ← undirected ← components — which also makes the per-holder
  * lazy-val monitors deadlock-free under concurrent forcing.
  *
  * Staleness: the holder records the data dir's newest mtime at pin
  * time; a later call that observes a different stamp drops the pinned
  * frame and rebuilds (a caller that mutates the corpus dir mid-session
  * gets fresh artifacts, not silently stale ones). The replaced
  * holder's checkpoint blocks are NOT unpersisted at replacement — a
  * consumer still executing against the old frame keeps its snapshot —
  * they retire at the next [[invalidate]] or application end (the
  * deferred-drop queue). Non-local URIs
  * (`hdfs://`, `s3://`) stamp as 0 and the guard degrades to
  * never-invalidate — there the corpus dir is an immutable snapshot by
  * pipeline contract, exactly like the inter-stage tables a production
  * run writes.
  *
  * Lifecycle — stated precisely, because the map is STATIC: an entry is
  * held strongly until (a) [[invalidate]] is called for its session,
  * (b) its dir-stamp check fails, or (c) the owning SparkContext stops
  * (an application-end listener, installed once per context, clears the
  * map). Entries do NOT become collectable merely because a session
  * object is dropped — the pinned DataFrame itself references its
  * session, so no weak-keying scheme can reclaim them. A driver that
  * creates many short-lived sessions over the same context
  * (`spark.newSession()` per job) must therefore call [[invalidate]]
  * when a job's session retires, or its checkpoint blocks stay on
  * executors until the application ends.
  *
  * Storage is bounded and corpus-row-shaped (one row per doc / per edge
  * of the sparse k-NN graph), never quadratic; at cluster scale the same
  * artifacts are what a production pipeline writes to a table between
  * stages. On executor loss `localCheckpoint` blocks recompute from
  * lineage-truncated parents; a multi-hour production run would flip to
  * reliable `checkpoint`/a table — identical plan shape (see
  * [[graft.functions.GraphRank]] scaladoc). Deliberately NOT
  * `spark.catalog` cache: `clearCache()` between unrelated queries (the
  * bench/verify teardown, any operator's own cache hygiene) must not
  * evict a corpus-level artifact that is valid for the whole session.
  */
object Materialize {

  /** One artifact slot. The checkpoint is built by forcing [[df]] — i.e.
    * AFTER the `compute` that inserted the holder has returned — never
    * inside the mapping function (see scaladoc above). [[builtOpt]]
    * exposes the pinned frame ONLY once the build completed, so eviction
    * can unpersist exactly the blocks that exist (a holder evicted
    * mid-build leaves its blocks to the ContextCleaner — the build
    * thread still holds the frame, so they are live, not leaked).
    */
  private final class Holder(val dirStamp: Long, build: () => DataFrame) {
    @volatile private var built: DataFrame = _
    lazy val df: DataFrame = { val d = build(); built = d; d }
    def builtOpt: Option[DataFrame] = Option(built)
  }

  private val memo = new ConcurrentHashMap[String, Holder]()

  // Build clock: wall-nanos spent INSIDE fixpoint builds since the last
  // reset, per artifact name and in total. Bench subtracts the per-
  // measurement delta from each query's timing and reports the builds
  // as their own `_materialize_sec` line — build-vs-read costs stay
  // comparable across rounds without decomposing per-query deltas, and
  // the query medians measure the shared-read path every consumer after
  // the first actually takes.
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong()
  private val buildLog = new ConcurrentHashMap[String, java.lang.Long]()
  // builds NEST (clusters force the shared pair set); only the OUTERMOST
  // span on a thread is clocked, so each wall-second is counted once —
  // a nested artifact's cost is attributed to the build that triggered it
  private val nestDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  private def timed(name: String)(body: => DataFrame): DataFrame = {
    val outermost = nestDepth.get == 0
    nestDepth.set(nestDepth.get + 1)
    val t0 = System.nanoTime()
    try {
      val out = body
      // recorded only on SUCCESS: a throwing lazy-val initializer is
      // retried on the next access, so charging failed attempts would
      // inflate _materialize_sec with spans that produced no artifact
      if (outermost) {
        val dt = System.nanoTime() - t0
        buildNanos.addAndGet(dt)
        buildLog.merge(name, dt, (a, b) => a + b)
      }
      out
    } finally nestDepth.set(nestDepth.get - 1)
  }

  /** Zero the build clock (Bench, at the start of its measured phase). */
  def resetBuildClock(): Unit = { buildNanos.set(0); buildLog.clear() }

  /** Seconds spent in fixpoint builds since the last reset. */
  def buildSeconds: Double = buildNanos.get / 1e9

  /** Per-artifact build seconds since the last reset, name-sorted. */
  def buildBreakdown: Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    buildLog.forEach((k, v) => out += (k -> v.toDouble / 1e9))
    out.result().sortBy(_._1)
  }
  // one application-end cleaner per SparkContext (keyed by applicationId)
  private val cleanerInstalled = new ConcurrentHashMap[String, java.lang.Boolean]()

  // Identity-keyed UUID per session INSTANCE (SparkSession doesn't
  // override equals, so WeakHashMap hashing is identity hashing here —
  // but unlike a raw identityHashCode key, two live sessions can never
  // collide and a GC'd session's id is never reissued: a new instance
  // always draws a fresh UUID). Values are plain strings with no
  // back-reference to the key, so a retired session's registry entry
  // really is collectable. The abstract sql.SparkSession API exposes no
  // session UUID, hence this registry instead of a cast to the classic
  // implementation class.
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private def prefix(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString) + "|"

  /** Newest mtime under `dir` (the dir itself or any direct child — file
    * adds, deletes and rewrites all move it). 0 for non-local URIs.
    */
  private def dirStamp(dir: String): Long = {
    val f = new java.io.File(dir)
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .foldLeft(f.lastModified())((m, c) => math.max(m, c.lastModified()))
  }

  /** The shared artifact `name` for (session, dir): built + pinned on
    * first call, the checkpointed frame on every later call, rebuilt if
    * the dir changed since pinning.
    */
  def shared(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    installCleaner(spark)
    val key = prefix(spark) + dir + "|" + name
    val stamp = dirStamp(dir)
    def fresh = new Holder(stamp, () => timed(name)(build.localCheckpoint(eager = true)))
    // Atomic staleness check-and-replace under the bin lock. ANY stamp
    // difference is stale — a strictly-newer-only check served an
    // in-place rewrite with preserved/older timestamps (cp -p, tar
    // extract over existing files) stale forever. The race this
    // reopens is benign and self-healing: a thread whose dirStamp read
    // predates a concurrent mutation can momentarily regress a fresh
    // re-pin, but every call re-reads the stamp on entry, so the next
    // caller re-pins at the live stamp — the cost is one redundant
    // build, never a stale or broken frame (the regressed holder's
    // build reads the CURRENT dir contents, and its checkpoint retires
    // through the deferred-drop queue below, not an eager unpersist).
    // The mapping function only constructs unforced holders — no
    // build, no nested map update (see class scaladoc).
    var evicted: Holder = null
    val h = memo.compute(key, (_, cur) => {
      if (cur == null) fresh
      else if (stamp != cur.dirStamp) { evicted = cur; fresh }
      else cur
    })
    // DEFERRED drop: localCheckpoint truncates lineage, so eagerly
    // unpersisting a staleness-evicted holder would break a consumer
    // still executing against the old frame (concurrent query during a
    // mid-session corpus mutation) with "checkpoint block not found"
    // instead of letting it finish on the old snapshot. Evicted holders
    // queue here and their blocks are reclaimed at the next explicit
    // [[invalidate]] (the caller's assertion that no consumers remain)
    // or at application end — until then the old frame stays readable.
    if (evicted != null) pendingDrop.add(key -> evicted)
    h.df // forced OUTSIDE any in-flight map mutation — nesting is safe
  }

  // staleness-evicted holders awaiting block reclamation, keyed so an
  // UNRELATED session's invalidate never ends this session's grace
  private val pendingDrop =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Holder)]()

  private def drainPending(prefix: String): Unit = {
    val keep = new java.util.ArrayList[(String, Holder)]()
    var e = pendingDrop.poll()
    while (e != null) {
      if (e._1.startsWith(prefix)) drop(e._2) else keep.add(e)
      e = pendingDrop.poll()
    }
    pendingDrop.addAll(keep) // double-drop on a racing re-add is a
    // harmless idempotent unpersist
  }

  /** Unpersist a retired holder's checkpoint blocks. `localCheckpoint`
    * pins the plan's materialized RDD via the `LogicalRDD` leaf; without
    * this, evicted entries' blocks sit on executors until the
    * ContextCleaner notices the RDD is garbage POST-GC — a long-lived
    * session invalidating repeatedly would accumulate dead blocks
    * between GCs.
    */
  private def drop(h: Holder): Unit =
    h.builtOpt.foreach { d =>
      d.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ =>
      }
    }

  /** Unpersist a SUPERSEDED loop checkpoint's blocks — the retirement
    * step of [[graft.functions.Fixpoint]] (which states why) and of BPE
    * training's lazy rounds.
    *
    * Guard: acts only when the frame's analyzed plan IS the bare
    * `LogicalRDD` leaf a `localCheckpoint()` call returns — a
    * composite plan is never reached into, so passing a derived frame
    * is a no-op rather than a risk of dropping a leaf someone else
    * still reads. Callers must still never pass a session-shared
    * artifact handle ([[shared]] returns exactly such a bare leaf);
    * those retire through [[invalidate]]'s deferred-drop queue.
    */
  def retireCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Drop every artifact pinned for `spark` (all dirs), unpersisting
    * their checkpoint blocks eagerly (not waiting for the
    * ContextCleaner).
    */
  def invalidate(spark: SparkSession): Unit = {
    val p = prefix(spark)
    val it = memo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(p)) { drop(e.getValue); it.remove() }
    }
    drainPending(p) // staleness-evicted holders' grace period ends here
  }

  /** Artifact count for `spark` — test observability. */
  def pinnedCount(spark: SparkSession): Int = {
    val p = prefix(spark)
    var n = 0
    memo.forEach((k, _) => if (k.startsWith(p)) n += 1)
    n
  }

  private def installCleaner(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    cleanerInstalled.computeIfAbsent(appId, _ => {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          memo.clear()
          pendingDrop.clear() // blocks die with the context
          cleanerInstalled.remove(appId)
        }
      })
      java.lang.Boolean.TRUE
    })
  }
}
