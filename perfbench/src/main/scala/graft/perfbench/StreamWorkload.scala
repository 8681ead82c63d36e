package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft._
import graft.sources.FileTransport
import graft.sources.GmallSchemas.{OrderDetail, OrderInfo, TableProcess}
import graft.streaming._

/** Open-loop replay of the real-time warehouse: gmall-shaped `ods_base_log`
  * and `ods_base_db` feeds, derived from the sf tables, flow through
  * `FileTransport` into the streaming twins (RocksDB state, parquet and
  * dim-store sinks). Setup preloads the dimensions and one warm batch; the
  * backfill phase drains a pre-written backlog; the live phase writes one
  * file per topic on a fixed schedule for --seconds. Afterwards every
  * twin's sink is compared with its batch twin on the replayed input.
  */
object StreamWorkload {
  private val LogTopic = "ods_base_log"
  private val DbTopic = "ods_base_db"

  private val routes = Seq(
    TableProcess("order_info", "insert", "kafka", "dwd_order_info",
      "id,user_id,province_id,total_amount,create_time"),
    TableProcess("order_detail", "insert", "kafka", "dwd_order_detail",
      "id,order_id,sku_id,sku_num,order_price,create_time"),
    TableProcess("user_info", "insert", "hbase", "dim_user_info", "id,name,birthday,gender,op_ts"),
    TableProcess("user_info", "update", "hbase", "dim_user_info", "id,name,birthday,gender,op_ts"),
    TableProcess("base_province", "insert", "hbase", "dim_base_province",
      "id,name,area_code,iso_code,iso_3166_2,op_ts"),
    TableProcess("sku_info", "insert", "hbase", "dim_sku_info",
      "id,spu_id,tm_id,category3_id,sku_name,op_ts"))
  // one merge per dim table (insert and update route to the same table)
  private val dimRoutes = routes.filter(_.sinkType == "hbase").groupBy(_.sinkTable)
    .values.map(_.head).toSeq.sortBy(_.sinkTable)
  private val opSeq = col("row").getItem("op_ts").cast("long")

  /** Feed lines in event-time order. */
  final case class Feeds(warmLog: Seq[String], backlogLog: Seq[String], liveLog: Seq[String],
      warmDb: Seq[String], backlogDb: Seq[String], liveDb: Seq[String])

  def run(spark: SparkSession, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    val work = ctx.work
    val in = s"$work/in"
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    Seq(s"$in/$LogTopic", s"$in/$DbTopic", s"$in/.staging")
      .foreach(d => Files.createDirectories(Paths.get(d)))
    val periodMs = ctx.num("live_period_ms").toLong
    def phase(msg: String): Unit =
      System.err.println(f"[perfbench] stream ${ctx.setupSeconds}%.1fs $msg")
    val (feeds, ticks) = readFeeds(s"$work/feeds")
    val rng = new scala.util.Random(ctx.seed)
    var fileSeq = 0
    def put(topic: String, lines: Seq[String]): String = {
      fileSeq += 1
      val name = f"$fileSeq%06d.json"
      val tmp = Paths.get(s"$in/.staging/$name")
      Files.writeString(tmp, lines.mkString("\n") + "\n")
      val dst = Paths.get(s"$in/$topic/$name")
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      name
    }

    // ---- setup: the dimension snapshot is bulk-loaded through the batch
    // path of the same merge before the changelog streams start, so no
    // order is enriched before its dimensions exist
    phase("loading dimension snapshot")
    val snapshot = spark.read.schema("value STRING").text(s"$work/feeds/dims.jsonl")
    CdcRouter.sinkDims(s"$out/dim_store", CdcRouter.route(CdcRouter.parse(snapshot), routes)._2,
      dimRoutes, opSeq)

    // ---- the twins -------------------------------------------------------
    phase("starting twins")
    val transport = new FileTransport(in)
    val events = LogPipeline.clean(LogPipeline.parse(transport.readStream(spark, LogTopic)))
    val names = mutable.LinkedHashMap[java.util.UUID, String]()
    def named(q: StreamingQuery, n: String): StreamingQuery = { names(q.id) = n; q }
    val sinkMergeMs = new java.util.concurrent.atomic.DoubleAdder()
    val sinkMergeRows = new java.util.concurrent.atomic.DoubleAdder()

    val splitQ = events.writeStream.queryName("log_split")
      .option("checkpointLocation", s"$ckpt/log_split")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val p = b.persist()
        val (s, pg, d) = LogPipeline.split(p)
        s.write.mode("append").parquet(s"$out/dwd_start_log")
        pg.write.mode("append").parquet(s"$out/dwd_page_log")
        d.write.mode("append").parquet(s"$out/dwd_display_log")
        p.unpersist(); ()
      }.start()
    val typed = events.select($"common.mid".as("mid"), $"common.is_new".as("is_new"),
      $"page.page_id".as("page_id"), $"page.last_page_id".as("last_page_id"), $"ts")
      .as[LogPipeline.LogEvent](Encoders.product[LogPipeline.LogEvent])
    val isNewQ = LogPipeline.fixIsNewStreaming(typed).writeStream.queryName("is_new")
      .format("parquet").option("path", s"$out/dwd_is_new")
      .option("checkpointLocation", s"$ckpt/is_new").start()
    val pages = events.filter($"page".isNotNull)
      .select($"common.mid".as("mid"), $"page.page_id".as("page_id"),
        $"page.last_page_id".as("last_page_id"), $"ts")
    val pageEv = pages.as[VisitorPipeline.PageEvent](Encoders.product[VisitorPipeline.PageEvent])
    val uvQ = VisitorPipeline.uvStreaming(pages).writeStream.queryName("uv")
      .format("parquet").option("path", s"$out/dwm_uv")
      .option("checkpointLocation", s"$ckpt/uv").start()
    val bounceQ = VisitorPipeline.bounceStreaming(pageEv).writeStream.queryName("bounce")
      .format("parquet").option("path", s"$out/dwm_user_jump")
      .option("checkpointLocation", s"$ckpt/bounce").start()
    val dwsQ = DwsSink.maintain(
      WindowedAggs.tumblingCounts(pages.select($"page_id", $"ts"), Seq("page_id")),
      s"$out/dws_store", "dws_page_hourly", Seq("window_start", "page_id"), s"$ckpt/dws")
    val cdcQ = transport.readStream(spark, DbTopic).writeStream.queryName("cdc")
      .option("checkpointLocation", s"$ckpt/cdc")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val p = b.persist()
        val (toKafka, toDim) = CdcRouter.route(CdcRouter.parse(p), routes)
        toKafka.write.mode("append").parquet(s"$out/kafka_shaped")
        val t0 = System.nanoTime()
        CdcRouter.sinkDims(s"$out/dim_store", toDim, dimRoutes, opSeq)
        sinkMergeMs.add((System.nanoTime() - t0) / 1e6)
        tracer.foreach { t =>
          t.record("sink.merge", "sink", "cdc", t.now() - (System.nanoTime() - t0) / 1e6, t.now())
          sinkMergeRows.add(toDim.count().toDouble)
        }
        p.unpersist(); ()
      }.start()
    val (info, detail) = orderStreams(spark, CdcRouter.parse(transport.readStream(spark, DbTopic)))
    val owQ = OrderWidePipeline.intervalJoinStreaming(info, detail)
      .writeStream.queryName("order_wide").outputMode("append")
      .option("checkpointLocation", s"$ckpt/order_wide")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty)
          OrderWidePipeline.enrich(b, readDims(spark, s"$out/dim_store"))
            .write.mode("append").parquet(s"$out/dwm_order_wide")
        ()
      }.start()
    named(splitQ, "log_split"); named(isNewQ, "is_new"); named(uvQ, "uv")
    named(bounceQ, "bounce"); named(dwsQ, "dws"); named(cdcQ, "cdc"); named(owQ, "order_wide")
    val logQs = Seq(splitQ, isNewQ, uvQ, bounceQ, dwsQ)
    val dbQs = Seq(cdcQ, owQ)
    val all = logQs ++ dbQs
    def drainAll(): Unit = all.foreach(_.processAllAvailable())

    // ---- setup, continued: one warm batch through every twin -------------
    phase("warm batch")
    put(DbTopic, feeds.warmDb)
    put(LogTopic, feeds.warmLog)
    drainAll()
    val setup = ctx.setupSeconds
    tracer.foreach(_.install())

    // ---- backfill: a pre-written backlog appears at once and is drained ---
    val backlogEvents = feeds.backlogLog.size + feeds.backlogDb.size
    // one file per topic, so each twin sees its whole backlog at once
    val staged = Seq(LogTopic -> feeds.backlogLog, DbTopic -> feeds.backlogDb).map {
      case (topic, lines) =>
        fileSeq += 1
        val name = f"$fileSeq%06d.json"
        val tmp = Paths.get(s"$in/.staging/$name")
        Files.writeString(tmp, lines.mkString("\n") + "\n")
        tmp -> Paths.get(s"$in/$topic/$name")
    }
    phase("backfill")
    val c0 = Main.processCpuS()
    val b0 = System.nanoTime()
    staged.foreach { case (tmp, dst) => Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE) }
    drainAll()
    val catchupS = (System.nanoTime() - b0) / 1e9
    val catchupCpu = Main.processCpuS() - c0

    // ---- live: one file per topic every period, on a fixed schedule ------
    phase("live")
    val scheduled = mutable.LinkedHashMap[String, (String, Double)]() // file -> (topic, due ms)
    val late = mutable.ArrayBuffer[Double]()
    val liveStart = System.currentTimeMillis() + 200.0
    val logChunks = feeds.liveLog.grouped(math.max(1, feeds.liveLog.size / ticks)).toVector
    val dbChunks = feeds.liveDb.grouped(math.max(1, feeds.liveDb.size / ticks)).toVector
    for (i <- 0 until ticks) {
      val due = liveStart + i * periodMs + rng.nextDouble() * periodMs * 0.2
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait.toLong)
      late += math.max(0.0, System.currentTimeMillis() - due)
      if (i < logChunks.size) scheduled(put(LogTopic, logChunks(i))) = (LogTopic, due)
      if (i < dbChunks.size) scheduled(put(DbTopic, dbChunks(i))) = (DbTopic, due)
    }
    val liveEnd = System.currentTimeMillis().toDouble
    drainAll()

    // ---- flush: the bounce twin holds output back until its watermark
    // passes; two far-future sentinel lines release it. The other twins
    // stop first, and parity ignores sentinel rows.
    phase("flush")
    val failedQueries = all.count(_.exception.isDefined)
    tracer.foreach(_.drain())
    val progress = all.map(q => names(q.id) -> q.recentProgress.toSeq).toMap
    all.filter(_ != bounceQ).foreach(_.stop())
    put(LogTopic, Seq(sentinelLog(1)))
    bounceQ.processAllAvailable()
    put(LogTopic, Seq(sentinelLog(2)))
    bounceQ.processAllAvailable()
    bounceQ.stop()

    // ---- latency: a live file's due time -> the commit of the batch that
    // consumed it in the last of the twins reading its topic, when the file
    // is reflected everywhere downstream. The file source numbers
    // its own batches (log offsets); a query batch consumed the files of
    // every log offset in (startOffset, endOffset].
    def logOffset(json: String): Long =
      Option(json).flatMap("""\d+""".r.findFirstIn).map(_.toLong).getOrElse(-1L)
    val offsetEnd = progress.map { case (n, ps) =>
      val spans = ps.filter(_.sources.nonEmpty).map { p =>
        (logOffset(p.sources(0).startOffset), logOffset(p.sources(0).endOffset),
          java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
      }
      n -> ((o: Long) => spans.find { case (a, b, _) => a < o && o <= b }.map(_._3))
    }
    val consumedBy = all.map(q => names(q.id) -> fileBatches(s"$ckpt/${names(q.id)}")).toMap
    def commitAt(file: String, twin: String): Option[Double] =
      consumedBy(twin).get(file).flatMap(offsetEnd(twin))
    val perFile = scheduled.toSeq.map { case (file, (topic, due)) =>
      (if (topic == LogTopic) logQs else dbQs).map(q => names(q.id))
        .map(n => n -> commitAt(file, n).map(_ - due))
    }
    val latencies = perFile.filter(_.forall(_._2.isDefined)).map(_.flatMap(_._2).max)
    val unconsumed = perFile.map(_.count(_._2.isEmpty)).sum
    val perTwin = perFile.flatten.collect { case (n, Some(l)) => n -> l }.groupBy(_._1)
      .map { case (n, xs) => n -> Main.percentile(xs.map(_._2), 0.5) }
    val backlogEnd = scheduled.count { case (file, (topic, _)) =>
      (if (topic == LogTopic) logQs else dbQs).exists(q => commitAt(file, names(q.id)).forall(_ > liveEnd))
    }

    // ---- parity: each twin's sink equals its batch twin on the replay ----
    val notes = mutable.ArrayBuffer[String]()
    phase("parity checks")
    val parity = checkParity(spark, transport, out, work, snapshot)
    phase("done")
    parity.filter(!_._2).foreach { case (n, _, msg) => notes += s"$n parity mismatch: $msg" }
    if (unconsumed > 0) notes += s"$unconsumed live file commits failed: never committed"
    all.flatMap(q => q.exception.map(e => s"${names(q.id)} failed: ${e.toString.take(300)}"))
      .foreach(notes += _)
    val batches = progress.values.map(_.size).sum
    val attempted = batches + parity.size + perFile.map(_.size).sum
    val failed = parity.count(!_._2) + failedQueries + unconsumed

    val metrics = Map(
      "setup_s" -> setup,
      "wall_s" -> catchupS,
      "cpu_s" -> catchupCpu,
      "latency_p50_ms" -> Main.percentile(latencies, 0.5),
      "latency_p95_ms" -> Main.percentile(latencies, 0.95),
      "catchup_events_per_s" -> backlogEvents / catchupS)
    val layers = tracer.map { t =>
      t.uninstall()
      streamLayers(t, names.toMap, liveEnd) ++ t.rollup().filter { case (k, _) =>
        k.startsWith("exec.") || k.startsWith("sources.") || k.endsWith(".self_ms")
      } ++ Map(
        "sink.merge_ms" -> sinkMergeMs.sum(),
        "sink.merge_rows" -> sinkMergeRows.sum(),
        "sink.bytes_written" -> dirBytes(Paths.get(out)),
        "stream.backlog_end_files" -> backlogEnd.toDouble)
    }.getOrElse(Map.empty) ++ Map("load.gen_late_ms" -> Main.percentile(late.toSeq, 0.95))
    notes += "live latency p50 per twin (ms): " + perTwin.toSeq.sorted.map { case (n, v) => f"$n=$v%.0f" }.mkString(" ")
    notes += f"backlog_events=$backlogEvents catchup_s=$catchupS%.3f live_files=${scheduled.size} batches=$batches"
    Outcome(attempted, failed, metrics, layers, notes.toSeq)
  }

  // ---------------------------------------------------------------------------

  private def orderStreams(spark: SparkSession, cdc: DataFrame) = {
    def a(c: String) = $"after".getItem(c)
    val info = OrderWidePipeline.deriveOrderInfoTimes(
      cdc.filter($"tableName" === "order_info").select(
        a("id").cast("long").as("id"), a("province_id").cast("long").as("province_id"),
        a("order_status").as("order_status"), a("user_id").cast("long").as("user_id"),
        a("total_amount").cast("decimal(38,18)").as("total_amount"),
        lit(null).cast("decimal(38,18)").as("activity_reduce_amount"),
        lit(null).cast("decimal(38,18)").as("coupon_reduce_amount"),
        lit(null).cast("decimal(38,18)").as("original_total_amount"),
        lit(null).cast("decimal(38,18)").as("feight_fee"),
        lit(null).cast("string").as("expire_time"), a("create_time").as("create_time"),
        lit(null).cast("string").as("operate_time")))
      .as[OrderInfo](Encoders.product[OrderInfo])
    val detail = OrderWidePipeline.deriveOrderDetailTimes(
      cdc.filter($"tableName" === "order_detail").select(
        a("id").cast("long").as("id"), a("order_id").cast("long").as("order_id"),
        a("sku_id").cast("long").as("sku_id"), a("sku_num").cast("long").as("sku_num"),
        a("order_price").cast("decimal(38,18)").as("order_price"),
        a("order_price").cast("decimal(38,18)").as("split_total_amount"),
        lit(null).cast("decimal(38,18)").as("split_activity_amount"),
        lit(null).cast("decimal(38,18)").as("split_coupon_amount"),
        a("sku_name").as("sku_name"), a("create_time").as("create_time")))
      .as[OrderDetail](Encoders.product[OrderDetail])
    (info, detail)
  }

  private def readDims(spark: SparkSession, store: String): Map[String, DataFrame] =
    dimRoutes.map(_.sinkTable).filter(t => new java.io.File(s"$store/$t").exists())
      .map(t => t -> spark.read.parquet(s"$store/$t")).toMap

  /** file name -> batch id, from the file source's metadata log. */
  private def fileBatches(queryCkpt: String): Map[String, Long] = {
    val dir = Paths.get(s"$queryCkpt/sources/0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
        Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l).map { m =>
          m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong
        })
      }.toMap
  }

  private def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
      finally s.close()
    }

  private def streamLayers(t: Tracer, names: Map[java.util.UUID, String],
      liveEnd: Double): Map[String, Double] = {
    val ps = t.progress.asScala.toVector.map(_.progress)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).toDouble
    val lags = ps.flatMap { p =>
      for (mx <- Option(p.eventTime.get("max")); wm <- Option(p.eventTime.get("watermark")))
        yield java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli
    }.map(_.toDouble)
    val perQuery = ps.groupBy(_.id)
    def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      perQuery.values.map(qs => qs.map(_.stateOperators.map(f).sum).maxOption.getOrElse(0L)).sum.toDouble
    // batch spans with their duration phases laid out in execution order
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val group = s"${p.id}/${p.batchId}"
      val b = t.record(names.getOrElse(p.id, p.name), "stream", group, start, start + d(p, "triggerExecution"))
      var at = start
      Seq("latestOffset" -> "sources", "walCommit" -> "stream", "getBatch" -> "sources",
        "queryPlanning" -> "plans", "addBatch" -> "exec", "commitOffsets" -> "stream")
        .foreach { case (k, layer) =>
          val s = t.record(k, layer, group, at, at + d(p, k))
          s.parent = b.id
          at += d(p, k)
        }
    }
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.add_batch_ms" -> ps.map(d(_, "addBatch")).sum,
      "stream.wal_commit_ms" -> ps.map(d(_, "walCommit")).sum,
      "stream.commit_offsets_ms" -> ps.map(d(_, "commitOffsets")).sum,
      "stream.planning_ms" -> ps.map(d(_, "queryPlanning")).sum,
      "sources.list_ms" -> ps.map(p => d(p, "latestOffset") + d(p, "getBatch")).sum,
      "stream.watermark_lag_ms" -> Main.percentile(lags, 0.5),
      "state.rows_peak" -> peak(_.numRowsTotal),
      "state.memory_peak_bytes" -> peak(_.memoryUsedBytes),
      "state.rows_removed" -> ps.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum.toDouble,
      "state.commit_ms" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum.toDouble,
      "state.late_rows_dropped" ->
        ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble)
  }

  // ---- parity ---------------------------------------------------------------

  /** (twin, matches, detail) for every twin. */
  private def checkParity(spark: SparkSession, transport: FileTransport, out: String,
      work: String, snapshot: DataFrame): Seq[(String, Boolean, String)] = {
    def real(df: DataFrame, mid: org.apache.spark.sql.Column) = df.filter(!mid.startsWith("sentinel"))
    val events = real(LogPipeline.clean(LogPipeline.parse(transport.read(spark, LogTopic))),
      $"common.mid").persist()
    val pages = events.filter($"page".isNotNull)
      .select($"common.mid".as("mid"), $"page.page_id".as("page_id"),
        $"page.last_page_id".as("last_page_id"), $"ts")
    def sink(dir: String, mid: org.apache.spark.sql.Column) = real(spark.read.parquet(s"$out/$dir"), mid)
    // checks run concurrently: each is a pair of small independent jobs
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    def same(name: String, stream: => DataFrame, batch: => DataFrame) = scala.concurrent.Future {
      try {
        val (s, b) = (Fingerprint.of(stream), Fingerprint.of(batch))
        (name, s.matches(b), s"stream ${s.toJson} batch ${b.toJson}")
      } catch { case e: Throwable => (name, false, e.toString.take(300)) }
    }
    val (start, page, display) = LogPipeline.split(events)
    val cdc = CdcRouter.parse(transport.read(spark, DbTopic))
    val (toKafka, toDim) = CdcRouter.route(cdc, routes)
    val batchStore = s"$work/batch_dim_store"
    CdcRouter.sinkDims(batchStore,
      CdcRouter.route(CdcRouter.parse(snapshot), routes)._2.unionByName(toDim), dimRoutes, opSeq)
    val (info, detail) = orderStreams(spark, cdc)
    val wideCols = Seq("detail_id", "order_id", "user_id", "sku_id", "sku_num",
      "user_gender", "user_age", "province_name", "spu_id", "tm_id", "category3_id")
    val res = Seq(
      same("log_split.start", sink("dwd_start_log", $"common.mid"), start),
      same("log_split.page", sink("dwd_page_log", $"common.mid"), page),
      same("log_split.display", sink("dwd_display_log", $"common.mid"), display),
      same("is_new", sink("dwd_is_new", $"mid")
          .select("mid", "is_new", "page_id", "last_page_id", "ts"),
        LogPipeline.fixIsNewBatch(events).select($"common.mid", $"common.is_new",
          $"page.page_id", $"page.last_page_id", $"ts")),
      same("uv", sink("dwm_uv", $"mid").select("mid", "dt"),
        VisitorPipeline.uvStreaming(pages).select("mid", "dt")),
      same("bounce", sink("dwm_user_jump", $"mid").select("mid", "page_id", "last_page_id", "ts"),
        VisitorPipeline.bounceBatch(pages)),
      // sentinel windows lie in 2030, past every replayed event
      same("dws", DwsSink.read(spark, s"$out/dws_store", "dws_page_hourly",
          Seq("window_start", "page_id", "n")).filter($"window_start" < "2030"),
        WindowedAggs.tumblingCounts(pages.select($"page_id", $"ts"), Seq("page_id"))
          .select($"window_start".cast("string"), $"page_id".cast("string"), $"n".cast("string"))),
      same("cdc.kafka", spark.read.parquet(s"$out/kafka_shaped"), toKafka)) ++
      dimRoutes.map(_.sinkTable).map { t =>
        same(s"cdc.$t", spark.read.parquet(s"$out/dim_store/$t").select("__pk", "row"),
          spark.read.parquet(s"$batchStore/$t").select("__pk", "row"))
      } :+ same("order_wide",
        spark.read.parquet(s"$out/dwm_order_wide").select(wideCols.map(col): _*),
        OrderWidePipeline.enrich(OrderWidePipeline.intervalJoinBatch(info.toDF(), detail.toDF()),
          readDims(spark, batchStore)).select(wideCols.map(col): _*))
    val done = res.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    events.unpersist()
    done
  }

  // ---- feeds ----------------------------------------------------------------

  private def sentinelLog(n: Int): String =
    s"""{"common":{"mid":"sentinel$n","uid":"0","is_new":"0","ar":"1","ch":"web","vc":"v1","os":"linux","md":"x","ba":"x"},"page":{"page_id":"home","last_page_id":null,"during_time":1},"ts":${1900000000000L + n * 86400000L}}"""
  /** The feeds perfbench/feeds.py derived from the sf tables for this seed. */
  private def readFeeds(dir: String): (Feeds, Int) = {
    def lines(n: String) =
      Files.readAllLines(Paths.get(s"$dir/$n.jsonl")).asScala.toVector.filter(_.nonEmpty)
    val ticks = """\d+""".r.findFirstIn(Files.readString(Paths.get(s"$dir/feeds.json"))).get.toInt
    (Feeds(lines("warm_log"), lines("backlog_log"), lines("live_log"),
      lines("warm_db"), lines("backlog_db"), lines("live_db")), ticks)
  }
}
