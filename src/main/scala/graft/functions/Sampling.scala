package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.Tables._

/** Sampling / mixing / packing operators for a training-data pipeline:
  * deterministic uniform sampling, per-class stratified sampling,
  * weighted corpus mixing, and context-window chunking.
  *
  * All randomness is HASH-derived (md5-prefix60 of a salted record id),
  * never `rand()`: the sample is a pure function of the data, so it is
  * reproducible across runs, engines (the DuckDB oracle draws the same
  * sample), partitionings, and retries — the property a training-data
  * pipeline needs for auditability ("which documents were in the mix
  * for run X?"). Each operator salts the hash differently so samples
  * are independent across operators.
  *
  * Scale shape: every operator is a narrow filter or a TakeOrdered —
  * no shuffle except bottom-k's k-row-per-partition merge and the
  * chunk aggregation's single hash shuffle.
  */
object Sampling {

  /** Uniform sample size for [[uniformK]]. */
  val UniformK = 100

  /** Salted 60-bit sampling priority of a record id. */
  private def priority(salt: String, id: Column): Column =
    Hashing.md5Prefix60(concat(lit(salt), id.cast("string")))

  private def sqlPriority(salt: String, idExpr: String): String =
    Hashing.sqlMd5Prefix60(s"'$salt' || CAST($idExpr AS VARCHAR)")

  /** 31-bit variant, for priorities that must survive integer
    * arithmetic headroom (e.g. the fixed-point weighted key).
    */
  private def priority31(salt: String, id: Column): Column =
    Hashing.md5Hash31(concat(lit(salt), id.cast("string")))

  private def sqlPriority31(salt: String, idExpr: String): String =
    Hashing.sqlMd5Hash31(s"'$salt' || CAST($idExpr AS VARCHAR)")

  /** Deterministic uniform k-sample of the corpus: the k documents with
    * the smallest salted hash — "bottom-k by hash", the classic
    * order-statistics sample. Equivalent to a uniform draw (the hash is
    * uniform on [0, 2^60)), but stable: adding documents only evicts
    * the displaced ones. Compiles to TakeOrderedAndProject:
    * per-partition k-row heaps, k rows to the driver, no full sort.
    */
  def uniformK(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select($"doc_id", priority("sample:", $"doc_id").as("priority"))
      .orderBy($"priority", $"doc_id")
      .limit(UniformK)

  /** DuckDB twin of [[uniformK]]. */
  def sqlUniformK: String =
    s"""SELECT doc_id, ${sqlPriority("sample:", "doc_id")} AS priority
       |FROM documents
       |ORDER BY priority, doc_id LIMIT $UniformK""".stripMargin

  /** Split boundaries (percent) for [[splitAssign]]: train < 90,
    * val < 95, test otherwise.
    */
  val TrainPct = 90
  val ValPct = 95

  /** Deterministic train/val/test assignment: each document's salted
    * hash mod 100 places it in a split. Pure narrow projection — no
    * shuffle, no sampling state, and stable under corpus growth (a
    * document's split never changes when others are added), which is
    * the property that keeps eval sets uncontaminated across dataset
    * versions.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(priority("split:", $"doc_id"), lit(100L))
    documents(spark, dir)
      .select($"doc_id", bucket.as("bucket"),
        when(bucket < TrainPct, "train")
          .when(bucket < ValPct, "val")
          .otherwise("test").as("split"))
  }

  /** Cluster-safe train/val/test assignment: [[splitAssign]]'s salted
    * hash applied to the document's MinHash near-dup CLUSTER id
    * ([[Dedup.minhashClusters]]) instead of its own id, so every member
    * of a near-dup cluster lands in the same split — leakage-free BY
    * CONSTRUCTION, the constructive complement of the `eval_split_leakage`
    * audit (which measures how many near-dup pairs straddle the naive
    * per-doc split). Singletons have cluster_id = doc_id, so they keep
    * exactly their [[splitAssign]] split (same salt): switching an
    * existing pipeline to the cluster-safe split only moves documents
    * that actually have near-duplicates.
    *
    * Scale shape: the cost IS the clustering (banded candidate join +
    * O(log n) pointer-jumping rounds, already bounded); the split tag
    * itself is one narrow projection over the cluster map — no
    * additional shuffle, no per-split state.
    */
  def splitClusterSafe(spark: SparkSession, dir: String): DataFrame =
    splitOfClusters(
      Dedup.minhashClustersShared(spark, dir).select($"doc_id", $"cluster_id"))

  /** [[splitClusterSafe]] over a precomputed cluster map (see
    * [[Dedup.canonicalOf]] for why composite pipelines pass one in).
    */
  def splitOfClusters(clusters: DataFrame): DataFrame = {
    val bucket = pmod(priority("split:", $"cluster_id"), lit(100L))
    clusters.select($"doc_id", $"cluster_id", bucket.as("bucket"),
      splitOf($"cluster_id").as("split"))
  }

  /** The split of a cluster id as a bare Column — lets a pipeline that
    * already carries cluster_id derive the split as a narrow projection
    * instead of joining a second cluster-map branch.
    */
  def splitOf(clusterId: Column): Column = {
    val bucket = pmod(priority("split:", clusterId), lit(100L))
    when(bucket < TrainPct, "train")
      .when(bucket < ValPct, "val")
      .otherwise("test")
  }

  /** Split CASE tail of the cluster-safe twin — shared with
    * [[sqlSplitAssign]]'s shape, parameterized by the id expression.
    */
  def sqlSplitCase(idExpr: String): String =
    s"""${sqlPriority("split:", idExpr)} % 100 AS bucket,
       |  CASE WHEN ${sqlPriority("split:", idExpr)} % 100 < $TrainPct THEN 'train'
       |       WHEN ${sqlPriority("split:", idExpr)} % 100 < $ValPct THEN 'val'
       |       ELSE 'test' END AS split""".stripMargin

  /** DuckDB twin of [[splitAssign]]. */
  def sqlSplitAssign: String =
    s"""SELECT doc_id, ${sqlPriority("split:", "doc_id")} % 100 AS bucket,
       |  CASE WHEN ${sqlPriority("split:", "doc_id")} % 100 < $TrainPct THEN 'train'
       |       WHEN ${sqlPriority("split:", "doc_id")} % 100 < $ValPct THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-class keep rates (percent) for [[stratified]] — the class-
    * rebalancing shape: downsample the abundant classes, keep all of
    * the rare/valuable ones.
    */
  val StratifiedRates: Map[String, Int] = Map(
    "click" -> 5, "view" -> 10, "signup" -> 50,
    "purchase" -> 100, "error" -> 100)

  /** Rate for classes absent from [[StratifiedRates]]. */
  val DefaultRate = 25

  private def rateCase(rates: Map[String, Int], keyCol: Column): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit(DefaultRate)) {
      case (acc, (k, r)) => when(keyCol === k, lit(r)).otherwise(acc)
    }

  private def sqlRateCase(rates: Map[String, Int], keyExpr: String): String =
    rates.toSeq.sortBy(_._1)
      .map { case (k, r) => s"WHEN $keyExpr = '$k' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $DefaultRate END")

  /** Stratified sample of events: keep a record iff its salted hash mod
    * 100 falls under its class's rate. One narrow filter — the rate
    * lookup is a codegen'd CASE, no join, no shuffle; each class's
    * sample is an independent uniform draw at its own rate.
    */
  def stratified(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select($"event_id", $"event_type")
      .filter(pmod(priority("strat:", $"event_id"), lit(100)) <
        rateCase(StratifiedRates, $"event_type"))

  /** DuckDB twin of [[stratified]]. */
  def sqlStratified: String =
    s"""SELECT event_id, event_type FROM events
       |WHERE ${sqlPriority("strat:", "event_id")} % 100 <
       |  ${sqlRateCase(StratifiedRates, "event_type")}
       |ORDER BY event_id""".stripMargin

  /** Per-source mixing weights (percent) for [[mixSources]] — the
    * corpus-mixing shape of pretraining data recipes (N% of web, M% of
    * code, ...): cycle four weight tiers over the synthetic sources.
    */
  val SourceWeights: Map[String, Int] =
    (0 until 20).map(i => s"src$i" -> Seq(20, 40, 60, 100)(i % 4)).toMap

  /** Weighted corpus mix: keep each document iff its salted hash mod
    * 100 falls under its source's weight — a deterministic Bernoulli
    * draw per document at the source's rate. Narrow filter, no join
    * (weights inline as a CASE over the map), no shuffle.
    */
  def mixSources(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select($"doc_id", $"source")
      .filter(pmod(priority("mix:", $"doc_id"), lit(100)) <
        rateCase(SourceWeights, $"source"))

  /** DuckDB twin of [[mixSources]]. */
  def sqlMixSources: String =
    s"""SELECT doc_id, source FROM documents
       |WHERE ${sqlPriority("mix:", "doc_id")} % 100 <
       |  ${sqlRateCase(SourceWeights, "source")}
       |ORDER BY doc_id""".stripMargin

  /** Per-source document cap for [[sourceQuota]]. */
  val QuotaPerSource = 15

  /** Per-source quota: keep at most [[QuotaPerSource]] documents per
    * source, chosen by salted-hash order — the CAP form of corpus
    * mixing (absolute budgets rather than [[mixSources]]' rates), e.g.
    * "no more than N documents from any single domain". Deterministic
    * like the other samplers: the quota winners are a pure function of
    * the data. One shuffle on the source key; within a group the
    * rank is a window sort, which at extreme per-source cardinality
    * would be replaced by a per-group bottom-k heap aggregate — the
    * window form is the semantics reference.
    */
  def sourceQuota(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"qpriority", $"doc_id")
    documents(spark, dir)
      .select($"doc_id", $"source",
        priority("quota:", $"doc_id").as("qpriority"))
      .withColumn("qrank", row_number().over(w).cast("bigint"))
      .filter($"qrank" <= QuotaPerSource)
      .select($"doc_id", $"source", $"qrank")
  }

  /** DuckDB twin of [[sourceQuota]]. */
  def sqlSourceQuota: String =
    s"""WITH r AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${sqlPriority("quota:", "doc_id")}, doc_id) AS BIGINT) AS qrank
       |  FROM documents)
       |SELECT doc_id, source, qrank FROM r
       |WHERE qrank <= $QuotaPerSource ORDER BY doc_id""".stripMargin

  /** [[sourceQuota]] via the engine's bottom-k heap aggregate
    * ([[org.apache.spark.sql.graftexpr.BottomKAgg]]) — the scale path
    * the window form's scaladoc promises: each task keeps a k-row heap
    * per source, the shuffle carries heaps instead of every document
    * sorted inside its source partition, so a source with a billion
    * documents costs the same network as one with a thousand. Exact
    * LONG keys (the 60-bit hash priority exceeds double's 2⁵³ integer
    * precision, so a double-scored heap would round ties differently)
    * make the output identical to the window form — both share one
    * oracle. Ranks recover from the heap's (key asc, id asc) order.
    */
  def sourceQuotaHeap(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select($"doc_id", $"source",
        priority("quota:", $"doc_id").as("qpriority"))
      .groupBy($"source")
      .agg(org.apache.spark.sql.graftexpr.BottomKAgg
        .bottomKIds($"doc_id", $"qpriority", QuotaPerSource).as("keep"))
      .select($"source", posexplode($"keep"))
      .select($"col.id".as("doc_id"), $"source",
        ($"pos" + 1).cast("bigint").as("qrank"))

  /** Per-source keep count for the weighted sample — small enough that
    * the draw is a real selection even at the 500-document gate SF
    * (~25 docs/source), so the length skew is observable, not vacuous.
    */
  val WeightedK = 10

  /** Length-weighted deterministic sample: per source, keep the
    * [[WeightedK]] documents with the smallest `hash / weight` priority
    * (weight = n_chars), so selection probability rises with document
    * length while staying a pure function of the input — the
    * quality-weighted curation draw of a training-data pipeline, with
    * the replay determinism every other sampler here guarantees.
    *
    * The priority is FIXED-POINT INTEGER: `h31 · 2²⁰ div weight`
    * (31-bit salted hash, so the product stays ≪ 2⁶³). A float
    * `h / w` would be IEEE-identical across engines too, but
    * [[org.apache.spark.sql.graftexpr.BottomKAgg]]'s exact-LONG-key
    * contract is what lets the per-source bottom-k run as bounded
    * heaps — the shuffle carries k-row heaps, not every document
    * sorted within its source (same scale argument as
    * [[sourceQuotaHeap]]). Quotient collisions (~2¹¹ per-source pairs
    * at 2³¹/2²⁰) are broken by doc_id in the heap order and the
    * oracle's ORDER BY alike.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars",
        priority31("wsample:", $"doc_id").as("h31"))
      // SQL `div`, not `/`: Column./ on longs is DOUBLE division, and
      // floor(double quotient) can round up across an integer boundary
      .select($"doc_id", $"source",
        expr("h31 * 1048576L div greatest(n_chars, 1L)").as("wpriority"))
      .groupBy($"source")
      .agg(org.apache.spark.sql.graftexpr.BottomKAgg
        .bottomKIds($"doc_id", $"wpriority", WeightedK).as("keep"))
      .select($"source", posexplode($"keep"))
      .select($"col.id".as("doc_id"), $"source",
        ($"pos" + 1).cast("bigint").as("wrank"))

  /** DuckDB twin of [[weightedSample]]. */
  def sqlWeightedSample: String =
    s"""WITH p AS (SELECT doc_id, source,
       |    (${sqlPriority31("wsample:", "doc_id")} * 1048576)
       |      // GREATEST(n_chars, 1) AS wpriority
       |  FROM documents),
       |r AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY wpriority, doc_id) AS BIGINT) AS wrank
       |  FROM p)
       |SELECT doc_id, source, wrank FROM r
       |WHERE wrank <= $WeightedK ORDER BY doc_id""".stripMargin

  /** Context-window length (token positions per chunk). */
  val ChunkLen = 128

  /** Context-window chunking: split each document's token-id stream
    * ([[TextAnalysis.tokensToIds]]) into fixed-length windows —
    * the document→training-sample shape of pretraining prep. Per
    * chunk: token count, position bounds, and an exact integer
    * checksum (Σ token_id · in-chunk position) standing in for the
    * packed payload so the oracle checks content, not just counts.
    * One hash shuffle on (doc, chunk); the token stream itself stays
    * narrow.
    */
  def chunkTokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokensToIds(spark, dir)
      .withColumn("chunk_id", expr(s"pos div $ChunkLen"))
      .groupBy($"doc_id", $"chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        min($"pos").as("first_pos"), max($"pos").as("last_pos"),
        sum($"token_id" * (pmod($"pos", lit(ChunkLen)) + 1)).as("checksum"))

  /** DuckDB twin of [[chunkTokens]] (token CTEs shared with the
    * tokens_to_ids oracle).
    */
  def sqlChunkTokens(tokensToIdsBody: String): String =
    s"""WITH ids AS ($tokensToIdsBody)
       |SELECT doc_id, pos // $ChunkLen AS chunk_id, count(*) AS n_tokens,
       |  min(pos) AS first_pos, max(pos) AS last_pos,
       |  CAST(sum(token_id * (pos % $ChunkLen + 1)) AS BIGINT) AS checksum
       |FROM ids GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin

  /** Pack length (token positions per packed training sequence). */
  val PackLen = 256

  /** Sequence PACKING (concat-and-chunk): lay each source's documents
    * end-to-end in doc_id order and cut the concatenated token stream
    * into [[PackLen]]-token packs — the step that turns a cleaned
    * corpus into fixed-length training sequences with no padding waste.
    * Per document: the pack its first token lands in, the offset inside
    * that pack, and how many packs it spans (documents cross pack
    * boundaries; 0-token documents span none).
    *
    * Scale shape: the running token total is a window sum PARTITIONED BY
    * source — packing parallelizes across sources (each source's packs
    * are independent, which is also what keeps a pack single-domain).
    * The sequential dependency INSIDE a source is inherent to packing;
    * a source too large for one partition would move to the two-phase
    * scan form (per-partition subtotals broadcast back as offsets) with
    * identical output.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
    documents(spark, dir)
      .select($"doc_id", $"source",
        size(TextAnalysis.tokens($"text")).cast("bigint").as("n_tokens"))
      .withColumn("tok_end", sum($"n_tokens").over(w))
      .withColumn("tok_start", $"tok_end" - $"n_tokens")
      .select($"doc_id", $"source", $"n_tokens",
        expr(s"tok_start div $PackLen").as("start_pack"),
        pmod($"tok_start", lit(PackLen.toLong)).as("start_offset"),
        when($"n_tokens" === 0L, lit(0L))
          .otherwise(expr(s"(tok_end - 1) div $PackLen") -
            expr(s"tok_start div $PackLen") + lit(1L)).as("n_packs"))
  }

  /** Curriculum ordering: a GLOBAL rank of every document by bigram-LM
    * fluency (easy → hard), the ordering a curriculum-learning schedule
    * consumes. This is the one operator class the engine otherwise
    * avoids on purpose (total order is usually protocol overhead — see
    * [[graft.QuerySpec]]); when a user genuinely needs it, the scalable
    * form is range-partition + per-partition offsets, NEVER
    * `row_number() OVER ()` — an empty-window rank funnels the corpus
    * through ONE task. Here: `repartitionByRange` (sampled range
    * exchange) + in-partition sort + `zipWithIndex` (one extra
    * per-partition count job to compute offsets — the same two-phase
    * scan [[packSequences]] documents). Ranks are engine-independent
    * because (fluency DESC, doc_id) is a total order; where the range
    * boundaries land cannot change any rank.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.lmScore(spark, dir)
    val sorted = scored
      .repartitionByRange($"fluency".desc, $"doc_id".asc)
      .sortWithinPartitions($"fluency".desc, $"doc_id".asc)
    val schema = sorted.schema
      .add("curriculum_rank", org.apache.spark.sql.types.LongType,
        nullable = false)
    val ranked = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Shard count for [[shardManifest]]. */
  val NumShards = 16

  /** Training-export shard manifest: every doc hash-assigned to one of
    * [[NumShards]] shards (salted md5 — stable under corpus growth, no
    * coordination), and per shard the audit columns an export pipeline
    * ships alongside the data: doc count, total tokens, id range, and an
    * order-insensitive content checksum (BIT_XOR of per-doc text
    * hashes — any dropped, duplicated or altered doc flips it). One
    * shuffle on the shard key; [[writeShards]] materializes the same
    * assignment as a partitioned directory tree.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select($"doc_id",
        (priority("shard:", $"doc_id") % NumShards).as("shard"),
        size(TextAnalysis.tokens($"text")).cast("bigint").as("n_tokens"),
        Hashing.md5Prefix60($"text").as("text_h"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        min($"doc_id").as("min_doc"),
        max($"doc_id").as("max_doc"),
        expr("bit_xor(text_h)").as("checksum60"))

  /** DuckDB twin of [[shardManifest]]. */
  def sqlShardManifest: String =
    s"""WITH t AS (SELECT doc_id,
       |    ${sqlPriority("shard:", "doc_id")} % $NumShards AS shard,
       |    CAST(len(${TextAnalysis.sqlTokens("text")}) AS BIGINT) AS n_tokens,
       |    ${Hashing.sqlMd5Prefix60("text")} AS text_h
       |  FROM documents)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       |  bit_xor(text_h) AS checksum60
       |FROM t GROUP BY 1 ORDER BY shard""".stripMargin

  /** Materialize the [[shardManifest]] assignment as a directory tree
    * (one directory per shard, one file per shard after the keyed
    * repartition — the export layout a downstream trainer reads).
    */
  def writeShards(spark: SparkSession, dir: String, outPath: String): Unit =
    documents(spark, dir)
      .withColumn("shard", priority("shard:", $"doc_id") % NumShards)
      .repartition($"shard")
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)

  /** Document budget for [[temperatureMix]] — small enough that the
    * per-source rates stay uncapped (discriminating) at the gate SFs.
    */
  val TempBudget = 200L

  /** Exact floor(sqrt(x)) for any non-negative long. `sqrt` is IEEE
    * correctly rounded, so the double candidate is off by at most one
    * after flooring; a two-sided one-step correction makes it exact —
    * identically in Spark and DuckDB, which is what lets a sampling
    * rate derived from it survive a cross-engine hash compare. The s²
    * probes run in exact wide arithmetic (DECIMAL(38,0) here, HUGEINT
    * in the twin): near Long.Max the probe square itself overflows
    * 64 bits, which under ANSI mode is an error, not a wrap.
    */
  private[functions] def isqrt(x: Column): Column = {
    val sq = (c: Column) =>
      c.cast("decimal(20,0)") * c.cast("decimal(20,0)")
    val xw = x.cast("decimal(20,0)")
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val up = when(sq(s0 + 1) <= xw, s0 + 1).otherwise(s0)
    when(sq(up) > xw, up - 1).otherwise(up)
  }

  private def sqlIsqrt(e: String): String = {
    val up = s"(CASE WHEN CAST(s0_$e + 1 AS HUGEINT) * (s0_$e + 1) <= $e" +
      s" THEN s0_$e + 1 ELSE s0_$e END)"
    s"(CASE WHEN CAST($up AS HUGEINT) * $up > $e THEN $up - 1 ELSE $up END)"
  }

  /** Temperature-scaled corpus mix (α = 1/2): per-source sampling mass
    * ∝ √(char count) — the standard rebalancing between "proportional"
    * (α=1, big sources drown small ones) and "uniform" (α=0, rare
    * sources over-repeated) used in multilingual/pretraining recipes.
    * α=1/2 is exactly representable as the integer sqrt, so the whole
    * rate computation stays in exact integer arithmetic: per-source
    * rate (ppm) = Budget·√n_s·10⁶ div (Σ√n_j·n_docs_s), capped at 10⁶,
    * and each document draws against its source's rate by salted hash.
    *
    * Scale shape: the per-source aggregate is source-bounded (1 keyed
    * shuffle over partial sums); its √-weights and the 1-row weight
    * total broadcast back; the draw itself is a narrow filter over the
    * corpus — the fact table is scanned once and never shuffled.
    * Fixed-point headroom: Budget·√n·10⁶ < 2^63 holds to corpora of
    * ~10^21 chars per source at this budget.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val per = documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("src_chars"))
      .withColumn("w", isqrt($"src_chars"))
    val tot = per.agg(sum($"w").as("wsum"))
    val rates = per.join(broadcast(tot))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr(s"w * $TempBudget * 1000000 div (wsum * n_docs)")))
      .select($"source".as("rsource"), $"rate_ppm")
    documents(spark, dir)
      .select($"doc_id", $"source")
      .join(broadcast(rates), $"source" === $"rsource")
      .filter(pmod(priority("temp:", $"doc_id"), lit(1000000L)) < $"rate_ppm")
      .select($"doc_id", $"source", $"rate_ppm")
  }

  /** DuckDB twin of [[temperatureMix]]. */
  def sqlTemperatureMix: String =
    s"""WITH per0 AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS src_chars
       |  FROM documents GROUP BY 1),
       |per1 AS (SELECT *, CAST(floor(sqrt(CAST(src_chars AS DOUBLE))) AS BIGINT)
       |    AS s0_src_chars FROM per0),
       |per AS (SELECT source, n_docs, ${sqlIsqrt("src_chars")} AS w FROM per1),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM per),
       |rates AS (SELECT source,
       |    least(1000000, w * $TempBudget * 1000000 // (wsum * n_docs)) AS rate_ppm
       |  FROM per, tot)
       |SELECT d.doc_id, d.source, r.rate_ppm
       |FROM documents d JOIN rates r ON d.source = r.source
       |WHERE ${sqlPriority("temp:", "d.doc_id")} % 1000000 < r.rate_ppm
       |ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[packSequences]] (integer-exact: `//` truncates
    * like Spark's `div` — all operands non-negative here).
    */
  def sqlPackSequences: String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(${TextAnalysis.sqlTokens("text")}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS tok_end
       |  FROM t)
       |SELECT doc_id, source, n_tokens,
       |  CAST((tok_end - n_tokens) // $PackLen AS BIGINT) AS start_pack,
       |  CAST((tok_end - n_tokens) % $PackLen AS BIGINT) AS start_offset,
       |  CAST(CASE WHEN n_tokens = 0 THEN 0
       |    ELSE (tok_end - 1) // $PackLen - (tok_end - n_tokens) // $PackLen + 1
       |  END AS BIGINT) AS n_packs
       |FROM c ORDER BY doc_id""".stripMargin

  /** `sample_cluster_balanced`: cluster-balanced subsampling over the
    * k-NN component structure — keep ~√(component size) members per
    * component (floor-isqrt, min 1), members chosen by salted-hash
    * priority. This is the D4/SemDeDup-style curation draw: giant
    * near-duplicate clusters contribute sublinearly instead of
    * swamping the mix, singletons always survive, and the draw is
    * deterministic and stable under corpus growth (per-vector hash
    * priorities, no RNG).
    *
    * Scale shape: [[GraphRank.knnComponents]] provides the labels; the
    * rank window partitions BY COMPONENT (per-partition size = the
    * component itself — the quantity being bounded), and the quota is
    * the exact integer sqrt shared with the temperature sampler.
    */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"component_id").orderBy($"pri", $"vec_id")
    GraphRank.knnComponentsShared(spark, dir)
      .withColumn("pri", priority("cb:", $"vec_id"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .withColumn("quota", greatest(lit(1L), isqrt($"component_size")))
      .filter($"rk" <= $"quota")
      .select($"vec_id", $"component_id", $"component_size", $"quota", $"rk")
  }

  /** Schedule horizon (steps emitted) for [[mixSchedule]]. */
  val ScheduleSteps = 1000

  /** `pipeline_mix_schedule`: the deterministic data-loader interleave
    * — WHICH source feeds training step t, for the first
    * [[ScheduleSteps]] steps, proportional to corpus share. Weighted
    * fair queuing: source s's k-th occurrence gets virtual time
    * `v = (k·W) div w_s` (w_s = source doc count, W = total), and the
    * schedule is the (v, source)-ascending order of all occurrences —
    * the smooth interleave (A B A C A B …) a round-robin-by-block
    * loader cannot give, with no RNG and no sequential state.
    *
    * Scale shape: weights are ONE source-bounded aggregate; occurrence
    * generation explodes `quota + nSources + 1` rows per source
    * (horizon-bounded, never corpus-bounded); ranking is a window over
    * the ≤ K·2-row candidate set. The corpus itself is read once.
    *
    * Quota soundness: the first [[ScheduleSteps]] steps all have
    * vtime ≤ Steps + nSources (each source contributes ≥ V·w/tw − 1
    * occurrences with vtime ≤ V, so ≥ Steps occurrences exist by
    * V = Steps + ns), and source s reaches that vtime within
    * k ≤ (Steps·w) div tw + ns + 1 occurrences — the fixed `+2`
    * margin used before round 8 could under-generate on skewed mixes,
    * letting a wrong source fill a tail step.
    */
  def mixSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = documents(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("w"))
    val tot = w.agg(sum($"w").as("tw"), count(lit(1)).as("ns"))
    val occ = w.join(broadcast(tot))
      .select($"source", $"w", $"tw",
        explode(expr(
          s"sequence(CAST(1 AS BIGINT), ($ScheduleSteps * w) div tw + ns + 1)"))
          .as("k"))
      .select($"source", $"k", expr("(k * tw) div w").as("vtime"))
    occ.withColumn("step",
        row_number().over(Window.orderBy($"vtime".asc, $"source".asc, $"k".asc))
          .cast("long"))
      .filter($"step" <= ScheduleSteps)
      .select($"step", $"source", $"k".as("occurrence"), $"vtime")
  }

  /** Per-source token budget for [[budgetFill]]. */
  val FillBudget = 5000L

  /** `pipeline_budget_fill`: assemble at most [[FillBudget]] tokens of
    * the best data PER SOURCE — documents ranked (quality flag desc,
    * tokens desc, doc_id) within their source, kept while the
    * EXCLUSIVE running token total is under budget (first doc always
    * fits; ≤ one overshoot, the standard greedy knapsack-by-priority).
    * The "give me exactly B tokens of the good stuff" op a training
    * run starts with; per-source summary out.
    *
    * Scale shape: one corpus pass computes tokens + the quality flag
    * narrow; the greedy is a per-source cumulative window (partitioned
    * by source, never global); output is source-bounded.
    */
  def budgetFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens($"text")
    val nStop = size(filter(toks,
      t => t.isInCollection(TextAnalysis.stopwords))).cast("bigint")
    val nAlpha = length(regexp_replace(lower($"text"), "[^a-z]", "")).cast("bigint")
    val base = documents(spark, dir)
      .select($"doc_id", $"source", size(toks).cast("bigint").as("n_tokens"),
        nStop.as("n_stop"), nAlpha.as("n_alpha"),
        length($"text").cast("bigint").as("n_chars"))
      .withColumn("quality",
        when($"n_tokens" >= 10 &&
          $"n_stop" > 0 && $"n_alpha" * 2 > $"n_chars", 1L).otherwise(0L))
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"n_tokens".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("kept", ($"cum_before" < FillBudget).cast("long"))
      .groupBy($"source")
      .agg(sum($"kept").as("n_kept"), count(lit(1)).as("n_total"),
        sum($"kept" * $"n_tokens").as("tokens_kept"),
        sum($"n_tokens").as("tokens_total"))
      .select($"source", $"n_kept", $"n_total", $"tokens_kept",
        $"tokens_total", lit(FillBudget).as("budget"))
  }

  /** Hashed-bigram bucket count for [[dsirWeights]] — small enough that
    * the bucket tables broadcast, large enough that collisions spread.
    */
  val DsirBuckets = 1024L

  /** Target-domain sources for [[dsirWeights]] (the "wiki-like" slice a
    * DSIR selection would aim the corpus at).
    */
  val DsirTargets: Seq[String] = Seq("src0", "src1", "src2", "src3", "src4")

  /** `pipeline_dsir_weights`: Data Selection via Importance Resampling
    * (Xie et al. 2023) weights — per document, how target-like its
    * hashed-bigram profile is. Both the target and raw corpus n-gram
    * distributions live in [[DsirBuckets]] hash buckets; a document's
    * weight is the ratio of its bigrams' summed target counts to summed
    * raw counts (add-one smoothed, ONE double division at the end, so
    * the score is bit-identical across engines — the same log-free
    * stance as the NDCG/Benford reworks).
    *
    * Fidelity note (ADVICE r8): this is a summed-count-ratio
    * APPROXIMATION of DSIR, not the paper's estimator. Xie et al.
    * weight by the product of per-feature probability ratios (a sum of
    * per-bucket log ratios); here the weight is (Σ target_cnt + 1) /
    * (Σ raw_cnt + 1) over the doc's bigram buckets, which a doc's
    * highest-frequency buckets dominate, and "target" is a slice of
    * the SAME corpus ([[DsirTargets]]) rather than a held-out target
    * distribution. Chosen deliberately: the summed form stays in exact
    * integer arithmetic until one final division (cross-engine
    * bit-identical), where a log-sum would reintroduce float-order
    * sensitivity. Rankings agree with exact DSIR when bucket profiles
    * are near-uniform; they can diverge on skewed profiles.
    *
    * Scale shape: the bucket histogram is ONE corpus-sized bigram
    * aggregation onto a FIXED [[DsirBuckets]]-row table (target and raw
    * counts fold in the same pass via a conditional sum) which then
    * BROADCASTS back to the per-doc bigram stream — the per-doc side
    * never shuffles on the bucket key; its only exchange is the final
    * doc-keyed sum. At 100 TB: two narrow passes over the corpus and a
    * kilobyte broadcast, no vocabulary-sized state anywhere.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens($"text")
    // codegen'd bigram emitter (TokenKernel.tokenBigrams, the lmScore
    // pattern) — the zip_with(slice)+filter tower it replaces ran
    // interpreted over every corpus row; pair → "w1 w2" string via a
    // codegen concat, so the hashed value is bit-identical
    val bg = documents(spark, dir)
      .select($"doc_id", $"source",
        explode(graft.plans.ArrayOps.tokenBigrams(toks)).as("p"))
      .select($"doc_id", $"source",
        (Hashing.md5Hash31(concat($"p.w1", lit(" "), $"p.w2"))
          % DsirBuckets).as("bucket"))
    val hist = bg.groupBy($"bucket")
      .agg(count(lit(1)).as("raw_cnt"),
        sum(when($"source".isin(DsirTargets: _*), 1L).otherwise(0L))
          .as("target_cnt"))
    bg.join(broadcast(hist), Seq("bucket"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"target_cnt").as("t_num"), sum($"raw_cnt").as("t_den"))
      .select($"doc_id", $"n_bigrams", $"t_num", $"t_den",
        (($"t_num" + 1L).cast("double") / ($"t_den" + 1L).cast("double"))
          .as("weight"))
  }

  /** `eval_source_drift`: per-(source, bucket) hashed-bigram counts with
    * the corpus-wide marginals attached — the exact-integer sufficient
    * statistics for a per-source PSI / KL drift check ("has src7's
    * content distribution moved away from the corpus?"), the corpus
    * sibling of `stats_psi_drift`. Like [[graft.operators.StatsOps
    * .psiDrift]], the scalar divergence needs `ln()` whose last ulp
    * differs across engines, so the oracle-gated artifact is this exact
    * table; any consumer folds its own PSI from it.
    *
    * Scale shape: ONE corpus-sized bigram aggregation onto the bounded
    * (sources × [[DsirBuckets]]) domain; every join after it is a
    * bounded-domain broadcast. At 100 TB: one narrow pass + kilobyte
    * broadcasts.
    */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens($"text")
    // codegen'd bigram emitter — see [[dsirWeights]]
    val bg = documents(spark, dir)
      .select($"source",
        explode(graft.plans.ArrayOps.tokenBigrams(toks)).as("p"))
      .select($"source",
        (Hashing.md5Hash31(concat($"p.w1", lit(" "), $"p.w2"))
          % DsirBuckets).as("bucket"))
    val perSrc = bg.groupBy($"source", $"bucket").agg(count(lit(1)).as("cnt"))
    // r16 (guide §2.4): the margins are WINDOW sums over the already-
    // aggregated (sources × buckets) frame, not separate aggregation
    // branches — the three broadcast branches each replanned the
    // corpus-sized bigram subtree (profiled sf1: FOUR 2-task corpus
    // stages of 3.3-4.4 s each; neither static exchange reuse nor AQE
    // stage reuse fired across the differently-pruned branches). One
    // corpus pass remains; the windows shuffle only the bounded margin
    // frame (sources × [[DsirBuckets]] rows — the empty-frame window
    // is a single partition of that bounded size, by construction).
    // Sums are exact longs either way: values unchanged.
    val wB = org.apache.spark.sql.expressions.Window.partitionBy($"bucket")
    val wS = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    perSrc
      .select($"source", $"bucket", $"cnt",
        sum($"cnt").over(wB).as("corpus_cnt"),
        sum($"cnt").over(wS).as("src_total"),
        sum($"cnt").over(wAll).as("corpus_total"))
  }

  /** DuckDB twin of [[dsirWeights]] — same bigram formation (zip against
    * the tail, NULL-padded last cell dropped), same md5-prefix bucket
    * hash, same single final division.
    */
  def sqlDsirWeights: String = {
    val toks = TextAnalysis.sqlTokens("text")
    val targets = DsirTargets.map(s => s"'$s'").mkString(", ")
    s"""WITH base AS (SELECT doc_id, source, $toks AS t FROM documents),
       |bg0 AS (SELECT doc_id, source,
       |    unnest(list_filter(list_transform(list_zip(t, t[2:]),
       |      p -> p[1] || ' ' || p[2]), x -> x IS NOT NULL)) AS bg
       |  FROM base),
       |bg AS (SELECT doc_id, source,
       |    ${Hashing.sqlMd5Hash31("bg")} % $DsirBuckets AS bucket FROM bg0),
       |hist AS (SELECT bucket, count(*) AS raw_cnt,
       |    CAST(sum(CASE WHEN source IN ($targets) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS target_cnt
       |  FROM bg GROUP BY 1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(target_cnt) AS BIGINT) AS t_num,
       |  CAST(sum(raw_cnt) AS BIGINT) AS t_den,
       |  CAST(sum(target_cnt) + 1 AS DOUBLE) / CAST(sum(raw_cnt) + 1 AS DOUBLE)
       |    AS weight
       |FROM bg JOIN hist USING (bucket)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** `pipeline_dsir_exact_stats`: per-(doc, bucket) exact-integer
    * sufficient statistics for the PAPER-FAITHFUL DSIR estimator — the
    * companion [[dsirWeights]]'s fidelity note promises. Xie et al.
    * 2023 weight a document by the product of per-feature probability
    * ratios under add-one-smoothed bag-of-hashed-ngrams unigram models:
    *
    *   log w(doc) = Σ_b n_b·[ln(t_b+1) − ln(r_b+1)]
    *              + n·[ln(R+B) − ln(T+B)]
    *
    * with n_b the doc's bigram count in bucket b, (t_b, r_b) the
    * target/raw corpus counts, (T, R) their totals and B =
    * [[DsirBuckets]] the smoothing mass. Every quantity on the right is
    * an exact integer; only the `ln` fold is float. This query emits
    * exactly those integers — (doc_id, bucket) → n_bg with the bucket's
    * global counts and the corpus totals attached — so the oracle gate
    * pins the full sufficient-statistic table cross-engine, and the
    * float scalar stays an engine-side fold ([[dsirExactWeights]]), the
    * same split `eval_source_drift` uses for PSI (`ln`'s last ulp is
    * not cross-engine stable; the integers are).
    *
    * Scale shape: the same two corpus passes as [[dsirWeights]] — one
    * bigram aggregation onto the fixed [[DsirBuckets]]-row histogram
    * (kilobyte broadcast), one (doc, bucket) aggregation whose only
    * exchange is doc-keyed. Output rows ≤ min(corpus bigrams,
    * docs × B) — never wider than the bigram stream it summarizes.
    */
  def dsirExactStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens($"text")
    // codegen'd bigram emitter — see [[dsirWeights]]
    val bg = documents(spark, dir)
      .select($"doc_id", $"source",
        explode(graft.plans.ArrayOps.tokenBigrams(toks)).as("p"))
      .select($"doc_id", $"source",
        (Hashing.md5Hash31(concat($"p.w1", lit(" "), $"p.w2"))
          % DsirBuckets).as("bucket"))
    val perDoc = bg.groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("n_bg"))
    val hist = bg.groupBy($"bucket")
      .agg(count(lit(1)).as("raw_cnt"),
        sum(when($"source".isin(DsirTargets: _*), 1L).otherwise(0L))
          .as("target_cnt"))
    // r16: totals as a window over the FIXED 1024-row histogram — the
    // separate totals branch replanned the corpus bigram subtree (a
    // third 2-task corpus stage in the sf1 profile). Exact long sums,
    // values unchanged; see [[sourceDrift]].
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val histT = hist.select($"bucket", $"raw_cnt", $"target_cnt",
      sum($"raw_cnt").over(wAll).as("raw_total"),
      sum($"target_cnt").over(wAll).as("target_total"))
    perDoc.join(broadcast(histT), Seq("bucket"))
      .select($"doc_id", $"bucket", $"n_bg", $"target_cnt", $"raw_cnt",
        $"target_total", $"raw_total")
  }

  /** The paper-faithful DSIR importance weight, folded engine-side over
    * [[dsirExactStats]] — per document the exact log product-of-ratios
    * (`log_weight_exact`) NEXT TO the summed-count-ratio approximation
    * (`weight_approx`, bit-identical to [[dsirWeights]]'s `weight`:
    * both numerator and denominator are integer sums over the same
    * stats). The two estimators rank identically on near-uniform bucket
    * profiles and diverge on skewed ones (a doc's high-frequency
    * buckets dominate the summed form; the product form weights every
    * occurrence's ratio equally in log space) — SamplingSpec pins a
    * constructed divergence. Not oracle-gated: the log-sum's value
    * depends on `ln` ulps and float addition order; its integer inputs
    * are what `pipeline_dsir_exact_stats` gates.
    *
    * Scale shape: one doc-keyed aggregate over the stats — the totals
    * ride every row, so no extra join.
    */
  def dsirExactWeights(spark: SparkSession, dir: String): DataFrame = {
    val b = lit(DsirBuckets.toDouble)
    dsirExactStats(spark, dir)
      .groupBy($"doc_id")
      .agg(sum($"n_bg").as("n_bigrams"),
        sum($"n_bg" * $"target_cnt").as("t_num"),
        sum($"n_bg" * $"raw_cnt").as("t_den"),
        sum($"n_bg".cast("double") *
          (log($"target_cnt".cast("double") + 1.0) -
            log($"raw_cnt".cast("double") + 1.0))).as("ratio_sum"),
        first($"target_total").as("tt"), first($"raw_total").as("rt"))
      .select($"doc_id", $"n_bigrams",
        (($"t_num" + 1L).cast("double") / ($"t_den" + 1L).cast("double"))
          .as("weight_approx"),
        ($"ratio_sum" + $"n_bigrams".cast("double") *
          (log($"rt".cast("double") + b) - log($"tt".cast("double") + b)))
          .as("log_weight_exact"))
  }

  /** DuckDB twin of [[dsirExactStats]] — same bigram formation, same
    * bucket hash, integers end-to-end.
    */
  def sqlDsirExactStats: String = {
    val toks = TextAnalysis.sqlTokens("text")
    val targets = DsirTargets.map(s => s"'$s'").mkString(", ")
    s"""WITH base AS (SELECT doc_id, source, $toks AS t FROM documents),
       |bg0 AS (SELECT doc_id, source,
       |    unnest(list_filter(list_transform(list_zip(t, t[2:]),
       |      p -> p[1] || ' ' || p[2]), x -> x IS NOT NULL)) AS bg
       |  FROM base),
       |bg AS (SELECT doc_id, source,
       |    ${Hashing.sqlMd5Hash31("bg")} % $DsirBuckets AS bucket FROM bg0),
       |pd AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n_bg
       |  FROM bg GROUP BY 1, 2),
       |hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS raw_cnt,
       |    CAST(sum(CASE WHEN source IN ($targets) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS target_cnt
       |  FROM bg GROUP BY 1),
       |tot AS (SELECT CAST(sum(raw_cnt) AS BIGINT) AS raw_total,
       |    CAST(sum(target_cnt) AS BIGINT) AS target_total FROM hist)
       |SELECT doc_id, bucket, n_bg, target_cnt, raw_cnt, target_total, raw_total
       |FROM pd JOIN hist USING (bucket) CROSS JOIN tot
       |ORDER BY doc_id, bucket""".stripMargin
  }
}
