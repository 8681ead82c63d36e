package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.Tables._
import Hashing._

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every stage is a shuffle on a bounded key (hash,
  * band signature, bit block, bucket) — never an unbounded cross join.
  * Candidate generation caps bucket width (frequency / size caps, noted
  * per operator) so a pathological key cannot quadratic-blow a reducer;
  * the caps are part of the operator contract and mirrored in the
  * oracles. AQE skew-join handles residual imbalance.
  */
object Dedup {

  // ---- shared shapes ----------------------------------------------------

  import graft.plans.ArrayOps.{minhashSig, simhashFp, wordShingles}

  /** Distinct word 3-shingles per doc, as one array column per document
    * — a NARROW projection (codegen'd [[wordShingles]] kernel), so the
    * shingle stream never crosses a shuffle: downstream operators
    * aggregate or join on per-doc derivatives (signatures, band keys),
    * one row per document.
    */
  def shingleArrays(docs: DataFrame): DataFrame =
    docs.select($"doc_id",
      array_distinct(wordShingles(TextAnalysis.tokens($"text"), 3)).as("sh_arr"))

  /** Exploded view of [[shingleArrays]] (one row per distinct shingle).
    * No size filter needed: exploding an empty array emits no rows, and
    * a pushed-down size predicate would re-evaluate the shingle kernel
    * inside the filter condition.
    */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(documents(spark, dir))

  /** Core of [[shingles]] over any (doc_id, text) frame. */
  def shinglesOf(docs: DataFrame): DataFrame =
    shingleArrays(docs).select($"doc_id", explode($"sh_arr").as("shingle"))

  /** DuckDB twin of [[shingles]] as a CTE body. */
  def sqlShingles: String =
    s"""SELECT DISTINCT doc_id,
       |    toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS shingle
       |  FROM (SELECT doc_id, toks, unnest(range(greatest(len(toks) - 2, 0))) AS i
       |        FROM (SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents))""".stripMargin

  // ---- exact dedup ------------------------------------------------------

  /** Exact dedup: hash-groupBy on the normalized fingerprint, keep the
    * lowest doc_id per group. One shuffle on a 128-bit key; at 100 TB
    * this is the cheapest possible full-corpus dedup.
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .select($"doc_id", md5(Hashing.normText($"text")).as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select($"keep_doc_id", $"n_copies")
  }

  // ---- MinHash + LSH ----------------------------------------------------

  val NumPerm = 16
  val BandRows = 4
  val NumBands: Int = NumPerm / BandRows // 4

  /** MinHash signature as one NARROW pass: the codegen'd [[minhashSig]]
    * kernel folds all NumPerm permutations over the rolling-shingle
    * array inside the scan stage — no shingle explode, no groupBy, no
    * shuffle; the only Generate is the one-element barrier below.
    * (History: v1 exploded shingles × NumPerm; v2 was a 16-column min
    * aggregation whose shuffle carried one row per doc; this form never
    * shuffles at all.) Duplicate shingles cannot change a min, so the
    * kernel runs on the raw (non-distinct) shingle array.
    * Output: doc_id, sig: array<bigint>.
    */
  def minhashSignatureArray(spark: SparkSession, dir: String): DataFrame =
    withMinhashSig(documents(spark, dir)).select($"doc_id", $"sig")

  /** Signature projection over ANY frame with a `text` column; every
    * other column is preserved (the streaming twin keeps its watermark
    * column riding along). explode(array(..)) is a Generate BARRIER:
    * the null filter (docs with <3 tokens have no shingles → null sig →
    * no row) applies to the generated attribute, so the optimizer
    * cannot push it down into a second evaluation of the kernel per
    * row.
    */
  def withMinhashSig(docs: DataFrame): DataFrame =
    docs
      .withColumn("sig",
        explode(array(minhashSig(wordShingles(TextAnalysis.tokens($"text"), 3),
          NumPerm))))
      .filter($"sig".isNotNull)
      .drop("text")

  /** Banding posexplode over a signature column: NumBands bands of
    * BandRows, band signature = '_'-joined slice — the ONE definition
    * both the batch pairs join and the streaming detector key on.
    */
  def bandsigCols(sigCol: String): Column =
    posexplode(expr(s"transform(sequence(0, ${NumBands - 1}), b -> " +
      s"concat_ws('_', slice($sigCol, b * $BandRows + 1, $BandRows)))"))

  /** Long-form signatures (doc_id, j, mh) — the oracle-facing view. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignatureArray(spark, dir)
      .select($"doc_id", posexplode($"sig"))
      .select($"doc_id", $"pos".cast("bigint").as("j"), $"col".as("mh"))

  /** MinHash LSH near-dup pairs: band the signature (NumBands bands of
    * BandRows), bucket-join on (band, band signature), then estimate
    * similarity as the fraction of equal minhashes; keep est ≥ 0.5.
    * Only candidate pairs (≥1 colliding band) are scored — the LSH
    * contract that avoids the all-pairs product at scale.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(documents(spark, dir))

  /** [[minhashPairs]] as a session-scoped shared artifact
    * ([[graft.Materialize]]): the pair set feeds the cluster fixpoint,
    * the split-leakage audit and the pairs query itself — the first
    * consumer materializes the banded candidate join once, every later
    * consumer starts from the checkpointed leaf.
    */
  def minhashPairsShared(spark: SparkSession, dir: String): DataFrame =
    Materialize.shared(spark, dir, "minhash_pairs")(minhashPairs(spark, dir))

  /** Core of [[minhashPairs]] over any (doc_id, text) frame. */
  def minhashPairsOf(docs: DataFrame): DataFrame = {
    // no cache(): the self-join reuses the signature subplan via
    // Catalyst's ReusedExchange; an operator-held cache would pin
    // storage for the session lifetime (library leak)
    val sig = withMinhashSig(docs).select($"doc_id", $"sig")
    // band signatures by array slice — pure projection, no re-aggregation
    val bands = sig.select($"doc_id", $"sig", bandsigCols("sig"))
      .select($"doc_id", $"sig", $"pos".as("band"), $"col".as("bandsig"))
    // bucket equi-join on (band, bandsig), forced shuffle_hash: the band
    // frame is the whole corpus — broadcasting it is the wrong shape at
    // scale, and the shuffle makes the second side a ReusedExchange
    bands.as("x").join(bands.as("y").hint("shuffle_hash"),
        expr("x.band = y.band AND x.bandsig = y.bandsig AND x.doc_id < y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sig").as("sig"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("est_jaccard",
        graft.plans.ArrayOps.longArrayEqCount($"sig", $"sig_b")
          .cast("double") / lit(NumPerm.toDouble))
      .filter($"est_jaccard" >= 0.5)
      .select($"a", $"b", $"est_jaccard")
  }

  /** Incremental snapshot dedup — the production crawl-iteration shape:
    * yesterday's corpus is already deduped and has a SAVED band index
    * (band, bandsig) → owner docs; today's delta joins its band
    * signatures against that index and is verdicted WITHOUT re-pairing
    * the base corpus against itself. Per delta doc: candidates = base
    * docs sharing ≥1 band (bucket-bounded, never all-pairs), confirmed
    * at est-Jaccard ≥ 0.5 over the full signatures, `dup_of` = smallest
    * confirmed base doc, else the doc is new. [[NearDupStream]] is this
    * operator's streaming twin (first-owner band state); here the split
    * base/delta = doc_id % 5 stands in for the two snapshots.
    *
    * Scale: the index join shuffles on (band, bandsig) — the same
    * bounded-bucket contract as [[minhashPairs]]; the delta (small side)
    * probes it, and base×base pairs are never formed.
    */
  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatureArray(spark, dir)
    val bands = sig.select($"doc_id", $"sig", bandsigCols("sig"))
      .select($"doc_id", $"sig", $"pos".as("band"), $"col".as("bandsig"))
    val base = bands.filter($"doc_id" % 5 =!= 0)
    val delta = bands.filter($"doc_id" % 5 === 0)
    val cand = delta.as("d").join(base.as("b").hint("shuffle_hash"),
        expr("d.band = b.band AND d.bandsig = b.bandsig"))
      .select(col("d.doc_id").as("delta_id"), col("b.doc_id").as("base_id"),
        col("d.sig").as("sig_d"), col("b.sig").as("sig_b"))
      .distinct()
    val confirmed = cand
      .filter(graft.plans.ArrayOps.longArrayEqCount($"sig_d", $"sig_b")
        .cast("double") / lit(NumPerm.toDouble) >= 0.5)
      .groupBy($"delta_id").agg(min($"base_id").as("dup_of"))
    sig.filter($"doc_id" % 5 === 0).select($"doc_id")
      .join(confirmed, $"doc_id" === $"delta_id", "left")
      .select($"doc_id", $"dup_of".isNull.as("is_new"), $"dup_of")
  }

  /** Iteration cap for [[minhashClusters]]. Each round combines a
    * neighbor-min step with a pointer-jumping contraction
    * (label ← label(label)), so convergence needs O(log diameter)
    * rounds — 32 covers components of astronomically long chains; the
    * cap exists only to turn a logic bug into a loud failure instead of
    * an infinite loop.
    */
  val MaxClusterIters = 32

  /** Distributed connected components by min-label propagation with
    * pointer jumping, over a DIRECTED edge frame (both directions
    * present; columns `a`, `b`). Returns (doc_id, label) for every
    * edge endpoint — singletons (nodes absent from the edge set) are
    * the CALLER's join-back, because only the caller knows the full
    * vertex universe. Shared by [[minhashClusters]] and the k-NN
    * graph's `graph_components`; rounds run on the [[Fixpoint]] loop.
    */
  private[graft] def components(edges0: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val edges = edges0.localCheckpoint(true)
    // Iterate over EDGE ENDPOINTS only: a node absent from the pair
    // graph can never change label, so singletons — the overwhelming
    // majority of a deduped corpus — skip the loop entirely and join
    // back at the end. The per-round shuffles are bounded by the
    // candidate-pair graph (<= 2*|pairs| nodes), not corpus size: at
    // 100 TB that is the difference between iterating over billions of
    // rows O(log n) times and iterating over the near-dup minority.
    val nodes = edges.select($"a".as("doc_id")).distinct().localCheckpoint(true)
    val init = nodes.withColumn("label", $"doc_id").localCheckpoint(true)
    Materialize.retireCheckpoint(nodes) // consumed by the init checkpoint
    // state: (doc_id, old, label) — the round's STARTING label rides
    // along as `old`, so convergence is a filter on the round's own
    // output instead of a third join back to the previous frame
    val fp = Fixpoint(init, MaxClusterIters) { (state, _) =>
      val labels = state.select($"doc_id", $"label")
      val nbrMin = edges
        .join(labels.select($"doc_id".as("nbr"), $"label".as("nbr_label")),
          $"b" === $"nbr")
        .groupBy($"a").agg(min($"nbr_label").as("nbr_min"))
      // materialized before the self-join below, which references it on
      // BOTH sides — without this the neighbor-min shuffle join runs
      // twice per round
      val stepped = labels
        .join(nbrMin, $"doc_id" === $"a", "left")
        .select($"doc_id", $"label".as("old"),
          least($"label", coalesce($"nbr_min", $"label")).as("label"))
        .localCheckpoint(true)
      // pointer jumping: follow one's label to ITS label — path halving
      val next = stepped
        .join(stepped.select($"doc_id".as("l2"), $"label".as("label2")),
          $"label" === $"l2", "left")
        .select($"doc_id", $"old",
          least($"label", coalesce($"label2", $"label")).as("label"))
        .localCheckpoint(true)
      Materialize.retireCheckpoint(stepped) // half-step, consumed by `next`
      if (next.filter($"label" =!= $"old").isEmpty) {
        Materialize.retireCheckpoint(next) // same labels as `state`
        None
      } else Some(next)
    }
    if (!fp.converged)
      throw new IllegalStateException(
        s"components did not converge in $MaxClusterIters rounds — " +
          "with pointer jumping this indicates a bug, not a long chain")
    Materialize.retireCheckpoint(edges) // referenced only inside the loop
    // the loop never retires `init`; it is still the state when round 1
    // changes no label (no edges, or self-loops only)
    if (!(fp.state eq init)) Materialize.retireCheckpoint(init)
    fp.state.select($"doc_id", $"label")
  }

  /** Near-dup CLUSTER resolution — the step after pair generation that
    * large-scale dedup actually keys on: connected components over the
    * [[minhashPairs]] graph, every document labeled with its component's
    * minimum doc_id (`cluster_id`) and a `keeper` flag (the canonical
    * doc to retain). Pairs alone under-delete: A~B and B~C with A≁C must
    * still collapse to one kept document.
    *
    * Algorithm: distributed min-label propagation with pointer jumping —
    * each round every node takes the min of its own label, its
    * neighbors' labels (one shuffle join + aggregate), and its LABEL's
    * label (a second join: the path-halving step that turns linear
    * chains into O(log n) convergence). The driver only orchestrates
    * rounds (a converged? check per round); labels stay distributed, and
    * `localCheckpoint` cuts the growing lineage each round so round N
    * does not replan rounds 1..N-1. Non-convergence within
    * [[MaxClusterIters]] throws rather than returning a silently
    * inconsistent clustering (duplicate keepers).
    */
  def minhashClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairsShared(spark, dir).select($"a", $"b")
    val labels = components(
      pairs.union(pairs.select($"b".as("a"), $"a".as("b"))))
    val singletons = documents(spark, dir).select($"doc_id")
      .join(labels.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("label"))
    labels.union(singletons).select($"doc_id", $"label".as("cluster_id"),
      ($"doc_id" === $"label").as("keeper"))
  }

  /** [[minhashClusters]] as a session-scoped shared artifact
    * ([[graft.Materialize]]): the cluster map is the most widely
    * consumed fixpoint in the engine (canonical selection, cluster-safe
    * splits, the size histogram, the training manifest) and its
    * driver-orchestrated pointer-jumping loop executes eagerly at plan
    * build — so each standalone consumer used to pay the whole
    * clustering. Now the first pays, the rest read the checkpointed
    * (doc_id, cluster_id, keeper) map.
    */
  def minhashClustersShared(spark: SparkSession, dir: String): DataFrame =
    Materialize.shared(spark, dir, "minhash_clusters")(
      minhashClusters(spark, dir))

  /** Canonical-document selection per near-dup cluster: the step after
    * clustering in a real dedup pipeline — within each [[minhashClusters]]
    * cluster, keep the doc with the most content (max `n_chars`, ties to
    * the smallest doc_id) instead of [[minhashClusters]]'s arbitrary
    * min-id keeper; every doc maps to its cluster's canonical id.
    *
    * One partitioned window (shuffle+sort on cluster_id, partition sizes
    * bounded by cluster size) picks the representative — cheaper than
    * the aggregate-then-join-back form, which would shuffle twice. The
    * singleton majority rides through with canonical = itself.
    */
  def canonical(spark: SparkSession, dir: String): DataFrame =
    canonicalOf(
      minhashClustersShared(spark, dir).select($"doc_id", $"cluster_id"),
      documents(spark, dir).select($"doc_id", $"n_chars"))

  /** [[canonical]] over a precomputed cluster map — the factored form
    * lets composite pipelines ([[CorpusPipeline.trainManifest]]) derive
    * canonical selection AND other cluster-keyed artifacts from ONE
    * clustering run instead of re-executing the iterative closure
    * (whose driver-side fixpoint loop runs eagerly at plan build).
    */
  def canonicalOf(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id")
      .orderBy($"n_chars".desc, $"doc_id")
    clusters.join(quality, "doc_id")
      .withColumn("canonical_id", first($"doc_id").over(w))
      .select($"doc_id", $"cluster_id", $"canonical_id",
        ($"doc_id" === $"canonical_id").as("is_canonical"))
  }

  // ---- SimHash ----------------------------------------------------------

  val SimBits = 48

  /** 48-bit SimHash per doc: per-token 60-bit hashes vote ±1 per bit;
    * the sign vector is the fingerprint.
    *
    * One NARROW pass: the codegen'd [[simhashFp]] kernel accumulates all
    * 48 bit votes over the token array inside the scan stage — no token
    * explode, no groupBy, no shuffle; the only Generate is the
    * one-element barrier below. (History: v1 exploded tokens × 48 bits;
    * v2 was a 48-column conditional-sum aggregation; this form keeps
    * the token stream inside the scan.) Bit i is set iff
    * 2·count(bit set) > n_tokens — the majority-vote form.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens($"text")
    documents(spark, dir)
      // Generate barrier (see minhashSignatureArray): token-less docs
      // yield a null fingerprint and are filtered WITHOUT the optimizer
      // pushing the predicate into a second kernel evaluation
      .select($"doc_id", explode(array(simhashFp(toks, SimBits))).as("simhash"))
      .filter($"simhash".isNotNull)
  }

  /** SimHash near-dup pairs: block LSH (4 blocks of 12 bits — any pair
    * within Hamming distance 3 must agree on ≥1 whole block), then exact
    * Hamming ≤ 3 via xor + bit_count. Bucket join keeps candidate
    * generation linear-ish; the 4-block scheme is exact for d ≤ 3.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhash(spark, dir)
    // self-join via aliases of the SAME plan so the shuffled block frame
    // canonicalizes identically on both sides → ReusedExchange (computes
    // the simhash aggregation once, no operator-held cache needed)
    val withBlk = sh.select($"doc_id", $"simhash",
        explode(expr("sequence(0, 3)")).as("blk"))
      .withColumn("blkval",
        expr("shiftright(simhash, cast(blk * 12 as int))").bitwiseAND(lit(4095L)))
    withBlk.as("x").join(withBlk.as("y").hint("shuffle_hash"),
        expr("x.blk = y.blk AND x.blkval = y.blkval AND x.doc_id < y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("simhash"), col("y.simhash").as("sim_b")).distinct()
      .withColumn("hamming", bit_count($"simhash".bitwiseXOR($"sim_b")).cast("bigint"))
      .filter($"hamming" <= 3)
      .select($"a", $"b", $"hamming")
  }

  // ---- n-gram Jaccard ---------------------------------------------------

  /** Corpus-adaptive document-frequency cap for candidate generation:
    * shingles occurring in more than `clamp(DfCapBudget / n_docs,
    * DfCapMin, DfCapMax)` docs are dropped from pairing (standard
    * "stop-shingle" cap — at corpus scale a boilerplate shingle would
    * otherwise pair everything with everything).
    *
    * Why adaptive: with a FIXED cap c the candidate volume is
    * Σ_shingle C(df,2) ≤ shingles × C(c,2) — linear in corpus size but
    * with a constant ~c²/2 that makes the pair scorers the suite's
    * steepest 10×-data entries (9.7–9.8× wall at 10× data under the
    * old fixed 100). Shrinking the cap as the corpus grows keeps the
    * per-shingle pair budget inversely proportional to N, so total
    * candidate volume grows sub-linearly past [[DfCapBudget]]/
    * [[DfCapMax]] documents. The formula is exact integer arithmetic
    * (BIGINT `div`), replayed verbatim by the DuckDB oracles via
    * [[sqlDfCap]]; recall loss at the low clamp is measured by the
    * gated `dedup_lsh_recall` QA op, which applies the same cap to its
    * truth side over the same (sampled) corpus.
    */
  val DfCapMax = 100L
  val DfCapMin = 25L
  val DfCapBudget = 500000L

  /** 1-row `(df_cap)` frame with the adaptive cap for `docs` — a
    * broadcast-able aggregate, attached to the DF filter via a 1-row
    * crossJoin (never a driver-side collect).
    */
  def dfCapOf(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
      .select(greatest(lit(DfCapMin),
        least(lit(DfCapMax), expr(s"$DfCapBudget div n_docs"))).as("df_cap"))

  /** DuckDB twin of [[dfCapOf]] as a scalar expression; `docsRel` is a
    * FROM-able relation (table or filtered subquery) whose row count is
    * the corpus size. `//` floors like `div` truncates — identical on
    * the positive counts here.
    */
  def sqlDfCap(docsRel: String): String =
    s"GREATEST($DfCapMin, LEAST($DfCapMax, $DfCapBudget // (SELECT count(*) FROM $docsRel)))"

  /** Shared candidate-generation core of the n-gram pair scorers:
    * exploded shingle rows (per-doc set size riding along) restricted
    * to shingles under the adaptive DF cap. One DF groupBy + one
    * shingle-key join; the self-join downstream reuses the shingle
    * partitioning (ReusedExchange), never a corpus broadcast.
    */
  private def rareShingleRows(docs: DataFrame): DataFrame = {
    val sh = shingleArrays(docs)
      .select($"doc_id", size($"sh_arr").cast("bigint").as("n_sh"),
        explode($"sh_arr").as("shingle"))
    val df = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(dfCapOf(docs)))
      .filter($"df" <= $"df_cap")
    // shuffle_hash, NOT broadcast: `df` is the full shingle vocabulary —
    // at corpus scale it cannot broadcast, and shuffling both joins on
    // the shingle key lets the pair self-join reuse the partitioning
    sh.join(df.select($"shingle").hint("shuffle_hash"), Seq("shingle"))
  }

  /** Exact n-gram Jaccard near-dup pairs: candidate pairs share ≥1
    * non-stop shingle; J = |∩| / |∪| computed exactly from per-doc
    * shingle counts; keep J ≥ 0.5.
    *
    * The per-doc set size rides along with each exploded shingle row
    * (it's a narrow `size(sh_arr)` projection), so both |A| and |B| are
    * already on the candidate rows after the self-join — no separate
    * sizes aggregation and no post-join size lookups. Shuffles: the DF
    * count, the shingle-key candidate join, the pair groupBy.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsOf(documents(spark, dir))

  /** Core of [[ngramJaccardPairs]] over any (doc_id, text) frame. */
  def ngramJaccardPairsOf(docs: DataFrame): DataFrame =
    ngramPairsScored(docs).filter($"jaccard" >= 0.5)

  /** All candidate pairs with their exact Jaccard (no threshold): the
    * shared scorer behind [[ngramJaccardPairsOf]] (>= 0.5 near-dup
    * pairs) and [[thresholdSweep]] (the operating curve). Candidate
    * volume is threshold-independent — pairs exist only where a rare
    * shingle is shared — so exposing the unfiltered scores costs
    * nothing extra.
    */
  private def ngramPairsScored(docs: DataFrame): DataFrame = {
    val rare = rareShingleRows(docs)
    rare.as("x").join(rare.as("y").hint("shuffle_hash"),
        expr("x.shingle = y.shingle AND x.doc_id < y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.n_sh").as("n_sh"), col("y.n_sh").as("n_sh_b"))
      .groupBy($"a", $"b", $"n_sh", $"n_sh_b")
      .agg(count(lit(1)).as("n_inter"))
      .select($"a", $"b",
        ($"n_inter".cast("double") /
          ($"n_sh" + $"n_sh_b" - $"n_inter").cast("double")).as("jaccard"))
  }

  /** Thresholds swept by [[thresholdSweep]], ascending. */
  val SweepThresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

  /** `dedup_threshold_sweep`: the near-dup OPERATING CURVE — for each
    * candidate Jaccard threshold, how many pairs bind and how many
    * distinct documents they touch. The chart a pipeline owner reads
    * BEFORE choosing the dedup cutoff: too low and the affected-doc
    * count explodes into false merges, too high and known templates
    * survive; the knee is the defensible setting. All exact BIGINTs
    * from ONE scored-pair pass ([[ngramPairsScored]] — candidate
    * generation is threshold-independent, so sweeping costs one
    * broadcast join against the 7-row threshold table, never a re-scan
    * per threshold). Zero-pair thresholds stay explicit zero rows via
    * the left-join-back restore — a sweep that silently drops empty
    * cells reads as a shorter curve. Scale shape: identical to the
    * jaccard pass plus a bounded (pairs x thresholds) expansion and one
    * threshold-keyed aggregate over a 7-value domain.
    */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramPairsScored(documents(spark, dir))
      .filter($"jaccard" >= SweepThresholds.min)
    val ts = spark.range(1)
      .select(explode(lit(SweepThresholds.toArray)).as("threshold"))
    // INNER broadcast join, zero rows restored by a left-join-back:
    // the previous LEFT OUTER non-equi join relied on the planner
    // STATS choosing BNLJ BuildLeft on the 7-row table — for an outer
    // join the hint can't force the build side, so a future stats
    // change could silently broadcast the PAIR side (a scaling
    // relation). Inner non-equi CAN build either side, so the
    // broadcast() hint on `ts` is binding; the plan shape is pinned in
    // PlanShapeSpec. The restore join is 7 rows against 7 groups.
    val counts = broadcast(ts)
      .join(pairs, $"jaccard" >= $"threshold")
      .select($"threshold", explode(array($"a", $"b")).as("d"))
      .groupBy($"threshold")
      .agg((count(lit(1)) / 2).cast("bigint").as("np"),
        count_distinct($"d").as("nd"))
    ts.join(broadcast(counts), Seq("threshold"), "left")
      .select($"threshold",
        coalesce($"np", lit(0L)).as("n_pairs"),
        coalesce($"nd", lit(0L)).as("n_docs_affected"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C(a→b) = |∩| / |A| — the
    * quote-inclusion detector Jaccard structurally misses (a short doc
    * fully embedded in a long one has tiny |∩|/|∪| but containment ≈ 1).
    * Emits ORDERED pairs above the threshold, so a→b and b→a are judged
    * independently with their own denominators. Same DF-capped bucketed
    * candidate join as [[ngramJaccardPairs]] (shared exchange, no
    * all-pairs, no corpus broadcast); the threshold is higher (0.9)
    * because containment is the "is A essentially inside B" question.
    */
  def ngramContainmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val rare = rareShingleRows(documents(spark, dir))
    // intersections computed ONCE per unordered pair (a < b — half the
    // join and aggregation volume), then both directed rows emitted with
    // their own denominators; a <> join would re-count every
    // intersection twice
    rare.as("x").join(rare.as("y").hint("shuffle_hash"),
        expr("x.shingle = y.shingle AND x.doc_id < y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.n_sh").as("n_sh"), col("y.n_sh").as("n_sh_b"))
      .groupBy($"a", $"b", $"n_sh", $"n_sh_b")
      .agg(count(lit(1)).as("n_inter"))
      .select(explode(array(
        struct($"a", $"b",
          ($"n_inter".cast("double") / $"n_sh".cast("double")).as("containment")),
        struct($"b".as("a"), $"a".as("b"),
          ($"n_inter".cast("double") / $"n_sh_b".cast("double")).as("containment"))))
        .as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"), $"p.containment".as("containment"))
      .filter($"containment" >= 0.9)
  }

  /** Duplicate-span coverage per document: the share of a doc's distinct
    * word 3-shingles that also occur in at least one OTHER document —
    * the "how much of this doc is copied from somewhere" signal behind
    * span-level dedup of training corpora (high coverage = boilerplate /
    * mirrored content even when no single pair clears a Jaccard bar).
    *
    * [[shingles]] is already distinct per (doc, shingle), so a shingle's
    * row count IS its document frequency. Shuffles: the DF groupBy and
    * the shingle-key join back (shuffle_hash on the same key, so the
    * exchange is shared — never a corpus-sized broadcast), then the
    * per-doc groupBy. A doc's flag rides on exact BIGINT counts; the
    * ratio divides them, so the double is engine-exact.
    */
  /** 1-in-[[RecallSampleMod]] doc_id-hash sample taken by [[lshRecall]]
    * before BOTH sides of the measurement. */
  val RecallSampleMod = 4L

  def recallSample(docs: DataFrame): DataFrame =
    docs.filter(pmod(
      Hashing.md5Prefix60(concat(lit("lshrecall:"), $"doc_id".cast("string"))),
      lit(RecallSampleMod)) === 0)

  /** `dedup_lsh_recall`: recall/precision QA of the MinHash+LSH
    * candidate path against the exact n-gram-Jaccard ground truth at
    * the shared 0.5 threshold — the missing recall op of the dedup
    * family (the ANN side has had its `sim_*_recall` siblings since
    * round 4). Embeds both sides by design, like every recall op: the
    * production path stays [[minhashPairs]]; this measures it.
    *
    * Both sides run on a deterministic 1-in-[[RecallSampleMod]]
    * doc_id-hash subcorpus: the exact truth side is quadratic-ish in
    * pair volume, and recall over a hash-uniform doc sample has the
    * same statistical meaning (each truth pair survives independently
    * with p = 1/mod², so the hit RATE is an unbiased estimate) while
    * bounding the QA op's cost at any corpus size — it was the suite's
    * most expensive sf1 entry unsampled. `sample_mod` rides in the
    * output row so readers know the denominator's basis.
    */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = recallSample(documents(spark, dir))
    val truth = ngramJaccardPairsOf(docs).select($"a", $"b")
    val cand = minhashPairsOf(docs).select($"a", $"b")
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nHit = truth.join(cand.hint("shuffle_hash"), Seq("a", "b"))
      .agg(count(lit(1)).as("n_hit"))
    // Empty truth/candidate sets are legal (a corpus whose sampled
    // subcorpus has no qualifying near-dup pairs — the sf3 decade probe
    // hit exactly this): emit NULL, which is also what DuckDB's
    // double division yields on /0, instead of tripping ANSI
    // DIVIDE_BY_ZERO.
    nTruth.join(broadcast(nCand)).join(broadcast(nHit))
      .select($"n_truth", $"n_candidates", $"n_hit",
        when($"n_truth" > 0,
          $"n_hit".cast("double") / $"n_truth".cast("double"))
          .as("recall"),
        when($"n_candidates" > 0,
          $"n_hit".cast("double") / $"n_candidates".cast("double"))
          .as("precision"),
        lit(RecallSampleMod).as("sample_mod"))
  }

  /** `eval_split_leakage`: benchmark-contamination QA — held-out (val/
    * test) documents that are MinHash near-duplicates of a training
    * document under the corpus's deterministic split
    * ([[Sampling.splitAssign]]). Decontamination
    * (`pipeline_decontaminate`) asks "does training text quote the
    * benchmark"; this asks the converse leak question every pretraining
    * eval audit runs: "is the held-out set effectively IN the training
    * set", where a near-dup (not just an exact quote) inflates eval.
    * Output: one row per leaking (train, eval) pair with the eval
    * side's split and the estimated Jaccard.
    *
    * Scale shape: the pair set is the banded [[minhashPairs]] join
    * (bounded band buckets, never all-pairs); the split tag is a
    * narrow per-doc hash, attached by two doc-keyed shuffle-hash joins
    * onto the (small) pair set — the corpus never broadcasts. Pairs
    * within the same side (train×train, heldout×heldout) drop.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val splits = Sampling.splitAssign(spark, dir).select($"doc_id", $"split")
    val pairs = minhashPairsShared(spark, dir)
    pairs
      .join(splits.select($"doc_id".as("a"), $"split".as("split_a"))
        .hint("shuffle_hash"), Seq("a"))
      .join(splits.select($"doc_id".as("b"), $"split".as("split_b"))
        .hint("shuffle_hash"), Seq("b"))
      .filter(($"split_a" === "train") =!= ($"split_b" === "train"))
      .select(
        when($"split_a" === "train", $"a").otherwise($"b").as("train_doc"),
        when($"split_a" === "train", $"b").otherwise($"a").as("eval_doc"),
        when($"split_a" === "train", $"split_b").otherwise($"split_a")
          .as("eval_split"),
        $"est_jaccard")
  }

  def spanCoverage(spark: SparkSession, dir: String): DataFrame =
    spanCoverageOf(documents(spark, dir))

  /** Core of [[spanCoverage]] over any (doc_id, text) frame. */
  def spanCoverageOf(docs: DataFrame): DataFrame = {
    val sh = shinglesOf(docs)
    val freq = sh.groupBy($"shingle").agg(count(lit(1)).as("n_docs"))
    sh.join(freq.hint("shuffle_hash"), Seq("shingle"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"n_docs" >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select($"doc_id", $"n_shingles", $"n_shared",
        ($"n_shared".cast("double") / $"n_shingles".cast("double"))
          .as("dup_coverage"))
  }

  /** `text_ngram_novelty`: each document's novel contribution to the
    * corpus — the share of its distinct shingles whose FIRST occurrence
    * (minimum doc_id corpus-wide) is this document. The curation
    * ordering signal dedup alone doesn't give: a document can be no
    * one's near-duplicate yet add almost nothing new (novelty → 0),
    * and crawl-ordered ingestion uses exactly this to prefer the
    * earliest source of shared text. [[spanCoverage]] asks "how much of
    * me is shared"; this asks "how much of me is MINE".
    *
    * Scale shape: first-occurrence attribution is a shingle-keyed
    * `min(doc_id)` aggregate joined straight back to the shingle table
    * — both sides hash on `shingle`, and the aggregate is DERIVED from
    * the same exploded child, so the join consumes one exchange twice
    * (ReusedExchange), never an all-pairs comparison. Output is one
    * row per document.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesOf(documents(spark, dir))
    val first = sh.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
    sh.join(first.hint("shuffle_hash"), Seq("shingle"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        ($"n_novel".cast("double") / $"n_shingles".cast("double"))
          .as("novelty"))
  }

  // ---- exact substring spans (Lee et al. 2022) -------------------------

  /** Gram width (words) for [[substringSpans]]: a duplicated region
    * shorter than this many words is below the dedup threshold, mirroring
    * the length floor in suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", §3 —
    * 50 BPE tokens there; 8 words here, scaled to the fixture corpus's
    * short documents).
    */
  val SpanK = 8

  /** `dedup_substring_spans`: positional exact-substring dedup census —
    * for every document, the maximal word spans whose every [[SpanK]]-gram
    * occurs MORE THAN ONCE corpus-wide (cross-doc or repeated within a
    * doc). This is the span-removal input of suffix-array substring
    * dedup: [[spanCoverage]] answers "what fraction of my distinct
    * shingles is shared"; this emits WHERE the duplicated text sits
    * (start/end word offsets), which is what an actual rewrite pass
    * consumes.
    *
    * Distributed shape (no suffix array needed): stride-1 [[SpanK]]-gram
    * fingerprints replace suffix sorting — a gram repeats iff the
    * corresponding length-K substring repeats UP TO 60-bit fingerprint
    * collisions (~2⁻⁶⁰ per pair; at a 100 TB word budget ≈ 2⁴³ grams,
    * birthday collisions over the full corpus become likely, each
    * flagging one spurious K-word span — a rewrite pass wanting
    * suffix-array exactness re-checks flagged grams against the text),
    * so maximal duplicated spans are the unions of overlapping
    * duplicated gram positions. The plan is (1) one narrow explode of position-ordered
    * grams with a portable 60-bit fingerprint, (2) one fp-keyed count
    * aggregate DERIVED from the same exploded child as the probe side,
    * so the left-semi join consumes one exchange twice (ReusedExchange —
    * the [[ngramNovelty]] pattern), (3) one doc-keyed window pass
    * (partition sizes bounded by document length) merging overlapping
    * positions (gap ≤ K−1 words) into islands via the gaps-and-islands
    * running sum, (4) a final (doc, span) aggregate. Everything is
    * partial-aggregable; nothing is quadratic in corpus size — total
    * rows ≈ total corpus words, the same budget the BPE family already
    * carries.
    */
  def substringSpans(spark: SparkSession, dir: String): DataFrame =
    substringSpansOf(documents(spark, dir))

  /** Core of [[substringSpans]] over any (doc_id, text) frame. */
  def substringSpansOf(docs: DataFrame): DataFrame = {
    val grams = docs
      .select($"doc_id",
        posexplode(wordShingles(TextAnalysis.tokens($"text"), SpanK)))
      .select($"doc_id", $"pos".cast("bigint").as("pos"),
        Hashing.md5Prefix60($"col").as("fp"))
    val dup = grams.groupBy($"fp").agg(count(lit(1)).as("n_occ"))
      .filter($"n_occ" > 1)
    val dupPos = grams.join(dup.hint("shuffle_hash"), Seq("fp"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    dupPos
      .withColumn("ns",
        when($"pos" - coalesce(lag($"pos", 1).over(w), lit(-SpanK.toLong))
          > (SpanK - 1), 1L).otherwise(0L))
      .withColumn("span_id", sum($"ns").over(w))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + (SpanK - 1)).as("span_end"))
      .select($"doc_id", $"span_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_words"))
  }

  /** DuckDB twin of [[substringSpans]] (grams via 1-based list slicing,
    * same md5-prefix fingerprint, same gaps-and-islands merge).
    */
  def sqlSubstringSpans: String = {
    val k = SpanK
    s"""WITH toks AS (SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |grams AS (SELECT doc_id, i AS pos,
       |    ${Hashing.sqlMd5Prefix60(s"array_to_string(toks[i + 1 : i + $k], ' ')")} AS fp
       |  FROM (SELECT doc_id, toks, unnest(range(greatest(len(toks) - ${k - 1}, 0))) AS i
       |        FROM toks)),
       |dup AS (SELECT fp FROM grams GROUP BY fp HAVING count(*) > 1),
       |dp AS (SELECT doc_id, pos FROM grams WHERE fp IN (SELECT fp FROM dup)),
       |flag AS (SELECT doc_id, pos,
       |    CASE WHEN pos - coalesce(lag(pos) OVER w, -$k) > ${k - 1}
       |         THEN 1 ELSE 0 END AS ns
       |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (SELECT doc_id, pos,
       |    CAST(sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS span_id
       |  FROM flag)
       |SELECT doc_id, span_id, min(pos) AS span_start,
       |  max(pos) + ${k - 1} AS span_end,
       |  max(pos) + ${k - 1} - min(pos) + 1 AS span_words
       |FROM isl GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_id""".stripMargin
  }

  /** `dedup_substring_remove`: the REWRITE pass [[substringSpans]] feeds
    * — excise duplicated spans from every document, keeping each
    * duplicated substring's FIRST occurrence corpus-wide (Lee et al.
    * 2022 §4: train on deduplicated text, not just measure it). Global
    * ownership: for every duplicated [[SpanK]]-gram fingerprint the
    * occurrence with the minimum (doc_id, pos) is the owner and stays;
    * every other occurrence marks its K token positions for removal;
    * overlapping removal positions merge to spans (the census's
    * gaps-and-islands), and the document is rebuilt from the surviving
    * tokens. Output per document: original/removed token counts and the
    * cleaned text — `n_tokens - n_removed` tokens long by construction.
    *
    * The pass operates in TOKEN space (the space the spans are defined
    * in): `clean_text` is the kept tokens joined by single spaces, the
    * same normalization every shingle/fingerprint operator applies —
    * punctuation/casing of the raw text is not preserved. A token under
    * BOTH an owned and a non-owned gram is removed (span semantics:
    * non-owner spans excise whole regions) — owners keep their text
    * only where no foreign duplicate overlaps it.
    *
    * Scale shape, on top of the census plan: the ownership aggregate is
    * the same fp-keyed pass (min(struct(doc,pos)) rides the count); the
    * non-owner gram starts aggregate per document (bounded by document
    * gram count, the tile/BPE budget); and the `span_remove` codegen
    * kernel performs the island merge and the document rebuild in one
    * per-document pass on the doc-keyed join of documents against their
    * removal-start arrays — rows never exceed the corpus word budget,
    * the document text shuffles exactly once, nothing quadratic.
    */
  def substringSpanRemove(spark: SparkSession, dir: String): DataFrame =
    substringSpanRemoveOf(documents(spark, dir))

  /** Core of [[substringSpanRemove]] over any (doc_id, text) frame. */
  def substringSpanRemoveOf(docs: DataFrame): DataFrame = {
    val grams = docs
      .select($"doc_id",
        posexplode(wordShingles(TextAnalysis.tokens($"text"), SpanK)))
      .select($"doc_id", $"pos".cast("bigint").as("pos"),
        Hashing.md5Prefix60($"col").as("fp"))
    // one fp-keyed aggregate: occurrence count + first-owner (min
    // (doc_id, pos), lexicographic struct order) in the same pass
    val own = grams.groupBy($"fp")
      .agg(count(lit(1)).as("n_occ"),
        min(struct($"doc_id", $"pos")).as("own"))
      .filter($"n_occ" > 1)
    val rmGram = grams.join(own.hint("shuffle_hash"), Seq("fp"))
      .filter(!($"doc_id" === $"own.doc_id" && $"pos" === $"own.pos"))
      .select($"doc_id", $"pos")
    // One sorted array of non-owner gram START positions per document,
    // then the codegen span_remove kernel does the island merge AND the
    // rebuild in a single per-document pass (r17, guide §2.4/§1.2 —
    // VERDICT r16 item 3). This replaces the whole token-granular
    // shuffle tier the rewrite used to pay: the gaps-and-islands window
    // over removal positions, the span-range explode, the (doc, pos)-
    // keyed shuffle join of EVERY corpus token against the removal set,
    // and the collect_list + struct_sort_project rebuild aggregate.
    // Equivalence (pinned by SubstringSpansSpec): consecutive starts
    // ≤ K−1 apart cover exactly the merged island span, so "token i
    // removed iff some start s has s ≤ i ≤ s+K−1" reproduces the
    // explode-join's removal set; kept tokens joined in document order
    // are the structSortProject rebuild. Scale shape: the removal-starts
    // aggregate is bounded by corpus gram count (the rows the old plan
    // shuffled TWICE at token granularity now shuffle once as longs),
    // and the doc-keyed join shuffles the document text exactly once.
    val rmStarts = rmGram.groupBy($"doc_id")
      .agg(sort_array(collect_list($"pos")).as("rm"))
    val r = graft.plans.ArrayOps.spanRemove(
      coalesce(TextAnalysis.tokens($"text"), expr("CAST(array() AS ARRAY<STRING>)")),
      coalesce($"rm", expr("CAST(array() AS ARRAY<BIGINT>)")), SpanK)
    docs.join(rmStarts.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select($"doc_id", r.as("r"))
      .select($"doc_id",
        $"r.n_tokens".as("n_tokens"),
        $"r.n_removed".as("n_removed"),
        ($"r.n_tokens" > 0L && $"r.n_removed" === $"r.n_tokens")
          .as("fully_duplicated"),
        $"r.clean_text".as("clean_text"))
  }

  /** DuckDB twin of [[substringSpanRemove]] (two-step ownership argmin —
    * min doc, then min pos within it — replays the struct-min exactly on
    * unique (doc, pos) keys).
    */
  def sqlSubstringSpanRemove: String = {
    val k = SpanK
    s"""WITH toks AS (SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |tokpos AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i + 1] AS tok
       |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM toks)),
       |grams AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    ${Hashing.sqlMd5Prefix60(s"array_to_string(toks[i + 1 : i + $k], ' ')")} AS fp
       |  FROM (SELECT doc_id, toks, unnest(range(greatest(len(toks) - ${k - 1}, 0))) AS i
       |        FROM toks)),
       |own1 AS (SELECT fp, min(doc_id) AS od FROM grams GROUP BY fp HAVING count(*) > 1),
       |own AS (SELECT g.fp, o.od, min(g.pos) AS op
       |  FROM grams g JOIN own1 o ON g.fp = o.fp AND g.doc_id = o.od
       |  GROUP BY g.fp, o.od),
       |rmg AS (SELECT g.doc_id, g.pos FROM grams g JOIN own o ON g.fp = o.fp
       |  WHERE NOT (g.doc_id = o.od AND g.pos = o.op)),
       |flag AS (SELECT doc_id, pos,
       |    CASE WHEN pos - coalesce(lag(pos) OVER w, -$k) > ${k - 1}
       |         THEN 1 ELSE 0 END AS ns
       |  FROM rmg WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (SELECT doc_id, pos,
       |    CAST(sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS span_id
       |  FROM flag),
       |spans AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + ${k - 1} AS e
       |  FROM isl GROUP BY doc_id, span_id),
       |rmpos AS (SELECT doc_id, CAST(unnest(range(s, e + 1)) AS BIGINT) AS pos FROM spans),
       |agg AS (SELECT t.doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |    coalesce(string_agg(CASE WHEN r.pos IS NULL THEN t.tok END, ' ' ORDER BY t.pos), '') AS clean_text
       |  FROM tokpos t LEFT JOIN rmpos r ON t.doc_id = r.doc_id AND t.pos = r.pos
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.n_removed, 0) AS n_removed,
       |  (a.n_tokens IS NOT NULL AND a.n_removed = a.n_tokens) AS fully_duplicated,
       |  coalesce(a.clean_text, '') AS clean_text
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- embedding near-dup ----------------------------------------------

  /** Scalar-quantize an embedding into exact integer space: floor(x*1e6).
    * All downstream arithmetic (dots, norms) is exact BIGINT, making
    * cosine thresholds engine-independent — the oracle-parity form of
    * scalar quantization.
    */
  def quantized(spark: SparkSession, dir: String): DataFrame =
    // codegen'd kernel (VecKernel.quantizeFloats) — the transform() HOF
    // form was interpreted and sat under every embedding consumer's scan
    embeddings(spark, dir)
      .select($"vec_id", $"label",
        graft.plans.ArrayOps.quantizeFloats($"embedding", 1000000L).as("q"))

  /** Cosine threshold for embedding near-dup pairs. The synthetic
    * embeddings are near-orthogonal (max pairwise cosine ≈ 0.51), so the
    * classic 0.95+ near-dup cutoff matches nothing; 0.35 exercises the
    * operator on a few hundred pairs. cos² form keeps arithmetic exact.
    */
  val CosThreshold = 0.35
  val Cos2Threshold: Double = CosThreshold * CosThreshold

  /** Embedding-cosine near-dup pairs (brute force within the corpus):
    * cos² = dot²/(|a|²|b|²) in exact-int-derived doubles; keep dot>0 and
    * cos ≥ [[CosThreshold]]. Brute-force is the correctness baseline;
    * the LSH bucket path in [[Similarity]] is the scale path.
    */
  /** Hard input cap for [[embeddingNearDup]]: beyond this the O(n²)
    * pair product (≈ cap²/2 candidates) stops being a runnable
    * baseline and the LSH siblings ([[Similarity.lshNearDupPairs]],
    * [[Similarity.lshNearDupPairsMulti]]) are the only sane path.
    */
  val BruteForceMaxVectors = 100000L

  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.ArrayOps._
    // enforce the documented baseline-only contract LOUDLY: a silent
    // O(n²) run on a production-sized corpus is a cluster outage, not
    // a slow query. One cheap narrow count against the vector table.
    val n = embeddings(spark, dir).count()
    require(n <= BruteForceMaxVectors,
      s"embeddingNearDup is the O(n²) correctness baseline: $n vectors " +
        s"exceeds BruteForceMaxVectors=$BruteForceMaxVectors; use " +
        "Similarity.lshNearDupPairs(Multi) — the bucketed production path")
    // Norms once per vector (not per pair); dot via the codegen'd
    // LongArrayDot — the pair join is then a single tight loop per row.
    // The stream side is hash-spread before the O(n²) nested-loop join:
    // the scan may be a single input split, and a pairwise scan must
    // run one partition per core, not one per file.
    val q = quantized(spark, dir).select($"vec_id", $"q")
      .withColumn("nrm", longArrayNormSq($"q"))
    // explicit partition count: AQE would coalesce a column-only
    // repartition of a small input back to one partition, and the cost
    // here is pairwise compute, not data volume
    val par = spark.sparkContext.defaultParallelism
    q.repartition(par, $"vec_id").as("x").join(q.as("y"), expr("x.vec_id < y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        longArrayDot(col("x.q"), col("y.q")).as("dot"),
        col("x.nrm").as("na"), col("y.nrm").as("nb"))
      .withColumn("cos2",
        ($"dot".cast("double") * $"dot".cast("double")) /
          ($"na".cast("double") * $"nb".cast("double")))
      .filter($"dot" > 0 && $"cos2" >= Cos2Threshold)
      .select($"a", $"b", $"cos2")
  }

  /** `dedup_embedding_collapsed`: exact-vector canonical collapse
    * BEFORE the cosine pass — the production guard for dup-heavy
    * corpora. [[embeddingNearDup]]'s pair output is Θ(Σ g²) in
    * duplicate-group sizes g: on a crawl corpus where one mirrored
    * page yields 10⁵ identical embeddings, a single group emits 5×10⁹
    * pairs no matter how the join is bucketed (the r13 sf3 decade
    * probe measured exactly this shape on the replicated scale data —
    * 9.67× true-pair growth at 3× data). Collapsing identical
    * quantized vectors to their min-vec_id representative first makes
    * every downstream stage DISTINCT-vector-bounded: the pair join,
    * the output, and the [[BruteForceMaxVectors]] guard (which now
    * caps what actually drives cost). Each surviving rep pair carries
    * `n_vec_pairs = sz_a × sz_b` — the exact number of underlying
    * vector pairs it stands for, so nothing is lost, it's just not
    * materialized row-by-row. The collapse itself is one
    * full-vector-keyed aggregate (map-side combinable, key cardinality
    * = distinct vectors), pinned as a bounded localCheckpoint so the
    * self-join reads it once. Same cosine threshold and exact-int
    * arithmetic as the uncollapsed baseline.
    */
  def embeddingNearDupCollapsed(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.ArrayOps._
    val q = quantized(spark, dir).select($"vec_id", $"q")
    val grp = q.groupBy($"q")
      .agg(min($"vec_id").as("rep"), count(lit(1)).as("sz"))
      .withColumn("nrm", longArrayNormSq($"q"))
      .localCheckpoint(eager = true) // distinct-vector-bounded; one build
    val n = grp.count() // free: frame is materialized
    require(n <= BruteForceMaxVectors,
      s"embeddingNearDupCollapsed: $n DISTINCT vectors exceed " +
        s"BruteForceMaxVectors=$BruteForceMaxVectors; use the LSH path " +
        "(Similarity.lshNearDupPairs) — collapse no longer saves the O(n²)")
    val par = spark.sparkContext.defaultParallelism
    grp.repartition(par, $"rep").as("x")
      .join(grp.as("y"), expr("x.rep < y.rep"))
      .select(col("x.rep").as("a"), col("y.rep").as("b"),
        longArrayDot(col("x.q"), col("y.q")).as("dot"),
        col("x.nrm").as("na"), col("y.nrm").as("nb"),
        (col("x.sz") * col("y.sz")).as("n_vec_pairs"))
      .withColumn("cos2",
        ($"dot".cast("double") * $"dot".cast("double")) /
          ($"na".cast("double") * $"nb".cast("double")))
      .filter($"dot" > 0 && $"cos2" >= Cos2Threshold)
      .select($"a", $"b", $"cos2", $"n_vec_pairs")
  }

  /** `dedup_simhash_collapsed`: the same canonical-collapse guard for
    * the SimHash family. Unigram SimHash is order-independent, so
    * mirrored/permuted copies share a FINGERPRINT exactly — and
    * [[simhashPairs]] then emits every cross-copy pair: Θ(Σ g²) in
    * fingerprint-group sizes (the sf3 probe's 5.18× wall at 3× data
    * rode on 9.66× true-pair growth). Collapsing to one min-doc_id rep
    * per distinct fingerprint first bounds the banded LSH join, the
    * Hamming filter, and the output by DISTINCT-fingerprint count;
    * each rep pair carries `n_doc_pairs = sz_a × sz_b`. Same-fingerprint
    * duplicates are the collapse groups themselves (their sizes ride on
    * every pair; per-doc membership is [[simhash]]) — post-collapse
    * pairs are Hamming 1..3 by construction. Same 4×12-bit block LSH,
    * exact for d ≤ 3.
    */
  def simhashPairsCollapsed(spark: SparkSession, dir: String): DataFrame = {
    val grp = simhash(spark, dir)
      .groupBy($"simhash")
      .agg(min($"doc_id").as("rep"), count(lit(1)).as("sz"))
    // same aliased-self-join discipline as simhashPairs: one shuffled
    // block frame, ReusedExchange on the other side
    val withBlk = grp.select($"rep", $"simhash", $"sz",
        explode(expr("sequence(0, 3)")).as("blk"))
      .withColumn("blkval",
        expr("shiftright(simhash, cast(blk * 12 as int))").bitwiseAND(lit(4095L)))
    withBlk.as("x").join(withBlk.as("y").hint("shuffle_hash"),
        expr("x.blk = y.blk AND x.blkval = y.blkval AND x.rep < y.rep"))
      .select(col("x.rep").as("a"), col("y.rep").as("b"),
        col("x.simhash").as("simhash"), col("y.simhash").as("sim_b"),
        col("x.sz").as("sza"), col("y.sz").as("szb")).distinct()
      .withColumn("hamming", bit_count($"simhash".bitwiseXOR($"sim_b")).cast("bigint"))
      .filter($"hamming" <= 3)
      .select($"a", $"b", $"hamming", ($"sza" * $"szb").as("n_doc_pairs"))
  }

  /** `dedup_cluster_size_hist`: the size distribution of near-dup
    * clusters — how much of the corpus sits in singletons vs pairs vs
    * mega-families. THE one-glance dedup health chart: a fat tail
    * here means boilerplate or crawl loops; all-singletons means the
    * near-dup thresholds bind nothing. Derived from
    * [[minhashClusters]] by two bounded aggregations (cluster → size,
    * size → counts); output is size-domain bounded.
    */
  def clusterSizeHist(spark: SparkSession, dir: String): DataFrame =
    minhashClustersShared(spark, dir)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select($"cluster_size", $"n_clusters",
        ($"cluster_size" * $"n_clusters").as("n_docs"))

  /** `llm_sql_surface`: the document fingerprint pass driven by SQL TEXT
    * ALONE — one `spark.sql` string over a temp view reaching the
    * registered text-hash kernels (`normalize_text`, `md5_prefix60`,
    * `simhash_fp`, `minhash_sig`, `word_shingles`): the proof a
    * SQL-first consumer can run the LLM dedup primitives with no Scala
    * imports, the `dws_sql_surface` discipline applied to this side of
    * the engine ([[graft.Session]] registers the functions; a deployed
    * cluster sets `spark.sql.extensions`).
    *
    * Null contract made explicit in the SQL: token-less docs have no
    * simhash and <3-token docs no MinHash signature (the kernels yield
    * NULL, see [[org.apache.spark.sql.graftexpr.MinHashSig]]) — both
    * coalesce to -1 here, mirrored in the oracle, so the dump is
    * total. Scale shape: one narrow projection over the scan — every
    * kernel is per-row codegen; no explode, no shuffle.
    */
  /** `llm_sql_surface_remove`: the Lee-et-al substring-removal REWRITE
    * ([[substringSpanRemoveOf]]) driven by SQL TEXT ALONE — one
    * `spark.sql` string over a temp view, so a SQL-first consumer can
    * run the full exact-substring dedup pipeline (fingerprint →
    * ownership → span merge → document rebuild) with no Scala imports.
    * Tokens/fingerprints/rebuild come from the registered kernels
    * (`tokenize`, `word_shingles`, `md5_prefix60`, `span_remove`) —
    * every per-row expression in the plan is codegen'd, no
    * CodegenFallback HOF remains (PlanShapeSpec pins this); everything
    * else is ANSI-ish Spark SQL (posexplode, struct-min ownership,
    * per-document removal-starts aggregation, doc-keyed rebuild join).
    *
    * Value-identical to `dedup_substring_remove` (same oracle SQL); the
    * plan shape is pinned by PlanShapeSpec — the SHUFFLE_HASH hints on
    * the fp-keyed and rebuild joins survive the text round-trip, and no
    * nested-loop/cartesian join may appear. Scale shape identical to
    * the Scala form: bounded fp-keyed aggregate, one per-document
    * removal-starts aggregate, one doc-keyed `span_remove` rebuild
    * (r17 — the kernel replaced the token-granular explode/join tier in
    * both surfaces; see [[substringSpanRemoveOf]]).
    */
  def sqlSurfaceRemove(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir).createOrReplaceTempView("llm_docs")
    val k = SpanK
    spark.sql(
      s"""WITH toks AS (
         |  SELECT doc_id, tokenize(text) AS toks FROM llm_docs),
         |grams AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, md5_prefix60(g) AS fp
         |  FROM toks LATERAL VIEW posexplode(word_shingles(toks, $k)) AS pos, g),
         |own AS (
         |  SELECT fp, min(struct(doc_id, pos)) AS own
         |  FROM grams GROUP BY fp HAVING count(1) > 1),
         |rmg AS (
         |  SELECT /*+ SHUFFLE_HASH(o) */ g.doc_id, g.pos
         |  FROM grams g JOIN own o ON g.fp = o.fp
         |  WHERE NOT (g.doc_id = o.own.doc_id AND g.pos = o.own.pos)),
         |rm AS (
         |  SELECT doc_id, sort_array(collect_list(pos)) AS rms
         |  FROM rmg GROUP BY doc_id),
         |rb AS (
         |  SELECT /*+ SHUFFLE_HASH(rm) */ t.doc_id,
         |    span_remove(coalesce(t.toks, CAST(array() AS ARRAY<STRING>)),
         |      coalesce(rm.rms, CAST(array() AS ARRAY<BIGINT>)), $k) AS r
         |  FROM toks t LEFT JOIN rm ON t.doc_id = rm.doc_id)
         |SELECT doc_id,
         |  r.n_tokens AS n_tokens,
         |  r.n_removed AS n_removed,
         |  (r.n_tokens > 0L AND r.n_removed = r.n_tokens) AS fully_duplicated,
         |  r.clean_text AS clean_text
         |FROM rb""".stripMargin)
  }

  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir).createOrReplaceTempView("llm_docs")
    spark.sql(
      s"""WITH tq AS (
         |  SELECT doc_id, text, tokenize(text) AS toks FROM llm_docs)
         |SELECT doc_id,
         |  md5_prefix60(normalize_text(text)) AS fp60,
         |  coalesce(simhash_fp(toks, $SimBits), CAST(-1 AS BIGINT)) AS simhash,
         |  coalesce(element_at(minhash_sig(word_shingles(toks, 3), $NumPerm), 1),
         |    CAST(-1 AS BIGINT)) AS mh0,
         |  CAST(greatest(size(toks) - 2, 0) AS BIGINT) AS n_shingles
         |FROM tq""".stripMargin)
  }
}
