package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._

/** PageRank over the k-NN similarity graph ([[Similarity.knnGraph]]) —
  * graph centrality as a data-curation signal: documents whose
  * neighborhoods keep pointing back at them are the redundant cores of
  * near-dup families, while low-rank nodes are the corpus's unique
  * tails. Runs in EXACT integer arithmetic (fixed-point, [[Scale]]) so
  * every round is bit-identical across engines; the oracle replays all
  * [[Rounds]] rounds as an unrolled DuckDB CTE chain, the same contract
  * as k-means ([[Clustering]]) and BPE ([[BpeTrain]]).
  *
  *  - node set = edge sources (every node with any scored pair has its
  *    own top-k list, so destinations are a subset of sources);
  *  - pr₀ = [[Scale]] div N; each round
  *    pr' = (15·Scale) div (100·N) + (85·Σ incoming(pr div outdeg)) div 100
  *    — truncating BIGINT division at every step (Spark `div` ≡ DuckDB
  *    `//` on positives);
  *  - values stay ≈ Scale/N, so 64-bit sums cannot overflow at any
  *    corpus size.
  *
  * Scale shape per round: ranks ⋈ edges on the already-partitioned src
  * key, one aggregation keyed by dst — the textbook iterative
  * join-agg; [[Rounds]] is a constant, so the whole computation is a
  * fixed round count with no driver-side data loops. Edges, the node
  * table and every round's ranks are checkpointed leaves, so each
  * round's plan joins two materialized relations ([[Fixpoint]] holds
  * the materialization rationale for every graph loop).
  */
object GraphRank {

  /** Fixed-point scale: pr values are rank·Scale truncated. */
  val Scale = 1000000000000L

  /** Power-iteration rounds — fixed so the unrolled oracle is finite. */
  val Rounds = 3

  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    // the session-shared k-NN edge artifact is already a checkpointed
    // leaf ([[Similarity.knnGraphShared]]): every round's join plan
    // starts from a narrow projection of materialized rows
    val edges = Similarity.knnGraphShared(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor").as("dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nRow = broadcast(outdeg.agg(count(lit(1)).as("nn")))
    // node table (vec_id, outdeg, nn) referenced by every round's
    // teleport left-join — materialize it too, or each round re-runs
    // the degree aggregation
    val nodes = outdeg.crossJoin(nRow)
      .select(col("src").as("vec_id"), col("outdeg"), col("nn"))
      .localCheckpoint()
    val init = nodes.withColumn("pr", expr(s"${Scale}L div nn"))
    val ranked = Fixpoint(init, Rounds) { (ranks, _) =>
      val incoming = ranks
        .join(edges, ranks("vec_id") === edges("src"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
      Some(nodes.join(incoming, nodes("vec_id") === incoming("dst"), "left")
        .select(nodes("vec_id"), col("outdeg"), col("nn"),
          expr(s"(15L * ${Scale}L) div (100L * nn) + " +
            "(85L * coalesce(inc, 0L)) div 100L").as("pr"))
        .localCheckpoint())
    }.state
    val out = ranked.select(col("vec_id"), col("outdeg"), col("pr"))
    Materialize.retireCheckpoint(nodes) // referenced only inside the loop
    out
  }

  /** Undirected a<b edge set of the k-NN graph, a session-shared
    * artifact ([[graft.Materialize]]): it feeds several plan branches
    * within the triangle family AND is the common substrate of
    * components, modularity, assortativity and k-core — one distinct
    * over the shared directed edges, materialized once per session.
    */
  private def undirected(spark: SparkSession, dir: String): DataFrame =
    Materialize.shared(spark, dir, "knn_undirected")(
      Similarity.knnGraphShared(spark, dir)
        .select(least(col("vec_id"), col("neighbor")).as("a"),
          greatest(col("vec_id"), col("neighbor")).as("b"))
        .distinct())

  private def degrees(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
      .localCheckpoint()

  /** Each triangle exactly once as (u, v, w), enumerated with the
    * (degree, id) orientation (see [[triangleCount]]); v < w by id.
    */
  private def triangles(und: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = und
      .join(deg.select(col("vec_id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("vec_id").as("b"), col("degree").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src"), col("e.dst"))
    // unordered out-neighbor pairs at the order-minimal vertex; dst ids
    // ordered v < w so closure is a direct probe of the a<b edge key
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    wedges.join(und, col("v") === col("a") && col("w") === col("b"))
      .select(col("u"), col("v"), col("w"))
  }

  /** Per-vertex triangle count and local clustering coefficient over
    * the UNDIRECTED k-NN similarity graph — the neighborhood-density
    * signal for curation: a document whose neighbors are also mutual
    * neighbors sits inside a tight near-dup community (high lcc),
    * while a hub whose neighbors don't know each other bridges
    * unrelated regions (low lcc).
    *
    * Scale shape (the node-iterator++ / MapReduce triangle-counting
    * pattern, Suri & Vassilvitskii WWW'11): each undirected edge is
    * ORIENTED from its (degree, id)-smaller endpoint to the larger, so
    * wedges are enumerated only at each triangle's order-minimal vertex
    * — out-degrees are O(√m)-bounded, which caps the wedge explosion at
    * hub nodes that a naive id-ordered enumeration would suffer (a
    * k-NN graph's IN-degree is unbounded even though out-degree ≤ k).
    * Wedge closure is one equi-join back against the (a < b)-keyed edge
    * set; per-vertex counts come from a 3-way explode of each triangle.
    * Every triangle is counted exactly once: only its (deg,id)-minimal
    * vertex has oriented out-edges to the other two. The oracle
    * replays triangles with the orientation-free a<b<c nested join —
    * same result set, independently derived.
    *
    * Edges and the degree table are `localCheckpoint`ed like the
    * [[pagerank]] iteration state: the edge set feeds three plan
    * branches (two wedge sides + closure) and would otherwise re-run
    * the LSH candidate join per branch.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(spark, dir)
    val deg = degrees(und)
    val tris = triangles(und, deg)
    val perVertex = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("triangles"))
    deg.join(perVertex, Seq("vec_id"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .select(col("vec_id"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          (col("triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Per-EDGE neighbor-overlap strength: for every k-NN edge (a, b),
    * the number of common neighbors and the neighborhood Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)\{a,b}| — the link-prediction /
    * community-strength weight (an edge inside a near-dup family
    * shares most of its neighborhood; a bridge edge shares none).
    *
    * Common neighbors per adjacent pair = triangles through the edge,
    * so the counting reuses [[triangles]]'s hub-safe oriented
    * enumeration (each triangle once) and EXPLODES its three edges —
    * never a per-center wedge join whose fan-out squares in hub
    * degree. The union size is inclusion–exclusion on the degree
    * table: deg(a)−1 + deg(b)−1 − common (each side's neighborhood
    * without the partner). Exact BIGINTs; jaccard an exact IEEE ratio.
    */
  def edgeJaccard(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(spark, dir)
    val deg = degrees(und)
    val tris = triangles(und, deg)
    // u is (deg, id)-minimal, not id-minimal — normalize each exploded
    // edge back to the a<b id key the und relation uses
    val perEdge = tris.select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(col("v").as("a"), col("w").as("b")))).as("e"))
      .select(col("e.a"), col("e.b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    und.join(perEdge, Seq("a", "b"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .join(deg.select(col("vec_id").as("a"), col("degree").as("deg_a")), "a")
      .join(deg.select(col("vec_id").as("b"), col("degree").as("deg_b")), "b")
      .withColumn("union_sz",
        col("deg_a") + col("deg_b") - lit(2L) - col("common"))
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        // leaf–leaf edge: both exclusive neighborhoods empty -> 0/0;
        // define the overlap of two empty sets as 0
        when(col("union_sz") > 0,
          col("common").cast("double") / col("union_sz").cast("double"))
          .otherwise(lit(0.0)).as("jaccard"))
  }

  /** `graph_components`: connected components of the k-NN similarity
    * graph — the cluster structure SemDeDup-style semantic grouping
    * reads off the neighbor relation (the graph-side sibling of
    * [[graft.functions.Dedup.minhashClusters]], and the consumer of
    * the SAME shared min-label-propagation engine,
    * [[graft.functions.Dedup.components]]). Vectors absent from the
    * edge set (alone in their LSH bucket) are their own singleton
    * component; `component_size` rides along so downstream sampling
    * can cluster-balance.
    */
  def knnComponents(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(spark, dir)
    val labels = Dedup.components(
      und.union(und.select(col("b").as("a"), col("a").as("b"))))
      .select(col("doc_id").as("vec_id"), col("label"))
    val singletons = graft.Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(labels.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vec_id").as("label"))
    val all = labels.union(singletons)
    val sizes = all.groupBy(col("label")).agg(count(lit(1)).as("component_size"))
    all.join(sizes.hint("shuffle_hash"), "label")
      .select(col("vec_id"), col("label").as("component_id"),
        col("component_size"))
  }

  /** [[knnComponents]] as a session-shared artifact
    * ([[graft.Materialize]]): the component labeling runs the
    * min-label-propagation fixpoint ([[Dedup.components]]) eagerly at
    * plan build; modularity and cluster-balanced sampling consume the
    * same partition, so the first consumer pays and the rest read the
    * checkpointed (vec_id, component_id, component_size) map.
    */
  def knnComponentsShared(spark: SparkSession, dir: String): DataFrame =
    Materialize.shared(spark, dir, "knn_components")(
      knnComponents(spark, dir))

  /** Every [[LpSeedMod]]-th node keeps its true label as a clamped seed
    * in [[labelPropagation]].
    */
  val LpSeedMod = 10L

  /** Propagation rounds — fixed so the unrolled oracle is finite. */
  val LpRounds = 3

  /** `graph_label_propagation`: semi-supervised label spreading over
    * the k-NN similarity graph — 10% of nodes keep their true label as
    * clamped seeds, every other node takes the MAJORITY label among
    * its current labeled neighbors each round (ties to the smallest
    * label), [[LpRounds]] rounds. The standard trick for pushing a
    * small amount of human labeling across a 100 TB corpus: labels
    * ride the same similarity structure dedup and ANN already built.
    *
    * Determinism: counts are exact; the majority argmax packs
    * (count, smallest-label) into one decimal(38,0) total order so
    * `max()` keeps a mutable hash-agg buffer (a struct-ordered max
    * would demote the round to SortAggregate — the OHLC lesson,
    * [[graft.operators.TimeSeriesOps.ohlcDownsample]]), so every round
    * is bit-identical across engines and the oracle replays all rounds
    * as an unrolled CTE chain.
    *
    * Scale shape per round: labeled ranks ⋈ edges on the partitioned
    * src key, one (dst, label)-keyed count, one dst-keyed argmax, one
    * left join back — the [[pagerank]] iteration shape with a
    * categorical payload, on the same [[Fixpoint]] loop.
    */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.knnGraphShared(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor").as("dst"))
    val nodes = edges.select(col("src").as("vec_id")).distinct()
      .join(graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("truelab")), "vec_id")
      .select(col("vec_id"), (col("vec_id") % LpSeedMod === 0).as("seeded"),
        col("truelab"))
      .localCheckpoint()
    val init = nodes.withColumn("lab", when(col("seeded"), col("truelab")))
    val fin = Fixpoint(init, LpRounds) { (cur, _) =>
      // (count, smallest-label) packed into one decimal so the argmax
      // stays a HashAggregate; labels are bounded far below 10^9
      val maj = cur.filter(col("lab").isNotNull)
        .join(edges, cur("vec_id") === edges("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(col("c").cast("decimal(38,0)") * lit(1000000000L) +
          (lit(999999999L) - col("lab"))).as("o"))
        .select(col("dst"),
          (lit(999999999L) - (col("o") % 1000000000L)).cast("long").as("maj"))
      Some(cur.join(maj, cur("vec_id") === maj("dst"), "left")
        .select(cur("vec_id"), col("seeded"), col("truelab"),
          when(col("seeded"), col("truelab"))
            .otherwise(coalesce(col("maj"), col("lab"))).as("lab"))
        .localCheckpoint())
    }.state
    val out = fin.select(col("vec_id"), col("seeded"), col("lab").as("label"))
    Materialize.retireCheckpoint(nodes) // referenced only via `init`
    out
  }

  /** `graph_modularity`: per-community modularity terms of the
    * connected-component partition over the k-NN graph — for each
    * community its node count, internal edge count, degree mass and
    * the Newman term q = e_c/m − (deg_c/(2m))², the "is this cluster
    * denser than chance" score that ranks which near-dup communities
    * are real structure vs LSH noise. (Σq over communities is THE
    * modularity; the per-community rows are emitted so no
    * cross-community float sum has to be ordered.)
    *
    * All inputs exact integers (edge counts, degree sums, one 1-row
    * m broadcast); each row does two double divisions and one
    * multiply in a fixed shape. Edge labeling is two hash joins on
    * the partitioned vertex key.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(spark, dir)
    // labels from the SHARED component artifact: und and the labeling
    // both derive from the one session-pinned edge set, so neither the
    // LSH candidate join nor the component fixpoint runs here (history:
    // pre-sharing, deriving labels inline was the workaround that kept
    // this op from running the candidate join twice)
    val labels = knnComponentsShared(spark, dir)
      .select(col("vec_id"), col("component_id"))
    val m = broadcast(und.agg(count(lit(1)).as("m")))
    val labeled = und
      .join(labels.select(col("vec_id").as("a"), col("component_id").as("ca")), "a")
      .join(labels.select(col("vec_id").as("b"), col("component_id").as("cb")), "b")
    val intra = labeled.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = labeled
      .select(explode(array(
        struct(col("ca").as("community")), struct(col("cb").as("community")))).as("e"))
      .select(col("e.community"))
      .groupBy(col("community")).agg(count(lit(1)).as("deg_sum"))
    val sizes = labels.groupBy(col("component_id").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    sizes
      .join(intra.hint("shuffle_hash"), Seq("community"), "left")
      .join(deg.hint("shuffle_hash"), Seq("community"), "left")
      .join(m)
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") /
          col("m").cast("double") -
          (coalesce(col("deg_sum"), lit(0L)).cast("double") /
            (lit(2.0) * col("m").cast("double"))) *
          (coalesce(col("deg_sum"), lit(0L)).cast("double") /
            (lit(2.0) * col("m").cast("double")))).as("q_term"))
  }

  /** `graph_assortativity`: the degree-assortativity coefficient of
    * the k-NN graph — do well-connected nodes link to other
    * well-connected nodes (r > 0, hub cores: typical of near-dup
    * families) or to leaves (r < 0, star topology)? One number that
    * summarizes what [[triangleCount]] reports per vertex.
    *
    * EXACT to the last bit: with S1 = Σ(da+db), Sxy = Σ da·db,
    * S2 = Σ(da²+db²) over undirected edges and M the edge count,
    * Newman's r over ordered pairs algebraically reduces to
    * `(4·M·Sxy − S1²) / (2·M·S2 − S1²)` — every term an exact
    * decimal, ONE double division at the end. (The textbook form has
    * three nested means; cross-multiplying removes every intermediate
    * float.)
    *
    * Scale shape: degrees are one aggregate of the edge explode; the
    * per-edge pass joins degrees twice on the partitioned vertex key
    * and folds to a single row.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(spark, dir)
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val sums = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).as("m"),
        sum(col("da") + col("db")).as("s1"),
        sum(col("da").cast("decimal(38,0)") * col("db")).as("sxy"),
        sum(col("da").cast("decimal(38,0)") * col("da") +
          col("db").cast("decimal(38,0)") * col("db")).as("s2"))
    sums.select(col("m"), col("s1"),
      col("sxy").cast("long").as("sxy"), col("s2").cast("long").as("s2"),
      ((lit(4L) * col("m") * col("sxy") -
          col("s1").cast("decimal(38,0)") * col("s1")).cast("double") /
        (lit(2L) * col("m") * col("s2") -
          col("s1").cast("decimal(38,0)") * col("s1")).cast("double"))
        .as("assortativity"))
  }

  /** Core order for [[kCore]]: nodes must keep ≥ this many neighbors. */
  val CoreK = 3L

  /** Peeling rounds for [[kCore]] — fixed so the unrolled oracle is
    * finite; both engines run EXACTLY this many rounds, so the result
    * is well-defined (and equal) even before convergence, and the spec
    * asserts the fixture graph converges within the budget.
    */
  val CoreRounds = 6

  /** `graph_kcore`: [[CoreK]]-core decomposition of the k-NN similarity
    * graph by [[CoreRounds]] rounds of synchronous peeling — drop every
    * surviving node whose degree is under K, remove its edges, repeat.
    * The density screen layered on the same edge set as
    * components/modularity: a near-dup community that survives the
    * 3-core is mutually-supported structure, while chains and stars of
    * LSH noise peel away. Per node: in-core flag, degree within the
    * surviving subgraph, the 1-based round it was peeled, and a
    * graph-constant `converged` flag.
    *
    * Degrees are taken over the SURVIVOR VERTEX SET (survivors absent
    * from the shrinking edge set count as degree 0), so a node whose
    * neighbors all peel in one round is itself peeled in the round it
    * becomes isolated — textbook peeling. Hence `peel_round = 0` with
    * `in_core = false` means exactly "never in the k-NN graph at all"
    * (no LSH edge incident), never "peeled to isolation".
    *
    * `converged` reports whether a (CoreRounds+1)-th round would peel
    * nobody — i.e. the fixed round budget actually reached the k-core
    * fixpoint. On a larger graph where peeling hasn't settled, the flag
    * flips false instead of silently shipping an unconverged cut
    * labeled `in_core`; it is a single boolean broadcast onto every
    * row, costing one more survivor-degree aggregate.
    *
    * Scale shape per round: one degree aggregate of the edge explode
    * left-joined to the survivor vertex set + two anti-joins of the
    * edge set against the drop set, all on the partitioned vertex key;
    * rounds run on the [[Fixpoint]] loop, bounded by the fixed
    * constant. Peeling is monotone — vertex and edge sets only
    * shrink — so round cost is bounded by the first, and a round whose
    * drop set is EMPTY proves the fixpoint: the loop exits early
    * (result row-identical to the unrolled budget — every skipped
    * round would have recomputed the same survivor sets), saving
    * full-edge-set aggregate + anti-join passes on graphs that settle
    * before the budget.
    */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val und0 = undirected(spark, dir)
    val verts0 = und0.select(explode(array(col("a"), col("b"))).as("v"))
      .distinct()
      .localCheckpoint()
    // degree of every SURVIVOR, zero-degree survivors included
    def survivorDegrees(und: DataFrame, verts: DataFrame): DataFrame =
      verts.join(
        und.select(explode(array(col("a"), col("b"))).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("edge_deg")),
        Seq("v"), "left")
        .select(col("v"), coalesce(col("edge_deg"), lit(0L)).as("deg"))
    // (surviving edges, surviving vertices, peeled (v, peel_round)):
    // the edge and vertex sets shrink each round, the drop frames stay
    // pinned because `peeled` reads every round's. An empty drop set
    // proves the fixpoint (peeling is monotone), and the drop frame is
    // checkpointed, so the convergence test is a count on materialized
    // rows.
    import spark.implicits._
    val peel = Fixpoint.run(
        (und0, verts0, Seq.empty[(Long, Long)].toDF("v", "peel_round")),
        CoreRounds)(s => Seq(s._1, s._2)) { case ((und, verts, gone), round) =>
      val drop = survivorDegrees(und, verts).filter(col("deg") < CoreK)
        .select(col("v"))
        .localCheckpoint()
      if (drop.isEmpty) {
        Materialize.retireCheckpoint(drop) // empty: nothing references it
        None
      } else Some((
        und.join(drop.select(col("v").as("a")), Seq("a"), "left_anti")
          .join(drop.select(col("v").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b"))
          .localCheckpoint(),
        verts.join(drop, Seq("v"), "left_anti").localCheckpoint(),
        gone.union(drop.select(col("v"), lit(round.toLong).as("peel_round")))))
    }
    val (finalEdges, finalVerts, peeled) = peel.state
    val finalDeg = survivorDegrees(finalEdges, finalVerts).localCheckpoint()
    // the survivor sets, and the seed vertex set this call pinned, are
    // dead once their degree table is pinned
    peel.retireState()
    Materialize.retireCheckpoint(verts0)
    // would a round CoreRounds+1 peel anyone? (1 row, broadcast)
    val convergence = finalDeg
      .agg(coalesce(min(col("deg") >= CoreK), lit(true)).as("converged"))
    graft.Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(finalDeg.select(col("v").as("vec_id"), col("deg")), Seq("vec_id"), "left")
      .join(peeled.select(col("v").as("vec_id"), col("peel_round")),
        Seq("vec_id"), "left")
      .crossJoin(broadcast(convergence))
      .select(col("vec_id"),
        (col("deg").isNotNull && col("deg") >= CoreK).as("in_core"),
        coalesce(col("deg"), lit(0L)).as("core_deg"),
        coalesce(col("peel_round"), lit(0L)).as("peel_round"),
        col("converged"))
  }
}
