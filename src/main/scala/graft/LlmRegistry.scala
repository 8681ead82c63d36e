package graft

import org.apache.spark.sql.functions.col
import graft.QuerySpec._
import graft.functions._
import graft.functions.Hashing._

/** Registry of the LLM-training-data-pipeline operators: dedup (exact /
  * MinHash+LSH / SimHash / n-gram Jaccard / embedding-cosine),
  * similarity search (brute-force + LSH ANN), text analysis, multimodal.
  *
  * Oracle SQL is *generated* with the same constants
  * ([[graft.functions.Hashing]]) the Spark implementations use, so even
  * the hash-heavy operators get full value-level DuckDB checks. All
  * floating-point outputs are derived from exact integer arithmetic
  * (BIGINT ratios / md5-prefix hashes), making them bit-identical across
  * engines. One [[QuerySpec]] per query (the oracle parity conventions
  * are documented there).
  */
object LlmRegistry {
  // ---- shared SQL fragments --------------------------------------------

  private val toks = TextAnalysis.sqlTokens("text")
  private val normText = Hashing.sqlNormText("text")
  private val quantize =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
  private def listDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) AS BIGINT)"
  private def listNorm(a: String): String =
    s"CAST(list_sum(list_transform($a, x -> x * x)) AS BIGINT)"
  private val modality = "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]"
  private val pow2List: String =
    (0 until Dedup.SimBits).map(i => 1L << i).mkString("[", ", ", "]")
  private val markerValues: String = TextAnalysis.langMarkers
    .map { case (l, m) => s"('$l','$m')" }.mkString(", ")

  // the knn-graph query, shared verbatim between sim_knn_graph, the
  // graph_pagerank edge CTE (the ORDER BY is legal inside a CTE), and —
  // with a cross-label pair predicate — hard-negative mining.
  // Bucketing is ADAPTIVE like dedup_embedding_lsh_multi's: plane count
  // replayed from the corpus row count with the same integer bit-length
  // formula as Similarity.multiPlanes, weight literal indexed once into
  // a bounded `pl` relation (the in-lambda form re-materializes the
  // whole literal per (row, plane))
  private def knnLikeSql(pairPred: String, neighborCol: String, k: Int): String =
    s"""WITH qz AS (SELECT vec_id, CAST(label AS BIGINT) AS label, $quantize AS q FROM embeddings),
       |np AS (SELECT CASE WHEN c <= 1 THEN ${Similarity.MultiPlanesBase}
       |    ELSE least(${Similarity.MultiPlanesBase} + length(bin(c - 1)), ${Similarity.MultiPlanesMax}) END AS np
       |  FROM (SELECT (count(*) + ${Similarity.MultiN0 - 1}) // ${Similarity.MultiN0} AS c FROM embeddings)),
       |pl AS (SELECT pidx, ${sqlPlaneList(Similarity.MultiPlanesMax, Similarity.Dim)}[CAST(pidx AS INT) + 1] AS w
       |  FROM (SELECT unnest(range(${Similarity.MultiPlanesMax})) AS pidx)),
       |bit AS (SELECT d.vec_id,
       |    CASE WHEN list_sum(list_transform(list_zip(d.q, pl.w), x -> x[1] * x[2])) > 0
       |         THEN (1::BIGINT << CAST(pl.pidx AS INT)) ELSE 0 END AS bit
       |  FROM qz d CROSS JOIN np JOIN pl ON pl.pidx < np.np),
       |bkt AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM bit GROUP BY 1),
       |n AS (SELECT d.vec_id, d.label, d.q, ${listNorm("d.q")} AS norm, k.bucket
       |  FROM qz d JOIN bkt k ON d.vec_id = k.vec_id),
       |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
       |    ${listDot("a.q", "b.q")} AS dot, a.norm AS na, b.norm AS nb
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |    AND ($pairPred)),
       |s AS (SELECT a, b,
       |    (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
       |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos2
       |  FROM p WHERE dot > 0),
       |e AS (SELECT a AS vec_id, b AS $neighborCol, cos2 FROM s
       |  UNION ALL SELECT b AS vec_id, a AS $neighborCol, cos2 FROM s)
       |SELECT vec_id,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos2 DESC, $neighborCol) AS BIGINT) AS rank,
       |  $neighborCol, cos2
       |FROM e
       |QUALIFY rank <= $k
       |ORDER BY vec_id, rank""".stripMargin

  private lazy val knnGraphSql: String =
    knnLikeSql("TRUE", "neighbor", Similarity.KnnK)

  /** k-NN connected-components CTE chain ending in
    * `comp(vec_id, component_id, component_size)` — shared by the
    * components oracle and the cluster-balanced sampler built on it.
    */
  private lazy val knnComponentsCtes: String =
    s"""WITH RECURSIVE knn AS ($knnGraphSql),
       |und AS (SELECT DISTINCT least(vec_id, neighbor) AS a,
       |    greatest(vec_id, neighbor) AS b FROM knn),
       |edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT e.a AS id, q.r FROM edges e JOIN reach q ON q.id = e.b),
       |lab AS (SELECT id AS vec_id, min(r) AS component_id
       |  FROM reach GROUP BY 1),
       |sz AS (SELECT component_id, count(*) AS component_size
       |  FROM lab GROUP BY 1),
       |comp AS (SELECT lab.vec_id, lab.component_id, sz.component_size
       |  FROM lab JOIN sz ON lab.component_id = sz.component_id)""".stripMargin

  /** k-NN classifier CTE chain ending in `pred(vec_id, label,
    * predicted, votes, correct)` — shared by the classifier oracle and
    * the confusion-matrix rollup built on it.
    */
  private lazy val knnClassifyCtes: String =
    s"""knn AS ($knnGraphSql),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
       |votes AS (SELECT k.vec_id, l.lbl, count(*) AS votes
       |  FROM knn k JOIN lab l ON k.neighbor = l.vec_id GROUP BY 1, 2),
       |best AS (SELECT vec_id, lbl AS predicted, votes,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, lbl) AS rn
       |  FROM votes),
       |pred AS (SELECT b.vec_id AS vec_id, a.lbl AS label, b.predicted,
       |    CAST(b.votes AS BIGINT) AS votes,
       |    CAST(CASE WHEN a.lbl = b.predicted THEN 1 ELSE 0 END AS BIGINT) AS correct
       |  FROM best b JOIN lab a ON a.vec_id = b.vec_id
       |  WHERE b.rn = 1)""".stripMargin

  // the bigram-LM fluency body, ORDER-BY-free so text_lm_score and
  // pipeline_curriculum share one definition
  private val lmScoreBody =
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |bg AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
       |    toks[CAST(i AS INT) + 1] AS w2
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
       |c12 AS (SELECT w1, w2, count(*) AS bfreq FROM bg GROUP BY 1, 2),
       |ctx AS (SELECT w1, count(*) AS cfreq FROM bg GROUP BY 1),
       |vocab AS (SELECT count(DISTINCT tok) AS v
       |  FROM (SELECT unnest(toks) AS tok FROM t))
       |SELECT b.doc_id, count(*) AS n_bigrams,
       |  CAST(sum(c.bfreq + 1) AS BIGINT) AS sum_num,
       |  CAST(sum(x.cfreq + vocab.v) AS BIGINT) AS sum_den,
       |  CAST(CAST(sum(c.bfreq + 1) AS BIGINT) AS DOUBLE) /
       |    CAST(CAST(sum(x.cfreq + vocab.v) AS BIGINT) AS DOUBLE) AS fluency
       |FROM bg b JOIN c12 c USING (w1, w2) JOIN ctx x USING (w1)
       |  CROSS JOIN vocab
       |GROUP BY 1""".stripMargin

  /** Clean-corpus CTE block (quality ∧ exact-keep ∧ near-dup losers),
    * shared verbatim by the standalone oracle and the end-to-end
    * composition. Ends without a final SELECT so callers append their
    * own.
    */
  private lazy val cleanCorpusCtes: String =
    s"""$minhashCtes,
       |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
       |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
       |    AND a.doc_id < b.doc_id),
       |-- decorrelated join-from-cand (same shape as the minhash-pairs
       |-- oracle): the correlated-subquery form made DuckDB build a
       |-- j-keyed self-join of ALL mh rows (~40G at sf1, 37 GB of
       |-- spill) instead of probing from the few thousand candidates
       |losers AS (SELECT DISTINCT b AS doc_id FROM (
       |  SELECT c.a, c.b FROM cand c
       |  JOIN mh x ON x.doc_id = c.a
       |  JOIN mh y ON y.doc_id = c.b AND y.j = x.j
       |  GROUP BY 1, 2
       |  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
       |    >= ${Dedup.NumPerm} * 0.5)),
       |quality AS (SELECT doc_id FROM (SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter($toks, x -> list_contains(${TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")}, x))) AS BIGINT) AS n_stop,
       |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents) q
       |  WHERE n_tokens >= 10 AND n_stop > 0
       |    AND CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.5),
       |exact_keep AS (SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5($normText) AS fp FROM documents) t GROUP BY fp)"""
      .stripMargin

  private val tokensToIdsBody =
    s"""WITH counts AS (SELECT tok AS token, count(*) AS freq
       |  FROM (SELECT unnest($toks) AS tok FROM documents) t GROUP BY 1),
       |vocab AS (SELECT token,
       |  CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS token_id
       |  FROM counts QUALIFY token_id <= ${TextAnalysis.VocabSize}),
       |pos AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i + 1] AS token
       |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
       |        FROM (SELECT doc_id, $toks AS toks FROM documents) d) e)
       |SELECT p.doc_id, p.pos, coalesce(v.token_id, -1) AS token_id
       |FROM pos p LEFT JOIN vocab v USING (token)""".stripMargin

  private val minhashCtes =
    s"""WITH sh AS (${Dedup.sqlShingles}),
       |h AS (SELECT doc_id, ${sqlMd5Hash31("shingle")} AS h FROM sh),
       |e AS (SELECT doc_id, h, unnest(range(${Dedup.NumPerm})) AS j FROM h),
       |mh AS (SELECT doc_id, CAST(j AS BIGINT) AS j,
       |  min((${sqlMinhashAList(Dedup.NumPerm)}[CAST(j AS INT) + 1] * h +
       |       ${sqlMinhashBList(Dedup.NumPerm)}[CAST(j AS INT) + 1]) % $P31) AS mh
       |  FROM e GROUP BY 1, 2)""".stripMargin

  private val simhashCtes =
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |h AS (SELECT doc_id, ${sqlMd5Prefix60("tok")} AS h FROM tok),
       |bits AS (SELECT doc_id, h, unnest(range(${Dedup.SimBits})) AS i FROM h),
       |votes AS (SELECT doc_id, i,
       |  CASE WHEN (h & $pow2List[CAST(i AS INT) + 1]) > 0 THEN 1 ELSE -1 END AS vote
       |  FROM bits),
       |v AS (SELECT doc_id, i, sum(vote) AS v FROM votes GROUP BY 1, 2),
       |sh AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN v > 0 THEN $pow2List[CAST(i AS INT) + 1] ELSE 0 END) AS BIGINT) AS simhash
       |  FROM v GROUP BY 1)""".stripMargin

  private val bucketExpr =
    s"""CAST(list_sum(list_transform(range(${Similarity.NumPlanes}), p ->
       |  CASE WHEN list_sum(list_transform(list_zip(q, ${sqlPlaneList(Similarity.NumPlanes, Similarity.Dim)}[CAST(p AS INT) + 1]),
       |    x -> x[1] * x[2])) > 0 THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END)) AS BIGINT)""".stripMargin

  private def topkSql(bucketJoin: Boolean): String = {
    val bucketCte = if (bucketJoin)
      s""",
         |b AS (SELECT vec_id, q, norm, $bucketExpr AS bucket FROM n)""".stripMargin
    else ""
    val src = if (bucketJoin) "b" else "n"
    val bucketCond = if (bucketJoin) "AND c.bucket = qs.bucket" else ""
    s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
       |n AS (SELECT vec_id, q, ${listNorm("q")} AS norm FROM qz)$bucketCte,
       |qs AS (SELECT vec_id AS query_id, q AS qv, norm AS qnorm${if (bucketJoin) ", bucket" else ""}
       |  FROM $src WHERE vec_id < ${Similarity.NumQueries}),
       |scored AS (SELECT qs.query_id, c.vec_id,
       |    CAST(${listDot("c.q", "qs.qv")} AS DOUBLE) /
       |      sqrt(CAST(c.norm AS DOUBLE) * CAST(qs.qnorm AS DOUBLE)) AS cosine
       |  FROM $src c JOIN qs ON c.vec_id <> qs.query_id $bucketCond),
       |ranked AS (SELECT query_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank,
       |    vec_id AS neighbor_id, cosine
       |  FROM scored)
       |SELECT * FROM ranked WHERE rank <= ${Similarity.TopK} ORDER BY query_id, rank""".stripMargin
  }

  private val multiprobeTopkSql: String =
    s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
       |n AS (SELECT vec_id, q, ${listNorm("q")} AS norm FROM qz),
       |b AS (SELECT vec_id, q, norm, $bucketExpr AS bucket FROM n),
       |qs AS (SELECT vec_id AS query_id, q AS qv, norm AS qnorm, bucket
       |  FROM b WHERE vec_id < ${Similarity.NumQueries}),
       |probes AS (SELECT query_id, qv, qnorm,
       |    unnest([bucket] || list_transform(range(${Similarity.NumPlanes}),
       |      p -> xor(bucket, 1::BIGINT << CAST(p AS INT)))) AS probe
       |  FROM qs),
       |scored AS (SELECT p.query_id, c.vec_id,
       |    CAST(${listDot("c.q", "p.qv")} AS DOUBLE) /
       |      sqrt(CAST(c.norm AS DOUBLE) * CAST(p.qnorm AS DOUBLE)) AS cosine
       |  FROM b c JOIN probes p ON c.bucket = p.probe AND c.vec_id <> p.query_id),
       |ranked AS (SELECT query_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank,
       |    vec_id AS neighbor_id, cosine
       |  FROM scored)
       |SELECT * FROM ranked WHERE rank <= ${Similarity.TopK} ORDER BY query_id, rank""".stripMargin

  /** The deterministic IVF cell assignment as CTEs ending in `corpus
    * (vec_id, q, norm, cell)` and the ranked `asg` — shared by the IVF
    * ANN queries and semantic dedup.
    */
  private val ivfCellCtes: String =
    s"""qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
       |n AS (SELECT vec_id, q, ${listNorm("q")} AS norm FROM qz),
       |cents AS (SELECT vec_id AS cent_id, q AS cv, norm AS cnorm2
       |  FROM n WHERE vec_id < ${Similarity.NumCells}),
       |asg0 AS (SELECT n.vec_id, n.q, n.norm, c.cent_id,
       |    c.cnorm2 - 2 * ${listDot("n.q", "c.cv")} AS s
       |  FROM n CROSS JOIN cents c),
       |asg AS (SELECT vec_id, q, norm, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s, cent_id) AS rn
       |  FROM asg0),
       |corpus AS (SELECT vec_id, q, norm, cent_id AS cell FROM asg WHERE rn = 1)""".stripMargin

  private val ivfTopkSql: String =
    s"""WITH $ivfCellCtes,
       |probes AS (SELECT vec_id AS query_id, q AS qv, norm AS qnorm, cent_id AS probe_cell
       |  FROM asg WHERE vec_id < ${Similarity.NumQueries} AND rn <= ${Similarity.NProbe}),
       |scored AS (SELECT p.query_id, c.vec_id,
       |    CAST(${listDot("c.q", "p.qv")} AS DOUBLE) /
       |      sqrt(CAST(c.norm AS DOUBLE) * CAST(p.qnorm AS DOUBLE)) AS cosine
       |  FROM corpus c JOIN probes p ON c.cell = p.probe_cell AND c.vec_id <> p.query_id),
       |ranked AS (SELECT query_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank,
       |    vec_id AS neighbor_id, cosine
       |  FROM scored)
       |SELECT * FROM ranked WHERE rank <= ${Similarity.TopK} ORDER BY query_id, rank""".stripMargin

  /** PQ encode → reconstruct → estimated-dot top-k, replicated
    * relationally: per-subspace slices, exact-integer argmin codeword
    * per (vector, subspace), contribution sum per (query, vector).
    * Geometry constants come from [[graft.functions.Similarity]] so the
    * two engines cannot drift.
    */
  private val pqTopkSql: String = {
    val S = Similarity.PqSub
    s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
       |sub AS (SELECT vec_id, m, list_slice(q, m * $S + 1, m * $S + $S) AS sv
       |  FROM qz, range(0, ${Similarity.PqM}) t(m)),
       |cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub
       |  WHERE vec_id < ${Similarity.PqCodes}),
       |dist AS (SELECT s.vec_id, s.m, cb.cid,
       |    list_sum(list_transform(list_zip(s.sv, cb.cv),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
       |  FROM sub s JOIN cb ON cb.m = s.m),
       |enc AS (SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
       |    FROM dist) WHERE rn = 1),
       |qsub AS (SELECT vec_id AS query_id, m, sv FROM sub
       |  WHERE vec_id < ${Similarity.NumQueries}),
       |contrib AS (SELECT q.query_id, e.vec_id,
       |    ${listDot("cb.cv", "q.sv")} AS c
       |  FROM enc e JOIN cb ON cb.m = e.m AND cb.cid = e.cid
       |  JOIN qsub q ON q.m = e.m),
       |est AS (SELECT query_id, vec_id, CAST(sum(c) AS BIGINT) AS est_dot
       |  FROM contrib WHERE query_id <> vec_id GROUP BY 1, 2),
       |ranked AS (SELECT query_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY est_dot DESC, vec_id) AS BIGINT) AS rank,
       |    vec_id AS neighbor_id, est_dot
       |  FROM est)
       |SELECT query_id, rank, neighbor_id, est_dot FROM ranked
       |WHERE rank <= ${Similarity.TopK} ORDER BY query_id, rank""".stripMargin
  }

  /** IVF routing and PQ scoring composed: candidates restricted to the
    * probed cells (the `cand` join against `corpus`/`probes`), scored by
    * the PQ reconstruction's estimated dot. Cell and code CTEs are the
    * same blocks the standalone oracles use, over one shared `qz`.
    */
  private val ivfPqTopkSql: String = {
    val S = Similarity.PqSub
    s"""WITH $ivfCellCtes,
       |sub AS (SELECT vec_id, m, list_slice(q, m * $S + 1, m * $S + $S) AS sv
       |  FROM qz, range(0, ${Similarity.PqM}) t(m)),
       |cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub
       |  WHERE vec_id < ${Similarity.PqCodes}),
       |dist AS (SELECT s.vec_id, s.m, cb.cid,
       |    list_sum(list_transform(list_zip(s.sv, cb.cv),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
       |  FROM sub s JOIN cb ON cb.m = s.m),
       |enc AS (SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
       |    FROM dist) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id AS probe_cell
       |  FROM asg WHERE vec_id < ${Similarity.NumQueries} AND rn <= ${Similarity.NProbe}),
       |qsub AS (SELECT vec_id AS query_id, m, sv FROM sub
       |  WHERE vec_id < ${Similarity.NumQueries}),
       |contrib AS (SELECT q.query_id, e.vec_id, ${listDot("cb.cv", "q.sv")} AS c
       |  FROM enc e JOIN cb ON cb.m = e.m AND cb.cid = e.cid
       |  JOIN qsub q ON q.m = e.m),
       |est AS (SELECT query_id, vec_id, CAST(sum(c) AS BIGINT) AS est_dot
       |  FROM contrib WHERE query_id <> vec_id GROUP BY 1, 2),
       |cand AS (SELECT e.query_id, e.vec_id, e.est_dot
       |  FROM est e JOIN corpus c ON c.vec_id = e.vec_id
       |  JOIN probes p ON p.query_id = e.query_id AND p.probe_cell = c.cell),
       |ranked AS (SELECT query_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY est_dot DESC, vec_id) AS BIGINT) AS rank,
       |    vec_id AS neighbor_id, est_dot
       |  FROM cand)
       |SELECT query_id, rank, neighbor_id, est_dot FROM ranked
       |WHERE rank <= ${Similarity.TopK} ORDER BY query_id, rank""".stripMargin
  }

  /** Recall@k of an approximate top-k CTE body vs the brute-force
    * baseline — the same composition for every ANN variant, so adding a
    * variant costs one line. Both sides are the exact queries checked
    * individually above, so the recall VALUES are deterministic.
    */
  /** Unrolled replay of [[Clustering]]'s Lloyd iterations (the BPE-train
    * oracle stance: DuckDB recomputes every round from scratch). One
    * assignment CTE block per round — exact BIGINT distances, row_number
    * tiebreak on cid — then the exact integer centroid recompute
    * (`//` and Spark's `div` both truncate toward zero on BIGINT).
    */
  private def kmeansAssignCte(i: Int): String =
    s"""a$i AS (SELECT vec_id, q, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM (SELECT v.vec_id, v.q, c.cid,
       |      ${listNorm("v.q")} - 2 * ${listDot("v.q", "c.cv")}
       |        + ${listNorm("c.cv")} AS d2
       |    FROM v CROSS JOIN c${i - 1} c) d)""".stripMargin

  private def kmeansRoundCtes(i: Int): String =
    s"""${kmeansAssignCte(i)},
       |m$i AS (SELECT vec_id, q, cid AS cluster FROM a$i WHERE rn = 1),
       |e$i AS (SELECT cluster, CAST(i AS BIGINT) + 1 AS pos,
       |    q[CAST(i AS BIGINT) + 1] AS val
       |  FROM (SELECT cluster, q, unnest(range(len(q))) AS i FROM m$i)),
       |n$i AS (SELECT cluster, count(*) AS n FROM m$i GROUP BY 1),
       |s$i AS (SELECT cluster, pos, sum(val) AS s FROM e$i GROUP BY 1, 2),
       |c$i AS (SELECT s.cluster AS cid, any_value(n.n) AS n,
       |    list(CAST(s.s // n.n AS BIGINT) ORDER BY s.pos) AS cv
       |  FROM s$i s JOIN n$i n ON s.cluster = n.cluster GROUP BY 1)""".stripMargin

  private val kmeansCtes: String =
    s"""WITH v AS (SELECT vec_id, $quantize AS q FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, q AS cv FROM v WHERE vec_id < ${Clustering.K}),
       |${(1 to Clustering.Iters).map(kmeansRoundCtes).mkString(",\n")}""".stripMargin

  private def recallSql(approxSql: String): String =
    s"""WITH brute AS (${topkSql(bucketJoin = false)}),
       |approx AS ($approxSql)
       |SELECT b.query_id,
       |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / ${Similarity.TopK} AS recall_at_k
       |FROM brute b LEFT JOIN approx a
       |  ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
       |GROUP BY 1 ORDER BY b.query_id""".stripMargin

  // ---- registered queries ---------------------------------------------

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_token_counts", TextAnalysis.tokenCounts,
      s"""SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.piecePattern}')) AS BIGINT) AS n_pieces,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("pipeline_source_fertility", TextAnalysis.sourceFertility,
      s"""WITH f AS (SELECT source,
         |    CAST(len($toks) AS BIGINT) AS t,
         |    CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.piecePattern}')) AS BIGINT) AS p,
         |    CAST(length(text) AS BIGINT) AS c
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(t) AS BIGINT) AS n_tokens,
         |  CAST(sum(p) AS BIGINT) AS n_pieces,
         |  CAST(sum(c) AS BIGINT) AS n_chars,
         |  CAST(sum(p) AS DOUBLE) / CAST(sum(t) AS DOUBLE) AS pieces_per_token,
         |  CAST(sum(c) AS DOUBLE) / CAST(sum(p) AS DOUBLE) AS chars_per_piece
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
      asc("source")),
    QuerySpec("text_quality", TextAnalysis.qualityScore,
      s"""WITH q AS (SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter($toks, x -> list_contains(${TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")}, x))) AS BIGINT) AS n_stop,
         |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT doc_id, n_tokens,
         |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |  CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) AS alpha_ratio,
         |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token,
         |  CAST(CASE WHEN n_tokens >= 10 AND n_stop > 0
         |    AND CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.5
         |    THEN 1 ELSE 0 END AS BIGINT) AS quality
         |FROM q ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("text_langid", TextAnalysis.langId,
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |hits AS (SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM tok JOIN (VALUES $markerValues) AS m(cand_lang, marker) ON tok = marker
         |  GROUP BY 1, 2),
         |best AS (SELECT doc_id, cand_lang, hits,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
         |  FROM hits)
         |SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang,
         |  coalesce(b.hits, 0) AS marker_hits
         |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    // langId CTEs shared shape; cells over the bounded lang grid
    QuerySpec("eval_langid_confusion", TextAnalysis.langIdConfusion,
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |hits AS (SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM tok JOIN (VALUES $markerValues) AS m(cand_lang, marker) ON tok = marker
         |  GROUP BY 1, 2),
         |best AS (SELECT doc_id, cand_lang, hits,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
         |  FROM hits),
         |pred AS (SELECT d.doc_id, d.lang AS true_lang,
         |    coalesce(b.cand_lang, 'und') AS pred_lang
         |  FROM documents d
         |  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)),
         |cells AS (SELECT true_lang, pred_lang, count(*) AS n
         |  FROM pred GROUP BY 1, 2),
         |rw AS (SELECT true_lang, CAST(sum(n) AS BIGINT) AS row_n
         |  FROM cells GROUP BY 1)
         |SELECT c.true_lang, c.pred_lang, c.n,
         |  CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE) AS recall_share,
         |  c.true_lang = c.pred_lang AS correct
         |FROM cells c JOIN rw r USING (true_lang)
         |ORDER BY c.true_lang, c.pred_lang""".stripMargin,
      asc("true_lang", "pred_lang")),
    // integer quality flag (n_alpha*2 > n_chars), exclusive-prefix
    // greedy within each source
    QuerySpec("pipeline_budget_fill", Sampling.budgetFill,
      s"""WITH base AS (SELECT doc_id, source,
         |    CAST(len($toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($toks, x -> x IN (${TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stop,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents),
         |q AS (SELECT *, CASE WHEN n_tokens >= 10 AND n_stop > 0
         |    AND n_alpha * 2 > n_chars THEN 1 ELSE 0 END AS quality FROM base),
         |c AS (SELECT *, coalesce(CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY quality DESC, n_tokens DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS cum_before
         |  FROM q),
         |k AS (SELECT *, CASE WHEN cum_before < ${Sampling.FillBudget}
         |    THEN 1 ELSE 0 END AS kept FROM c)
         |SELECT source, CAST(sum(kept) AS BIGINT) AS n_kept,
         |  count(*) AS n_total,
         |  CAST(sum(kept * n_tokens) AS BIGINT) AS tokens_kept,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         |  CAST(${Sampling.FillBudget} AS BIGINT) AS budget
         |FROM k GROUP BY 1 ORDER BY source""".stripMargin,
      asc("source")),
    QuerySpec("pipeline_dsir_weights", Sampling.dsirWeights,
      Sampling.sqlDsirWeights, asc("doc_id")),
    // paper-faithful DSIR sufficient statistics: integers end-to-end;
    // the log product-of-ratios fold stays engine-side
    // (Sampling.dsirExactWeights), same stance as eval_source_drift
    QuerySpec("pipeline_dsir_exact_stats", Sampling.dsirExactStats,
      Sampling.sqlDsirExactStats, asc("doc_id", "bucket")),
    QuerySpec("text_fingerprint", TextAnalysis.fingerprint,
      s"""SELECT doc_id, md5($normText) AS fp_md5,
         |  ${sqlMd5Prefix60(normText)} AS fp60
         |FROM documents ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    // seeded dirty text (decomposed accents, controls, space runs) +
    // NFC canonicalization — both from the SAME TextAnalysis twins
    QuerySpec("text_normalize", TextAnalysis.normalizeCorpus,
      s"""SELECT doc_id,
         |  ${TextAnalysis.sqlNormalizeText(TextAnalysis.sqlNormalizeSeeded)} AS text_norm,
         |  CAST(length(${TextAnalysis.sqlNormalizeText(TextAnalysis.sqlNormalizeSeeded)}) AS BIGINT) AS n_chars_norm
         |FROM documents ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    // seeded raw URLs + canonicalization regex pipeline — one set of
    // pattern constants drives both engines (UrlOps twins)
    QuerySpec("url_canonicalize", UrlOps.urlCanonicalize,
      UrlOps.sqlUrlCanonicalize, asc("doc_id")),
    // full K-round training replay: pair choices, tie-breaks and counts
    // must match stage by stage (see BpeTrain scaladoc for why literal
    // replace IS the BPE merge under the bracket encoding)
    QuerySpec("bpe_train", (s, d) => BpeTrain.bpeTrain(s, d),
      BpeTrain.sqlBpeTrain(toks), asc("merge_rank")),
    QuerySpec("bpe_encode", (s, d) => BpeTrain.bpeEncode(s, d),
      BpeTrain.sqlBpeEncode(toks), asc("word")),
    QuerySpec("bpe_apply", (s, d) => BpeTrain.bpeApply(s, d),
      BpeTrain.sqlBpeApply(toks), asc("doc_id", "pos")),
    // fertility of the engine's trained BPE next to the regex proxy;
    // integer sums, one double division each at the edge
    QuerySpec("pipeline_bpe_fertility", (s, d) => BpeTrain.bpeFertility(s, d),
      BpeTrain.sqlBpeFertility(toks), asc("source")),
    // counts + redacted-text fingerprint from the SAME PiiPatterns
    // constants (Java regex and RE2 agree on this dialect subset)
    QuerySpec("text_pii_redact", TextAnalysis.piiRedact,
      s"""WITH seeded AS (SELECT doc_id, ${TextAnalysis.sqlPiiSeededText} AS text
         |  FROM documents)
         |SELECT doc_id,
         |${TextAnalysis.PiiPatterns.map { case (kind, pat, _) =>
             s"  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$kind," }
           .mkString("\n")}
         |  ${sqlMd5Prefix60(TextAnalysis.sqlRedactPii("text"))} AS redacted_fp60
         |FROM seeded ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("vocab_build", TextAnalysis.vocabBuild,
      s"""WITH counts AS (SELECT tok AS token, count(*) AS freq
         |  FROM (SELECT unnest($toks) AS tok FROM documents) t GROUP BY 1),
         |ranked AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS token_id,
         |  token, freq FROM counts)
         |SELECT token_id, token, freq FROM ranked
         |WHERE token_id <= ${TextAnalysis.VocabSize} ORDER BY token_id""".stripMargin,
      asc("token_id")),
    QuerySpec("tokens_to_ids", TextAnalysis.tokensToIds,
      s"$tokensToIdsBody\nORDER BY doc_id, pos", asc("doc_id", "pos")),
    QuerySpec("text_commonness", TextAnalysis.commonness,
      s"""WITH counts AS (SELECT tok AS token, count(*) AS freq
         |  FROM (SELECT unnest($toks) AS tok FROM documents) t GROUP BY 1),
         |dt AS (SELECT doc_id, unnest($toks) AS token FROM documents)
         |SELECT doc_id, CAST(sum(c.freq) AS BIGINT) AS commonness,
         |  count(*) AS n_tokens
         |FROM dt JOIN counts c USING (token)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("text_repetition", TextAnalysis.repetition,
      s"""WITH pt AS (SELECT doc_id, tok AS token, count(*) AS freq
         |  FROM (SELECT doc_id, unnest($toks) AS tok FROM documents) t
         |  GROUP BY 1, 2),
         |r AS (SELECT doc_id, token, freq,
         |    sum(freq) OVER (PARTITION BY doc_id) AS n_tokens,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY freq DESC, token) AS rn
         |  FROM pt)
         |SELECT doc_id, token AS top_token, CAST(freq AS BIGINT) AS top_freq,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(freq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS repetition_ratio
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("text_tile_dedup", TextAnalysis.tileDedup,
      TextAnalysis.sqlTileDedup, asc("doc_id")),
    QuerySpec("pipeline_boilerplate_tiles", CorpusPipeline.boilerplateTiles,
      CorpusPipeline.sqlBoilerplateTiles, asc("doc_id")),
    // identical integer LM math: add-one bigram counts, context counts,
    // vocab size — exact sums, one double division at the end
    QuerySpec("text_lm_score", TextAnalysis.lmScore,
      s"$lmScoreBody ORDER BY doc_id", asc("doc_id")),
    // the dedup_clusters transitive closure, then a per-cluster argmax:
    // most content wins, ties to the smallest doc_id
    QuerySpec("dedup_canonical", Dedup.canonical,
      s"""${minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |dup AS (SELECT c.a, c.b FROM cand c
         |  JOIN mh x ON x.doc_id = c.a
         |  JOIN mh y ON y.doc_id = c.b AND y.j = x.j
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
         |    >= ${Dedup.NumPerm} * 0.5),
         |edges AS (SELECT a, b FROM dup UNION ALL SELECT b, a FROM dup),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a AS id, q.r FROM edges e JOIN reach q ON q.id = e.b),
         |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |q AS (SELECT l.doc_id, l.cluster_id, d.n_chars
         |  FROM lab l JOIN documents d USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  first_value(doc_id) OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id) AS canonical_id,
         |  doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id) AS is_canonical
         |FROM q ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("dedup_exact", Dedup.exact,
      s"""SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
         |FROM (SELECT doc_id, md5($normText) AS fp FROM documents) t
         |GROUP BY fp ORDER BY keep_doc_id""".stripMargin,
      asc("keep_doc_id")),
    QuerySpec("dedup_minhash_sig", Dedup.minhashSignatures,
      s"""$minhashCtes
         |SELECT doc_id, j, mh FROM mh ORDER BY doc_id, j""".stripMargin,
      asc("doc_id", "j")),
    QuerySpec("dedup_minhash_pairs", Dedup.minhashPairsShared,
      s"""$minhashCtes,
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |pairs AS (SELECT c.a, c.b,
         |    sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS eq
         |  FROM cand c JOIN mh x ON x.doc_id = c.a
         |    JOIN mh y ON y.doc_id = c.b AND y.j = x.j
         |  GROUP BY 1, 2)
         |SELECT a, b, CAST(eq AS DOUBLE) / ${Dedup.NumPerm}.0 AS est_jaccard
         |FROM pairs WHERE CAST(eq AS DOUBLE) / ${Dedup.NumPerm}.0 >= 0.5
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    QuerySpec("dedup_clusters", Dedup.minhashClustersShared,
      s"""${minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |dup AS (SELECT c.a, c.b FROM cand c
         |  JOIN mh x ON x.doc_id = c.a
         |  JOIN mh y ON y.doc_id = c.b AND y.j = x.j
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
         |    >= ${Dedup.NumPerm} * 0.5),
         |edges AS (SELECT a, b FROM dup UNION ALL SELECT b, a FROM dup),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a AS id, q.r FROM edges e JOIN reach q ON q.id = e.b)
         |SELECT id AS doc_id, min(r) AS cluster_id,
         |  id = min(r) AS keeper
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    // connected components via transitive closure (WITH RECURSIVE + UNION
    // dedup guarantees termination); cluster id = min reachable doc
    QuerySpec("dedup_cluster_size_hist", Dedup.clusterSizeHist,
      s"""${minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |dup AS (SELECT c.a, c.b FROM cand c
         |  JOIN mh x ON x.doc_id = c.a
         |  JOIN mh y ON y.doc_id = c.b AND y.j = x.j
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
         |    >= ${Dedup.NumPerm} * 0.5),
         |edges AS (SELECT a, b FROM dup UNION ALL SELECT b, a FROM dup),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a AS id, q.r FROM edges e JOIN reach q ON q.id = e.b),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |szs AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sz * count(*) AS BIGINT) AS n_docs
         |FROM szs GROUP BY sz ORDER BY cluster_size""".stripMargin,
      asc("cluster_size")),
    // base/delta split + band-index probe, same signature CTEs; verdict
    // = smallest Jaccard-confirmed base owner
    QuerySpec("dedup_incremental", Dedup.incrementalMinhash,
      s"""$minhashCtes,
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
         |  FROM bands d JOIN bands b ON d.band = b.band AND d.sig = b.sig
         |  WHERE d.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
         |confirmed AS (SELECT c.delta_id, min(c.base_id) AS dup_of
         |  FROM cand c JOIN mh x ON x.doc_id = c.delta_id
         |    JOIN mh y ON y.doc_id = c.base_id AND y.j = x.j
         |  GROUP BY c.delta_id, c.base_id
         |  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
         |    >= ${Dedup.NumPerm} * 0.5),
         |confirmed_min AS (SELECT delta_id, min(dup_of) AS dup_of
         |  FROM confirmed GROUP BY 1)
         |SELECT s.doc_id, c.dup_of IS NULL AS is_new, c.dup_of
         |FROM (SELECT DISTINCT doc_id FROM mh WHERE doc_id % 5 = 0) s
         |LEFT JOIN confirmed_min c ON c.delta_id = s.doc_id
         |ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("dedup_simhash", Dedup.simhash,
      s"""$simhashCtes
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("dedup_simhash_pairs", Dedup.simhashPairs,
      s"""$simhashCtes,
         |blk AS (SELECT doc_id, simhash, unnest(range(4)) AS blk FROM sh),
         |blkv AS (SELECT doc_id, simhash, blk,
         |  (simhash >> CAST(blk * 12 AS INT)) & 4095 AS blkval FROM blk),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM blkv a JOIN blkv b ON a.blk = b.blk AND a.blkval = b.blkval
         |    AND a.doc_id < b.doc_id)
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    QuerySpec("dedup_ngram_jaccard", Dedup.ngramJaccardPairs,
      s"""WITH sh AS (${Dedup.sqlShingles}),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |rare AS (SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= ${Dedup.sqlDfCap("documents")}) f USING (shingle)),
         |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
         |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.a, i.b,
         |  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
         |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    // operating curve: same scored-pair pass, swept over the 7-value
    // threshold table with a LEFT join so empty thresholds report 0
    QuerySpec("dedup_threshold_sweep", Dedup.thresholdSweep,
      s"""WITH sh AS (${Dedup.sqlShingles}),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |rare AS (SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= ${Dedup.sqlDfCap("documents")}) f USING (shingle)),
         |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
         |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT i.a, i.b,
         |    CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jacc
         |  FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
         |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
         |    >= ${Dedup.SweepThresholds.min}),
         |t AS (SELECT unnest([${Dedup.SweepThresholds.mkString(", ")}]) AS threshold),
         |pt AS (SELECT t.threshold, p.a, p.b FROM t LEFT JOIN pairs p ON p.jacc >= t.threshold),
         |d AS (SELECT threshold, a, unnest([a, b]) AS doc FROM pt)
         |SELECT threshold,
         |  CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) / 2 AS BIGINT) AS n_pairs,
         |  count(DISTINCT doc) AS n_docs_affected
         |FROM d GROUP BY threshold
         |ORDER BY threshold""".stripMargin,
      asc("threshold")),
    // candidates and truth share the sh CTE. EVERY expensive CTE is
    // referenced exactly once (multi-reference CTEs re-evaluate under
    // DuckDB's inlining — the first draft spilled >79 GB at sf1 from
    // re-running the pair joins per reference); counts come from one
    // union-tag aggregate over the two pair sets
    // both sides restricted to the deterministic 1-in-RecallSampleMod
    // doc_id-hash subcorpus (shs/mhs) — mirrors Dedup.recallSample
    QuerySpec("dedup_lsh_recall", Dedup.lshRecall,
      s"""$minhashCtes,
         |shs AS (SELECT * FROM sh WHERE
         |  ${sqlMd5Prefix60("'lshrecall:' || CAST(doc_id AS VARCHAR)")} % ${Dedup.RecallSampleMod} = 0),
         |mhs AS (SELECT * FROM mh WHERE
         |  ${sqlMd5Prefix60("'lshrecall:' || CAST(doc_id AS VARCHAR)")} % ${Dedup.RecallSampleMod} = 0),
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mhs GROUP BY 1, 2),
         |cand0 AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |lshp AS (SELECT a, b FROM (
         |    SELECT c.a, c.b,
         |      sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS eq
         |    FROM cand0 c JOIN mhs x ON x.doc_id = c.a
         |      JOIN mhs y ON y.doc_id = c.b AND y.j = x.j
         |    GROUP BY 1, 2)
         |  WHERE CAST(eq AS DOUBLE) / ${Dedup.NumPerm}.0 >= 0.5),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY 1),
         |rare AS (SELECT shs.doc_id, shs.shingle FROM shs
         |  JOIN (SELECT shingle FROM shs GROUP BY shingle
         |        HAVING count(*) <= ${Dedup.sqlDfCap(
                   s"(SELECT doc_id FROM documents WHERE ${sqlMd5Prefix60("'lshrecall:' || CAST(doc_id AS VARCHAR)")} % ${Dedup.RecallSampleMod} = 0)")}) f USING (shingle)),
         |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
         |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT i.a, i.b FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
         |  WHERE CAST(n_inter AS DOUBLE) /
         |    CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
         |tagged AS (
         |  SELECT a, b, 1 AS in_truth, 0 AS in_lsh FROM truth
         |  UNION ALL
         |  SELECT a, b, 0, 1 FROM lshp),
         |g AS (SELECT a, b, max(in_truth) AS t, max(in_lsh) AS l
         |  FROM tagged GROUP BY 1, 2)
         |SELECT CAST(sum(t) AS BIGINT) AS n_truth,
         |  CAST(sum(l) AS BIGINT) AS n_candidates,
         |  CAST(sum(t * l) AS BIGINT) AS n_hit,
         |  CAST(CAST(sum(t * l) AS BIGINT) AS DOUBLE) /
         |    CAST(CAST(sum(t) AS BIGINT) AS DOUBLE) AS recall,
         |  CAST(CAST(sum(t * l) AS BIGINT) AS DOUBLE) /
         |    CAST(CAST(sum(l) AS BIGINT) AS DOUBLE) AS precision,
         |  CAST(${Dedup.RecallSampleMod} AS BIGINT) AS sample_mod
         |FROM g""".stripMargin,
      asc("n_truth")),
    // near-dup pair set ⋈ split tags; exactly-one-side-train filter
    QuerySpec("eval_split_leakage", Dedup.splitLeakage,
      s"""$minhashCtes,
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |pairs AS (SELECT c.a, c.b,
         |    sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS eq
         |  FROM cand c JOIN mh x ON x.doc_id = c.a
         |    JOIN mh y ON y.doc_id = c.b AND y.j = x.j
         |  GROUP BY 1, 2),
         |near AS (SELECT a, b, CAST(eq AS DOUBLE) / ${Dedup.NumPerm}.0 AS est_jaccard
         |  FROM pairs WHERE CAST(eq AS DOUBLE) / ${Dedup.NumPerm}.0 >= 0.5),
         |sp AS (SELECT doc_id, split FROM (${Sampling.sqlSplitAssign}) s),
         |t AS (SELECT n.a, n.b, n.est_jaccard,
         |    sa.split AS split_a, sb.split AS split_b
         |  FROM near n JOIN sp sa ON sa.doc_id = n.a
         |    JOIN sp sb ON sb.doc_id = n.b)
         |SELECT CASE WHEN split_a = 'train' THEN a ELSE b END AS train_doc,
         |  CASE WHEN split_a = 'train' THEN b ELSE a END AS eval_doc,
         |  CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS eval_split,
         |  est_jaccard
         |FROM t WHERE (split_a = 'train') <> (split_b = 'train')
         |ORDER BY train_doc, eval_doc""".stripMargin,
      asc("train_doc", "eval_doc")),
    // per-rule exact-integer boundaries; left join covers zero-token docs
    QuerySpec("text_gopher_rules", TextAnalysis.gopherRules, {
      import TextAnalysis._
      val stopList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH toks AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_chars,
         |    CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS BIGINT) AS n_stop
         |  FROM toks),
         |tf AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tf FROM (
         |    SELECT doc_id, count(*) AS c
         |    FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |    GROUP BY doc_id, tok) GROUP BY 1)
         |SELECT b.doc_id, b.n_words, b.sum_chars,
         |  coalesce(t.max_tf, 0) AS max_tf, b.n_stop,
         |  b.n_words >= $GopherMinWords AND b.n_words <= $GopherMaxWords AS r_word_count,
         |  b.sum_chars >= $GopherMinMeanLen * b.n_words
         |    AND b.sum_chars <= $GopherMaxMeanLen * b.n_words AS r_mean_len,
         |  coalesce(t.max_tf, 0) * $GopherRepMultiplier <= b.n_words AS r_repetition,
         |  b.n_stop >= $GopherMinStopwords AS r_stopwords,
         |  (b.n_words >= $GopherMinWords AND b.n_words <= $GopherMaxWords)
         |    AND (b.sum_chars >= $GopherMinMeanLen * b.n_words
         |      AND b.sum_chars <= $GopherMaxMeanLen * b.n_words)
         |    AND (coalesce(t.max_tf, 0) * $GopherRepMultiplier <= b.n_words)
         |    AND (b.n_stop >= $GopherMinStopwords) AS keep
         |FROM base b LEFT JOIN tf t USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
      asc("doc_id")),
    // ordered pairs, per-source denominator: containment, not Jaccard
    QuerySpec("dedup_ngram_containment", Dedup.ngramContainmentPairs,
      s"""WITH sh AS (${Dedup.sqlShingles}),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |rare AS (SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= ${Dedup.sqlDfCap("documents")}) f USING (shingle)),
         |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
         |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.a, i.b,
         |  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS containment
         |FROM inter i JOIN sizes sa ON sa.doc_id = i.a
         |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) >= 0.9
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    QuerySpec("dedup_span_coverage", Dedup.spanCoverage,
      s"""WITH sh AS (${Dedup.sqlShingles}),
         |freq AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY 1)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_coverage
         |FROM sh JOIN freq USING (shingle)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("dedup_substring_spans", Dedup.substringSpans,
      Dedup.sqlSubstringSpans, asc("doc_id", "span_id")),
    QuerySpec("dedup_substring_remove", Dedup.substringSpanRemove,
      Dedup.sqlSubstringSpanRemove, asc("doc_id")),
    // first-occurrence attribution: min doc_id per shingle, joined back
    QuerySpec("text_ngram_novelty", Dedup.ngramNovelty,
      s"""WITH sh AS (${Dedup.sqlShingles}),
         |fst AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty
         |FROM sh JOIN fst USING (shingle)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("dedup_embedding", Dedup.embeddingNearDup,
      s"""WITH q AS (SELECT vec_id, $quantize AS q FROM embeddings),
         |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
         |    ${listDot("a.q", "b.q")} AS dot,
         |    ${listNorm("a.q")} AS na, ${listNorm("b.q")} AS nb
         |  FROM q a JOIN q b ON a.vec_id < b.vec_id)
         |SELECT a, b,
         |  (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos2
         |FROM p WHERE dot > 0
         |  AND (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= ${Dedup.Cos2Threshold}
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    // collapse first: pairs over DISTINCT quantized vectors, each
    // weighted by the number of underlying vector pairs it stands for
    QuerySpec("dedup_embedding_collapsed", Dedup.embeddingNearDupCollapsed,
      s"""WITH q AS (SELECT vec_id, $quantize AS q FROM embeddings),
         |g AS (SELECT q, min(vec_id) AS rep, count(*) AS sz FROM q GROUP BY q),
         |p AS (SELECT a.rep AS a, b.rep AS b,
         |    ${listDot("a.q", "b.q")} AS dot,
         |    ${listNorm("a.q")} AS na, ${listNorm("b.q")} AS nb,
         |    a.sz * b.sz AS n_vec_pairs
         |  FROM g a JOIN g b ON a.rep < b.rep)
         |SELECT a, b,
         |  (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos2,
         |  CAST(n_vec_pairs AS BIGINT) AS n_vec_pairs
         |FROM p WHERE dot > 0
         |  AND (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= ${Dedup.Cos2Threshold}
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    QuerySpec("dedup_simhash_collapsed", Dedup.simhashPairsCollapsed,
      s"""$simhashCtes,
         |g AS (SELECT simhash, min(doc_id) AS rep, count(*) AS sz FROM sh GROUP BY 1),
         |blk AS (SELECT rep, simhash, sz, unnest(range(4)) AS blk FROM g),
         |blkv AS (SELECT rep, simhash, sz, blk,
         |  (simhash >> CAST(blk * 12 AS INT)) & 4095 AS blkval FROM blk),
         |cand AS (SELECT DISTINCT a.rep AS a, b.rep AS b,
         |    a.simhash AS sa, b.simhash AS sb, a.sz AS sza, b.sz AS szb
         |  FROM blkv a JOIN blkv b ON a.blk = b.blk AND a.blkval = b.blkval
         |    AND a.rep < b.rep)
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
         |  CAST(sza * szb AS BIGINT) AS n_doc_pairs
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    QuerySpec("sim_bruteforce_topk", Similarity.bruteForceTopKShared,
      topkSql(bucketJoin = false), asc("query_id", "rank")),
    QuerySpec("sim_lsh_buckets", (s, d) => Similarity.lshBuckets(s, d)
        .selectExpr("vec_id", "CAST(label AS BIGINT) AS label", "bucket"),
      s"""WITH qz AS (SELECT vec_id, label, $quantize AS q FROM embeddings)
         |SELECT vec_id, CAST(label AS BIGINT) AS label, $bucketExpr AS bucket
         |FROM qz ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    QuerySpec("sim_lsh_topk", Similarity.lshTopK,
      topkSql(bucketJoin = true), asc("query_id", "rank")),
    // same candidate CTEs as dedup_embedding_lsh, no threshold; rank
    // tie-break (cos2 DESC, neighbor) mirrors TopKAgg's heap order
    QuerySpec("sim_knn_graph", Similarity.knnGraphShared,
      knnGraphSql, asc("vec_id", "rank")),
    // same candidate plan with the cross-label predicate in the pair join
    QuerySpec("sim_hard_negatives", Similarity.hardNegatives,
      knnLikeSql("a.label <> b.label", "negative_id", Similarity.HardNegK),
      asc("vec_id", "rank")),
    // majority vote over the knn CTE: most votes, lowest label — the
    // Spark struct-max (votes, -label) replayed as a ranking window
    QuerySpec("sim_knn_classify", Similarity.knnClassify,
      s"""WITH $knnClassifyCtes
         |SELECT vec_id, label, predicted, votes, correct
         |FROM pred ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    QuerySpec("eval_confusion_matrix", Similarity.confusionMatrix,
      s"""WITH $knnClassifyCtes,
         |cells AS (SELECT label, predicted, count(*) AS n
         |  FROM pred GROUP BY 1, 2),
         |rt AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_label
         |  FROM cells GROUP BY 1),
         |ct AS (SELECT predicted, CAST(sum(n) AS BIGINT) AS n_pred
         |  FROM cells GROUP BY 1)
         |SELECT c.label, c.predicted, c.n,
         |  CAST(c.n AS DOUBLE) / CAST(rt.n_label AS DOUBLE) AS row_share,
         |  CAST(c.n AS DOUBLE) / CAST(ct.n_pred AS DOUBLE) AS col_share
         |FROM cells c
         |JOIN rt ON c.label = rt.label
         |JOIN ct ON c.predicted = ct.predicted
         |ORDER BY c.label, c.predicted""".stripMargin,
      asc("label", "predicted")),
    // exact fixed-point power iteration over the knn edges, unrolled —
    // every round re-CASTs to BIGINT because DuckDB sums widen to
    // HUGEINT while Spark stays in long
    QuerySpec("graph_pagerank", GraphRank.pagerank, {
      val S = GraphRank.Scale
      val rounds = (1 to GraphRank.Rounds).map { r =>
        s"""r$r AS (SELECT o.src AS vec_id, o.outdeg,
           |  CAST((15 * $S) // (100 * nn.n) +
           |       (85 * coalesce(i.inc, 0)) // 100 AS BIGINT) AS pr
           |  FROM od o CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst, sum(p.pr // p.outdeg) AS inc
           |    FROM r${r - 1} p JOIN e ON p.vec_id = e.src GROUP BY 1) i
           |    ON i.dst = o.src)""".stripMargin
      }
      s"""WITH knn AS ($knnGraphSql),
         |e AS (SELECT vec_id AS src, neighbor AS dst FROM knn),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM od),
         |r0 AS (SELECT src AS vec_id, outdeg,
         |  CAST($S // nn.n AS BIGINT) AS pr FROM od CROSS JOIN nn),
         |${rounds.mkString(",\n")}
         |SELECT vec_id, CAST(outdeg AS BIGINT) AS outdeg, pr
         |FROM r${GraphRank.Rounds} ORDER BY vec_id""".stripMargin
    },
      asc("vec_id")),
    // triangles replayed orientation-free: the a<b<c nested join over
    // the distinct undirected edge set (e1.a<e1.b=e2.a<e2.b), where the
    // Spark side enumerates wedges under the (deg,id) orientation —
    // same triangle set, independently derived
    QuerySpec("graph_triangle_count", GraphRank.triangleCount,
      s"""WITH knn AS ($knnGraphSql),
         |und AS (SELECT DISTINCT least(vec_id, neighbor) AS a,
         |    greatest(vec_id, neighbor) AS b FROM knn),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM und e1 JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pert AS (SELECT vec_id, count(*) AS triangles FROM (
         |    SELECT u AS vec_id FROM tri
         |    UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w FROM tri) t GROUP BY 1),
         |deg AS (SELECT vec_id, count(*) AS degree FROM (
         |    SELECT a AS vec_id FROM und
         |    UNION ALL SELECT b FROM und) d GROUP BY 1)
         |SELECT d.vec_id, CAST(d.degree AS BIGINT) AS degree,
         |  CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN CAST(coalesce(p.triangles, 0) * 2 AS DOUBLE) /
         |         CAST(d.degree * (d.degree - 1) AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS lcc
         |FROM deg d LEFT JOIN pert p USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    // per-edge common-neighbor counts from the same orientation-free
    // triangle replay; union via inclusion–exclusion on the degrees
    QuerySpec("graph_edge_jaccard", GraphRank.edgeJaccard,
      s"""WITH knn AS ($knnGraphSql),
         |und AS (SELECT DISTINCT least(vec_id, neighbor) AS a,
         |    greatest(vec_id, neighbor) AS b FROM knn),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM und e1 JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pere AS (SELECT a, b, count(*) AS common FROM (
         |    SELECT u AS a, v AS b FROM tri
         |    UNION ALL SELECT u, w FROM tri
         |    UNION ALL SELECT v, w FROM tri) t GROUP BY 1, 2),
         |deg AS (SELECT vec_id, count(*) AS degree FROM (
         |    SELECT a AS vec_id FROM und
         |    UNION ALL SELECT b FROM und) d GROUP BY 1)
         |SELECT e.a, e.b, CAST(coalesce(p.common, 0) AS BIGINT) AS common,
         |  CAST(da.degree AS BIGINT) AS deg_a, CAST(db.degree AS BIGINT) AS deg_b,
         |  CASE WHEN da.degree + db.degree - 2 - coalesce(p.common, 0) > 0
         |    THEN CAST(coalesce(p.common, 0) AS DOUBLE) /
         |         CAST(da.degree + db.degree - 2 - coalesce(p.common, 0) AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS jaccard
         |FROM und e
         |LEFT JOIN pere p ON p.a = e.a AND p.b = e.b
         |JOIN deg da ON da.vec_id = e.a
         |JOIN deg db ON db.vec_id = e.b
         |ORDER BY e.a, e.b""".stripMargin,
      asc("a", "b")),
    QuerySpec("sim_lsh_recall", Similarity.lshRecall,
      recallSql(topkSql(bucketJoin = true)), asc("query_id")),
    QuerySpec("sim_lsh_topk_multiprobe", Similarity.lshTopKMultiProbe,
      multiprobeTopkSql, asc("query_id", "rank")),
    QuerySpec("sim_ivf_topk", Similarity.ivfTopK, ivfTopkSql, asc("query_id", "rank")),
    QuerySpec("dedup_semantic", Similarity.semanticDedup,
      s"""WITH $ivfCellCtes,
         |pair AS (SELECT y.vec_id, ${listDot("x.q", "y.q")} AS dot,
         |    x.norm AS na, y.norm AS nb
         |  FROM corpus x JOIN corpus y ON x.cell = y.cell AND x.vec_id < y.vec_id),
         |dropped AS (SELECT DISTINCT vec_id FROM pair
         |  WHERE dot > 0 AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
         |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= ${Dedup.Cos2Threshold})
         |SELECT c.vec_id, c.cell, d.vec_id IS NULL AS kept
         |FROM corpus c LEFT JOIN dropped d USING (vec_id)
         |ORDER BY c.vec_id""".stripMargin,
      asc("vec_id")),
    QuerySpec("sim_multiprobe_recall", Similarity.multiProbeRecall,
      recallSql(multiprobeTopkSql), asc("query_id")),
    QuerySpec("sim_ivf_recall", Similarity.ivfRecall,
      recallSql(ivfTopkSql), asc("query_id")),
    QuerySpec("sim_pq_topk", Similarity.pqTopK, pqTopkSql, asc("query_id", "rank")),
    QuerySpec("sim_pq_recall", Similarity.pqRecall,
      recallSql(pqTopkSql), asc("query_id")),
    QuerySpec("sim_ivfpq_topk", Similarity.ivfPqTopK,
      ivfPqTopkSql, asc("query_id", "rank")),
    QuerySpec("sim_ivfpq_recall", Similarity.ivfPqRecall,
      recallSql(ivfPqTopkSql), asc("query_id")),
    QuerySpec("cluster_kmeans_centroids", Clustering.kmeansCentroids, {
      val T = Clustering.Iters
      s"""$kmeansCtes,
         |cc AS (SELECT cid, CAST(i AS BIGINT) + 1 AS pos,
         |    cv[CAST(i AS BIGINT) + 1] AS val
         |  FROM (SELECT cid, cv, unnest(range(len(cv))) AS i FROM c$T)),
         |x AS (SELECT cid, CAST(sum(val * pos) AS BIGINT) AS checksum,
         |    min(val) AS c_min, max(val) AS c_max FROM cc GROUP BY 1)
         |SELECT c.cid AS cluster, c.n, x.checksum, x.c_min, x.c_max
         |FROM c$T c JOIN x ON x.cid = c.cid ORDER BY cluster""".stripMargin
    },
      asc("cluster")),
    QuerySpec("cluster_kmeans_assign", Clustering.kmeansAssign, {
      val Tp1 = Clustering.Iters + 1
      s"""$kmeansCtes,
         |${kmeansAssignCte(Tp1)}
         |SELECT vec_id, cid AS cluster, d2 AS dist2 FROM a$Tp1
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },
      asc("vec_id")),
    // within-cluster SSE over the same unrolled assignment replay
    QuerySpec("cluster_kmeans_inertia", Clustering.kmeansInertia, {
      val Tp1 = Clustering.Iters + 1
      s"""$kmeansCtes,
         |${kmeansAssignCte(Tp1)}
         |SELECT cid AS cluster, count(*) AS n,
         |  CAST(sum(d2) AS BIGINT) AS inertia,
         |  CAST(CAST(sum(d2) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_dist2
         |FROM a$Tp1 WHERE rn = 1 GROUP BY 1 ORDER BY cluster""".stripMargin
    },
      asc("cluster")),
    // simplified (centroid-based) silhouette over the same unrolled
    // replay: a2 = rn-1 distance, b2 = rn-2 distance; fixed-point
    // truncating s so the per-cluster sum is an exact BIGINT
    QuerySpec("cluster_silhouette", Clustering.kmeansSilhouette, {
      val Tp1 = Clustering.Iters + 1
      s"""$kmeansCtes,
         |${kmeansAssignCte(Tp1)},
         |ab AS (SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN cid END) AS cluster,
         |    max(CASE WHEN rn = 1 THEN d2 END) AS a2,
         |    max(CASE WHEN rn = 2 THEN d2 END) AS b2
         |  FROM a$Tp1 WHERE rn <= 2 GROUP BY 1),
         |p AS (SELECT cluster, CASE WHEN b2 = 0 THEN 0
         |    ELSE ((b2 - a2) * ${Clustering.SilScale}) // b2 END AS sil
         |  FROM ab)
         |SELECT cluster, count(*) AS n, CAST(sum(sil) AS BIGINT) AS sum_sil_e4,
         |  CAST(CAST(sum(sil) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    / ${Clustering.SilScale}.0 AS mean_sil
         |FROM p GROUP BY 1 ORDER BY cluster""".stripMargin
    },
      asc("cluster")),
    QuerySpec("dedup_embedding_lsh", Similarity.lshNearDupPairs,
      s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
         |n AS (SELECT vec_id, q, ${listNorm("q")} AS norm, $bucketExpr AS bucket FROM qz),
         |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
         |    ${listDot("a.q", "b.q")} AS dot, a.norm AS na, b.norm AS nb
         |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT a, b,
         |  (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos2
         |FROM p WHERE dot > 0
         |  AND (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= ${Dedup.Cos2Threshold}
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    // int8 quantization: Spark `div` and DuckDB `//` both truncate
    // toward zero on integers, so the two sides agree bit-for-bit
    QuerySpec("embed_int8", Similarity.int8Quantize,
      s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
         |mm AS (SELECT vec_id, q,
         |  CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT) AS m FROM qz),
         |v AS (SELECT vec_id, m,
         |  CASE WHEN m = 0 THEN list_transform(q, x -> CAST(0 AS BIGINT))
         |       ELSE list_transform(q, x -> CAST((x * 127) // m AS BIGINT)) END AS v
         |  FROM mm)
         |SELECT vec_id, m AS scale,
         |  CAST(list_sum(list_transform(list_zip(v, range(1, len(v) + 1)),
         |    p -> p[1] * CAST(p[2] AS BIGINT))) AS BIGINT) AS checksum,
         |  CAST(list_min(v) AS BIGINT) AS v_min,
         |  CAST(list_max(v) AS BIGINT) AS v_max
         |FROM v ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    // exact second-moment matrix: per-dim unnest self-joined per vec —
    // the row-explosion form the engine's array-buffer aggregate avoids
    QuerySpec("embed_gram_matrix", Clustering.gramMatrix,
      s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
         |e AS (SELECT vec_id, unnest(q) AS v,
         |    generate_subscripts(q, 1) AS s FROM qz)
         |SELECT CAST(a.s - 1 AS BIGINT) AS i, CAST(b.s - 1 AS BIGINT) AS j,
         |  CAST(sum(a.v * b.v) AS BIGINT) AS gram
         |FROM e a JOIN e b USING (vec_id)
         |GROUP BY 1, 2 ORDER BY i, j""".stripMargin,
      asc("i", "j")),
    // plane count replayed from the corpus row count with the same
    // integer bit-length formula as Similarity.multiPlanes — length(bin(x))
    // IS bitLength(x) in DuckDB, so no float log2 on either engine. The
    // weight-table literal is indexed ONCE into an 80-row `pl` relation
    // and joined; indexing it inside the per-row lambda re-materializes
    // the whole literal per (row, plane) and cost 40 s at sf0.01 alone
    QuerySpec("dedup_embedding_lsh_multi", Similarity.lshNearDupPairsMulti,
      s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
         |n AS (SELECT vec_id, q, ${listNorm("q")} AS norm FROM qz),
         |np AS (SELECT CASE WHEN c <= 1 THEN ${Similarity.MultiPlanesBase}
         |    ELSE least(${Similarity.MultiPlanesBase} + length(bin(c - 1)), ${Similarity.MultiPlanesMax}) END AS np
         |  FROM (SELECT (count(*) + ${Similarity.MultiN0 - 1}) // ${Similarity.MultiN0} AS c FROM embeddings)),
         |pl AS (SELECT pidx, ${sqlPlaneList(Similarity.NumTables * Similarity.MultiPlanesMax, Similarity.Dim)}[CAST(pidx AS INT) + 1] AS w
         |  FROM (SELECT unnest(range(${Similarity.NumTables * Similarity.MultiPlanesMax})) AS pidx)),
         |tp AS (SELECT t, p FROM (SELECT unnest(range(${Similarity.NumTables})) AS t)
         |  CROSS JOIN (SELECT unnest(range(np.np)) AS p FROM np)),
         |bit AS (SELECT d.vec_id, tp.t,
         |  CASE WHEN list_sum(list_transform(list_zip(d.q, pl.w), x -> x[1] * x[2])) > 0
         |       THEN (1::BIGINT << CAST(tp.p AS INT)) ELSE 0 END AS bit
         |  FROM n d CROSS JOIN tp CROSS JOIN np JOIN pl ON pl.pidx = tp.t * np.np + tp.p),
         |b AS (SELECT d.vec_id, x.t, d.q, d.norm, x.bucket
         |  FROM (SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS bucket FROM bit GROUP BY 1, 2) x
         |  JOIN n d ON d.vec_id = x.vec_id),
         |cand AS (SELECT DISTINCT a.vec_id AS a, b2.vec_id AS b
         |  FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
         |p AS (SELECT c.a, c.b, ${listDot("x.q", "y.q")} AS dot, x.norm AS na, y.norm AS nb
         |  FROM cand c JOIN n x ON x.vec_id = c.a JOIN n y ON y.vec_id = c.b)
         |SELECT a, b,
         |  (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos2
         |FROM p WHERE dot > 0
         |  AND (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) /
         |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= ${Dedup.Cos2Threshold}
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    QuerySpec("mm_media_meta", Multimodal.mediaMeta,
      s"""SELECT doc_id, $modality AS modality,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, source
         |FROM documents ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    // codec-independent projection: mediaTable payloads are text bytes,
    // so the decoder's image fields are all zero (MultimodalSpec
    // asserts) and the oracle stays payload-arithmetic
    QuerySpec("mm_decode_features", (s, d) => Multimodal.decodeFeatures(s, d).select(
        col("doc_id"), col("modality"), col("n_bytes"), col("checksum60"),
        col("n_frames"), col("feat")),
      s"""SELECT doc_id, $modality AS modality,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  ${sqlMd5Prefix60("text")} AS checksum60,
         |  CAST((octet_length(encode(text)) + 1023) // 1024 AS BIGINT) AS n_frames,
         |  ${sqlMd5Prefix60("text")} % 997 AS feat
         |FROM documents ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("mm_image_roundtrip", Multimodal.imageRoundtrip,
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS codec,
        |  CAST(8 + doc_id % 9 AS BIGINT) AS width,
        |  CAST(8 + doc_id % 7 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS n_channels,
        |  CAST(doc_id % 256 AS BIGINT) AS mean_r,
        |  CAST(doc_id * 7 % 256 AS BIGINT) AS mean_g,
        |  CAST(doc_id * 13 % 256 AS BIGINT) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("mm_frame_sample", Multimodal.frameSample,
      s"""WITH m AS (SELECT doc_id, $modality AS modality,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
         |f AS (SELECT doc_id, modality,
         |  unnest(range(0, (n_bytes - 1) // 1024 + 1)) AS frame_id
         |  FROM m WHERE n_bytes > 0)
         |SELECT doc_id, modality, frame_id FROM f
         |WHERE frame_id % 4 = 0 ORDER BY doc_id, frame_id""".stripMargin,
      asc("doc_id", "frame_id")),
    // pure doc_id arithmetic: the Spark side round-trips real PNG/BMP
    // bytes through javax.imageio, and solid-color fixtures make every
    // decoded stat (dims, band count, channel means) exactly predictable
    // hash replayed from the generator formula (PNG is lossless, so
    // the decoded raster IS the formula); pairs via the simhash-style
    // 16-bit banded join
    QuerySpec("mm_image_ahash_pairs", Multimodal.imageAHashPairs,
      s"""WITH px AS (SELECT doc_id,
         |    CAST(tx.range AS BIGINT) AS x, CAST(ty.range AS BIGINT) AS y,
         |    CAST(((doc_id // 2 % 256 * 37) % 256 +
         |      (3 + doc_id // 2 % 97 * 2654435761 % 97 % 16) * tx.range +
         |      (5 + doc_id // 2 % 89 * 40503 % 89 % 16) * ty.range +
         |      (1 + doc_id // 2 % 83 * 69069 % 83 % 8) * tx.range * ty.range)
         |      % 256 AS BIGINT) AS g
         |  FROM documents CROSS JOIN range(16) tx CROSS JOIN range(16) ty),
         |tot AS (SELECT doc_id, CAST(sum(g) AS BIGINT) AS total
         |  FROM px GROUP BY 1),
         |cells AS (SELECT doc_id, x // 2 AS i, y // 2 AS j,
         |    CAST(sum(g) AS BIGINT) AS bs
         |  FROM px GROUP BY 1, 2, 3),
         |hashu AS (SELECT c.doc_id,
         |    bit_or(CASE WHEN bs * 64 > total
         |      THEN CAST(1 AS HUGEINT) << CAST(i * 8 + j AS INT)
         |      ELSE CAST(0 AS HUGEINT) END) AS h
         |  FROM cells c JOIN tot USING (doc_id) GROUP BY 1),
         |hash AS (SELECT doc_id, CAST(CASE
         |    WHEN h >= CAST(9223372036854775808 AS HUGEINT)
         |    THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END
         |  AS BIGINT) AS ahash FROM hashu),
         |blk AS (SELECT doc_id, ahash, unnest(range(4)) AS blk FROM hash),
         |blkv AS (SELECT doc_id, ahash, blk,
         |    (ahash >> CAST(blk * 16 AS INT)) & 65535 AS blkval FROM blk),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
         |    a.ahash AS ha, b.ahash AS hb
         |  FROM blkv a JOIN blkv b ON a.blk = b.blk AND a.blkval = b.blkval
         |    AND a.doc_id < b.doc_id)
         |SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= ${Multimodal.AHashMaxHamming}
         |ORDER BY a, b""".stripMargin,
      asc("a", "b")),
    QuerySpec("rel_tfidf_top_terms", Relevance.tfidfTopTerms,
      Relevance.sqlTfidfTopTerms, asc("doc_id", "rn")),
    // Semantic: the TopK output is already totally ordered by
    // (score DESC, doc_id)
    QuerySpec("rel_bm25_search", Relevance.bm25Search, Relevance.sqlBm25Search, Semantic),
    QuerySpec("pipeline_clean_corpus", CorpusPipeline.cleanCorpus,
      s"""$cleanCorpusCtes
         |SELECT q.doc_id FROM quality q
         |JOIN exact_keep e ON e.doc_id = q.doc_id
         |WHERE q.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY q.doc_id""".stripMargin,
      asc("doc_id")),
    // the flagship composition: clean-corpus CTEs + the decontamination
    // sweep + the token/chunk CTEs, rolled up per source — every block
    // is the SAME shared body its standalone oracle uses
    QuerySpec("pipeline_end_to_end", CorpusPipeline.endToEnd,
      s"""$cleanCorpusCtes,
         |final_keep AS (
         |  SELECT q.doc_id FROM quality q
         |  JOIN exact_keep e ON e.doc_id = q.doc_id
         |  WHERE q.doc_id NOT IN (SELECT doc_id FROM losers)),
         |contaminated AS (
         |  SELECT DISTINCT t.doc_id
         |  FROM (SELECT doc_id, shingle FROM sh WHERE doc_id >= ${CorpusPipeline.BenchSetSize}) t
         |  JOIN (SELECT shingle FROM sh WHERE doc_id < ${CorpusPipeline.BenchSetSize}) b
         |    USING (shingle)),
         |ids AS ($tokensToIdsBody),
         |chunks AS (
         |  SELECT doc_id, pos // ${Sampling.ChunkLen} AS chunk_id,
         |    count(*) AS n_tokens,
         |    sum(token_id * (pos % ${Sampling.ChunkLen} + 1)) AS checksum
         |  FROM ids GROUP BY 1, 2),
         |survivors AS (
         |  SELECT c.doc_id, c.n_tokens, c.checksum, d.source
         |  FROM chunks c
         |  JOIN final_keep k ON k.doc_id = c.doc_id
         |  JOIN documents d ON d.doc_id = c.doc_id
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated))
         |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(checksum) AS BIGINT) AS corpus_checksum
         |FROM survivors GROUP BY 1 ORDER BY source""".stripMargin,
      asc("source")),
    // the ADS report composes the SAME quality/langid/fingerprint
    // fragments that back text_quality, text_langid and dedup_exact
    QuerySpec("pipeline_corpus_report", CorpusPipeline.corpusReport,
      s"""WITH q0 AS (SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter($toks, x -> list_contains(${TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")}, x))) AS BIGINT) AS n_stop,
         |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents),
         |qual AS (SELECT doc_id, n_tokens,
         |  CAST(CASE WHEN n_tokens >= 10 AND n_stop > 0
         |    AND CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.5
         |    THEN 1 ELSE 0 END AS BIGINT) AS quality FROM q0),
         |tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |hits AS (SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM tok JOIN (VALUES $markerValues) AS m(cand_lang, marker) ON tok = marker
         |  GROUP BY 1, 2),
         |best AS (SELECT doc_id, cand_lang,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
         |  FROM hits),
         |lang AS (SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang
         |  FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)),
         |dup AS (SELECT doc_id, source,
         |  doc_id <> min(doc_id) OVER (PARTITION BY md5($normText)) AS is_dup
         |  FROM documents)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(q.quality) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_english,
         |  CAST(sum(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(q.quality) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS quality_rate,
         |  CAST(CAST(sum(CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS english_rate,
         |  CAST(CAST(sum(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
         |FROM dup d JOIN qual q USING (doc_id) JOIN lang l USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("source")),
    QuerySpec("pipeline_decontaminate", CorpusPipeline.decontaminate,
      CorpusPipeline.sqlDecontaminate, asc("doc_id")),
    // bloom prefilter has no false negatives and the join rechecks
    // exactly → same answer, same oracle as the plain sweep
    QuerySpec("pipeline_decontaminate_bloom", CorpusPipeline.decontaminateBloom,
      CorpusPipeline.sqlDecontaminate, asc("doc_id")),
    // Semantic: the TakeOrdered output is already totally ordered by
    // (priority, doc_id)
    QuerySpec("sample_uniform_k", Sampling.uniformK, Sampling.sqlUniformK, Semantic),
    QuerySpec("pipeline_shard_manifest", Sampling.shardManifest,
      Sampling.sqlShardManifest, asc("shard")),
    QuerySpec("sample_split_assign", Sampling.splitAssign,
      Sampling.sqlSplitAssign, asc("doc_id")),
    // the dedup_clusters transitive closure, then splitAssign's salted
    // CASE over the CLUSTER id — near-dup members share a split by
    // construction; singletons (cluster_id = doc_id) replay splitAssign
    QuerySpec("sample_split_cluster_safe", Sampling.splitClusterSafe,
      s"""${minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |dup AS (SELECT c.a, c.b FROM cand c
         |  JOIN mh x ON x.doc_id = c.a
         |  JOIN mh y ON y.doc_id = c.b AND y.j = x.j
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
         |    >= ${Dedup.NumPerm} * 0.5),
         |edges AS (SELECT a, b FROM dup UNION ALL SELECT b, a FROM dup),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a AS id, q.r FROM edges e JOIN reach q ON q.id = e.b),
         |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT doc_id, cluster_id, ${Sampling.sqlSplitCase("cluster_id")}
         |FROM lab ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    // kept = canonical (cluster argmax on content) AND gopher-pass;
    // split = cluster-safe; budget = whitespace-token sum per cell
    QuerySpec("pipeline_train_manifest", CorpusPipeline.trainManifest, {
      import TextAnalysis._
      val stopList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""${minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, CAST(j // ${Dedup.BandRows} AS BIGINT) AS band,
         |  string_agg(mh, '_' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id),
         |dup AS (SELECT c.a, c.b FROM cand c
         |  JOIN mh x ON x.doc_id = c.a
         |  JOIN mh y ON y.doc_id = c.b AND y.j = x.j
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
         |    >= ${Dedup.NumPerm} * 0.5),
         |edges AS (SELECT a, b FROM dup UNION ALL SELECT b, a FROM dup),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.a AS id, q.r FROM edges e JOIN reach q ON q.id = e.b),
         |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |canon AS (SELECT doc_id FROM (
         |    SELECT l.doc_id, doc_id = first_value(l.doc_id) OVER (
         |      PARTITION BY l.cluster_id ORDER BY d.n_chars DESC, l.doc_id)
         |      AS is_canonical
         |    FROM lab l JOIN documents d USING (doc_id))
         |  WHERE is_canonical),
         |tq AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |gbase AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_chars,
         |    CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS BIGINT) AS n_stop
         |  FROM tq),
         |gtf AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tf FROM (
         |    SELECT doc_id, count(*) AS c
         |    FROM (SELECT doc_id, unnest(toks) AS tok FROM tq)
         |    GROUP BY doc_id, tok) GROUP BY 1),
         |keepq AS (SELECT b.doc_id, b.n_words FROM gbase b LEFT JOIN gtf t USING (doc_id)
         |  WHERE b.n_words >= $GopherMinWords AND b.n_words <= $GopherMaxWords
         |    AND b.sum_chars >= $GopherMinMeanLen * b.n_words
         |    AND b.sum_chars <= $GopherMaxMeanLen * b.n_words
         |    AND coalesce(t.max_tf, 0) * $GopherRepMultiplier <= b.n_words
         |    AND b.n_stop >= $GopherMinStopwords),
         |spl AS (SELECT doc_id, ${Sampling.sqlSplitCase("cluster_id")} FROM lab)
         |SELECT s.split, d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(k.n_words) AS BIGINT) AS n_tokens
         |FROM canon c
         |JOIN keepq k USING (doc_id)
         |JOIN spl s USING (doc_id)
         |JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY split, source""".stripMargin
    },
      asc("split", "source")),
    // the SQL-text-only fingerprint pass: md5-prefix60 of normalized
    // text, simhash over the (dup-keeping) token stream, first MinHash
    // permutation over distinct shingles, rolling-shingle count; the
    // NULL-for-empty kernels coalesce to -1 on both engines
    QuerySpec("llm_sql_surface", Dedup.sqlSurface,
      s"""WITH shg AS (${Dedup.sqlShingles}),
         |msh AS (SELECT doc_id,
         |    min((${Hashing.minhashA(0)} * ${sqlMd5Hash31("shingle")} +
         |         ${Hashing.minhashB(0)}) % ${Hashing.P31}) AS mh0
         |  FROM shg GROUP BY 1),
         |tq AS (SELECT doc_id, $toks AS toks FROM documents),
         |stok AS (SELECT doc_id, unnest(toks) AS tok FROM tq),
         |sh AS (SELECT doc_id, ${sqlMd5Prefix60("tok")} AS h FROM stok),
         |sbits AS (SELECT doc_id, h, unnest(range(${Dedup.SimBits})) AS i FROM sh),
         |svotes AS (SELECT doc_id, i,
         |  CASE WHEN (h & $pow2List[CAST(i AS INT) + 1]) > 0 THEN 1 ELSE -1 END AS vote
         |  FROM sbits),
         |sv AS (SELECT doc_id, i, sum(vote) AS v FROM svotes GROUP BY 1, 2),
         |sfp AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN v > 0 THEN $pow2List[CAST(i AS INT) + 1] ELSE 0 END) AS BIGINT) AS simhash
         |  FROM sv GROUP BY 1)
         |SELECT d.doc_id,
         |  ${sqlMd5Prefix60(normText)} AS fp60,
         |  coalesce(f.simhash, -1) AS simhash,
         |  coalesce(m.mh0, -1) AS mh0,
         |  CAST(greatest(len(t.toks) - 2, 0) AS BIGINT) AS n_shingles
         |FROM documents d
         |JOIN tq t USING (doc_id)
         |LEFT JOIN sfp f USING (doc_id)
         |LEFT JOIN msh m USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    // SQL-text-only removal surface: value-identical pass, same oracle
    QuerySpec("llm_sql_surface_remove", Dedup.sqlSurfaceRemove,
      Dedup.sqlSubstringSpanRemove, asc("doc_id")),
    // exact PSI sufficient statistics on the DSIR bucket domain; the
    // scalar divergence (ln) stays engine-side, same stance as
    // stats_psi_drift
    QuerySpec("eval_source_drift", Sampling.sourceDrift,
      s"""WITH base AS (SELECT doc_id, source, $toks AS t FROM documents),
         |bg0 AS (SELECT doc_id, source,
         |    unnest(list_filter(list_transform(list_zip(t, t[2:]),
         |      p -> p[1] || ' ' || p[2]), x -> x IS NOT NULL)) AS bg
         |  FROM base),
         |bgb AS (SELECT source,
         |    ${Hashing.sqlMd5Hash31("bg")} % ${Sampling.DsirBuckets} AS bucket FROM bg0),
         |ps AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt
         |  FROM bgb GROUP BY 1, 2),
         |pb AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS corpus_cnt FROM ps GROUP BY 1),
         |st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS src_total FROM ps GROUP BY 1),
         |ct AS (SELECT CAST(sum(cnt) AS BIGINT) AS corpus_total FROM ps)
         |SELECT ps.source, ps.bucket, ps.cnt, pb.corpus_cnt, st.src_total, ct.corpus_total
         |FROM ps JOIN pb USING (bucket) JOIN st USING (source) CROSS JOIN ct
         |ORDER BY source, bucket""".stripMargin,
      asc("source", "bucket")),
    QuerySpec("sample_stratified", Sampling.stratified,
      Sampling.sqlStratified, asc("event_id")),
    QuerySpec("sample_weighted", Sampling.weightedSample,
      Sampling.sqlWeightedSample, asc("doc_id")),
    QuerySpec("pipeline_mix_sources", Sampling.mixSources,
      Sampling.sqlMixSources, asc("doc_id")),
    QuerySpec("pipeline_mix_schedule", Sampling.mixSchedule,
      s"""WITH w AS (SELECT source, count(*) AS w FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw, count(*) AS ns FROM w),
         |occ AS (SELECT source, CAST(k AS BIGINT) AS k,
         |    (CAST(k AS BIGINT) * tw) // w AS vtime
         |  FROM (SELECT source, w, tw,
         |      unnest(range(1, (${Sampling.ScheduleSteps} * w) // tw + ns + 2)) AS k
         |    FROM w, t)),
         |r AS (SELECT *, row_number() OVER (ORDER BY vtime, source, k) AS step
         |  FROM occ)
         |SELECT CAST(step AS BIGINT) AS step, source, k AS occurrence, CAST(vtime AS BIGINT) AS vtime
         |FROM r WHERE step <= ${Sampling.ScheduleSteps}
         |ORDER BY step""".stripMargin,
      asc("step")),
    QuerySpec("sample_temperature", Sampling.temperatureMix,
      Sampling.sqlTemperatureMix, asc("doc_id")),
    QuerySpec("pipeline_source_quota", Sampling.sourceQuota,
      Sampling.sqlSourceQuota, asc("doc_id")),
    // heap form keeps the window form's exact contract → same oracle
    QuerySpec("pipeline_source_quota_agg", Sampling.sourceQuotaHeap,
      Sampling.sqlSourceQuota, asc("doc_id")),
    // the chunker nests the same token-id pipeline — content checksum
    // included so the oracle checks packed payloads, not just counts
    QuerySpec("pipeline_chunk_tokens", Sampling.chunkTokens,
      Sampling.sqlChunkTokens(tokensToIdsBody), asc("doc_id", "chunk_id")),
    // global rank over the SAME lm body; (fluency DESC, doc_id) is a
    // total order, so ranks are engine-independent
    QuerySpec("pipeline_curriculum", Sampling.curriculumOrder,
      s"""SELECT doc_id, n_bigrams, sum_num, sum_den, fluency,
         |  CAST(row_number() OVER (ORDER BY fluency DESC, doc_id) AS BIGINT)
         |    AS curriculum_rank
         |FROM ($lmScoreBody) lm ORDER BY curriculum_rank""".stripMargin,
      asc("curriculum_rank")),
    QuerySpec("pipeline_pack_sequences", Sampling.packSequences,
      Sampling.sqlPackSequences, asc("doc_id")),
    // label prototypes: truncating integer mean per label (same `//`
    // ≡ Spark `div` contract as the k-means recompute), pairwise cosine
    // as one double expression over exact integer dot/norms
    QuerySpec("cluster_label_centroids", Clustering.labelCentroids,
      s"""WITH qz AS (SELECT CAST(label AS BIGINT) AS label, $quantize AS q
         |  FROM embeddings),
         |e AS (SELECT label, CAST(i AS BIGINT) + 1 AS pos,
         |    q[CAST(i AS BIGINT) + 1] AS val
         |  FROM (SELECT label, q, unnest(range(len(q))) AS i FROM qz)),
         |s AS (SELECT label, pos, CAST(sum(val) AS BIGINT) AS sv
         |  FROM e GROUP BY 1, 2),
         |cnt AS (SELECT label, count(*) AS n FROM qz GROUP BY 1),
         |ca AS (SELECT s.label, max(cnt.n) AS n,
         |    list(sv // n ORDER BY pos) AS cv
         |  FROM s JOIN cnt ON s.label = cnt.label GROUP BY 1)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  a.n AS n_a, b.n AS n_b,
         |  CAST(${listDot("a.cv", "b.cv")} AS DOUBLE) /
         |    (sqrt(CAST(${listNorm("a.cv")} AS DOUBLE)) *
         |     sqrt(CAST(${listNorm("b.cv")} AS DOUBLE))) AS cos_ab
         |FROM ca a JOIN ca b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin,
      asc("label_a", "label_b")),
    // exact vocabulary Jaccard over the bounded source domain; the
    // oracle's token self-join is value-equivalent to the engine's
    // per-token source-set fold
    QuerySpec("corpus_source_overlap", TextAnalysis.sourceOverlap,
      s"""WITH tok AS (SELECT DISTINCT source, tok FROM
         |    (SELECT source, unnest($toks) AS tok FROM documents)),
         |sizes AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS n_common
         |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
         |  CAST(n_common AS DOUBLE) /
         |    CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON pairs.src_a = sa.source
         |JOIN sizes sb ON pairs.src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,
      asc("src_a", "src_b")),
    QuerySpec("text_token_lang_chi2", Relevance.tokenLangChi2,
      Relevance.sqlTokenLangChi2, Semantic),
    QuerySpec("ir_inverted_index", Relevance.invertedIndex,
      Relevance.sqlInvertedIndex, asc("term", "rnk")),
    QuerySpec("text_cooccurrence_pmi", TextAnalysis.cooccurrencePmi,
      TextAnalysis.sqlCooccurrencePmi, Semantic),
    // phrases re-derived via windowed group-and-concat (the engine uses
    // a per-doc fold); integer ppm word scores keep phrase sums exact
    QuerySpec("text_keyphrase_rake", Relevance.rakeKeyphrases, {
      val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, unnest(tk) AS tok,
         |    generate_subscripts(tk, 1) AS s
         |  FROM (SELECT doc_id, $toks AS tk FROM documents)),
         |g AS (SELECT doc_id, s, tok,
         |    CASE WHEN tok IN ($stopList) THEN 1 ELSE 0 END AS st,
         |    sum(CASE WHEN tok IN ($stopList) THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s) AS grp
         |  FROM t),
         |ph AS (SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY s) AS phrase
         |  FROM g WHERE st = 0 GROUP BY 1, 2),
         |pd AS (SELECT phrase, count(*) AS n FROM ph GROUP BY 1),
         |pw AS (SELECT phrase, n, unnest(string_split(phrase, ' ')) AS word,
         |    CAST(len(string_split(phrase, ' ')) AS BIGINT) AS l FROM pd),
         |ws AS (SELECT word,
         |    CAST((CAST(sum(n * l) AS BIGINT) * 1000000) //
         |      CAST(sum(n) AS BIGINT) AS BIGINT) AS w_score
         |  FROM pw GROUP BY 1)
         |SELECT phrase, min(n) AS n_occurrences,
         |  CAST(sum(w_score) AS BIGINT) AS score_ppm
         |FROM pw JOIN ws USING (word) GROUP BY 1
         |ORDER BY score_ppm DESC, phrase LIMIT ${Relevance.RakeTopN}""".stripMargin
    },
      Semantic),
    // feedback docs re-ranked from the embedded BM25 CTE; integer RSV
    QuerySpec("ir_query_expansion", Relevance.queryExpansion, {
      val qTermPred = Relevance.QueryTerms
        .map(t => s"term = '$t'").mkString(" OR ")
      s"""WITH bm AS (${Relevance.sqlBm25Search}),
         |fb AS (SELECT doc_id FROM bm ORDER BY score DESC, doc_id
         |  LIMIT ${Relevance.PrfDocs}),
         |dt AS (SELECT DISTINCT doc_id, unnest(${TextAnalysis.sqlTokens("text")}) AS term
         |  FROM documents),
         |cdf AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
         |t AS (SELECT count(*) AS n_docs FROM documents),
         |fdf AS (SELECT term, count(*) AS df_fb FROM dt JOIN fb USING (doc_id)
         |  WHERE NOT ($qTermPred) GROUP BY 1)
         |SELECT fdf.term, df_fb, df,
         |  CAST((df_fb * n_docs) // df AS BIGINT) AS score
         |FROM fdf JOIN cdf ON fdf.term = cdf.term, t
         |ORDER BY score DESC, fdf.term LIMIT ${Relevance.PrfTerms}""".stripMargin
    },
      Semantic),
    QuerySpec("ir_phrase_search", Relevance.phraseSearch,
      Relevance.sqlPhraseSearch, Semantic),
    QuerySpec("ir_proximity_search", Relevance.proximitySearch,
      Relevance.sqlProximitySearch, Semantic),
    // k-core: CoreRounds unrolled peel rounds, exactly as the engine
    // runs — degrees over the survivor VERTEX set (zero-degree
    // survivors peel in the round they become isolated), plus the
    // graph-constant converged flag (would round r+1 peel anyone?)
    QuerySpec("graph_kcore", GraphRank.kCore, {
      val k = GraphRank.CoreK
      val r = GraphRank.CoreRounds
      // MATERIALIZED: each round references its predecessor three times
      // (FROM + two NOT INs); inlined CTEs would re-evaluate the chain
      // exponentially (3^rounds scans — observed as fd exhaustion)
      val roundCtes = (0 until r).map { i =>
        s"""d$i AS MATERIALIZED (SELECT s.v, coalesce(ed.deg, 0) AS deg
           |  FROM s$i s LEFT JOIN (SELECT v, count(*) AS deg FROM (
           |      SELECT a AS v FROM e$i UNION ALL SELECT b AS v FROM e$i)
           |    GROUP BY 1) ed ON ed.v = s.v),
           |x$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg < $k),
           |s${i + 1} AS MATERIALIZED (SELECT v FROM s$i
           |  WHERE v NOT IN (SELECT v FROM x$i)),
           |e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
           |  WHERE e.a NOT IN (SELECT v FROM x$i)
           |    AND e.b NOT IN (SELECT v FROM x$i))""".stripMargin
      }.mkString(",\n")
      val peelUnion = (0 until r)
        .map(i => s"SELECT v, ${i + 1} AS peel_round FROM x$i")
        .mkString("\nUNION ALL ")
      s"""WITH knn AS MATERIALIZED ($knnGraphSql),
         |und AS MATERIALIZED (SELECT DISTINCT least(vec_id, neighbor) AS a,
         |    greatest(vec_id, neighbor) AS b FROM knn),
         |e0 AS MATERIALIZED (SELECT a, b FROM und),
         |s0 AS MATERIALIZED (SELECT DISTINCT v FROM (
         |    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)),
         |$roundCtes,
         |peel AS ($peelUnion),
         |fdeg AS MATERIALIZED (SELECT s.v, coalesce(ed.deg, 0) AS deg
         |  FROM s$r s LEFT JOIN (SELECT v, count(*) AS deg FROM (
         |      SELECT a AS v FROM e$r UNION ALL SELECT b AS v FROM e$r)
         |    GROUP BY 1) ed ON ed.v = s.v),
         |conv AS (SELECT coalesce(min(deg >= $k), true) AS converged FROM fdeg)
         |SELECT emb.vec_id,
         |  coalesce(fdeg.deg >= $k, false) AS in_core,
         |  CAST(coalesce(fdeg.deg, 0) AS BIGINT) AS core_deg,
         |  CAST(coalesce(peel.peel_round, 0) AS BIGINT) AS peel_round,
         |  conv.converged
         |FROM embeddings emb
         |LEFT JOIN fdeg ON fdeg.v = emb.vec_id
         |LEFT JOIN peel ON peel.v = emb.vec_id
         |CROSS JOIN conv
         |ORDER BY emb.vec_id""".stripMargin
    },
      asc("vec_id")),
    QuerySpec("text_readability", TextAnalysis.readability,
      s"""WITH b AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
         |      s -> length(trim(s)) > 0)) AS BIGINT) AS n_sentences,
         |    CAST(len($toks) AS BIGINT) AS n_words,
         |    CAST(len(list_filter($toks,
         |      t -> length(t) > ${TextAnalysis.LixLongLen})) AS BIGINT) AS n_long_words
         |  FROM documents)
         |SELECT doc_id, n_sentences, n_words, n_long_words,
         |  CASE WHEN n_sentences > 0 AND n_words > 0 THEN
         |    CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) +
         |      100.0 * (CAST(n_long_words AS DOUBLE) / CAST(n_words AS DOUBLE))
         |  END AS lix
         |FROM b ORDER BY doc_id""".stripMargin,
      asc("doc_id")),
    QuerySpec("vocab_coverage", TextAnalysis.vocabCoverage, {
      val ks = TextAnalysis.CoverageKs.mkString("[", ", ", "]")
      s"""WITH c AS (SELECT tok, count(*) AS n FROM
         |    (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1),
         |r AS (SELECT tok, n,
         |    CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rk,
         |    CAST(sum(n) OVER (ORDER BY n DESC, tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM c),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
         |f AS (SELECT CAST(k AS BIGINT) AS k, rk, cum
         |  FROM r, (SELECT unnest($ks) AS k) ks WHERE rk <= k)
         |SELECT k, max(rk) AS vocab_used, max(cum) AS covered_tokens,
         |  max(n_total) AS n_total,
         |  CAST(max(cum) AS DOUBLE) / CAST(max(n_total) AS DOUBLE) AS coverage
         |FROM f, t GROUP BY 1 ORDER BY k""".stripMargin
    },
      asc("k")),
    // undirected closure over the knn edge set; component sizes by a
    // second grouping over the labels
    QuerySpec("graph_components", GraphRank.knnComponentsShared,
      s"""$knnComponentsCtes
         |SELECT vec_id, component_id, component_size
         |FROM comp ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    // unrolled label-spreading rounds; per-round majority = highest
    // count then smallest label (window replay of the packed argmax)
    QuerySpec("graph_label_propagation", GraphRank.labelPropagation, {
      val rounds = (1 to GraphRank.LpRounds).map { r =>
        s"""r$r AS (SELECT c.vec_id, c.seeded, c.truelab,
           |  CASE WHEN c.seeded THEN c.truelab
           |       ELSE coalesce(m.maj, c.lab) END AS lab
           |  FROM r${r - 1} c LEFT JOIN (
           |    SELECT dst, lab AS maj FROM (
           |      SELECT e.dst, p.lab, count(*) AS c,
           |        row_number() OVER (PARTITION BY e.dst
           |          ORDER BY count(*) DESC, p.lab ASC) AS rn
           |      FROM r${r - 1} p JOIN e ON p.vec_id = e.src
           |      WHERE p.lab IS NOT NULL GROUP BY 1, 2)
           |    WHERE rn = 1) m ON m.dst = c.vec_id)""".stripMargin
      }
      s"""WITH knn AS ($knnGraphSql),
         |e AS (SELECT vec_id AS src, neighbor AS dst FROM knn),
         |nd AS (SELECT DISTINCT src AS vec_id FROM e),
         |r0 AS (SELECT nd.vec_id, nd.vec_id % ${GraphRank.LpSeedMod} = 0 AS seeded,
         |    CAST(emb.label AS BIGINT) AS truelab,
         |    CASE WHEN nd.vec_id % ${GraphRank.LpSeedMod} = 0
         |      THEN CAST(emb.label AS BIGINT) END AS lab
         |  FROM nd JOIN embeddings emb ON emb.vec_id = nd.vec_id),
         |${rounds.mkString(",\n")}
         |SELECT vec_id, seeded, lab AS label
         |FROM r${GraphRank.LpRounds} ORDER BY vec_id""".stripMargin
    },
      asc("vec_id")),
    // per-community Newman terms; emitting rows (not Sum q) avoids an
    // ordered cross-community float sum
    QuerySpec("graph_modularity", GraphRank.modularity,
      s"""$knnComponentsCtes,
         |elab AS (SELECT e.a, e.b, ca.component_id AS ca, cb.component_id AS cb
         |  FROM und e JOIN comp ca ON ca.vec_id = e.a
         |  JOIN comp cb ON cb.vec_id = e.b),
         |mm AS (SELECT count(*) AS m FROM und),
         |intra AS (SELECT ca AS community, count(*) AS intra_edges
         |  FROM elab WHERE ca = cb GROUP BY 1),
         |deg AS (SELECT community, count(*) AS deg_sum FROM (
         |    SELECT ca AS community FROM elab
         |    UNION ALL SELECT cb AS community FROM elab) GROUP BY 1),
         |csz AS (SELECT component_id AS community, count(*) AS n_nodes
         |  FROM comp GROUP BY 1)
         |SELECT csz.community, csz.n_nodes,
         |  coalesce(intra_edges, 0) AS intra_edges,
         |  coalesce(deg_sum, 0) AS deg_sum,
         |  CAST(coalesce(intra_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE) -
         |    (CAST(coalesce(deg_sum, 0) AS DOUBLE) /
         |      (CAST(2 AS DOUBLE) * CAST(m AS DOUBLE))) *
         |    (CAST(coalesce(deg_sum, 0) AS DOUBLE) /
         |      (CAST(2 AS DOUBLE) * CAST(m AS DOUBLE))) AS q_term
         |FROM csz LEFT JOIN intra ON intra.community = csz.community
         |LEFT JOIN deg ON deg.community = csz.community, mm
         |ORDER BY csz.community""".stripMargin,
      asc("community")),
    // cross-multiplied Newman r: exact hugeint terms, one division
    QuerySpec("graph_assortativity", GraphRank.assortativity,
      s"""WITH knn AS ($knnGraphSql),
         |undx AS (SELECT DISTINCT least(vec_id, neighbor) AS a,
         |    greatest(vec_id, neighbor) AS b FROM knn),
         |degx AS (SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM undx UNION ALL SELECT b AS v FROM undx)
         |  GROUP BY 1),
         |sm AS (SELECT count(*) AS m,
         |    CAST(sum(x.deg + y.deg) AS BIGINT) AS s1,
         |    CAST(sum(CAST(x.deg AS HUGEINT) * y.deg) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(x.deg AS HUGEINT) * x.deg +
         |      CAST(y.deg AS HUGEINT) * y.deg) AS HUGEINT) AS s2
         |  FROM undx JOIN degx x ON x.v = undx.a JOIN degx y ON y.v = undx.b)
         |SELECT m, s1, CAST(sxy AS BIGINT) AS sxy, CAST(s2 AS BIGINT) AS s2,
         |  CAST(4 * m * sxy - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) /
         |  CAST(2 * m * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
         |    AS assortativity
         |FROM sm""".stripMargin,
      asc("m")),
    // DCG/IDCG fold in rank order over the SHARED precomputed discount
    // literals (JVM Math.log vs DuckDB libm differ by an ulp on some
    // integer args — no query-time log on either side)
    QuerySpec("eval_ndcg", Similarity.evalNdcg,
      s"""WITH knn AS ($knnGraphSql),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
         |w AS (SELECT [${Similarity.ndcgWeightsSqlBody}] AS ws),
         |r AS (SELECT k.vec_id, k.rank,
         |    CASE WHEN ql.lbl = nl.lbl THEN 1 ELSE 0 END AS rel
         |  FROM knn k JOIN lab ql ON ql.vec_id = k.vec_id
         |  JOIN lab nl ON nl.vec_id = k.neighbor),
         |g AS (SELECT vec_id,
         |    list(struct_pack(rank := rank, rel := rel) ORDER BY rank) AS rs
         |  FROM r GROUP BY 1),
         |s AS (SELECT vec_id,
         |    CAST(list_sum(list_transform(rs, x -> x.rel)) AS BIGINT) AS n_rel,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(rs, x ->
         |      CAST(x.rel AS DOUBLE) * ws[CAST(x.rank AS INT)])),
         |      (a, b) -> a + b) AS dcg
         |  FROM g, w),
         |s2 AS (SELECT vec_id, n_rel, dcg,
         |    CASE WHEN n_rel > 0 THEN
         |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(1, n_rel + 1), i ->
         |          ws[CAST(i AS INT)])),
         |        (a, b) -> a + b) END AS idcg
         |  FROM s, w)
         |SELECT vec_id, n_rel, dcg, idcg,
         |  CASE WHEN n_rel > 0 THEN dcg / idcg END AS ndcg
         |FROM s2 ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    // unrolled greedy MMR rounds; penalty is a MAX over pairwise cos2
    // (no double summation), argmax replayed as a row_number window
    QuerySpec("sim_mmr_rerank", Similarity.mmrRerank, {
      val qz = quantize
      val rounds = (2 to Similarity.MmrM).map { r =>
        s"""sc$r AS (SELECT c.qid, c.cid,
           |    CAST(0.5 AS DOUBLE) * c.rel2 -
           |      CAST(0.5 AS DOUBLE) * max(coalesce(p.sim2, CAST(0 AS DOUBLE))) AS score
           |  FROM cands c JOIN sel${r - 1} s ON s.qid = c.qid
           |  LEFT JOIN pairs p ON p.qid = c.qid
           |    AND p.ca = least(c.cid, s.cid) AND p.cb = greatest(c.cid, s.cid)
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s2
           |    WHERE s2.qid = c.qid AND s2.cid = c.cid)
           |  GROUP BY c.qid, c.cid, c.rel2),
           |pk$r AS (SELECT qid, cid, score, CAST($r AS BIGINT) AS pos FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY score DESC, cid) AS rn FROM sc$r) WHERE rn = 1),
           |sel$r AS (SELECT qid, cid, score, pos FROM sel${r - 1}
           |  UNION ALL SELECT qid, cid, score, pos FROM pk$r)""".stripMargin
      }
      s"""WITH knn AS ($knnGraphSql),
         |cands AS (SELECT vec_id AS qid, neighbor AS cid, cos2 AS rel2 FROM knn),
         |qv AS (SELECT vec_id, $qz AS q FROM embeddings),
         |pairs AS (SELECT t.qid, t.ca, t.cb,
         |    CASE WHEN t.dot > 0 THEN
         |      (CAST(t.dot AS DOUBLE) * CAST(t.dot AS DOUBLE)) /
         |      (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))
         |    ELSE CAST(0 AS DOUBLE) END AS sim2
         |  FROM (SELECT a.qid, a.cid AS ca, b.cid AS cb,
         |      ${listDot("x.q", "y.q")} AS dot,
         |      ${listNorm("x.q")} AS na, ${listNorm("y.q")} AS nb
         |    FROM cands a JOIN cands b ON a.qid = b.qid AND a.cid < b.cid
         |    JOIN qv x ON x.vec_id = a.cid JOIN qv y ON y.vec_id = b.cid) t),
         |sel1 AS (SELECT qid, cid, rel2 AS score, CAST(1 AS BIGINT) AS pos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel2 DESC, cid) AS rn FROM cands) WHERE rn = 1),
         |${rounds.mkString(",\n")}
         |SELECT qid, cid, score, pos FROM sel${Similarity.MmrM}
         |ORDER BY qid, pos""".stripMargin
    },
      asc("qid", "pos")),
    // confusion cells + per-cell shares of the actual-label row and the
    // predicted-label column (recall / precision contributions); the
    // label domain is bounded so the matrix is dimension-sized
    QuerySpec("eval_calibration_bins", Similarity.calibrationBins,
      s"""WITH $knnClassifyCtes,
         |b AS (SELECT votes, count(*) AS n,
         |    CAST(sum(correct) AS BIGINT) AS n_correct
         |  FROM pred GROUP BY 1)
         |SELECT votes, n, n_correct,
         |  CAST(votes AS DOUBLE) / ${Similarity.KnnK}.0 AS confidence,
         |  CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
         |  CAST(votes AS DOUBLE) / ${Similarity.KnnK}.0 -
         |    CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS gap
         |FROM b ORDER BY votes""".stripMargin,
      asc("votes")),
    // per-dim stats from the exploded view; the whitening expression
    // mirrors the engine's double-op order (mul, mul, sqrt, div, floor)
    QuerySpec("embed_whiten_diag", Similarity.whitenDiag,
      s"""WITH qz AS (SELECT vec_id, $quantize AS q FROM embeddings),
         |e AS (SELECT vec_id, unnest(q) AS v,
         |    generate_subscripts(q, 1) AS i FROM qz),
         |st AS (SELECT i, CAST(sum(v) AS BIGINT) AS s,
         |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
         |  FROM e GROUP BY 1),
         |t AS (SELECT count(*) AS n FROM qz),
         |w AS (SELECT e.vec_id, e.i,
         |    CASE WHEN CAST(t.n AS HUGEINT) * st.ss -
         |        CAST(st.s AS HUGEINT) * st.s = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(floor(CAST(e.v AS DOUBLE) * 1000.0 * CAST(t.n AS DOUBLE) /
         |        sqrt(CAST(CAST(t.n AS HUGEINT) * st.ss -
         |          CAST(st.s AS HUGEINT) * st.s AS DOUBLE))) AS BIGINT) END AS w
         |  FROM e JOIN st USING (i), t)
         |SELECT vec_id,
         |  CAST(sum(w * i) AS BIGINT) AS checksum,
         |  CAST(min(w) AS BIGINT) AS w_min, CAST(max(w) AS BIGINT) AS w_max
         |FROM w GROUP BY 1 ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    // sqrt-of-size quota per component, members ranked by salted-hash
    // priority (the window replay of the engine's same rank)
    QuerySpec("sample_cluster_balanced", Sampling.clusterBalancedSample,
      s"""$knnComponentsCtes,
         |pri AS (SELECT vec_id, component_id, component_size,
         |    ${Hashing.sqlMd5Prefix60("'cb:' || CAST(vec_id AS VARCHAR)")} AS pri
         |  FROM comp),
         |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY component_id
         |    ORDER BY pri, vec_id) AS BIGINT) AS rk FROM pri),
         |q0 AS (SELECT *, CAST(floor(sqrt(CAST(component_size AS DOUBLE))) AS BIGINT) AS s0
         |  FROM rk),
         |q1 AS (SELECT *, CASE WHEN (s0 + 1) * (s0 + 1) <= component_size
         |    THEN s0 + 1 ELSE s0 END AS s1 FROM q0),
         |q AS (SELECT *, greatest(CAST(1 AS BIGINT),
         |    CASE WHEN s1 * s1 > component_size THEN s1 - 1 ELSE s1 END) AS quota
         |  FROM q1)
         |SELECT vec_id, component_id, component_size, quota, rk
         |FROM q WHERE rk <= quota ORDER BY vec_id""".stripMargin,
      asc("vec_id")),
    // survivor sets attach as single-reference left-join flags; the
    // expensive loser chain is evaluated once
    QuerySpec("pipeline_dedup_funnel", CorpusPipeline.dedupFunnel,
      s"""$cleanCorpusCtes,
         |flags AS (SELECT d.doc_id,
         |    CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fq,
         |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fe,
         |    CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fl
         |  FROM documents d
         |  LEFT JOIN quality q ON q.doc_id = d.doc_id
         |  LEFT JOIN exact_keep e ON e.doc_id = d.doc_id
         |  LEFT JOIN losers l ON l.doc_id = d.doc_id),
         |a AS (SELECT count(*) AS n_raw,
         |    CAST(sum(fq) AS BIGINT) AS n_q,
         |    CAST(sum(fq * fe) AS BIGINT) AS n_qe,
         |    CAST(sum(fq * fe * (1 - fl)) AS BIGINT) AS n_clean
         |  FROM flags)
         |SELECT CAST(s.stage AS BIGINT) AS stage, s.stage_name,
         |  CASE s.stage WHEN 1 THEN n_raw WHEN 2 THEN n_q
         |    WHEN 3 THEN n_qe ELSE n_clean END AS n_docs,
         |  CASE s.stage WHEN 1 THEN CAST(0 AS BIGINT) WHEN 2 THEN n_raw - n_q
         |    WHEN 3 THEN n_q - n_qe ELSE n_qe - n_clean END AS dropped
         |FROM a, (VALUES (1, 'raw'), (2, 'quality'), (3, 'exact_dedup'),
         |  (4, 'near_dup')) AS s(stage, stage_name)
         |ORDER BY stage""".stripMargin,
      asc("stage")))
}
