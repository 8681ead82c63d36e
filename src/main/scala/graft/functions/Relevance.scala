package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.Tables._

/** Relevance scoring over the corpus — the retrieval side of a training-
  * data pipeline (query-focused corpus slicing, nearest-neighbor text
  * search by lexical score, per-doc salient-term extraction).
  *
  * Exactness convention (see QuerySpec scaladoc): no transcendentals
  * — the classic `ln(N/df)` idf is replaced by the raw ratio `N/df`
  * (same ordering, exact BIGINT/BIGINT double division in both engines),
  * and every float expression is written with IDENTICAL literal
  * parenthesization here and in the DuckDB twin, so IEEE gives
  * bit-identical doubles and the driver's hash compare stays exact.
  *
  * Scale shape: document-frequency is one token-keyed aggregation
  * (bounded by vocabulary, not corpus); the per-doc side stays narrow.
  * BM25 seeds a constant query-term list, so its tf counts are computed
  * INSIDE the scan (size(filter(tokens))) — zero shuffle for the score
  * pass; the corpus-level constants (N, Σdl, per-term df) are one tiny
  * aggregate broadcast back. Nothing corpus-sized ever broadcasts.
  */
object Relevance {

  /** Seeded query terms (drawn from the corpus vocabulary), kept sorted
    * so the score sum has one canonical association order.
    */
  val QueryTerms: Seq[String] = Seq("fast", "hash", "sort", "spark")

  val K1 = 1.2
  val B = 0.75

  /** Per-doc top salient terms by linear tf-idf weight
    * `tf * N / df` (rank ≤ 3, ties broken by term). One shuffle for df
    * (token-keyed, vocabulary-sized), one for the per-doc rank window
    * (doc-keyed, per-group size = doc vocabulary — bounded by doc
    * length, no skew blowup).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens($"text")
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy($"term")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id")
      .orderBy($"weight".desc, $"term")
    val nDocs = documents(spark, dir).select(count(lit(1)).as("n_docs"))
    documents(spark, dir)
      .select($"doc_id", explode(toks).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
      // df as a window count over the (doc, term) rows: one scan, no
      // self-join — the term partition is vocabulary-keyed, bounded by
      // the most common term's document frequency
      .withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      // (tf * N) / df with this exact association — mirrored in SQL
      .withColumn("weight",
        ($"tf".cast("double") * $"n_docs".cast("double")) / $"df".cast("double"))
      .withColumn("rn", row_number().over(wDoc))
      .filter($"rn" <= 3)
      .select($"doc_id", $"term", $"tf", $"df", $"weight",
        $"rn".cast("bigint").as("rn"))
  }

  /** DuckDB twin of [[tfidfTopTerms]]. */
  def sqlTfidfTopTerms: String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH dt AS (SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS term FROM documents) t
       |  GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |ranked AS (SELECT doc_id, term, tf, df,
       |    (CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(df AS DOUBLE) AS weight,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY (CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(df AS DOUBLE) DESC,
       |        term) AS rn
       |  FROM dt JOIN df USING (term), n)
       |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       |  weight, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin
  }

  /** BM25 top-50 for the seeded query. tf per term is computed inside
    * the scan (`size(filter(tokens, = term))` — narrow); N, Σdl and the
    * per-term dfs come from ONE corpus aggregate, broadcast back; the
    * score is an explicit left-associated sum over [[QueryTerms]], so
    * the float result is bit-identical across engines.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens($"text")
    val baseCols = $"doc_id" +: size(toks).cast("bigint").as("dl") +:
      QueryTerms.map(t =>
        size(filter(toks, x => x === lit(t))).cast("bigint").as(s"tf_$t"))
    val base = documents(spark, dir).select(baseCols: _*)
    val aggCols = Seq(
      count(lit(1)).as("n_docs"),
      sum($"dl").as("total_dl")) ++
      QueryTerms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L))
        .as(s"df_$t"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    def termScore(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val dfT = col(s"df_$t").cast("double")
      val avgdl = $"total_dl".cast("double") / $"n_docs".cast("double")
      // idf-ratio * saturated-tf, association mirrored in sqlBm25Search
      // (k1+1 folds to the same double the SQL's runtime 1.2+1.0 yields)
      when(col(s"df_$t") > 0,
        ($"n_docs".cast("double") / dfT) *
          ((tf * lit(K1 + 1.0)) /
            (tf + lit(K1) * (lit(1.0 - B) + lit(B) * ($"dl".cast("double") / avgdl)))))
        .otherwise(lit(0.0))
    }
    val score = QueryTerms.map(termScore).reduceLeft(_ + _)
    base.crossJoin(broadcast(stats))
      .select($"doc_id", $"dl", score.as("score"))
      .filter($"score" > 0.0)
      .orderBy($"score".desc, $"doc_id")
      .limit(50)
  }

  /** DuckDB twin of [[bm25Search]] — identical literal parenthesization
    * and the same left-associated term-sum order.
    */
  def sqlBm25Search: String = {
    val toks = TextAnalysis.sqlTokens("text")
    val tfCols = QueryTerms.map(t =>
      s"CAST(len(list_filter($toks, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n  ")
    val dfCols = QueryTerms.map(t =>
      s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
    def termScore(t: String): String =
      s"""CASE WHEN df_$t > 0 THEN
         |    (CAST(n_docs AS DOUBLE) / CAST(df_$t AS DOUBLE)) *
         |      ((CAST(tf_$t AS DOUBLE) * ($K1 + 1.0)) /
         |        (CAST(tf_$t AS DOUBLE) + $K1 * ((1.0 - $B) + $B *
         |          (CAST(dl AS DOUBLE) /
         |            (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
         |  ELSE 0.0 END""".stripMargin
    val score = QueryTerms.map(termScore)
      .reduceLeft((a, b) => s"($a) + ($b)")
    s"""WITH base AS (SELECT doc_id,
       |  CAST(len($toks) AS BIGINT) AS dl,
       |  $tfCols
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl,
       |  $dfCols FROM base)
       |SELECT doc_id, dl, score FROM (
       |  SELECT doc_id, dl, $score AS score FROM base, stats)
       |WHERE score > 0.0
       |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin
  }

  /** Postings kept per term by [[invertedIndex]]. */
  val PostingsK = 10

  /** `ir_inverted_index`: the materialized index artifact behind
    * [[bm25Search]] — per term, document frequency, collection
    * frequency, and the top-[[PostingsK]] posting list ranked by
    * (tf DESC, doc_id ASC). This is the thing a search/retrieval
    * serving layer actually stores; tf-idf/BM25 read their statistics
    * straight off it instead of rescanning the corpus.
    *
    * Output is LONG FORM — one row per (term, posting rank) with scalar
    * columns only: `(term, df, cf, rnk, doc_id, tf)`. The serving
    * artifact's array shape is a trivial re-group of this; scalar rows
    * keep the dump sortable by the driver's whole-row compare (array
    * cells are not, which kept this query red in r7).
    *
    * Scale shape: one corpus pass to (term, doc) tf counts (partial
    * agg), one vocabulary-keyed aggregation where `top_k_ids` bounded
    * heaps cap each term's postings at [[PostingsK]] DURING partial
    * aggregation — a hot term ships k rows per partition, never its
    * full document list; df/cf fold in the same aggregate. No ranking
    * window (which would sort every posting inside each partition);
    * the final posexplode is over k-bounded arrays.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val tf = documents(spark, dir)
      .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"),
        expr(s"top_k_ids(doc_id, CAST(tf AS DOUBLE), $PostingsK)").as("p"))
      .select($"term", $"df", $"cf", posexplode($"p"))
      .select($"term", $"df", $"cf",
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("doc_id"),
        col("col.score").cast("long").as("tf"))
  }

  /** DuckDB twin of [[invertedIndex]]: ranking window replay of the
    * bounded heap (same (tf DESC, doc_id) order), emitted long-form.
    */
  def sqlInvertedIndex: String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY term
       |    ORDER BY tf DESC, doc_id) AS rn FROM tf),
       |stats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
       |  FROM tf GROUP BY 1)
       |SELECT s.term, s.df, s.cf, CAST(r.rn AS BIGINT) AS rnk,
       |  r.doc_id, CAST(r.tf AS BIGINT) AS tf
       |FROM stats s JOIN r ON s.term = r.term
       |WHERE r.rn <= $PostingsK
       |ORDER BY s.term, rnk""".stripMargin
  }

  /** Tokens reported by [[tokenLangChi2]]. */
  val Chi2TopN = 50

  /** `text_token_lang_chi2`: the [[Chi2TopN]] most language-discriminative
    * tokens by the χ² statistic of the token-presence × language
    * contingency table — the classic feature-selection ranking a
    * language-ID or domain-classifier pipeline derives its feature list
    * from (the trained counterpart of [[TextAnalysis]]'s fixed marker
    * lists).
    *
    * χ² over the full language domain folds as
    * Σ_obs[(o·N − df·n_l)²/(N·df·n_l) − df·n_l/N] + df — the zero-
    * observation cells' Σe telescopes to df − Σ_obs e, so only observed
    * cells are materialized. Every difference/product inside the fold
    * is an exact BIGINT (headroom: o·N ≤ N², safe past 10^9 docs under
    * ANSI); the per-cell term is a double with ONE fixed
    * parenthesization, and the fold runs over the per-token cell array
    * SORTED BY LANGUAGE, so the float sum has one canonical
    * association order in both engines — the same shared-literal
    * stance as [[bm25Search]], extended to a data-dependent (but
    * bounded and sorted) term list.
    *
    * Scale shape: one corpus pass to distinct (doc, lang, token), one
    * vocabulary-sized token-keyed aggregation folding each token's
    * ≤|languages| cells, language totals as a broadcast; the final
    * ranking is a top-[[Chi2TopN]] heap (TakeOrderedAndProject), never
    * a global sort.
    */
  def tokenLangChi2(spark: SparkSession, dir: String): DataFrame = {
    val dt = documents(spark, dir)
      .select($"doc_id", $"lang", explode(TextAnalysis.tokens($"text")).as("tok"))
      .distinct()
    val obs = dt.groupBy($"tok", $"lang").agg(count(lit(1)).as("o"))
    val langN = documents(spark, dir).groupBy($"lang")
      .agg(count(lit(1)).as("nl"))
    val totals = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    obs.join(broadcast(langN), "lang")
      .groupBy($"tok")
      .agg(sort_array(collect_list(struct($"lang", $"o", $"nl"))).as("cs"),
        sum($"o").as("df"))
      .join(broadcast(totals))
      .select($"tok", $"df",
        (expr(
          """aggregate(cs, CAST(0 AS DOUBLE), (acc, c) -> acc + (
            |  (CAST(c.o * n_docs - df * c.nl AS DOUBLE) *
            |   CAST(c.o * n_docs - df * c.nl AS DOUBLE)) /
            |    ((CAST(n_docs AS DOUBLE) * CAST(df AS DOUBLE)) *
            |      CAST(c.nl AS DOUBLE)) -
            |  CAST(df * c.nl AS DOUBLE) / CAST(n_docs AS DOUBLE)))"""
            .stripMargin) + $"df".cast("double")).as("chi2"))
      .orderBy($"chi2".desc, $"tok")
      .limit(Chi2TopN)
  }

  /** DuckDB twin of [[tokenLangChi2]]: same sorted-cell fold, same
    * literal parenthesization (list_reduce's left fold ≡ `aggregate`'s).
    */
  def sqlTokenLangChi2: String = {
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH tok AS (SELECT DISTINCT doc_id, lang, tok FROM
       |    (SELECT doc_id, lang, unnest($toks) AS tok FROM documents)),
       |obs AS (SELECT tok, lang, count(*) AS o FROM tok GROUP BY 1, 2),
       |ln AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
       |t AS (SELECT count(*) AS n_docs FROM documents),
       |bytok AS (SELECT tok, CAST(sum(o) AS BIGINT) AS df,
       |    list(struct_pack(lang := obs.lang, o := o, nl := nl)
       |      ORDER BY obs.lang) AS cs
       |  FROM obs JOIN ln ON obs.lang = ln.lang GROUP BY 1)
       |SELECT tok, df,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(cs, c ->
       |      (CAST(c.o * n_docs - df * c.nl AS DOUBLE) *
       |       CAST(c.o * n_docs - df * c.nl AS DOUBLE)) /
       |        ((CAST(n_docs AS DOUBLE) * CAST(df AS DOUBLE)) *
       |          CAST(c.nl AS DOUBLE)) -
       |      CAST(df * c.nl AS DOUBLE) / CAST(n_docs AS DOUBLE))),
       |    (a, b) -> a + b) + CAST(df AS DOUBLE) AS chi2
       |FROM bytok, t
       |ORDER BY chi2 DESC, tok LIMIT $Chi2TopN""".stripMargin
  }

  /** Result size of [[rakeKeyphrases]]. */
  val RakeTopN = 50

  /** `text_keyphrase_rake`: corpus-level RAKE keyphrase extraction
    * (Rose et al. 2010) — candidate phrases are the maximal stopword-
    * free token runs, each word scores degree/frequency (degree = sum
    * of lengths of phrases containing it, frequency = occurrences),
    * and a phrase scores the sum of its words' scores. The classic
    * unsupervised keyphrase surface next to [[tfidfTopTerms]]'s
    * single-token ranking — RAKE is what surfaces "large language
    * model" where tf-idf sees three unrelated tokens.
    *
    * Determinism: word scores are TRUNCATING integer ppm quotients
    * (deg·10⁶ div freq), so the per-phrase sum is an exact long —
    * never an order-unspecified double sum — and the final ordering
    * ties deterministically on the phrase text.
    *
    * Scale shape: phrase assembly is a ZERO-SHUFFLE per-document
    * array fold (the [[graft.functions.TextAnalysis]] tile-dedup
    * stance); the corpus then shuffles once onto the distinct-phrase
    * key, once onto the word key (stats + score join share that
    * exchange), and the result is a `TakeOrderedAndProject` top-N.
    * The oracle derives the same phrases independently via a
    * windowed group-and-concat.
    */
  def rakeKeyphrases(spark: SparkSession, dir: String): DataFrame = {
    // phrase assembly is the codegen'd rake_phrases kernel
    // ([[org.apache.spark.sql.graftexpr.TokenKernel.rakePhrases]]) —
    // it replaced an interpreted per-document `aggregate` fold (CASE +
    // two array concats of lambda dispatch per TOKEN, per corpus row;
    // kernel wave 3). TokenExprSpec pins kernel ≡ fold on the real
    // corpus and the stopword/null edge shapes.
    val ph = documents(spark, dir)
      .select(explode(graft.plans.ArrayOps.rakePhrases(
        TextAnalysis.tokens($"text"), TextAnalysis.stopwords)).as("phrase"))
    // materialize the distinct-phrase table: the word-stats branch and
    // the scoring branch both consume it — lazily each re-ran the
    // corpus phrase fold (two full scans on .explain)
    val pd = ph.groupBy($"phrase").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val pw = pd.select($"phrase", $"n",
        explode(split($"phrase", " ")).as("word"),
        size(split($"phrase", " ")).cast("long").as("l"))
    val ws = pw.groupBy($"word")
      .agg(sum($"n").as("freq"), sum($"n" * $"l").as("deg"))
      .select($"word", expr("(deg * 1000000L) div freq").as("w_score"))
    pw.join(ws.hint("shuffle_hash"), Seq("word"))
      .groupBy($"phrase")
      .agg(min($"n").as("n_occurrences"), sum($"w_score").as("score_ppm"))
      .orderBy($"score_ppm".desc, $"phrase".asc)
      .limit(RakeTopN)
      .select($"phrase", $"n_occurrences", $"score_ppm")
  }

  /** Feedback depth / output size for [[queryExpansion]]. */
  val PrfDocs = 10
  val PrfTerms = 20

  /** `ir_query_expansion`: pseudo-relevance-feedback expansion — run
    * the seeded BM25 query, assume its top-[[PrfDocs]] results are
    * relevant, and surface the [[PrfTerms]] terms that are common in
    * that feedback set but rare in the corpus (score =
    * `df_fb · N div df`, an integer RSV: feedback support × inverse
    * corpus frequency, truncating — no float in the ranking). The
    * retrieval loop-closer: these are the terms a second-round query
    * adds ("spark" pulls in "shuffle", "partition", …).
    *
    * Scale shape: the feedback doc-id set is [[PrfDocs]] rows
    * (broadcast); corpus document frequencies are ONE vocabulary-
    * bounded aggregate; feedback term stats aggregate 10 documents.
    * Result is a TakeOrderedAndProject top-[[PrfTerms]].
    */
  def queryExpansion(spark: SparkSession, dir: String): DataFrame = {
    val fb = bm25Search(spark, dir).limit(PrfDocs).select($"doc_id")
    val docTok = documents(spark, dir)
      .select($"doc_id", explode(array_distinct(TextAnalysis.tokens($"text"))).as("term"))
    val corpusDf = docTok.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val fbDf = docTok.join(broadcast(fb), "doc_id")
      .groupBy($"term").agg(count(lit(1)).as("df_fb"))
      .filter(!$"term".isin(QueryTerms: _*))
    fbDf.join(corpusDf.hint("shuffle_hash"), "term")
      .join(broadcast(nDocs))
      .select($"term", $"df_fb", $"df",
        expr("(df_fb * n_docs) div df").as("score"))
      .orderBy($"score".desc, $"term".asc)
      .limit(PrfTerms)
  }

  /** Query phrase for [[phraseSearch]] (two adjacent corpus-vocabulary
    * tokens; "table hash" occurs across SFs in the driver fixtures).
    */
  val Phrase: (String, String) = ("table", "hash")

  /** Result cap for [[phraseSearch]]. */
  val PhraseK = 50

  /** `ir_phrase_search`: positional phrase matching — the retrieval
    * operation an inverted index alone cannot answer (it knows WHICH
    * docs contain both terms, not whether they are ADJACENT). Reports
    * the top-[[PhraseK]] documents by exact phrase occurrence count,
    * with the 1-based token position of the first occurrence.
    *
    * Design choice vs the classic positional-postings join: positions
    * are evaluated INSIDE the scan as a per-row codegen kernel — the
    * token array zipped against its own tail gives the adjacency mask,
    * and count/first-position fold from that mask — so the operator is
    * ZERO-shuffle up to the final top-k. A positional-index self-join
    * (postings(term1) ⋈ postings(term2) ON pos+1) shuffles two
    * corpus-sized posting streams to answer the same question; the
    * scan-side kernel reads each document once where it already lives.
    * At 100 TB this is the difference between a narrow map stage and
    * two exchanges.
    *
    * Scale shape: narrow scan → mask fold → filter(count>0) →
    * TakeOrderedAndProject (top-k, never a global sort of the corpus).
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val (w1, w2) = Phrase
    // adjacency mask fused into the phrase_hits kernel (kernel wave 3:
    // the zip_with(t, slice(t, 2, n-1), ...) + filter tower allocated
    // two arrays of interpreted lambda dispatch per document);
    // IrExprSpec pins kernel ≡ mask on the real corpus + edges
    documents(spark, dir)
      .select($"doc_id",
        graft.plans.ArrayOps.phraseHits(
          TextAnalysis.tokens($"text"), w1, w2).as("h"))
      .select($"doc_id",
        $"h.phrase_count".as("phrase_count"),
        $"h.first_pos".as("first_pos"),
        $"h.n_tokens".as("n_tokens"))
      .filter($"phrase_count" > 0L)
      .orderBy($"phrase_count".desc, $"doc_id")
      .limit(PhraseK)
  }

  /** DuckDB twin of [[phraseSearch]] — same zip-against-tail mask
    * (list_zip pads with NULL exactly like zip_with) and the same
    * 1-based first-occurrence position.
    */
  def sqlPhraseSearch: String = {
    val (w1, w2) = Phrase
    val toks = TextAnalysis.sqlTokens("text")
    s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
       |m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |    list_transform(list_zip(t, t[2:]),
       |      p -> p[1] = '$w1' AND p[2] = '$w2') AS mask
       |  FROM base),
       |c AS (SELECT doc_id,
       |    CAST(len(list_filter(mask, x -> x)) AS BIGINT) AS phrase_count,
       |    CAST(coalesce(list_position(mask, true), 0) AS BIGINT) AS first_pos,
       |    n_tokens
       |  FROM m)
       |SELECT doc_id, phrase_count, first_pos, n_tokens
       |FROM c WHERE phrase_count > 0
       |ORDER BY phrase_count DESC, doc_id LIMIT $PhraseK""".stripMargin
  }

  /** Token-distance window for [[proximitySearch]]. */
  val ProxWindow = 5

  /** `ir_proximity_search`: proximity retrieval — documents where the
    * two [[Phrase]] terms occur within [[ProxWindow]] tokens of each
    * other, ranked by the number of near pairs then closest distance.
    * Generalizes [[phraseSearch]] (adjacency = distance 1): the
    * "terms NEAR each other" operator of classic IR.
    *
    * Same zero-shuffle stance as the phrase kernel: each term's
    * position list is extracted inside the scan (1-based, matching the
    * SQL twin's lambda index), and the pair fold runs over those two
    * SMALL lists (bounded by per-doc term frequency, not doc length).
    * Narrow scan → filter(both present) → TakeOrderedAndProject.
    */
  def proximitySearch(spark: SparkSession, dir: String): DataFrame = {
    val (t1, t2) = Phrase
    // position extraction + pair fold fused into the prox_stats kernel
    // (kernel wave 3: the nested transform/filter/aggregate tower ran
    // interpreted per document); field contract identical — min_dist
    // NULL unless both terms occur, near_pairs 0 then — and the pair
    // loop stays O(tf₁·tf₂), bounded by per-doc term frequency.
    // IrExprSpec pins kernel ≡ tower on the real corpus + edges
    documents(spark, dir)
      .select($"doc_id",
        graft.plans.ArrayOps.proxStats(
          TextAnalysis.tokens($"text"), t1, t2, ProxWindow).as("h"))
      .select($"doc_id", $"h.n_a".as("n_a"), $"h.n_b".as("n_b"),
        $"h.min_dist".as("min_dist"), $"h.near_pairs".as("near_pairs"))
      .filter($"n_a" > 0L && $"n_b" > 0L && $"near_pairs" > 0L)
      .orderBy($"near_pairs".desc, $"min_dist".asc, $"doc_id")
      .limit(PhraseK)
  }

  /** DuckDB twin of [[proximitySearch]] — 1-based index lambdas mirror
    * the Spark kernel's `i + 1`.
    */
  def sqlProximitySearch: String = {
    val (t1, t2) = Phrase
    val toks = TextAnalysis.sqlTokens("text")
    def pos(term: String) =
      s"""list_filter(list_transform(t,
         |      (x, i) -> CASE WHEN x = '$term' THEN i ELSE -1 END),
         |      p -> p >= 0)""".stripMargin
    s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
       |p AS (SELECT doc_id,
       |    ${pos(t1)} AS pa,
       |    ${pos(t2)} AS pb
       |  FROM base),
       |c AS (SELECT doc_id,
       |    CAST(len(pa) AS BIGINT) AS n_a, CAST(len(pb) AS BIGINT) AS n_b,
       |    CAST(list_min(list_transform(pa,
       |      i -> list_min(list_transform(pb, j -> abs(i - j))))) AS BIGINT)
       |      AS min_dist,
       |    CAST(list_sum(list_transform(pa,
       |      i -> len(list_filter(pb, j -> abs(i - j) <= $ProxWindow)))) AS BIGINT)
       |      AS near_pairs
       |  FROM p WHERE len(pa) > 0 AND len(pb) > 0)
       |SELECT doc_id, n_a, n_b, min_dist, near_pairs
       |FROM c WHERE near_pairs > 0
       |ORDER BY near_pairs DESC, min_dist, doc_id LIMIT $PhraseK""".stripMargin
  }
}
