package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.Tables._

/** Distributed BPE merge-training — the tokenizer-construction half of a
  * training-data pipeline (tokens_to_ids consumes a vocabulary; this op
  * LEARNS the subword merges that define one).
  *
  * Algorithm (classic byte-pair encoding over the word-frequency table):
  * start from characters, repeatedly (1) count adjacent symbol pairs
  * weighted by word frequency, (2) take the most frequent pair
  * (ties → lexicographically smallest), (3) merge its occurrences
  * left-to-right non-overlapping in every word. The learned artifact is
  * the ordered merge list.
  *
  * Scale shape: training runs over the WORD-FREQUENCY table (vocabulary-
  * sized — the corpus collapses to one row per distinct token in one
  * initial shuffle), never the raw corpus; each round is one
  * explode+groupBy over that bounded table. The round's argmax is a
  * single-row `limit(1).collect()` — a global sequential decision
  * inherent to BPE (merge k+1 depends on merge k), shipping ~40 bytes
  * per round to the driver, NOT a driver-side data loop. Lineage is
  * flattened per round with a lazy localCheckpoint ([[Fixpoint]] says
  * why round state is materialized, and why this loop retires its own).
  *
  * Symbol encoding makes literal string replace EXACTLY the BPE merge
  * step, on both engines: each symbol is wrapped in angle brackets and
  * space-joined (`"ab" → "<a> <b>"`; `<`/`>` are reserved — the token
  * alphabet is [a-z0-9]). A pair pattern `"<a> <b>"` can then only match
  * complete adjacent symbols (a mid-symbol match would need `<` inside a
  * symbol), and because the pattern contains NO outer separators,
  * consecutive occurrences share no characters — so engine-native
  * replace-all (left-to-right, non-overlapping, resuming after each
  * replacement: identical semantics in Java and DuckDB) IS the BPE merge.
  * The DuckDB oracle replays training as [[sqlBpeTrain]]'s unrolled CTE
  * stages from the same constants and must produce the identical merge
  * table — pair choices, tie-breaks, and counts all value-checked.
  */
object BpeTrain {

  val DefaultMerges = 6

  /** `"word" → "<w> <o> <r> <d>"` (Spark side). */
  private def encodeSyms(word: org.apache.spark.sql.Column) =
    array_join(
      transform(regexp_extract_all(word, lit("."), lit(0)),
        c => concat(lit("<"), c, lit(">"))),
      " ")

  /** Adjacent pair strings of the symbols column (empty for 1-symbol
    * words — `sequence(1, 0)` would be a DESCENDING range, so the guard
    * is explicit).
    */
  private val pairsExpr = expr(
    """CASE WHEN size(split(syms, ' ')) < 2 THEN array()
      |ELSE transform(sequence(1, size(split(syms, ' ')) - 1),
      |  i -> concat(element_at(split(syms, ' '), i), ' ',
      |              element_at(split(syms, ' '), i + 1)))
      |END""".stripMargin)

  /** The shared K-round loop: returns the learned merge table AND the
    * word-vocab frame in its final (fully-merged) state — training and
    * encoding are the same computation read from opposite ends. The
    * final frame is a lazy checkpoint that still reads the frame it was
    * derived from (returned third): a caller that drops the final frame
    * retires both.
    */
  private def trainLoop(spark: SparkSession, dir: String, merges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame, Option[DataFrame]) = {
    val init = documents(spark, dir)
      .select(explode(TextAnalysis.tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .select($"word", encodeSyms($"word").as("syms"), $"freq")
    // LAZY checkpoints (r17, VERDICT r16 item 7): the eager form ran a
    // dedicated materialization job per round on top of the argmax's
    // own job — at local scale the loop's wall is rounds × job latency,
    // so that doubled it. eager=false folds the persist into the NEXT
    // round's argmax job (the first action over the frame), halving the
    // per-round job count; lineage is still severed once per round and
    // each replace still executes exactly once, so the merge sequence
    // and all values are unchanged at any scale.
    //
    // A lazy `localCheckpoint` still persists its RDD on creation, and a
    // frame's blocks are only dead once the frame derived from it has
    // materialized — one round later than on the eager [[Fixpoint]]
    // loop. So each round retires the frame two back: the argmax job
    // has just materialized `words`, and nothing reads its parent any
    // more.
    var words = init.localCheckpoint(false)
    var parent = Option.empty[DataFrame] // the frame `words` derives from
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var k = 0
    while (k < merges) {
      val best = words
        .select(explode(pairsExpr).as("pair"), $"freq")
        .groupBy($"pair").agg(sum($"freq").as("pf"))
        .orderBy($"pf".desc, $"pair".asc)
        .limit(1).collect()
      parent.foreach(Materialize.retireCheckpoint)
      require(best.nonEmpty,
        s"bpe_train: corpus exhausted after ${k} merges (asked for $merges)")
      val pair = best(0).getString(0)
      val pf = best(0).getLong(1)
      val merged = pair.replace("> <", "")
      learned += ((k + 1L, pair, merged, pf))
      parent = Some(words)
      words = words
        .withColumn("syms", expr(s"replace(syms, '$pair', '$merged')"))
        .localCheckpoint(false)
      k += 1
    }
    (learned.toSeq, words, parent)
  }

  def bpeTrain(spark: SparkSession, dir: String,
      merges: Int = DefaultMerges): DataFrame = {
    // graft's own $-interpolator is in scope; mask the SQLImplicits one
    import spark.implicits.{StringToColumn => _, _}
    val (learned, words, parent) = trainLoop(spark, dir, merges)
    (words +: parent.toSeq).foreach(Materialize.retireCheckpoint)
    learned.toDF("merge_rank", "pair", "merged", "pair_freq")
  }

  /** Encode the word vocabulary with the learned merges: per distinct
    * word, its subword pieces after all K rounds (the artifact a
    * tokenizer ships). Vocabulary-sized output; applying it to a corpus
    * is then a broadcast join on `word` — the corpus never re-runs the
    * merge loop.
    */
  def bpeEncode(spark: SparkSession, dir: String,
      merges: Int = DefaultMerges): DataFrame = {
    val (_, words, _) = trainLoop(spark, dir, merges)
    words.select($"word",
      // decode the bracket encoding for display: "<th> <e>" → "th e"
      regexp_replace(regexp_replace($"syms", "> <", " "), "[<>]", "")
        .as("pieces"),
      size(split($"syms", " ")).cast("bigint").as("n_pieces"),
      $"freq")
  }

  /** Tokenize the corpus with the learned merges: every (doc, position)
    * token mapped to its subword pieces — the end of the train → encode →
    * apply chain. The encoded vocabulary (vocab-sized) BROADCASTS onto
    * the corpus token stream; the corpus side is one narrow
    * posexplode + hash join, no merge loop ever touches it. That split —
    * K sequential rounds over the tiny word-freq table, then one
    * broadcast application over the 100 TB stream — is the whole reason
    * training operates on the vocabulary, not the corpus.
    */
  def bpeApply(spark: SparkSession, dir: String,
      merges: Int = DefaultMerges): DataFrame = {
    val vocab = bpeEncode(spark, dir, merges)
      .select($"word", $"pieces", $"n_pieces")
    documents(spark, dir)
      .select($"doc_id", posexplode(TextAnalysis.tokens($"text")))
      .select($"doc_id", $"pos".cast("bigint").as("pos"), $"col".as("word"))
      .join(broadcast(vocab), Seq("word"))
      .select($"doc_id", $"pos", $"word", $"pieces", $"n_pieces")
  }

  /** `pipeline_bpe_fertility`: per-source tokenizer fertility measured
    * with the engine's ACTUAL trained BPE, next to the regex-proxy
    * number [[TextAnalysis.sourceFertility]] reports. The proxy is a
    * cheap single-pass column; a mix decision reading "how much does
    * the tokenizer fragment this source" should read the trained
    * tokenizer's fertility — this query reports both side by side so
    * the proxy's error is itself visible per source.
    *
    * Exact BIGINT sums; the two ratios are one double division each at
    * the edge (cross-engine bit-identical). `n_tokens` is the same
    * whitespace-token count on both sides: the vocabulary is built from
    * this corpus's distinct tokens, so the broadcast join is lossless.
    *
    * Scale shape: the [[bpeApply]] split — K merge rounds over the
    * vocabulary-sized word-frequency table, then the encoded vocab
    * (vocab-sized, kilobytes here) BROADCASTS onto the corpus token
    * stream; the stream side is one narrow explode + hash aggregate on
    * the bounded source key. The proxy side is one more narrow
    * projection + the same bounded aggregate. No corpus-sized shuffle
    * anywhere.
    */
  def bpeFertility(spark: SparkSession, dir: String,
      merges: Int = DefaultMerges): DataFrame = {
    val vocab = bpeEncode(spark, dir, merges).select($"word", $"n_pieces")
    val bpe = documents(spark, dir)
      .select($"source", explode(TextAnalysis.tokens($"text")).as("word"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"), sum($"n_pieces").as("n_bpe_pieces"))
    val proxy = documents(spark, dir)
      .select($"source",
        size(expr(s"regexp_extract_all(lower(text), '${TextAnalysis.piecePattern}', 0)"))
          .cast("bigint").as("p"))
      .groupBy($"source").agg(sum($"p").as("n_regex_pieces"))
    bpe.join(proxy, Seq("source"))
      .select($"source", $"n_tokens", $"n_bpe_pieces", $"n_regex_pieces",
        ($"n_bpe_pieces".cast("double") / $"n_tokens".cast("double"))
          .as("bpe_pieces_per_token"),
        ($"n_regex_pieces".cast("double") / $"n_tokens".cast("double"))
          .as("regex_pieces_per_token"))
  }

  // ---- DuckDB twin ------------------------------------------------------

  private def sqlPairs(wordsCte: String): String =
    s"""SELECT pair, CAST(sum(freq) AS BIGINT) AS pf FROM (
       |  SELECT unnest(list_transform(range(1, len(string_split(syms, ' '))),
       |    i -> string_split(syms, ' ')[i] || ' ' || string_split(syms, ' ')[i + 1])) AS pair,
       |    freq
       |  FROM $wordsCte) GROUP BY 1""".stripMargin

  /** The shared CTE prefix: w0 (encoded word vocab) + K stages of
    * (pair counts, argmax, merged words).
    */
  private def sqlStages(toksExpr: String, merges: Int): String = {
    val stages = (1 to merges).map { k =>
      s"""p$k AS (${sqlPairs(s"w${k - 1}")}),
         |b$k AS (SELECT pair, pf FROM p$k ORDER BY pf DESC, pair LIMIT 1),
         |w$k AS (SELECT word, replace(syms, (SELECT pair FROM b$k),
         |  (SELECT replace(pair, '> <', '') FROM b$k)) AS syms, freq FROM w${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT word, array_to_string(list_transform(regexp_extract_all(word, '.'),
       |    c -> '<' || c || '>'), ' ') AS syms, freq
       |  FROM (SELECT tok AS word, count(*) AS freq
       |        FROM (SELECT unnest($toksExpr) AS tok FROM documents)
       |        GROUP BY 1)),
       |$stages""".stripMargin
  }

  /** Unrolled K-stage replay of [[bpeTrain]] (same tokenizer twin, same
    * encoding, same tie-breaks).
    */
  def sqlBpeTrain(toksExpr: String, merges: Int = DefaultMerges): String = {
    val rows = (1 to merges).map { k =>
      s"SELECT $k AS merge_rank, pair, replace(pair, '> <', '') AS merged, pf AS pair_freq FROM b$k"
    }.mkString("\nUNION ALL ")
    s"""WITH ${sqlStages(toksExpr, merges)}
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pair, merged, pair_freq
       |FROM ($rows) ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB twin of [[bpeEncode]]: the final stage's vocab, decoded. */
  def sqlBpeEncode(toksExpr: String, merges: Int = DefaultMerges): String =
    s"""WITH ${sqlStages(toksExpr, merges)}
       |SELECT word,
       |  replace(replace(replace(syms, '> <', ' '), '<', ''), '>', '') AS pieces,
       |  CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_pieces,
       |  freq
       |FROM w$merges ORDER BY word""".stripMargin

  /** DuckDB twin of [[bpeFertility]]: same unrolled merge stages, same
    * broadcast-shaped vocab join, same proxy pattern.
    */
  def sqlBpeFertility(toksExpr: String, merges: Int = DefaultMerges): String =
    s"""WITH ${sqlStages(toksExpr, merges)},
       |vocab AS (SELECT word,
       |  CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_pieces
       |  FROM w$merges),
       |stream AS (SELECT source, unnest($toksExpr) AS word FROM documents),
       |bpe AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(v.n_pieces) AS BIGINT) AS n_bpe_pieces
       |  FROM stream s JOIN vocab v USING (word) GROUP BY 1),
       |proxy AS (SELECT source,
       |    CAST(sum(len(regexp_extract_all(lower(text), '${TextAnalysis.piecePattern}'))) AS BIGINT)
       |      AS n_regex_pieces
       |  FROM documents GROUP BY 1)
       |SELECT source, n_tokens, n_bpe_pieces, n_regex_pieces,
       |  CAST(n_bpe_pieces AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    AS bpe_pieces_per_token,
       |  CAST(n_regex_pieces AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    AS regex_pieces_per_token
       |FROM bpe JOIN proxy USING (source) ORDER BY source""".stripMargin

  /** DuckDB twin of [[bpeApply]]. */
  def sqlBpeApply(toksExpr: String, merges: Int = DefaultMerges): String =
    s"""WITH ${sqlStages(toksExpr, merges)},
       |vocab AS (SELECT word,
       |  replace(replace(replace(syms, '> <', ' '), '<', ''), '>', '') AS pieces,
       |  CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_pieces
       |  FROM w$merges),
       |stream AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i + 1] AS word
       |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
       |        FROM (SELECT doc_id, $toksExpr AS toks FROM documents) d) e)
       |SELECT s.doc_id, s.pos, s.word, v.pieces, v.n_pieces
       |FROM stream s JOIN vocab v USING (word)
       |ORDER BY doc_id, pos""".stripMargin
}
