package graft.functions

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Regression cases from review: short documents must produce no
  * pseudo-shingles (Spark's sequence(0,-1) is descending).
  */
class DedupEdgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.ColStr

  test("cluster labels are consistent: pairs co-clustered, cluster_id = component min") {
    val dir = "/root/testdata/sf0.01"
    val rows = Dedup.minhashClusters(spark, dir).collect()
    val clusters = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashPairs(spark, dir)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must produce near-dup pairs")
    // every near-dup pair lands in one cluster (incl. transitive chains)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
    // a cluster's id is the min doc_id among its members, and that
    // member is the keeper
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min === cid)
    }
    val keepers = rows.count(_.getBoolean(2))
    assert(keepers === clusters.values.toSet.size)
  }

  test("components that converge in round 1 return the init labels") {
    // round 1 changes no label, so the loop ends on components' own
    // init checkpoint, which must stay readable
    val loops = spark.range(1, 3).selectExpr("id AS a", "id AS b")
    assert(Dedup.components(loops).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 1L), (2L, 2L)))
    assert(Dedup.components(loops.limit(0)).collect().isEmpty)
  }

  test("span coverage: fully-copied doc = 1.0, unique doc = 0.0, partial in between") {
    val docs = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact mirror of 1
      (3L, "zeta eta theta iota kappa"), // fully unique
      // shares the 'alpha beta gamma' span with 1/2, rest unique
      (4L, "alpha beta gamma lambda mu nu")))
      .toDF("doc_id", "text")
    val cov = Dedup.spanCoverageOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(cov(1L) === ((3L, 3L, 1.0)))
    assert(cov(2L) === ((3L, 3L, 1.0)))
    assert(cov(3L) === ((3L, 0L, 0.0)))
    assert(cov(4L) === ((4L, 1L, 0.25)))
  }

  test("docs with fewer than 3 tokens produce zero shingles") {
    val docs = spark.createDataFrame(Seq(
      (1L, "foo bar"), (2L, "foo"), (3L, ""), (4L, "a b c d")))
      .toDF("doc_id", "text")
    val sh = Dedup.shinglesOf(docs)
    val byDoc = sh.groupBy($"doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L) && !byDoc.contains(3L))
    assert(byDoc(4L) === 2L) // 'a b c', 'b c d'
  }

  test("ngram novelty: earliest doc is fully novel, novel counts sum to the vocabulary") {
    val dir = "/root/testdata/sf0.001"
    val out = Dedup.ngramNovelty(spark, dir).collect()
    assert(out.nonEmpty)
    // every shingle's first occurrence is attributed exactly once
    val vocab = Dedup.shingles(spark, dir)
      .select($"shingle").distinct().count()
    assert(out.map(_.getLong(2)).sum === vocab)
    // the lowest doc_id holding shingles saw everything first
    val first = out.minBy(_.getLong(0))
    assert(first.getLong(1) === first.getLong(2) &&
      first.getDouble(3) === 1.0)
    out.foreach(r => assert(r.getLong(2) <= r.getLong(1) &&
      r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("embeddingNearDup refuses a corpus beyond the brute-force cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-brute").toString
    spark.range(Dedup.BruteForceMaxVectors + 1)
      .selectExpr("id AS vec_id", "CAST(id % 7 AS INT) AS label",
        "array(CAST(id % 13 AS FLOAT), CAST(1 AS FLOAT)) AS embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(spark, dir).collect()
    }
    assert(e.getMessage.contains("BruteForceMaxVectors"))
  }

  test("lshRecall runs on the hash subcorpus: counts bounded by the unsampled run") {
    val dir = "/root/testdata/sf0.001"
    val r = Dedup.lshRecall(spark, dir).collect().head
    val (nTruth, nCand, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(r.getLong(5) === Dedup.RecallSampleMod)
    assert(nHit <= nTruth && nHit <= nCand)
    // sampled truth/candidates are SUBSETS of the full-corpus pair sets
    val fullTruth = Dedup.ngramJaccardPairs(spark, dir)
      .select($"a", $"b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val fullCand = Dedup.minhashPairs(spark, dir)
      .select($"a", $"b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val sampledDocs = Dedup.recallSample(graft.Tables.documents(spark, dir))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val expTruth = fullTruth.filter(p => sampledDocs(p._1) && sampledDocs(p._2))
    assert(nTruth === expTruth.size.toLong)
    assert(nCand === fullCand.count(p => sampledDocs(p._1) && sampledDocs(p._2)).toLong)
  }

  test("adaptive df cap: clamped high on small corpora, shrinks past the budget") {
    def capFor(n: Long): Long = {
      val docs = spark.range(n).selectExpr("id AS doc_id", "'x' AS text")
      Dedup.dfCapOf(docs).collect().head.getLong(0)
    }
    assert(capFor(500L) === Dedup.DfCapMax)       // sf0.01 corpus: unchanged
    assert(capFor(5000L) === Dedup.DfCapMax)      // sf0.1 corpus: unchanged
    assert(capFor(10000L) === 50L)                // budget / n, mid-range
    assert(capFor(50000L) === Dedup.DfCapMin)     // sf1 corpus: low clamp
    assert(capFor(1000000L) === Dedup.DfCapMin)   // never below the floor
  }

  test("cluster size histogram reconciles with the cluster table") {
    val dir = "/root/testdata/sf0.01"
    val sizes = Dedup.minhashClusters(spark, dir)
      .groupBy($"cluster_id").count().collect().map(_.getLong(1))
    val out = Dedup.clusterSizeHist(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect = sizes.groupBy(identity).view
      .mapValues(v => (v.size.toLong, v.size.toLong * v.head)).toMap
    assert(out === expect)
    assert(out.values.map(_._2).sum ===
      graft.Tables.documents(spark, dir).count())
  }
}
