package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL surface of the engine's custom expressions. Each builder parses
  * its literal int parameters at analysis time so a malformed call fails
  * the query analysis, not the executor.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.Literal

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT parameter, got $other")
  }

  // SQL numeric literals arrive as int (1), double, or decimal (0.5)
  private def litDouble(e: Expression, fn: String): Double = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toDouble
    case Literal(v: Double, org.apache.spark.sql.types.DoubleType) => v
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects literal numeric percentiles, got $other")
  }

  /** (name, arity check + construction) for every scalar expression. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "md5_prefix60" -> { exprs =>
      require(exprs.length == 1, s"md5_prefix60 expects 1 argument, got ${exprs.length}")
      Md5Prefix60(exprs.head)
    },
    "normalize_text" -> { exprs =>
      require(exprs.length == 1, s"normalize_text expects 1 argument, got ${exprs.length}")
      NormalizeText(exprs.head)
    },
    "z_value2" -> { exprs =>
      require(exprs.length == 2, s"z_value2 expects 2 arguments, got ${exprs.length}")
      ZValue2(exprs.head, exprs(1))
    },
    "tokenize" -> { exprs =>
      require(exprs.length == 1, s"tokenize expects 1 argument, got ${exprs.length}")
      Tokenize(exprs.head)
    },
    "word_tiles" -> { exprs =>
      require(exprs.length == 2, s"word_tiles expects 2 arguments, got ${exprs.length}")
      WordTiles(exprs.head, litInt(exprs(1), "word_tiles"))
    },
    "tile_dedup_stats" -> { exprs =>
      require(exprs.length == 1,
        s"tile_dedup_stats expects 1 argument, got ${exprs.length}")
      TileDedupStats(exprs.head)
    },
    "struct_sort_project" -> { exprs =>
      require(exprs.length == 1,
        s"struct_sort_project expects 1 argument, got ${exprs.length}")
      StructSortProject(exprs.head)
    },
    "token_bigrams" -> { exprs =>
      require(exprs.length == 1,
        s"token_bigrams expects 1 argument, got ${exprs.length}")
      TokenBigrams(exprs.head)
    },
    "span_remove" -> { exprs =>
      require(exprs.length == 3,
        s"span_remove expects (tokens, starts, k), got ${exprs.length} arguments")
      SpanRemove(exprs.head, exprs(1), litInt(exprs(2), "span_remove"))
    },
    "centroid_rank" -> { exprs =>
      require(exprs.length == 4,
        s"centroid_rank expects (q, cents, k, add_qnorm), got ${exprs.length} arguments")
      val add = exprs(3) match {
        case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
        case other => throw new IllegalArgumentException(
          s"centroid_rank expects a literal BOOLEAN add_qnorm, got $other")
      }
      CentroidRank(exprs.head, exprs(1), litInt(exprs(2), "centroid_rank"), add)
    },
    "word_shingles" -> { exprs =>
      require(exprs.length == 2, s"word_shingles expects 2 arguments, got ${exprs.length}")
      WordShingles(exprs.head, litInt(exprs(1), "word_shingles"))
    },
    "minhash_sig" -> { exprs =>
      require(exprs.length == 2, s"minhash_sig expects 2 arguments, got ${exprs.length}")
      MinHashSig(exprs.head, litInt(exprs(1), "minhash_sig"))
    },
    "simhash_fp" -> { exprs =>
      require(exprs.length == 2, s"simhash_fp expects 2 arguments, got ${exprs.length}")
      SimHashFp(exprs.head, litInt(exprs(1), "simhash_fp"))
    },
    "long_array_dot" -> { exprs =>
      require(exprs.length == 2, s"long_array_dot expects 2 arguments, got ${exprs.length}")
      LongArrayDot(exprs.head, exprs(1))
    },
    "lsh_bucket_pack" -> { exprs =>
      require(exprs.length == 3,
        s"lsh_bucket_pack expects (q, numTables, planesPerTable), got ${exprs.length} arguments")
      LshBucketPack(exprs.head, litInt(exprs(1), "lsh_bucket_pack"),
        litInt(exprs(2), "lsh_bucket_pack"))
    },
    "bloom_might_contain" -> { exprs =>
      require(exprs.length == 2,
        s"bloom_might_contain expects 2 arguments, got ${exprs.length}")
      BloomMightContain(exprs.head, exprs(1))
    },
    // aggregates: the analyzer wraps a bare AggregateFunction returned
    // from a registry builder in its AggregateExpression
    "bloom_build" -> { exprs =>
      require(exprs.length == 3,
        s"bloom_build expects (key, numBits, numHashes), got ${exprs.length} arguments")
      BloomBuildAgg(exprs.head, litInt(exprs(1), "bloom_build"),
        litInt(exprs(2), "bloom_build"))
    },
    "cm_build" -> { exprs =>
      require(exprs.length == 3,
        s"cm_build expects (key, depth, width), got ${exprs.length} arguments")
      CountMinBuildAgg(exprs.head, litInt(exprs(1), "cm_build"),
        litInt(exprs(2), "cm_build"))
    },
    "cm_estimate" -> { exprs =>
      require(exprs.length == 2,
        s"cm_estimate expects (sketch, key), got ${exprs.length} arguments")
      CountMinEstimate(exprs.head, exprs(1))
    },
    "top_k_ids" -> { exprs =>
      require(exprs.length == 3, s"top_k_ids expects 3 arguments, got ${exprs.length}")
      TopKAgg(exprs.head, exprs(1), litInt(exprs(2), "top_k_ids"))
    },
    "bottom_k_ids" -> { exprs =>
      require(exprs.length == 3, s"bottom_k_ids expects 3 arguments, got ${exprs.length}")
      BottomKAgg(exprs.head, exprs(1), litInt(exprs(2), "bottom_k_ids"))
    },
    "freq_items_mg" -> { exprs =>
      require(exprs.length == 2,
        s"freq_items_mg expects (key, k), got ${exprs.length} arguments")
      FreqItemsAgg(exprs.head, litInt(exprs(1), "freq_items_mg"))
    },
    "tdigest_quantiles" -> { exprs =>
      require(exprs.length >= 2,
        s"tdigest_quantiles expects (value, p, ...), got ${exprs.length} arguments")
      TDigestAgg(exprs.head, exprs.tail.map(litDouble(_, "tdigest_quantiles")), 100.0)
    },
    "kmv_build" -> { exprs =>
      require(exprs.length == 2,
        s"kmv_build expects (key, k), got ${exprs.length} arguments")
      KmvBuildAgg(exprs.head, litInt(exprs(1), "kmv_build"))
    },
    "kmv_union" -> { exprs =>
      require(exprs.length == 1, s"kmv_union expects 1 argument, got ${exprs.length}")
      KmvUnionAgg(exprs.head)
    },
    "kmv_card" -> { exprs =>
      require(exprs.length == 1, s"kmv_card expects 1 argument, got ${exprs.length}")
      KmvCardinality(exprs.head)
    },
    "kmv_union_card" -> { exprs =>
      require(exprs.length == 2,
        s"kmv_union_card expects 2 arguments, got ${exprs.length}")
      KmvSetCard(exprs.head, exprs(1), intersect = false)
    },
    "kmv_intersect_card" -> { exprs =>
      require(exprs.length == 2,
        s"kmv_intersect_card expects 2 arguments, got ${exprs.length}")
      KmvSetCard(exprs.head, exprs(1), intersect = true)
    },
    "hll_build" -> { exprs =>
      require(exprs.length == 2,
        s"hll_build expects (key, precision), got ${exprs.length} arguments")
      HllBuildAgg(exprs.head, litInt(exprs(1), "hll_build"))
    },
    "hll_union" -> { exprs =>
      require(exprs.length == 1, s"hll_union expects 1 argument, got ${exprs.length}")
      HllUnionAgg(exprs.head)
    },
    "hll_card" -> { exprs =>
      require(exprs.length == 1, s"hll_card expects 1 argument, got ${exprs.length}")
      HllCardinality(exprs.head)
    },
    "long_array_sum" -> { exprs =>
      require(exprs.length == 1,
        s"long_array_sum expects 1 argument, got ${exprs.length}")
      LongArraySumAgg(exprs.head)
    },
    "bitmap_build" -> { exprs =>
      require(exprs.length == 1, s"bitmap_build expects 1 argument, got ${exprs.length}")
      BitmapBuildAgg(exprs.head)
    },
    "bitmap_union" -> { exprs =>
      require(exprs.length == 1, s"bitmap_union expects 1 argument, got ${exprs.length}")
      BitmapUnionAgg(exprs.head)
    },
    "bitmap_card" -> { exprs =>
      require(exprs.length == 1, s"bitmap_card expects 1 argument, got ${exprs.length}")
      BitmapCardinality(exprs.head)
    },
    "bitmap_and_card" -> { exprs =>
      require(exprs.length == 2,
        s"bitmap_and_card expects 2 arguments, got ${exprs.length}")
      BitmapAndCardinality(exprs.head, exprs(1))
    },
    // join-condition markers, rewritten by RewriteMarkerJoins
    "asof_match" -> { exprs => AsOfMark(exprs) },
    "range_bin_match" -> { exprs =>
      require(exprs.length == 4,
        s"range_bin_match expects (point, lo, hi, bin_seconds), got ${exprs.length}")
      RangeBinMark(exprs(0), exprs(1), exprs(2), exprs(3))
    })

  /** Runtime registration of the full engine SQL surface (idempotent). */
  def registerAll(spark: SparkSession): Unit = {
    TokenizeExplode.register(spark)
    builders.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, build, "scala_udf")
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteMd5Prefix60)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteMd5Prefix60
    }
    if (!spark.experimental.extraOptimizations.contains(DimStoreBucketPrune)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DimStoreBucketPrune
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteMarkerJoins)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteMarkerJoins
    }
  }
}
