package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-exposed tokenizer UDTF — the custom `Generator` expression the
  * reference's planned keyword job implies (ikanalyzer tokenizer dep +
  * keyword constants, reference gmall-realtime/pom.xml:179-183,
  * common/GmallConstant.java:64-67): one output row per token.
  *
  * `SELECT tokenize_explode(text) AS token FROM docs` ≡
  * `explode(filter(split(lower(text), '[^a-z0-9]+'), ...))` — same
  * tokenizer contract as [[graft.functions.TextAnalysis.tokens]], kept
  * in lockstep by the shared regex. A Generator (vs a composed explode)
  * is the extension point where a real segmenter (e.g. a CJK tokenizer
  * with a per-partition dictionary) would plug in without changing query
  * shape.
  */
case class TokenizeExplode(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(Seq(StructField("token", StringType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      TokenizeExplode.Pattern.split(
        v.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT))
        .iterator.filter(_.nonEmpty)
        .map(t => InternalRow(UTF8String.fromString(t)))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TokenizeExplode =
    copy(child = newChild)
}

object TokenizeExplode {
  /** Shared with TextAnalysis.tokens ('[^a-z0-9]+' split on lowercase). */
  val Pattern: java.util.regex.Pattern = java.util.regex.Pattern.compile("[^a-z0-9]+")

  private[graftexpr] def build(exprs: Seq[Expression]): TokenizeExplode = {
    require(exprs.length == 1,
      s"tokenize_explode expects exactly 1 argument, got ${exprs.length}")
    TokenizeExplode(exprs.head)
  }

  /** Runtime registration for an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tokenize_explode", build, "scala_udf")
}
