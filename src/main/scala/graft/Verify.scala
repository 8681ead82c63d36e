package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: run only these queries (local iteration aid;
    // the driver always passes exactly (sfDir, outDir))
    val subset = args.drop(2).toSet
    // shuffle width follows the target scale factor (no-op at the
    // driver's sf0.01; explicit SPARK_GRAFT_SHUFFLE still overrides)
    Session.sizeShuffleFor(sfDir)
    val spark = Session.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    QuerySpec.all
      .filter(q => subset.isEmpty || subset(q.name))
      .foreach { case QuerySpec(name, fn, _, order) =>
      try {
        val df = fn(spark, sfDir)
        // dump-edge contract: scalar columns only. The driver's checker
        // sorts dump rows by EVERY column; array/map/struct cells are
        // unsortable there (r7's ir_inverted_index red row) — fail the
        // query loudly here instead of shipping an uncheckable dump.
        val nested = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType => true
          case _ => false
        })
        require(nested.isEmpty, s"non-scalar dump columns: " +
          nested.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
        // protocol total order (mirrors the oracle's ORDER BY) applied at
        // the dump edge, not inside the operators — see [[QuerySpec]]
        val dump = order match {
          case QuerySpec.By(cols @ _*) => df.orderBy(cols: _*)
          case QuerySpec.Semantic => df
        }
        dump.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // operators cache() subplans
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
