package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs on sf0.001 and returns rows;
  * names are unique; the flagship entry works. (Value-level
  * correctness is the driver's DuckDB gate, replicated locally by
  * tools/local_verify.py.)
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sf).count() > 0)
    }
  }

  test("every query dumps scalar columns only (Verify dump-edge contract)") {
    // the driver's checker sorts dump rows by every column; array/map/
    // struct cells are unsortable there (r7 ir_inverted_index red row)
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}:${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty, s"non-scalar dump columns: $offenders")
  }

  test("a name registered twice is rejected, and the error names it") {
    val a = QuerySpec.all.head
    val b = QuerySpec.all.last
    val e = intercept[IllegalArgumentException](
      QuerySpec.requireUnique(Seq(a, b, a.copy(run = b.run))))
    assert(e.getMessage.contains(a.name) && !e.getMessage.contains(b.name))
  }
}
