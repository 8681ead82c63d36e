package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.TestSpark

/** The shared round loop's two exits — the round budget and a proven
  * fixpoint — and its retirement rule: superseded round checkpoints are
  * unpersisted, frames passed in as `init` never are.
  */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pinned: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("budget exit: a round that never converges stops at the budget") {
    val init = spark.range(0, 8).toDF("id").localCheckpoint()
    val before = pinned
    Fixpoint.last.remove()
    val res = Fixpoint(init, 3) { (s, _) =>
      Some(s.select((col("id") + 1).as("id")).localCheckpoint())
    }
    assert(!res.converged)
    assert(res.rounds === 3)
    assert(Fixpoint.last.get === ((3, false)))
    assert((pinned -- before).size <= 1,
      s"superseded rounds leaked: ${(pinned -- before).size} new pins")
    assert(ids(res.state) === (3L until 11L))
    assert(ids(init) === (0L until 8L), "init must stay readable")
  }

  test("a round returning None ends the run on the state it was given") {
    val init = spark.range(0, 4).toDF("id").localCheckpoint()
    val res = Fixpoint(init, 10) { (s, n) =>
      if (n > 2) None
      else Some(s.select((col("id") * 2).as("id")).localCheckpoint())
    }
    assert(res.converged)
    assert(res.rounds === 3, "the probing round counts")
    assert(Fixpoint.last.get === ((3, true)))
    assert(ids(res.state) === Seq(0L, 4L, 8L, 12L))
    res.retireState()
    assert(ids(init) === Seq(0L, 1L, 2L, 3L), "retireState leaves init alone")
  }

  test("converging in round 1 leaves every init frame pinned") {
    val a = spark.range(0, 3).toDF("id").localCheckpoint()
    val b = spark.range(5, 7).toDF("id").localCheckpoint()
    val res = Fixpoint.run((a, b), 4)(s => Seq(s._1, s._2)) { (_, _) => None }
    assert(res.converged && res.rounds === 1)
    assert(res.state._1 eq a)
    res.retireState()
    assert(ids(a) === Seq(0L, 1L, 2L) && ids(b) === Seq(5L, 6L))
  }
}
