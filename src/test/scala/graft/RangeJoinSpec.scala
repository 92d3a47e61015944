package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RangeJoin

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("rangejoin-spec")

  test("pointInInterval: inclusive bounds, bin-boundary points, negatives") {
    import spark.implicits._
    val pts = Seq((1L, 10.0), (2L, 15.0), (3L, 20.0), (4L, 20.5), (5L, -3.0))
      .toDF("pid", "x")
    val iv = Seq((100L, 10.0, 20.0), (200L, 19.0, 25.0), (300L, -5.0, -1.0))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "x", iv, "lo", "hi", binWidth = 4.0)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // 10.0 and 20.0 sit ON interval bounds and exact bin edges: inclusive
    assert(got == Set((1L, 100L), (2L, 100L), (3L, 100L), (3L, 200L),
      (4L, 200L), (5L, 300L)))
  }

  test("pointInInterval with keys joins only same-key ranges") {
    import spark.implicits._
    val pts = Seq(("a", 5.0), ("b", 5.0)).toDF("k", "x")
    val iv = Seq(("a", 0.0, 10.0)).toDF("k", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "x", iv, "lo", "hi", 4.0, keys = Seq("k"))
    assert(got.select("k").as[String].collect().toSeq == Seq("a"))
  }

  test("intervalOverlap: each overlapping pair exactly once, even across many shared bins") {
    import spark.implicits._
    // a1 spans 25 bins of width 1.0 and overlaps b1 across all of them;
    // the first-overlapping-bin guard must keep exactly one copy
    val a = Seq((1L, 0.0, 25.0), (2L, 30.0, 31.0)).toDF("aid", "a_lo", "a_hi")
    val b = Seq((10L, 5.0, 40.0), (20L, 26.0, 29.0)).toDF("bid", "b_lo", "b_hi")
    val got = RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi", 1.0)
      .select("aid", "bid").as[(Long, Long)].collect().toList
    assert(got.sorted == List((1L, 10L), (2L, 10L))) // no dup, no (2,20)
  }

  test("intervalOverlap: touching endpoints count as overlap (inclusive)") {
    import spark.implicits._
    val a = Seq((1L, 0.0, 10.0)).toDF("aid", "a_lo", "a_hi")
    val b = Seq((10L, 10.0, 20.0)).toDF("bid", "b_lo", "b_hi")
    val got = RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi", 7.0)
    assert(got.count() == 1)
  }

  test("binned range join plans as an equi hash join, not a nested loop") {
    import spark.implicits._
    val pts = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("pid", "x")
    val iv = (1 to 50).map(i => (i.toLong, i * 2.0 - 1.0, i * 2.0 + 1.0))
      .toDF("iid", "lo", "hi")
    val plan = RangeJoin.pointInInterval(pts, "x", iv, "lo", "hi", 2.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
  }

  test("agrees with the naive theta join on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (1 to 300).map(i => (i.toLong, rnd.nextDouble() * 100 - 50)).toDF("pid", "x")
    val iv = (1 to 80).map { i =>
      val lo = rnd.nextDouble() * 100 - 50
      (i.toLong, lo, lo + rnd.nextDouble() * 10)
    }.toDF("iid", "lo", "hi")
    val binned = RangeJoin.pointInInterval(pts, "x", iv, "lo", "hi", 3.0)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = pts.join(iv, $"x" >= $"lo" && $"x" <= $"hi")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(binned == naive)
    val aIv = iv.select($"iid".as("aid"), $"lo".as("a_lo"), $"hi".as("a_hi"))
    val bIv = iv.select($"iid".as("bid"), $"lo".as("b_lo"), $"hi".as("b_hi"))
    val binnedOv = RangeJoin.intervalOverlap(aIv, "a_lo", "a_hi", bIv, "b_lo", "b_hi", 3.0)
      .select("aid", "bid").as[(Long, Long)].collect()
    val naiveOv = aIv.join(bIv, $"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi")
      .select("aid", "bid").as[(Long, Long)].collect()
    assert(binnedOv.length == naiveOv.length) // exactly-once: multiset sizes equal
    assert(binnedOv.toSet == naiveOv.toSet)
  }
}
