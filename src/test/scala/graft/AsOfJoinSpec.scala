package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AsOfJoin

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("asof-spec")
  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("asOf: nearest-past match, at-timestamp tie, no-prior null") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // before any right row → null
      (2L, 10L, ts("2024-01-01 12:00:00")), // between r1 and r2 → r1
      (3L, 10L, ts("2024-01-01 13:00:00")), // exactly at r2 → r2 (>= semantics)
      (4L, 10L, ts("2024-01-01 23:00:00")), // after all → r2
      (5L, 20L, ts("2024-01-01 12:00:00"))  // other key, own history → r3
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 11:00:00"), "r1"),
      (10L, ts("2024-01-01 13:00:00"), "r2"),
      (20L, ts("2024-01-01 11:30:00"), "r3")
    ).toDF("k", "rt", "payload")
    val got = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("payload"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("asof_payload"))))
    assert(got.toSeq == Seq(
      1L -> None, 2L -> Some("r1"), 3L -> Some("r2"),
      4L -> Some("r2"), 5L -> Some("r3")))
  }

  test("asOf: duplicate (key, rightTime) rows resolve deterministically to the greatest payload") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "k", "t")
    // three right rows at the SAME instant — engines may pick any; ours
    // must pick the greatest payload tuple, at any input order
    val dups = Seq((10L, ts("2024-01-01 11:00:00"), "b"),
      (10L, ts("2024-01-01 11:00:00"), "c"),
      (10L, ts("2024-01-01 11:00:00"), "a"))
    for (perm <- dups.permutations.take(3)) {
      val right = perm.toDF("k", "rt", "payload").repartition(3)
      val got = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("payload"))
        .head.getAs[String]("asof_payload")
      assert(got == "c", s"order $perm gave $got")
    }
  }

  test("asOf: payload is row-atomic — a null payload VALUE does not leak an older row's value") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "k", "t")
    // the matching (latest) right row carries a null in column a; the
    // result must be THAT row's (null, "y"), never a mix with the older
    // row's a=1 — per-column last(ignoreNulls) would leak it
    val right = Seq(
      (10L, ts("2024-01-01 10:00:00"), Some(1), "x"),
      (10L, ts("2024-01-01 11:00:00"), None: Option[Int], "y")
    ).toDF("k", "rt", "a", "b")
    val r = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("a", "b")).head
    assert(r.isNullAt(r.fieldIndex("asof_a")))
    assert(r.getAs[String]("asof_b") == "y")
  }

  test("asOfMerge: physical operator plans AsOfMergeJoinExec and matches asOf row-for-row") {
    import spark.implicits._
    // deterministic pseudo-random history: 40 users × ~50 left rows and
    // ~25 right rows with engineered ties and sparse keys on each side
    def t0(m: Long) = new Timestamp(1704100000000L + m * 60000L)
    val left = (0 until 2000).map { i =>
      (i.toLong, (i * 7 % 40).toLong, t0((i * 31 % 997).toLong))
    }.toDF("id", "k", "t")
    val right = (0 until 1000).map { i =>
      ((i * 11 % 45).toLong, t0((i * 53 % 997).toLong), i.toLong % 13, s"p$i")
    }.toDF("k", "rt", "v", "s")
    val viaExec = AsOfJoin.asOfMerge(left, right, "k", "t", "rt", Seq("v", "s"))
    assert(viaExec.queryExecution.executedPlan.toString
      .contains("AsOfMergeJoin"), "custom exec not planned")
    val viaWindow = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("v", "s"))
      .withColumnRenamed("asof_v", "v").withColumnRenamed("asof_s", "s")
    val a = viaExec.orderBy($"id").collect().map(_.toSeq).toSeq
    val b = viaWindow.orderBy($"id").collect().map(_.toSeq).toSeq
    assert(a == b, "exec and composed as-of disagree")
  }

  test("asOfMerge: at-timestamp match, no-prior null, same-instant ties pick greatest payload") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // before any right row → null
      (2L, 10L, ts("2024-01-01 13:00:00")), // exactly at r2 → r2
      (3L, 20L, ts("2024-01-01 12:00:00"))  // tie instant → greatest payload
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 11:00:00"), "r1"),
      (10L, ts("2024-01-01 13:00:00"), "r2"),
      (20L, ts("2024-01-01 11:30:00"), "b"),
      (20L, ts("2024-01-01 11:30:00"), "c"),
      (20L, ts("2024-01-01 11:30:00"), "a")
    ).toDF("k", "rt", "payload").repartition(3)
    val got = AsOfJoin.asOfMerge(left, right, "k", "t", "rt", Seq("payload"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("payload"))))
    assert(got.toSeq == Seq(1L -> None, 2L -> Some("r2"), 3L -> Some("c")))
  }

  test("asOf: left rows and columns preserved exactly") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2024-01-01 10:00:00"), "extra"))
      .toDF("id", "k", "t", "other")
    val right = Seq((10L, ts("2024-01-01 09:00:00"), 42.0)).toDF("k", "rt", "v")
    val out = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("v"))
    assert(out.columns.toSeq == Seq("id", "k", "t", "other", "asof_v"))
    val r = out.head
    assert(r.getAs[String]("other") == "extra" && r.getAs[Double]("asof_v") == 42.0)
  }
}
