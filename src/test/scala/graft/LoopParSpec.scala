package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LoopPar

/** The r17 loop-parallelism helper: per-round shuffle width derived
  * from the measured row count, capped at the session's configured
  * width, restored after the loop body (exceptions included).
  */
class LoopParSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("looppar-spec")

  private def width = spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("loopPartitions floors at 1, scales with rows, caps at session width") {
    val cap = width
    assert(LoopPar.loopPartitions(spark, 0L) === 1)
    assert(LoopPar.loopPartitions(spark, 1L) === 1)
    // default 250k rows/partition
    assert(LoopPar.loopPartitions(spark, 250000L) === math.min(1, cap).max(1))
    assert(LoopPar.loopPartitions(spark, 250001L) === math.min(2, cap))
    // huge input always hits the cap — cluster tuning is preserved
    assert(LoopPar.loopPartitions(spark, Long.MaxValue / 4) === cap)
  }

  test("rowsPerPartition conf steers the derivation") {
    LoopPar.withConf(spark, LoopPar.RowsPerPartitionKey -> "10") {
      assert(LoopPar.loopPartitions(spark, 25L) === math.min(3, width))
    }
  }

  test("withConf restores set keys and unsets unset ones, exceptions included") {
    val unsetKey = "spark.graft.test.withConf"
    val before = width
    def check(): Unit = {
      assert(width === before)
      assert(spark.conf.getOption(unsetKey).isEmpty)
    }
    LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "3", unsetKey -> "x") {
      assert(width === 3 && spark.conf.get(unsetKey) === "x")
    }
    check()
    intercept[RuntimeException] {
      LoopPar.withConf(spark, unsetKey -> "y") { throw new RuntimeException("boom") }
    }
    check()
  }

  test("withLoopParallelism restores the session width, exceptions included") {
    val before = width
    LoopPar.withLoopParallelism(spark, 1L) {
      assert(width === 1)
    }
    assert(width === before)
    intercept[RuntimeException] {
      LoopPar.withLoopParallelism(spark, 1L) { throw new RuntimeException("boom") }
    }
    assert(width === before)
  }

  test("sizedPartitions: rows/rowsPerTask, floor 1, capped at session width") {
    assert(LoopPar.sizedPartitions(spark, 0L, 4096) === 1)
    assert(LoopPar.sizedPartitions(spark, 4096L, 4096) === 1)
    assert(LoopPar.sizedPartitions(spark, 4097L, 4096) === math.min(2, width))
    assert(LoopPar.sizedPartitions(spark, Long.MaxValue / 4, 1) === width)
  }
}
