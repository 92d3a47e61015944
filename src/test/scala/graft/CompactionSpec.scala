package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Compaction

class CompactionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("compaction-spec")

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))

  test("compaction collapses a many-tiny-files layout to the computed size, no row loss") {
    import spark.implicits._
    val in = Files.createTempDirectory("compact-in").toString
    val out = Files.createTempDirectory("compact-out").toString
    // 64 tiny files of 500 rows each
    spark.range(32000).select($"id", ($"id" % 97).as("v"))
      .repartition(64).write.mode("overwrite").parquet(in)
    assert(parquetFiles(in).length == 64)
    val inBytes = parquetFiles(in).map(_.length).sum
    // target ~ a third of the input → expect ceil(bytes/target) = 3 files
    val target = (inBytes + 2) / 3
    val (parts, bytes) = Compaction.compact(spark, in, out, target)
    assert(parts == math.max(1, ((bytes + target - 1) / target)).toInt)
    assert(parquetFiles(out).length == parts)
    assert(spark.read.parquet(out).count() == 32000)
    // content identical, not just counted: same multiset of (id, v)
    val a = spark.read.parquet(in).collect().map(_.toSeq).sortBy(_.toString)
    val b = spark.read.parquet(out).collect().map(_.toSeq).sortBy(_.toString)
    assert(a.sameElements(b))
  }

  test("coalesce mode plans no shuffle; repartition mode balances") {
    val in = Files.createTempDirectory("compact-in2").toString
    spark.range(10000).toDF("id").repartition(16)
      .write.mode("overwrite").parquet(in)
    val df = spark.read.parquet(in)
    assert(df.coalesce(2).queryExecution.executedPlan.toString
      .contains("Coalesce"))
    assert(!df.coalesce(2).queryExecution.executedPlan.toString
      .contains("Exchange"))
    // single-file edge: target far above input size → exactly 1 partition
    val out = Files.createTempDirectory("compact-out2").toString
    val (parts, _) = Compaction.compact(spark, in, out, Long.MaxValue)
    assert(parts == 1 && parquetFiles(out).length == 1)
  }

  test("split direction: few-giant-files input auto-switches to repartition") {
    import spark.implicits._
    val in = Files.createTempDirectory("compact-in3").toString
    val out = Files.createTempDirectory("compact-out3").toString
    // ONE oversized file; target a quarter of it → parts > scan partitions,
    // so coalesce alone could never honour targetBytes
    spark.range(100000).select($"id", ($"id" % 97).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(in)
    assert(parquetFiles(in).length == 1)
    val inBytes = parquetFiles(in).map(_.length).sum
    val target = (inBytes + 3) / 4
    val (parts, _) = Compaction.compact(spark, in, out, target) // shuffle = false
    assert(parts >= 4)
    assert(parquetFiles(out).length == parts) // actually split, not 1 big file
    assert(spark.read.parquet(out).count() == 100000)
  }
}
