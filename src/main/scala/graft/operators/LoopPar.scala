package graft.operators

import org.apache.spark.sql.SparkSession

/** Per-round shuffle parallelism for iterative DataFrame loops.
  *
  * Every round of a localCheckpoint loop (PageRank, BFS, k-core,
  * Bellman-Ford, label propagation) shuffles into
  * `spark.sql.shuffle.partitions` partitions regardless of how small the
  * per-round frame is, and each checkpoint materializes that many
  * blocks. On a tiny frontier that fixed per-task cost dominates: the
  * r16 driver measured g05/g06 running 3x SLOWER at 32 cores than at 8
  * (scaling 0.33/0.29) purely from per-round task/scheduler overhead.
  *
  * Guide §2.1/§2.5: partition count must track data volume — including
  * inside loops. [[loopPartitions]] derives the round parallelism from
  * the MEASURED input row count (data-adaptive, not tuned to any core
  * count): rows / `spark.graft.loop.rowsPerPartition` (default 250k
  * rows — per-round loop tasks carry join+agg work per row, so the
  * sweet spot sits well below the guide's 64 MB scan floor), capped
  * at the session's configured `spark.sql.shuffle.partitions` so a
  * cluster deployment keeps its tuning — at 100 TB the cap always wins
  * and behavior is unchanged; only small (or late-round shrunken)
  * inputs drop below it.
  *
  * [[withLoopParallelism]] scopes the override to the loop body and
  * restores the session value in a finally — the established pattern of
  * the streaming replay queries (which pin 8 partitions around
  * `start()`). Results are unaffected by construction: every loop here
  * is exact-integer / totally-ordered arithmetic, parallelism-invariant
  * by design (ParallelismInvarianceSpec pins it).
  */
object LoopPar {

  val RowsPerPartitionKey = "spark.graft.loop.rowsPerPartition"

  def loopPartitions(spark: SparkSession, rows: Long): Int = {
    val rowsPer =
      spark.conf.get(RowsPerPartitionKey, "250000").toLong
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(cur.toLong, (rows + rowsPer - 1) / rowsPer)).toInt
  }

  /** Run `body` with session conf `overrides` in place. Each key's
    * previous value is restored in a finally — or the key unset again
    * when it was unset before.
    */
  def withConf[T](spark: SparkSession, overrides: (String, String)*)(body: => T): T = {
    val before = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Derive the round parallelism from `rows` and run `body` under it. */
  def withLoopParallelism[T](spark: SparkSession, rows: Long)(body: => T): T =
    withConf(spark,
      "spark.sql.shuffle.partitions" -> loopPartitions(spark, rows).toString)(body)

  /** Partition count for a CPU-heavy per-row map stage (codec loops,
    * JSON parsing) fed by a small/unsplittable source: `rows` divided by
    * the per-operator `rowsPerTask` (chosen so one task amortizes its
    * launch cost against real per-row work), capped at the session's
    * `spark.sql.shuffle.partitions`. Data-derived, not core-derived —
    * the same input spreads to the same task count at any core count,
    * so low-core runs can only be slower, never faster (the m01 r16
    * lesson: inheriting shuffle.partitions made 32 cores SLOWER than 8
    * on a 3k-row codec frame).
    */
  def sizedPartitions(spark: SparkSession, rows: Long, rowsPerTask: Long): Int = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(cur.toLong, (rows + rowsPerTask - 1) / rowsPerTask)).toInt
  }
}
