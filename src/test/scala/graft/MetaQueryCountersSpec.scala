package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LakeLog

/** LOG-OPERATION budgets for the lake metadata query family (q92–q99).
  *
  * These queries are sub-second fixtures whose wall-clock swings ±35%
  * with host load — the driver bench cannot measure them reliably (it
  * misled two rounds running). What CAN regress deterministically is
  * the number of LOG operations each query performs: delta reads,
  * checkpoint-part parses, part-cache hits. The former O(census)
  * commit re-read, for example, would show up here as a delta-read
  * jump long before any timing moves. Budgets are pinned EXACTLY —
  * the queries are deterministic (verified stable across reps) and a
  * changed count is a changed plan, which should be a conscious edit
  * of this file, never drift.
  */
class MetaQueryCountersSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local("meta-query-counters")
  private val sf = "/root/testdata/sf0.001"

  /** (query, exact delta reads). All eight run without a checkpoint at
    * this scale (fixtures stay under the checkpoint interval), so any
    * checkpoint IO at all is itself a regression and is pinned to 0.
    */
  private val budgets: Seq[(String, Long)] = Seq(
    "q92_wap_refs" -> 18L,
    "q93_metadata_agg" -> 11L,
    "q94_filtered_meta" -> 11L,
    "q95_bloom_lookup" -> 6L,
    "q96_grouped_meta" -> 11L,
    "q97_partition_census" -> 9L,
    "q98_partition_ddl" -> 18L,
    "q99_metadata_sum" -> 11L)

  budgets.foreach { case (name, deltaBudget) =>
    // the name carries no figure: a deliberate budget change edits the
    // table above, not the test's identity
    test(s"$name: log-op budget is exact") {
      LakeLog.clearPartCache()
      val d0 = LakeLog.deltaReads.get()
      val c0 = LakeLog.checkpointReads.get()
      val h0 = LakeLog.checkpointCacheHits.get()
      try {
        val rows = SparkEntry.queries(name)(spark, sf).collect()
        assert(rows.nonEmpty, s"$name returned no rows")
      } finally QueryCaches.releaseAll()
      val dr = LakeLog.deltaReads.get() - d0
      assert(dr == deltaBudget,
        s"$name delta-read budget changed: $dr delta reads, pinned $deltaBudget — " +
          "a plan change must update this pin consciously")
      assert(LakeLog.checkpointReads.get() == c0 &&
        LakeLog.checkpointCacheHits.get() == h0,
        s"$name performed checkpoint IO — these fixtures never checkpoint")
    }
  }
}
