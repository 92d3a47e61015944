package graft.queries

import graft.QueryCaches.CacheOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.operators.{CountMin, Frequency, Hll, Kmv, LoopPar, TextOps}
import graft.sources.Tables

/** Cardinality / frequency sketch queries (h-series + the c05 corpus
  * heavy-hitters pass). Both follow the repo rule that sketch math must
  * be deterministic enough to ORACLE: the HLL estimate is an exact
  * integer harmonic sum folded through a fixed IEEE expression, and the
  * heavy-hitter output is exact by construction (Misra-Gries only
  * GENERATES candidates; the integer recount DECIDES).
  */
object SketchQueries {

  /** h01 — approximate distinct customers per order priority via
    * [[Hll]] (m=256 registers), next to the exact count and the
    * realized relative error. Two bounded-shuffle aggregations at any
    * scale vs countDistinct's full key shuffle — the 100 TB trade this
    * sketch exists for, with the exact column demonstrating the
    * accuracy envelope (|rel_err| ≲ 2σ ≈ 13%).
    */
  def h01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"), $"o_custkey")
    // registersAgg: ONE typed aggregation ships 256-byte buffers where
    // the declarative registers() shuffled per-register rows twice —
    // same table, same estimate chain, same oracle (NativeAggSpec pins
    // the register-table equality)
    val est = Hll.estimate(Hll.registersAgg(o, $"o_custkey", Seq($"prio")), Seq($"prio"))
    val exact = o.groupBy($"prio").agg(countDistinct($"o_custkey").as("n_exact"))
    est.join(exact, Seq("prio"))
      .select($"prio", $"n_exact",
        gf.dround($"hll_estimate", 2).as("hll_estimate"),
        gf.dround(($"hll_estimate" - $"n_exact") / $"n_exact", 4).as("rel_err"),
        $"n_registers_hit")
      .orderBy($"prio")
  }

  /** c05 — exact corpus heavy hitters: every token above 0.5% of all
    * token occurrences (k=200), via [[Frequency.heavyHitters]] —
    * per-partition Misra-Gries candidates, exact integer-threshold
    * recount. Output is partition-invariant and exactly the SQL
    * HAVING-clause answer, with none of the full-vocabulary shuffle.
    */
  def c05(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(TextOps.tokens(TextOps.normalize($"text"))).as("token"))
    Frequency.heavyHitters(toks, "token", 200)
      .withColumnRenamed("item", "token")
  }

  /** h02 — histogram quantile BRACKETS for the same percentiles q33
    * computes exactly: 1024 bins over price cents per returnflag. The
    * driver compare proves the bracket math; q33 beside it proves the
    * true value falls inside (spec-pinned in SketchesSpec). At scale
    * this replaces q33's per-group sort with two bounded aggregations.
    */
  def h02(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    Hll.histogramQuantiles(li, Seq($"l_returnflag"),
        gf.fixed($"l_extendedprice", 100.0), bins = 1024, pcts = Seq(50, 90, 99))
      .select($"l_returnflag" +: $"n_items" +:
        Seq(50, 90, 99).flatMap(p => Seq(
          gf.dround(col(s"p${p}_lo").cast("double") / 100.0, 2).as(s"p${p}_lo"),
          gf.dround(col(s"p${p}_hi").cast("double") / 100.0, 2).as(s"p${p}_hi"))): _*)
      .orderBy($"l_returnflag")
  }

  /** h03 — Count-Min frequency estimates vs exact counts for the 20
    * most frequent tokens: the sketch (3×1024 integer cells) is built
    * over every token occurrence by ONE native [[graft.functions.CmsAggExpr]]
    * aggregation (occurrences fold into a 24 KB buffer map-side — no
    * 3×-corpus explode/shuffle), the top-20 query set comes from an
    * exact count (`TakeOrderedAndProject`, no global window), and the
    * output pins estimate, truth, and the realized one-sided overcount
    * per token. cms_est ≥ exact_cnt ALWAYS (spec-pinned).
    */
  def h03(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(TextOps.tokens(TextOps.normalize($"text"))).as("token"))
      .persistScoped() // counters + exact counts both read the tokenized scan
    val counters = CountMin.buildAgg(toks, "token")
    val top = toks.groupBy($"token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy($"exact_cnt".desc, $"token").limit(20)
    val est = CountMin.estimate(top.select($"token"), "token", counters)
    top.join(est, Seq("token"))
      .select($"token", $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overcount"))
      .orderBy($"exact_cnt".desc, $"token")
  }

  /** h05 — mergeable fixed-range HISTOGRAM as a native aggregate
    * ([[graft.functions.HistAggExpr]] — the DISTRIBUTION member of the
    * native family beside KMV/HLL/CMS): per-priority order totals fold
    * into one 66-slot integer histogram per group (ONE
    * ObjectHashAggregate, 528-byte buffers), and quantile EDGES are
    * read off the cumulative sums with exact integer rank arithmetic
    * (`ceil(n·k/100)`), so p25/p50/p75/p90 are bin lower bounds — pure
    * longs, bit-replayable. The deliberately-low range cap [0, $320k)
    * populates the overflow slot, pinning the clamp semantics. The
    * DuckDB oracle replays bin assignment, cumsums, and the same rank
    * formula; zero-count slots can't shift the min-edge pick because
    * cumulative sums are monotone in slot order.
    */
  def h05(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    val (lo, hi, bins) = (0L, 32000000L, 64)
    val width = (hi - lo) / bins
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"), gf.fixed($"o_totalprice", 100.0).as("cents"))
    val hist = o.groupBy($"prio")
      .agg(call_function("graft_hist_agg", $"cents",
        lit(lo), lit(hi), lit(bins)).as("hist"))
    val slots = hist.select($"prio", posexplode($"hist").as(Seq("slot", "cnt")))
    val byPrio = org.apache.spark.sql.expressions.Window.partitionBy($"prio")
    val scored = slots
      .withColumn("cum", sum($"cnt").over(byPrio.orderBy($"slot")))
      .withColumn("n", sum($"cnt").over(byPrio))
      .withColumn("edge",
        when($"slot" === 0, lo).when($"slot" === bins + 1, hi)
          .otherwise(lit(lo) + ($"slot" - 1) * lit(width)))
    def pEdge(k: Int) =
      min(when($"cum" >= expr(s"(n * $k + 99) div 100"), $"edge")).as(s"p${k}_edge")
    scored.groupBy($"prio")
      .agg(max($"n").as("n_orders"),
        pEdge(25), pEdge(50), pEdge(75), pEdge(90),
        max(when($"slot" === bins + 1, $"cnt")).as("n_overflow"))
      .orderBy($"prio")
  }

  private[queries] val h05Oracle: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |b AS (
      |  SELECT prio,
      |    CASE WHEN cents < 0 THEN 0
      |         WHEN cents >= 32000000 THEN 65
      |         ELSE 1 + (cents * 64) // 32000000 END AS slot
      |  FROM o),
      |g AS (SELECT prio, slot, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
      |s AS (
      |  SELECT prio, slot, cnt,
      |    sum(cnt) OVER (PARTITION BY prio ORDER BY slot) AS cum,
      |    sum(cnt) OVER (PARTITION BY prio) AS n,
      |    CASE WHEN slot = 0 THEN 0 WHEN slot = 65 THEN 32000000
      |         ELSE (slot - 1) * 500000 END AS edge
      |  FROM g)
      |SELECT prio, CAST(max(n) AS BIGINT) AS n_orders,
      |  CAST(min(CASE WHEN cum >= (n * 25 + 99) // 100 THEN edge END) AS BIGINT) AS p25_edge,
      |  CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN edge END) AS BIGINT) AS p50_edge,
      |  CAST(min(CASE WHEN cum >= (n * 75 + 99) // 100 THEN edge END) AS BIGINT) AS p75_edge,
      |  CAST(min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN edge END) AS BIGINT) AS p90_edge,
      |  CAST(coalesce(max(CASE WHEN slot = 65 THEN cnt END), 0) AS BIGINT) AS n_overflow
      |FROM s GROUP BY prio ORDER BY prio""".stripMargin

  /** h04 — KMV sketch SET ALGEBRA (what [[Hll]] cannot do): the 1995
    * and 1996 active-customer sets are sketched with k=256 minimum
    * hash values each, merged into the union sketch, and the union
    * sample's membership in each operand estimates Jaccard and
    * intersection size — next to the exact values, so the accuracy
    * envelope rides the driver row like h01's. Three
    * TakeOrderedAndProject top-k's + two semi-joins against the 256-row
    * sample; every estimate is a fixed IEEE chain on exact integers
    * (oracle-identical), and the exact columns are plain counts.
    */
  def h04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = Kmv.K
    val o = Tables.load(spark, dir, "orders")
    def keys(y: Int) = o.filter(year($"o_orderdate") === y)
      .select($"o_custkey".as("key")).distinct()
    val a = keys(1995).persistScoped() // sketch + membership + exact count
    val b = keys(1996).persistScoped()
    // Per-operand sketches materialized ONCE (they already fed
    // uh_a/uh_b); the union sketch is [[Kmv.merge]] of the two ≤k-row
    // sketches — bit-identical to re-sketching A∪B (mix64 is a
    // bijection, so bottom-k(A∪B) ⊆ ska ∪ skb) without the base-data
    // union+distinct pass the old shape ran.
    val ska = Kmv.sketch(a, "key", k).localCheckpoint()
    val skb = Kmv.sketch(b, "key", k).localCheckpoint()
    val skU = Kmv.merge(ska, skb, k).localCheckpoint() // ≤256 rows, 3 consumers
    val nBoth = skU.join(a, Seq("key"), "left_semi")
      .join(b, Seq("key"), "left_semi")
      .agg(count(lit(1)).as("n_sample_both"))
    def sc(df: DataFrame) = broadcast(df) // 1-row scalar frames
    // |A∪B| = |A| + |B| − |A∩B| exactly — the second full union+distinct
    // pass the old n_union aggregate ran is pure arithmetic now
    val nUnion = $"n_a" + $"n_b" - $"n_inter"
    val estU = Kmv.estimate($"uh_u", nUnion, k)
    a.agg(count(lit(1)).as("n_a"))
      .crossJoin(sc(b.agg(count(lit(1)).as("n_b"))))
      .crossJoin(sc(a.join(b, Seq("key"), "left_semi")
        .agg(count(lit(1)).as("n_inter"))))
      .crossJoin(sc(ska.agg(max($"uh").as("uh_a"))))
      .crossJoin(sc(skb.agg(max($"uh").as("uh_b"))))
      .crossJoin(sc(skU.agg(max($"uh").as("uh_u"))))
      .crossJoin(sc(nBoth))
      .select(lit(k).as("k"),
        $"n_a", $"n_b", nUnion.as("n_union"), $"n_inter", $"n_sample_both",
        gf.dround(Kmv.estimate($"uh_a", $"n_a", k), 2).as("est_a"),
        gf.dround(Kmv.estimate($"uh_b", $"n_b", k), 2).as("est_b"),
        gf.dround(estU, 2).as("est_union"),
        gf.dround($"n_sample_both".cast("double") * estU / k.toDouble, 2)
          .as("est_inter"),
        gf.dround($"n_sample_both".cast("double") / k.toDouble, 4)
          .as("jaccard_sample"))
  }

  /** q68 — KMV WINDOWED distinct (q63's documented scale swap made a
    * driver row): per-day bottom-k sketches of the distinct-customer
    * hashes, merged over the trailing-90-day window, estimate per
    * (prio, day). Where q63's exact form carries each day's FULL
    * distinct-customer set through the window (sets get wide at
    * 100 TB), this carries ≤ k=256 longs per day — window work is
    * bounded by 91·k regardless of daily cardinality, and a merged
    * sketch holding < k hashes IS the exact answer (operand sketches
    * are subsets, so all were exact). Per-day bottom-k as ONE
    * [[Kmv.sketchAgg]] hash aggregation over RAW order rows (the typed
    * sketch buffer dedups and caps in-place — this fused three jobs of
    * the original form: the distinct, the `row_number ≤ k` window sort,
    * and the separate n_day count now riding the same agg), merge via
    * flatten+distinct+sort of ≤ 91 sorted k-arrays. The ORACLE
    * replays the identical splitmix64 mix + bottom-k + window merge in
    * DuckDB (h04's HUGEINT machinery + a RANGE window) — one hash,
    * unchanged across the sketchAgg swap. SketchesSpec pins the
    * estimate inside the k-envelope of q63's exact counts.
    */
  def q68(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.NativeExprs.ensureRegistered(spark)
    val k = Kmv.K
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"),
        datediff($"o_orderdate", lit("1992-01-01").cast("date")).as("day"),
        $"o_custkey")
    val daySk = o.select($"prio", $"day", Kmv.uhCol($"o_custkey").as("uh"))
      .groupBy($"prio", $"day")
      .agg(Kmv.sketchAgg($"uh", k).as("sk"), count(lit(1)).as("n_day"))
    val w = Window.partitionBy($"prio").orderBy($"day").rangeBetween(-90, 0)
    daySk.select($"prio", $"day",
        sum($"n_day").over(w).as("n_orders_90d"),
        array_sort(array_distinct(flatten(collect_list($"sk").over(w)))).as("mg"))
      .select($"prio", $"day", $"n_orders_90d",
        least(size($"mg"), lit(k)).cast("long").as("n_sk"),
        gf.dround(Kmv.estimate(element_at($"mg", k), size($"mg"), k), 2)
          .as("est_cust_90d"))
      .orderBy($"prio", $"day")
  }

  /** Executed micro-batch count of the most recent [[q69]] run in this
    * JVM — the multi-batch spec's observability hook (q56's pattern).
    */
  @volatile private[graft] var q69Batches: Int = -1

  /** q69 — q68's sketch LIVE: the same per-day KMV bottom-k + trailing
    * 90-day merge, but executed as a real `transformWithState` stream
    * ([[graft.streaming.SketchStream]]) — per-priority MapState holds
    * the bounded day sketches, event-time TIMERS emit each day's
    * window estimate as the watermark passes its end, and the emission
    * frontier evicts days no future window can reach. The replay is
    * split on the median order day plus a far-future sentinel
    * (mtime-stamped slices, one file per micro-batch), so estimates
    * for early days emit batches BEFORE the late days' data arrives —
    * real incremental emission, not a drained-topic one-shot. Because
    * KMV insertion is order-independent and a day only emits once its
    * watermark passes, the streamed rows are HASH-IDENTICAL to batch
    * q68 — the oracle is q68's DuckDB replay verbatim, and the stream/
    * batch estimate share one IEEE chain ([[Kmv.estimate]] applied to
    * the emitted (mg_size, uh_k) pairs).
    */
  def q69(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.{Replay, SketchStream}
    val k = Kmv.K
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"),
        datediff($"o_orderdate", lit("1992-01-01").cast("date")).as("day"),
        $"o_orderdate".cast("timestamp").as("ts"),
        $"o_custkey".as("cust"))
    val b = o.agg(min($"day"), max($"day"), max($"ts")).head()
    val cutDay = b.getInt(0) + (b.getInt(1) - b.getInt(0)) / 2
    val sentinel = o.sparkSession.range(1)
      .select(lit("~sentinel").as("prio"), lit(b.getInt(1) + 200).as("day"),
        (lit(b.getTimestamp(2)) + expr("INTERVAL 200 DAYS")).as("ts"),
        lit(0L).as("cust"))
    val replay = s"/root/repo/target/q69_replay-${new java.io.File(dir).getName}"
    Replay.writeSlices(replay,
      Seq(o.filter($"day" < cutDay), o.filter($"day" >= cutDay), sentinel))
    val schema = StructType(Seq(
      StructField("prio", StringType), StructField("day", IntegerType),
      StructField("ts", TimestampType), StructField("cust", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(replay)
      .withWatermark("ts", "1 day").as[SketchStream.OrderArrival]
    val out = SketchStream.windowedDistinct(stream, k, windowDays = 90)
    val sink = s"q69_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q69").toString
    // r12 A/B (medians of 3): 8 parts + snapshot ckpt 6.6 s → 4 parts
    // + CHANGELOG checkpointing 5.4 s. The cost is per-batch per-store
    // fixed work (RocksDB open/commit + snapshot upload), so fewer
    // stores than keys-ish (5 priorities → 4) and changelog (commit
    // ships the delta, not the full store) both bite; 2 parts REGRESSES
    // (6.8 s) — the timer-expiry loops then serialize on 2 cores.
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") {
      out.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    q69Batches = q.recentProgress.length
    spark.table(sink)
      .filter($"prio" =!= "~sentinel")
      .select($"prio", $"day", $"n_orders_90d",
        least($"mg_size", lit(k)).cast("long").as("n_sk"),
        gf.dround(Kmv.estimate($"uh_k", $"mg_size", k), 2).as("est_cust_90d"))
      .orderBy($"prio", $"day")
  }

  /** q72 — the KMV sketch as a NATIVE mergeable aggregate
    * ([[graft.functions.KmvAggExpr]] via [[Kmv.sketchAgg]]): per-priority
    * distinct-customer estimates from ONE `groupBy(prio).agg(...)` over
    * the raw order rows — no pre-distinct, no per-row hash shuffle, no
    * top-k window. Spark plans the typed aggregate as a two-phase
    * ObjectHashAggregate: every task folds its rows into a bounded
    * bottom-256 sorted set, the shuffle carries one ≤ 2 KB serialized
    * buffer per (prio, task), and the final merge unions sketches — the
    * map-side-combine shape per-group sketching needs at 100 TB
    * (NativeAggSpec pins plan shape, duplicate immunity, and equality
    * with the [[Kmv.sketch]] dataflow). Estimate and accuracy columns
    * ride the row like h01's; sub-k groups take the exact path
    * (sf0.001 exercises it, sf≥0.01 saturates the estimator).
    */
  def q72(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    val k = Kmv.K
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderpriority".as("prio"), $"o_custkey")
    val sk = o.select($"prio", Kmv.uhCol($"o_custkey").as("uh"))
      .groupBy($"prio").agg(Kmv.sketchAgg($"uh", k).as("sk"))
      .select($"prio", size($"sk").cast("long").as("n_sk"),
        element_at($"sk", -1).as("uh_k"))
    val exact = o.groupBy($"prio").agg(countDistinct($"o_custkey").as("n_exact"))
    val est = Kmv.estimate($"uh_k", $"n_sk", k)
    sk.join(exact, Seq("prio"))
      .select($"prio", $"n_exact", $"n_sk",
        gf.dround(est, 2).as("est_kmv"),
        gf.dround((est - $"n_exact") / $"n_exact", 4).as("rel_err"))
      .orderBy($"prio")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h01_hll_distinct" -> h01,
    "h02_histogram_quantiles" -> h02,
    "h03_countmin_freq" -> h03,
    "h04_kmv_setops" -> h04,
    "h05_native_histogram" -> h05,
    "q68_kmv_windowed_distinct" -> q68,
    "q69_kmv_stream_distinct" -> q69,
    "q72_kmv_native_agg" -> q72,
    "c05_heavy_hitters" -> c05
  )

  private val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  val oracles: Map[String, String] = Map(
    "h01_hll_distinct" -> DuckSketchSql.h01,
    "h04_kmv_setops" -> DuckSketchSql.h04,
    "h05_native_histogram" -> h05Oracle,
    "q68_kmv_windowed_distinct" -> DuckSketchSql.q68,
    // q69: the stream must land on the batch sketch exactly — its
    // oracle IS q68's replay (every real day finalizes via the sentinel)
    "q69_kmv_stream_distinct" -> DuckSketchSql.q68,
    "q72_kmv_native_agg" -> DuckSketchSql.q72,
    "h03_countmin_freq" -> DuckSketchSql.h03,
    "h02_histogram_quantiles" ->
      """WITH m AS (SELECT l_returnflag AS g,
        |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
        |       FROM lineitem),
        |dom AS (SELECT g, min(c) AS lo, max(c) AS hi, count(*) AS n FROM m GROUP BY 1),
        |b AS (SELECT m.g, ((m.c - d.lo) * 1024) // (d.hi - d.lo + 1) AS bin,
        |        count(*) AS cnt
        |      FROM m JOIN dom d ON m.g = d.g GROUP BY 1, 2),
        |cum AS (SELECT b.g, b.bin, d.lo, d.hi, d.n,
        |          sum(b.cnt) OVER (PARTITION BY b.g ORDER BY b.bin
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |        FROM b JOIN dom d ON b.g = d.g),
        |pick AS (SELECT g, max(n) AS n_items,
        |    min(CASE WHEN cm >= (n * 50 + 99) // 100
        |             THEN lo + (bin * (hi - lo + 1) + 1023) // 1024 END) AS p50l,
        |    min(CASE WHEN cm >= (n * 50 + 99) // 100
        |             THEN lo + ((bin + 1) * (hi - lo + 1) + 1023) // 1024 - 1 END) AS p50h,
        |    min(CASE WHEN cm >= (n * 90 + 99) // 100
        |             THEN lo + (bin * (hi - lo + 1) + 1023) // 1024 END) AS p90l,
        |    min(CASE WHEN cm >= (n * 90 + 99) // 100
        |             THEN lo + ((bin + 1) * (hi - lo + 1) + 1023) // 1024 - 1 END) AS p90h,
        |    min(CASE WHEN cm >= (n * 99 + 99) // 100
        |             THEN lo + (bin * (hi - lo + 1) + 1023) // 1024 END) AS p99l,
        |    min(CASE WHEN cm >= (n * 99 + 99) // 100
        |             THEN lo + ((bin + 1) * (hi - lo + 1) + 1023) // 1024 - 1 END) AS p99h
        |  FROM cum GROUP BY g)
        |SELECT g AS l_returnflag, n_items,
        |  round(CAST(p50l AS DOUBLE) / 100.0, 2) AS p50_lo,
        |  round(CAST(p50h AS DOUBLE) / 100.0, 2) AS p50_hi,
        |  round(CAST(p90l AS DOUBLE) / 100.0, 2) AS p90_lo,
        |  round(CAST(p90h AS DOUBLE) / 100.0, 2) AS p90_hi,
        |  round(CAST(p99l AS DOUBLE) / 100.0, 2) AS p99_lo,
        |  round(CAST(p99h AS DOUBLE) / 100.0, 2) AS p99_hi
        |FROM pick ORDER BY l_returnflag""".stripMargin,
    "c05_heavy_hitters" ->
      s"""WITH n AS (SELECT $normSql AS norm FROM documents),
         |tok AS (SELECT unnest(string_split(norm, ' ')) AS token FROM n),
         |tot AS (SELECT count(*) AS n_total FROM tok),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
         |SELECT c.token, c.cnt, tot.n_total
         |FROM c, tot WHERE c.cnt * 200 > tot.n_total
         |ORDER BY cnt DESC, token""".stripMargin
  )
}
