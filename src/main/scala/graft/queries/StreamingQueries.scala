package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.operators.{LoopPar, Pyramid}
import graft.streaming.StreamJobs
import graft.sources.Tables

/** Oracle-checkable instantiations of the [[graft.streaming.StreamJobs]]
  * transforms on the batch events table.
  *
  * Because every stream job is a pure transform that also accepts a batch
  * frame, running it over the whole events table reproduces exactly what
  * the reference's trigger-once consumers computed over a fully drained
  * topic (one micro-batch = the whole table — SURVEY.md §2.7 T5). The
  * DuckDB oracles model the tumbling window as `time_bucket` and the
  * sliding window as an explicit 3-way window-start expansion.
  */
object StreamingQueries {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  private def baselines(spark: SparkSession, dir: String): DataFrame =
    Pyramid.baselines(events(spark, dir), col("event_type"), col("ts"), col("value"))

  private def epoch(c: Column): Column = unix_timestamp(c)

  /** q16 = SQ1: tumbling-window average vs baseline (stream-static join). */
  def q16(spark: SparkSession, dir: String): DataFrame =
    StreamJobs.sq1VsBaseline(events(spark, dir), baselines(spark, dir))
      .select(
        col("entity"), epoch(col("window_start")).as("window_start"),
        col("n_events"),
        gf.dround(col("avg_value"), 3).as("avg_value"),
        gf.dround(col("baseline_avg"), 3).as("baseline_avg"),
        gf.dround(col("pct_of_baseline"), 2).as("pct_of_baseline"))
      .orderBy(col("entity"), col("window_start"))

  /** q17 = SQ2: sliding-window averages + trend classification. */
  def q17(spark: SparkSession, dir: String): DataFrame =
    StreamJobs.sq2TrendAnalyze(StreamJobs.slidingWindowAvg(events(spark, dir)))
      .select(
        col("entity"), epoch(col("window_start")).as("window_start"),
        col("n_events"),
        gf.dround(col("avg_value"), 3).as("avg_value"),
        gf.dround(col("prev_avg"), 3).as("prev_avg"),
        col("trend"))
      .orderBy(col("entity"), col("window_start"))

  /** q18 = SQ3: per-window top-5 users by average value (dense_rank). */
  def q18(spark: SparkSession, dir: String): DataFrame =
    StreamJobs.sq3TopUsers(events(spark, dir), 5)
      .select(
        epoch(col("window_start")).as("window_start"), col("user_id"),
        gf.dround(col("avg_value"), 3).as("avg_value"),
        col("n_events"), col("rnk"))
      .orderBy(col("window_start"), col("rnk"), col("user_id"))

  /** q19 = SQ4: demux two logical streams, window join, classify. */
  def q19(spark: SparkSession, dir: String): DataFrame =
    StreamJobs.sq4DemuxJoin(events(spark, dir))
      .select(
        epoch(col("window_start")).as("window_start"),
        gf.dround(col("activity_avg"), 3).as("activity_avg"),
        col("n_activity"),
        gf.dround(col("signal_avg"), 3).as("signal_avg"),
        col("n_signal"),
        gf.dround(col("score"), 3).as("score"),
        col("above_signal"), col("status"))
      .orderBy(col("window_start"))

  /** q20 = SQ5: current vs historical entity ranking, anomaly flag. */
  def q20(spark: SparkSession, dir: String): DataFrame =
    StreamJobs.sq5RankAnomaly(events(spark, dir), baselines(spark, dir))
      .select(
        col("entity"), epoch(col("window_start")).as("window_start"),
        gf.dround(col("avg_value"), 3).as("avg_value"),
        col("current_rank"), col("hist_rank"),
        col("rank_gap"), col("is_anomaly"))
      .orderBy(col("entity"), col("window_start"))

  /** q41 = SQ6/SQ7's batch twin: the stream-stream INTERVAL join (each
    * click left-joined to every same-user error in the following hour)
    * run over the drained events table — the last shipped streaming
    * operator class to get a driver CORRECTNESS row (round-4 verdict
    * item 5). `sq7ClickErrorLeftOuter` is the same code the live
    * watermarked stream runs; on batch frames it is the plain interval
    * join, which DuckDB reproduces directly. Unmatched clicks carry the
    * outer nulls (the rows a stream emits only after the error-side
    * watermark passes). Timestamps output as exact epoch MICROS — raw
    * event times have sub-second parts, and `unix_micros`/`epoch_us`
    * are both exact integer conversions (no second-rounding skew).
    */
  def q41(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    StreamJobs.sq7ClickErrorLeftOuter(ev, ev)
      .select(
        col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        col("click_value"),
        unix_micros(col("error_ts")).as("error_us"),
        col("error_value"))
      .orderBy(col("user_id"), col("click_us"), col("click_value"),
        asc_nulls_first("error_us"), asc_nulls_first("error_value"))
  }

  /** q42 = S7's driver row: JSON decode of Kafka `value` payloads —
    * valid AND malformed — through the REAL `KafkaSource.parseJson`
    * transform (the code a live stream runs), driven over a
    * connector-shaped batch frame derived from events:
    *
    *   - each event serializes to a JSON record assembled by string
    *     concat (ts to the second, doubles via cast — Java's
    *     shortest-round-trip repr, so decode returns the SAME bits and
    *     the oracle can read the parquet double directly);
    *   - the raw `props` column (already a `{"k": N}` JSON object in
    *     the testdata) embeds verbatim as a NESTED object, decoded via
    *     a nested struct schema — the oracle re-derives k with a
    *     regexp so no DuckDB json extension is assumed;
    *   - every 13th record is TRUNCATED mid-string: from_json's
    *     PERMISSIVE contract keeps the row with all-null fields, and
    *     the oracle mirrors it with a CASE on the same modulus;
    *   - `offset` (= event_id) passes through the flatten via the
    *     connector-column `keep` hook — the exactly-once-dedup shape.
    */
  def q42(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ev = events(spark, dir)
    val json = concat(
      lit("{\"ts\":\""), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
      lit("\",\"event_type\":\""), col("event_type"),
      lit("\",\"user_id\":"), col("user_id").cast("string"),
      lit(",\"value\":"), col("value").cast("string"),
      lit(",\"props\":"), col("props"), lit("}"))
    val raw = ev.select(
      col("event_id").as("offset"),
      concat(lit("events-"), pmod(col("event_id"), lit(2)).cast("string")).as("topic"),
      when(pmod(col("event_id"), lit(13)) === 0, substring(json, 1, 12))
        .otherwise(json).cast("binary").as("value"))
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("user_id", LongType),
      StructField("value", DoubleType),
      StructField("props", StructType(Seq(StructField("k", IntegerType))))))
    graft.sources.KafkaSource.parseJson(raw, schema, keep = Seq("offset"))
      .select(col("topic"), col("offset").as("event_id"),
        epoch(col("ts")).as("ts_s"), col("event_type"), col("user_id"),
        col("value"), col("props.k").as("prop_k"),
        col("event_type").isNotNull.as("is_valid"))
      .orderBy(col("topic"), col("event_id"))
  }

  /** q48 — the LIVE streaming funnel, driver-oracled: events are
    * replayed as files through [[graft.streaming.FunnelStream
    * .funnelStream]] — a REAL `flatMapGroupsWithState` execution
    * (append mode, event-time timeouts) under `Trigger.AvailableNow`
    * into a memory sink — and the emitted (user, stage, ts) records
    * are compared to q43's funnel SQL melted to the same shape. A
    * far-future sentinel rides a SECOND file (later mod time) with
    * `maxFilesPerTrigger=1`, so the watermark advances across
    * micro-batches exactly as on a live stream and the final
    * no-data batch flushes every candidate-wake timeout; the sentinel
    * user is filtered from the output. Replay dir is sf-keyed (the
    * q46 fixture-race lesson).
    */
  def q48(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.model.Schemas.Event
    import graft.sources.KafkaSource
    import graft.streaming.FunnelStream
    val stages = Seq("signup", "view", "click", "purchase")
    val ev = events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    val replay = s"/root/repo/target/q48_replay-${new java.io.File(dir).getName}"
    graft.streaming.Replay.writeSlices(replay, Seq(
      ev,
      ev.agg(max(col("ts")).as("mx"))
        .select((col("mx") + expr("INTERVAL 30 DAYS")).as("ts"),
          lit(stages.head).as("event_type"), lit(-1L).as("user_id"),
          lit(0.0).as("value"))))
    val stream = spark.readStream.schema(KafkaSource.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(replay).as[Event]
    val sink = s"q48_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q48").toString
    // the stateful stream's cost is per-batch state-store tasks, not
    // data volume — run it at 8 state partitions instead of the batch
    // session's 32 (the stream snapshots the conf at start; restored
    // immediately after so batch queries are unaffected)
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      FunnelStream.funnelStream(stream, stages).writeStream
        .format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(sink)
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("stage"),
        unix_micros(col("stage_ts")).as("stage_us"))
      .orderBy(col("user_id"), col("stage"))
  }

  /** q108 — the LIVE stream-stream LEFT OUTER interval join,
    * driver-oracled (q41 is its batch twin; this row runs the real
    * watermarked two-sided join state machine). The replay FORCES
    * every match across micro-batches: slice 1 carries everything but
    * the error events, slice 2 only the errors — so each click is
    * BUFFERED in join state for at least one batch before its error
    * can arrive, and unmatched clicks emit their outer nulls only
    * when the error-side watermark finally passes (slice 3's
    * far-future sentinels — one CLICK and one ERROR, because each
    * side's watermark node only sees rows surviving its own filter —
    * plus the AvailableNow no-data batch). The DuckDB oracle is q41's
    * verbatim: matching hashes prove no pair was dropped at a batch
    * boundary, no outer row emitted early or lost, none duplicated.
    */
  def q108(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.KafkaSource
    import graft.QueryCaches.CacheOps
    // three consumers below (click slice, error slice, max scan) —
    // one materialization instead of three full events passes
    val ev = events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      .persistScoped()
    val replay = s"/root/repo/target/q108_replay-${new java.io.File(dir).getName}"
    // ONE max(ts) pass serves both sentinel types (was: one per type)
    val mxTs = ev.agg(max(col("ts")).as("mx")).head().getTimestamp(0)
    require(mxTs != null, "q108: empty events source — no sentinel basis")
    def sentinel(tpe: String) = spark.range(1)
      .select((lit(mxTs) + expr("INTERVAL 30 DAYS")).as("ts"),
        lit(tpe).as("event_type"), lit(-1L).as("user_id"), lit(0.0).as("value"))
    // only the two joined types ride the replay — every other event
    // would just be scanned and filtered by both branches (the q103
    // fan-out-trim lesson: harness rows cost real bench time)
    graft.streaming.Replay.writeSlices(replay, Seq(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "error"),
      sentinel("click").unionByName(sentinel("error"))))
    val stream = spark.readStream.schema(KafkaSource.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(replay)
    val sink = s"q108_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q108").toString
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      StreamJobs.sq7ClickErrorLeftOuter(stream, stream).writeStream
        .format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(sink)
      .filter(col("user_id") =!= -1L)
      .select(
        col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        col("click_value"),
        unix_micros(col("error_ts")).as("error_us"),
        col("error_value"))
      .orderBy(col("user_id"), col("click_us"), col("click_value"),
        asc_nulls_first("error_us"), asc_nulls_first("error_value"))
  }

  /** q49 — streaming dedup driver-oracled: events plus planted
    * VERBATIM duplicate rows (every user_id % 7 == 0 event repeated)
    * replay through the real `dropDuplicatesWithinWatermark` (all
    * columns) under AvailableNow. Because the planted duplicates are
    * bitwise-identical rows, whichever arrival survives is the same
    * row — so the streamed survivor set is deterministic and equals
    * DISTINCT over the union, which (planted ⊆ events) is DISTINCT
    * over events itself. Append mode emits rows as processed (state
    * exists only to suppress future duplicates), so no sentinel is
    * needed. `value` passes through untouched — no arithmetic, both
    * engines read the identical parquet double bits (the q42
    * precedent).
    */
  def q49(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.model.Schemas.Event
    import graft.sources.KafkaSource
    import graft.QueryCaches.CacheOps
    // both union branches read one materialization (was: two scans)
    val ev = events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      .persistScoped()
    val replay = s"/root/repo/target/q49_replay-${new java.io.File(dir).getName}"
    ev.unionByName(ev.filter(col("user_id") % 7 === 0))
      .coalesce(1).write.mode("overwrite").parquet(replay)
    val stream = spark.readStream.schema(KafkaSource.eventSchema)
      .parquet(replay).as[Event]
    val sink = s"q49_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q49").toString
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(sink)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy(col("user_id"), col("ts_us"), col("event_type"), col("value"))
  }

  /** q53 — CHAINED stateful aggregation in one streaming query
    * (multiple-stateful-operator support, SPARK-40925): hourly windowed
    * aggregates re-aggregated into daily windows by a second
    * `window(window, "1 day")` stage downstream — the streaming form
    * of the q21→q22 rollup pyramid, where the wide input never reaches
    * the second operator (it sees only hourly rows: the map-side-
    * pyramid economics, in-query). Replayed as files under
    * AvailableNow; TWO far-future sentinels ride separate files
    * (maxFilesPerTrigger=1) because each watermark hop finalizes one
    * stage per micro-batch under the conservative downstream-late-
    * filtering rule — sentinel 1 flushes the hourly stage, sentinel 2
    * plus the final no-data batch flush the daily stage. The oracle
    * computes the daily rollup STRAIGHT from events — matching hashes
    * prove no window was dropped, double-counted, or mis-nested
    * across the two stateful stages.
    */
  def q53(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.KafkaSource
    val ev = events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    val replay = s"/root/repo/target/q53_replay-${new java.io.File(dir).getName}"
    // ONE max(ts) pass serves both sentinel slices (was: one full
    // events scan per sentinel); the scalar rides into the slices as a
    // literal — same timestamp+interval arithmetic, same sentinel rows
    val mxTs = ev.agg(max(col("ts")).as("mx")).head().getTimestamp(0)
    require(mxTs != null, "q53: empty events source — no sentinel basis")
    graft.streaming.Replay.writeSlices(replay, ev +: Seq(30, 60).map(days =>
      spark.range(1)
        .select((lit(mxTs) + expr(s"INTERVAL $days DAYS")).as("ts"),
          lit("sentinel").as("event_type"), lit(-1L).as("user_id"),
          lit(0.0).as("value"))))
    val stream = spark.readStream.schema(KafkaSource.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(replay)
    val hourly = stream.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(gf.fixed(col("value"), 100.0)).as("cents"))
    val daily = hourly
      .groupBy(window(col("window"), "1 day"), col("event_type"))
      .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("total_cents"))
    val sink = s"q53_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q53").toString
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      daily.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(sink)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_timestamp(col("window.start")).as("day_start"),
        col("event_type"), col("n_events"), col("total_cents"))
      .orderBy(col("day_start"), col("event_type"))
  }

  /** q62 — [[graft.streaming.ProfileStream]] driver-oracled: the
    * MapState/ListState half of the arbitrary-state API (q54 covers
    * ValueState). Single replay file ⇒ one micro-batch ⇒ each user's
    * one emitted profile carries the full history: per-type MapState
    * counts, the 5-slot ListState recent ring, dominant type with the
    * lexicographic tie rule. The oracle recomputes every field
    * relationally — per-type counts, rank-1 type, and the span of the
    * top-5 event-time multiset.
    */
  def q62(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.model.Schemas.Event
    import graft.sources.KafkaSource
    import graft.streaming.ProfileStream
    val ev = events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    val replay = s"/root/repo/target/q62_replay-${new java.io.File(dir).getName}"
    ev.coalesce(1).write.mode("overwrite").parquet(replay)
    val stream = spark.readStream.schema(KafkaSource.eventSchema)
      .parquet(replay).as[Event]
    val sink = s"q62_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q62").toString
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      ProfileStream.profiles(stream).writeStream
        .format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(sink)
      .select(col("user_id"), col("total_events"), col("n_types"),
        col("top_type"), col("top_count"), col("recent_n"),
        col("recent_span_us"))
      .orderBy(col("user_id"))
  }

  /** q54 — the NEW arbitrary-state API driver-oracled
    * ([[graft.streaming.OrdinalStream]], `transformWithState` on the
    * RocksDB state store): per-user event ordinals assigned by a
    * `ValueState[Long]` counter. Single replay file ⇒ one micro-batch
    * ⇒ the processor's per-key (ts, type, value) sort makes ordinals
    * equal to the batch `row_number` the oracle computes. The provider
    * conf is snapshotted at `start()` and restored immediately (the
    * q48 shuffle-partitions pattern).
    */
  def q54(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.model.Schemas.Event
    import graft.sources.KafkaSource
    import graft.streaming.OrdinalStream
    val ev = events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    val replay = s"/root/repo/target/q54_replay-${new java.io.File(dir).getName}"
    ev.coalesce(1).write.mode("overwrite").parquet(replay)
    val stream = spark.readStream.schema(KafkaSource.eventSchema)
      .parquet(replay).as[Event]
    val sink = s"q54_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q54").toString
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      OrdinalStream.ordinals(stream).writeStream
        .format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(sink)
      .select(col("user_id"), col("seq"), col("ts_us"), col("event_type"),
        col("value"))
      .orderBy(col("user_id"), col("seq"))
  }

  /** Executed micro-batch count of the most recent [[q56]] run in this
    * JVM — observability hook for the multi-batch merge spec (the
    * memory-sink result alone can't show how many batches built it).
    */
  @volatile private[graft] var q56Batches: Int = -1

  /** The (cut1, cut2) epoch-micros boundaries the most recent [[q56]]
    * run staggered its replay on — the merge spec re-derives its
    * witness from raw events against these.
    */
  @volatile private[graft] var q56Cuts: (Long, Long) = (-1L, -1L)

  /** q56 — STREAMING session windows ACROSS micro-batches: the same
    * built-in `session_window(ts, "30 minutes")` as batch q38, but
    * executed as a real stateful streaming aggregation (merging-session
    * state — the one streaming state shape q48/q49/q53/q54 don't
    * exercise: sessions in state MERGE when a bridging event arrives,
    * and only finalize when the watermark passes `end`). The replay is
    * STAGGERED over four files drained one per micro-batch
    * (`maxFilesPerTrigger=1`): two data-derived cuts (see below) each
    * DEFER the slice (cut−40 min, cut−20 min] into the NEXT file —
    * those bridge events are within the 2-hour watermark when they
    * arrive late, and the cut placement guarantees a user with events
    * on both sides of the slice at < 30-min gaps lands in state as TWO
    * sessions that the deferred event then MERGES, the cross-batch
    * merge path a single-file drain never runs. A far-future sentinel
    * rides the last file so the watermark passes every real session's
    * end and append mode flushes them all; the sentinel's own session
    * (user −1) never finalizes and is filtered. Oracle: q29's
    * independent gaps-and-islands SQL VERBATIM — the streamed merge
    * state, the batch `session_window`, and the custom
    * flatMapGroupsWithState machine (q29) must all agree row-for-row,
    * proving the staggered delivery changed nothing.
    */
  def q56(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.KafkaSource
    import graft.QueryCaches.CacheOps
    // six consumers (bridge-triple window pass, min/max agg, three
    // slice filters, sentinel max) — one materialization instead of
    // six full events passes
    val ev = events(spark, dir)
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      .persistScoped()
    val replay = s"/root/repo/target/q56_replay-${new java.io.File(dir).getName}"
    // DATA-DERIVED cuts: find a "bridge triple" — consecutive per-user
    // events a < b < c with b−a < 30 m, c−b < 30 m, c−a ≥ 30 m — and
    // place the cut so b falls in the deferred slice (cut−40 m,
    // cut−20 m] while a and c stay in the earlier file. Any cut in
    // [max(c, a+40m, b+20m), min(b+40m, c+20m)) does it, and that
    // interval is provably nonempty for every qualifying triple; the
    // midpoint keeps integer-micros slack on both sides. This
    // GUARANTEES the batch holding b merges two sessions already in
    // state, instead of hoping a fixed time-thirds boundary lands on
    // one. All comparisons in exact epoch micros.
    val uu = expr("unix_micros(ts)")
    val G = 1800000000L // 30 min, micros
    val (m20, m40) = (1200000000L, 2400000000L)
    val wju = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("u")
    val tris = ev.select(col("user_id"), uu.as("u"))
      .select(col("user_id"), col("u"),
        lag(col("u"), 1).over(wju).as("a"), lead(col("u"), 1).over(wju).as("c"))
      .filter(col("a").isNotNull && col("c").isNotNull &&
        col("u") - col("a") < G && col("c") - col("u") < G &&
        col("c") - col("a") >= G)
      .orderBy(col("u"), col("a"), col("user_id"))
      .limit(64).collect()
      .map(r => (r.getLong(2), r.getLong(1), r.getLong(3))) // (a, b, c)
    def cutFor(t: (Long, Long, Long)): Long = {
      val (a, b, c) = t
      val lo = math.max(c, math.max(a + m40, b + m20))
      val hi = math.min(b + m40, c + m20)
      lo + (hi - lo) / 2
    }
    val bs = ev.agg(expr("min(unix_micros(ts))").as("mn"),
      expr("max(unix_micros(ts))").as("mx"),
      max(col("ts")).as("mxTs")).head()
    val (mnUs, mxUs) = (bs.getLong(0), bs.getLong(1))
    val mxTs = bs.getTimestamp(2)
    require(mxTs != null, "q56: empty events source — no sentinel basis")
    val cut1 = tris.headOption.map(cutFor)
      .getOrElse(mnUs + (mxUs - mnUs) / 3)
    val cut2 = tris.find(_._1 > cut1).map(cutFor)
      .getOrElse(math.max(cut1 + 1L, (cut1 + mxUs) / 2))
    q56Cuts = (cut1, cut2)
    def deferCond(cutUs: Long) = uu > cutUs - m40 && uu <= cutUs - m20
    // priority partition (file3 first) keeps the three filters disjoint
    // even when a fallback cut2 lands within 40 min of cut1
    val inF3 = deferCond(cut2) || uu >= cut2
    val inF2 = !inF3 && (deferCond(cut1) || uu >= cut1)
    // sentinel derives from the max(ts) the `bs` aggregate already
    // fetched — the fourth slice costs zero scans
    graft.streaming.Replay.writeSlices(replay, Seq(
      ev.filter(!inF3 && !inF2), ev.filter(inF2), ev.filter(inF3),
      spark.range(1)
        .select((lit(mxTs) + expr("INTERVAL 30 DAYS")).as("ts"),
          lit("sentinel").as("event_type"), lit(-1L).as("user_id"),
          lit(0.0).as("value"))))
    val stream = spark.readStream.schema(KafkaSource.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(replay)
    val sessions = stream.withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        unix_timestamp(min(col("ts"))).as("session_start"),
        unix_timestamp(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"))
    val sink = s"q56_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-q56").toString
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      sessions.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    q56Batches = q.recentProgress.length
    spark.table(sink)
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q53_chained_window_agg" -> q53,
    "q54_ordinals_tws" -> q54,
    "q62_profile_tws" -> q62,
    "q56_stream_sessions" -> q56,
    "q16_window_vs_baseline" -> q16,
    "q17_sliding_trend" -> q17,
    "q18_window_topk" -> q18,
    "q19_demux_window_join" -> q19,
    "q20_rank_anomaly" -> q20,
    "q41_stream_interval_join" -> q41,
    "q108_stream_join_replay" -> q108,
    "q48_funnel_stream" -> q48,
    "q49_stream_dedup" -> q49,
    "q42_json_decode" -> q42)

  /** The interval-join oracle, shared by q41 (batch twin) and q108
    * (live replayed stream-stream join).
    */
  private val intervalJoinSql: String =
    """WITH c AS (
      |  SELECT user_id, ts AS click_ts, value AS click_value
      |  FROM events WHERE event_type = 'click'),
      |e AS (
      |  SELECT user_id AS e_user, ts AS error_ts, value AS error_value
      |  FROM events WHERE event_type = 'error')
      |SELECT c.user_id,
      |  epoch_us(click_ts) AS click_us,
      |  click_value,
      |  epoch_us(error_ts) AS error_us,
      |  error_value
      |FROM c LEFT JOIN e ON c.user_id = e.e_user
      |  AND error_ts >= click_ts
      |  AND error_ts <= click_ts + INTERVAL 1 HOUR
      |ORDER BY user_id, click_us, click_value,
      |  error_us NULLS FIRST, error_value NULLS FIRST""".stripMargin

  private val vCents = "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"

  /** Baseline CTE shared by q16/q20 — identical to the q24 oracle. */
  private val baselineCte =
    s"""bl AS (
       |  SELECT event_type AS entity,
       |    CAST(month(ts) AS INT) AS month,
       |    CAST(hour(ts) AS INT) AS hour,
       |    dayofweek(CAST(ts AS DATE)) IN (0, 6) AS is_weekend,
       |    CAST(sum($vCents) AS DOUBLE) / count(*) / 100.0 AS baseline_avg
       |  FROM events GROUP BY 1, 2, 3, 4)""".stripMargin

  private val hourlyCte =
    s"""win AS (
       |  SELECT event_type AS entity,
       |    time_bucket(INTERVAL '1 hour', ts) AS w,
       |    CAST(sum($vCents) AS DOUBLE) / count(*) / 100.0 AS avg_value,
       |    count(*) AS n_events
       |  FROM events GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    // q56: the q29/q38 gaps-and-islands oracle verbatim — three
    // implementations (custom state machine, batch session_window,
    // streamed merge state) pinned to one independent formulation
    "q56_stream_sessions" -> graft.queries.DataOps.oracles("q29_sessionize"),
    // q53: the daily rollup computed in ONE hop from raw events — the
    // streaming side must arrive at the same numbers through two
    // chained stateful stages (1 h windows nest exactly in UTC days)
    "q53_chained_window_agg" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY day_start, event_type""".stripMargin,
    // q54: ordinals == batch row_number under the same per-user total
    // order (duplicate (ts,type,value) rows are interchangeable, so
    // the output SET is unaffected by their internal order)
    // q62: n_types/total as BIGINT; the top-5 recent ring is the ts
    // multiset's 5 largest values — row_number over equal ts picks
    // arbitrarily but the VALUE at rank 5 is well-defined
    "q62_profile_tws" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, event_type AS top_type, cnt AS top_count,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY cnt DESC, event_type) AS rk,
        |    CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS total_events,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_types
        |  FROM c),
        |r AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |  FROM events),
        |ring AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS recent_n,
        |    max(us) - min(us) AS recent_span_us
        |  FROM r WHERE rn <= 5 GROUP BY 1)
        |SELECT t.user_id, t.total_events, t.n_types, t.top_type,
        |  t.top_count, ring.recent_n, ring.recent_span_us
        |FROM t JOIN ring ON t.user_id = ring.user_id
        |WHERE t.rk = 1
        |ORDER BY t.user_id""".stripMargin,
    "q54_ordinals_tws" ->
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_type, value) AS BIGINT) AS seq,
        |  epoch_us(ts) AS ts_us, event_type, value
        |FROM events
        |ORDER BY user_id, seq""".stripMargin,
    "q49_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, epoch_us(ts) AS ts_us, value
        |FROM events
        |ORDER BY user_id, ts_us, event_type, value""".stripMargin,
    "q48_funnel_stream" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |  WHERE e.event_type = 'view' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |  JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t3
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |m AS (
        |  SELECT user_id, 0 AS stage, t1 AS st FROM s1
        |  UNION ALL SELECT user_id, 1, t2 FROM s2
        |  UNION ALL SELECT user_id, 2, t3 FROM s3
        |  UNION ALL SELECT user_id, 3, t4 FROM s4)
        |SELECT user_id, CAST(stage AS INT) AS stage, epoch_us(st) AS stage_us
        |FROM m ORDER BY user_id, stage""".stripMargin,
    "q16_window_vs_baseline" ->
      s"""WITH $hourlyCte,
         |$baselineCte
         |SELECT win.entity AS entity, CAST(epoch(w) AS BIGINT) AS window_start,
         |  n_events,
         |  round(avg_value, 3) AS avg_value,
         |  round(baseline_avg, 3) AS baseline_avg,
         |  round(avg_value / baseline_avg * 100, 2) AS pct_of_baseline
         |FROM win
         |LEFT JOIN bl ON win.entity = bl.entity
         |  AND CAST(month(w) AS INT) = bl.month
         |  AND CAST(hour(w) AS INT) = bl.hour
         |  AND (dayofweek(CAST(w AS DATE)) IN (0, 6)) = bl.is_weekend
         |ORDER BY win.entity, window_start""".stripMargin,
    "q17_sliding_trend" ->
      s"""WITH slid AS (
         |  SELECT event_type AS entity,
         |    time_bucket(INTERVAL '1 hour', ts) - k.k * INTERVAL '1 hour' AS w,
         |    CAST(sum($vCents) AS DOUBLE) / count(*) / 100.0 AS avg_value,
         |    count(*) AS n_events
         |  FROM events CROSS JOIN (VALUES (0), (1), (2)) k(k)
         |  GROUP BY 1, 2),
         |t AS (
         |  SELECT *, lag(avg_value) OVER (PARTITION BY entity ORDER BY w) AS prev_avg
         |  FROM slid)
         |SELECT entity, CAST(epoch(w) AS BIGINT) AS window_start, n_events,
         |  round(avg_value, 3) AS avg_value,
         |  round(prev_avg, 3) AS prev_avg,
         |  CASE WHEN prev_avg IS NULL THEN 'stable'
         |       WHEN avg_value > prev_avg * 1.1 THEN 'rising'
         |       WHEN avg_value < prev_avg * 0.9 THEN 'falling'
         |       ELSE 'stable' END AS trend
         |FROM t ORDER BY entity, window_start""".stripMargin,
    "q18_window_topk" ->
      s"""WITH uw AS (
         |  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS w,
         |    CAST(sum($vCents) AS DOUBLE) / count(*) / 100.0 AS avg_value,
         |    count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |r AS (
         |  SELECT *, CAST(dense_rank() OVER (PARTITION BY w
         |    ORDER BY avg_value DESC, user_id) AS INT) AS rnk
         |  FROM uw)
         |SELECT CAST(epoch(w) AS BIGINT) AS window_start, user_id,
         |  round(avg_value, 3) AS avg_value, n_events, rnk
         |FROM r WHERE rnk <= 5
         |ORDER BY window_start, rnk, user_id""".stripMargin,
    "q19_demux_window_join" ->
      s"""WITH act AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
         |    CAST(sum($vCents) AS DOUBLE) / count(*) / 100.0 AS activity_avg,
         |    count(*) AS n_activity
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
         |sig AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
         |    CAST(sum($vCents) AS DOUBLE) / count(*) / 100.0 AS signal_avg,
         |    count(*) AS n_signal
         |  FROM events WHERE event_type = 'error' GROUP BY 1),
         |j AS (
         |  SELECT act.w, activity_avg, n_activity, signal_avg, n_signal,
         |    activity_avg * (1.0 + n_signal / 100.0) AS score,
         |    activity_avg > signal_avg AS above_signal
         |  FROM act JOIN sig ON act.w = sig.w)
         |SELECT CAST(epoch(w) AS BIGINT) AS window_start,
         |  round(activity_avg, 3) AS activity_avg, n_activity,
         |  round(signal_avg, 3) AS signal_avg, n_signal,
         |  round(score, 3) AS score, above_signal,
         |  CASE WHEN score > 30.0 AND above_signal THEN 'surging'
         |       WHEN score > 30.0 THEN 'active'
         |       WHEN score < 15.0 AND NOT above_signal THEN 'quiet_low'
         |       WHEN score < 15.0 THEN 'quiet'
         |       ELSE 'neutral' END AS status
         |FROM j ORDER BY window_start""".stripMargin,
    "q20_rank_anomaly" ->
      s"""WITH $hourlyCte,
         |$baselineCte,
         |hist AS (
         |  SELECT entity, month, hour, is_weekend,
         |    CAST(dense_rank() OVER (PARTITION BY month, hour, is_weekend
         |      ORDER BY baseline_avg DESC, entity) AS INT) AS hist_rank
         |  FROM bl),
         |cur AS (
         |  SELECT *, CAST(dense_rank() OVER (PARTITION BY w
         |    ORDER BY avg_value DESC, entity) AS INT) AS current_rank
         |  FROM win)
         |SELECT cur.entity AS entity, CAST(epoch(w) AS BIGINT) AS window_start,
         |  round(avg_value, 3) AS avg_value,
         |  current_rank, hist_rank,
         |  abs(current_rank - hist_rank) AS rank_gap,
         |  abs(current_rank - hist_rank) > 2 AS is_anomaly
         |FROM cur
         |LEFT JOIN hist ON cur.entity = hist.entity
         |  AND CAST(month(w) AS INT) = hist.month
         |  AND CAST(hour(w) AS INT) = hist.hour
         |  AND (dayofweek(CAST(w AS DATE)) IN (0, 6)) = hist.is_weekend
         |ORDER BY cur.entity, window_start""".stripMargin,
    "q41_stream_interval_join" -> intervalJoinSql,
    // the replayed live join must converge to the batch twin's rows —
    // one oracle serves both, which IS the check
    "q108_stream_join_replay" -> intervalJoinSql,
    "q42_json_decode" ->
      """SELECT concat('events-', CAST(event_id % 2 AS VARCHAR)) AS topic,
        |  event_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE CAST(epoch(date_trunc('second', ts)) AS BIGINT) END AS ts_s,
        |  CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END AS event_type,
        |  CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS user_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE CAST(regexp_extract(props, '[0-9]+') AS INT) END AS prop_k,
        |  event_id % 13 <> 0 AS is_valid
        |FROM events
        |ORDER BY topic, event_id""".stripMargin)
}
