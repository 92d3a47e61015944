package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's five streaming consumers (ASVSP `consumer1..5.py`),
  * re-expressed as pure transforms over the reference's own stream and
  * baseline schemas, preserving every published output contract:
  * column names, rounding points (2 dp averages, 1 dp pct/wind/cloud),
  * threshold constants (±10% trend, ventilation >30/<15, rank gap >10),
  * and the dominant-pollutant tie order pm25→pm10→o3→no2→so2→co
  * (SURVEY.md §2.9 items 11–12).
  *
  * Split per the reference's design (SURVEY.md §3.3): `*Window` stages
  * are streaming-safe (watermark + windowed agg, incremental state);
  * `*Analyze` stages use rank/lag and run per micro-batch inside
  * `foreachBatch` ([[Sinks.runAvailableNow]]) — or directly on a batch
  * frame, which reproduces the trigger-once answer.
  *
  * `baselines` inputs use the reference's projected shape:
  * (state_name, bl_hour, bl_month, bl_is_weekend, baseline_avg),
  * pre-filtered to one pollutant and broadcast (`consumer1.py:50-62`
  * caches it; broadcast is the cluster-correct equivalent).
  */
object EpaConsumers {

  /** `consumer1.py:14-27` — air-quality stream payload. */
  val aqSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType), StructField("city", StringType),
    StructField("state", StringType), StructField("aqi", IntegerType),
    StructField("aqi_category", StringType),
    StructField("dominant_pollutant", StringType),
    StructField("pm25", DoubleType), StructField("pm10", DoubleType),
    StructField("o3", DoubleType), StructField("no2", DoubleType),
    StructField("so2", DoubleType), StructField("co", DoubleType)))

  /** `consumer4.py:29-40` — weather stream payload. */
  val wxSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType), StructField("city", StringType),
    StructField("state", StringType), StructField("temperature_c", DoubleType),
    StructField("humidity_pct", DoubleType), StructField("wind_speed_kmh", DoubleType),
    StructField("wind_direction_deg", DoubleType), StructField("pressure_hpa", DoubleType),
    StructField("cloud_cover_pct", DoubleType), StructField("precipitation_mm", DoubleType)))

  /** S7 + P12: decode a Kafka-shaped `value` string column and restore
    * the event timestamp. Batch- and stream-polymorphic.
    */
  def parse(raw: DataFrame, schema: StructType): DataFrame = {
    val d = raw.select(from_json(col("value").cast("string"), schema).as("d"))
      .select("d.*")
      .withColumn("timestamp", to_timestamp(col("timestamp")))
    if (d.isStreaming) d.withWatermark("timestamp", "2 hours") else d
  }

  private def calendarKeys(df: DataFrame): DataFrame = df
    .withColumn("hr", hour(col("timestamp")))
    .withColumn("mo", month(col("timestamp")))
    .withColumn("is_wknd", dayofweek(col("timestamp")).isin(1, 7))

  /** SQ1 (`consumer1.py:64-88`): hourly PM2.5 vs historical baseline. */
  def sq1VsBaseline(aq: DataFrame, baselines: DataFrame): DataFrame = {
    val agg = calendarKeys(aq)
      .groupBy(window(col("timestamp"), "1 hour"), col("state"),
        col("hr"), col("mo"), col("is_wknd"))
      .agg(avg(col("pm25")).as("avg_pm25"))
    agg.join(broadcast(baselines),
        agg("state") === baselines("state_name") &&
          agg("hr") === baselines("bl_hour") &&
          agg("mo") === baselines("bl_month") &&
          agg("is_wknd") === baselines("bl_is_weekend"), "left")
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("state"),
        round(col("avg_pm25"), 2).as("avg_pm25"),
        round(col("baseline_avg"), 2).as("baseline_avg"),
        round(col("avg_pm25") / col("baseline_avg") * 100, 1).as("pct_of_baseline"))
  }

  /** SQ2 stream stage (`consumer2.py:50-72`): sliding 3h/1h six-pollutant
    * averages, rounded at 2 dp (the trend stage operates on the rounded
    * values — reference fidelity).
    */
  def sq2Window(aq: DataFrame): DataFrame =
    aq.groupBy(window(col("timestamp"), "3 hours", "1 hour"), col("state"))
      .agg(
        avg("pm25").as("a1"), avg("pm10").as("a2"), avg("o3").as("a3"),
        avg("no2").as("a4"), avg("so2").as("a5"), avg("co").as("a6"))
      .select(
        col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("state"),
        round(col("a1"), 2).as("avg_pm25"), round(col("a2"), 2).as("avg_pm10"),
        round(col("a3"), 2).as("avg_o3"), round(col("a4"), 2).as("avg_no2"),
        round(col("a5"), 2).as("avg_so2"), round(col("a6"), 2).as("avg_co"))

  /** SQ2 batch stage (`consumer2.py:80-126`): dominant pollutant (P17 +
    * P18 tie order) and ±10% trend vs the previous window (W15 — lag
    * state lives within one micro-batch, as in the reference).
    */
  def sq2Analyze(windowed: DataFrame): DataFrame = {
    val withDominant = windowed
      .withColumn("max_conc", greatest(col("avg_pm25"), col("avg_pm10"),
        col("avg_o3"), col("avg_no2"), col("avg_so2"), col("avg_co")))
      .withColumn("dominant_pollutant",
        when(col("max_conc") === col("avg_pm25"), "pm25")
          .when(col("max_conc") === col("avg_pm10"), "pm10")
          .when(col("max_conc") === col("avg_o3"), "o3")
          .when(col("max_conc") === col("avg_no2"), "no2")
          .when(col("max_conc") === col("avg_so2"), "so2")
          .otherwise("co"))
    val w = Window.partitionBy(col("state")).orderBy(col("window_start"))
    withDominant
      .withColumn("prev_max_conc", lag(col("max_conc"), 1).over(w))
      .withColumn("trend",
        when(col("prev_max_conc").isNull, "stable")
          .when((col("max_conc") - col("prev_max_conc")) / col("prev_max_conc") > 0.10,
            "rising")
          .when((col("prev_max_conc") - col("max_conc")) / col("prev_max_conc") > 0.10,
            "falling")
          .otherwise("stable"))
      .select(col("window_start"), col("window_end"), col("state"),
        col("dominant_pollutant"), round(col("max_conc"), 2).as("dominant_conc"),
        col("trend"), col("avg_pm25"), col("avg_pm10"), col("avg_o3"),
        col("avg_no2"), col("avg_so2"), col("avg_co"))
  }

  /** SQ3 stream stage (`consumer3.py:53-57`): hourly city averages. */
  def sq3Window(aq: DataFrame): DataFrame =
    aq.groupBy(window(col("timestamp"), "1 hour"), col("city"), col("state"))
      .agg(avg(col("pm25")).as("avg_pm25"))

  /** SQ3 batch stage (`consumer3.py:62-76`): top-5 worst cities per
    * window via dense_rank (W13).
    */
  def sq3Analyze(windowed: DataFrame): DataFrame =
    windowed
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .withColumn("rank", dense_rank().over(
        Window.partitionBy(col("window_start")).orderBy(col("avg_pm25").desc)))
      .filter(col("rank") <= 5)
      .select(col("window_start"), col("window_end"), col("city"), col("state"),
        round(col("avg_pm25"), 2).as("avg_pm25"), col("rank"))

  /** SQ4 (`consumer4.py:100-174`): AQ ⋈ WX per-window join + ventilation
    * classification — all inside the micro-batch (J5/J6/P21/P22).
    * Inputs are the parsed per-batch frames.
    */
  def sq4Analyze(aq: DataFrame, wx: DataFrame, baselines: DataFrame): DataFrame = {
    val aqAgg = calendarKeys(aq)
      .groupBy(window(col("timestamp"), "1 hour"), col("city"), col("state"),
        col("hr"), col("mo"), col("is_wknd"))
      .agg(avg(col("pm25")).as("avg_pm25"))
    val wxAgg = wx
      .groupBy(window(col("timestamp"), "1 hour"), col("city"), col("state"))
      .agg(avg(col("wind_speed_kmh")).as("avg_wind"),
        avg(col("cloud_cover_pct")).as("avg_cloud"))
    val joined = aqAgg.as("a").join(wxAgg.as("w"),
        col("a.city") === col("w.city") && col("a.state") === col("w.state") &&
          col("a.window") === col("w.window"), "inner")
      .select(col("a.window").as("window"), col("a.city").as("city"),
        col("a.state").as("state"), col("a.hr").as("hr"), col("a.mo").as("mo"),
        col("a.is_wknd").as("is_wknd"), col("a.avg_pm25").as("avg_pm25"),
        col("w.avg_wind").as("avg_wind"), col("w.avg_cloud").as("avg_cloud"))
    joined.join(broadcast(baselines),
        joined("state") === baselines("state_name") &&
          joined("hr") === baselines("bl_hour") &&
          joined("mo") === baselines("bl_month") &&
          joined("is_wknd") === baselines("bl_is_weekend"), "left")
      .withColumn("ventilation_score",
        round(col("avg_wind") * (lit(1.0) + col("avg_cloud") / 100.0), 2))
      .withColumn("above_baseline", col("avg_pm25") > col("baseline_avg"))
      .withColumn("status",
        when(col("ventilation_score") > 30 && !col("above_baseline"), "self_cleaning")
          .when(col("ventilation_score") > 30 && col("above_baseline"), "dispersing")
          .when(col("ventilation_score") < 15 && col("above_baseline"), "accumulating")
          .when(col("ventilation_score") < 15 && !col("above_baseline"), "stable_low")
          .otherwise("neutral"))
      .select(
        col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("city"), col("state"),
        round(col("avg_pm25"), 2).as("avg_pm25"),
        round(col("baseline_avg"), 2).as("baseline_avg"),
        round(col("avg_wind"), 1).as("avg_wind_kmh"),
        round(col("avg_cloud"), 1).as("avg_cloud_pct"),
        col("ventilation_score"), col("status"))
  }

  /** SQ5 historical side (`consumer5.py:62-63`): dense_rank of states
    * per (hour, month, weekend) from the baselines (W14).
    */
  def sq5HistoricalRanks(baselines: DataFrame): DataFrame =
    baselines.withColumn("historical_rank", dense_rank().over(
      Window.partitionBy(col("bl_hour"), col("bl_month"), col("bl_is_weekend"))
        .orderBy(col("baseline_avg").desc)))

  /** SQ5 stream stage (`consumer5.py:65-73`): hourly state averages. */
  def sq5Window(aq: DataFrame): DataFrame =
    calendarKeys(aq)
      .groupBy(window(col("timestamp"), "1 hour"), col("state"),
        col("hr"), col("mo"), col("is_wknd"))
      .agg(avg(col("pm25")).as("current_avg"))

  /** SQ5 batch stage (`consumer5.py:79-105`): current vs historical
    * rank, unusual when the gap exceeds 10 (P19).
    */
  def sq5Analyze(windowed: DataFrame, historicalRanks: DataFrame): DataFrame = {
    val base = windowed
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
    base.join(broadcast(historicalRanks
          .select(col("state_name"), col("bl_hour"), col("bl_month"),
            col("bl_is_weekend"), col("historical_rank"))),
        base("state") === col("state_name") &&
          base("hr") === col("bl_hour") &&
          base("mo") === col("bl_month") &&
          base("is_wknd") === col("bl_is_weekend"), "left")
      .withColumn("current_rank", dense_rank().over(
        Window.partitionBy(col("window_start")).orderBy(col("current_avg").desc)))
      .withColumn("is_unusual", abs(col("current_rank") - col("historical_rank")) > 10)
      .select(col("window_start"), col("window_end"), col("state"),
        round(col("current_avg"), 2).as("current_avg"),
        col("current_rank"), col("historical_rank"), col("is_unusual"))
  }
}
