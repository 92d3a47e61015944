package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EpaConsumers

/** The reference's five consumers on designed fixtures, asserting the
  * published output contracts (SURVEY.md §2.9 items 11–12 thresholds).
  */
class EpaConsumersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("epa-consumers-spec")

  def aqJson(ts: String, city: String, state: String, pm25: Double,
             pm10: Double = 1.0, o3: Double = 0.5, no2: Double = 0.4,
             so2: Double = 0.3, co: Double = 0.2): String =
    s"""{"timestamp":"$ts","city":"$city","state":"$state","aqi":50,
       |"aqi_category":"Moderate","dominant_pollutant":"pm25",
       |"pm25":$pm25,"pm10":$pm10,"o3":$o3,"no2":$no2,"so2":$so2,"co":$co}"""
      .stripMargin.replace("\n", "")

  def wxJson(ts: String, city: String, state: String, wind: Double, cloud: Double): String =
    s"""{"timestamp":"$ts","city":"$city","state":"$state","temperature_c":20.0,
       |"humidity_pct":50.0,"wind_speed_kmh":$wind,"wind_direction_deg":180.0,
       |"pressure_hpa":1013.0,"cloud_cover_pct":$cloud,"precipitation_mm":0.0}"""
      .stripMargin.replace("\n", "")

  def raw(values: Seq[String]): DataFrame = {
    import spark.implicits._
    values.toDF("value")
  }

  // Baseline: CA avg 10.0 at hour 10, weekday (2024-03-01 = Friday)
  lazy val baselines: DataFrame = {
    import spark.implicits._
    Seq(("CA", 10, 3, false, 10.0), ("TX", 10, 3, false, 20.0))
      .toDF("state_name", "bl_hour", "bl_month", "bl_is_weekend", "baseline_avg")
  }

  test("sq1: pct_of_baseline with reference rounding (1 dp)") {
    val aq = EpaConsumers.parse(raw(Seq(
      aqJson("2024-03-01T10:05:00Z", "LA", "CA", 12.0),
      aqJson("2024-03-01T10:35:00Z", "SF", "CA", 13.0))), EpaConsumers.aqSchema)
    val out = EpaConsumers.sq1VsBaseline(aq, baselines).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Double]("avg_pm25") == 12.5)
    assert(r.getAs[Double]("baseline_avg") == 10.0)
    assert(r.getAs[Double]("pct_of_baseline") == 125.0)
  }

  test("sq2: dominant pollutant tie order + ±10% trend on rounded values") {
    val aq = EpaConsumers.parse(raw(Seq(
      // sliding windows: 08:00→{10}, 09:00→{10,14} avg 12 (+20% → rising)
      aqJson("2024-03-01T10:05:00Z", "LA", "CA", 10.0),
      aqJson("2024-03-01T11:05:00Z", "LA", "CA", 14.0),
      // tie case: NV pm25 == pm10 == 7 → pm25 wins (listed first)
      aqJson("2024-03-01T10:05:00Z", "RE", "NV", 7.0, pm10 = 7.0))),
      EpaConsumers.aqSchema)
    val out = EpaConsumers.sq2Analyze(EpaConsumers.sq2Window(aq)).collect()
    val nv = out.filter(_.getAs[String]("state") == "NV").head
    assert(nv.getAs[String]("dominant_pollutant") == "pm25") // tie → listed order
    val ca = out.filter(_.getAs[String]("state") == "CA")
      .sortBy(_.getAs[java.sql.Timestamp]("window_start").getTime)
    assert(ca.head.getAs[String]("trend") == "stable") // first window: null lag
    // sliding windows: the window starting 10:00 holds only h10 data (10.0),
    // 11:00 holds only h11 (12.0) → somewhere a rising transition appears
    assert(ca.exists(_.getAs[String]("trend") == "rising"))
  }

  test("sq3: top-5 cities per window by dense_rank") {
    val cities = (1 to 7).map(i => aqJson("2024-03-01T10:05:00Z", s"C$i", "CA", i * 1.0))
    val aq = EpaConsumers.parse(raw(cities), EpaConsumers.aqSchema)
    val out = EpaConsumers.sq3Analyze(EpaConsumers.sq3Window(aq)).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[String]("city")).toSet == Set("C7", "C6", "C5", "C4", "C3"))
    assert(out.find(_.getAs[String]("city") == "C7").get.getAs[Int]("rank") == 1)
  }

  test("sq4: ventilation classification hits the reference branches") {
    val aq = EpaConsumers.parse(raw(Seq(
      aqJson("2024-03-01T10:05:00Z", "LA", "CA", 8.0), // below baseline 10
      aqJson("2024-03-01T10:05:00Z", "HOU", "TX", 25.0))), // above baseline 20
      EpaConsumers.aqSchema)
    val wx = EpaConsumers.parse(raw(Seq(
      wxJson("2024-03-01T10:10:00Z", "LA", "CA", 25.0, 40.0), // score 35 > 30
      wxJson("2024-03-01T10:10:00Z", "HOU", "TX", 10.0, 20.0))), // score 12 < 15
      EpaConsumers.wxSchema)
    val out = EpaConsumers.sq4Analyze(aq, wx, baselines).collect()
    val la = out.find(_.getAs[String]("city") == "LA").get
    assert(la.getAs[Double]("ventilation_score") == 35.0)
    assert(la.getAs[String]("status") == "self_cleaning") // high vent, below baseline
    val hou = out.find(_.getAs[String]("city") == "HOU").get
    assert(hou.getAs[Double]("ventilation_score") == 12.0)
    assert(hou.getAs[String]("status") == "accumulating") // low vent, above baseline
  }

  test("sq5: current vs historical rank with gap>10 anomaly rule") {
    // 12 states in baselines; current readings invert the order for S1
    import spark.implicits._
    val bl = (1 to 12).map(i => (s"S$i", 10, 3, false, 100.0 - i))
      .toDF("state_name", "bl_hour", "bl_month", "bl_is_weekend", "baseline_avg")
    val hist = EpaConsumers.sq5HistoricalRanks(bl)
    // S1 historically rank 1 now reads lowest → current rank 12, gap 11;
    // everyone else keeps baseline order (shift ≤ 1)
    val readings = (1 to 12).map(i =>
      aqJson("2024-03-01T10:05:00Z", s"C$i", s"S$i", if (i == 1) 1.0 else 100.0 - i))
    val aq = EpaConsumers.parse(raw(readings), EpaConsumers.aqSchema)
    val out = EpaConsumers.sq5Analyze(EpaConsumers.sq5Window(aq), hist).collect()
    val s1 = out.find(_.getAs[String]("state") == "S1").get
    assert(s1.getAs[Int]("historical_rank") == 1)
    assert(s1.getAs[Int]("current_rank") == 12)
    assert(s1.getAs[Boolean]("is_unusual"))
    assert(out.count(_.getAs[Boolean]("is_unusual")) == 1) // others shift ≤ 10
  }
}
