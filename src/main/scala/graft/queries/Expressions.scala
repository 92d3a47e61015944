package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.operators.WindowOps
import graft.sources.Tables

/** Scalar-expression and join-shape queries: when-chains, greatest/argmax,
  * abs, substring+cast, coalesce, IN-lists, EXISTS/NOT EXISTS, running
  * totals, and filter-inside-ON joins (SURVEY.md §2.2, §2.4).
  */
object Expressions {

  private def cents(c: Column) = gf.fixed(c, 100.0)
  private val centsSql = "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
  private val vCentsSql = "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"

  /** q09 — A5 conditional AVG (weekend vs weekday in one pass), P15
    * ratio, W11 dual rank (ASVSP `q09_weekend_effect.sql`).
    */
  def q09WeekendEffect(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val isWe = dayofweek(to_date(col("ts"))).isin(1, 7)
    val a = e.groupBy(col("event_type"))
      .agg(
        sum(when(isWe, cents(col("value")))).as("s_we"),
        sum(when(isWe, 1).otherwise(0)).as("n_we"),
        sum(when(!isWe, cents(col("value")))).as("s_wd"),
        sum(when(!isWe, 1).otherwise(0)).as("n_wd"))
      .withColumn("weekend_avg", gf.meanFromFixed(col("s_we"), col("n_we"), 100.0))
      .withColumn("weekday_avg", gf.meanFromFixed(col("s_wd"), col("n_wd"), 100.0))
      .withColumn("ratio", col("weekend_avg") / col("weekday_avg"))
    WindowOps.dualRank(a, Seq.empty, col("ratio"),
        bestCol = "rank_highest", worstCol = "rank_lowest")
      .select(
        col("event_type"),
        gf.dround(col("weekend_avg"), 3).as("weekend_avg"),
        gf.dround(col("weekday_avg"), 3).as("weekday_avg"),
        gf.dround(col("ratio"), 4).as("ratio"),
        col("rank_highest"), col("rank_lowest"))
      .orderBy(col("event_type"))
  }

  /** q10 — W8 running total over a 4-table join chain (region ⋈ nation ⋈
    * customer ⋈ orders), O1 multi-column final ordering (ASVSP
    * `annual_aggregation.py:37-44`). Dim tables broadcast.
    */
  def q10RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val n = Tables.load(spark, dir, "nation").select("n_nationkey", "n_regionkey")
    val r = Tables.load(spark, dir, "region")
    val yearly = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("year"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_f"))
    yearly
      .withColumn("cum_f",
        WindowOps.runningTotal(col("rev_f"), Seq(col("r_name")), Seq(col("year"))))
      .select(
        col("r_name"), col("year"),
        gf.dround(gf.sumFromFixed(col("rev_f"), 100.0), 2).as("revenue"),
        gf.dround(gf.sumFromFixed(col("cum_f"), 100.0), 2).as("cumulative_revenue"))
      .orderBy(col("r_name"), col("year"))
  }

  /** q11 — P17 `greatest`, P18 argmax-by-CASE with tie order preserved,
    * P19 `abs` (ASVSP `consumer2.py:83-96`, `consumer5.py:95`): dominant
    * priority per nation.
    */
  def q11GreatestArgmax(spark: SparkSession, dir: String): DataFrame = {
    val on = Analytics.ordersWithNation(spark, dir)
    val a = on.groupBy(col("n_name"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT", cents(col("o_totalprice")))).as("s_u"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("n_u"),
        sum(when(col("o_orderpriority") === "2-HIGH", cents(col("o_totalprice")))).as("s_h"),
        sum(when(col("o_orderpriority") === "2-HIGH", 1).otherwise(0)).as("n_h"),
        sum(when(col("o_orderpriority") === "3-MEDIUM", cents(col("o_totalprice")))).as("s_m"),
        sum(when(col("o_orderpriority") === "3-MEDIUM", 1).otherwise(0)).as("n_m"),
        sum(cents(col("o_totalprice"))).as("s_all"),
        count(lit(1)).as("n_all"))
      .withColumn("avg_urgent", gf.meanFromFixed(col("s_u"), col("n_u"), 100.0))
      .withColumn("avg_high", gf.meanFromFixed(col("s_h"), col("n_h"), 100.0))
      .withColumn("avg_medium", gf.meanFromFixed(col("s_m"), col("n_m"), 100.0))
      .withColumn("overall_avg", gf.meanFromFixed(col("s_all"), col("n_all"), 100.0))
      .withColumn("max_avg",
        greatest(col("avg_urgent"), col("avg_high"), col("avg_medium")))
      .withColumn("dominant_priority",
        when(col("max_avg") === col("avg_urgent"), "1-URGENT")
          .when(col("max_avg") === col("avg_high"), "2-HIGH")
          .otherwise("3-MEDIUM"))
      .withColumn("gap_from_overall", abs(col("max_avg") - col("overall_avg")))
    a.select(
        col("n_name"),
        gf.dround(col("avg_urgent"), 2).as("avg_urgent"),
        gf.dround(col("avg_high"), 2).as("avg_high"),
        gf.dround(col("avg_medium"), 2).as("avg_medium"),
        col("dominant_priority"),
        gf.dround(col("gap_from_overall"), 3).as("gap_from_overall"))
      .orderBy(col("n_name"))
  }

  /** q12 — P21 two-variable classification chain, P4 conditional unit
    * conversion, P6 label rewrite, P3 substring+cast (ASVSP
    * `load_hourly.py:36-79`, `consumer4.py:148-160`): part catalog
    * normalization + class stats.
    */
  def q12Classification(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "part")
    val enriched = p
      .withColumn("brand_num", substring(col("p_brand"), 7, 2).cast("int"))
      .withColumn("price_class",
        when(col("p_retailprice") > 1500.0 && col("p_size") > 25, "large_premium")
          .when(col("p_retailprice") > 1500.0, "premium")
          .when(col("p_size") > 25, "large")
          .otherwise("regular"))
      .withColumn("norm_price",
        when(col("p_type") === "PROMO", col("p_retailprice") / 1000.0)
          .otherwise(col("p_retailprice")))
      .withColumn("units",
        when(col("p_type") === "PROMO", "kilo-units").otherwise("units"))
    enriched.groupBy(col("p_type"), col("price_class"), col("units"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("brand_num")).as("brand_sum"),
        sum(gf.fixed(col("norm_price"), 100000.0)).as("np_f"))
      .select(
        col("p_type"), col("price_class"), col("units"), col("n_parts"),
        gf.dround(col("brand_sum").cast("double") / col("n_parts"), 2).as("avg_brand_num"),
        gf.dround(gf.meanFromFixed(col("np_f"), col("n_parts"), 100000.0), 3)
          .as("avg_norm_price"))
      .orderBy(col("p_type"), col("price_class"))
  }

  /** q13 — W3 rank per (nation, year), W4 rank over an aggregate, J1
    * equi-join with filter inside ON (ASVSP `q02_peak_months.sql:38`):
    * peak revenue month per nation-year ⋈ each nation's most frequent
    * peak month (`freq_rank = 1` in the join condition).
    */
  def q13PeakMonthJoin(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Analytics.ordersWithNation(spark, dir)
      .groupBy(col("n_name"), year(col("o_orderdate")).as("year"),
        month(col("o_orderdate")).as("month"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_f"))
    val peak = monthly.withColumn("rnk",
        WindowOps.rankBy(Seq(col("n_name"), col("year")),
          Seq(col("rev_f").desc, col("month"))))
      .filter(col("rnk") === 1)
    val freq = peak.groupBy(col("n_name").as("f_name"), col("month").as("f_month"))
      .agg(count(lit(1)).as("n_years"))
    val mf = freq.withColumn("freq_rank",
      WindowOps.rankBy(Seq(col("f_name")), Seq(col("n_years").desc, col("f_month"))))
    // mf is ≤ |nations|·12 rows at any scale — broadcast it so the
    // peak side never shuffles for this join (SortMergeJoin → BHJ)
    peak.join(broadcast(mf),
        peak("n_name") === mf("f_name") && mf("freq_rank") === 1, "inner")
      .select(
        col("n_name"), col("year"), col("month").as("peak_month"),
        gf.dround(gf.sumFromFixed(col("rev_f"), 100.0), 2).as("peak_revenue"),
        col("f_month").as("most_frequent_peak_month"),
        col("n_years"))
      .orderBy(col("n_name"), col("year"))
  }

  /** q14 — P9 IN-list predicates (priority strings + month ints), A7
    * min/max, O2 ordered limit (ASVSP `q08:9,19`, `q03:14`).
    */
  def q14IsinMinMax(spark: SparkSession, dir: String): DataFrame = {
    val on = Analytics.ordersWithNation(spark, dir)
    on.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        month(col("o_orderdate")).isin(3, 4, 5))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .select(col("n_name"), col("n_orders"),
        gf.dround(col("min_price"), 2).as("min_price"),
        gf.dround(col("max_price"), 2).as("max_price"))
      .orderBy(col("n_orders").desc, col("n_name"))
      .limit(15)
  }

  /** q15 — left-semi + left-anti joins (EXISTS / NOT EXISTS — beyond the
    * reference's operator set, standard for any engine): 1995-active vs
    * inactive customers per market segment. Semi/anti avoid materializing
    * the join payload — at scale they shuffle only keys.
    */
  def q15SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o95 = Tables.load(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey"))
    // EXISTS / NOT EXISTS as ONE existence join instead of a semi plus
    // an anti join (guide §2.4): the distinct-key left join marks each
    // customer once, so customer and orders are each scanned and
    // shuffled a single time and the semi/anti/full-outer trio
    // collapses into one conditional aggregation. Row-identical to the
    // two-join form: distinct keys guarantee no fan-out, a matched row
    // is exactly the semi set, an unmatched row exactly the anti set.
    val marked = c.join(o95.distinct(),
      c("c_custkey") === o95("o_custkey"), "left")
    marked.groupBy(col("c_mktsegment"))
      .agg(
        count(col("o_custkey")).as("n_active"),
        count(when(col("o_custkey").isNull, lit(1))).as("n_inactive"))
      .withColumn("n_total", col("n_active") + col("n_inactive"))
      .withColumn("active_pct",
        gf.dround(col("n_active") * 100.0 / col("n_total"), 3))
      .orderBy(col("c_mktsegment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q09_weekend_effect" -> q09WeekendEffect,
    "q10_running_total" -> q10RunningTotal,
    "q11_greatest_argmax" -> q11GreatestArgmax,
    "q12_classification" -> q12Classification,
    "q13_peak_month_join" -> q13PeakMonthJoin,
    "q14_isin_minmax" -> q14IsinMinMax,
    "q15_semi_anti" -> q15SemiAnti)

  val oracles: Map[String, String] = Map(
    "q09_weekend_effect" ->
      s"""WITH a AS (
         |  SELECT event_type,
         |    sum(CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6) THEN $vCentsSql END) AS s_we,
         |    CAST(sum(CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_we,
         |    sum(CASE WHEN dayofweek(CAST(ts AS DATE)) NOT IN (0, 6) THEN $vCentsSql END) AS s_wd,
         |    CAST(sum(CASE WHEN dayofweek(CAST(ts AS DATE)) NOT IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_wd
         |  FROM events GROUP BY 1),
         |b AS (
         |  SELECT event_type,
         |    CAST(s_we AS DOUBLE) / n_we / 100.0 AS weekend_avg,
         |    CAST(s_wd AS DOUBLE) / n_wd / 100.0 AS weekday_avg
         |  FROM a),
         |c AS (SELECT *, weekend_avg / weekday_avg AS ratio FROM b)
         |SELECT event_type,
         |  round(weekend_avg, 3) AS weekend_avg,
         |  round(weekday_avg, 3) AS weekday_avg,
         |  round(ratio, 4) AS ratio,
         |  CAST(rank() OVER (ORDER BY ratio DESC) AS INT) AS rank_highest,
         |  CAST(rank() OVER (ORDER BY ratio ASC) AS INT) AS rank_lowest
         |FROM c ORDER BY event_type""".stripMargin,
    "q10_running_total" ->
      s"""WITH yearly AS (
         |  SELECT r.r_name, CAST(year(o.o_orderdate) AS INT) AS year,
         |         sum($centsSql) AS rev_f
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  GROUP BY 1, 2),
         |w AS (
         |  SELECT *, CAST(sum(rev_f) OVER (PARTITION BY r_name ORDER BY year
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_f
         |  FROM yearly)
         |SELECT r_name, year,
         |  round(CAST(rev_f AS DOUBLE) / 100.0, 2) AS revenue,
         |  round(CAST(cum_f AS DOUBLE) / 100.0, 2) AS cumulative_revenue
         |FROM w ORDER BY r_name, year""".stripMargin,
    "q11_greatest_argmax" ->
      s"""WITH onat AS (
         |  SELECT o.*, n.n_name
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
         |a AS (
         |  SELECT n_name,
         |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN $centsSql END) AS s_u,
         |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
         |    sum(CASE WHEN o_orderpriority = '2-HIGH' THEN $centsSql END) AS s_h,
         |    CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_h,
         |    sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN $centsSql END) AS s_m,
         |    CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_m,
         |    sum($centsSql) AS s_all, count(*) AS n_all
         |  FROM onat GROUP BY 1),
         |b AS (
         |  SELECT n_name,
         |    CAST(s_u AS DOUBLE) / n_u / 100.0 AS avg_urgent,
         |    CAST(s_h AS DOUBLE) / n_h / 100.0 AS avg_high,
         |    CAST(s_m AS DOUBLE) / n_m / 100.0 AS avg_medium,
         |    CAST(s_all AS DOUBLE) / n_all / 100.0 AS overall_avg
         |  FROM a),
         |d AS (
         |  SELECT *, greatest(avg_urgent, avg_high, avg_medium) AS max_avg FROM b)
         |SELECT n_name,
         |  round(avg_urgent, 2) AS avg_urgent,
         |  round(avg_high, 2) AS avg_high,
         |  round(avg_medium, 2) AS avg_medium,
         |  CASE WHEN max_avg = avg_urgent THEN '1-URGENT'
         |       WHEN max_avg = avg_high THEN '2-HIGH'
         |       ELSE '3-MEDIUM' END AS dominant_priority,
         |  round(abs(max_avg - overall_avg), 3) AS gap_from_overall
         |FROM d ORDER BY n_name""".stripMargin,
    "q12_classification" ->
      """WITH e AS (
        |  SELECT p_type,
        |    CASE WHEN p_retailprice > 1500.0 AND p_size > 25 THEN 'large_premium'
        |         WHEN p_retailprice > 1500.0 THEN 'premium'
        |         WHEN p_size > 25 THEN 'large'
        |         ELSE 'regular' END AS price_class,
        |    CASE WHEN p_type = 'PROMO' THEN 'kilo-units' ELSE 'units' END AS units,
        |    CAST(substring(p_brand, 7, 2) AS INT) AS brand_num,
        |    CASE WHEN p_type = 'PROMO' THEN p_retailprice / 1000.0
        |         ELSE p_retailprice END AS norm_price
        |  FROM part)
        |SELECT p_type, price_class, units, count(*) AS n_parts,
        |  round(CAST(CAST(sum(brand_num) AS BIGINT) AS DOUBLE) / count(*), 2)
        |    AS avg_brand_num,
        |  round(CAST(sum(CAST(floor(norm_price * 100000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 100000.0, 3) AS avg_norm_price
        |FROM e GROUP BY 1, 2, 3
        |ORDER BY p_type, price_class""".stripMargin,
    "q13_peak_month_join" ->
      s"""WITH onat AS (
         |  SELECT o.*, n.n_name
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
         |monthly AS (
         |  SELECT n_name, CAST(year(o_orderdate) AS INT) AS year,
         |         CAST(month(o_orderdate) AS INT) AS month, sum($centsSql) AS rev_f
         |  FROM onat GROUP BY 1, 2, 3),
         |peak AS (
         |  SELECT * FROM (
         |    SELECT *, CAST(rank() OVER (PARTITION BY n_name, year
         |      ORDER BY rev_f DESC, month) AS INT) AS rnk FROM monthly)
         |  WHERE rnk = 1),
         |freq AS (
         |  SELECT n_name AS f_name, month AS f_month, count(*) AS n_years
         |  FROM peak GROUP BY 1, 2),
         |mf AS (
         |  SELECT *, CAST(rank() OVER (PARTITION BY f_name
         |    ORDER BY n_years DESC, f_month) AS INT) AS freq_rank FROM freq)
         |SELECT p.n_name, p.year, p.month AS peak_month,
         |  round(CAST(p.rev_f AS DOUBLE) / 100.0, 2) AS peak_revenue,
         |  mf.f_month AS most_frequent_peak_month,
         |  mf.n_years
         |FROM peak p JOIN mf ON p.n_name = mf.f_name AND mf.freq_rank = 1
         |ORDER BY p.n_name, p.year""".stripMargin,
    "q14_isin_minmax" ->
      """SELECT n.n_name, count(*) AS n_orders,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND month(o_orderdate) IN (3, 4, 5)
        |GROUP BY 1
        |ORDER BY n_orders DESC, n_name
        |LIMIT 15""".stripMargin,
    "q15_semi_anti" ->
      """WITH a AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
        |SELECT c_mktsegment,
        |  CAST(sum(CASE WHEN a.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN a.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive,
        |  count(*) AS n_total,
        |  round(CAST(sum(CASE WHEN a.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 100.0 / count(*), 3) AS active_pct
        |FROM customer c LEFT JOIN a ON c.c_custkey = a.o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)
}
