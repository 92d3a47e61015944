package epabench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Pyramid
import graft.queries.EpaQueries
import graft.sources.MeasurementIngest
import graft.streaming.Sinks

/** `epa_batch`: the reference batch DAG, one pass per operation —
  * CSV ingest → hourly → daily → monthly → annual → baselines →
  * Q01–Q10 → JDBC export — over generated EPA-shaped CSV. Set-up runs
  * one pass over the same input as a warm-up: the cold pass, as each
  * reference spark-submit runs it, timed in `setup_s`.
  */
class BatchDag(env: Env) extends Workload {
  private val m = env.manifest
  private val raw = env.files(m.get("files"))
  private val csvBytes = m.get("bytes").asLong()
  private val csvRows = m.get("rows").asLong()
  private val out = env.dir("batch", "out")
  private def url(tag: String) = s"jdbc:derby:${env.dir("derby", tag)};create=true"
  /** Per-pass digests of the Q01–Q10 results; equal on every pass. */
  val queryDigests = ArrayBuffer[Seq[(String, String)]]()
  val queryRows = mutable.LinkedHashMap[String, Long]()

  def setup(): Unit = pass(raw, env.dir("batch", "warm"), url("warm"))

  def measure(seconds: Double): Loop =
    closedLoop(seconds, round = 1) { l =>
      l.opLatenciesMs += pass(raw, out, url("epa"))
      l.rows += csvRows
    }

  /** `PM25|California`: the pyramid's entity is pollutant × state. */
  private val entity = concat_ws("|", col("pollutant"), col("state_name"))
  private val ts = (col("date_local").cast("timestamp").cast("long") +
    col("hour_local") * 3600).cast("timestamp")
  private def split(df: DataFrame): DataFrame = df
    .withColumn("pollutant", substring_index(col("entity"), "|", 1))
    .withColumn("state_name", substring_index(col("entity"), "|", -1))
  /** NAAQS-style exceedance per pollutant (ppm after ingest for NO2/SO2). */
  private val exceeds: Column = {
    val p = substring_index(col("entity"), "|", 1)
    when(p === "PM25", col("daily_avg") > 35.0)
      .when(p === "NO2", col("daily_avg") > 0.053)
      .when(p === "SO2", col("daily_avg") > 0.075)
      .otherwise(false)
  }

  private def layers(dir: String) = Seq("hourly", "daily", "monthly", "annual", "baselines")
    .map(n => n -> s"$dir/$n").toMap

  /** One whole DAG pass; returns its wall time in ms. */
  private def pass(files: Seq[(String, String)], dir: String, jdbc: String): Double = {
    val spark = env.spark
    val p = layers(dir)
    val t0 = System.nanoTime()
    tracer.span("ingest", phase = true) {
      MeasurementIngest.writePartitionedByMonth(
        MeasurementIngest.ingestAll(spark, files), p("hourly"))
    }
    tracer.span("daily", phase = true) {
      split(Pyramid.daily(spark.read.parquet(p("hourly")), entity, ts, col("measurement")))
        .withColumn("year", year(col("date_local")))
        .withColumn("month", month(col("date_local")))
        .write.mode("overwrite").partitionBy("pollutant", "year", "month").parquet(p("daily"))
    }
    tracer.span("monthly", phase = true) {
      split(Pyramid.monthly(spark.read.parquet(p("daily")), exceeds))
        .write.mode("overwrite").partitionBy("pollutant", "year").parquet(p("monthly"))
    }
    tracer.span("annual", phase = true) {
      split(Pyramid.annual(spark.read.parquet(p("monthly"))))
        .write.mode("overwrite").partitionBy("pollutant").parquet(p("annual"))
    }
    tracer.span("baselines", phase = true) {
      split(Pyramid.baselines(spark.read.parquet(p("hourly")), entity, ts, col("measurement")))
        .write.mode("overwrite").partitionBy("pollutant").parquet(p("baselines"))
    }
    val results = tracer.span("queries", phase = true) {
      def pm25(n: String) = spark.read.parquet(p(n)).filter(col("pollutant") === "PM25")
      val (daily, monthly, annual) = (pm25("daily"), pm25("monthly"), pm25("annual"))
      BatchDag.queries(daily, monthly, annual).map { case (name, q) =>
        val (schema, rows) = tracer.span(name) { val df = q(); (df.schema, df.collect()) }
        (name, schema, rows)
      }
    }
    tracer.span("export", phase = true) {
      results.filter(r => BatchDag.Exported(r._1)).foreach { case (name, schema, rows) =>
        Sinks.jdbcOverwrite(spark.createDataFrame(rows.toSeq.asJava, schema), jdbc,
          name.toUpperCase)
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    queryDigests += results.map { case (n, _, rows) =>
      n -> Env.digest(BatchDag.determined(n, rows.toSeq).sorted)
    }
    results.foreach { case (n, _, rows) => queryRows(n) = rows.length.toLong }
    ms
  }

  def endToEnd(l: Loop, res: Result): Unit = {
    val p50 = Stats.median(l.opLatenciesMs.toSeq)
    res.num("op_p50_ms", p50)
    res.num("rows_per_s", csvRows / (p50 / 1e3))
    val p = layers(out)
    val stored = p.values.map(Env.dirBytes).sum
    res.num("stored_bytes_per_input_byte", stored.toDouble / csvBytes)
    res.num("batch_s", p50 / 1e3)
    res.num("passes", l.opLatenciesMs.size)
  }

  def layerMetrics(t: Tracer, l: Loop, res: Result): Unit = {
    val v = mutable.Map[String, Double]()
    def med(span: String) = Stats.median(t.spansNamed(span).map(_.durMs))
    v("sources.ingest_s") = med("ingest") / 1e3
    v("sources.ingest_mb_per_s") = csvBytes / 1e6 / v("sources.ingest_s")
    val p = layers(out)
    v("sources.hourly_mb") = Env.dirBytes(p("hourly")) / 1e6
    Seq("daily", "monthly", "annual", "baselines").foreach(n =>
      v(s"operators.${n}_s") = med(n) / 1e3)
    v("operators.pyramid_mb") =
      Seq("daily", "monthly", "annual", "baselines").map(n => Env.dirBytes(p(n))).sum / 1e6
    v("streaming.export_s") = med("export") / 1e3
    // the DAG writes parquet layers and never touches graftlake
    Layers.write(v.toMap, Layers.Lake.toSet, t, l, env.cores, res)
  }

  override def digest: String =
    queryDigests.lastOption.map(d => Env.digest(d.map(_._2))).getOrElse("")

  def check(): Seq[String] = {
    val problems = ArrayBuffer[String]()
    BatchDag.QueryNames.foreach { n =>
      val ds = queryDigests.map(_.toMap.apply(n)).distinct
      if (ds.size > 1) problems += s"$n results differ across passes: ${ds.mkString(" ")}"
    }
    val expected = m.get("expected_query_rows")
    BatchDag.QueryNames.foreach { n =>
      val (lo, hi) = (expected.get(n).get(0).asLong(), expected.get(n).get(1).asLong())
      val got = queryRows.getOrElse(n, -1L)
      if (got < lo || got > hi) problems += s"$n returned $got rows, generator implies $lo-$hi"
    }
    BatchDag.QueryNames.filter(BatchDag.Exported).foreach { n =>
      val back = Sinks.jdbcRead(env.spark, url("epa"), n.toUpperCase).count()
      if (back != queryRows.getOrElse(n, -1L))
        problems += s"export of $n holds $back rows, query returned ${queryRows.get(n)}"
    }
    problems.toSeq
  }
}

object BatchDag {
  val QueryNames: Seq[String] = (1 to 10).map(i => f"q$i%02d")
  /** The reference exports four results to its database. */
  val Exported: Set[String] = Set("q01", "q03", "q06", "q09")

  /** The part of a query's result that SQL fixes, one string per row.
    * Q02, Q03, Q06, Q08 and Q10 cut an ORDER BY at a LIMIT that may
    * fall inside a tie, and Q07's NTILE splits ties at a quartile edge
    * either way; for these only the key values are fixed (Q03: each
    * kept state's total; Q07: the days per state and quartile).
    */
  def determined(name: String, rows: Seq[Row]): Seq[String] = {
    def values(c: String) = rows.map(r => String.valueOf(r.getAs[Any](c)))
    name match {
      case "q02" => values("prosjek_najzagadjenijeg_mjeseca")
      case "q03" => rows.groupMapReduce(_.getAs[String]("drzava"))(
          _.getAs[Long]("kumulativna_prekoracenja"))(math.max).values.map(_.toString).toSeq
      case "q06" => values("vrsni_pokretni_prosjek_30d")
      case "q07" => rows.groupMapReduce(r => (r.getAs[String]("drzava"), r.getAs[Int]("kvartil")))(
          _.getAs[Long]("broj_dana"))(_ + _).map(_.toString).toSeq
      case "q08" => values("smanjenje_pct")
      case "q10" => values("najduzi_niz_mjeseci")
      case _ => rows.map(_.toString)
    }
  }

  def queries(daily: DataFrame, monthly: DataFrame, annual: DataFrame)
      : Seq[(String, () => DataFrame)] = Seq(
    "q01" -> (() => EpaQueries.q01StateRankingYoy(annual)),
    "q02" -> (() => EpaQueries.q02PeakMonth(monthly)),
    "q03" -> (() => EpaQueries.q03CumulativeExceedances(annual)),
    "q04" -> (() => EpaQueries.q04MonthOverMonth(monthly)),
    "q05" -> (() => EpaQueries.q05SameMonthYoy(monthly)),
    "q06" -> (() => EpaQueries.q06MovingAverage(daily)),
    "q07" -> (() => EpaQueries.q07PercentileClassification(daily)),
    "q08" -> (() => EpaQueries.q08CovidImpact(monthly)),
    "q09" -> (() => EpaQueries.q09WeekendEffect(daily)),
    "q10" -> (() => EpaQueries.q10ConsecutiveImprovement(monthly)))
}
