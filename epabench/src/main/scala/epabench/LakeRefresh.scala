package epabench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Pyramid
import graft.sources.{GraftLakeCatalog, MeasurementIngest}

/** `lake_refresh`: the daily refresh against graftlake tables. One
  * iteration is three operations — append one day of hourly rows,
  * merge that day's and the previous day's `Pyramid.daily` rows into
  * the daily table, and run one of Q01–Q10 (round-robin) over the lake.
  *
  * graftlake has no DATE type, so dates are `yyyy-MM-dd` strings. The
  * merge uses the DataFrame `mergeInto` API: SQL `MERGE INTO … USING
  * <temp view over another lake table>` fails planning (README.md,
  * "Known defect").
  */
class LakeRefresh(env: Env) extends Workload {
  private val m = env.manifest
  private case class Day(date: String, files: Seq[(String, String)], rows: Long, bytes: Long)
  private val days = m.get("days").elements().asScala.map { d =>
    val fs = d.get("files").elements().asScala.toSeq
    Day(d.get("date").asText(), fs.map(f => f.get(0).asText() -> f.get(1).asText()),
      fs.map(_.get(2).asLong()).sum, fs.map(_.get(3).asLong()).sum)
  }.toSeq
  private val historyFiles = env.files(m.get("history_files"))
  private val historyBytes = m.get("bytes").asLong()
  private val historyLast = {
    val s = m.get("sizes")
    java.time.LocalDate.parse(s.get("start").asText())
      .plusDays(s.get("history_days").asLong() - 1).toString
  }

  private var warehouse = ""
  /** Days appended to `lake.epa.hourly`, the warm-up's included. */
  private val appended = ArrayBuffer[Day]()
  private val rewritten = ArrayBuffer[Double]()
  private val queryRowsOut = ArrayBuffer[Long]()
  private var tableDigest = ""
  override def digest: String = tableDigest
  /** The lake's storage after the first measured round: a fixed number
    * of commits, past the first log checkpoint, so the figures do not
    * depend on how many rounds a loop holds.
    */
  private var storage = Map.empty[String, Double]

  private val ts = (col("date_local").cast("timestamp").cast("long") +
    col("hour_local") * 3600).cast("timestamp")

  /** Ingested hourly rows in the lake's shape (date as a string). */
  private def hourly(files: Seq[(String, String)]): DataFrame =
    MeasurementIngest.ingestAll(env.spark, files)
      .withColumn("date_local", date_format(col("date_local"), "yyyy-MM-dd"))

  private def daily(h: DataFrame): DataFrame =
    Pyramid.daily(h, concat_ws("|", col("pollutant"), col("state_name")), ts, col("measurement"))
      .select(col("entity"),
        substring_index(col("entity"), "|", 1).as("pollutant"),
        substring_index(col("entity"), "|", -1).as("state_name"),
        date_format(col("date_local"), "yyyy-MM-dd").as("date_local"),
        year(col("date_local")).as("year"),
        col("daily_avg"), col("daily_max"), col("measurement_count"),
        col("day_of_week"), col("is_weekend"))

  private def create(history: DataFrame): Unit = {
    val spark = env.spark
    spark.sql(s"""CREATE TABLE lake.epa.hourly (state_code INT, county_code INT,
      site_num INT, state_name STRING, pollutant STRING, date_local STRING,
      hour_local INT, measurement DOUBLE, units STRING)""")
    spark.sql(s"""CREATE TABLE lake.epa.daily (entity STRING, pollutant STRING,
      state_name STRING, date_local STRING, year INT, daily_avg DOUBLE, daily_max DOUBLE,
      measurement_count BIGINT, day_of_week INT, is_weekend BOOLEAN)""")
    history.writeTo(s"lake.epa.hourly").append()
    daily(spark.table(s"lake.epa.hourly")).writeTo(s"lake.epa.daily").append()
  }

  def setup(): Unit = {
    val spark = env.spark
    warehouse = env.dir("lake", "warehouse")
    spark.conf.set("spark.sql.catalog.lake", classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", warehouse)
    create(hourly(historyFiles))
    // warm-up: one refresh iteration, then each other query once, so
    // that a measured round runs every operation a second time
    refresh(0)
    (1 until BatchDag.QueryNames.size).foreach(i => lakeQuery(i)._2().collect())
  }

  private def lakeStorage(): Map[String, Double] = {
    val logs = Seq("hourly", "daily").map(n => tableDir(n).resolve("_log"))
    val names = logs.flatMap(d => Files.list(d).iterator().asScala.map(_.getFileName.toString))
    val data = Seq("hourly", "daily").map(n => Env.dirBytes(tableDir(n).resolve("data").toString))
    Map(
      "stored_bytes_per_input_byte" -> Env.dirBytes(warehouse + "/epa").toDouble / inputBytes,
      "sources.lake_log_versions" -> names.count(n => n.startsWith("v") && n.endsWith(".json")),
      "sources.lake_checkpoints" -> names.count(_.matches("c\\d{8}\\.json")).toDouble,
      "sources.lake_log_mb" -> logs.map(d => Env.dirBytes(d.toString)).sum / 1e6,
      "sources.lake_live_files" -> Seq("hourly", "daily").map(n =>
        env.spark.table(s"lake.epa.${n}__files").count()).sum.toDouble,
      "sources.lake_bytes_written_per_input_byte" -> data.sum.toDouble / inputBytes,
      "sources.hourly_mb" -> data(0) / 1e6,
      "operators.pyramid_mb" -> data(1) / 1e6)
  }

  /** Run `df` to a no-op sink: a traced loop times a layer call on its
    * own this way when the operation runs it inside another action.
    */
  private def probe(name: String)(df: => DataFrame): Unit =
    if (tracer ne Tracer.Off)
      tracer.span(name, phase = true)(df.write.format("noop").mode("overwrite").save())

  /** Append the next day, merge it and the day before, run Q(i % 10);
    * returns the three latencies in ms.
    */
  private def refresh(i: Int): (Double, Double, Double) = {
    require(appended.size < days.size, "generated days exhausted; raise SIZES days")
    val spark = env.spark
    val traced = tracer ne Tracer.Off
    val day = days(appended.size)
    val prevDate = appended.lastOption.map(_.date).getOrElse(historyLast)
    probe("ingest")(MeasurementIngest.ingestAll(spark, day.files))
    val a = timed(tracer.span("append", phase = true) {
      hourly(day.files).writeTo(s"lake.epa.hourly").append()
    })
    appended += day
    def changed = daily(spark.table(s"lake.epa.hourly")
      .filter(col("date_local").isin(prevDate, day.date)))
    probe("daily")(changed)
    val before = if (traced) liveFiles() else Set.empty[String]
    val mg = timed(tracer.span("merge", phase = true) {
      val src = changed
      src.mergeInto(s"lake.epa.daily",
          col(s"lake.epa.daily.entity") === src("entity") &&
            col(s"lake.epa.daily.date_local") === src("date_local"))
        .whenMatched().updateAll()
        .whenNotMatched().insertAll()
        .merge()
    })
    if (traced) rewritten += (before -- liveFiles()).size.toDouble
    probe("monthly")(monthly())
    probe("annual")(annual())
    var n = 0L
    val qy = timed(tracer.span("query", phase = true) {
      // resolving the lake tables reads their logs: part of the query
      val (name, q) = lakeQuery(i % 10)
      n = tracer.span(name)(q().collect().length.toLong)
    })
    if (traced) queryRowsOut += n
    (a, mg, qy)
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  private def lakeQuery(i: Int): (String, () => DataFrame) =
    BatchDag.queries(pm25("daily"), monthly(), annual())(i)

  private def pm25(t: String): DataFrame =
    env.spark.table(s"lake.epa.$t").filter(col("pollutant") === "PM25")
  private def monthly(): DataFrame =
    Pyramid.monthly(pm25("daily"), col("daily_avg") > 35.0)
      .withColumn("state_name", substring_index(col("entity"), "|", -1))
  private def annual(): DataFrame =
    Pyramid.annual(monthly()).withColumn("state_name", substring_index(col("entity"), "|", -1))

  private def liveFiles(): Set[String] =
    env.spark.table(s"lake.epa.daily__files").select("path").collect().map(_.getString(0)).toSet

  def measure(seconds: Double): Loop = {
    var i = 0
    // whole rounds of Q01-Q10: the queries differ in cost
    closedLoop(seconds, round = BatchDag.QueryNames.size) { l =>
      val (a, mg, q) = refresh(i)
      i += 1
      l.add("append", a); l.add("merge", mg); l.add("query", q)
      l.opLatenciesMs += a + mg + q
      l.rows += appended.last.rows
      if (storage.isEmpty && i == BatchDag.QueryNames.size) storage = lakeStorage()
    }
  }

  private def tableDir(t: String) = Paths.get(warehouse, "epa", t)
  private def inputBytes = historyBytes + appended.map(_.bytes).sum

  def endToEnd(l: Loop, res: Result): Unit = {
    val p50 = Stats.median(l.opLatenciesMs.toSeq)
    res.num("op_p50_ms", p50)
    res.num("rows_per_s", l.rows / l.opLatenciesMs.sum * 1e3)
    res.num("stored_bytes_per_input_byte", storage("stored_bytes_per_input_byte"))
    res.num("iterations", l.opLatenciesMs.size)
    for ((k, xs) <- l.byKind) res.num(s"${k}_p50_ms", Stats.median(xs.toSeq))
  }

  def layerMetrics(t: Tracer, l: Loop, res: Result): Unit = {
    val v = mutable.Map[String, Double]()
    for (k <- Seq("append", "merge", "query")) {
      val xs = l.byKind(k).toSeq
      val spans = t.spansNamed(k)
      v(s"sources.lake_${k}_ms_p50") = Stats.median(xs)
      val driver = spans.map(s => math.max(0.0, s.durMs - t.planningIn(s) - t.jobMsIn(s)))
      v(s"sources.lake_${k}_driver_ms") = Stats.median(driver)
      if (k != "query") v(s"sources.lake_${k}_job_ms") = Stats.median(spans.map(t.jobMsIn))
    }
    v("sources.lake_merge_files_rewritten") = Stats.median(rewritten.toSeq)
    val qs = t.spansNamed("query")
    val read = qs.map(t.lakeRowsIn).sum.toDouble
    v("sources.lake_rows_read_per_row_out") = read / math.max(1L, queryRowsOut.sum)
    v ++= storage - "stored_bytes_per_input_byte"
    // the probes: each layer call alone, as a traced loop runs them
    def med(span: String) = Stats.median(t.spansNamed(span).map(_.durMs))
    v("sources.ingest_s") = med("ingest") / 1e3
    val dayMb = Stats.median(appended.takeRight(t.spansNamed("ingest").size).map(_.bytes / 1e6))
    v("sources.ingest_mb_per_s") = dayMb / v("sources.ingest_s")
    Seq("daily", "monthly", "annual").foreach(n => v(s"operators.${n}_s") = med(n) / 1e3)
    Layers.write(v.toMap, LakeRefresh.Bypassed, t, l, env.cores, res)
  }

  def check(): Seq[String] = {
    val problems = ArrayBuffer[String]()
    val spark = env.spark
    // MeasurementIngest.readCsv's options, over all of a pollutant's
    // files in one scan rather than one scan per file
    val expectHourly = (historyFiles ++ appended.flatMap(_.files)).groupMap(_._1)(_._2).map {
      case (p, paths) => MeasurementIngest.transform(spark.read.option("header", "true")
        .option("inferSchema", "false").csv(paths: _*), p)
    }.reduce(_ unionByName _)
      .withColumn("date_local", date_format(col("date_local"), "yyyy-MM-dd"))
    val expectDaily = daily(expectHourly)
    // a multiset fingerprint: row count and the sum of the rows' hashes
    def fingerprint(df: DataFrame) = {
      val cols = df.columns.sorted.map(col)
      df.agg(count(lit(1)), sum(xxhash64(cols: _*))).head().toString
    }
    val prints = for ((name, want) <- Seq("hourly" -> expectHourly, "daily" -> expectDaily)) yield {
      val got = fingerprint(spark.table(s"lake.epa.$name"))
      val exp = fingerprint(want)
      if (got != exp) problems += s"lake table $name differs from batch: lake $got, batch $exp"
      got
    }
    tableDigest = Env.digest(prints)
    problems.toSeq
  }
}

object LakeRefresh {
  /** The refresh computes no baselines and exports nothing. */
  val Bypassed: Set[String] = Set("operators.baselines_s", "streaming.export_s")
}
