package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pyramid
import graft.sources.MeasurementIngest

/** The minimum end-to-end slice (SURVEY.md §7.3): EPA-shaped raw CSV →
  * ingest (P1–P6) → daily aggregation → weekend-effect answer, on the
  * FIXTURES.md A1 fixture shape.
  */
class MeasurementIngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("ingest-spec")

  import MeasurementIngestSpec.writeFixture

  lazy val ingested = {
    val (pm, no) = writeFixture()
    MeasurementIngest.ingestAll(spark, Seq("PM25" -> pm, "NO2" -> no)).cache()
  }

  test("P1/P2: renamed+cast 9-column schema") {
    assert(ingested.columns.toSeq == Seq("state_code", "county_code", "site_num",
      "state_name", "pollutant", "date_local", "hour_local", "measurement", "units"))
    val r = ingested.filter(col("pollutant") === "PM25" && col("hour_local") === 2).head
    assert(r.getAs[Int]("state_code") == 6)
    assert(r.getAs[Double]("measurement") == 20.0)
  }

  test("P5: truncated state names repaired via the 18-entry map") {
    val states = ingested.select("state_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(states == Set("California", "New York"))
  }

  test("P3: hour extracted from HH:MM") {
    val hours = ingested.filter(col("state_name") === "New York")
      .select("hour_local").distinct().collect().map(_.getInt(0)).toSet
    assert(hours == Set(13))
  }

  test("P4/P6: NO2 measurements /1000 with ppb->ppm label rewrite") {
    val no2 = ingested.filter(col("pollutant") === "NO2" &&
      col("state_name") === "California").head
    assert(no2.getAs[Double]("measurement") == 0.05)
    assert(no2.getAs[String]("units") == "Parts per million")
    // PM25 units untouched
    val pm = ingested.filter(col("pollutant") === "PM25").head
    assert(pm.getAs[String]("units") == "Micrograms/cubic meter (LC)")
  }

  test("S2: partitioned parquet round-trip preserves layout and rows") {
    val out = Files.createTempDirectory("epa-out").toString
    MeasurementIngest.writePartitioned(ingested, out)
    assert(new java.io.File(s"$out/pollutant=PM25").exists())
    val back = spark.read.parquet(out)
    assert(back.count() == ingested.count())
    // partition-column filter prunes to the PM25 directory
    assert(back.filter(col("pollutant") === "NO2").count() == 2)
  }

  test("S3: pollutant/year/month layout is partition-pruned at the scan") {
    val out = Files.createTempDirectory("epa-part").toString
    MeasurementIngest.writePartitionedByMonth(ingested, out)
    assert(new java.io.File(s"$out/pollutant=PM25/year=2024/month=1").exists())
    val filtered = spark.read.parquet(out)
      .filter(col("pollutant") === "PM25" && col("year") === 2024)
      .select("state_name", "measurement")
    // plan-level: the filter became a PartitionFilters entry, not a scan filter
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("(pollutant#") || plan.contains("pollutant ="),
      s"pollutant filter not in PartitionFilters:\n$plan")
    // file-level: the executed scan reads strictly fewer files than the
    // full layout holds (NO2 directories are never opened)
    // execute THIS queryExecution (count() would build its own) so the
    // scan metrics below reflect the pruned run
    assert(filtered.collect().length == 4) // all PM25 fixture rows
    val scans = filtered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val totalFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(out)).count(_.getName.endsWith(".parquet"))
    }
    assert(scans.nonEmpty)
    val read = scans.map(_.metrics("numFiles").value).sum
    assert(read > 0 && read < totalFiles,
      s"expected pruned scan: read $read of $totalFiles files")
  }

  test("S3: Hive-style DDL + MSCK partition discovery over the month layout") {
    val out = Files.createTempDirectory("epa-ddl").toString
    MeasurementIngest.writePartitionedByMonth(ingested, out)
    // the reference's catalog path (load_hourly.py:87-105): external
    // partitioned table + MSCK REPAIR to discover partition dirs
    spark.sql("DROP TABLE IF EXISTS epa_hourly")
    spark.sql(
      s"""CREATE TABLE epa_hourly (
         |  state_code INT, county_code INT, site_num INT, state_name STRING,
         |  date_local DATE, hour_local INT, measurement DOUBLE, units STRING,
         |  pollutant STRING, year INT, month INT)
         |USING parquet
         |PARTITIONED BY (pollutant, year, month)
         |LOCATION '$out'""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM epa_hourly").head.getLong(0) == 0) // pre-MSCK: no partitions
    spark.sql("MSCK REPAIR TABLE epa_hourly")
    val parts = spark.sql("SHOW PARTITIONS epa_hourly").collect().map(_.getString(0))
    assert(parts.toSet == Set("pollutant=PM25/year=2024/month=1", "pollutant=NO2/year=2024/month=1"))
    assert(spark.sql("SELECT count(*) FROM epa_hourly").head.getLong(0) == ingested.count())
    // catalog reads prune on partition columns too
    val q = spark.sql("SELECT state_name, measurement FROM epa_hourly WHERE pollutant = 'PM25'")
    assert(q.collect().length == 4)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    spark.sql("DROP TABLE epa_hourly")
  }

  test("end-to-end slice: ingest -> daily pyramid -> weekend effect") {
    val pm = ingested.filter(col("pollutant") === "PM25" &&
      col("state_name") === "California")
    val daily = Pyramid.daily(pm,
      col("state_name"),
      // daily() expects a timestamp-like; date works for to_date
      col("date_local"), col("measurement"))
    val rows = daily.orderBy("date_local").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("daily_avg") == 15.0) // Fri: (10+20)/2
    assert(!rows(0).getAs[Boolean]("is_weekend"))
    assert(rows(1).getAs[Double]("daily_avg") == 40.0) // Sat
    assert(rows(1).getAs[Boolean]("is_weekend"))
    // weekend effect ratio: 40 / 15
    val we = daily.agg(
      (sum(when(col("is_weekend"), col("daily_avg"))) /
        sum(when(!col("is_weekend"), col("daily_avg")))).as("ratio")).head
    assert(math.abs(we.getDouble(0) - 40.0 / 15.0) < 1e-12)
  }

  test("q40_csv_ingest: repair + ppb conversion hold over the driver fixture") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val out = graft.queries.IngestQueries.q40(spark, "/root/testdata/sf0.001")
      .cache()
    try {
      assert(out.count() == 400)
      // P5: every truncated name was repaired, none survive
      val bads = MeasurementIngest.StateNameRepairs.map(_._1).toSet
      assert(out.filter(col("state_name").isin(bads.toSeq: _*)).count() == 0)
      assert(out.filter(col("state_name") === "California").count() > 0)
      // P4/P6: every ppb row became ppm, label included
      assert(out.filter(col("pollutant") === "NO2" &&
        col("units") =!= "Parts per million").count() == 0)
      // NO2 measurements are the /1000 of their 3-decimal source strings
      assert(out.filter(col("pollutant") === "NO2" &&
        col("measurement") >= 1.0).count() == 0)
    } finally out.unpersist()
  }

  test("S2: dynamic partition overwrite replaces only the incoming partitions") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("dyn-overwrite").toString
    def frame(rows: Seq[(String, Long)]) = rows.toDF("pollutant", "v")
    MeasurementIngest.overwritePartitionsDynamic(
      frame(Seq(("NO2", 1L), ("PM25", 2L), ("SO2", 3L))), out, Seq("pollutant"))
    // backfill ONLY PM25 with new content
    MeasurementIngest.overwritePartitionsDynamic(
      frame(Seq(("PM25", 99L))), out, Seq("pollutant"))
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("pollutant"), r.getAs[Long]("v"))).toSet
    // NO2/SO2 survive untouched; PM25 fully replaced (a static-mode
    // overwrite would have truncated the siblings)
    assert(got == Set(("NO2", 1L), ("SO2", 3L), ("PM25", 99L)))
  }

  /** Jobs started while `body` runs. Listener events arrive
    * asynchronously, so a marker job run after `body` flushes them: the
    * bus delivers in order, and every start before the marker's counts.
    */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("jobs-started-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var n = 0
      var next = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (next != "jobs-started-marker") {
        assert(next != null, "the marker job's start never reached the listener")
        n += 1
        next = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      (out, n)
    } finally sc.removeSparkListener(listener)
  }

  test("header contract: building ingestAll over three files starts no Spark job") {
    val (pm, no) = writeFixture()
    val so2 = Files.createTempDirectory("epa-so2").resolve("hourly_SO2_2024.csv")
    Files.copy(java.nio.file.Paths.get(no), so2)
    val (df, jobs) = jobsStartedBy(MeasurementIngest.ingestAll(spark,
      Seq("PM25" -> pm, "NO2" -> no, "SO2" -> so2.toString)))
    assert(jobs == 0, s"building the frame started $jobs Spark jobs")
    assert(df.count() == 8)
  }

  test("header contract: the 24-column EPA header ingests like the 8-column one") {
    val (pm, no) = writeFixture()
    val wide = Files.createTempDirectory("epa-wide")
    def widen(src: String, name: String): String = {
      val lines = Files.readAllLines(java.nio.file.Paths.get(src)).toArray(Array.empty[String])
      val narrow = lines.head.split(",").toSeq
      val rows = lines.tail.map { l =>
        val byName = narrow.zip(l.split(",")).toMap
        MeasurementIngestSpec.EpaHeader.map(c => byName.getOrElse(c, s"x-$c"))
      }
      val out = wide.resolve(name)
      Files.writeString(out, (MeasurementIngestSpec.EpaHeader +: rows.toSeq)
        .map(_.map(v => "\"" + v + "\"").mkString(",")).mkString("", "\n", "\n"))
      out.toString
    }
    val narrowDf = MeasurementIngest.ingestAll(spark, Seq("PM25" -> pm, "NO2" -> no))
    val wideDf = MeasurementIngest.ingestAll(spark,
      Seq("PM25" -> widen(pm, "pm25.csv"), "NO2" -> widen(no, "no2.csv")))
    assert(wideDf.schema == narrowDf.schema)
    assert(wideDf.count() == 6)
    assert(wideDf.exceptAll(narrowDf).isEmpty && narrowDf.exceptAll(wideDf).isEmpty)
  }

  test("header contract: a part file whose header swaps two columns fails loudly") {
    val (pm, _) = writeFixture()
    val lines = Files.readAllLines(java.nio.file.Paths.get(pm)).toArray(Array.empty[String])
    // the second part file holds the same kind of rows with State Code
    // and County Code swapped, header and values alike: a valid CSV
    // that a read by position would load with the two codes exchanged
    def swap(l: String) = { val f = l.split(","); (f(1) +: f(0) +: f.drop(2)).mkString(",") }
    val dir = Files.createTempDirectory("epa-parts")
    Files.writeString(dir.resolve("part-00000.csv"), lines.mkString("\n"))
    Files.writeString(dir.resolve("part-00001.csv"), lines.map(swap).mkString("\n"))
    val df = MeasurementIngest.ingestAll(spark, Seq("PM25" -> dir.toString))
    val e = intercept[Exception](df.collect())
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msg.contains("CSV header does not conform to the schema"), msg)
    assert(msg.contains("part-00001.csv"), msg)
  }

  test("header contract: an empty file fails with a message naming it") {
    val empty = Files.createTempFile("epa-empty", ".csv")
    val e = intercept[IllegalArgumentException](
      MeasurementIngest.ingestAll(spark, Seq("PM25" -> empty.toString)))
    assert(e.getMessage.contains(empty.toString), e.getMessage)
  }
}

object MeasurementIngestSpec {

  /** The EPA hourly CSV header (FIXTURES.md A1), in file order. */
  val EpaHeader: Seq[String] = Seq("State Code", "County Code", "Site Num",
    "Parameter Code", "POC", "Latitude", "Longitude", "Datum", "Parameter Name",
    "Date Local", "Time Local", "Date GMT", "Time GMT", "Sample Measurement",
    "Units of Measure", "MDL", "Uncertainty", "Qualifier", "Method Type",
    "Method Code", "Method Name", "State Name", "County Name", "Date of Last Change")

  /** EPA-shaped CSV with the 8 consumed columns: truncated state name,
    * PM25 + NO2 (÷1000 case), weekend (2024-01-06/07) + weekday dates,
    * ppb units on NO2.
    */
  def writeFixture(): (String, String) = {
    val dir = Files.createTempDirectory("epa-fixture")
    val header = "State Code,County Code,Site Num,State Name,Date Local,Time Local,Sample Measurement,Units of Measure"
    val pm25 = Seq(
      "06,001,0001,Californi,2024-01-05,01:00,10.0,Micrograms/cubic meter (LC)",
      "06,001,0001,Californi,2024-01-05,02:00,20.0,Micrograms/cubic meter (LC)",
      "06,001,0001,Californi,2024-01-06,01:00,40.0,Micrograms/cubic meter (LC)",
      "36,005,0002,New York,2024-01-06,13:00,8.0,Micrograms/cubic meter (LC)")
    val no2 = Seq(
      "06,001,0001,Californi,2024-01-05,01:00,50.0,Parts per billion",
      "36,005,0002,New York,2024-01-06,13:00,30.0,Parts per billion")
    val pPm: Path = dir.resolve("hourly_PM25_2024.csv")
    val pNo: Path = dir.resolve("hourly_NO2_2024.csv")
    Files.writeString(pPm, (header +: pm25).mkString("\n"))
    Files.writeString(pNo, (header +: no2).mkString("\n"))
    (pPm.toString, pNo.toString)
  }
}
