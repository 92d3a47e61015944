package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** EPA-shaped hourly-measurement CSV ingest (SURVEY.md §2.1 S1/S2, §2.2
  * P1–P6), re-expressed Spark-first from ASVSP `load_hourly.py:19-105`.
  *
  * Differences from the reference, by design:
  *   - one `union` of per-file frames + a single partitioned write,
  *     instead of its 54-iteration overwrite/append loop — one job, one
  *     output commit, and Catalyst sees the whole plan;
  *   - every column is still read as a string and cast later
  *     (bug-compatible with the reference's `inferSchema=false` read),
  *     through a single projection; but the column names come from a
  *     header contract ([[readCsv]]) rather than from a Spark job that
  *     reads the header line: any header that names the consumed
  *     columns is accepted, and every file's header is checked.
  *
  * Load-bearing semantics preserved exactly (SURVEY.md §2.9):
  *   - the full 18-entry truncated-state-name repair map
  *     (`load_hourly.py:44-65` — older EPA files clip at 9 chars);
  *   - NO2/SO2 ppb→ppm ÷1000 plus the unit-label rewrite
  *     (`load_hourly.py:38-41,76-79`);
  *   - hour = first two chars of `"HH:MM"` cast int (`load_hourly.py:36`).
  */
object MeasurementIngest {

  /** P5: 18 truncated names from EPA's 9-char column limit. */
  val StateNameRepairs: Seq[(String, String)] = Seq(
    "Californi" -> "California",
    "Connectic" -> "Connecticut",
    "Country O" -> "Country Of Mexico",
    "District" -> "District Of Columbia",
    "Massachus" -> "Massachusetts",
    "Mississip" -> "Mississippi",
    "New Hamps" -> "New Hampshire",
    "New Jerse" -> "New Jersey",
    "New Mexic" -> "New Mexico",
    "North Car" -> "North Carolina",
    "North Dak" -> "North Dakota",
    "Pennsylva" -> "Pennsylvania",
    "Puerto Ri" -> "Puerto Rico",
    "Rhode Isl" -> "Rhode Island",
    "South Car" -> "South Carolina",
    "South Dak" -> "South Dakota",
    "Washingto" -> "Washington",
    "West Virg" -> "West Virginia")

  /** Pollutants measured in ppb upstream, converted to ppm (P4). */
  val PpbPollutants: Set[String] = Set("NO2", "SO2")

  /** S1: header'd CSV, every column a string (no inference).
    *
    * The header contract: the header line is read here, on the driver
    * (the first non-blank line of the file, or of the first visible part
    * file of a directory, tokenized with Spark's CSV defaults), and its
    * names are handed to the reader as an all-string schema with
    * `enforceSchema=false`. Building the frame so starts no Spark job (a
    * schema-less `header=true` read runs one per path only to name the
    * columns), while every task still checks its own file's header
    * against that schema: a file whose header names differ, or come in
    * another order, fails with Spark's header-mismatch error instead of
    * being read by position. An input with no header line, or with a
    * blank column name, fails here, naming the file (a repeated name
    * fails in Spark's own duplicate-column check).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(header(spark, path).map(StructField(_, StringType)))
    spark.read.schema(schema).option("header", "true").option("enforceSchema", "false")
      .csv(path)
  }

  /** The column names of `path`'s header line (see [[readCsv]]). */
  private def header(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val options = new CSVOptions(Map.empty[String, String], true,
      spark.conf.get("spark.sql.session.timeZone"))
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (!fs.getFileStatus(root).isDirectory) Seq(root)
      else fs.listStatus(root).toSeq.filter(_.isFile).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .sortBy(_.getName)
    val (file, line) = files.iterator
      .flatMap(f => CSVUtils.readHeaderLine(f, options, conf).map(f -> _))
      .nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"CSV input $path has no header line (no non-blank line in ${files.mkString(", ")})"))
    val names = new CsvParser(options.asParserSettings).parseLine(line).toSeq
    val blank = names.indexWhere(n => n == null || n.trim.isEmpty)
    require(blank < 0, s"CSV header of $file has a blank name in column ${blank + 1}: $line")
    names
  }

  /** P1: space → underscore in every column name. */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.withColumnsRenamed(df.columns.filter(_.contains(" "))
      .map(c => c -> c.replace(" ", "_")).toMap)

  /** P5 repair chain — entries fold in reference order. */
  def repairStateName(c: Column): Column =
    StateNameRepairs.foldRight(c) { case ((bad, good), acc) =>
      when(c === bad, lit(good)).otherwise(acc)
    }

  /** P2–P6: the full per-file transform for one pollutant. */
  def transform(raw: DataFrame, pollutant: String): DataFrame = {
    val df = normalizeColumns(raw)
    val measurement =
      if (PpbPollutants(pollutant)) col("Sample_Measurement").cast("double") / 1000.0
      else col("Sample_Measurement").cast("double")
    df.select(
      col("State_Code").cast("int").as("state_code"),
      col("County_Code").cast("int").as("county_code"),
      col("Site_Num").cast("int").as("site_num"),
      repairStateName(col("State_Name")).as("state_name"),
      lit(pollutant).as("pollutant"),
      to_date(col("Date_Local"), "yyyy-MM-dd").as("date_local"),
      substring(col("Time_Local"), 1, 2).cast("int").as("hour_local"),
      measurement.as("measurement"),
      when(col("Units_of_Measure") === "Parts per billion", lit("Parts per million"))
        .otherwise(col("Units_of_Measure")).as("units"))
  }

  /** Ingest many (pollutant, csvPath) files as ONE unioned plan. */
  def ingestAll(spark: SparkSession, files: Seq[(String, String)]): DataFrame =
    files.map { case (p, path) => transform(readCsv(spark, path), p) }
      .reduce(_ unionByName _)

  /** S2: Hive-style partitioned parquet layout, one commit. */
  def writePartitioned(df: DataFrame, out: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy("pollutant").parquet(out)

  /** S2/S3: the reference's full partition layout —
    * `pollutant/year/month` (ASVSP `load_hourly.py:87-105` Hive DDL +
    * MSCK) — with year/month derived from date_local. Reads filtered on
    * any prefix of (pollutant, year, month) are partition-PRUNED at the
    * scan (`PartitionFilters` in the plan; untouched directories are
    * never listed or opened) — the reference's core I/O optimization,
    * asserted end-to-end in MeasurementIngestSpec.
    */
  def writePartitionedByMonth(df: DataFrame, out: String,
                              mode: String = "overwrite"): Unit =
    df.withColumn("year", year(col("date_local")))
      .withColumn("month", month(col("date_local")))
      .write.mode(mode).partitionBy("pollutant", "year", "month").parquet(out)

  /** Idempotent partition backfill: DYNAMIC partition overwrite
    * replaces ONLY the partitions present in the incoming frame and
    * leaves every sibling directory untouched — the re-run/backfill
    * write a daily pipeline needs (static overwrite mode would
    * truncate the whole table first). Per-writer option, so the
    * session default stays static for everyone else.
    */
  def overwritePartitionsDynamic(df: DataFrame, out: String,
                                 partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(out)
}
