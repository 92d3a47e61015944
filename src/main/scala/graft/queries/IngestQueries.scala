package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryCaches.CacheOps
import graft.operators.LoopPar
import graft.sources.{MeasurementIngest, Tables}

/** Driver-oracled CSV-ingest query (SURVEY.md §2 rows S1/P1/P2/P5).
  *
  * The reference's entry job is CSV → cast → state-name repair →
  * parquet (ASVSP `load_hourly.py:28-84`); [[MeasurementIngest]]
  * implements it and MeasurementIngestSpec drives it, but until this
  * query none of the CSV-path rows had a CORRECTNESS entry. q40 closes
  * that: a deterministic EPA-shaped CSV fixture is derived from the
  * scale-factor `orders` table at query time, written under an
  * sf-keyed path, ingested through the real `readCsv → normalizeColumns →
  * repairStateName → transform → ingestAll` chain, and the DuckDB
  * oracle re-reads the SAME csv files via `read_csv` with explicit
  * casts and the same 18-entry repair CASE.
  *
  * Determinism notes (oracle-exactness playbook):
  *   - `Sample Measurement` is generated as a 3-decimal STRING; both
  *     engines parse it with correctly-rounded IEEE semantics and the
  *     ppb→ppm step is a single double division by 1000.0 — one
  *     correctly-rounded op each side, so bits match without dround;
  *   - every modulus feeding the fixture is over positive int64 keys;
  *   - the fixture path is keyed by the sf-dir name (see `fixtureTag`)
  *     and content is re-derived from the sfDir on every call, so
  *     Verify-then-check at the same sf always agree and runs at
  *     different sfs never clobber each other.
  */
object IngestQueries {

  /** Fixture roots are keyed by the SF-DIR NAME so concurrent runs at
    * different scale factors (ScanAuditSpec driving every query at
    * sf0.001 while a Verify at sf0.01/sf0.1 is mid-flight) write
    * DISJOINT paths instead of clobbering the fixture another
    * process's DuckDB oracle is about to read — the cross-process race
    * in the project notes. The oracle SQL must cite the same path, so
    * `oracles` is a `def` that reads the tag of the last query run in
    * this JVM: Verify runs all queries BEFORE dumping oracle_sql.json,
    * so the dumped SQL always names the path that run actually wrote.
    * Plain `DumpOracles` (no Spark pass) reads the `fixture_tag.txt`
    * Verify leaves next to oracle_sql.json (or an explicit sfDir
    * argument) and falls back to the driver's sf0.01 — so iterating
    * oracle SQL against a sf0.1 Verify output cites the path that run
    * actually wrote, not a last-writer-wins JVM default.
    */
  @volatile private var fixtureTag: String = "sf0.01"

  private[graft] def retag(dir: String): Unit = {
    val t = new java.io.File(dir).getName
    if (t.nonEmpty) fixtureTag = t
  }

  /** sf-keyed fixture root for q40 (cited by the oracle SQL). */
  def FixtureRoot: String = s"/root/repo/target/q40_fixture-$fixtureTag"

  /** Full names that survive repair untouched (the `.otherwise` branch). */
  val IntactStates: Seq[String] =
    Seq("Texas", "Ohio", "Utah", "Iowa", "Idaho", "Maine")

  /** Derive the EPA-shaped raw CSVs (one per pollutant) from `orders`.
    * Columns deliberately carry SPACES (P1's rename target) and are all
    * strings (S1's no-inference contract). Returns (no2Dir, pm25Dir).
    */
  def writeFixture(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    retag(dir)
    val names = MeasurementIngest.StateNameRepairs.map(_._1) ++ IntactStates
    val nameArr = array(names.map(lit): _*)
    val raw = Tables.load(spark, dir, "orders")
      .orderBy("o_orderkey").limit(400)
      .select(
        ($"o_orderkey" % 50).cast("string").as("State Code"),
        ($"o_orderkey" % 997).cast("string").as("County Code"),
        ($"o_orderkey" % 89).cast("string").as("Site Num"),
        element_at(nameArr, ($"o_orderkey" % names.size).cast("int") + 1)
          .as("State Name"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("Date Local"),
        concat(lpad(($"o_orderkey" % 24).cast("string"), 2, "0"), lit(":00"))
          .as("Time Local"),
        concat(($"o_orderkey" % 500).cast("string"), lit("."),
          lpad(($"o_orderkey" % 997).cast("string"), 3, "0"))
          .as("Sample Measurement"),
        when($"o_orderkey" % 2 === 0, lit("Parts per billion"))
          .otherwise(lit("Micrograms/cubic meter (LC)"))
          .as("Units of Measure"),
        ($"o_orderkey" % 2).as("split"))
    val (no2Dir, pm25Dir) = (s"$FixtureRoot/NO2", s"$FixtureRoot/PM25")
    raw.filter($"split" === 0).drop("split").coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(no2Dir)
    raw.filter($"split" === 1).drop("split").coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(pm25Dir)
    (no2Dir, pm25Dir)
  }

  /** q40 — the reference's entry-job projection, driver-oracled. */
  def q40(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (no2Dir, pm25Dir) = writeFixture(spark, dir)
    MeasurementIngest
      .ingestAll(spark, Seq("NO2" -> no2Dir, "PM25" -> pm25Dir))
      .orderBy($"pollutant", $"date_local", $"hour_local", $"state_code",
        $"county_code", $"site_num", $"state_name", $"measurement", $"units")
  }

  /** sf-keyed fixture root for q46 (cited by the oracle SQL). */
  def EvolutionRoot: String = s"/root/repo/target/q46_fixture-$fixtureTag"

  /** q46 — schema evolution on storage: two parquet "eras" of the same
    * logical table with DIFFERENT physical schemas (era 1 predates the
    * priority/date columns), merged by `mergeSchema` + hive-partition
    * discovery — the long-lived-dataset reality every 100 TB lake has.
    * Old-era rows surface the added columns as nulls; the query groups
    * by era × coalesced priority so both the null-fill and the merge
    * are hash-checked. The ORACLE reads the same files with DuckDB's
    * `union_by_name` + `hive_partitioning` — an independent
    * implementation of the same merge semantics.
    */
  def q46(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    retag(dir)
    val o = Tables.load(spark, dir, "orders").orderBy($"o_orderkey").limit(600)
    o.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$EvolutionRoot/era=1")
    o.filter($"o_orderkey" % 2 =!= 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        $"o_orderpriority", $"o_orderdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$EvolutionRoot/era=2")
    spark.read.option("mergeSchema", "true").parquet(EvolutionRoot)
      .groupBy($"era", coalesce($"o_orderpriority", lit("<legacy>")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.functions.gf.fixed($"o_totalprice", 100.0)).as("total_cents"),
        count($"o_orderdate").as("n_with_date"))
      .orderBy($"era", $"priority")
  }

  /** sf-keyed lake root for q50 (cited by nothing — the oracle reads
    * from source; the path only needs to be collision-free per sf).
    */
  def RefreshRoot: String = s"/root/repo/target/q50_lake-$fixtureTag"

  /** q50 — idempotent partition refresh, S2's dynamic-overwrite row
    * driver-oracled: a month-partitioned lake is first written with
    * month 3 CORRUPTED (cents doubled), then ONLY month 3 is recomputed
    * from source and dynamic-overwritten. The query reads the whole
    * lake back (hive partition discovery) and aggregates per month; the
    * oracle computes the same aggregate STRAIGHT from `orders` — so the
    * hash proves both directions of the overwrite contract: the dirty
    * partition was fully replaced (else month 3's sums stay doubled)
    * and the siblings were untouched (else their rows go missing).
    */
  def q50(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    retag(dir)
    val full = Tables.load(spark, dir, "orders")
      .orderBy($"o_orderkey").limit(600)
      .select($"o_orderkey".as("okey"),
        ($"o_orderkey" % 12).cast("int").as("month"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
    val corrupted = full.withColumn("cents",
      when($"month" === 3, $"cents" * 2).otherwise($"cents"))
    MeasurementIngest.overwritePartitionsDynamic(corrupted, RefreshRoot, Seq("month"))
    MeasurementIngest.overwritePartitionsDynamic(
      full.filter($"month" === 3), RefreshRoot, Seq("month"))
    spark.read.parquet(RefreshRoot)
      .groupBy($"month".cast("int").as("month"))
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("total_cents"))
      .orderBy($"month")
  }

  /** sf-keyed ORC lake root for q51. */
  def OrcRoot: String = s"/root/repo/target/q51_orc-$fixtureTag"

  /** q51 — ORC roundtrip: the second columnar format Spark ships a
    * native vectorized reader for. A subset of `orders` is written as
    * ORC and read BACK through `spark.read.orc`; the aggregate runs on
    * the re-read frame while the oracle computes the same aggregate
    * straight from the parquet source — so the hash proves the
    * encode→decode roundtrip preserved every value (the q50 proof
    * shape, applied to a storage format DuckDB cannot read itself).
    */
  def q51(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    retag(dir)
    Tables.load(spark, dir, "orders").orderBy($"o_orderkey").limit(800)
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority".as("priority"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .write.mode("overwrite").orc(OrcRoot)
    spark.read.orc(OrcRoot)
      .groupBy($"priority")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("total_cents"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"),
        countDistinct($"o_custkey").as("n_custs"))
      .orderBy($"priority")
  }

  /** sf-keyed JSONL root for q52 (cited by the oracle SQL). */
  def JsonRoot: String = s"/root/repo/target/q52_json-$fixtureTag"

  /** q52 — JSONL ingest, the q40 pattern for the second text format:
    * Spark WRITES newline-delimited JSON once per run, then reads the
    * SAME files back through `spark.read.schema(...).json` (explicit
    * schema — no inference, the production rule) while the DuckDB
    * oracle parses the identical bytes with `read_json` — two
    * independent JSON parsers over one set of files. Payload is
    * integers and strings only (cents fixed-point, dates preformatted)
    * so the text roundtrip is exact by construction.
    */
  def q52(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    retag(dir)
    Tables.load(spark, dir, "orders").orderBy($"o_orderkey").limit(800)
      .select($"o_orderkey".as("okey"), $"o_custkey".as("ckey"),
        $"o_orderpriority".as("priority"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("odate"))
      .coalesce(1).write.mode("overwrite").json(JsonRoot)
    spark.read
      .schema("okey BIGINT, ckey BIGINT, priority STRING, cents BIGINT, odate STRING")
      .json(JsonRoot)
      .groupBy(substring($"odate", 1, 4).as("oyear"), $"priority")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("total_cents"),
        max($"okey").as("max_key"))
      .orderBy($"oyear", $"priority")
  }

  /** q64 — the Spark 4 VARIANT type (semi-structured ingestion without
    * a declared schema — the modern complement of q42's rigid
    * `from_json`/`q52`'s explicit-schema JSONL): JSON payloads built
    * with `format_string` (printf-identical in the oracle) are parsed
    * to VARIANT's shredded binary encoding and fields come back out
    * through typed `variant_get` paths — including a nested object
    * path — then filter/aggregate run on the extracted values. Exact
    * integers end-to-end (cents fixed-point), so the variant decode
    * path is hash-verified against DuckDB's `json_extract` over the
    * same payload text.
    */
  def q64(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // orders at any local SF is ONE parquet split, so the whole
    // format→parse_json→variant_get chain ran as a single task (r16
    // driver: 3.0 s, SLOWER at 32 cores than 8). Spread the narrow
    // 4-column projection across row-count-derived partitions before
    // the per-row parse work — the multimodal spreadIds pattern (guide
    // §2.5: repartition immediately after an unsplittable read).
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice", $"o_custkey")
    val spread = o.repartition(LoopPar.sizedPartitions(
      spark, o.count(), rowsPerTask = 4096), $"o_orderkey")
    spread
      .select(format_string(
        """{"key":%d,"prio":"%s","amt":%d,"cust":{"id":%d}}""",
        $"o_orderkey", $"o_orderpriority",
        graft.functions.gf.fixed($"o_totalprice", 100.0), $"o_custkey").as("js"))
      .select(parse_json($"js").as("v"))
      .select(
        variant_get($"v", "$.prio", "string").as("prio"),
        variant_get($"v", "$.amt", "long").as("amt"),
        variant_get($"v", "$.cust.id", "long").as("cust_id"))
      .filter($"amt" >= 1000000L)
      .groupBy($"prio")
      .agg(count(lit(1)).as("n_big"), sum($"amt").as("total_cents"),
        countDistinct($"cust_id").as("n_cust"))
      .orderBy($"prio")
  }

  /** q73 — the DataSource V2 connector ([[graft.sources.GenSource]])
    * exercised end-to-end: `spark.read.format("graftgen")` generates
    * `|orders|` deterministic splitmix64 rows across 16 planned slices,
    * the middle-half id filter PUSHES INTO the connector (the scan
    * narrows its interval before planning — empty slices are never
    * tasks, and Catalyst's post-scan Filter disappears because the
    * source absorbed the predicate), and the aggregate reads only the
    * pruned columns. The DuckDB oracle replays the generator closed-form
    * (`range(n)` → mix64 CTE chain → the same bit slices), so the
    * connector's row CONTENT — not just its shape — is hash-checked.
    * Plan-level pushdown/pruning claims are pinned in DataSourceV2Spec.
    */
  def q73(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "orders").count()
    spark.read.format("graftgen")
      .option("rows", n.toString).option("slices", "16").load()
      .filter($"id" >= n / 4 && $"id" < 3 * n / 4)
      .groupBy($"category")
      .agg(count(lit(1)).as("n_rows"), sum($"value").as("sum_val"),
        min($"id").as("min_id"), max($"id").as("max_id"))
      .orderBy($"category")
  }

  /** q75 — the SAME connector consumed as a STREAM
    * ([[graft.sources.GenMicroBatchStream]]): `|orders|` generated rows
    * drained under `Trigger.AvailableNow` with admission control
    * holding every micro-batch to ≤ ~n/4 rows (≥ 4 real batches), then
    * aggregated per category from the sink. Offsets are row positions
    * and the reader is a pure function of them, so the drained content
    * is BIT-equal to the batch scan — the oracle is q73's closed-form
    * replay without the interval filter, and the hash proves the
    * offset/commit/replan cycle loses and duplicates nothing
    * (restart-resume exactly-once is pinned in DataSourceV2Spec).
    */
  def q75(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "orders").count()
    val sink = "q75_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graftgen")
      .option("rows", n.toString)
      .option("rowsPerBatch", math.max(1L, n / 4).toString)
      .option("slices", "8").load()
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-q75").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    require(batches >= 4, s"q75 must drain in >=4 admission-limited batches, got $batches")
    spark.table(sink)
      .groupBy($"category")
      .agg(count(lit(1)).as("n_rows"), sum($"value").as("sum_val"),
        min($"id").as("min_id"), max($"id").as("max_id"))
      .orderBy($"category")
  }

  /** q78 — STORAGE-PARTITIONED JOIN as a correctness row: two
    * key-grouped `graftgen` tables (|orders| and |customer| rows — so
    * the generated CONTENT differs per scale factor) each report
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * on `category`, and under `spark.sql.sources.v2.bucketing.enabled`
    * (GraftSession default) BOTH per-category aggregates run with no
    * exchange at all — partial and final HashAggregate stack directly
    * on the key-grouped scan. The join here broadcasts one 16-row
    * aggregate (the optimizer's right call at this group count);
    * DataSourceV2Spec separately pins the forced-SMJ variant joining
    * with ZERO exchanges. This row pins the ANSWER via the dual
    * closed-form generator replay. The 100 TB reading: a bucketed-lake
    * join whose sides arrive pre-clustered and never reshuffle.
    */
  def q78(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def kg(n: Long) = spark.read.format("graftgen")
      .option("rows", n.toString).option("keyGrouped", "true").load()
    val a = kg(Tables.load(spark, dir, "orders").count())
      .groupBy($"category")
      .agg(count(lit(1)).as("n_a"), sum($"value").as("sum_a"))
    val b = kg(Tables.load(spark, dir, "customer").count())
      .groupBy($"category")
      .agg(count(lit(1)).as("n_b"), sum($"value").as("sum_b"))
    a.join(b, Seq("category")).orderBy($"category")
  }

  /** q80 — AGGREGATE PUSHDOWN into the connector
    * ([[graft.sources.GenScanBuilder.pushAggregation]]): the id filter
    * narrows the interval first, then the whole
    * `GROUP BY category: count/sum/min/max` is absorbed by the scan —
    * each task folds its slice into ≤16 pre-aggregated rows where the
    * data is generated, Spark's FINAL aggregation merges partials, and
    * no base row ever crosses the source boundary (the explain carries
    * `PushedAggregates`; DataSourceV2Spec pins the plan and the
    * row-count economics). The DuckDB oracle replays the generator
    * closed-form, so the pushed computation — not just its shape — is
    * hash-checked. The 100 TB reading: per-shard aggregation at the
    * storage layer, group counts over the wire instead of rows.
    */
  def q80(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "lineitem").count()
    spark.read.format("graftgen")
      .option("rows", n.toString).option("slices", "16")
      .option("aggPushdown", "true").load()
      .filter($"id" < lit(2L * n / 3))
      .groupBy($"category")
      .agg(count(lit(1)).as("n_rows"), sum($"value").as("sum_val"),
        min($"value").as("min_val"), max($"id").as("max_id"))
      .orderBy($"category")
  }

  /** q81 — V2 FUNCTION CATALOG ([[graft.sources.GraftFunctionCatalog]]):
    * `graft_fns.fns.mix64` resolves through the catalog plugin and binds
    * via the ScalarFunction MAGIC METHOD, so codegen calls the JVM
    * mixer directly from the generated loop — no UDF closure, no row
    * boxing (V2FunctionSpec pins the Invoke plan shape). Top-4-bit
    * bucketing + signed min/max over the mixed values make the oracle
    * exercise both the unsigned slice and the signed reading of the
    * same HUGEINT replay (`toSigned`).
    */
  def q81(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.GraftFunctionCatalog].getName)
    val n = Tables.load(spark, dir, "customer").count()
    spark.sql(
      s"""SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |       min(m) AS min_m, max(m) AS max_m
         |FROM (SELECT graft_fns.fns.mix64(id) AS m,
         |             CAST(shiftrightunsigned(graft_fns.fns.mix64(id), 60) AS INT) AS bucket
         |      FROM range($n))
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin)
  }

  /** q82 — the `graftlake` TRANSACTIONAL table lifecycle
    * ([[graft.sources.GraftLakeCatalog]]) as a correctness row: CREATE
    * through a v2 catalog plugin, append (v1), `MERGE INTO` upserting
    * order deltas + ghost inserts (v2, copy-on-write with runtime group
    * filtering), a string-predicate DELETE that must take the COW path
    * (v3), a key-range DELETE (v4), then one result frame combining the
    * final per-segment aggregate with TIME-TRAVEL row counts of every
    * version. The DuckDB oracle replays the whole mutation history
    * relationally (left-join merge, filter deletes, per-version counts)
    * — so the snapshot isolation, the rewrite arithmetic, and the
    * time-travel reads are all value-checked, not just exercised.
    * GraftLakeSpec pins the file-census/plan claims (no-rewrite
    * metadata deletes, group-filtered COW, optimistic commit).
    */
  def q82(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q82").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.accounts"
    spark.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, bal BIGINT)")
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .repartition(4)
      .writeTo(t).append() // v1
    // both union branches (originals + shifted ghosts) read one
    // materialization instead of re-running the orders scan + aggregate
    val delta = Tables.load(spark, dir, "orders")
      .filter(year($"o_orderdate") === 1995)
      .groupBy($"o_custkey")
      .agg(sum(graft.functions.gf.fixed($"o_totalprice", 100.0)).as("d"))
      .select($"o_custkey".as("k"), $"d")
      .persistScoped()
    delta.unionByName(delta.select(($"k" + 10000000L).as("k"), $"d"))
      .createOrReplaceTempView("q82_src")
    spark.sql(
      s"""MERGE INTO $t t USING q82_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.bal = t.bal + s.d
         |WHEN NOT MATCHED THEN INSERT (k, seg, bal) VALUES (s.k, 'ghost', s.d)""".stripMargin) // v2
    spark.sql(s"DELETE FROM $t WHERE seg = 'FURNITURE'") // v3 (COW: stats cannot decide a string)
    spark.sql(s"DELETE FROM $t WHERE k >= 10000000") // v4 (drops the ghosts)
    def cnt(v: Int) = broadcast(spark.sql(
      s"SELECT CAST(count(*) AS BIGINT) AS v${v}_rows FROM $t VERSION AS OF $v"))
    spark.table(t).groupBy($"seg")
      .agg(count(lit(1)).as("n_rows"), sum($"bal").as("sum_bal"))
      .crossJoin(cnt(1)).crossJoin(cnt(2)).crossJoin(cnt(3)).crossJoin(cnt(4))
      .orderBy($"seg")
  }

  /** q83 — CDC over the lake via TIME TRAVEL (the `table_changes`
    * analog a lakehouse gets for free from versioned snapshots), on a
    * MERGE-ON-READ table: after an UPDATE (balances doubled for one
    * segment — delete vectors + insert files, no data file rewritten)
    * and a DELETE (every 7th key), the change set between v1 and the
    * head is DERIVED by reading both versions — an anti-join finds the
    * deletes, an equi-join with a value inequality finds the updates,
    * and per-(segment, change_type) counts + exact cent deltas ride
    * the row. The oracle replays the mutations relationally and
    * computes the same diff — so both the mutation arithmetic AND the
    * time-travel read used to audit it are value-checked.
    */
  def q83(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q83").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.balances"
    // MERGE-ON-READ mode: the update + delete below land as delete
    // vectors + insert files (q82 exercises the copy-on-write mode) —
    // the unchanged oracle hash proves the dv arithmetic
    spark.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, bal BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .repartition(4)
      .writeTo(t).append() // v1
    spark.sql(s"UPDATE $t SET bal = bal * 2 WHERE seg = 'BUILDING'") // v2 (COW)
    spark.sql(s"DELETE FROM $t WHERE k % 7 = 0") // v3 (COW: stats cannot decide a modulus)
    val old = spark.sql(s"SELECT k, seg, bal FROM $t VERSION AS OF 1")
    val cur = spark.table(t).select($"k", $"bal".as("bal_new"))
    // ONE left join derives both change kinds (k is unique in both
    // versions, so no fan-out): an unmatched old row is the anti-join's
    // delete, a matched row with a changed balance is the inner join's
    // update — was two separate joins, each reading both versions
    old.join(cur, Seq("k"), "left")
      .filter($"bal_new".isNull || $"bal_new" =!= $"bal")
      .groupBy($"seg",
        when($"bal_new".isNull, "delete").otherwise("update").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"bal_new".isNull, -$"bal").otherwise($"bal_new" - $"bal"))
          .as("delta_cents"))
      .select($"seg", $"change_type", $"n_rows", $"delta_cents")
      .orderBy($"seg", $"change_type")
  }

  /** q84 — STREAMING the lake change feed
    * ([[graft.sources.LakeChangesTable]]): a MOR table mutates over
    * four commits (append, UPDATE = dv-delete + insert, DELETE = dv,
    * second UPDATE), and `readStream.table("...__changes")` streams the
    * per-version CDC rows — log versions as offsets, one version per
    * micro-batch (`maxVersionsPerTrigger=1`), Trigger.AvailableNow —
    * into a parquet sink. The fourth commit lands AFTER the first
    * drain; a second drain on the SAME checkpoint must resume from the
    * committed version and emit exactly that commit's changes — a
    * reprocessed version would double its counts and break the hash.
    * The DuckDB oracle replays the whole mutation history relationally
    * (pre-image deletes, post-image inserts, per-commit grouping).
    */
  def q84(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q84").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.balances"
    spark.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, bal BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .repartition(4)
      .writeTo(t).append() // v1
    spark.sql(s"UPDATE $t SET bal = bal * 2 WHERE seg = 'BUILDING'") // v2
    spark.sql(s"DELETE FROM $t WHERE k % 7 = 0") // v3
    val out = java.nio.file.Files.createTempDirectory("q84-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("q84-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table(s"${t}__changes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // v1..v3, one version per micro-batch
    spark.sql(s"UPDATE $t SET bal = bal + 5 WHERE k % 10 = 1") // v4, post-drain
    drain() // resume: ONLY v4
    spark.read.parquet(out)
      .groupBy(col("_commit_version").as("commit_v"),
        col("_change_type").as("change_type"), $"seg")
      .agg(count(lit(1)).as("n_rows"), sum($"bal").as("sum_bal"))
      .orderBy($"commit_v", $"change_type", $"seg")
  }

  /** q88 — INCREMENTAL MATERIALIZED-VIEW maintenance off the change
    * feed: a per-segment aggregate lake table is kept current by
    * streaming `<src>__changes` and MERGE-ing each micro-batch's
    * SIGNED deltas (+row/+bal for inserts, −row/−bal for pre-image
    * deletes) into the MV — the 100 TB pattern where the aggregate is
    * never recomputed from the fact table, only adjusted by what
    * changed. Checkpointed offsets make the maintenance RESUMABLE: the
    * fourth commit lands after the first drain and the second drain
    * applies exactly it — a replayed version would double its deltas
    * and break the oracle hash, so exactly-once application across
    * restarts is what the hash equality proves. (Within a micro-batch,
    * foreachBatch MERGE application is transactional via the lake's
    * optimistic commit; a mid-batch crash replays the batch — the
    * at-least-once caveat every foreachBatch sink documents.)
    */
  def q88(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q88").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.balances"
    val mv = s"$cat.db.seg_totals"
    spark.sql(s"CREATE TABLE $src (k BIGINT, seg STRING, bal BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.sql(s"CREATE TABLE $mv (seg STRING, n_rows BIGINT, sum_bal BIGINT)")
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .repartition(4)
      .writeTo(src).append() // v1
    spark.sql(s"UPDATE $src SET bal = bal * 2 WHERE seg = 'BUILDING'") // v2
    spark.sql(s"DELETE FROM $src WHERE k % 7 = 0") // v3
    val ckpt = java.nio.file.Files.createTempDirectory("q88-ckpt").toString
    val deltaView = s"q88_delta_${cat.takeRight(8)}"
    def maintain(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table(s"${src}__changes")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
            batch.groupBy(col("seg"))
              .agg(sum(sign).as("d_n"), sum(sign * col("bal")).as("d_bal"))
              .createOrReplaceTempView(deltaView)
            batch.sparkSession.sql(
              s"""MERGE INTO $mv t USING $deltaView d ON t.seg = d.seg
                 |WHEN MATCHED THEN UPDATE SET
                 |  t.n_rows = t.n_rows + d.d_n, t.sum_bal = t.sum_bal + d.d_bal
                 |WHEN NOT MATCHED THEN INSERT (seg, n_rows, sum_bal)
                 |  VALUES (d.seg, d.d_n, d.d_bal)""".stripMargin)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    maintain() // v1..v3, one version per micro-batch
    spark.sql(s"UPDATE $src SET bal = bal + 5 WHERE k % 10 = 1") // v4, post-drain
    maintain() // resume: exactly v4's deltas
    spark.table(mv).filter($"n_rows" > 0L)
      .select($"seg", $"n_rows", $"sum_bal")
      .orderBy($"seg")
  }

  /** q90 — stream-STATIC join ON the lake change feed: the reference's
    * consumer1 shape (enrich a stream against a broadcast dimension,
    * `consumer1.py`) re-expressed over lake CDC instead of Kafka. Each
    * micro-batch of `<src>__changes` joins a STATIC customer dimension
    * on the customer key, aggregates SIGNED per-segment deltas
    * (insert = +, pre-image delete = −), and MERGEs them into an
    * enriched MV — so the MV tracks a JOIN the fact table alone cannot
    * answer, maintained incrementally and resumably (the fourth commit
    * lands after the first drain; its deltas apply exactly once from
    * the checkpoint). The DuckDB oracle replays the full mutation
    * history relationally and joins at the END — equal hashes prove
    * per-batch join + signed-delta accumulation commutes with joining
    * the final state, which only holds when every change row enriched
    * exactly once.
    */
  def q90(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q90").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.orders_live"
    val mv = s"$cat.db.seg_rev"
    spark.sql(s"CREATE TABLE $src (ok BIGINT, ck BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.sql(s"CREATE TABLE $mv (seg STRING, n_rows BIGINT, sum_cents BIGINT)")
    // every micro-batch broadcasts the dimension — cache it so the
    // per-batch broadcast builds from memory instead of re-scanning
    // the customer parquet once per drained version
    val dim = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("ck"), $"c_mktsegment".as("seg"))
      .persistScoped()
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"), $"o_custkey".as("ck"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .repartition(4)
      .writeTo(src).append() // v1
    spark.sql(s"UPDATE $src SET cents = cents + 11 WHERE ok % 5 = 0") // v2
    spark.sql(s"DELETE FROM $src WHERE ok % 13 = 0") // v3
    val ckpt = java.nio.file.Files.createTempDirectory("q90-ckpt").toString
    val deltaView = s"q90_delta_${cat.takeRight(8)}"
    def maintain(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table(s"${src}__changes")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
            batch
              .join(broadcast(dim), "ck") // stream-static enrichment
              .groupBy(col("seg"))
              .agg(sum(sign).as("d_n"), sum(sign * col("cents")).as("d_cents"))
              .createOrReplaceTempView(deltaView)
            batch.sparkSession.sql(
              s"""MERGE INTO $mv t USING $deltaView d ON t.seg = d.seg
                 |WHEN MATCHED THEN UPDATE SET
                 |  t.n_rows = t.n_rows + d.d_n, t.sum_cents = t.sum_cents + d.d_cents
                 |WHEN NOT MATCHED THEN INSERT (seg, n_rows, sum_cents)
                 |  VALUES (d.seg, d.d_n, d.d_cents)""".stripMargin)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    maintain() // v1..v3
    spark.sql(s"UPDATE $src SET cents = cents * 2 WHERE ok % 11 = 3") // v4, post-drain
    maintain() // resume: exactly v4's deltas
    spark.table(mv).filter($"n_rows" > 0L)
      .select($"seg", $"n_rows", $"sum_cents")
      .orderBy($"seg")
  }

  /** q91 — streaming write INTO the lake (`writeStream.toTable`): the
    * reference's ingest direction (producer → topic → consumer →
    * store, `producer.py` / `consumer1.py:93-103`) re-expressed as a
    * checkpointed stream landing in a transactional lake table. A
    * source table's append-only stream (one source version per
    * micro-batch) is written into a SECOND lake table through the
    * connector's real [[org.apache.spark.sql.connector.write.streaming.StreamingWrite]]
    * — every epoch is its own atomic lake commit, idempotently keyed
    * by (queryId, epochId). The drain is RESTARTED mid-stream: the
    * third source slice lands only after the first drain finishes, and
    * the second drain resumes from the checkpoint to pick up exactly
    * that slice. The DuckDB oracle computes the same aggregate from
    * the raw parquet — hash equality proves every slice landed exactly
    * once across the restart (a replayed epoch doubles a bucket's
    * count; a lost one empties it).
    */
  def q91(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q91").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.orders_in"
    val dst = s"$cat.db.orders_sink"
    spark.sql(s"CREATE TABLE $src (ok BIGINT, ck BIGINT, cents BIGINT)")
    spark.sql(s"CREATE TABLE $dst (ok BIGINT, ck BIGINT, cents BIGINT)")
    // three deterministic slices; the +m shift makes mis-attributed
    // replays break the sum, not just the count
    // one orders pass; each slice filters the materialized projection
    val sliceBase = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"), $"o_custkey".as("ck"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("c0"))
      .persistScoped()
    def slice(m: Int) = sliceBase.filter($"ok" % 3 === m.toLong)
      .select($"ok", $"ck", ($"c0" + m.toLong).as("cents"))
    slice(0).repartition(2).writeTo(src).append() // v1
    slice(1).repartition(2).writeTo(src).append() // v2
    val ckpt = java.nio.file.Files.createTempDirectory("q91-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1") // one source version per epoch
        .table(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(dst)
      q.awaitTermination()
    }
    drain() // epochs for v1, v2 — each an atomic lake commit into dst
    slice(2).repartition(2).writeTo(src).append() // v3, post-drain
    drain() // restart from the checkpoint: exactly v3's rows
    spark.table(dst)
      .groupBy(($"ok" % 10L).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .orderBy($"bucket")
  }

  /** q100 — q91's checkpointed streaming ingest, but the sink is a
    * PARTITIONED (identity on `seg`) + SORTED (`sortBy ok`) lake
    * table: [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]
    * shapes every streaming epoch (cluster per tuple + in-task sort),
    * so each epoch commit lands one sorted file per touched partition
    * — the layout a 100 TB ingest pipeline needs its files born with,
    * not compacted into. The returned frame fuses three witnesses per
    * partition: the DATA aggregate (count + shifted checksum — a
    * replayed or lost epoch breaks it), the `__partitions` census
    * `live_rows` (log metadata must equal the data), and an in-file
    * ORDER witness — adjacent inversions of the sort key over the
    * `_pos` metadata column, summed per partition (any unsorted epoch
    * file makes it non-zero; the oracle pins 0). Restarting the drain
    * mid-stream exercises checkpoint resume across partitions.
    */
  def q100(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q100").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.orders_pin"
    val dst = s"$cat.db.orders_psink"
    spark.sql(s"CREATE TABLE $src (ok BIGINT, seg STRING, cents BIGINT)")
    spark.sql(
      s"""CREATE TABLE $dst (ok BIGINT, seg STRING, cents BIGINT)
         |PARTITIONED BY (seg) TBLPROPERTIES ('sortBy' = 'ok')""".stripMargin)
    // the +m shift makes a mis-attributed replay break the sum, not
    // just the count (q91's witness shape)
    // one orders pass; each slice filters the materialized projection
    val sliceBase = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"), $"o_orderpriority".as("seg"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("c0"))
      .persistScoped()
    def slice(m: Int) = sliceBase.filter($"ok" % 3 === m.toLong)
      .select($"ok", $"seg", ($"c0" + m.toLong).as("cents"))
    slice(0).repartition(2).writeTo(src).append() // v1
    slice(1).repartition(2).writeTo(src).append() // v2
    val ckpt = java.nio.file.Files.createTempDirectory("q100-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1") // one source version per epoch
        .table(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(dst)
      q.awaitTermination()
    }
    drain() // epochs for v1, v2 — sorted file per touched partition each
    slice(2).repartition(2).writeTo(src).append() // v3, post-drain
    drain() // checkpoint resume: exactly v3's rows
    val data = spark.table(dst).groupBy($"seg")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
    // log census: live_rows per partition tuple ("seg=<value>")
    val census = spark.table(s"${dst}__partitions")
      .select(expr("substring(partition, 5)").as("seg"),
        $"live_rows".as("census_rows"))
    // physical order witness: _pos walks each file in storage order,
    // so any adjacent sort-key inversion inside a file counts here
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_file")).orderBy(col("_pos"))
    val inv = spark.table(dst)
      .select($"seg", $"ok", col("_file"), col("_pos"))
      .withColumn("prev", lag($"ok", 1).over(w))
      .groupBy($"seg")
      .agg(sum(when($"prev" > $"ok", 1L).otherwise(0L)).as("inversions"))
    data.join(census, Seq("seg")).join(inv, Seq("seg"))
      .select($"seg", $"n_rows", $"sum_cents", $"census_rows", $"inversions")
      .orderBy($"seg")
  }

  /** q101 — the `__stats` census END-TO-END: a lake table lands with
    * injected NULLs, and the returned frame is the companion table's
    * own rows (column, write-time type, integral min/max, null count)
    * — every value derived from the LOG alone (writer-recorded footer
    * stats + null counts), zero data-file reads at answer time. The
    * DuckDB oracle recomputes the same statistics from the raw
    * parquet, so a drifted min, a miscounted null, or a missing
    * column row breaks the hash. NDV is excluded here (it is a
    * sketch estimate, pinned in-band by spec instead).
    */
  def q101(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q101").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.cust_stats"
    spark.sql(s"CREATE TABLE $t (k BIGINT, nat BIGINT, bal BIGINT, seg STRING)")
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_nationkey".cast("long").as("nat"),
        when($"c_custkey" % 7L === 0L, lit(null))
          .otherwise(graft.functions.gf.fixed($"c_acctbal", 100.0)).as("bal"),
        $"c_mktsegment".as("seg"))
      .repartition(3).writeTo(t).append()
    spark.table(s"${t}__stats")
      .select($"column", $"type", $"min", $"max", $"null_count")
      .orderBy($"column")
  }

  /** q102 — `CALL system.clone` snapshot isolation END-TO-END: a
    * source table is shallow-cloned (one metadata commit, zero bytes
    * copied), then the source takes an append AND a copy-on-write
    * DELETE. The returned frame reads BOTH tables — the clone must
    * still serve exactly the cloned snapshot (through the source's
    * superseded files it references absolutely), the source exactly
    * its mutated state. The oracle recomputes both views from raw
    * parquet: a clone leaking post-clone rows, losing pinned ones, or
    * a source mutation bleeding across breaks the hash.
    */
  def q102(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q102").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.orders_cl"
    spark.sql(s"CREATE TABLE $src (ok BIGINT, cents BIGINT)")
    // one orders pass; both slices filter the materialized projection
    val sliceBase = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    def slice(m: Int) = sliceBase.filter($"ok" % 2 === m.toLong)
    slice(0).repartition(2).writeTo(src).append() // v1: the cloned state
    spark.sql(s"CALL $cat.system.clone('db.orders_cl', 'db.orders_snap', -1)")
    slice(1).repartition(2).writeTo(src).append() // post-clone append
    spark.sql(s"DELETE FROM $src WHERE ok % 5 = 0") // post-clone COW rewrite
    val clone = spark.table(s"$cat.db.orders_snap")
      .groupBy(($"ok" % 10L).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .select(lit("clone").as("vw"), $"bucket", $"n_rows", $"sum_cents")
    val source = spark.table(src)
      .groupBy(($"ok" % 10L).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .select(lit("source").as("vw"), $"bucket", $"n_rows", $"sum_cents")
    clone.unionAll(source).orderBy($"vw", $"bucket")
  }

  /** q103 — the ROUND-13 scale surfaces END-TO-END: a byte-paced
    * streaming backfill (an undersized `maxBytesPerTrigger` admits
    * exactly one whole commit per epoch — the never-stall,
    * never-split rule) drains 12 source commits into a PARTITIONED
    * destination with bloom sidecars and a small checkpoint part
    * bound, so the destination crosses the checkpoint interval and
    * lands a multi-part PARTITION-RANGE-INDEXED checkpoint whose
    * planning parses only matching parts. The returned frame is a
    * partition-pruned aggregate (part-indexed planning) crossed with
    * a bloom-sidecar point lookup. The DuckDB oracle recomputes both
    * from raw parquet — a lost/duplicated epoch, a part wrongly
    * pruned, or a bloom false-negative each break the hash.
    */
  def q103(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q103").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.cust_backlog"
    val dst = s"$cat.db.cust_indexed"
    spark.sql(s"CREATE TABLE $src (k BIGINT, nat5 BIGINT, bal BIGINT)")
    spark.sql(
      s"""CREATE TABLE $dst (k BIGINT, nat5 BIGINT, bal BIGINT)
         |PARTITIONED BY (nat5)
         |TBLPROPERTIES ('bloomBy' = 'k', 'checkpoint_part_bytes' = '6000')""".stripMargin)
    // 5 partition tuples, not 25: each epoch lands one file per
    // touched tuple, and the per-epoch file fan-out is the dominant
    // fixed cost of a paced drain at test scale
    val base = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), ($"c_nationkey" % 5).cast("long").as("nat5"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .persistScoped() // 12 commit slices filter one pass, not twelve
    for (m <- 0 until 12) // 12 one-file commits: the backlog to drain
      base.filter($"k" % 12L === m.toLong).coalesce(1).writeTo(src).append()
    val ckpt = java.nio.file.Files.createTempDirectory("q103-ckpt").toString
    // byte budget of 1: every epoch admits ONE whole commit (version
    // boundaries absolute; an over-budget commit admits alone) — 12
    // epochs → the destination crosses CheckpointInterval and lands a
    // multi-part indexed checkpoint
    spark.readStream.option("maxBytesPerTrigger", "1").table(src)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(dst).awaitTermination()
    // partition-pruned aggregate: planning parses only the checkpoint
    // parts whose recorded ranges hold nat5 ∈ {1, 3}
    val pruned = spark.table(dst).where($"nat5".isin(1L, 3L))
      .groupBy($"nat5")
      .agg(count(lit(1)).as("n_rows"), sum($"bal").as("sum_bal"))
    // bloom-sidecar point lookup (k scattered across every partition)
    val point = broadcast(spark.table(dst).where($"k" === 97L)
      .select($"bal".as("point_bal")))
    pruned.crossJoin(point).orderBy($"nat5")
  }

  /** q104 — `trunc(n, col)` TIME-BUCKET partitioning END-TO-END: the
    * events stream lands in a lake table partitioned by DAY over
    * epoch-micros (`trunc(86400000000, ts_us)`) in two commits, so a
    * thousand distinct timestamps produce one file per (commit, day)
    * instead of a partition per value — the only layout a time column
    * can take at 100 TB. The returned frame is the per-day census
    * (rows + fixed-point value sum) computed with the SAME floor
    * division the partition transform uses, joined against the
    * `__partitions` metadata census on its Iceberg-style
    * `trunc(86400000000,ts_us)=<day>` label (log-only rows — zero
    * data IO); the DuckDB oracle recomputes both from raw parquet. A
    * row routed to the wrong bucket, lost in the split,
    * double-written, or a mislabeled/miscounted census row each
    * break the hash.
    */
  def q104(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q104").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.events_daily"
    spark.sql(
      s"""CREATE TABLE $t (ts_us BIGINT, user_id BIGINT, mv BIGINT)
         |PARTITIONED BY (trunc(86400000000, ts_us))""".stripMargin)
    // two slices = two pruned scans; A/B'd a shared materialization
    // here and it measured WORSE (cache write ≈ one full pass, saving
    // only one) — kept as scans, unlike the ≥3-consumer sites
    def slice(m: Int) = Tables.load(spark, dir, "events")
      .filter($"user_id" % 2 === m.toLong)
      .select(unix_micros($"ts").as("ts_us"), $"user_id",
        graft.functions.gf.fixed($"value", 1000.0).as("mv"))
    slice(0).repartition(2).writeTo(t).append()
    slice(1).repartition(2).writeTo(t).append()
    // the metadata census: one row per day bucket, labeled with the
    // transform itself (`trunc(86400000000,ts_us)=<day>`) — the shape
    // an operator reads before `CALL system.compact_where`
    val census = broadcast(spark.table(s"${t}__partitions")
      .select($"partition".as("bucket_label"), $"live_rows".as("census_rows")))
    spark.table(t)
      .groupBy(expr("ts_us DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n_rows"), sum($"mv").as("sum_mv"))
      .join(census,
        concat(lit("trunc(86400000000,ts_us)="), $"day") === $"bucket_label")
      .select($"day", $"n_rows", $"sum_mv", $"bucket_label", $"census_rows")
      .orderBy($"day")
  }

  /** q92 — WRITE-AUDIT-PUBLISH over named refs: the curation gate a
    * production lake runs before exposing new data (the reference
    * publishes each transform layer wholesale to HDFS paths,
    * `README.md` batch flow; refs make that promotion transactional).
    * A customer table is tagged at its audited state, a staging branch
    * opens (pinning the default view), a second slice lands on the
    * branch, and the AUDIT reads three views at once: plain reads
    * (pinned — must still see only slice 1), `VERSION AS OF 'wap'`
    * (the branch head — both slices), `VERSION AS OF 'v1'` (the tag).
    * After `publish` the default view flips to the branch head in one
    * atomic ref unlink. The returned aggregate reads the PUBLISHED
    * table crossed with 1-row pinned/audit counts captured BEFORE the
    * publish — the DuckDB oracle recomputes all three from raw
    * parquet, so a leaked staged row into the pinned view, a missed
    * row in the audit view, or a lost slice after publish each break
    * the hash.
    */
  def q92(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q92").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.custgate"
    spark.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, bal BIGINT)")
    // one customer pass; both slices filter the materialized projection
    val sliceBase = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .persistScoped()
    def slice(m: Int) = sliceBase.filter($"k" % 2 === m.toLong)
    slice(0).repartition(2).writeTo(t).append() // v1: the audited state
    spark.sql(s"CALL $cat.system.tag('db.custgate', 'v1', -1)")
    spark.sql(s"CALL $cat.system.branch('db.custgate', 'wap')")
    slice(1).repartition(2).writeTo(t).append() // v2: staged on the branch
    // three views, captured as 1-row broadcast frames BEFORE publish
    // (analysis pins each frame's snapshot; execution later still
    // reads exactly those files)
    val pinned = broadcast(spark.table(t)
      .agg(count(lit(1)).as("pinned_rows")))
    val audit = broadcast(spark.sql(
      s"SELECT CAST(count(*) AS BIGINT) AS audit_rows FROM $t VERSION AS OF 'wap'"))
    val tagged = broadcast(spark.sql(
      s"SELECT CAST(count(*) AS BIGINT) AS tag_rows FROM $t VERSION AS OF 'v1'"))
    spark.sql(s"CALL $cat.system.publish('db.custgate', 'wap')")
    spark.table(t) // re-resolved post-publish: the branch head
      .groupBy($"seg")
      .agg(count(lit(1)).as("n_rows"), sum($"bal").as("sum_bal"))
      .crossJoin(pinned).crossJoin(audit).crossJoin(tagged)
      .orderBy($"seg")
  }

  /** q93 — METADATA-ONLY aggregates as a correctness row: COUNT(*),
    * COUNT(col), MIN/MAX answered from the lake log's footer stats
    * (zero data-file opens — the `SELECT count(*)` on a 100 TB table
    * that must not launch a job). The pre-delete frame is captured
    * with the pure-metadata plan; a MOR DELETE then lands a delete
    * vector, after which COUNT stays metadata (liveRows is exact) but
    * MIN must FALL BACK to scanning — the deleted row was the old
    * extremum, so a stats-served answer would be stale. The DuckDB
    * oracle recomputes both frames relationally: hash equality proves
    * the stats path and the fallback path agree with the data.
    */
  def q93(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q93").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.ordermeta"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        when($"o_orderkey" % 7 =!= 0L,
          graft.functions.gf.fixed($"o_totalprice", 100.0)).as("cents"))
      .repartition(3)
      .writeTo(t).append()
    // pre-delete frame: analysis pins the snapshot, so these answer
    // from the PRE-delete log even though execution happens later —
    // and they plan as the metadata LocalScan (GraftLakeSpec pins it)
    val pre = broadcast(spark.sql(
      s"""SELECT count(*) AS pre_rows, count(cents) AS pre_cents,
         |  min(ok) AS pre_min_ok, max(ok) AS pre_max_ok FROM $t""".stripMargin))
    spark.sql(s"DELETE FROM $t WHERE ok = (SELECT min(ok) FROM $t)")
    // post-delete: counts stay metadata (dv-exact); min falls back to
    // the scan because the dv'd file's stats could hide the extremum
    spark.sql(
      s"""SELECT count(*) AS post_rows, count(cents) AS post_cents,
         |  min(ok) AS post_min_ok FROM $t""".stripMargin)
      .crossJoin(pre)
      .select($"pre_rows", $"pre_cents", $"pre_min_ok", $"pre_max_ok",
        $"post_rows", $"post_cents", $"post_min_ok")
  }

  /** q94 — PARTITION-FILTERED metadata aggregates: a predicate every
    * file decides exactly (an identity partition value) is CONSUMED at
    * the scan — file pruning applies it in full, no residual Filter —
    * so `count(*) / min / max WHERE seg = x` stays a zero-task metadata
    * plan (GraftLakeSpec pins the plan shapes). A MOR DELETE then dvs
    * one partition: its count stays metadata (liveRows is exact), its
    * min falls back to the scan, the untouched partition keeps the full
    * metadata path, and a predicate matching NO partition answers zero
    * from planning alone. The oracle replays every frame relationally.
    */
  def q94(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q94").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.orderseg"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, seg STRING, cents BIGINT) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        substring($"o_orderpriority", 1, 1).as("seg"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .writeTo(t).append()
    // pre-delete frame over ONE partition: consumed predicate → the
    // whole aggregate answers from the log, zero tasks
    val pre = broadcast(spark.sql(
      s"""SELECT count(*) AS n3, min(ok) AS lo3, max(ok) AS hi3
         |FROM $t WHERE seg = '3'""".stripMargin))
    spark.sql(s"DELETE FROM $t WHERE ok = (SELECT min(ok) FROM $t WHERE seg = '3')")
    // post-delete: count stays metadata (liveRows), min must rescan;
    // an untouched partition keeps its metadata min; seg '9' matches
    // no file — planning alone answers zero
    spark.sql(
      s"""SELECT
         |  (SELECT count(*) FROM $t WHERE seg = '3') AS pn3,
         |  (SELECT min(ok) FROM $t WHERE seg = '3') AS plo3,
         |  (SELECT min(ok) FROM $t WHERE seg = '5') AS lo5,
         |  (SELECT count(*) FROM $t WHERE seg = '9') AS zn""".stripMargin)
      .crossJoin(pre)
      .select($"n3", $"lo3", $"hi3", $"pn3", $"plo3", $"lo5", $"zn")
  }

  /** q105 — PREFIX predicates in the string decision algebra: a lake
    * table written one file per market segment (disjoint string
    * domains — the segments' first letters differ), probed with
    * `LIKE 'v%'` shapes. A prefix is the byte range [v, v⊕1) in the
    * same UTF-8 order the string stats record, so every file decides
    * EXACTLY: the filtered count/min/max/sum answer as zero-task
    * metadata plans, and a no-match prefix answers from planning
    * alone (GraftLakeSpec pins the plan shapes; this row pins the
    * VALUES against DuckDB's own LIKE). Real 100-TB predicates are
    * disproportionately string prefixes — this is the row that proves
    * they prune.
    */
  def q105(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q105").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.custpfx"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, seg STRING, cents BIGINT)")
    val base = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("ok"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("cents"))
      .persistScoped() // 5 per-segment commits filter one pass, not five
    // one commit per segment: each file's string [min,max] is a single
    // value, so prefix ranges decide every file All-or-None
    for (s <- Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
      base.filter($"seg" === s).coalesce(1).writeTo(t).append()
    spark.sql(
      s"""SELECT
         |  (SELECT count(*) FROM $t WHERE seg LIKE 'B%') AS nb,
         |  (SELECT min(ok) FROM $t WHERE seg LIKE 'H%') AS loh,
         |  (SELECT max(ok) FROM $t WHERE seg LIKE 'H%') AS hih,
         |  (SELECT sum(cents) FROM $t WHERE seg LIKE 'MACH%') AS sm,
         |  (SELECT max(seg) FROM $t WHERE seg LIKE 'F%') AS mf,
         |  (SELECT count(*) FROM $t WHERE seg LIKE 'Z%') AS zn""".stripMargin)
  }

  /** q106 — PARTITION-SCOPED MAINTENANCE on the streaming-ingest
    * layout, end to end: events land in a `trunc(day, ts_us)` bucketed
    * table over three commits (several files per bucket — the shape a
    * paced ingest produces), then `CALL system.compact_where` OPTIMIZEs
    * exactly the first half of the days (`ts_us < cut`, bucket-aligned
    * via the transform's own floorDiv math; cut is data-derived from
    * the metadata min/max so the row is scale-stable). The frame joins
    * the post-compaction per-day content census against (a) the
    * PRE-compaction `__partitions` census (pinned by VERSION AS OF at
    * the captured pre-CALL head — meta tables evaluate at physical
    * planning, so an unpinned read would see the post-compaction log;
    * proves zero rows were lost or duplicated by the rewrite), (b) the post
    * `__partitions` file counts for compacted buckets (must be 1), and
    * (c) a pre/post `__files` PATH-SET diff for untouched buckets
    * (must be empty — compaction scoped to the predicate touches
    * nothing else). The DuckDB oracle states all three invariants
    * relationally; a lost row, an over-eager rewrite, or a
    * non-compacted selected bucket each break the hash.
    */
  def q106(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q106").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.events_opt"
    spark.sql(
      s"""CREATE TABLE $t (ts_us BIGINT, user_id BIGINT, mv BIGINT)
         |PARTITIONED BY (trunc(86400000000, ts_us))""".stripMargin)
    // one events pass; the three slices filter the materialized projection
    val sliceBase = Tables.load(spark, dir, "events")
      .select(unix_micros($"ts").as("ts_us"), $"user_id",
        graft.functions.gf.fixed($"value", 1000.0).as("mv"))
      .persistScoped()
    def slice(m: Int) = sliceBase.filter($"user_id" % 3 === m.toLong)
    for (m <- 0 until 3) slice(m).writeTo(t).append()
    // PRE-compaction frames pinned by TIME TRAVEL: meta tables are
    // scanOnly — their row block evaluates at PHYSICAL planning, after
    // the eager CALL below — so a plain `spark.table(__partitions)`
    // here would silently read the post-compaction log. Capture the
    // head version and pin both frames with VERSION AS OF instead.
    val preV = spark.table(s"${t}__history").agg(max($"version")).head.getLong(0)
    val preParts = broadcast(
      spark.sql(s"SELECT * FROM ${t}__partitions VERSION AS OF $preV")
        .select($"partition".as("bl"), $"live_rows".as("census_rows")))
    val preFiles = spark.sql(s"SELECT * FROM ${t}__files VERSION AS OF $preV")
      .select($"path", $"partition".as("bl")).withColumn("inpre", lit(1))
    // data-derived cutoff day: metadata-only min/max, one bounded row
    val mm = spark.sql(s"SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM $t").head()
    val day = 86400000000L
    val (lo, hi) = (Math.floorDiv(mm.getLong(0), day), Math.floorDiv(mm.getLong(1), day))
    val cut = lo + math.max(1L, (hi - lo + 1L) / 2L)
    spark.sql(s"CALL $cat.system.compact_where('db.events_opt', " +
      s"'ts_us < ${cut * day}', 1)")
    val postParts = spark.table(s"${t}__partitions")
      .select($"partition".as("bl"), $"n_files".as("files_post"))
    val postFiles = spark.table(s"${t}__files")
      .select($"path", $"partition".as("bl")).withColumn("inpost", lit(1))
    // per-bucket path-set symmetric difference: empty ⟺ untouched
    val diff = preFiles.join(postFiles, Seq("path", "bl"), "full_outer")
      .groupBy($"bl")
      .agg(sum(when($"inpost".isNull, 1L).otherwise(0L)).as("only_pre"),
        sum(when($"inpre".isNull, 1L).otherwise(0L)).as("only_post"))
    val label = concat(lit("trunc(86400000000,ts_us)="), $"day")
    spark.table(t)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_rows"), sum($"mv").as("sum_mv"))
      .join(preParts, label === preParts("bl"))
      .join(postParts, label === postParts("bl"))
      .join(diff, label === diff("bl"))
      .select($"day", $"n_rows", $"sum_mv", $"census_rows",
        when($"day" < cut, $"files_post".cast("long")).as("files_compacted"),
        when($"day" >= cut, $"only_pre" === 0L && $"only_post" === 0L)
          .as("untouched_unchanged"))
      .orderBy($"day")
  }

  /** q107 — the ROUND-14 READ STACK as a correctness row: orders land
    * in a `sortBy` table as four disjoint-range zstd files with 16 KB
    * row groups and native `bloomBy` blooms, then are read back
    * through every new pruning layer at once — a selective dim JOIN
    * (runtime dynamic file pruning on the sort key), point-sum and
    * band-census scalar subqueries (residual predicates skipping row
    * groups inside the surviving file, blooms separating what stats
    * cannot), and a guaranteed miss. All probe keys are data-derived
    * (metadata min/max), so the row is scale-stable; the DuckDB
    * oracle replays everything relationally — a pruning layer that
    * drops a matching row group, a codec round-trip error, or a
    * runtime filter that over-prunes each break the hash.
    */
  def q107(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q107").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.orders_rg"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, cents BIGINT) TBLPROPERTIES (" +
      "'sortBy' = 'ok', 'row_group_bytes' = '16384', " +
      "'compression' = 'zstd', 'bloomBy' = 'ok')")
    val base = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped() // min/max agg + 4 range commits: one pass, not five
    val Seq(lo, hi) = {
      val r = base.agg(min($"ok"), max($"ok")).head
      Seq(r.getLong(0), r.getLong(1))
    }
    // four disjoint-range commits: sorted zstd files whose stats
    // separate — what dynamic file pruning prunes BETWEEN files and
    // row-group pruning prunes WITHIN them
    val span = hi - lo + 1L
    for (i <- 0 until 4)
      base.filter($"ok" >= lo + span * i / 4 && $"ok" < lo + span * (i + 1) / 4)
        .coalesce(1).writeTo(t).append()
    // the dim carries the two extreme keys behind a NON-join-key
    // selective filter — the runtime-pruning shape (a static IN would
    // be consumed at plan time instead)
    val dim = spark.range(0, 100)
      .select(when($"id" === 3L, lo).when($"id" === 57L, hi)
        .otherwise(-$"id" - 1L).as("ok"), $"id".as("code"))
      .filter($"code" === 3L || $"code" === 57L)
    val joined = spark.table(t).join(dim, Seq("ok"))
      .agg(count(lit(1)).as("join_rows"), sum($"cents").as("join_cents"))
    joined.crossJoin(spark.sql(
      s"""SELECT
         |  (SELECT sum(cents) FROM $t WHERE ok = $lo) AS point_cents,
         |  (SELECT sum(cents) FROM $t
         |     WHERE ok BETWEEN $lo AND ${lo + span / 100L}) AS band_cents,
         |  (SELECT count(*) FROM $t WHERE ok = ${lo - 1L}) AS miss""".stripMargin))
      .select($"join_rows", $"join_cents", $"point_cents", $"band_cents", $"miss")
  }

  /** q109 — the `__row_groups` census proven DATA-TRUE: orders land
    * as one sorted multi-row-group file (16 KB groups), and the
    * census's per-group footer stats are folded back into global
    * facts — summed group row counts, min-of-mins / max-of-maxes on
    * the sort key, summed null counts on a planted-null column — that
    * the DuckDB oracle recomputes straight from the raw rows. Group
    * BOUNDARIES are writer-cadence implementation detail (not
    * asserted); the fold over them must still equal the data exactly,
    * or the stats row-group pruning trusts are lies.
    */
  def q109(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q109").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.orders_rgc"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('sortBy' = 'ok', 'row_group_bytes' = '16384')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        when($"o_orderkey" % 7 =!= 0L,
          graft.functions.gf.fixed($"o_totalprice", 100.0)).as("cents"))
      .coalesce(1).writeTo(t).append()
    val rg = spark.table(s"${t}__row_groups")
    val okF = rg.where($"column" === "ok")
      .agg(sum($"rows").as("n_rows"), min($"min").as("min_ok"),
        max($"max").as("max_ok"), sum($"null_count").as("ok_nulls"))
    val centsF = rg.where($"column" === "cents")
      .agg(sum($"null_count").as("cents_nulls"), max($"max").as("max_cents"))
    okF.crossJoin(centsF)
      .select($"n_rows", $"min_ok", $"max_ok", $"ok_nulls",
        $"cents_nulls", $"max_cents")
  }

  /** q95 — BLOOM-INDEXED point lookups as a correctness row: a
    * `bloomBy` table written in overlapping-range files (random
    * distribution — min/max stats cannot tell files apart), probed
    * with literal equality/IN on the key. Planning consults the
    * parquet-native bloom filters and drops definitely-absent files
    * (GraftLakeSpec pins the files=k/n plan shapes); blooms have no
    * false negatives, so results are exact — which is what the oracle
    * replays relationally. The probe keys are data-derived (global
    * min/max via the metadata-aggregate path) so the row is stable
    * across scale factors; the miss probe (min−1) answers zero.
    */
  def q95(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q95").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.orderbloom"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, seg STRING, cents BIGINT) " +
      "TBLPROPERTIES ('bloomBy' = 'ok')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        substring($"o_orderpriority", 1, 1).as("seg"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .repartition(4)
      .writeTo(t).append()
    // data-derived literal probes (bounded 1-row collect, like the
    // replay witnesses): the min/max themselves answer from metadata
    val mm = spark.sql(s"SELECT min(ok) AS lo, max(ok) AS hi FROM $t").head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    spark.sql(
      s"""SELECT ok, seg, cents,
         |  (SELECT count(*) FROM $t WHERE ok = ${lo - 1}) AS miss
         |FROM $t WHERE ok IN ($lo, $hi) ORDER BY ok""".stripMargin)
  }

  /** q96 — GROUPED metadata aggregates: `GROUP BY` an identity
    * partition column makes every group a set of whole files, so
    * per-group COUNT/MIN/MAX answer from the log — |groups| lookups,
    * zero tasks (GraftLakeSpec pins the plan). After a MOR DELETE the
    * per-group counts stay metadata (liveRows); the oracle replays
    * both frames relationally and the join proves them against data.
    */
  def q96(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q96").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.ordergroup"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, seg STRING) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        substring($"o_orderpriority", 1, 1).as("seg"))
      .writeTo(t).append()
    // pre-delete frame: analysis pins the snapshot; plans as the
    // grouped metadata LocalScan
    val pre = spark.sql(
      s"SELECT seg, count(*) AS n, min(ok) AS lo, max(ok) AS hi FROM $t GROUP BY seg")
    spark.sql(s"DELETE FROM $t WHERE ok = (SELECT min(ok) FROM $t WHERE seg = '3')")
    val post = spark.sql(s"SELECT seg, count(*) AS n2 FROM $t GROUP BY seg")
    pre.join(post, "seg").orderBy($"seg")
  }

  /** q97 — `__partitions` metadata census as a correctness row: the
    * per-partition (tuple, raw rows, dv rows, live rows) census folds
    * from the log alone — the SHOW-PARTITIONS surface an operator
    * reads before scanning anything. A MOR DELETE moves one row from
    * live to dv'd in exactly one partition; the oracle recomputes both
    * columns relationally per segment, proving the census against the
    * data it describes.
    */
  def q97(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q97").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.orderparts"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, seg STRING) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        substring($"o_orderpriority", 1, 1).as("seg"))
      .writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE ok = (SELECT min(ok) FROM $t WHERE seg = '2')")
    spark.sql(
      s"""SELECT `partition` AS p, `rows` AS rows_total, dv_rows, live_rows
         |FROM ${t}__partitions ORDER BY p""".stripMargin)
  }

  /** q98 — PARTITION DDL lifecycle as a correctness row: `ALTER TABLE
    * DROP PARTITION` and `TRUNCATE TABLE … PARTITION` remove whole
    * partitions as single metadata commits (zero rows read — the
    * instant partition-retention drop at 100 TB). The pre-drop total
    * rides the metadata count; the post state reads back through the
    * grouped metadata aggregate; the oracle replays both relationally.
    */
  def q98(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q98").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.orderdrop"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, seg STRING) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        substring($"o_orderpriority", 1, 1).as("seg"))
      .writeTo(t).append()
    val pre = broadcast(spark.sql(s"SELECT count(*) AS pre_rows FROM $t"))
    spark.sql(s"ALTER TABLE $t DROP PARTITION (seg = '1')")
    spark.sql(s"TRUNCATE TABLE $t PARTITION (seg = '2')")
    spark.sql(s"SELECT seg, count(*) AS n FROM $t GROUP BY seg")
      .crossJoin(pre)
      .orderBy($"seg")
  }

  /** q99 — METADATA SUM (and AVG) as a correctness row: the write path
    * records per-file integral column sums in the log (wrapping adds —
    * bit-identical to Spark's non-ANSI scan-side sum), so ungrouped
    * SUM answers from planning alone, composing with null columns,
    * consumed partition filters, and the grouped path; AVG divides the
    * exact metadata sum by the non-null count ONCE in double (both
    * sides of the oracle compute sum/count the same way, so the
    * rounded values match bit-for-bit). A MOR DELETE then dvs one
    * partition: its sum falls back to the scan (the deleted row's
    * contribution is unknowable to metadata) while the oracle replays
    * everything relationally.
    */
  def q99(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q99").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.ordersum"
    spark.sql(s"CREATE TABLE $t (ok BIGINT, seg STRING, cents BIGINT) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')")
    Tables.load(spark, dir, "orders")
      .select($"o_orderkey".as("ok"),
        substring($"o_orderpriority", 1, 1).as("seg"),
        when($"o_orderkey" % 7 =!= 0L,
          graft.functions.gf.fixed($"o_totalprice", 100.0)).as("cents"))
      .writeTo(t).append()
    // all four shapes plan as metadata: global, consumed-filter, null
    // column, and AVG (exact sum ÷ non-null count)
    val pre = broadcast(spark.sql(
      s"""SELECT sum(ok) AS s_ok, sum(cents) AS s_cents,
         |  (SELECT sum(cents) FROM $t WHERE seg = '3') AS s3,
         |  (SELECT avg(cents) FROM $t WHERE seg = '5') AS raw_a5
         |FROM $t""".stripMargin))
    spark.sql(s"DELETE FROM $t WHERE ok = (SELECT min(ok) FROM $t WHERE seg = '3')")
    // the dv'd partition falls back to the scan; untouched ones stay metadata
    spark.sql(
      s"""SELECT
         |  (SELECT sum(cents) FROM $t WHERE seg = '3') AS s3_post,
         |  (SELECT sum(cents) FROM $t WHERE seg = '5') AS s5_post""".stripMargin)
      .crossJoin(pre)
      .select($"s_ok", $"s_cents", $"s3",
        graft.functions.gf.dround($"raw_a5", 4).as("a5"),
        $"s3_post", $"s5_post")
  }

  /** q85 — lake SCHEMA EVOLUTION as a correctness row: a table built in
    * two eras (a column added mid-history via `ALTER TABLE ADD
    * COLUMNS`), then a RENAME and a DROP — all pure metadata commits
    * over stable field ids ([[graft.sources.LakeColIds]]). The final
    * aggregate reads pre-evolution files through the id mapping (their
    * parquet column is still physically named `size`), null-fills the
    * added column for era-1 rows, and rides a TIME-TRAVEL count of the
    * pre-evolution version. The DuckDB oracle replays the evolution
    * relationally (era union + NULL casting), so the null-fill
    * arithmetic and the rename resolution are value-checked.
    */
  def q85(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q85").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.parts"
    spark.sql(s"CREATE TABLE $t (pk BIGINT, name STRING, size BIGINT)")
    val part = Tables.load(spark, dir, "part")
    part.filter($"p_partkey" % 3 =!= 0)
      .select($"p_partkey".as("pk"), $"p_name".as("name"),
        $"p_size".cast("long").as("size"))
      .repartition(2).writeTo(t).append() // v1: era-1 files, no retail column
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (retail_cents BIGINT)") // v2
    part.filter($"p_partkey" % 3 === 0)
      .select($"p_partkey".as("pk"), $"p_name".as("name"),
        $"p_size".cast("long").as("size"),
        graft.functions.gf.fixed($"p_retailprice", 100.0).as("retail_cents"))
      .repartition(2).writeTo(t).append() // v3: era-2 files carry it
    spark.sql(s"ALTER TABLE $t RENAME COLUMN size TO psize") // v4
    spark.sql(s"ALTER TABLE $t DROP COLUMN name") // v5
    val v1 = broadcast(spark.sql(
      s"SELECT CAST(count(*) AS BIGINT) AS v1_rows FROM $t VERSION AS OF 1"))
    spark.table(t)
      .groupBy(($"pk" % 5).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        count($"retail_cents").as("n_retail"),
        sum(coalesce($"retail_cents", lit(0L))).as("sum_retail"),
        sum($"psize").as("sum_psize"))
      .crossJoin(v1)
      .orderBy($"bucket")
  }

  /** q86 — `CALL system.zorder` as a correctness row: a lake table of
    * order facts is rewritten in 2-dim Morton order (o_custkey ×
    * o_orderkey, quantized per [[graft.operators.Layout]]) and a
    * 2-dim range aggregate reads the CLUSTERED table. The DuckDB
    * oracle computes the same aggregate from raw `orders` — hash
    * equality states the clustering rewrite lost and duplicated
    * nothing at SF scale (the pruning effect itself is pinned by
    * GraftLakeSpec's planned-file census; layout must be invisible to
    * semantics). Range bounds derive from 1-row max aggregates so the
    * row works at any SF.
    */
  def q86(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q86").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.orderfacts"
    spark.sql(s"CREATE TABLE $t (ck BIGINT, ok BIGINT, cents BIGINT)")
    Tables.load(spark, dir, "orders")
      .select($"o_custkey".as("ck"), $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .repartition(4)
      .writeTo(t).append()
    spark.sql(s"CALL $cat.system.zorder('db.orderfacts', 'ck', 'ok', 6)")
    val bounds = broadcast(spark.table(t)
      .agg(expr("max(ck) div 2").as("ckh"), expr("max(ok) div 2").as("okh")))
    spark.table(t).crossJoin(bounds)
      .filter($"ck" <= $"ckh" && $"ok" <= $"okh")
      .groupBy(($"ck" % 8).as("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("sum_cents"))
      .orderBy($"bucket")
  }

  /** q87 — PARTITIONED lake table lifecycle
    * ([[graft.sources.LakePartitioning]]): `PARTITIONED BY (seg)` so
    * every data file holds exactly one segment (the write path's
    * required clustering re-shuffles the 4-way repartitioned input),
    * then the three partition-level operations a warehouse runs daily:
    * a DYNAMIC partition overwrite (BUILDING recomputed with doubled
    * balances — only the touched partition replaces), a STATIC
    * predicate overwrite (MACHINERY swapped for a 100-row summary
    * slice), and a whole-partition DELETE (FURNITURE — metadata-only,
    * the tuple decides the string predicate exactly). The DuckDB
    * oracle replays all three relationally; the per-segment aggregate
    * hash-checks that partition replacement touched exactly the named
    * segments and nothing else.
    */
  def q87(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q87").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.accounts"
    spark.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, bal BIGINT) PARTITIONED BY (seg)")
    // three consumers (seed + two overwrites) — one customer pass
    val base = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .persistScoped()
    base.repartition(4).writeTo(t).append() // v1: one file per segment
    // v2: DYNAMIC overwrite — recompute ONE segment, doubled
    base.filter($"seg" === "BUILDING")
      .select($"k", $"seg", ($"bal" * 2L).as("bal"))
      .writeTo(t).overwritePartitions()
    // v3: STATIC overwrite — swap MACHINERY for its top-100 by key
    base.filter($"seg" === "MACHINERY").orderBy($"k").limit(100)
      .writeTo(t).overwrite($"seg" === "MACHINERY")
    // v4: whole-partition delete, metadata-only
    spark.sql(s"DELETE FROM $t WHERE seg = 'FURNITURE'")
    spark.table(t).groupBy($"seg")
      .agg(count(lit(1)).as("n_rows"), sum($"bal").as("sum_bal"))
      .orderBy($"seg")
  }

  /** q89 — PARTITION EVOLUTION on a live lake table
    * (`CALL system.evolve_partitioning`,
    * [[graft.sources.LakePartitioning]]): era 0 lands identity(seg)
    * files, the spec evolves to bucket(4, k) as a pure metadata
    * commit, era 1 lands bucket files over the SAME logical table, and
    * a DELETE then crosses both eras — the identity files drop
    * metadata-only (their tuple decides the string predicate), the
    * bucket files rewrite copy-on-write. Each file prunes under its
    * own era's transforms (spec ids in the log); the DuckDB oracle
    * replays the whole lifecycle relationally and the final
    * per-segment aggregate hashes the union of both eras minus the
    * deleted segment.
    */
  def q89(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q89").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val t = s"$cat.db.ledger"
    spark.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, bal BIGINT) PARTITIONED BY (seg)")
    // both era writes filter this frame — one customer pass
    val base = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .persistScoped()
    // era 0: identity(seg) files
    base.filter($"k" % 2 === 0L).repartition(4).writeTo(t).append()
    // evolve: future files bucket on k; existing files keep their spec
    spark.sql(s"CALL $cat.system.evolve_partitioning('db.ledger', 'bucket(4, k)')")
    // era 1: bucket(4, k) files
    base.filter($"k" % 2 === 1L)
      .select($"k", $"seg", ($"bal" + 7L).as("bal"))
      .repartition(4).writeTo(t).append()
    // a delete crossing both eras: identity files drop metadata-only,
    // bucket files rewrite COW
    spark.sql(s"DELETE FROM $t WHERE seg = 'AUTOMOBILE'")
    spark.table(t).groupBy($"seg")
      .agg(count(lit(1)).as("n_rows"), sum($"bal").as("sum_bal"))
      .orderBy($"seg")
  }

  /** q110 — EQUALITY-DELETE CDC upserts END-TO-END (merge-on-read
    * half two): a keyed changelog (orders keyed by `o_orderkey % 1000`,
    * three arrival slices by `o_orderkey % 3`, each slice pre-deduped
    * last-wins within itself — an upsert batch carries one row per
    * key) is staged as three backlog commits and STREAMED into an
    * `upsert_key` MOR table one commit per epoch. Each epoch commits
    * its insert files plus ONE equality-delete record over the batch's
    * keys and never reads, rewrites, or dv's the target (the scan-free
    * ingest-rate upsert; file-census-pinned in GraftLakeSpec). The
    * frame joins the post-`CALL system.compact` table against a
    * VERSION AS OF pin taken before the compact — compaction must
    * apply the records (rewrites come out clean and the record set
    * auto-drops) while time travel keeps applying them to the pinned
    * view. Oracle = relational last-wins replay (newest slice wins,
    * highest orderkey within a slice). A dropped upsert, a resurrected
    * or mis-scoped row, or a compaction that loses/duplicates rows
    * each break the hash (the join would fan out or values differ).
    */
  def q110(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q110").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.cdc_backlog"
    val dst = s"$cat.db.cdc_state"
    spark.sql(s"CREATE TABLE $src (k BIGINT, cents BIGINT)")
    spark.sql(s"CREATE TABLE $dst (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    // every commit slice below filters this frame — one orders pass,
    // not one per slice
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 1000L).as("k"), ($"o_orderkey" % 3L).as("s"),
        $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ok".desc)
    for (sl <- 0 until 3)
      chg.filter($"s" === sl.toLong)
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"k", $"cents").coalesce(1).writeTo(src).append()
    val ckpt = java.nio.file.Files.createTempDirectory("q110-ckpt").toString
    spark.readStream.option("maxBytesPerTrigger", "1").table(src)
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsert", "true")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(dst).awaitTermination()
    val preV = spark.table(s"${dst}__history").agg(max($"version")).head.getLong(0)
    spark.sql(s"CALL $cat.system.compact('db.cdc_state', 2)")
    val post = spark.table(dst).select($"k", $"cents".as("v_final"))
    val pre = spark.sql(s"SELECT k, cents AS v_pre FROM $dst VERSION AS OF $preV")
    post.join(pre, Seq("k")).select($"k", $"v_final", $"v_pre").orderBy($"k")
  }

  /** q111 — the change feed NARRATES equality-delete commits (CDC back
    * OUT of an upsert table, closing q110's CDC-in loop): the same
    * last-wins keyed changelog lands as three batch upsert commits plus
    * one keyed `DELETE WHERE k IN (...)` — four versions whose delete
    * half exists only as equality records. `<table>__changes` expands
    * each record against the PREDATING files task-side: the matching
    * rows that were still alive at v-1 emit as 'delete' pre-images (an
    * already-replaced row must NOT re-emit at the next replacement —
    * the guard set), inserts ride the added files. The frame replays
    * the feed as a multiset net (+1 insert / −1 delete per full-row
    * identity) and joins it against the table's final state: a single
    * over-emitted, dropped, or resurrected change row breaks the net
    * (net ≠ 1 rows vanish from the join; fan-out breaks the hash).
    * Oracle = relational last-wins minus the deleted keys, the value
    * twice.
    */
  def q111(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q111").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dst = s"$cat.db.cdc_mirror"
    spark.sql(s"CREATE TABLE $dst (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    // every commit slice below filters this frame — one orders pass,
    // not one per slice
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 1000L).as("k"), ($"o_orderkey" % 3L).as("s"),
        $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ok".desc)
    for (sl <- 0 until 3)
      chg.filter($"s" === sl.toLong)
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"k", $"cents").coalesce(1)
        .writeTo(dst).option("upsert", "true").append()
    // a scan-free keyed DELETE: one more equality record, no data reads
    val dropKeys = (0 until 1000 by 97).mkString(", ")
    spark.sql(s"DELETE FROM $dst WHERE k IN ($dropKeys)")
    val feed = spark.table(s"${dst}__changes")
    val replay = feed
      .groupBy($"k", $"cents")
      .agg(sum(when($"_change_type" === "insert", 1L).otherwise(-1L)).as("net"))
      .where($"net" === 1L)
      .select($"k", $"cents".as("v_replay"))
    spark.table(dst).select($"k", $"cents".as("v_table"))
      .join(replay, Seq("k"))
      .select($"k", $"v_table", $"v_replay").orderBy($"k")
  }

  /** q112 — incremental MV maintained FROM an upsert table's feed:
    * q88's signed-delta MERGE machinery pointed at a source whose
    * mutations exist only as EQUALITY records (scan-free keyed upserts
    * + a keyed DELETE — no dvs, no rewrites anywhere). Each streamed
    * micro-batch of `<src>__changes` is one commit's expansion
    * (pre-image deletes + post-image inserts); the MV folds them as
    * ±1 / ±bal per segment, so neither the ingest NOR the MV
    * maintenance ever re-scans the source's groups. The second
    * `maintain()` resumes the feed checkpoint ACROSS equality commits
    * (offsets are log versions regardless of commit type). Oracle =
    * the last-wins state aggregated per segment: one over- or
    * under-emitted expansion row and a segment's n_rows/sum_bal drift.
    */
  def q112(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q112").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$cat.db.acct_state"
    val mv = s"$cat.db.acct_seg_totals"
    spark.sql(s"CREATE TABLE $src (k BIGINT, seg STRING, bal BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.sql(s"CREATE TABLE $mv (seg STRING, n_rows BIGINT, sum_bal BIGINT)")
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("k"), $"c_mktsegment".as("seg"),
        graft.functions.gf.fixed($"c_acctbal", 100.0).as("bal"))
      .repartition(4).writeTo(src).append() // v1
    // v2: a keyed upsert batch derived from current state (the WRITE
    // itself stays scan-free — deriving the batch is the client's read)
    spark.table(src).where($"k" % 10L === 3L)
      .select($"k", $"seg", ($"bal" + 11L).as("bal"))
      .coalesce(1).writeTo(src).option("upsert", "true").append()
    // v3: a scan-free keyed DELETE. The literal key set is the full
    // k%53==0 grid up to the DATA's own max key — the oracle excludes
    // every such key, so a fixed cap would diverge at scale factors
    // where c_custkey outgrows it (the WRITE stays scan-free; deriving
    // the bound is the client's read, like the v2 batch above)
    val maxK = Tables.load(spark, dir, "customer")
      .agg(max($"c_custkey".cast("long"))).head().getLong(0)
    val dropKeys = (0L to maxK by 53L).mkString(", ")
    spark.sql(s"DELETE FROM $src WHERE k IN ($dropKeys)")
    val ckpt = java.nio.file.Files.createTempDirectory("q112-ckpt").toString
    val deltaView = s"q112_delta_${cat.takeRight(8)}"
    // micro-batch deltas are a handful of segments and the MV is
    // |segments| rows — the per-batch groupBy + MERGE join inherited
    // shuffle.partitions (32 locally) and paid ~6× the tasks the data
    // needs across the 5 versions. Same fix as the streaming replay
    // queries: drop to 8 around start() (restored in finally).
    def maintain(): Unit =
      LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "8")(maintainInner())
    def maintainInner(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table(s"${src}__changes")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
            batch.groupBy(col("seg"))
              .agg(sum(sign).as("d_n"), sum(sign * col("bal")).as("d_bal"))
              .createOrReplaceTempView(deltaView)
            batch.sparkSession.sql(
              s"""MERGE INTO $mv t USING $deltaView d ON t.seg = d.seg
                 |WHEN MATCHED THEN UPDATE SET
                 |  t.n_rows = t.n_rows + d.d_n, t.sum_bal = t.sum_bal + d.d_bal
                 |WHEN NOT MATCHED THEN INSERT (seg, n_rows, sum_bal)
                 |  VALUES (d.seg, d.d_n, d.d_bal)""".stripMargin)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    maintain() // v1..v3, one version per micro-batch
    // v4, post-drain: another upsert — the resumed feed must replay
    // exactly this equality commit's expansion
    spark.table(src).where($"k" % 10L === 8L)
      .select($"k", $"seg", ($"bal" + 7L).as("bal"))
      .coalesce(1).writeTo(src).option("upsert", "true").append()
    maintain()
    spark.table(mv).filter($"n_rows" > 0L)
      .select($"seg", $"n_rows", $"sum_bal").orderBy($"seg")
  }

  /** q113 — COMPOSITE upsert keys end-to-end: the changelog keys on
    * the tuple (k1 = orderkey%50, k2 = 'p'||orderkey%20) — 1000
    * composite identities whose components collide constantly, so any
    * per-column shortcut (the single-key trap) corrupts neighbors that
    * share one component. Three batch upsert commits (each one "tuple"
    * equality record, zero target reads) + one scan-free tuple DELETE
    * (`k1 IN (...) AND k2 IN (...)` = the cross product), then a
    * compaction that must resolve the tuple records exactly. The frame
    * joins the post-compact state against the feed's whole-history
    * multiset net (skipChangeCommits hides only the logical-no-op
    * rewrite), so a tuple mis-scope ANYWHERE — write, read anti-join,
    * feed expansion, compaction — breaks the join or the hash. Oracle
    * = relational last-wins per tuple minus the deleted cross product.
    */
  def q113(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q113").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dst = s"$cat.db.cdc_pairs"
    spark.sql(s"CREATE TABLE $dst (k1 BIGINT, k2 STRING, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k1,k2')")
    // three upsert slices filter this frame — one orders pass, not three
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 50L).as("k1"),
        concat(lit("p"), ($"o_orderkey" % 20L).cast("string")).as("k2"),
        ($"o_orderkey" % 3L).as("s"), $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k1", $"k2").orderBy($"ok".desc)
    for (sl <- 0 until 3)
      chg.filter($"s" === sl.toLong)
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"k1", $"k2", $"cents").coalesce(1)
        .writeTo(dst).option("upsert", "true").append()
    val k1s = (0 until 50 by 7).mkString(", ")
    spark.sql(s"DELETE FROM $dst WHERE k1 IN ($k1s) " +
      "AND k2 IN ('p3', 'p7', 'p11')")
    spark.sql(s"CALL $cat.system.compact('db.cdc_pairs', 2)").collect()
    val replay = spark.read.option("skipChangeCommits", "true")
      .table(s"${dst}__changes")
      .groupBy($"k1", $"k2", $"cents")
      .agg(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("net"))
      .where($"net" === 1L)
      .select($"k1", $"k2", $"cents".as("v_replay"))
    spark.table(dst).select($"k1", $"k2", $"cents".as("v_table"))
      .join(replay, Seq("k1", "k2"))
      .select($"k1", $"k2", $"v_table", $"v_replay")
      .orderBy($"k1", $"k2")
  }

  /** q114 — canonical SQL `MERGE INTO` routed through the SCAN-FREE
    * equality-delete path ([[graft.plans.UpsertMergeRewrite]]): the
    * q110 last-wins changelog applied as three MERGE statements on an
    * `upsert_key` table. The canonical matched-UPDATE-all-columns /
    * not-matched-INSERT shape plans as append + one record per batch —
    * the query PINS the scan-free route itself from the metadata
    * tables (exactly 3 commits, zero delete-vector rows, file count
    * monotone — a positional MERGE would dv or rewrite). Oracle =
    * q110's relational last-wins replay (newest slice wins, highest
    * orderkey within a slice).
    */
  def q114(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q114").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dst = s"$cat.db.merge_state"
    spark.sql(s"CREATE TABLE $dst (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    // every commit slice below filters this frame — one orders pass,
    // not one per slice
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 1000L).as("k"), ($"o_orderkey" % 3L).as("s"),
        $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ok".desc)
    val view = s"q114_src_${cat.takeRight(8)}"
    for (sl <- 0 until 3) {
      // each slice pre-deduped last-wins within itself (MERGE requires
      // unique source keys; so does the scan-free route)
      chg.filter($"s" === sl.toLong)
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"k", $"cents").createOrReplaceTempView(view)
      spark.sql(
        s"""MERGE INTO $dst t USING $view s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.cents = s.cents
           |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin)
    }
    // scan-free pin, from the LOG alone: three MERGE commits, no
    // positional deletes anywhere, and every commit only ADDED files
    val hist = spark.table(s"${dst}__history").orderBy($"version")
      .select($"version", $"n_files").collect()
    require(hist.last.getLong(0) == 3L,
      s"q114: expected exactly 3 MERGE commits, got ${hist.last.getLong(0)}")
    require(hist.map(_.getInt(1)).sliding(2).forall(p => p(0) <= p(1)),
      "q114: a MERGE removed target files — the scan-free route did not plan")
    val dvRows = spark.table(s"${dst}__files")
      .agg(coalesce(sum($"dv_rows"), lit(0L))).head.getLong(0)
    require(dvRows == 0L,
      s"q114: $dvRows delete-vector rows — MERGE took the positional path")
    spark.table(dst).select($"k", $"cents").orderBy($"k")
  }

  /** q115 — delete-only SQL `MERGE INTO` (`WHEN MATCHED THEN DELETE`)
    * routed SCAN-FREE ([[graft.plans.UpsertMergeRewrite]]'s tombstone
    * shape): seed by append, upsert a second slice via canonical
    * MERGE, then delete every key ≡ 0 (mod 7) from a data-driven
    * source — the delete commit lands ONE equality record, zero data
    * files, zero target reads (pinned from the log: the file census
    * is IDENTICAL across the delete version, no dv rows anywhere).
    * The literal-IN `DELETE WHERE` path serves ad-hoc key lists; this
    * serves arbitrarily large data-driven tombstone batches. Oracle =
    * slice-1-over-slice-0 last-wins minus the deleted keys.
    */
  def q115(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q115").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dst = s"$cat.db.tomb_state"
    spark.sql(s"CREATE TABLE $dst (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    // every commit slice below filters this frame — one orders pass,
    // not one per slice
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 1000L).as("k"), ($"o_orderkey" % 3L).as("s"),
        $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ok".desc)
    def slice(sl: Long) = chg.filter($"s" === sl)
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"k", $"cents")
    slice(0L).writeTo(dst).append() // v1: seed
    val upView = s"q115_up_${cat.takeRight(8)}"
    slice(1L).createOrReplaceTempView(upView)
    spark.sql( // v2: canonical upsert MERGE
      s"""MERGE INTO $dst t USING $upView s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.cents = s.cents
         |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin)
    val delView = s"q115_del_${cat.takeRight(8)}"
    chg.filter($"k" % 7L === 0L).select($"k").distinct()
      .createOrReplaceTempView(delView)
    spark.sql( // v3: data-driven tombstones, scan-free
      s"""MERGE INTO $dst t USING $delView s ON t.k = s.k
         |WHEN MATCHED THEN DELETE""".stripMargin)
    // the log pins the route: v3 changed NO data file (identical
    // census before/after the delete) and nothing ever dv'd
    val hist = spark.table(s"${dst}__history").orderBy($"version")
      .select($"version", $"n_files").collect()
    require(hist.last.getLong(0) == 3L,
      s"q115: expected 3 commits, got ${hist.last.getLong(0)}")
    val nFilesByVersion = hist.map(r => r.getLong(0) -> r.getInt(1)).toMap
    require(nFilesByVersion(3L) == nFilesByVersion(2L),
      "q115: the delete-only MERGE touched data files — it did not route scan-free")
    val dvRows = spark.table(s"${dst}__files")
      .agg(coalesce(sum($"dv_rows"), lit(0L))).head.getLong(0)
    require(dvRows == 0L,
      s"q115: $dvRows delete-vector rows — a MERGE took the positional path")
    spark.table(dst).select($"k", $"cents").orderBy($"k")
  }

  /** q116 — the canonical CDC-APPLY `MERGE` (conditioned DELETE +
    * unconditioned UPDATE + negation-gated INSERT) as ONE atomic
    * scan-free commit ([[org.apache.spark.sql.graft.LakeCdcApplyCommand]]):
    * a Debezium-style changelog batch carrying both upserts and
    * tombstones lands as data files for the non-tombstones plus a
    * single equality record over every batch key — zero target reads,
    * and readers never observe the deletes without their upserts
    * (the two-statement split this replaces commits twice). Pinned
    * from the log: exactly one commit for the batch, no pre-existing
    * file removed, zero dv rows. Oracle: slice-1-over-slice-0
    * last-wins where a slice-1 winner with key ≡ 0 (mod 5) is a
    * tombstone.
    */
  def q116(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q116").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dst = s"$cat.db.cdc_state"
    spark.sql(s"CREATE TABLE $dst (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    // every commit slice below filters this frame — one orders pass,
    // not one per slice
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 1000L).as("k"), ($"o_orderkey" % 3L).as("s"),
        $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ok".desc)
    def slice(sl: Long) = chg.filter($"s" === sl)
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"k", $"cents")
    slice(0L).writeTo(dst).append() // v1: seed
    val cdcView = s"q116_cdc_${cat.takeRight(8)}"
    slice(1L) // the CDC batch: every 5th key a tombstone, rest upserts
      .withColumn("op", when($"k" % 5L === 0L, lit("D")).otherwise(lit("U")))
      .createOrReplaceTempView(cdcView)
    spark.sql( // v2: ONE atomic scan-free commit for the whole batch
      s"""MERGE INTO $dst t USING $cdcView s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.cents = s.cents
         |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
         |  INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin)
    val hist = spark.table(s"${dst}__history").orderBy($"version")
      .select($"version", $"n_files").collect()
    require(hist.last.getLong(0) == 2L,
      s"q116: the CDC batch must land in ONE commit, got ${hist.last.getLong(0)}")
    require(hist.map(_.getInt(1)).sliding(2).forall(p => p(0) <= p(1)),
      "q116: the CDC apply removed target files — it did not route scan-free")
    val dvRows = spark.table(s"${dst}__files")
      .agg(coalesce(sum($"dv_rows"), lit(0L))).head.getLong(0)
    require(dvRows == 0L,
      s"q116: $dvRows delete-vector rows — the MERGE took the positional path")
    spark.table(dst).select($"k", $"cents").orderBy($"k")
  }

  /** q117 — the MOR maintenance LIFECYCLE as a correctness row: CDC
    * upsert batches accumulate equality records, a positional DELETE
    * grows delete vectors, and one scripted `CALL system.maintain`
    * resolves the whole backlog at the declared thresholds
    * (`compact_when_eq_records` + `compact_when_dv_pct`) — after it,
    * ZERO live equality records (the next scan plans no eq columns)
    * and the table's content is bit-identical to the relational
    * replay. This grades the policy loop end-to-end: ingest tax
    * accumulates → threshold fires → rewrite resolves → reads are
    * clean, with the results unchanged across the transition.
    */
  def q117(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q117").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dst = s"$cat.db.maint_state"
    spark.sql(s"CREATE TABLE $dst (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k', " +
      "'compact_when_eq_records' = '2', 'compact_when_dv_pct' = '20')")
    // every commit slice below filters this frame — one orders pass,
    // not one per slice
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 1000L).as("k"), ($"o_orderkey" % 3L).as("s"),
        $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
      .persistScoped()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ok".desc)
    def slice(sl: Long) = chg.filter($"s" === sl)
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"k", $"cents")
    slice(0L).writeTo(dst).append() // v1: seed
    for (sl <- 1L to 2L) // v2, v3: scan-free upserts, one record each
      slice(sl).writeTo(dst).option("upsert", "true").append()
    // v4: positional non-key DELETE — delete vectors, ~33% per file
    spark.sql(s"DELETE FROM $dst WHERE cents % 3 = 0")
    val tblDir = java.nio.file.Paths.get(wh, "db", "maint_state")
    val snapB = graft.sources.LakeLog.currentSnapshot(tblDir).get
    require(snapB.eqdels.size == 2 && snapB.files.exists(_.dvRows > 0L),
      s"q117 fixture: 2 records + dv expected, got ${snapB.eqdels.size} / " +
        s"${snapB.files.map(_.dvRows).sum}")
    val m = spark.sql(s"CALL $cat.system.maintain('db.maint_state')").head()
    require(m.getBoolean(0) && m.getInt(1) == 2,
      s"q117: maintain must fire at the eq threshold: $m")
    val snapA = graft.sources.LakeLog.currentSnapshot(tblDir).get
    require(snapA.eqdels.isEmpty,
      s"q117: the record backlog must resolve: ${snapA.eqdels}")
    spark.table(dst).select($"k", $"cents").orderBy($"k")
  }

  /** q118 — data-driven ERASURE: `DELETE FROM t WHERE k IN
    * (<subquery>)` routed scan-free ([[graft.plans.UpsertMergeRewrite]]
    * `deleteInRoute`): the deletion-request list (every key ≡ 0
    * mod 11) commits as ONE equality record — the census is untouched,
    * no delete vector is written, and the target is never read. The
    * literal-IN metadata-delete path caps its key list; this shape
    * carries a key list of any size straight from a query. Oracle =
    * last-wins replay minus the erased keys.
    */
  def q118(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = "lake" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graftlake-q118").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val dst = s"$cat.db.erasure_state"
    spark.sql(s"CREATE TABLE $dst (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    // TWO consumers only (seed write + erasure key list): below the
    // ≥3-consumer cache break-even measured on q104 (cache write ≈ one
    // full pass, saving only one) — so NO persistScoped here; each
    // consumer re-reads the narrow orders projection once
    val chg = Tables.load(spark, dir, "orders")
      .select(($"o_orderkey" % 1000L).as("k"), $"o_orderkey".as("ok"),
        graft.functions.gf.fixed($"o_totalprice", 100.0).as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"ok".desc)
    chg.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"k", $"cents").writeTo(dst).append() // v1: last-wins state
    val view = s"q118_req_${cat.takeRight(8)}"
    chg.select($"k").distinct().filter($"k" % 11L === 0L)
      .createOrReplaceTempView(view)
    spark.sql( // v2: the erasure request list, scan-free
      s"DELETE FROM $dst WHERE k IN (SELECT k FROM $view)")
    val hist = spark.table(s"${dst}__history").orderBy($"version")
      .select($"version", $"n_files").collect()
    require(hist.last.getLong(0) == 2L,
      s"q118: expected 2 commits, got ${hist.last.getLong(0)}")
    val nFilesByVersion = hist.map(r => r.getLong(0) -> r.getInt(1)).toMap
    require(nFilesByVersion(2L) == nFilesByVersion(1L),
      "q118: the erasure touched data files — it did not route scan-free")
    val dvRows = spark.table(s"${dst}__files")
      .agg(coalesce(sum($"dv_rows"), lit(0L))).head.getLong(0)
    require(dvRows == 0L,
      s"q118: $dvRows delete-vector rows — the DELETE took the positional path")
    spark.table(dst).select($"k", $"cents").orderBy($"k")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_erasure" -> q118,
    "q117_mor_maintenance" -> q117,
    "q116_cdc_apply" -> q116,
    "q115_merge_tombstone" -> q115,
    "q114_merge_upsert" -> q114,
    "q110_cdc_upsert" -> q110,
    "q111_cdc_feed" -> q111,
    "q112_upsert_mv" -> q112,
    "q113_composite_upsert" -> q113,
    "q40_csv_ingest" -> q40,
    "q87_lake_partitioned" -> q87,
    "q89_partition_evolution" -> q89,
    "q84_lake_feed" -> q84,
    "q85_lake_evolution" -> q85,
    "q86_lake_zorder" -> q86,
    "q88_incremental_mv" -> q88,
    "q90_enriched_mv" -> q90,
    "q91_stream_into_lake" -> q91,
    "q100_stream_partitioned" -> q100,
    "q101_stats_census" -> q101,
    "q102_clone_isolation" -> q102,
    "q103_indexed_backfill" -> q103,
    "q104_daily_buckets" -> q104,
    "q106_bucket_optimize" -> q106,
    "q107_rowgroup_stack" -> q107,
    "q109_rowgroup_census" -> q109,
    "q92_wap_refs" -> q92,
    "q93_metadata_agg" -> q93,
    "q94_filtered_meta" -> q94,
    "q95_bloom_lookup" -> q95,
    "q105_prefix_meta" -> q105,
    "q96_grouped_meta" -> q96,
    "q97_partition_census" -> q97,
    "q98_partition_ddl" -> q98,
    "q99_metadata_sum" -> q99,
    "q75_dsv2_stream" -> q75,
    "q78_spj_join" -> q78,
    "q80_agg_pushdown" -> q80,
    "q81_v2_functions" -> q81,
    "q82_lake_lifecycle" -> q82,
    "q83_lake_changes" -> q83,
    "q46_schema_evolution" -> q46,
    "q50_partition_refresh" -> q50,
    "q51_orc_roundtrip" -> q51,
    "q52_jsonl_ingest" -> q52,
    "q64_variant_decode" -> q64,
    "q73_dsv2_source" -> q73
  )

  /** The repair map as a DuckDB CASE chain (P5's 18 entries verbatim). */
  private val repairCase: String =
    MeasurementIngest.StateNameRepairs
      .map { case (bad, good) => s"WHEN '$bad' THEN '$good'" }
      .mkString("CASE \"State Name\" ", " ", " ELSE \"State Name\" END")

  def oracles: Map[String, String] = Map(
    "q113_composite_upsert" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 50 AS k1,
        |    'p' || CAST(o_orderkey % 20 AS VARCHAR) AS k2,
        |    o_orderkey % 3 AS s, o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k1, k2, cents,
        |    row_number() OVER (PARTITION BY k1, k2 ORDER BY s DESC, ok DESC) AS rn
        |  FROM chg)
        |SELECT k1, k2, cents AS v_table, cents AS v_replay
        |FROM fin
        |WHERE rn = 1 AND NOT (k1 % 7 = 0 AND k2 IN ('p3', 'p7', 'p11'))
        |ORDER BY k1, k2""".stripMargin,
    "q112_upsert_mv" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |fin AS (
        |  SELECT k, seg,
        |    bal + CASE WHEN k % 10 = 3 THEN 11
        |               WHEN k % 10 = 8 THEN 7 ELSE 0 END AS bal
        |  FROM base WHERE k % 53 <> 0)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM fin GROUP BY seg ORDER BY seg""".stripMargin,
    "q111_cdc_feed" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey % 3 AS s,
        |    o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k, cents,
        |    row_number() OVER (PARTITION BY k ORDER BY s DESC, ok DESC) AS rn
        |  FROM chg)
        |SELECT k, cents AS v_table, cents AS v_replay
        |FROM fin WHERE rn = 1 AND k % 97 <> 0 ORDER BY k""".stripMargin,
    "q118_erasure" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k, cents,
        |    row_number() OVER (PARTITION BY k ORDER BY ok DESC) AS rn
        |  FROM chg)
        |SELECT k, cents
        |FROM fin WHERE rn = 1 AND k % 11 <> 0 ORDER BY k""".stripMargin,
    "q117_mor_maintenance" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey % 3 AS s,
        |    o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k, cents,
        |    row_number() OVER (PARTITION BY k ORDER BY s DESC, ok DESC) AS rn
        |  FROM chg)
        |SELECT k, cents
        |FROM fin WHERE rn = 1 AND cents % 3 <> 0 ORDER BY k""".stripMargin,
    "q116_cdc_apply" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey % 3 AS s,
        |    o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k, cents, s,
        |    row_number() OVER (PARTITION BY k ORDER BY s DESC, ok DESC) AS rn
        |  FROM chg WHERE s <= 1),
        |sel AS (SELECT k, cents, s FROM fin WHERE rn = 1)
        |SELECT k, cents
        |FROM sel WHERE NOT (s = 1 AND k % 5 = 0) ORDER BY k""".stripMargin,
    "q115_merge_tombstone" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey % 3 AS s,
        |    o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k, cents,
        |    row_number() OVER (PARTITION BY k ORDER BY s DESC, ok DESC) AS rn
        |  FROM chg WHERE s <= 1)
        |SELECT k, cents
        |FROM fin WHERE rn = 1 AND k % 7 <> 0 ORDER BY k""".stripMargin,
    "q114_merge_upsert" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey % 3 AS s,
        |    o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k, cents,
        |    row_number() OVER (PARTITION BY k ORDER BY s DESC, ok DESC) AS rn
        |  FROM chg)
        |SELECT k, cents
        |FROM fin WHERE rn = 1 ORDER BY k""".stripMargin,
    "q110_cdc_upsert" ->
      """WITH chg AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey % 3 AS s,
        |    o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (
        |  SELECT k, cents,
        |    row_number() OVER (PARTITION BY k ORDER BY s DESC, ok DESC) AS rn
        |  FROM chg)
        |SELECT k, cents AS v_final, cents AS v_pre
        |FROM fin WHERE rn = 1 ORDER BY k""".stripMargin,
    "q109_rowgroup_census" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok,
        |    CASE WHEN o_orderkey % 7 <> 0
        |      THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(ok) AS min_ok, max(ok) AS max_ok,
        |  CAST(0 AS BIGINT) AS ok_nulls,
        |  CAST(count(*) - count(cents) AS BIGINT) AS cents_nulls,
        |  max(cents) AS max_cents
        |FROM o""".stripMargin,
    "q107_rowgroup_stack" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT min(ok) AS lo, max(ok) AS hi,
        |             max(ok) - min(ok) + 1 AS span FROM o)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM o, b
        |     WHERE ok = lo OR ok = hi) AS join_rows,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o, b
        |     WHERE ok = lo OR ok = hi) AS join_cents,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o, b
        |     WHERE ok = lo) AS point_cents,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o, b
        |     WHERE ok BETWEEN lo AND lo + span // 100) AS band_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o, b
        |     WHERE ok = lo - 1) AS miss""".stripMargin,
    "q106_bucket_optimize" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS mv
        |  FROM events),
        |b AS (
        |  SELECT min(day) + greatest(1, (max(day) - min(day) + 1) // 2) AS cut
        |  FROM e),
        |agg AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(mv) AS BIGINT) AS sum_mv
        |  FROM e GROUP BY 1)
        |SELECT day, n_rows, sum_mv, n_rows AS census_rows,
        |  CASE WHEN day < (SELECT cut FROM b)
        |    THEN CAST(1 AS BIGINT) END AS files_compacted,
        |  CASE WHEN day >= (SELECT cut FROM b)
        |    THEN TRUE END AS untouched_unchanged
        |FROM agg
        |ORDER BY day""".stripMargin,
    "q99_metadata_sum" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, substr(o_orderpriority, 1, 1) AS seg,
        |    CASE WHEN o_orderkey % 7 <> 0
        |      THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents
        |  FROM orders),
        |d AS (SELECT min(ok) AS dk FROM o WHERE seg = '3')
        |SELECT CAST(sum(ok) AS BIGINT) AS s_ok,
        |  CAST(sum(cents) AS BIGINT) AS s_cents,
        |  CAST((SELECT sum(cents) FROM o WHERE seg = '3') AS BIGINT) AS s3,
        |  (SELECT sign(a) * floor(abs(a) * 10000 + 0.5) / 10000 FROM (
        |     SELECT CAST(sum(cents) AS DOUBLE) / count(cents) AS a
        |     FROM o WHERE seg = '5')) AS a5,
        |  CAST((SELECT sum(cents) FROM o WHERE seg = '3'
        |        AND ok <> (SELECT dk FROM d)) AS BIGINT) AS s3_post,
        |  CAST((SELECT sum(cents) FROM o WHERE seg = '5') AS BIGINT) AS s5_post
        |FROM o""".stripMargin,
    "q98_partition_ddl" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, substr(o_orderpriority, 1, 1) AS seg
        |  FROM orders),
        |pre AS (SELECT CAST(count(*) AS BIGINT) AS pre_rows FROM o)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n, pre_rows
        |FROM o CROSS JOIN pre WHERE seg NOT IN ('1', '2')
        |GROUP BY seg, pre_rows ORDER BY seg""".stripMargin,
    "q97_partition_census" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, substr(o_orderpriority, 1, 1) AS seg
        |  FROM orders),
        |d AS (SELECT min(ok) AS dk FROM o WHERE seg = '2')
        |SELECT 'seg=' || seg AS p,
        |  CAST(count(*) AS BIGINT) AS rows_total,
        |  CAST(count(*) FILTER (WHERE ok = (SELECT dk FROM d)) AS BIGINT)
        |    AS dv_rows,
        |  CAST(count(*) FILTER (WHERE ok <> (SELECT dk FROM d)) AS BIGINT)
        |    AS live_rows
        |FROM o GROUP BY seg ORDER BY p""".stripMargin,
    "q96_grouped_meta" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, substr(o_orderpriority, 1, 1) AS seg
        |  FROM orders),
        |pre AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n, min(ok) AS lo,
        |    max(ok) AS hi
        |  FROM o GROUP BY seg),
        |post AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS n2 FROM o
        |  WHERE ok <> (SELECT min(ok) FROM o WHERE seg = '3')
        |  GROUP BY seg)
        |SELECT pre.seg, n, lo, hi, n2
        |FROM pre JOIN post ON pre.seg = post.seg
        |ORDER BY pre.seg""".stripMargin,
    "q95_bloom_lookup" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, substr(o_orderpriority, 1, 1) AS seg,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |mm AS (SELECT min(ok) AS lo, max(ok) AS hi FROM o)
        |SELECT ok, seg, cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o
        |   WHERE ok = (SELECT lo - 1 FROM mm)) AS miss
        |FROM o WHERE ok IN ((SELECT lo FROM mm), (SELECT hi FROM mm))
        |ORDER BY ok""".stripMargin,
    "q105_prefix_meta" ->
      """WITH c AS (
        |  SELECT c_custkey AS ok, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM customer)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM c WHERE seg LIKE 'B%') AS nb,
        |  (SELECT min(ok) FROM c WHERE seg LIKE 'H%') AS loh,
        |  (SELECT max(ok) FROM c WHERE seg LIKE 'H%') AS hih,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM c WHERE seg LIKE 'MACH%') AS sm,
        |  (SELECT max(seg) FROM c WHERE seg LIKE 'F%') AS mf,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c WHERE seg LIKE 'Z%') AS zn""".stripMargin,
    "q94_filtered_meta" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, substr(o_orderpriority, 1, 1) AS seg
        |  FROM orders),
        |pre AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n3, min(ok) AS lo3, max(ok) AS hi3
        |  FROM o WHERE seg = '3'),
        |post AS (
        |  SELECT CAST(count(*) AS BIGINT) AS pn3, min(ok) AS plo3
        |  FROM o WHERE seg = '3'
        |    AND ok <> (SELECT min(ok) FROM o WHERE seg = '3')),
        |others AS (
        |  SELECT (SELECT min(ok) FROM o WHERE seg = '5') AS lo5,
        |    (SELECT CAST(count(*) AS BIGINT) FROM o WHERE seg = '9') AS zn)
        |SELECT n3, lo3, hi3, pn3, plo3, lo5, zn
        |FROM pre CROSS JOIN post CROSS JOIN others""".stripMargin,
    "q93_metadata_agg" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok,
        |    CASE WHEN o_orderkey % 7 <> 0
        |      THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents
        |  FROM orders),
        |pre AS (
        |  SELECT CAST(count(*) AS BIGINT) AS pre_rows,
        |    CAST(count(cents) AS BIGINT) AS pre_cents,
        |    min(ok) AS pre_min_ok, max(ok) AS pre_max_ok
        |  FROM o),
        |post AS (
        |  SELECT CAST(count(*) AS BIGINT) AS post_rows,
        |    CAST(count(cents) AS BIGINT) AS post_cents,
        |    min(ok) AS post_min_ok
        |  FROM o WHERE ok <> (SELECT min(ok) FROM o))
        |SELECT pre_rows, pre_cents, pre_min_ok, pre_max_ok,
        |  post_rows, post_cents, post_min_ok
        |FROM post CROSS JOIN pre""".stripMargin,
    "q92_wap_refs" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |counts AS (
        |  SELECT
        |    CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pinned_rows,
        |    CAST(count(*) AS BIGINT) AS audit_rows,
        |    CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tag_rows
        |  FROM base)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal,
        |  counts.pinned_rows, counts.audit_rows, counts.tag_rows
        |FROM base CROSS JOIN counts
        |GROUP BY seg, counts.pinned_rows, counts.audit_rows, counts.tag_rows
        |ORDER BY seg""".stripMargin,
    "q91_stream_into_lake" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |      + o_orderkey % 3 AS cents
        |  FROM orders)
        |SELECT ok % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q101_stats_census" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS nat,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL
        |         ELSE CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) END AS bal,
        |    c_mktsegment AS seg
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT 'bal' AS "column", 'bigint' AS "type",
        |    min(bal) AS "min", max(bal) AS "max",
        |    CAST(count(*) - count(bal) AS BIGINT) AS null_count FROM base
        |  UNION ALL
        |  SELECT 'k', 'bigint', min(k), max(k), CAST(0 AS BIGINT) FROM base
        |  UNION ALL
        |  SELECT 'nat', 'bigint', min(nat), max(nat), CAST(0 AS BIGINT) FROM base
        |  UNION ALL
        |  SELECT 'seg', 'string', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |    CAST(0 AS BIGINT))
        |ORDER BY "column"""".stripMargin,
    "q102_clone_isolation" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |clone_v AS (SELECT * FROM o WHERE ok % 2 = 0),
        |src_v AS (SELECT * FROM o WHERE ok % 5 <> 0)
        |SELECT * FROM (
        |  SELECT 'clone' AS vw, ok % 10 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM clone_v GROUP BY 2
        |  UNION ALL
        |  SELECT 'source', ok % 10, CAST(count(*) AS BIGINT),
        |    CAST(sum(cents) AS BIGINT)
        |  FROM src_v GROUP BY 2)
        |ORDER BY vw, bucket""".stripMargin,
    "q104_daily_buckets" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us,
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS mv
        |  FROM events),
        |agg AS (
        |  SELECT us // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(mv) AS BIGINT) AS sum_mv
        |  FROM e GROUP BY 1)
        |SELECT day, n_rows, sum_mv,
        |  'trunc(86400000000,ts_us)=' || CAST(day AS VARCHAR) AS bucket_label,
        |  n_rows AS census_rows
        |FROM agg
        |ORDER BY day""".stripMargin,
    "q103_indexed_backfill" ->
      """WITH c AS (
        |  SELECT c_custkey AS k, CAST(c_nationkey % 5 AS BIGINT) AS nat5,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer)
        |SELECT nat5, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal,
        |  (SELECT bal FROM c WHERE k = 97) AS point_bal
        |FROM c
        |WHERE nat5 IN (1, 3)
        |GROUP BY nat5
        |ORDER BY nat5""".stripMargin,
    "q100_stream_partitioned" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS seg,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |      + o_orderkey % 3 AS cents
        |  FROM orders)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(*) AS BIGINT) AS census_rows,
        |  CAST(0 AS BIGINT) AS inversions
        |FROM o
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q90_enriched_mv" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, o_custkey AS ck,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |s2 AS (
        |  SELECT ok, ck,
        |    CASE WHEN ok % 5 = 0 THEN cents + 11 ELSE cents END AS cents
        |  FROM o),
        |s3 AS (SELECT * FROM s2 WHERE ok % 13 <> 0),
        |s4 AS (
        |  SELECT ok, ck,
        |    CASE WHEN ok % 11 = 3 THEN cents * 2 ELSE cents END AS cents
        |  FROM s3),
        |j AS (
        |  SELECT c.c_mktsegment AS seg, s4.cents
        |  FROM s4 JOIN customer c ON s4.ck = c.c_custkey)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM j
        |GROUP BY seg
        |ORDER BY seg""".stripMargin,
    "q89_partition_evolution" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |era0 AS (SELECT k, seg, bal FROM base WHERE k % 2 = 0),
        |era1 AS (SELECT k, seg, bal + 7 AS bal FROM base WHERE k % 2 = 1),
        |final AS (
        |  SELECT * FROM era0 UNION ALL SELECT * FROM era1)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM final
        |WHERE seg <> 'AUTOMOBILE'
        |GROUP BY seg
        |ORDER BY seg""".stripMargin,
    "q88_incremental_mv" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |s2 AS (
        |  SELECT k, seg,
        |    CASE WHEN seg = 'BUILDING' THEN bal * 2 ELSE bal END AS bal
        |  FROM base),
        |s3 AS (SELECT * FROM s2 WHERE k % 7 <> 0),
        |s4 AS (
        |  SELECT k, seg,
        |    CASE WHEN k % 10 = 1 THEN bal + 5 ELSE bal END AS bal
        |  FROM s3)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM s4
        |GROUP BY seg
        |ORDER BY seg""".stripMargin,
    "q87_lake_partitioned" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |building AS (
        |  SELECT k, seg, bal * 2 AS bal FROM base WHERE seg = 'BUILDING'),
        |machinery AS (
        |  SELECT k, seg, bal FROM base WHERE seg = 'MACHINERY'
        |  ORDER BY k LIMIT 100),
        |final AS (
        |  SELECT * FROM base
        |  WHERE seg NOT IN ('BUILDING', 'MACHINERY', 'FURNITURE')
        |  UNION ALL SELECT * FROM building
        |  UNION ALL SELECT * FROM machinery)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM final
        |GROUP BY seg
        |ORDER BY seg""".stripMargin,
    "q86_lake_zorder" ->
      """WITH o AS (
        |  SELECT o_custkey AS ck, o_orderkey AS ok,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT max(ck) // 2 AS ckh, max(ok) // 2 AS okh FROM o)
        |SELECT ck % 8 AS bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o CROSS JOIN b
        |WHERE ck <= ckh AND ok <= okh
        |GROUP BY ck % 8
        |ORDER BY bucket""".stripMargin,
    "q84_lake_feed" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |v1i AS (
        |  SELECT CAST(1 AS BIGINT) AS commit_v, 'insert' AS change_type, seg, bal
        |  FROM base),
        |v2d AS (
        |  SELECT CAST(2 AS BIGINT), 'delete', seg, bal
        |  FROM base WHERE seg = 'BUILDING'),
        |v2i AS (
        |  SELECT CAST(2 AS BIGINT), 'insert', seg, bal * 2
        |  FROM base WHERE seg = 'BUILDING'),
        |s2 AS (
        |  SELECT k, seg,
        |    CASE WHEN seg = 'BUILDING' THEN bal * 2 ELSE bal END AS bal
        |  FROM base),
        |v3d AS (SELECT CAST(3 AS BIGINT), 'delete', seg, bal FROM s2 WHERE k % 7 = 0),
        |s3 AS (SELECT * FROM s2 WHERE k % 7 <> 0),
        |v4d AS (SELECT CAST(4 AS BIGINT), 'delete', seg, bal FROM s3 WHERE k % 10 = 1),
        |v4i AS (SELECT CAST(4 AS BIGINT), 'insert', seg, bal + 5 FROM s3 WHERE k % 10 = 1),
        |feed AS (
        |  SELECT * FROM v1i UNION ALL SELECT * FROM v2d UNION ALL
        |  SELECT * FROM v2i UNION ALL SELECT * FROM v3d UNION ALL
        |  SELECT * FROM v4d UNION ALL SELECT * FROM v4i)
        |SELECT commit_v, change_type, seg,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal
        |FROM feed
        |GROUP BY commit_v, change_type, seg
        |ORDER BY commit_v, change_type, seg""".stripMargin,
    "q85_lake_evolution" ->
      """WITH e1 AS (
        |  SELECT p_partkey AS pk, CAST(p_size AS BIGINT) AS psize,
        |    CAST(NULL AS BIGINT) AS retail_cents
        |  FROM part WHERE p_partkey % 3 <> 0),
        |e2 AS (
        |  SELECT p_partkey AS pk, CAST(p_size AS BIGINT) AS psize,
        |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS retail_cents
        |  FROM part WHERE p_partkey % 3 = 0),
        |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
        |h AS (SELECT CAST((SELECT count(*) FROM e1) AS BIGINT) AS v1_rows)
        |SELECT pk % 5 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(retail_cents) AS BIGINT) AS n_retail,
        |  CAST(sum(coalesce(retail_cents, 0)) AS BIGINT) AS sum_retail,
        |  CAST(sum(psize) AS BIGINT) AS sum_psize,
        |  v1_rows
        |FROM u CROSS JOIN h
        |GROUP BY pk % 5, v1_rows
        |ORDER BY bucket""".stripMargin,
    "q73_dsv2_source" -> DuckSketchSql.q73,
    "q75_dsv2_stream" -> DuckSketchSql.q75,
    "q78_spj_join" -> DuckSketchSql.q78,
    "q80_agg_pushdown" -> DuckSketchSql.q80,
    "q81_v2_functions" -> DuckSketchSql.q81,
    "q83_lake_changes" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |v3 AS (
        |  SELECT k, seg,
        |    CASE WHEN seg = 'BUILDING' THEN bal * 2 ELSE bal END AS bal
        |  FROM base WHERE k % 7 <> 0),
        |del AS (
        |  SELECT seg, 'delete' AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(-bal) AS BIGINT) AS delta_cents
        |  FROM base WHERE k % 7 = 0 GROUP BY seg),
        |upd AS (
        |  SELECT b.seg, 'update' AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(v.bal - b.bal) AS BIGINT) AS delta_cents
        |  FROM base b JOIN v3 v ON b.k = v.k
        |  WHERE v.bal <> b.bal GROUP BY b.seg)
        |SELECT seg, change_type, n_rows, delta_cents
        |FROM (SELECT * FROM del UNION ALL SELECT * FROM upd)
        |ORDER BY seg, change_type""".stripMargin,
    "q82_lake_lifecycle" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
        |  FROM customer),
        |dl AS (
        |  SELECT o_custkey AS k,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS d
        |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |v2 AS (
        |  SELECT b.k, b.seg, b.bal + coalesce(dl.d, 0) AS bal
        |  FROM base b LEFT JOIN dl ON b.k = dl.k
        |  UNION ALL
        |  SELECT k + 10000000, 'ghost', d FROM dl),
        |v3 AS (SELECT * FROM v2 WHERE seg <> 'FURNITURE'),
        |v4 AS (SELECT * FROM v3 WHERE k < 10000000),
        |h AS (SELECT
        |  CAST((SELECT count(*) FROM base) AS BIGINT) AS v1_rows,
        |  CAST((SELECT count(*) FROM v2) AS BIGINT) AS v2_rows,
        |  CAST((SELECT count(*) FROM v3) AS BIGINT) AS v3_rows,
        |  CAST((SELECT count(*) FROM v4) AS BIGINT) AS v4_rows)
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal,
        |  v1_rows, v2_rows, v3_rows, v4_rows
        |FROM v4 CROSS JOIN h
        |GROUP BY seg, v1_rows, v2_rows, v3_rows, v4_rows
        |ORDER BY seg""".stripMargin,
    "q64_variant_decode" ->
      """WITH j AS (
        |  SELECT printf('{"key":%d,"prio":"%s","amt":%d,"cust":{"id":%d}}',
        |    o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT), o_custkey) AS js
        |  FROM orders),
        |x AS (
        |  SELECT json_extract_string(js, '$.prio') AS prio,
        |    CAST(json_extract(js, '$.amt') AS BIGINT) AS amt,
        |    CAST(json_extract(js, '$.cust.id') AS BIGINT) AS cust_id
        |  FROM j)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n_big,
        |  CAST(sum(amt) AS BIGINT) AS total_cents,
        |  CAST(count(DISTINCT cust_id) AS BIGINT) AS n_cust
        |FROM x WHERE amt >= 1000000
        |GROUP BY 1 ORDER BY prio""".stripMargin,
    "q40_csv_ingest" ->
      s"""WITH no2 AS (
         |  SELECT "State Code", "County Code", "Site Num", "State Name",
         |         "Date Local", "Time Local", "Sample Measurement",
         |         "Units of Measure", 'NO2' AS pollutant, true AS is_ppb
         |  FROM read_csv('$FixtureRoot/NO2/*.csv', header=true, all_varchar=true)),
         |pm25 AS (
         |  SELECT "State Code", "County Code", "Site Num", "State Name",
         |         "Date Local", "Time Local", "Sample Measurement",
         |         "Units of Measure", 'PM25' AS pollutant, false AS is_ppb
         |  FROM read_csv('$FixtureRoot/PM25/*.csv', header=true, all_varchar=true)),
         |raw AS (SELECT * FROM no2 UNION ALL SELECT * FROM pm25)
         |SELECT CAST("State Code" AS INT) AS state_code,
         |  CAST("County Code" AS INT) AS county_code,
         |  CAST("Site Num" AS INT) AS site_num,
         |  $repairCase AS state_name,
         |  pollutant,
         |  CAST("Date Local" AS DATE) AS date_local,
         |  CAST(substring("Time Local", 1, 2) AS INT) AS hour_local,
         |  CASE WHEN is_ppb THEN CAST("Sample Measurement" AS DOUBLE) / 1000.0
         |       ELSE CAST("Sample Measurement" AS DOUBLE) END AS measurement,
         |  CASE WHEN "Units of Measure" = 'Parts per billion'
         |       THEN 'Parts per million'
         |       ELSE "Units of Measure" END AS units
         |FROM raw
         |ORDER BY pollutant, date_local, hour_local, state_code,
         |  county_code, site_num, state_name, measurement, units""".stripMargin,
    // q51: aggregate straight from source — equality with Spark's
    // ORC re-read proves the roundtrip (DuckDB has no ORC reader)
    "q51_orc_roundtrip" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 800)
        |GROUP BY 1 ORDER BY priority""".stripMargin,
    // q52: DuckDB parses the SAME jsonl files Spark wrote and reads
    "q52_jsonl_ingest" ->
      s"""WITH j AS (
         |  SELECT * FROM read_json('$JsonRoot/*.json',
         |    format = 'newline_delimited',
         |    columns = {okey: 'BIGINT', ckey: 'BIGINT', priority: 'VARCHAR',
         |               cents: 'BIGINT', odate: 'VARCHAR'}))
         |SELECT substring(odate, 1, 4) AS oyear, priority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(cents) AS BIGINT) AS total_cents,
         |  CAST(max(okey) AS BIGINT) AS max_key
         |FROM j GROUP BY 1, 2 ORDER BY oyear, priority""".stripMargin,
    "q50_partition_refresh" ->
      """SELECT CAST(o_orderkey % 12 AS INT) AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 600)
        |GROUP BY 1 ORDER BY month""".stripMargin,
    "q46_schema_evolution" ->
      s"""SELECT CAST(era AS INT) AS era,
         |  coalesce(o_orderpriority, '<legacy>') AS priority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS total_cents,
         |  CAST(count(o_orderdate) AS BIGINT) AS n_with_date
         |FROM read_parquet('$EvolutionRoot/*/*.parquet',
         |  union_by_name=true, hive_partitioning=true)
         |GROUP BY 1, 2
         |ORDER BY era, priority""".stripMargin
  )
}
