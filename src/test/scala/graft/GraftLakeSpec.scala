package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLakeCatalog, LakeLog}

/** [[graft.sources.GraftLakeCatalog]] / [[graft.sources.LakeTable]] —
  * the transactional table format. Pins: catalog DDL + append
  * visibility, snapshot versioning + time travel, metadata-only DELETE
  * (file census proves no rewrite), copy-on-write DELETE/UPDATE/MERGE
  * with runtime group filtering (only files containing matches change
  * paths), stats-based scan file skipping with post-scan filters, the
  * optimistic commit protocol, abort cleanliness, and schema rejection.
  */
class GraftLakeSpec extends AnyFunSuite {

  private lazy val warehouse: Path = Files.createTempDirectory("graftlake-wh")

  lazy val spark: SparkSession = {
    val s = GraftSession.local("graftlake-spec")
    s.conf.set("spark.sql.catalog.lake", classOf[GraftLakeCatalog].getName)
    s.conf.set("spark.sql.catalog.lake.warehouse", warehouse.toString)
    s
  }

  private def tableDir(name: String): Path = warehouse.resolve("db").resolve(name)

  private def filePaths(name: String): Seq[String] =
    LakeLog.currentSnapshot(tableDir(name)).get.files.map(_.path).sorted

  /** Create `lake.db.<name>` (id BIGINT, v BIGINT, s STRING) and append
    * four single-file commits of 25 ids each: [0,25) s='f0', [25,50)
    * s='f1', [50,75) s='f2', [75,100) s='f3'. Versions 1..4.
    */
  private def seeded(name: String): String = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE lake.db.$name (id BIGINT, v BIGINT, s STRING)")
    for (b <- 0 until 4) {
      spark.range(b * 25L, (b + 1) * 25L)
        .select($"id", ($"id" * 10L).as("v"), lit(s"f$b").as("s"))
        .coalesce(1)
        .writeTo(s"lake.db.$name").append()
    }
    name
  }

  private def rows(name: String): Seq[(Long, Long, String)] = {
    import spark.implicits._
    spark.table(s"lake.db.$name").as[(Long, Long, String)].collect().sortBy(_._1).toSeq
  }

  test("create + append: four commits, four files, content exact, versions advance") {
    val t = seeded("t_base")
    assert(rows(t) == (0L until 100L).map(i => (i, i * 10L, s"f${i / 25}")))
    val snap = LakeLog.currentSnapshot(tableDir(t)).get
    assert(snap.version == 4L && snap.files.size == 4)
    // per-file stats carry the id ranges the delete/skipping logic uses
    assert(snap.files.map(_.stats("id")).sortBy(_._1) ==
      Seq((0L, 24L), (25L, 49L), (50L, 74L), (75L, 99L)))
  }

  test("time travel: VERSION AS OF replays each snapshot") {
    val t = seeded("t_history")
    for (v <- 0 to 4)
      assert(spark.sql(s"SELECT count(*) FROM lake.db.$t VERSION AS OF $v")
        .head().getLong(0) == v * 25L)
    // history is immutable: v2 still reads [0,50) after later appends
    assert(spark.sql(s"SELECT max(id) FROM lake.db.$t VERSION AS OF 2")
      .head().getLong(0) == 49L)
  }

  test("metadata-only delete: aligned predicate drops whole files, survivors keep their paths") {
    val t = seeded("t_metadel")
    val before = filePaths(t)
    spark.sql(s"DELETE FROM lake.db.$t WHERE id < 25")
    val after = filePaths(t)
    assert(after.size == 3 && after.forall(before.contains),
      s"survivors must be the ORIGINAL files (no rewrite): before=$before after=$after")
    assert(rows(t).map(_._1) == (25L until 100L))
    // version advanced exactly once
    assert(LakeLog.currentSnapshot(tableDir(t)).get.version == 5L)
  }

  test("copy-on-write delete: only files containing matches are replaced") {
    val t = seeded("t_cowdel")
    val before = filePaths(t)
    // string predicate → stats cannot decide → COW path; every f1 row dies
    spark.sql(s"DELETE FROM lake.db.$t WHERE s = 'f1'")
    val afterAll = filePaths(t)
    assert(afterAll.size == 3 && afterAll.forall(before.contains),
      "deleting ALL rows of one file must leave the other three files untouched " +
        s"(runtime group filtering): before=$before after=$afterAll")
    assert(rows(t).map(_._1) == ((0L until 25L) ++ (50L until 100L)))
    // partial delete: file f2 is rewritten (new path), others untouched
    spark.sql(s"DELETE FROM lake.db.$t WHERE s = 'f2' AND id < 60")
    val afterPart = filePaths(t)
    assert(afterPart.size == 3)
    val untouched = afterPart.filter(before.contains)
    assert(untouched.size == 2, s"exactly f0+f3 keep their paths, got $afterPart")
    assert(rows(t).map(_._1) == ((0L until 25L) ++ (60L until 100L)))
  }

  test("copy-on-write update: one matching file rewritten, values exact") {
    val t = seeded("t_update")
    val before = filePaths(t)
    spark.sql(s"UPDATE lake.db.$t SET v = v + 1000 WHERE id = 77")
    val after = filePaths(t)
    assert(after.size == 4 && after.filter(before.contains).size == 3,
      s"only the file holding id=77 may change paths: before=$before after=$after")
    val got = rows(t)
    assert(got.find(_._1 == 77L).get._2 == 77L * 10L + 1000L)
    assert(got.filter(_._1 != 77L) ==
      (0L until 100L).filter(_ != 77L).map(i => (i, i * 10L, s"f${i / 25}")))
  }

  /** The executed plan of a row-level command, the command's own
    * physical plan included. */
  private def commandPlan(sql: String): String =
    spark.sql(sql).queryExecution.executedPlan.treeString(verbose = true)

  /** A runtime `_file` group filter in a plan: the subquery Spark's
    * runtime group filtering adds to a copy-on-write target scan. */
  private def hasFileGroupFilter(plan: String): Boolean =
    plan.linesIterator.exists(l => l.contains("dynamicpruningexpression(_file"))

  test("MERGE INTO: upsert updates matched rows in place and appends new ones") {
    import spark.implicits._
    val t = seeded("t_merge")
    val before = filePaths(t)
    val f23 = spark.table(s"lake.db.$t").where($"s".isin("f2", "f3"))
      .select("_file").distinct().as[String].collect().toSet
    Seq((10L, -1L, "upd"), (40L, -2L, "upd"), (200L, -3L, "new"))
      .toDF("id", "v", "s").createOrReplaceTempView("merge_src")
    val plan = commandPlan(
      s"""MERGE INTO lake.db.$t t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (s.id, s.v, s.s)""".stripMargin)
    assert(hasFileGroupFilter(plan), s"a multi-file MERGE keeps its group filter:\n$plan")
    val got = rows(t)
    assert(got.size == 101)
    assert(got.find(_._1 == 10L).get == ((10L, -1L, "f0")))
    assert(got.find(_._1 == 40L).get == ((40L, -2L, "f1")))
    assert(got.find(_._1 == 200L).get == ((200L, -3L, "new")))
    assert(got.find(_._1 == 60L).get == ((60L, 600L, "f2")))
    // files f2/f3 hold no matched ids: exactly their paths survive the merge
    val after = filePaths(t)
    assert(f23.size == 2 && after.filter(before.contains).toSet == f23,
      s"unmatched files must not be rewritten: before=$before after=$after")
  }

  test("MERGE INTO … USING a temp view over a DataFrame that reads a lake table") {
    // the view keeps a table reference that the MERGE's group filter
    // copies; planning it used to fail with "No plan for TableReference"
    spark.sql("CREATE TABLE lake.db.t_mview_src (k STRING, v DOUBLE)")
    spark.sql("CREATE TABLE lake.db.t_mview_tgt (k STRING, v DOUBLE)")
    spark.sql("INSERT INTO lake.db.t_mview_src VALUES ('a', 1.0), ('b', 2.0)")
    // two target files: a one-file MERGE target plans no group filter
    spark.sql("INSERT INTO lake.db.t_mview_tgt VALUES ('a', 0.0)")
    spark.sql("INSERT INTO lake.db.t_mview_tgt VALUES ('c', 3.0)")
    spark.table("lake.db.t_mview_src").createOrReplaceTempView("t_mview_view")
    val plan = commandPlan("""MERGE INTO lake.db.t_mview_tgt t USING t_mview_view s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(hasFileGroupFilter(plan), plan)
    val got = spark.table("lake.db.t_mview_tgt").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(got == Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)))
  }

  test("copy-on-write MERGE into a one-file table plans no runtime _file filter") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_merge1 (id BIGINT, v BIGINT, s STRING)")
    spark.range(0, 50).select($"id", ($"id" * 10L).as("v"), lit("f").as("s"))
      .coalesce(1).writeTo("lake.db.t_merge1").append()
    assert(filePaths("t_merge1").size == 1)
    val v0 = LakeLog.currentSnapshot(tableDir("t_merge1")).get.version
    Seq((10L, -1L, "upd"), (200L, -3L, "new"))
      .toDF("id", "v", "s").createOrReplaceTempView("merge1_src")
    val plan = commandPlan(
      """MERGE INTO lake.db.t_merge1 t USING merge1_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (s.id, s.v, s.s)""".stripMargin)
    assert(plan.contains("ReplaceData") && !hasFileGroupFilter(plan),
      s"a one-file MERGE target needs no group filter:\n$plan")
    assert(rows("t_merge1") == ((0L until 50L).map(i =>
      if (i == 10L) (i, -1L, "f") else (i, i * 10L, "f")) :+ ((200L, -3L, "new"))))
    assert(LakeLog.currentSnapshot(tableDir("t_merge1")).get.version == v0 + 1)
  }

  test("UPDATE and DELETE matching nothing in a one-file table keep its path") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_nomatch1 (id BIGINT, v BIGINT, s STRING)")
    spark.range(0, 50).select($"id", ($"id" * 10L).as("v"), lit("f").as("s"))
      .coalesce(1).writeTo("lake.db.t_nomatch1").append()
    val before = filePaths("t_nomatch1")
    // v - id = 9 * id is never 1; the predicate is not pushable, so
    // neither command can take the metadata-only path
    val upd = commandPlan("UPDATE lake.db.t_nomatch1 SET v = 0 WHERE v - id = 1")
    assert(hasFileGroupFilter(upd), s"UPDATE keeps its group filter:\n$upd")
    assert(filePaths("t_nomatch1") == before)
    val del = commandPlan("DELETE FROM lake.db.t_nomatch1 WHERE v - id = 1")
    assert(hasFileGroupFilter(del), s"DELETE keeps its group filter:\n$del")
    assert(filePaths("t_nomatch1") == before)
    assert(rows("t_nomatch1") == (0L until 50L).map(i => (i, i * 10L, "f")))
  }

  test("lake reads decode like spark.read.parquet of the same files: every column type, full and row-group-pruned") {
    import spark.implicits._
    import graft.sources.LakeParquet
    // one multi-row-group file sorted by l, nulls in every column,
    // then a column added and one widened after it was written
    spark.sql("CREATE TABLE lake.db.t_decode (i INT, l BIGINT, d DOUBLE, s STRING, b BOOLEAN) " +
      "TBLPROPERTIES ('sortBy' = 'l', 'row_group_bytes' = '8192')")
    def nullEvery(n: Int, c: org.apache.spark.sql.Column) = when($"id" % n =!= 0, c)
    spark.range(0, 20000).select(
      nullEvery(7, ($"id" % 1000).cast("int")).as("i"), $"id".as("l"),
      nullEvery(5, $"id" / 3.0).as("d"), nullEvery(3, concat(lit("s"), $"id".cast("string"))).as("s"),
      nullEvery(11, $"id" % 2 === 0).as("b"))
      .coalesce(1).writeTo("lake.db.t_decode").append()
    val old = filePaths("t_decode")
    spark.sql("ALTER TABLE lake.db.t_decode ADD COLUMNS (x STRING)")
    spark.sql("ALTER TABLE lake.db.t_decode ALTER COLUMN i TYPE BIGINT")
    spark.range(20000, 26000).select(
      nullEvery(7, $"id" * 100000L).as("i"), $"id".as("l"), nullEvery(5, $"id" / 3.0).as("d"),
      nullEvery(3, concat(lit("s"), $"id".cast("string"))).as("s"),
      nullEvery(11, $"id" % 2 === 0).as("b"), nullEvery(2, $"id".cast("string")).as("x"))
      .coalesce(1).writeTo("lake.db.t_decode").append()
    val added = filePaths("t_decode").filterNot(old.contains)
    assert(old.size == 1 && added.size == 1)
    def pq(f: String) = spark.read.parquet(tableDir("t_decode").resolve(f).toString)
    val expected = pq(old.head).select($"i".cast("bigint").as("i"), $"l", $"d", $"s", $"b",
      lit(null).cast("string").as("x"))
      .unionByName(pq(added.head).select("i", "l", "d", "s", "b", "x"))
    assert(pq(old.head).schema("i").dataType == org.apache.spark.sql.types.IntegerType && pq(old.head).count() == 20000L)
    def same(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
      val (g, w) = (got.collect().map(_.toSeq).toSeq, want.collect().map(_.toSeq).toSeq)
      def key(r: Seq[Any]) = r(1).asInstanceOf[Long]
      assert(g.sortBy(key) == w.sortBy(key), "lake rows differ from spark.read.parquet's")
    }
    same(spark.table("lake.db.t_decode"), expected)
    // a residual predicate on the sorted column prunes row groups of the
    // first file: the same rows must come out of the pruned open
    val (r0, p0) = (LakeParquet.rowGroupsRead.get, LakeParquet.rowGroupsPruned.get)
    same(spark.table("lake.db.t_decode").where($"l" >= 17000L && $"l" < 23000L),
      expected.where($"l" >= 17000L && $"l" < 23000L))
    assert(LakeParquet.rowGroupsRead.get > r0 && LakeParquet.rowGroupsPruned.get > p0,
      "the predicate must reach the row-group-pruned open")
  }

  test("stats-based file skipping: scan plans only files whose range can match") {
    val t = seeded("t_skip")
    val df = spark.table(s"lake.db.$t").filter(col("id") >= 80L)
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (80L until 100L))
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("files=1/4"),
      s"only the [75,100) file can contain id>=80:\n$scanDesc")
  }

  test("optimistic commit: create-if-absent race, loser must retry on the new head") {
    import graft.sources.LakeSnapshot
    val t = seeded("t_race")
    val dir = tableDir(t)
    val cur = LakeLog.currentSnapshot(dir).get
    val a = LakeSnapshot(cur.version + 1, cur.schema, cur.files.tail)
    val b = LakeSnapshot(cur.version + 1, cur.schema, cur.files.init)
    assert(LakeLog.commit(dir, cur.version, a))
    assert(!LakeLog.commit(dir, cur.version, b), "second writer of v+1 must lose")
    assert(LakeLog.currentSnapshot(dir).get.files == a.files)
  }

  test("failed write aborts cleanly: no new version, no orphan data files") {
    import spark.implicits._
    val t = seeded("t_abort")
    val vBefore = LakeLog.currentSnapshot(tableDir(t)).get.version
    val dataFiles = Files.list(tableDir(t).resolve("data")).count()
    intercept[Exception] {
      spark.range(0, 10)
        .select($"id", expr("CASE WHEN id = 7 THEN raise_error('boom') ELSE id END").as("v"),
          lit("x").as("s"))
        .coalesce(1)
        .writeTo(s"lake.db.$t").append()
    }
    assert(LakeLog.currentSnapshot(tableDir(t)).get.version == vBefore,
      "aborted write must not commit a version")
    assert(Files.list(tableDir(t).resolve("data")).count() == dataFiles,
      "aborted write must delete its data files")
    assert(rows(t).size == 100)
  }

  test("CALL system.compact: distributed rewrite, atomic swap, rows identical, history intact") {
    val t = seeded("t_compact")
    val before = rows(t)
    val res = spark.sql(s"CALL lake.system.compact('db.$t', 1)").collect().head
    assert(res.getInt(0) == 4 && res.getInt(1) == 1 && res.getLong(2) == 100L,
      s"compact must report 4 -> 1 files over 100 rows, got $res")
    assert(filePaths(t).size == 1)
    assert(rows(t) == before, "compaction must not change a single row")
    // one new version; time travel before the compaction still works
    val snap = LakeLog.currentSnapshot(tableDir(t)).get
    assert(snap.version == 5L)
    assert(spark.sql(s"SELECT count(*) FROM lake.db.$t VERSION AS OF 4")
      .head().getLong(0) == 100L)
  }

  test("CALL system.history + system.vacuum: retention window enforced, storage reclaimed") {
    val t = seeded("t_vacuum")
    spark.sql(s"CALL lake.system.compact('db.$t', 1)") // v5: 1 live file, 4 stale
    val hist = spark.sql(s"CALL lake.system.history('db.$t')").collect()
    assert(hist.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((0L, 0), (1L, 1), (2L, 2), (3L, 3), (4L, 4), (5L, 1)))
    val dataBefore = Files.list(tableDir(t).resolve("data")).count()
    assert(dataBefore == 5)
    val res = spark.sql(s"CALL lake.system.vacuum('db.$t', 1)").collect().head
    assert(res.getInt(0) == 4 && res.getInt(1) == 5 && res.getLong(2) == 5L,
      s"vacuum(retain 1) must reclaim 4 data files + 5 log versions, got $res")
    assert(Files.list(tableDir(t).resolve("data")).count() == 1)
    // the head still reads; history outside the window is gone
    assert(rows(t).size == 100)
    intercept[Exception](
      spark.sql(s"SELECT count(*) FROM lake.db.$t VERSION AS OF 2").collect())
  }

  test("streaming write into the lake: multi-epoch drain, restart adds nothing, epoch replay replaces") {
    spark.sql("CREATE TABLE lake.db.t_stream (id BIGINT, category INT, value BIGINT)")
    val ckpt = Files.createTempDirectory("lake-stream-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graftgen")
        .option("rows", "1000").option("rowsPerBatch", "300").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("lake.db.t_stream")
      q.awaitTermination()
    }
    drain()
    val got = spark.table("lake.db.t_stream").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 1000L), "streamed content must be the exact extent, once")
    val epochs = LakeLog.currentSnapshot(tableDir("t_stream")).get.files.flatMap(_.epoch).distinct
    assert(epochs.size >= 4, s"300-row admission must commit >=4 epochs, got $epochs")
    // restart on the same checkpoint: everything already committed, nothing duplicates
    val vBefore = LakeLog.currentSnapshot(tableDir("t_stream")).get.version
    drain()
    assert(spark.table("lake.db.t_stream").count() == 1000L)
    // replay one epoch through the REAL StreamingWrite: the SAME
    // query's files for that epoch are REPLACED, not added
    val dir = tableDir("t_stream")
    val snap = LakeLog.currentSnapshot(dir).get
    val e0 = snap.files.flatMap(_.epoch).min
    val e0Entry = snap.files.find(_.epoch.contains(e0)).get
    val e0Files = snap.files.filter(_.epoch.contains(e0)).map(_.path)
    val realQueryId = e0Entry.query.get
    import graft.sources.{LakeFileMessage, LakeTable, LakeWriterFactory}
    val table = new graft.sources.GraftLakeCatalog {
      initialize("lake", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", warehouse.toString)))
    }.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "t_stream")).asInstanceOf[LakeTable]
    def infoFor(qid: String) = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = qid
      override def schema(): org.apache.spark.sql.types.StructType = table.schema()
      override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())
    }
    def oneRowFile(): LakeFileMessage = {
      val w = LakeWriterFactory(dir.toString, table.schema(), table.schema().fieldNames)
        .createWriter(0, 0L)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](999999L, 0, 0L)))
      w.commit().asInstanceOf[LakeFileMessage]
    }
    // a DIFFERENT query writing the same epoch number must NOT evict
    // the first query's files (epoch ids restart per checkpoint)
    val otherMsg = oneRowFile()
    table.newWriteBuilder(infoFor("other-query")).build().toStreaming
      .commit(e0, Array(otherMsg))
    val afterOther = LakeLog.currentSnapshot(dir).get.files
    assert(e0Files.forall(afterOther.map(_.path).contains),
      "another query's colliding epoch must not replace committed files")
    // the SAME query replaying the epoch replaces exactly its own files
    val preReplayV = LakeLog.currentSnapshot(dir).get.version
    val replayMsg = oneRowFile()
    table.newWriteBuilder(infoFor(realQueryId)).build().toStreaming
      .commit(e0, Array(replayMsg))
    val after = LakeLog.currentSnapshot(dir).get.files
    assert(after.filter(f => f.epoch.contains(e0) && f.query.contains(realQueryId))
      .map(_.path) == Seq(replayMsg.files.head.path))
    assert(e0Files.forall(p => !after.map(_.path).contains(p)),
      "the superseded attempt's files must leave the snapshot")
    assert(after.map(_.path).contains(otherMsg.files.head.path),
      "the other query's epoch-e0 file stays")
    assert(vBefore >= 4L)
    // the replaced attempt's files are now unreferenced at the head but
    // still on disk — a TAG of the pre-replay version pins them through
    // vacuum; dropping it lets the next vacuum reclaim them
    assert(e0Files.forall(p => Files.exists(dir.resolve(p))))
    spark.sql(s"CALL lake.system.tag('db.t_stream', 'pre-replay', $preReplayV)").collect()
    val nRows = spark.table("lake.db.t_stream").count()
    spark.sql("CALL lake.system.vacuum('db.t_stream', 1)").collect()
    assert(e0Files.forall(p => Files.exists(dir.resolve(p))),
      "a tag referencing the superseded epoch must pin its files through vacuum")
    spark.sql("CALL lake.system.drop_ref('db.t_stream', 'pre-replay')").collect()
    spark.sql("CALL lake.system.vacuum('db.t_stream', 1)").collect()
    assert(e0Files.forall(p => !Files.exists(dir.resolve(p))),
      "vacuum must reclaim a replayed epoch's superseded files once unpinned")
    assert(Files.exists(dir.resolve(replayMsg.files.head.path)) &&
      Files.exists(dir.resolve(otherMsg.files.head.path)),
      "live epoch files stay")
    assert(spark.table("lake.db.t_stream").count() == nRows,
      "vacuum is content-neutral at the head")
  }

  test("streaming write into a PARTITIONED + sorted table: per-epoch per-tuple sorted files; replay replaces across partitions") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_streampart (id BIGINT, category INT, value BIGINT)
        |PARTITIONED BY (category) TBLPROPERTIES ('sortBy' = 'id')""".stripMargin)
    val ckpt = Files.createTempDirectory("lake-streampart-ckpt").toString
    val q = spark.readStream.format("graftgen")
      .option("rows", "900").option("rowsPerBatch", "300").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("lake.db.t_streampart")
    q.awaitTermination()
    val dir = tableDir("t_streampart")
    val snap = LakeLog.currentSnapshot(dir).get
    // every epoch file landed under an identity-partition tuple with
    // the declared sort enforced by the streaming write
    assert(snap.files.nonEmpty && snap.files.forall(f =>
      f.epoch.isDefined && f.part.size == 1 && f.sorted == Seq("id")),
      s"epoch files must carry tuple + sort: ${snap.files.map(f => (f.part, f.sorted, f.epoch))}")
    // RequiresDistributionAndOrdering on the STREAMING path: each
    // epoch's rows cluster per tuple — exactly one file per
    // (epoch, partition) that the epoch touched
    val perEpochTuple = snap.files.groupBy(f => (f.epoch.get, f.part))
    assert(perEpochTuple.forall(_._2.size == 1),
      s"one file per (epoch, tuple): ${perEpochTuple.view.mapValues(_.size).toMap}")
    // and the in-file ordering is REAL: per file, ids ascend
    val byFile = spark.table("lake.db.t_streampart")
      .select(col("_file"), $"id").collect()
      .groupBy(_.getString(0)).values
    assert(byFile.forall(rs => rs.map(_.getLong(1)).toSeq ==
      rs.map(_.getLong(1)).sortBy(identity).toSeq),
      "file content must be sorted by the declared sortBy")
    assert(spark.table("lake.db.t_streampart").count() == 900L)
    // __partitions census agrees with the data mid-lifecycle
    val census = spark.table("lake.db.t_streampart__partitions")
      .select($"partition", $"live_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = spark.table("lake.db.t_streampart").groupBy($"category").count()
      .collect().map(r => s"category=${r.getInt(0)}" -> r.getLong(1)).toMap
    assert(census == truth, s"census $census != data $truth")
    // epoch REPLAY replaces that epoch's files across EVERY partition
    val e0 = snap.files.flatMap(_.epoch).min
    val e0Files = snap.files.filter(_.epoch.contains(e0)).map(_.path)
    assert(e0Files.size > 1, "an epoch must span several partitions here")
    val qid = snap.files.find(_.epoch.contains(e0)).get.query.get
    import graft.sources.{LakeFileMessage, LakeTable, LakeWriterFactory}
    val table = new graft.sources.GraftLakeCatalog {
      initialize("lake", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", warehouse.toString)))
    }.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "t_streampart")).asInstanceOf[LakeTable]
    val w = LakeWriterFactory(dir.toString, table.schema(), table.schema().fieldNames,
      graft.sources.LakePartitioning.decode(snap.props))
      .createWriter(0, 0L)
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](999999L, 0, 0L)))
    val replayMsg = w.commit().asInstanceOf[LakeFileMessage]
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = qid
      override def schema(): org.apache.spark.sql.types.StructType = table.schema()
      override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())
    }
    table.newWriteBuilder(info).build().toStreaming.commit(e0, Array(replayMsg))
    val after = LakeLog.currentSnapshot(dir).get.files
    assert(e0Files.forall(p => !after.map(_.path).contains(p)),
      "replay must evict the epoch's files in EVERY partition")
    assert(after.count(f => f.epoch.contains(e0) && f.query.contains(qid)) == 1)
    // census stays consistent after the replacement
    val census2 = spark.table("lake.db.t_streampart__partitions")
      .select($"partition", $"live_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth2 = spark.table("lake.db.t_streampart").groupBy($"category").count()
      .collect().map(r => s"category=${r.getInt(0)}" -> r.getLong(1)).toMap
    assert(census2 == truth2, s"post-replay census $census2 != data $truth2")
  }

  test("clusterBy/sortBy table properties: writes arrive clustered + sorted, stats tighten") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_clustered (id BIGINT, cat BIGINT, s STRING)
        |TBLPROPERTIES ('clusterBy' = 'cat', 'sortBy' = 'id')""".stripMargin)
    // adversarial input: round-robin partitioning, descending ids
    spark.range(0, 400)
      .select((lit(399L) - $"id").as("id"), ($"id" % 5).as("cat"),
        concat(lit("r"), $"id").as("s"))
      .repartition(7)
      .writeTo("lake.db.t_clustered").append()
    // every cluster key lands wholly in ONE file...
    val perCat = spark.table("lake.db.t_clustered")
      .select($"cat", col("_file"))
      .groupBy($"cat").agg(countDistinct(col("_file")).as("nf"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perCat.size == 5 && perCat.values.forall(_ == 1L),
      s"each cat must land in exactly one file, got $perCat")
    // ...and within each file rows are id-ascending (writer saw sorted input)
    val byFile = spark.table("lake.db.t_clustered")
      .select(col("_file"), $"id").collect()
      .groupBy(_.getString(0)).values
    byFile.foreach { rows =>
      val ids = rows.map(_.getLong(1)).toSeq
      assert(ids == ids.sorted, "in-file order must be the required sortBy order")
    }
    // clustering scopes a cat-delete to the file(s) holding that cat:
    // files without cat=3 keep their paths whichever path (metadata
    // drop or group-filtered COW) the stats allow
    val untouchable = spark.table("lake.db.t_clustered")
      .select(col("_file"), $"cat").collect()
      .groupBy(_.getString(0)).collect {
        case (f, rs) if !rs.exists(_.getLong(1) == 3L) => f
      }.toSet
    spark.sql("DELETE FROM lake.db.t_clustered WHERE cat = 3")
    val after = filePaths("t_clustered").toSet
    assert(untouchable.subsetOf(after),
      s"files without cat=3 must survive untouched: kept=$after expected⊇$untouchable")
    assert(spark.table("lake.db.t_clustered").count() == 320L)
    // a COW rewrite must preserve the declared clustering: every cat
    // still lands wholly in one file afterwards
    val perCatAfter = spark.table("lake.db.t_clustered")
      .select($"cat", col("_file"))
      .groupBy($"cat").agg(countDistinct(col("_file")).as("nf"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perCatAfter.values.forall(_ == 1L),
      s"rewrite degraded the clustering: $perCatAfter")
  }

  test("metadata-only count(*): answered from the log, zero data files read") {
    val t = seeded("t_metacount")
    val df = spark.sql(s"SELECT count(*) AS n FROM lake.db.$t")
    assert(df.head().getLong(0) == 100L)
    // complete pushdown: the aggregation is GONE — the plan is a
    // LocalTableScan over the one pre-computed count row (LocalScan
    // renders as LocalTableScan; no HashAggregate, no BatchScan)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan [count(*)") && !plan.contains("HashAggregate"),
      s"unfiltered count must plan the metadata scan:\n$plan")
    // a filtered count still reads data and stays correct
    val filtered = spark.sql(s"SELECT count(*) FROM lake.db.$t WHERE id >= 40")
    assert(filtered.head().getLong(0) == 60L)
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"),
      "a filtered count must read data")
    // count on a time-travel snapshot is metadata too — an operator
    // auditing history gets the zero-task plan at every pinned version
    val tt = spark.sql(s"SELECT count(*) AS n FROM lake.db.$t VERSION AS OF 2")
    assert(tt.head().getLong(0) == 50L)
    val ttPlan = tt.queryExecution.executedPlan.toString
    assert(ttPlan.contains("LocalTableScan") && !ttPlan.contains("BatchScan"),
      s"a pinned snapshot must keep the metadata-aggregate path:\n$ttPlan")
    // and through a named TAG ref (VERSION AS OF '<tag>')
    spark.sql(s"CALL lake.system.tag('db.$t', 'meta-audit', 2)").collect()
    val tg = spark.sql(s"SELECT count(*) AS n, max(v) AS mx FROM lake.db.$t " +
      "VERSION AS OF 'meta-audit'")
    assert(tg.head() == org.apache.spark.sql.Row(50L, 490L))
    val tgPlan = tg.queryExecution.executedPlan.toString
    assert(tgPlan.contains("LocalTableScan") && !tgPlan.contains("BatchScan"),
      s"a tag read must keep the metadata-aggregate path:\n$tgPlan")
  }

  test("CHECK constraints: write-enforced, ADD validates existing rows, DROP releases, PK refused") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_check (k BIGINT, v BIGINT,
        |CONSTRAINT v_nonneg CHECK (v >= 0))""".stripMargin)
    spark.range(0, 5).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_check").append()
    assert(spark.table("lake.db.t_check").count() == 5L)
    // Spark's analyzer injects per-row enforcement from
    // Table.constraints into the write plan — a violating INSERT fails
    // and the aborted write lands NOTHING
    val err = intercept[Exception](
      spark.range(0, 1).select(lit(9L).as("k"), lit(-1L).as("v"))
        .coalesce(1).writeTo("lake.db.t_check").append())
    assert(err.getMessage.contains("v_nonneg") ||
      Option(err.getCause).exists(_.getMessage.contains("v_nonneg")),
      s"violation must name the constraint: ${err.getMessage}")
    assert(spark.table("lake.db.t_check").count() == 5L,
      "a failed write must be invisible")
    // DROP releases; a violating row can land; re-ADD then refuses
    // because EXISTING rows must satisfy an enforced check too
    spark.sql("ALTER TABLE lake.db.t_check DROP CONSTRAINT v_nonneg")
    spark.range(0, 1).select(lit(9L).as("k"), lit(-1L).as("v"))
      .coalesce(1).writeTo("lake.db.t_check").append()
    val addErr = intercept[Exception](spark.sql(
      "ALTER TABLE lake.db.t_check ADD CONSTRAINT v_nonneg CHECK (v >= 0)"))
    assert(addErr.getMessage.contains("violate") ||
      Option(addErr.getCause).exists(_.getMessage.contains("violate")),
      s"got: ${addErr.getMessage}")
    spark.sql("DELETE FROM lake.db.t_check WHERE v < 0")
    spark.sql("ALTER TABLE lake.db.t_check ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    intercept[Exception](
      spark.range(0, 1).select(lit(9L).as("k"), lit(-2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_check").append())
    assert(spark.table("lake.db.t_check").count() == 5L)
    // nothing enforces PRIMARY KEY here — storing it would be a
    // correctness trap, so it refuses loudly
    val pkErr = intercept[Exception](spark.sql(
      """CREATE TABLE lake.db.t_pk (k BIGINT, v BIGINT,
        |CONSTRAINT pk PRIMARY KEY (k))""".stripMargin))
    assert(pkErr.getMessage.contains("CHECK constraints only") ||
      Option(pkErr.getCause).exists(_.getMessage.contains("CHECK constraints only")))
  }

  test("CHECK constraints ride clones and guard STREAMING writes") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_checksrc (k BIGINT, v BIGINT,
        |CONSTRAINT v_pos CHECK (v > 0))""".stripMargin)
    spark.range(1, 4).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_checksrc").append()
    // a shallow clone copies the table properties — the constraint
    // keeps enforcing on the clone's own writes
    spark.sql("CALL lake.system.clone('db.t_checksrc', 'db.t_checkclone', -1)").collect()
    intercept[Exception](
      spark.range(0, 1).select(lit(9L).as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo("lake.db.t_checkclone").append())
    assert(spark.table("lake.db.t_checkclone").count() == 3L)
    // STREAMING writes enforce too: a violating micro-batch fails the
    // stream and its epoch never commits
    spark.sql("CREATE TABLE lake.db.t_checkfeed (k BIGINT, v BIGINT)")
    spark.range(0, 3).select($"id".as("k"), ($"id" - 1L).as("v")) // v=-1 violates
      .coalesce(1).writeTo("lake.db.t_checkfeed").append()
    val ckpt = Files.createTempDirectory("check-stream-ckpt").toString
    val q = spark.readStream.table("lake.db.t_checkfeed")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("lake.db.t_checksrc")
    val err = intercept[Exception](q.awaitTermination())
    assert(err.getMessage.contains("v_pos") ||
      Option(err.getCause).exists(c => c.getMessage != null &&
        c.getMessage.contains("v_pos")) ||
      err.toString.contains("CHECK_CONSTRAINT_VIOLATION"),
      s"streaming violation must surface the constraint: $err")
    assert(spark.table("lake.db.t_checksrc").count() == 3L,
      "the failed epoch must land nothing")
  }

  test("column DEFAULT values: filled on INSERT, SET/DROP DEFAULT, ADD COLUMN with DEFAULT refused") {
    spark.sql("CREATE TABLE lake.db.t_def (k BIGINT, v BIGINT DEFAULT 7)")
    spark.sql("INSERT INTO lake.db.t_def (k) VALUES (1)")
    spark.sql("INSERT INTO lake.db.t_def VALUES (2, DEFAULT)")
    spark.sql("INSERT INTO lake.db.t_def VALUES (3, 30)")
    assert(spark.table("lake.db.t_def").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 7L), (2L, 7L), (3L, 30L)))
    // SET DEFAULT governs future INSERTs only
    spark.sql("ALTER TABLE lake.db.t_def ALTER COLUMN v SET DEFAULT 9")
    spark.sql("INSERT INTO lake.db.t_def (k) VALUES (4)")
    assert(spark.sql("SELECT v FROM lake.db.t_def WHERE k = 4").head().getLong(0) == 9L)
    assert(spark.sql("SELECT v FROM lake.db.t_def WHERE k = 1").head().getLong(0) == 7L,
      "SET DEFAULT must not rewrite history")
    spark.sql("ALTER TABLE lake.db.t_def ALTER COLUMN v DROP DEFAULT")
    spark.sql("INSERT INTO lake.db.t_def VALUES (5, 50)")
    assert(spark.table("lake.db.t_def").count() == 5L)
    // ADD COLUMN with DEFAULT would read NULL for pre-evolution rows —
    // refuse rather than silently break the promise
    val err = intercept[Exception](spark.sql(
      "ALTER TABLE lake.db.t_def ADD COLUMN w BIGINT DEFAULT 5"))
    assert(err.getMessage.contains("DEFAULT is not supported") ||
      Option(err.getCause).exists(_.getMessage.contains("DEFAULT is not supported")))
  }

  test("metadata companions time-travel: VERSION AS OF version/tag and TIMESTAMP AS OF resolve against the base log") {
    val t = seeded("t_metatt") // v1..v4, 4 files of 25 rows
    spark.sql(s"DELETE FROM lake.db.$t WHERE id < 25") // v5: metadata-drops file 1
    assert(spark.table(s"lake.db.${t}__files").count() == 3L)
    // pinned census: the dropped file is back at v4
    assert(spark.sql(s"SELECT count(*) FROM lake.db.${t}__files VERSION AS OF 4")
      .head().getLong(0) == 4L)
    // a TAG resolves for companions exactly like for the base table
    spark.sql(s"CALL lake.system.tag('db.$t', 'pre-del', 4)").collect()
    assert(spark.sql(
      s"SELECT count(*) FROM lake.db.${t}__files VERSION AS OF 'pre-del'")
      .head().getLong(0) == 4L)
    // __stats at the pin sees the deleted rows' extremes
    assert(spark.sql(
      s"SELECT min FROM lake.db.${t}__stats VERSION AS OF 'pre-del' WHERE column = 'id'")
      .head().getLong(0) == 0L)
    assert(spark.sql(
      s"SELECT min FROM lake.db.${t}__stats WHERE column = 'id'")
      .head().getLong(0) == 25L)
    // __partitions at the pin counts the pre-delete live rows
    assert(spark.sql(
      s"SELECT live_rows FROM lake.db.${t}__partitions VERSION AS OF 4")
      .head().getLong(0) == 100L)
    // __history truncates at the pin
    assert(spark.sql(
      s"SELECT max(version) FROM lake.db.${t}__history VERSION AS OF 4")
      .head().getLong(0) == 4L)
    // TIMESTAMP AS OF routes through versionAtTime on the base log
    assert(spark.sql(
      s"SELECT count(*) FROM lake.db.${t}__files TIMESTAMP AS OF '2100-01-01'")
      .head().getLong(0) == 3L)
  }

  test("__stats census: estimator-grade column statistics from the log alone") {
    val t = seeded("t_statcensus")
    val rows = spark.table(s"lake.db.${t}__stats")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("id", "v", "s"))
    val id = rows("id")
    assert(id.getString(1) == "bigint" && id.getLong(2) == 0L && id.getLong(3) == 99L &&
      id.getLong(4) == 0L && id.getInt(6) == 4)
    // 100 distinct ids through a k=64 KMV: deterministic estimate
    // inside the 1/sqrt(k) band
    val ndv = id.getLong(5)
    assert(ndv > 70L && ndv < 140L, s"NDV estimate out of band: $ndv")
    val v = rows("v")
    assert(v.getLong(2) == 0L && v.getLong(3) == 990L)
    // strings: no integral min/max (reported NULL, never guessed) —
    // but null counts are real and the NDV sketches their UTF-8 bytes
    // (4 distinct labels f0..f3, sub-k so the merge is exact)
    val s = rows("s")
    assert(s.isNullAt(2) && s.isNullAt(3) && s.getLong(4) == 0L)
    assert(s.getLong(5) == 4L, s"4 distinct labels merge exactly: ${s.getLong(5)}")
  }

  test("system.clone: zero-copy shallow clone, independent evolution, compact makes it self-contained") {
    import spark.implicits._
    val t = seeded("t_cl_src")
    val srcFiles = filePaths("t_cl_src")
    val res = spark.sql(s"CALL lake.system.clone('db.$t', 'db.t_cl_dst', -1)")
      .collect().head
    assert(res.getLong(0) == 4L && res.getInt(1) == 4 && res.getLong(2) == 100L)
    // zero bytes copied: the clone's data dir is empty, entries are
    // absolute references into the source
    assert(scala.util.Using.resource(Files.list(tableDir("t_cl_dst").resolve("data")))(
      _.count()) == 0L)
    assert(LakeLog.currentSnapshot(tableDir("t_cl_dst")).get.files
      .forall(f => Paths.get(f.path).isAbsolute))
    assert(spark.table("lake.db.t_cl_dst").count() == 100L)
    assert(spark.sql("SELECT sum(v) FROM lake.db.t_cl_dst").head().getLong(0) ==
      spark.sql(s"SELECT sum(v) FROM lake.db.$t").head().getLong(0))
    // independent evolution: a write to the clone lands RELATIVE under
    // its own dir and never touches the source
    spark.range(100, 110).select($"id", ($"id" * 10L).as("v"), lit("x").as("s"))
      .coalesce(1).writeTo("lake.db.t_cl_dst").append()
    assert(spark.table("lake.db.t_cl_dst").count() == 110L)
    assert(spark.table(s"lake.db.$t").count() == 100L)
    assert(filePaths("t_cl_src") == srcFiles, "the source is untouched")
    // a DELETE on the source (COW rewrite) does not reach the clone —
    // it still reads the superseded files it references
    spark.sql(s"DELETE FROM lake.db.$t WHERE id < 50")
    assert(spark.table(s"lake.db.$t").count() == 50L)
    assert(spark.table("lake.db.t_cl_dst").count() == 110L,
      "the clone pins the snapshot it was taken from")
    // compact converges the clone to SELF-CONTAINED: after it, even
    // vacuuming the source (the documented shallow-clone hazard)
    // cannot break the clone
    spark.sql("CALL lake.system.compact('db.t_cl_dst', 1)").collect()
    assert(LakeLog.currentSnapshot(tableDir("t_cl_dst")).get.files
      .forall(f => !Paths.get(f.path).isAbsolute))
    spark.sql(s"CALL lake.system.vacuum('db.$t', 1)").collect()
    assert(spark.table("lake.db.t_cl_dst").count() == 110L,
      "a compacted clone survives source vacuum")
    // cloning over an existing table refuses
    intercept[Exception](
      spark.sql(s"CALL lake.system.clone('db.$t', 'db.t_cl_dst', -1)").collect())
  }

  test("metadata-only MIN/MAX/COUNT(col): answered from footer stats; delete vectors force the fallback") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_metaagg (id BIGINT, v BIGINT, s STRING)
      |TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    // two files; v carries nulls in the second
    spark.range(0, 50).select($"id", ($"id" * 3L).as("v"), lit("a").as("s"))
      .coalesce(1).writeTo("lake.db.t_metaagg").append()
    spark.range(50, 100)
      .select($"id", when($"id" % 2 === 0, $"id" * 3L).as("v"), lit("b").as("s"))
      .coalesce(1).writeTo("lake.db.t_metaagg").append()
    def planOf(sql: String) = spark.sql(sql).queryExecution.executedPlan.toString
    val q = "SELECT min(id) AS lo, max(id) AS hi, count(v) AS nv, count(*) AS n " +
      "FROM lake.db.t_metaagg"
    val r = spark.sql(q).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((0L, 99L, 75L, 100L)))
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("BatchScan"),
      s"stats-answerable aggregates must not read data:\n${planOf(q)}")
    // era-mixing: a column added later — old files contribute all-NULL
    spark.sql("ALTER TABLE lake.db.t_metaagg ADD COLUMNS (w BIGINT)")
    spark.range(100, 110).select($"id", ($"id" * 3L).as("v"), lit("c").as("s"),
      ($"id" + 1000L).as("w")).coalesce(1).writeTo("lake.db.t_metaagg").append()
    val q2 = "SELECT count(w) AS nw, min(w) AS wlo, max(w) AS whi FROM lake.db.t_metaagg"
    val r2 = spark.sql(q2).head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((10L, 1100L, 1109L)))
    assert(planOf(q2).contains("LocalTableScan"), s"era null-fill is stats-decidable:\n${planOf(q2)}")
    // SUM from the writer-recorded per-file sums: null-skipping and
    // era-missing columns compose; still zero tasks
    val qs = "SELECT sum(id) AS si, sum(v) AS sv, sum(w) AS sw FROM lake.db.t_metaagg"
    val rs = spark.sql(qs).head()
    assert((rs.getLong(0), rs.getLong(1), rs.getLong(2)) == ((5995L, 12360L, 11045L)))
    assert(planOf(qs).contains("LocalTableScan"), s"sum is metadata too:\n${planOf(qs)}")
    // a MOR delete puts a dv on file 1: MIN/MAX must FALL BACK (the
    // deleted row could be the extremum) while COUNT(*) stays metadata
    spark.sql("DELETE FROM lake.db.t_metaagg WHERE id = 0")
    val qmm = "SELECT min(id) AS lo FROM lake.db.t_metaagg"
    assert(spark.sql(qmm).head().getLong(0) == 1L,
      "post-delete min must be exact (the old extremum is gone)")
    assert(planOf(qmm).contains("BatchScan"),
      s"a dv'd file forbids stats min/max:\n${planOf(qmm)}")
    val qc = "SELECT count(*) AS n FROM lake.db.t_metaagg"
    assert(spark.sql(qc).head().getLong(0) == 109L)
    assert(planOf(qc).contains("LocalTableScan"),
      "count(*) stays metadata under dvs (liveRows is exact)")
    // count(v): file 1 has no nulls -> liveRows arm; file 2 has nulls
    // but no dv -> rows - nulls arm; still metadata-only
    val qcv = "SELECT count(v) AS nv FROM lake.db.t_metaagg"
    assert(spark.sql(qcv).head().getLong(0) == 84L)
    assert(planOf(qcv).contains("LocalTableScan"),
      s"mixed dv/null files stay decidable per file:\n${planOf(qcv)}")
    // a dv'd file's deleted contribution is unknowable to a sum
    val qsd = "SELECT sum(id) AS si FROM lake.db.t_metaagg"
    assert(spark.sql(qsd).head().getLong(0) == 5995L) // deleted id was 0
    assert(planOf(qsd).contains("BatchScan"),
      s"a dv'd file forbids the metadata sum:\n${planOf(qsd)}")
    // grouping by a non-partition column always reads data
    assert(planOf("SELECT s, count(*) FROM lake.db.t_metaagg GROUP BY s")
      .contains("BatchScan"))
    // a string-equality filter each file decides EXACTLY (single-valued
    // s per file, string stats) is consumed — the filtered min answers
    // from the dv-free matching file's stats, zero tasks
    val qf = "SELECT min(id) AS lo FROM lake.db.t_metaagg WHERE s = 'b'"
    assert(spark.sql(qf).head().getLong(0) == 50L)
    assert(planOf(qf).contains("LocalTableScan") && !planOf(qf).contains("BatchScan"),
      s"an exactly-decided string filter keeps the metadata path:\n${planOf(qf)}")
    // an UNDECIDABLE filter shape still reads data (mid-string LIKE —
    // a PREFIX LIKE is now part of the decision algebra)
    assert(planOf("SELECT min(id) FROM lake.db.t_metaagg WHERE s LIKE '%b%'")
      .contains("BatchScan"))
    // string MIN/MAX is metadata-answerable too (sstats), but a dv'd
    // file refuses — the deleted row may BE the extremum
    assert(planOf("SELECT min(s) FROM lake.db.t_metaagg").contains("BatchScan"))
  }

  test("metadata AVG: exact log sum ÷ non-null count, zero tasks; a dv forces the scan fallback") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_metaavg (id BIGINT, v BIGINT, seg STRING)
      |PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    // nulls in v where id % 7 == 0 — avg must divide by the NON-NULL count
    spark.range(0, 200)
      .select($"id", when($"id" % 7 =!= 0, $"id" * 3L).as("v"),
        concat(lit("s"), $"id" % 2).as("seg"))
      .writeTo("lake.db.t_metaavg").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    val vals = (0L until 200L).filter(_ % 7 != 0).map(_ * 3L)
    val qa = "SELECT avg(v) AS a FROM lake.db.t_metaavg"
    assert(spark.sql(qa).head().getDouble(0) == vals.sum.toDouble / vals.size)
    assert(planOf(qa).contains("LocalTableScan") && !planOf(qa).contains("BatchScan"),
      s"ungrouped avg answers from the log:\n${planOf(qa)}")
    // consumed partition filter composes; so does the grouped path
    val qf = "SELECT avg(v) AS a FROM lake.db.t_metaavg WHERE seg = 's1'"
    val odd = (0L until 200L).filter(i => i % 2 == 1 && i % 7 != 0).map(_ * 3L)
    assert(spark.sql(qf).head().getDouble(0) == odd.sum.toDouble / odd.size)
    assert(planOf(qf).contains("LocalTableScan"), s"filtered:\n${planOf(qf)}")
    val qg = "SELECT seg, avg(v) AS a FROM lake.db.t_metaavg GROUP BY seg"
    assert(planOf(qg).contains("LocalTableScan"), s"grouped:\n${planOf(qg)}")
    assert(spark.sql(qg).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      .apply("s1") == odd.sum.toDouble / odd.size)
    // a dv makes the deleted contribution unknowable — scan fallback
    spark.sql("DELETE FROM lake.db.t_metaavg WHERE id = 3")
    val post = (0L until 200L).filter(i => i != 3 && i % 7 != 0).map(_ * 3L)
    assert(spark.sql(qa).head().getDouble(0) == post.sum.toDouble / post.size)
    assert(planOf(qa).contains("BatchScan"),
      s"a dv'd file forbids the metadata avg:\n${planOf(qa)}")
  }

  test("exact predicates are consumed at the scan: no residual Filter, filtered aggregates stay metadata") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_consume (k BIGINT, seg STRING, v BIGINT)
        |PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    spark.range(0, 200)
      .select($"id".as("k"), concat(lit("s"), $"id" % 5).as("seg"), ($"id" * 2L).as("v"))
      .writeTo("lake.db.t_consume").append()
    def filters(sql: String): Int = spark.sql(sql).queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }.size
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    // an identity-partition predicate is exact on every file: pruning
    // applies it in full and NO per-row Filter remains
    val sel = "SELECT * FROM lake.db.t_consume WHERE seg = 's3'"
    assert(spark.sql(sel).count() == 40L)
    assert(filters(sel) == 0,
      s"consumed partition predicate must delete the Filter node:\n${planOf(sel)}")
    // ...which keeps the metadata-aggregate path open under the filter
    val qc = "SELECT count(*) AS n, min(k) AS lo, max(k) AS hi " +
      "FROM lake.db.t_consume WHERE seg = 's3'"
    val r = spark.sql(qc).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((40L, 3L, 198L)))
    assert(planOf(qc).contains("LocalTableScan") && !planOf(qc).contains("BatchScan"),
      s"partition-filtered aggregate must be zero-task:\n${planOf(qc)}")
    // a predicate some file decides Mixed stays residual
    val qm = "SELECT count(*) AS n FROM lake.db.t_consume WHERE seg = 's3' AND v > 100"
    assert(spark.sql(qm).head().getLong(0) == 30L)
    assert(filters(qm) == 1, s"Mixed value predicate keeps its Filter:\n${planOf(qm)}")
    assert(planOf(qm).contains("BatchScan"))
    // a MOR delete dvs the s1 file: counts there stay metadata
    // (liveRows), min falls back to the scan; OTHER partitions are
    // untouched and keep the full metadata path
    spark.sql("DELETE FROM lake.db.t_consume WHERE k = 11")
    val qs1 = "SELECT count(*) AS n FROM lake.db.t_consume WHERE seg = 's1'"
    assert(spark.sql(qs1).head().getLong(0) == 39L)
    assert(planOf(qs1).contains("LocalTableScan"),
      "count(*) under a dv stays metadata (liveRows is exact)")
    val qs1min = "SELECT min(k) AS lo FROM lake.db.t_consume WHERE seg = 's1'"
    assert(spark.sql(qs1min).head().getLong(0) == 1L)
    assert(planOf(qs1min).contains("BatchScan"),
      "a dv'd file forbids stats min under the filter")
    val qs3 = "SELECT min(k) AS lo FROM lake.db.t_consume WHERE seg = 's3'"
    assert(spark.sql(qs3).head().getLong(0) == 3L)
    assert(planOf(qs3).contains("LocalTableScan"),
      "a dv elsewhere must not break the pruned partitions' metadata path")
    // a predicate matching NO partition: every file None_, zero-task zero
    val q0 = "SELECT count(*) AS n FROM lake.db.t_consume WHERE seg = 'zzz'"
    assert(spark.sql(q0).head().getLong(0) == 0L)
    assert(planOf(q0).contains("LocalTableScan"))
    assert(spark.sql("SELECT * FROM lake.db.t_consume WHERE seg = 'zzz'").count() == 0L)
    // OR of two identity values: per file each disjunct is All or
    // None_, so the disjunction is exact — consumed, count metadata
    val qor = "SELECT count(*) AS n FROM lake.db.t_consume " +
      "WHERE seg = 's1' OR seg = 's4'"
    assert(spark.sql(qor).head().getLong(0) == 79L) // 39 (dv'd) + 40
    assert(planOf(qor).contains("LocalTableScan"),
      s"exact OR must stay metadata:\n${planOf(qor)}")
    // <> with the value outside every file's range: All everywhere
    // (null-gated), consumed
    val qne = "SELECT count(*) AS n FROM lake.db.t_consume WHERE v <> 500"
    assert(spark.sql(qne).head().getLong(0) == 199L)
    assert(planOf(qne).contains("LocalTableScan"),
      s"out-of-range <> is exact on every file:\n${planOf(qne)}")
  }

  test("reported output ordering: sortBy scans elide local sorts; MOR inserts drop the claim until compact") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_ordered (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('sortBy' = 'k', 'mode' = 'mor')""".stripMargin)
    // adversarial input order: the WRITE path must enforce the sort
    spark.range(0, 100).select((($"id" * 37L) % 100L).as("k"), $"id".as("v"))
      .repartition(3).writeTo("lake.db.t_ordered").append()
    def localSorts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec if !s.global => s
      }.size
    val sorted = spark.table("lake.db.t_ordered").sortWithinPartitions($"k")
    assert(localSorts(sorted) == 0,
      s"scan reports sortBy ordering — the local sort is redundant:\n${sorted.queryExecution.executedPlan}")
    // per-partition ordering is REAL: rows within every partition ascend
    val perPart = spark.table("lake.db.t_ordered")
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSeq))
      .collect()
    assert(perPart.forall(ks => ks == ks.sorted), "files must actually be sorted")
    // a MOR UPDATE writes an UNSORTED delta-insert file: the claim drops
    spark.sql("UPDATE lake.db.t_ordered SET v = v + 1000 WHERE k = 5")
    val afterUpd = spark.table("lake.db.t_ordered").sortWithinPartitions($"k")
    assert(localSorts(afterUpd) == 1,
      "an unsorted MOR insert file must drop the ordering claim")
    // compaction restores the declared layout — and the claim
    spark.sql("CALL lake.system.compact('db.t_ordered', 2)").collect()
    val afterCompact = spark.table("lake.db.t_ordered").sortWithinPartitions($"k")
    assert(localSorts(afterCompact) == 0,
      "compact re-sorts; the scan reports ordering again")
    assert(spark.table("lake.db.t_ordered").where($"k" === 5L).head().getLong(1) >= 1000L)
    assert(spark.table("lake.db.t_ordered").count() == 100L)
  }

  test("CTAS honors the declared layout: staged files land sorted, ordering reported from v0") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_ctas_sorted TBLPROPERTIES ('sortBy' = 'k')
        |AS SELECT (id * 37) % 100 AS k, id AS v FROM range(100)""".stripMargin)
    val perPart = spark.table("lake.db.t_ctas_sorted")
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSeq))
      .collect()
    assert(perPart.forall(ks => ks == ks.sorted),
      "the staged CTAS write must enforce sortBy like any other write")
    val df = spark.table("lake.db.t_ctas_sorted").sortWithinPartitions($"k")
    val sorts = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec if !s.global => s
    }.size
    assert(sorts == 0, s"CTAS files carry the layout claim:\n${df.queryExecution.executedPlan}")
    assert(spark.table("lake.db.t_ctas_sorted").count() == 100L)
  }

  test("grouped metadata aggregates: GROUP BY identity partition answers from the log") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_gmeta (k BIGINT, seg STRING, v BIGINT)
        |PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    spark.range(0, 200)
      .select($"id".as("k"), concat(lit("s"), $"id" % 5).as("seg"), ($"id" * 2L).as("v"))
      .writeTo("lake.db.t_gmeta").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    val q = "SELECT seg, count(*) AS n, min(k) AS lo, max(k) AS hi " +
      "FROM lake.db.t_gmeta GROUP BY seg ORDER BY seg"
    val rows = spark.sql(q).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      (0 until 5).map(i => (s"s$i", 40L, i.toLong, (195 + i).toLong)))
    assert(planOf(q).contains("LocalTableScan") && !planOf(q).contains("BatchScan"),
      s"per-partition aggregates are |groups| log lookups, zero tasks:\n${planOf(q)}")
    // consumed filter + grouping compose
    val qf = "SELECT seg, count(*) AS n FROM lake.db.t_gmeta " +
      "WHERE seg IN ('s1', 's2') GROUP BY seg ORDER BY seg"
    assert(spark.sql(qf).collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("s1", 40L), ("s2", 40L)))
    assert(planOf(qf).contains("LocalTableScan"))
    // a dv in one group: counts stay metadata, min falls back
    spark.sql("DELETE FROM lake.db.t_gmeta WHERE k = 11")
    val qc = "SELECT seg, count(*) AS n FROM lake.db.t_gmeta GROUP BY seg ORDER BY seg"
    assert(spark.sql(qc).collect().map(_.getLong(1)).toSeq == Seq(40L, 39L, 40L, 40L, 40L))
    assert(planOf(qc).contains("LocalTableScan"))
    val qm = "SELECT seg, min(k) AS lo FROM lake.db.t_gmeta GROUP BY seg ORDER BY seg"
    assert(spark.sql(qm).collect().map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(planOf(qm).contains("BatchScan"),
      "a dv'd group forbids stats min — the whole aggregate reads data")
    // grouping by a non-partition column always reads data
    assert(planOf("SELECT v, count(*) FROM lake.db.t_gmeta GROUP BY v")
      .contains("BatchScan"))
  }

  test("__partitions census: per-tuple rows/dv/live/bytes from the log") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_parts_census (k BIGINT, seg STRING)
        |PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    spark.range(0, 200)
      .select($"id".as("k"), concat(lit("s"), $"id" % 5).as("seg"))
      .writeTo("lake.db.t_parts_census").append()
    spark.sql("DELETE FROM lake.db.t_parts_census WHERE k = 7") // seg s2
    val rows = spark.sql(
      """SELECT `partition`, n_files, `rows`, dv_rows, live_rows, bytes
        |FROM lake.db.t_parts_census__partitions ORDER BY `partition`""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq ==
      (0 until 5).map(i => (s"seg=s$i", 1, 40L, if (i == 2) 1L else 0L,
        if (i == 2) 39L else 40L)))
    assert(rows.forall(_.getLong(5) > 0L), "recorded file bytes ride the census")
    // unpartitioned: one null-partition row with the table totals
    spark.sql("CREATE TABLE lake.db.t_noparts (k BIGINT)")
    spark.range(0, 30).select($"id".as("k")).coalesce(2)
      .writeTo("lake.db.t_noparts").append()
    val np = spark.sql(
      "SELECT `partition`, n_files, live_rows FROM lake.db.t_noparts__partitions")
      .collect()
    assert(np.length == 1 && np(0).isNullAt(0) && np(0).getInt(1) == 2 &&
      np(0).getLong(2) == 30L)
  }

  test("SHOW PARTITIONS / DROP PARTITION / TRUNCATE PARTITION: data-derived, metadata-only") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_pmgmt (k BIGINT, seg STRING)
        |PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    spark.range(0, 200)
      .select($"id".as("k"), concat(lit("s"), $"id" % 5).as("seg"))
      .writeTo("lake.db.t_pmgmt").append()
    assert(spark.sql("SHOW PARTITIONS lake.db.t_pmgmt")
      .collect().map(_.getString(0)).toSeq == (0 until 5).map(i => s"seg=s$i"))
    // DROP PARTITION: one metadata commit, zero rows read, other
    // partitions' files keep their paths
    val pathsBefore = LakeLog.currentSnapshot(tableDir("t_pmgmt")).get
      .files.filterNot(_.part.contains(Some("s2"))).map(_.path).toSet
    spark.sql("ALTER TABLE lake.db.t_pmgmt DROP PARTITION (seg = 's2')")
    assert(spark.table("lake.db.t_pmgmt").count() == 160L)
    assert(spark.sql("SHOW PARTITIONS lake.db.t_pmgmt").count() == 4L)
    assert(LakeLog.currentSnapshot(tableDir("t_pmgmt")).get
      .files.map(_.path).toSet == pathsBefore, "survivors keep their paths")
    // a dv'd partition drops whole (dv'd entry included)
    spark.sql("DELETE FROM lake.db.t_pmgmt WHERE k = 11") // seg s1
    spark.sql("TRUNCATE TABLE lake.db.t_pmgmt PARTITION (seg = 's1')")
    assert(spark.table("lake.db.t_pmgmt").count() == 120L)
    assert(spark.sql("SHOW PARTITIONS lake.db.t_pmgmt").count() == 3L)
    // partial SHOW with a value filter
    assert(spark.sql("SHOW PARTITIONS lake.db.t_pmgmt PARTITION (seg = 's3')")
      .collect().map(_.getString(0)).toSeq == Seq("seg=s3"))
    // dropping a partition that does not exist raises
    intercept[Exception] {
      spark.sql("ALTER TABLE lake.db.t_pmgmt DROP PARTITION (seg = 'zzz')")
    }
  }

  test("SHOW PARTITIONS and __partitions report transform tuples Iceberg-style") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_pmtr (ts BIGINT, seg STRING, v BIGINT)
      |PARTITIONED BY (seg, trunc(100, ts))""".stripMargin)
    spark.range(0, 200)
      .select($"id".as("ts"), concat(lit("g"), $"id" % 2).as("seg"),
        ($"id" * 3L).as("v"))
      .writeTo("lake.db.t_pmtr").append()
    // SHOW PARTITIONS: the trunc component reports as the transform,
    // never as a bare (and wrong) source-column value
    val shown = spark.sql("SHOW PARTITIONS lake.db.t_pmtr")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(shown == Seq(
      "seg=g0/trunc(100,ts)=0", "seg=g0/trunc(100,ts)=1",
      "seg=g1/trunc(100,ts)=0", "seg=g1/trunc(100,ts)=1"), s"got $shown")
    // partial filter on the identity component still works
    assert(spark.sql("SHOW PARTITIONS lake.db.t_pmtr PARTITION (seg = 'g0')")
      .count() == 2L)
    // the __partitions census labels identically and counts from the log
    val census = spark.table("lake.db.t_pmtr__partitions")
      .select($"partition", $"live_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census.keySet == shown.toSet, s"got ${census.keySet}")
    assert(census.values.sum == 200L && census.values.forall(_ == 50L))
    // bucket transforms label the same way
    spark.sql("""CREATE TABLE lake.db.t_pmbk (k BIGINT, v BIGINT)
      |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.range(0, 40).select($"id".as("k"), $"id".as("v"))
      .writeTo("lake.db.t_pmbk").append()
    val bshown = spark.sql("SHOW PARTITIONS lake.db.t_pmbk")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(bshown == (0 until 4).map(i => s"bucket(4,k)=$i"), s"got $bshown")
  }

  test("pushed LIMIT plans a file prefix covered by live row counts") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_limit (k BIGINT, s STRING)
        |TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    for (i <- 0 until 4)
      spark.range(i * 50L, (i + 1) * 50L)
        .select($"id".as("k"), concat(lit("f"), lit(i)).as("s"))
        .coalesce(1).writeTo("lake.db.t_limit").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    val q1 = "SELECT * FROM lake.db.t_limit LIMIT 10"
    assert(spark.sql(q1).count() == 10L)
    assert(planOf(q1).contains("files=1/4"),
      s"LIMIT 10 needs one 50-row file:\n${planOf(q1)}")
    val q2 = "SELECT * FROM lake.db.t_limit LIMIT 120"
    assert(spark.sql(q2).count() == 120L)
    assert(planOf(q2).contains("files=3/4"),
      s"LIMIT 120 needs three files:\n${planOf(q2)}")
    // a residual filter blocks the limit push — all files stay planned
    val q3 = "SELECT * FROM lake.db.t_limit WHERE k >= 25 LIMIT 10"
    assert(spark.sql(q3).count() == 10L)
    assert(planOf(q3).contains("files=4/4") || planOf(q3).contains("files=3/4"),
      s"residual filter: no limit prefix (stats may still prune):\n${planOf(q3)}")
    // a dv shrinks a file's contribution: the prefix must cover with
    // LIVE rows, not raw rows. The dv'd entry re-appends in the log,
    // so append one more file after it — the dv'd file sits mid-prefix
    // and raw-row accounting would under-deliver by one row
    spark.sql("DELETE FROM lake.db.t_limit WHERE k = 3")
    spark.range(200, 250).select($"id".as("k"), lit("f4").as("s"))
      .coalesce(1).writeTo("lake.db.t_limit").append()
    val q4 = "SELECT * FROM lake.db.t_limit LIMIT 200" // live total 249
    assert(spark.sql(q4).count() == 200L,
      "raw-row prefix accounting would deliver only 199")
    assert(planOf(q4).contains("files=5/5"),
      s"199 live rows in the first four entries — the prefix needs all five:\n${planOf(q4)}")
    val q5 = "SELECT * FROM lake.db.t_limit LIMIT 150"
    assert(spark.sql(q5).count() == 150L)
    assert(planOf(q5).contains("files=3/5"), s"3×50 live rows suffice:\n${planOf(q5)}")
  }

  test("bloomBy point lookups prune files stats ranges cannot") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_bloom (k BIGINT, s STRING, v BIGINT)
        |TBLPROPERTIES ('bloomBy' = 'k')""".stripMargin)
    // four files with fully-OVERLAPPING key ranges (k ≡ i mod 8 per
    // file, i < 4 — residues 4..7 exist nowhere): min/max stats prune
    // nothing in-range, only the bloom can
    for (i <- 0 until 4)
      spark.range(0, 250)
        .select(($"id" * 8L + i).as("k"), concat(lit("s"), $"id" * 8L + i).as("s"),
          ($"id" + i).as("v"))
        .coalesce(1).writeTo("lake.db.t_bloom").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    // k = 17 ≡ 1 mod 8 → lives in file 1 only; stats keep 4/4
    val q1 = "SELECT s FROM lake.db.t_bloom WHERE k = 17"
    assert(spark.sql(q1).collect().map(_.getString(0)).toSeq == Seq("s17"))
    assert(planOf(q1).contains("files=1/4"),
      s"bloom must prune to the one containing file:\n${planOf(q1)}")
    // IN across two residues → exactly two files; v = (k - k%8)/8 + k%8
    val q2 = "SELECT sum(v) AS sv FROM lake.db.t_bloom WHERE k IN (2, 11)"
    assert(spark.sql(q2).head().getLong(0) == 6L) // v(2)=2, v(11)=4
    assert(planOf(q2).contains("files=2/4"), s"two residues → two files:\n${planOf(q2)}")
    // an IN-RANGE key nobody holds (residue 5): stats keep every file,
    // every bloom excludes it → zero files planned
    val q3 = "SELECT count(*) AS n FROM lake.db.t_bloom WHERE k = 5"
    assert(spark.sql(q3).head().getLong(0) == 0L)
    assert(planOf(q3).contains("files=0/4"), s"absent key → no files:\n${planOf(q3)}")
    // predicates off the bloom column prune nothing
    assert(planOf("SELECT * FROM lake.db.t_bloom WHERE v = 3").contains("files=4/4"))
    // files written BEFORE a bloomBy change carry no bloom for the new
    // column — no bloom means MAYBE, never a wrong prune
    spark.sql("ALTER TABLE lake.db.t_bloom SET TBLPROPERTIES ('bloomBy' = 'v')")
    val q5 = "SELECT count(*) AS n FROM lake.db.t_bloom WHERE v = 3"
    assert(spark.sql(q5).head().getLong(0) == 4L) // v=3 ← (id,i) ∈ {(0,3),(1,2),(2,1),(3,0)}
    assert(planOf(q5).contains("files=4/4"), s"bloom-less files must stay:\n${planOf(q5)}")
  }

  test("bloomBy on a STRING column probes the parquet BINARY hash") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_bloom_s (s STRING, v BIGINT)
        |TBLPROPERTIES ('bloomBy' = 's')""".stripMargin)
    for (i <- 0 until 3)
      spark.range(0, 200)
        .select(concat(lit("user-"), $"id" * 3L + i).as("s"), ($"id" + i).as("v"))
        .coalesce(1).writeTo("lake.db.t_bloom_s").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    val q = "SELECT v FROM lake.db.t_bloom_s WHERE s = 'user-301'" // 301 ≡ 1 mod 3
    assert(spark.sql(q).head().getLong(0) == 101L) // id=100, i=1
    assert(planOf(q).contains("files=1/3"),
      s"string bloom must prune to the containing file:\n${planOf(q)}")
    assert(planOf("SELECT * FROM lake.db.t_bloom_s WHERE s = 'nobody'")
      .contains("files=0/3"))
  }

  test("writer-recorded blooms prune at plan time with ZERO data-file opens") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_bloomlog (k BIGINT, s STRING)
        |TBLPROPERTIES ('bloomBy' = 'k')""".stripMargin)
    for (i <- 0 until 4)
      spark.range(0, 300)
        .select(($"id" * 8L + i).as("k"), concat(lit("x"), $"id" * 8L + i).as("s"))
        .coalesce(1).writeTo("lake.db.t_bloomlog").append()
    // the writer recorded a bloom SIDECAR per file: the log entry
    // carries only the column order, the bitsets live in <path>.bloom
    val snap = LakeLog.currentSnapshot(tableDir("t_bloomlog")).get
    assert(snap.files.size == 4 && snap.files.forall(_.bloomSc.contains("k")),
      "every writer-produced file records its bloom sidecar columns")
    assert(snap.files.forall(f =>
      Files.size(tableDir("t_bloomlog").resolve(f.path + ".bloom")) == 8192L),
      "one fixed 8 KB slot per bloom column")
    // plan + execute point lookups: pruning decisions identical to the
    // footer path, with zero plan-time data-file (footer) opens — the
    // sidecar pread touches 8 KB, never the data file
    val probes0 = graft.sources.LakeParquet.bloomFooterProbes.get()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    val q1 = "SELECT s FROM lake.db.t_bloomlog WHERE k = 17"
    assert(spark.sql(q1).collect().map(_.getString(0)).toSeq == Seq("x17"))
    assert(planOf(q1).contains("files=1/4"), s"log bloom must prune:\n${planOf(q1)}")
    assert(planOf("SELECT * FROM lake.db.t_bloomlog WHERE k = 5").contains("files=0/4"))
    assert(graft.sources.LakeParquet.bloomFooterProbes.get() == probes0,
      "log-recorded blooms must answer planning without opening any data file")
  }

  test("bloomBy accepts a column LIST: each column probes its own blooms, conjunctions intersect") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_bloom2 (a BIGINT, b STRING, v BIGINT)
        |TBLPROPERTIES ('bloomBy' = 'a, b')""".stripMargin)
    // a ≡ i mod 3 per file; b cycles over 3 labels SHIFTED per file so
    // (a-residue, b-label) pairs separate files a alone cannot
    for (i <- 0 until 3)
      spark.range(0, 100)
        .select(($"id" * 3L + i).as("a"),
          concat(lit("w"), ($"id" + i) % 3).as("b"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_bloom2").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    // each column prunes alone
    assert(planOf("SELECT * FROM lake.db.t_bloom2 WHERE a = 7").contains("files=1/3"))
    assert(spark.sql("SELECT v FROM lake.db.t_bloom2 WHERE a = 7").head().getLong(0) == 2L)
    // b's values appear in every file — b alone keeps all, but the
    // conjunction with a still narrows through a's bloom
    assert(planOf("SELECT * FROM lake.db.t_bloom2 WHERE b = 'w0'").contains("files=3/3"))
    val qc = "SELECT count(*) AS n FROM lake.db.t_bloom2 WHERE a = 7 AND b = 'w0'"
    assert(spark.sql(qc).head().getLong(0) == 1L) // a=7 → id=2,i=1 → b=w0
    assert(planOf(qc).contains("files=1/3"), s"conjunction intersects:\n${planOf(qc)}")
  }

  test("CBO column statistics: min/max/nullCount from footer stats reach the optimizer") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_colstats (id BIGINT, v BIGINT, s STRING)")
    spark.range(0, 60).select($"id", when($"id" % 3 === 0, $"id" * 7L).as("v"),
      lit("x").as("s")).coalesce(1).writeTo("lake.db.t_colstats").append()
    spark.range(60, 100).select($"id", ($"id" * 7L).as("v"), lit("y").as("s"))
      .coalesce(1).writeTo("lake.db.t_colstats").append()
    val stats = spark.table("lake.db.t_colstats").queryExecution.optimizedPlan.stats
    def statOf(c: String) = stats.attributeStats.toSeq
      .find(_._1.name == c).map(_._2)
      .getOrElse(fail(s"no column stats for $c in ${stats.attributeStats}"))
    val id = statOf("id")
    assert(id.min.contains(0L) && id.max.contains(99L) && id.nullCount.contains(BigInt(0)))
    val v = statOf("v")
    // file 1: ids 0..59, non-null at multiples of 3 → 20 non-null, 40 null
    assert(v.nullCount.contains(BigInt(40)) && v.min.contains(0L) && v.max.contains(693L))
    // strings carry null counts but no integral min/max
    val s = statOf("s")
    assert(s.nullCount.contains(BigInt(0)) && s.min.isEmpty && s.max.isEmpty)
  }

  test("concurrent appends: 8 racing writers all land, no version lost, rows exact") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_race8 (id BIGINT, v BIGINT, s STRING)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until 8).map { w =>
      scala.concurrent.Future {
        spark.range(w * 100L, (w + 1) * 100L)
          .select($"id", ($"id" * 2L).as("v"), lit(s"w$w").as("s"))
          .coalesce(1)
          .writeTo("lake.db.t_race8").append()
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    // every append retried past its losses: 8 committed versions, 800 rows, no dupes
    assert(LakeLog.currentSnapshot(tableDir("t_race8")).get.version == 8L)
    assert(spark.table("lake.db.t_race8").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 800L))
  }

  test("atomic CTAS/RTAS: staged writes publish one version; failures leave no trace") {
    // CTAS: one commit, data present
    spark.sql(
      """CREATE TABLE lake.db.t_ctas AS
        |SELECT id, id * 3 AS v, concat('c', id) AS s FROM range(50)""".stripMargin)
    assert(spark.table("lake.db.t_ctas").count() == 50L)
    assert(LakeLog.currentSnapshot(tableDir("t_ctas")).get.version == 0L,
      "CTAS must publish exactly ONE log version (v0 with data)")
    // failed CTAS: no table
    intercept[Exception](spark.sql(
      """CREATE TABLE lake.db.t_ctas_fail AS
        |SELECT id, CASE WHEN id = 7 THEN raise_error('boom') ELSE 'x' END AS s
        |FROM range(10)""".stripMargin))
    assert(!spark.catalog.tableExists("lake.db.t_ctas_fail"))
    assert(LakeLog.currentSnapshot(tableDir("t_ctas_fail")).isEmpty)
    // RTAS: new definition (different schema!), old versions still readable
    spark.sql(
      """REPLACE TABLE lake.db.t_ctas AS
        |SELECT id AS k, CAST(id AS DOUBLE) / 2 AS half FROM range(20)""".stripMargin)
    assert(spark.table("lake.db.t_ctas").columns.toSeq == Seq("k", "half"))
    assert(spark.table("lake.db.t_ctas").count() == 20L)
    assert(spark.sql("SELECT count(*) FROM lake.db.t_ctas VERSION AS OF 0")
      .head().getLong(0) == 50L, "pre-replace history must survive with its own schema")
    // failed RTAS: old content byte-identical
    val before = rows2(spark.table("lake.db.t_ctas"))
    intercept[Exception](spark.sql(
      """REPLACE TABLE lake.db.t_ctas AS
        |SELECT id AS k, CASE WHEN id = 3 THEN raise_error('kaboom')
        |  ELSE CAST(id AS DOUBLE) END AS half FROM range(9)""".stripMargin))
    assert(rows2(spark.table("lake.db.t_ctas")) == before,
      "a failed REPLACE must leave the old table untouched")
    // CREATE OR REPLACE on a missing table creates it
    spark.sql(
      "CREATE OR REPLACE TABLE lake.db.t_corr AS SELECT id FROM range(5)")
    assert(spark.table("lake.db.t_corr").count() == 5L)
  }

  private def rows2(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq

  test("merge-on-read: deletes land as delete vectors, zero data files rewritten") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_mor (id BIGINT, v BIGINT, s STRING)
        |TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    for (b <- 0 until 4)
      spark.range(b * 25L, (b + 1) * 25L)
        .select($"id", ($"id" * 10L).as("v"), lit(s"f$b").as("s"))
        .coalesce(1).writeTo("lake.db.t_mor").append()
    val dataBefore = filePaths("t_mor")
    // a partial delete: dv sidecar, same four data files
    spark.sql("DELETE FROM lake.db.t_mor WHERE s = 'f1' AND id < 30")
    val snap1 = LakeLog.currentSnapshot(tableDir("t_mor")).get
    assert(snap1.files.map(_.path).sorted == dataBefore,
      "MOR delete must not rewrite or drop any data file")
    assert(snap1.files.count(_.dv.isDefined) == 1 &&
      snap1.files.find(_.dv.isDefined).get.dvRows == 5L,
      s"one file gains a 5-position delete vector: ${snap1.files}")
    assert(rows("t_mor").map(_._1) == ((0L until 25L) ++ (30L until 100L)))
    // second delete on the SAME file unions into a fresh vector
    spark.sql("DELETE FROM lake.db.t_mor WHERE s = 'f1' AND id >= 45")
    val snap2 = LakeLog.currentSnapshot(tableDir("t_mor")).get
    assert(snap2.files.find(_.path == snap1.files.find(_.dv.isDefined).get.path)
      .get.dvRows == 10L, "vectors must union, not replace")
    assert(rows("t_mor").map(_._1) == ((0L until 25L) ++ (30L until 45L) ++ (50L until 100L)))
    // UPDATE = dv + insert file; no original file touched
    spark.sql("UPDATE lake.db.t_mor SET v = -1 WHERE id = 77")
    val snap3 = LakeLog.currentSnapshot(tableDir("t_mor")).get
    assert(dataBefore.forall(snap3.files.map(_.path).contains),
      "MOR update keeps every original data file")
    assert(snap3.files.size == 5, "the updated row lands in one new insert file")
    assert(rows("t_mor").find(_._1 == 77L).get == ((77L, -1L, "f3")))
    // metadata count honors the vectors; time travel predates them
    assert(spark.sql("SELECT count(*) FROM lake.db.t_mor").head().getLong(0) == 90L)
    assert(spark.sql("SELECT count(*) FROM lake.db.t_mor VERSION AS OF 4")
      .head().getLong(0) == 100L)
    // MERGE upserts through the same delta path
    Seq((5L, 555L, "m"), (300L, 3L, "m")).toDF("id", "v", "s")
      .createOrReplaceTempView("mor_src")
    spark.sql(
      """MERGE INTO lake.db.t_mor t USING mor_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (s.id, s.v, s.s)""".stripMargin)
    val got = rows("t_mor")
    assert(got.find(_._1 == 5L).get == ((5L, 555L, "f0")))
    assert(got.find(_._1 == 300L).get == ((300L, 3L, "m")))
    assert(got.size == 91)
    // compaction APPLIES the vectors: clean files, no dvs, rows identical
    spark.sql("CALL lake.system.compact('db.t_mor', 1)")
    val snapC = LakeLog.currentSnapshot(tableDir("t_mor")).get
    assert(snapC.files.size == 1 && snapC.files.forall(_.dv.isEmpty))
    assert(rows("t_mor") == got, "compaction must not change a row")
  }

  test("persistent views: catalog API round-trip (SQL view DDL is not v2-wired in 4.1)") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    val t = seeded("t_viewbase")
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[graft.sources.GraftLakeCatalog]
    val ident = Identifier.of(Array("db"), "v_big")
    val sql = s"SELECT s, count(*) AS n FROM lake.db.$t WHERE id >= 50 GROUP BY s"
    val schema = spark.sql(sql).schema
    cat.createView(new ViewInfo(ident, sql, "lake", Array("db"), schema,
      schema.fieldNames, Array.empty, Array.empty,
      java.util.Collections.singletonMap("comment", "per-source rollup")))
    // definition persists: a FRESH catalog instance over the same
    // warehouse loads it back verbatim
    val cat2 = new graft.sources.GraftLakeCatalog {
      initialize("lake", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", warehouse.toString)))
    }
    val v = cat2.loadView(ident)
    assert(v.query() == sql && v.currentCatalog() == "lake" &&
      v.schema() == schema && v.properties().get("comment") == "per-source rollup")
    // the stored text executes against the live table (the definition
    // is metadata, not a materialization)
    assert(spark.sql(v.query()).collect().map(_.getLong(1)).sum == 50L)
    assert(cat2.listViews("db").map(_.name).toSeq == Seq("v_big"))
    // rename + drop + duplicate rejection
    cat2.renameView(ident, Identifier.of(Array("db"), "v_renamed"))
    assert(!cat2.viewExists(ident) &&
      cat2.viewExists(Identifier.of(Array("db"), "v_renamed")))
    intercept[Exception](cat2.createView(new ViewInfo(
      Identifier.of(Array("db"), "v_renamed"), sql, "lake", Array("db"), schema,
      schema.fieldNames, Array.empty, Array.empty, java.util.Collections.emptyMap())))
    assert(cat2.dropView(Identifier.of(Array("db"), "v_renamed")))
    assert(cat2.listViews("db").isEmpty)
  }

  test("vectorized read: plain scans are columnar (ColumnarToRow), _pos scans row-based") {
    import spark.implicits._
    val t = seeded("t_columnar")
    val plain = spark.table(s"lake.db.$t").filter($"id" >= 30L)
    assert(plain.collect().map(_.getLong(0)).sorted.toSeq == (30L until 100L))
    assert(plain.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"a dv-free scan must ride the vectorized batch path:\n${plain.queryExecution.executedPlan}")
    // _file is a CONSTANT vector in the batch — still columnar
    val withFile = spark.table(s"lake.db.$t").select($"id", col("_file"))
    assert(withFile.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(withFile.collect().length == 100)
    // _pos needs per-row ordinals — row path
    val withPos = spark.table(s"lake.db.$t").select($"id", col("_pos"))
    assert(!withPos.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "_pos projections must take the row path")
    assert(withPos.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (0L until 100L).map(i => (i, i % 25)))
  }

  test("MOR deletes stay columnar: dv applied inside the batch, exec shape unchanged by DELETE") {
    import spark.implicits._
    // a 100-TB MOR table under continuous deletes must NOT fall off the
    // vectorized path the moment one file carries a delete vector
    spark.sql("CREATE TABLE lake.db.t_colmor (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.range(0, 50).select($"id", ($"id" * 2L).as("v"), lit("x").as("s"))
      .coalesce(1).writeTo("lake.db.t_colmor").append()
    def planOf() = spark.table("lake.db.t_colmor")
      .queryExecution.executedPlan.toString
    val before = planOf()
    assert(before.contains("ColumnarToRow"))
    spark.sql("DELETE FROM lake.db.t_colmor WHERE id % 5 = 0")
    val after = planOf()
    assert(after.contains("ColumnarToRow"),
      s"a delete-vectored file must stay on the columnar path:\n$after")
    assert(spark.table("lake.db.t_colmor").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 50L).filter(_ % 5 != 0))
    // a second delete grows the vector; batch-edge positions included
    spark.sql("DELETE FROM lake.db.t_colmor WHERE id >= 45 OR id = 1")
    val live = (0L until 50L).filter(i => i % 5 != 0 && i != 1 && i < 45)
    assert(spark.table("lake.db.t_colmor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      live.map(i => (i, i * 2L)))
    // aggregates over the selection view stay exact
    assert(spark.table("lake.db.t_colmor").agg(sum($"v")).head().getLong(0) ==
      live.map(_ * 2L).sum)
    assert(spark.table("lake.db.t_colmor").count() == live.size.toLong)
    // _pos over a dv'd file still takes the row path and skips deletes
    val withPos = spark.table("lake.db.t_colmor").select($"id", col("_pos"))
    assert(!withPos.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(withPos.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      live.map(i => (i, i)))
    // delete EVERY remaining row via the dv path (mid-string LIKE is
    // not stats-decidable — equality and prefix LIKE now ARE, and
    // would metadata-drop the file whole): the selection empties each
    // batch rather than dropping the file
    spark.sql("DELETE FROM lake.db.t_colmor WHERE s LIKE '%x%'")
    assert(filePaths("t_colmor").nonEmpty, "dv delete must keep the file")
    assert(spark.table("lake.db.t_colmor").count() == 0L)
    assert(spark.table("lake.db.t_colmor").collect().isEmpty)
  }

  test("type-widened files stay columnar: INT-era vectors upcast through the view") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_widecol (id BIGINT, n INT)")
    spark.range(0, 40)
      .select($"id", ($"id" % 7).cast("int").as("n"))
      .coalesce(1).writeTo("lake.db.t_widecol").append() // INT-era file
    spark.sql("ALTER TABLE lake.db.t_widecol ALTER COLUMN n TYPE BIGINT")
    spark.range(40, 50)
      .select($"id", ($"id" + 5000000000L).as("n"))
      .coalesce(1).writeTo("lake.db.t_widecol").append() // BIGINT-era file
    val df = spark.table("lake.db.t_widecol")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"mixed-era files must stay vectorized:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (0L until 40L).map(i => (i, i % 7)) ++
        (40L until 50L).map(i => (i, i + 5000000000L)))
    // widening + MOR delete composes: selection AND upcast in one view
    spark.sql("ALTER TABLE lake.db.t_widecol SET TBLPROPERTIES ('mode' = 'mor')")
    spark.sql("DELETE FROM lake.db.t_widecol WHERE id % 2 = 0")
    val df2 = spark.table("lake.db.t_widecol")
    assert(df2.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(df2.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (0L until 40L).filter(_ % 2 == 1).map(i => (i, i % 7)) ++
        (40L until 50L).filter(_ % 2 == 1).map(i => (i, i + 5000000000L)))
  }

  test("metadata delete refuses files whose predicate column holds NULLs") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_nullstats (id BIGINT, tag STRING)")
    // one file: ids 5..9 plus five NULL ids — range [5,9] fully inside
    // the predicate below, but the NULL rows do NOT match it
    spark.range(0, 10)
      .select(when($"id" >= 5, $"id").as("id"), concat(lit("t"), $"id").as("tag"))
      .coalesce(1).writeTo("lake.db.t_nullstats").append()
    val before = filePaths("t_nullstats")
    spark.sql("DELETE FROM lake.db.t_nullstats WHERE id >= 0")
    // the COW rewrite (not a whole-file drop) must have run: NULL rows survive
    val left = spark.table("lake.db.t_nullstats").collect()
    assert(left.length == 5 && left.forall(_.isNullAt(0)),
      s"rows with NULL id must survive a value-predicate delete, got ${left.length}")
    assert(!filePaths("t_nullstats").exists(before.contains),
      "the nulled file must be REWRITTEN (copy-on-write), not dropped from the log")
    // contrast: a null-free file with the same aligned predicate drops
    // metadata-only (original path gone, no replacement file written)
    spark.sql("CREATE TABLE lake.db.t_nonulls (id BIGINT, tag STRING)")
    spark.range(5, 10).select($"id", lit("x").as("tag"))
      .coalesce(1).writeTo("lake.db.t_nonulls").append()
    val dataFiles = Files.list(tableDir("t_nonulls").resolve("data")).count()
    spark.sql("DELETE FROM lake.db.t_nonulls WHERE id >= 0")
    assert(spark.table("lake.db.t_nonulls").count() == 0L)
    assert(Files.list(tableDir("t_nonulls").resolve("data")).count() == dataFiles,
      "null-free aligned delete must be metadata-only (no rewrite)")
    // IS NULL / IS NOT NULL decide straight off the footer null counts
    spark.sql("DELETE FROM lake.db.t_nullstats WHERE id IS NULL")
    assert(spark.table("lake.db.t_nullstats").count() == 0L)
  }

  test("vacuum age guard: unreferenced files newer than the head commit survive") {
    val t = seeded("t_vacguard")
    spark.sql(s"CALL lake.system.compact('db.$t', 1)")
    val dataDir = tableDir(t).resolve("data")
    // an in-flight writer's file: unreferenced, mtime AFTER the head commit
    val inflight = dataDir.resolve("inflight.parquet")
    Files.write(inflight, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(inflight,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val res = spark.sql(s"CALL lake.system.vacuum('db.$t', 1)").collect().head
    assert(res.getInt(0) == 4, s"the four pre-compaction files reclaim, got $res")
    assert(Files.exists(inflight),
      "a file newer than the head commit may belong to an in-flight write")
    assert(rows(t).size == 100)
    Files.delete(inflight)
  }

  test("large delete vector: sorted-array skip stays exact at 10k positions") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_bigdv (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.range(0, 30000).select($"id", ($"id" * 3L).as("v"), lit("z").as("s"))
      .coalesce(1).writeTo("lake.db.t_bigdv").append()
    spark.sql("DELETE FROM lake.db.t_bigdv WHERE id % 3 = 0")
    val snap = LakeLog.currentSnapshot(tableDir("t_bigdv")).get
    val f = snap.files.find(_.dv.isDefined).get
    assert(f.dvRows == 10000L)
    val dv = graft.sources.LakeDv.read(tableDir("t_bigdv"), f.dv.get)
    assert(dv.length == 10000 && dv.sameElements(dv.sorted.distinct),
      "vector must be stored sorted + deduplicated")
    assert(spark.table("lake.db.t_bigdv").count() == 20000L)
    assert(spark.table("lake.db.t_bigdv").agg(sum($"id")).head().getLong(0) ==
      (0L until 30000L).filter(_ % 3 != 0).sum)
    // union with a second delete stays exact
    spark.sql("DELETE FROM lake.db.t_bigdv WHERE id % 3 = 1")
    assert(spark.table("lake.db.t_bigdv").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 30000L).filter(_ % 3 == 2))
  }

  test("change feed planning ships dv paths, not positions: payload O(1) at 100k deletes") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_feedpayload (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.range(0, 300000).select($"id", ($"id" * 2L).as("v"), lit("z").as("s"))
      .coalesce(1).writeTo("lake.db.t_feedpayload").append() // v1
    spark.sql("DELETE FROM lake.db.t_feedpayload WHERE id % 3 != 0") // v2: 200k dv
    val dir = tableDir("t_feedpayload")
    val snap = LakeLog.currentSnapshot(dir).get
    val cols = graft.sources.LakeColIds.cols(snap.schema, snap.props)
    val parts = graft.sources.LakeChanges.partitionsFor(
      dir, cols, spark.table("lake.db.t_feedpayload__changes").schema,
      v = 2L, skipChangeCommits = false)
    assert(parts.nonEmpty)
    // a 200k-row delete must not embed its positions in the partition:
    // planning stays O(files) driver memory, tasks read the sidecars
    for (p <- parts) {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(p); oos.close()
      assert(bos.size() < 8192,
        s"partition payload must be O(1), got ${bos.size()} bytes for $p")
    }
    // and the task-side diff still yields the exact change rows
    val changes = spark.read.table("lake.db.t_feedpayload__changes")
      .where(col("_commit_version") === 2L)
    assert(changes.count() == 200000L)
    assert(changes.agg(sum($"id")).head().getLong(0) ==
      (0L until 300000L).filter(_ % 3 != 0).sum)
  }

  test("MOR commit rejects a concurrently moved delete vector (lost-update guard)") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_dvrace (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.range(0, 20).select($"id", $"id".as("v"), lit("a").as("s"))
      .coalesce(1).writeTo("lake.db.t_dvrace").append()
    val dir = tableDir("t_dvrace")
    val snap = LakeLog.currentSnapshot(dir).get
    val target = snap.files.head.path
    // an operation scans NOW (captures dv refs)...
    val op = new graft.sources.LakeDeltaOperation(dir, snap,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    val write = op.newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "race"
      override def schema(): org.apache.spark.sql.types.StructType = snap.schema
      override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())
    }).build().toBatch
    // ...a concurrent UPDATE lands first and moves the file's dv...
    spark.sql("UPDATE lake.db.t_dvrace SET v = -1 WHERE id = 3")
    // ...so this operation's commit against the SAME row id must fail,
    // not silently land a second insert for the row
    val err = intercept[IllegalArgumentException] {
      write.commit(Array(graft.sources.LakeDeltaMessage(
        Map(target -> Seq(3L)), Seq.empty)))
    }
    assert(err.getMessage.contains("delete vector"), err.getMessage)
    // content is exactly the first update's outcome
    assert(spark.table("lake.db.t_dvrace").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (0L until 20L).map(i => (i, if (i == 3L) -1L else i)))
  }

  test("delta log: commit payload is O(changed files); checkpoints bound replay") {
    import org.apache.spark.sql.types._
    import graft.sources.{LakeFile, LakeLog, LakeSnapshot}
    val dir = Files.createTempDirectory("lakelog").resolve("t")
    Files.createDirectories(dir.resolve("data"))
    val schema = StructType(Seq(StructField("id", LongType)))
    assert(LakeLog.commit(dir, -1L, LakeSnapshot(0L, schema, Seq.empty)))
    for (i <- 1 to 30) {
      val cur = LakeLog.currentSnapshot(dir).get
      assert(LakeLog.commit(dir, cur.version, cur.next(cur.files :+
        LakeFile(f"data/f$i%03d.parquet", i.toLong, Map("id" -> ((0L, i.toLong))),
          nulls = Map("id" -> 0L)))))
    }
    val head = LakeLog.currentSnapshot(dir).get
    assert(head.version == 30L && head.files.size == 30)
    // the newest commit references ONE added file, not the table
    val v30 = Files.readString(dir.resolve("_log").resolve("v00000030.json"))
    assert(!v30.contains("f001") && v30.contains("f030"))
    val sizes = (21 to 30).map(v =>
      Files.size(dir.resolve("_log").resolve(f"v$v%08d.json")))
    assert(sizes.max - sizes.min < 64,
      s"delta payload must not grow with table size: $sizes")
    // checkpoints land at the interval and anchor reconstruction
    assert(Files.exists(dir.resolve("_log").resolve("c00000010.json")))
    assert(Files.exists(dir.resolve("_log").resolve("c00000030.json")))
    // time travel below, at, and above a checkpoint
    assert(LakeLog.snapshotAt(dir, 7L).get.files.size == 7)
    assert(LakeLog.snapshotAt(dir, 10L).get.files.size == 10)
    assert(LakeLog.snapshotAt(dir, 25L).get.files.map(_.path)
      .contains("data/f025.parquet"))
    // a changed entry (dv move) rides as remove+add of that ONE entry
    val cur = LakeLog.currentSnapshot(dir).get
    val changed = cur.files.updated(0,
      cur.files.head.copy(dv = Some("data/dv-x.bin"), dvRows = 2L))
    assert(LakeLog.commit(dir, cur.version, cur.next(changed)))
    val v31 = Files.readString(dir.resolve("_log").resolve("v00000031.json"))
    assert(v31.contains("f001") && !v31.contains("f030"))
    val reread = LakeLog.currentSnapshot(dir).get
    assert(reread.files.size == 30 &&
      reread.files.find(_.path == "data/f001.parquet").get.dvRows == 2L)
  }

  test("schema evolution: add/rename/drop via field ids; old files null-fill and keep stats") {
    import spark.implicits._
    val t = seeded("t_evolve")
    // ADD: pre-evolution files read the new column as NULL
    spark.sql(s"ALTER TABLE lake.db.$t ADD COLUMNS (w BIGINT)")
    assert(spark.table(s"lake.db.$t").columns.toSeq == Seq("id", "v", "s", "w"))
    assert(spark.table(s"lake.db.$t").where($"w".isNull).count() == 100L)
    // new writes carry it
    spark.range(100L, 110L)
      .select($"id", ($"id" * 10L).as("v"), lit("f4").as("s"), ($"id" + 7L).as("w"))
      .coalesce(1).writeTo(s"lake.db.$t").append()
    assert(spark.table(s"lake.db.$t").agg(sum($"w")).head().getLong(0) ==
      (100L until 110L).map(_ + 7L).sum)
    // RENAME: id -> key; OLD files resolve through the field id (their
    // parquet column is still physically named "id")
    spark.sql(s"ALTER TABLE lake.db.$t RENAME COLUMN id TO key")
    assert(spark.table(s"lake.db.$t").agg(sum($"key")).head().getLong(0) ==
      (0L until 110L).sum)
    // stats skipping still bites post-rename (stats stored under "id")
    val skipped = spark.table(s"lake.db.$t").filter($"key" >= 100L)
    assert(skipped.collect().map(_.getLong(0)).sorted.toSeq == (100L until 110L))
    assert(skipped.queryExecution.executedPlan.toString.contains("files=1/5"),
      s"rename must not break stats skipping:\n${skipped.queryExecution.executedPlan}")
    // metadata-only delete decides `w IS NULL` entirely off null counts:
    // pre-evolution files drop whole, the f4 file survives untouched
    val dataFiles = Files.list(tableDir(t).resolve("data")).count()
    spark.sql(s"DELETE FROM lake.db.$t WHERE w IS NULL")
    assert(Files.list(tableDir(t).resolve("data")).count() == dataFiles,
      "IS NULL delete over evolved files must be metadata-only")
    assert(spark.table(s"lake.db.$t").collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 110L))
    // DROP: column gone from reads; dropped-name reuse gets a FRESH id
    spark.sql(s"ALTER TABLE lake.db.$t DROP COLUMN s")
    assert(spark.table(s"lake.db.$t").columns.toSeq == Seq("key", "v", "w"))
    spark.sql(s"ALTER TABLE lake.db.$t ADD COLUMNS (s STRING)")
    assert(spark.table(s"lake.db.$t").where($"s".isNull).count() == 10L,
      "a re-added name must NOT resurrect the dropped column's bytes")
    // time travel reads each version under ITS schema
    assert(spark.sql(s"SELECT * FROM lake.db.$t VERSION AS OF 4").columns.toSeq ==
      Seq("id", "v", "s"))
    assert(spark.sql(s"SELECT count(*) FROM lake.db.$t VERSION AS OF 4")
      .head().getLong(0) == 100L)
    // guardrails
    intercept[Exception](spark.sql(s"ALTER TABLE lake.db.$t ADD COLUMNS (v BIGINT)"))
    intercept[Exception](spark.sql(s"ALTER TABLE lake.db.$t RENAME COLUMN v TO w"))
  }

  test("compact_size: bin-packs only sub-target files, conforming files and partitions untouched") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_sizecomp (k BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('sortBy' = 'k')")
    // seg=a: one BIG file (50000 rows) + four small ones (50 each);
    // seg=b: one lone small file (nothing to merge with)
    spark.range(0, 50000)
      .select($"id".as("k"), lit("a").as("seg"), ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_sizecomp").append()
    for (b <- 0 until 4)
      spark.range(50000 + b * 50L, 50000 + (b + 1) * 50L)
        .select($"id".as("k"), lit("a").as("seg"), ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_sizecomp").append()
    spark.range(90000, 90050)
      .select($"id".as("k"), lit("b").as("seg"), ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_sizecomp").append()
    val dir = tableDir("t_sizecomp")
    val before = LakeLog.currentSnapshot(dir).get
    assert(before.files.size == 6 && before.files.forall(_.bytes > 0L),
      "the log records every file's byte size")
    val bigPath = before.files.maxBy(_.bytes).path
    val lonePath = before.files.find(f =>
      f.part == Seq(Some("b"))).get.path
    // target above the SUM of the small files (they pack into one bin)
    // but below the big one (which must be skipped as conforming)
    val smallSum = before.files.map(_.bytes).sorted.take(5).sum
    val target = smallSum + 4096L
    assert(target < before.files.map(_.bytes).max,
      "test setup: the big file must exceed the target")
    val res = spark.sql(
      s"CALL lake.system.compact_size('db.t_sizecomp', ${target}L)").head()
    assert(res.getInt(0) == 4 && res.getInt(1) == 2,
      s"4 candidates, 2 skipped (big + lone), got $res")
    assert(res.getInt(2) == 1, s"the four smalls pack into ONE bin, got $res")
    val after = LakeLog.currentSnapshot(dir).get
    assert(after.files.map(_.path).contains(bigPath),
      "the conforming big file must keep its path (not rewritten)")
    assert(after.files.map(_.path).contains(lonePath),
      "a lone small file has nothing to merge with — untouched")
    assert(after.files.size < before.files.size)
    // merged output preserved the declared sortBy ordering per file
    val merged = after.files.filterNot(f =>
      before.files.map(_.path).contains(f.path))
    assert(merged.nonEmpty && merged.forall(_.part == Seq(Some("a"))))
    for (f <- merged) {
      val ids = spark.read.parquet(dir.resolve(f.path).toString)
        .select("k").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"merged file ${f.path} must be sorted by k")
    }
    // content exact
    assert(spark.table("lake.db.t_sizecomp").collect()
      .map(_.getLong(0)).sorted.toSeq ==
      ((0L until 50200L) ++ (90000L until 90050L)))
    // the rewrite read ONLY its candidates: a second call is a no-op
    val res2 = spark.sql(
      s"CALL lake.system.compact_size('db.t_sizecomp', ${target}L)").head()
    assert(res2.getInt(0) == 0 && res2.getInt(2) == 0,
      s"already-compacted table must be a planning no-op, got $res2")
    // static _file pruning underlies the partial read: a _file filter
    // plans exactly one file
    val probe = spark.table("lake.db.t_sizecomp")
      .where(col("_file") === bigPath)
    assert(probe.queryExecution.executedPlan.toString.contains("files=1/"),
      s"_file equality must prune statically:\n${probe.queryExecution.executedPlan}")
    assert(probe.count() == 50000L)
  }

  test("change feed: __changes derives per-version CDC; stream resumes from the committed version") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_feed (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.range(0, 50).select($"id", ($"id" * 10L).as("v"), lit("a").as("s"))
      .coalesce(1).writeTo("lake.db.t_feed").append() // v1
    spark.sql("UPDATE lake.db.t_feed SET v = -1 WHERE id % 10 = 0") // v2: 5 del + 5 ins
    spark.sql("DELETE FROM lake.db.t_feed WHERE id >= 40") // v3: dv deletes on 2 files
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(4), r.getString(3), r.getLong(0), r.getLong(1))
    val batchFeed = spark.read.table("lake.db.t_feed__changes")
      .select($"id", $"v", $"s", col("_change_type"), col("_commit_version"))
    val rowsAll = batchFeed.collect().map(key).sorted.toSeq
    val v1 = (0L until 50L).map(i => (1L, "insert", i, i * 10L))
    val v2 = (0L until 50L by 10L).flatMap(i =>
      Seq((2L, "delete", i, i * 10L), (2L, "insert", i, -1L)))
    val v3 = ((41L until 50L).map(i => (3L, "delete", i, i * 10L)) :+
      ((3L, "delete", 40L, -1L)))
    assert(rowsAll == (v1 ++ v2 ++ v3).sorted,
      s"batch change feed must replay the exact mutation history")
    // STREAM the feed: one version per micro-batch, AvailableNow drains
    val out = Files.createTempDirectory("feed-out").toString
    val ckpt = Files.createTempDirectory("feed-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table("lake.db.t_feed__changes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val streamed1 = spark.read.parquet(out)
      .select($"id", $"v", $"s", col("_change_type"), col("_commit_version"))
      .collect().map(key).sorted.toSeq
    assert(streamed1 == rowsAll, "streamed feed must equal the batch feed")
    // a new commit, then RESUME from the same checkpoint: only v4 lands
    spark.sql("UPDATE lake.db.t_feed SET v = 777 WHERE id = 7") // v4
    drain()
    val streamed2 = spark.read.parquet(out).collect()
    assert(streamed2.length == rowsAll.size + 2,
      s"resume must process ONLY the new version (delete+insert), " +
        s"got ${streamed2.length} vs ${rowsAll.size} + 2")
    // COW rewrites are not representable: fail hard unless skipped
    val t2 = seeded("t_feedcow")
    spark.sql(s"UPDATE lake.db.$t2 SET v = 0 WHERE s = 'f1'") // COW rewrite
    val err = intercept[Exception](
      spark.read.table(s"lake.db.${t2}__changes").collect())
    assert(err.getMessage.contains("skipChangeCommits"), err.getMessage)
    val skipped = spark.read.option("skipChangeCommits", "true")
      .table(s"lake.db.${t2}__changes")
    assert(skipped.where(col("_commit_version") <= 4).count() == 100L,
      "with skipChangeCommits the appends still stream, rewrites skip")
  }

  test("change feed includes CTAS's version-0 data under the default startingVersion") {
    import spark.implicits._
    // CTAS commits its data files AT version 0 — a default that starts
    // the feed at version 1 silently omits the initial data
    spark.sql("CREATE TABLE lake.db.t_ctas_feed AS " +
      "SELECT id, id * 2 AS v FROM range(20)")
    val got = spark.read.table("lake.db.t_ctas_feed__changes")
      .select($"id", col("_change_type"), col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == (0L until 20L).map(i => (i, "insert", 0L)),
      s"the feed must replay the CTAS rows at version 0, got $got")
    // streaming the base table likewise tails from version 0
    val out = Files.createTempDirectory("ctas-tail-out").toString
    val ckpt = Files.createTempDirectory("ctas-tail-ckpt").toString
    val q = spark.readStream.table("lake.db.t_ctas_feed")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 20L), "the base-table tail must include the CTAS data")
  }

  test("compaction preserves the declared clusterBy/sortBy layout") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_complayout (id BIGINT, cat BIGINT, s STRING)
        |TBLPROPERTIES ('clusterBy' = 'cat', 'sortBy' = 'id')""".stripMargin)
    spark.range(0, 400)
      .select((lit(399L) - $"id").as("id"), ($"id" % 5).as("cat"),
        concat(lit("r"), $"id").as("s"))
      .repartition(7)
      .writeTo("lake.db.t_complayout").append()
    val before = spark.table("lake.db.t_complayout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    spark.sql("CALL lake.system.compact('db.t_complayout', 3)")
    // every cluster key still lands wholly in ONE file...
    val perCat = spark.table("lake.db.t_complayout")
      .select($"cat", col("_file"))
      .groupBy($"cat").agg(countDistinct(col("_file")).as("nf"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perCat.size == 5 && perCat.values.forall(_ == 1L),
      s"compaction must re-cluster, got $perCat")
    // ...rows stay id-sorted within each compacted file...
    spark.table("lake.db.t_complayout")
      .select(col("_file"), $"id").collect()
      .groupBy(_.getString(0)).values.foreach { rows =>
        val ids = rows.map(_.getLong(1)).toSeq
        assert(ids == ids.sorted, "compacted files must keep the sortBy order")
      }
    // ...and not a row moved
    assert(spark.table("lake.db.t_complayout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq == before)
  }

  test("TIMESTAMP AS OF resolves the newest commit at or before the instant") {
    val t = seeded("t_tstravel") // v0..v4, each a separate job
    val dir = tableDir(t)
    def cnt(expr: String): Long =
      spark.sql(s"SELECT count(*) FROM lake.db.$t TIMESTAMP AS OF $expr")
        .head().getLong(0)
    val ts2 = LakeLog.commitTimeMs(dir, 2L).get
    assert(cnt(s"timestamp_millis(${ts2})") == 50L,
      "the exact commit instant selects that commit")
    val ts4 = LakeLog.commitTimeMs(dir, 4L).get
    assert(cnt(s"timestamp_millis(${ts4 + 60000})") == 100L,
      "an instant after the head selects the head")
    val ts3 = LakeLog.commitTimeMs(dir, 3L).get
    if (ts3 > ts2) // mid-gap instants resolve DOWN to the older commit
      assert(cnt(s"timestamp_millis(${ts3 - 1})") == 50L)
    val ts0 = LakeLog.commitTimeMs(dir, 0L).get
    intercept[Exception](cnt(s"timestamp_millis(${ts0 - 60000})"))
  }

  test("CALL system.zorder: both dims' file stats tighten; content identical") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_zorder (x BIGINT, y BIGINT, v BIGINT)")
    // row-major grid: the initial files are y-slabs, so every file
    // spans the FULL x domain — an x predicate can skip nothing
    spark.range(0, 4096)
      .select(($"id" % 64).as("x"), ($"id" / 64).as("y"), $"id".as("v"))
      .coalesce(4)
      .writeTo("lake.db.t_zorder").append()
    val before = spark.table("lake.db.t_zorder")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      val desc = df.queryExecution.executedPlan.toString
      """files=(\d+)/""".r.findFirstMatchIn(desc).get.group(1).toInt
    }
    assert(plannedFiles(spark.table("lake.db.t_zorder").filter($"x" < 32)) == 4,
      "pre-zorder, x stats are file-wide: an x predicate skips nothing")
    val res = spark.sql("CALL lake.system.zorder('db.t_zorder', 'x', 'y', 4)")
      .collect().head
    assert(res.getInt(0) == 4 && res.getInt(1) == 4 && res.getLong(2) == 4096L)
    // content-neutral rewrite
    assert(spark.table("lake.db.t_zorder")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq == before)
    // a 2-dim range now prunes: with 4 files the deterministic curve
    // split makes each file exactly one quadrant — the quadrant query
    // reads ONE file
    val quadrant = spark.table("lake.db.t_zorder").filter($"x" < 32 && $"y" < 32)
    assert(plannedFiles(quadrant) == 1,
      s"z-order must tighten BOTH dims:\n${quadrant.queryExecution.executedPlan}")
    assert(quadrant.count() == 1024L)
    // single-dim ranges prune too (each quadrant file is x- AND y-narrow)
    assert(plannedFiles(spark.table("lake.db.t_zorder").filter($"x" >= 48)) == 2)
  }

  test("incremental zorder: second call after a narrow append rewrites only the interleaving files") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_incz (x BIGINT, y BIGINT, v BIGINT)")
    spark.range(0, 4096)
      .select(($"id" % 64).as("x"), ($"id" / 64).as("y"), $"id".as("v"))
      .coalesce(4)
      .writeTo("lake.db.t_incz").append()
    val res1 = spark.sql("CALL lake.system.zorder('db.t_incz', 'x', 'y', 4)")
      .collect().head
    assert(res1.getInt(0) == 4 && res1.getInt(1) == 4 && res1.getLong(2) == 4096L)
    val clustered = filePaths("t_incz")
    // idempotence: with every file owning a disjoint curve range, a
    // re-call is a metadata-only no-op — zero candidates, zero writes
    val res2 = spark.sql("CALL lake.system.zorder('db.t_incz', 'x', 'y', 4)")
      .collect().head
    assert(res2.getInt(0) == 0 && res2.getInt(1) == 0 && res2.getLong(2) == 0L,
      s"a clustered table must not rewrite: $res2")
    assert(filePaths("t_incz") == clustered)
    // a NARROW append (one quadrant's corner) interleaves with exactly
    // one clustered file — the rewrite must touch that file + the new
    // one and leave the other three quadrants' paths alone
    spark.range(0, 16)
      .select(($"id" % 4).as("x"), ($"id" / 4).as("y"), ($"id" + 10000L).as("v"))
      .coalesce(1)
      .writeTo("lake.db.t_incz").append()
    val before = spark.table("lake.db.t_incz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val withAppend = filePaths("t_incz")
    val res3 = spark.sql("CALL lake.system.zorder('db.t_incz', 'x', 'y', 4)")
      .collect().head
    assert(res3.getInt(0) == 2,
      s"exactly the dirty quadrant + the append are candidates: $res3")
    val after = filePaths("t_incz")
    val untouched = clustered.filter(after.contains)
    assert(untouched.size == 3,
      s"three conforming quadrants keep their paths: clustered=$clustered after=$after")
    assert(!after.exists(withAppend.diff(clustered).contains),
      "the appended file must be consumed by the rewrite")
    // content-neutral, and the table stays fully clustered (a further
    // call is again a no-op)
    assert(spark.table("lake.db.t_incz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq == before)
    val res4 = spark.sql("CALL lake.system.zorder('db.t_incz', 'x', 'y', 4)")
      .collect().head
    assert(res4.getInt(0) == 0, s"re-clustered table must be conforming: $res4")
  }

  test("write-audit-publish: branch pins main, audit reads the branch head, publish flips atomically; tags pin vacuum") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_wap (id BIGINT, v BIGINT, s STRING)")
    spark.range(0, 50).select($"id", ($"id" * 10L).as("v"), lit("base").as("s"))
      .coalesce(1).writeTo("lake.db.t_wap").append() // v1
    // tag the audited-good state
    val tagRow = spark.sql("CALL lake.system.tag('db.t_wap', 'audited-v1', -1)")
      .collect().head
    assert(tagRow.getString(0) == "audited-v1" && tagRow.getLong(1) == 1L)
    // open the staging branch and land two commits "on" it
    val br = spark.sql("CALL lake.system.branch('db.t_wap', 'wap')").collect().head
    assert(br.getString(0) == "wap" && br.getLong(1) == 1L)
    spark.range(50, 80).select($"id", ($"id" * 10L).as("v"), lit("staged").as("s"))
      .coalesce(1).writeTo("lake.db.t_wap").append() // v2
    spark.range(80, 100).select($"id", ($"id" * 10L).as("v"), lit("staged").as("s"))
      .coalesce(1).writeTo("lake.db.t_wap").append() // v3
    // main (the default read) is UNCHANGED by branch commits
    assert(spark.table("lake.db.t_wap").count() == 50L,
      "plain reads must stay pinned while the branch is active")
    // a second branch is rejected while one is active
    val err = intercept[Exception](
      spark.sql("CALL lake.system.branch('db.t_wap', 'wap2')").collect())
    assert(err.getMessage.contains("already active"))
    // the AUDIT read: the branch resolves to the branch head
    assert(spark.sql("SELECT count(*) FROM lake.db.t_wap VERSION AS OF 'wap'")
      .head().getLong(0) == 100L)
    // the tag resolves to its pinned version
    assert(spark.sql("SELECT count(*) FROM lake.db.t_wap VERSION AS OF 'audited-v1'")
      .head().getLong(0) == 50L)
    // __refs census
    val refs = spark.table("lake.db.t_wap__refs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(refs == Seq(("audited-v1", "tag", 1L, 1L), ("main", "main", 1L, 1L),
      ("wap", "branch", 1L, 3L)), s"got $refs")
    // PUBLISH: one atomic flip — everything staged becomes the default
    val pub = spark.sql("CALL lake.system.publish('db.t_wap', 'wap')").collect().head
    assert(pub.getLong(0) == 3L)
    assert(spark.table("lake.db.t_wap").count() == 100L)
    assert(spark.table("lake.db.t_wap__refs").count() == 1L, "only the tag remains")
    // vacuum keeps the TAGGED version reconstructible even when the
    // retention window alone would prune it
    spark.range(100, 110).select($"id", $"id".as("v"), lit("tail").as("s"))
      .coalesce(1).writeTo("lake.db.t_wap").append() // v4
    spark.sql("CALL lake.system.vacuum('db.t_wap', 1)").collect()
    assert(spark.sql("SELECT count(*) FROM lake.db.t_wap VERSION AS OF 'audited-v1'")
      .head().getLong(0) == 50L,
      "a tagged version must survive vacuum")
    // dropping the tag releases the pin; the next vacuum prunes past it
    spark.sql("CALL lake.system.drop_ref('db.t_wap', 'audited-v1')").collect()
    spark.sql("CALL lake.system.vacuum('db.t_wap', 1)").collect()
    intercept[Exception](
      spark.sql("SELECT count(*) FROM lake.db.t_wap VERSION AS OF 1").collect())
  }

  test("write-audit-publish guards: tag cannot claim 'main'; STREAMING reads honor the pin") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_wapstream (id BIGINT, v BIGINT, s STRING)")
    spark.range(0, 30).select($"id", $"id".as("v"), lit("base").as("s"))
      .coalesce(1).writeTo("lake.db.t_wapstream").append() // v1
    // a TAG named 'main' would freeze the default view forever with no
    // publish to clear it — reserved
    val err = intercept[Exception](
      spark.sql("CALL lake.system.tag('db.t_wapstream', 'main', -1)").collect())
    assert(err.getMessage.contains("reserved"))
    assert(spark.table("lake.db.t_wapstream").count() == 30L)
    // open the staging branch; land an unaudited commit on it
    spark.sql("CALL lake.system.branch('db.t_wapstream', 'wap')").collect()
    spark.range(30, 50).select($"id", $"id".as("v"), lit("staged").as("s"))
      .coalesce(1).writeTo("lake.db.t_wapstream").append() // v2, staged
    val out = Files.createTempDirectory("wapstream-out").toString
    val ckpt = Files.createTempDirectory("wapstream-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.table("lake.db.t_wapstream")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the stream must NOT see the unaudited staged commit — the same
    // exposure batch pinning prevents (WAP's whole point)
    drain()
    assert(spark.read.parquet(out).count() == 30L,
      "a streaming read must stay pinned at main while the branch is active")
    // publish releases the pin; the SAME checkpoint fast-forwards to
    // the now-audited commits, exactly once
    spark.sql("CALL lake.system.publish('db.t_wapstream', 'wap')").collect()
    drain()
    assert(spark.read.parquet(out).count() == 50L,
      "publish must release the stream to the published head")
  }

  test("partitioned tables: file-per-tuple writes, string pruning, partition overwrite") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_part (k BIGINT, seg STRING, v BIGINT)
        |PARTITIONED BY (seg)""".stripMargin)
    spark.range(0, 200)
      .select($"id".as("k"), concat(lit("s"), $"id" % 5).as("seg"), ($"id" * 2L).as("v"))
      .repartition(7) // adversarial: round-robin input; distribution re-clusters
      .writeTo("lake.db.t_part").append()
    val snap = LakeLog.currentSnapshot(tableDir("t_part")).get
    // one file per partition value; tuples recorded in the log
    assert(snap.files.size == 5,
      s"five segments → five files, got ${snap.files.map(f => f.path -> f.part)}")
    assert(snap.files.flatMap(_.part.flatten).sorted ==
      (0 until 5).map(i => s"s$i"))
    // STRING partition equality prunes files (min/max stats can't —
    // they only cover integral columns; this is the tuple deciding)
    val one = spark.table("lake.db.t_part").filter($"seg" === "s3")
    assert(one.queryExecution.executedPlan.toString.contains("files=1/5"),
      s"identity-partition equality must prune:\n${one.queryExecution.executedPlan}")
    assert(one.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 200L).filter(_ % 5 == 3))
    // IN over partition values prunes to the named tuples
    val two = spark.table("lake.db.t_part").filter($"seg".isin("s0", "s4"))
    assert(two.queryExecution.executedPlan.toString.contains("files=2/5"))
    // whole-partition DELETE is metadata-only: no rewrite, files drop
    val dataFiles = Files.list(tableDir("t_part").resolve("data")).count()
    spark.sql("DELETE FROM lake.db.t_part WHERE seg = 's1'")
    assert(Files.list(tableDir("t_part").resolve("data")).count() == dataFiles,
      "partition-aligned delete must drop files from the log, not rewrite")
    assert(spark.table("lake.db.t_part").count() == 160L)
    // STATIC overwrite: replace exactly the predicate's partition
    spark.range(0, 10)
      .select($"id".as("k"), lit("s2").as("seg"), lit(-1L).as("v"))
      .writeTo("lake.db.t_part").overwrite($"seg" === "s2")
    assert(spark.table("lake.db.t_part").filter($"seg" === "s2").count() == 10L)
    assert(spark.table("lake.db.t_part").count() == 130L)
    // a misaligned overwrite boundary must abort, not split files
    intercept[Exception] {
      spark.range(0, 5).select($"id".as("k"), lit("s0").as("seg"), lit(0L).as("v"))
        .writeTo("lake.db.t_part").overwrite($"seg" === "s0" && $"k" < 3)
    }
    // DYNAMIC overwrite: exactly the partitions the new data touches
    spark.range(100, 104)
      .select($"id".as("k"), concat(lit("s"), $"id" % 2).as("seg"), lit(9L).as("v"))
      .writeTo("lake.db.t_part").overwritePartitions()
    val after = spark.table("lake.db.t_part")
    assert(after.filter($"seg" === "s0").count() == 2L, "s0 replaced by its 2 new rows")
    assert(after.filter($"seg" === "s2").count() == 10L, "untouched partitions survive")
    assert(after.filter($"seg" === "s3").count() == 40L)
  }

  test("bucket(n, col) partitioning: per-bucket files, equality pruning via the bucket function") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_bucketed (id BIGINT, payload STRING)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    spark.range(0, 100)
      .select($"id", concat(lit("p"), $"id").as("payload"))
      .coalesce(1)
      .writeTo("lake.db.t_bucketed").append()
    val snap = LakeLog.currentSnapshot(tableDir("t_bucketed")).get
    assert(snap.files.size == 4 &&
      snap.files.flatMap(_.part.flatten).sorted == Seq("0", "1", "2", "3"))
    // id = 10 lives in bucket 2 only: the scan re-evaluates the bucket
    // function against the literal and prunes the other three files
    val hit = spark.table("lake.db.t_bucketed").filter($"id" === 10L)
    assert(hit.queryExecution.executedPlan.toString.contains("files=1/4"),
      s"bucket pruning must bite:\n${hit.queryExecution.executedPlan}")
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("p10"))
  }

  test("bucket(n, stringCol) pruning: filter literal buckets like the write path") {
    import spark.implicits._
    // the V2 filter literal arrives as UTF8String while the writer
    // bucketed on java String — a representation-dependent hash would
    // prune the file that actually holds the value (silent data loss)
    spark.sql(
      """CREATE TABLE lake.db.t_bucketed_s (name STRING, v BIGINT)
        |PARTITIONED BY (bucket(4, name))""".stripMargin)
    val names = (0 until 40).map(i => s"user-$i")
    names.zipWithIndex.toDF("name", "v")
      .select($"name", $"v".cast("bigint").as("v"))
      .coalesce(1)
      .writeTo("lake.db.t_bucketed_s").append()
    val snap = LakeLog.currentSnapshot(tableDir("t_bucketed_s")).get
    assert(snap.files.size > 1, "40 names must spread over several buckets")
    for (probe <- Seq("user-0", "user-17", "user-39")) {
      val hit = spark.table("lake.db.t_bucketed_s").filter($"name" === probe)
      assert(hit.collect().map(_.getLong(1)).toSeq ==
        Seq(names.indexOf(probe).toLong),
        s"equality on $probe must return its row (bucket hash mismatch?)")
      val plan = hit.queryExecution.executedPlan.toString
      assert(plan.contains(s"files=1/${snap.files.size}"),
        s"equality on $probe must prune to the one matching bucket:\n$plan")
    }
    // IN-list over string buckets prunes to the union of their buckets
    val in2 = spark.table("lake.db.t_bucketed_s")
      .filter($"name".isin("user-3", "user-21"))
    assert(in2.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 21L))
  }

  test("storage-partitioned join: co-partitioned lake tables join with no shuffle") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_spj_fact (k BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg)")
    spark.sql("CREATE TABLE lake.db.t_spj_dim (seg STRING, factor BIGINT) " +
      "PARTITIONED BY (seg)")
    spark.range(0, 300)
      .select($"id".as("k"), concat(lit("g"), $"id" % 6).as("seg"), ($"id" * 3L).as("v"))
      .repartition(5)
      .writeTo("lake.db.t_spj_fact").append()
    spark.range(0, 6)
      .select(concat(lit("g"), $"id").as("seg"), ($"id" + 100L).as("factor"))
      .coalesce(1)
      .writeTo("lake.db.t_spj_dim").append()
    def joined() = spark.table("lake.db.t_spj_fact")
      .join(spark.table("lake.db.t_spj_dim"), "seg")
      .groupBy($"seg").agg(sum($"v" * $"factor").as("weighted"))
      .orderBy($"seg")
    val expected = joined().collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = joined()
      val joinPlan = df.queryExecution.sparkPlan.toString
      // the equi-join on the partition column aligns the reported key
      // groups — NO exchange anywhere under the join
      val joinIdx = joinPlan.indexOf("Join")
      assert(joinIdx >= 0 && !joinPlan.substring(joinIdx).contains("Exchange"),
        s"a co-partitioned join must not shuffle either side:\n$joinPlan")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == expected,
        "key-grouped execution must produce the shuffled plan's rows")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SPJ under runtime pruning: a broadcast dim filtering one side must not break key-grouped execution") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_spjr_fact (k BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg)")
    spark.sql("CREATE TABLE lake.db.t_spjr_dim (seg STRING, factor BIGINT) " +
      "PARTITIONED BY (seg)")
    spark.range(0, 300)
      .select($"id".as("k"), concat(lit("g"), $"id" % 6).as("seg"), ($"id" * 3L).as("v"))
      .repartition(5)
      .writeTo("lake.db.t_spjr_fact").append()
    spark.range(0, 6)
      .select(concat(lit("g"), $"id").as("seg"), ($"id" + 100L).as("factor"))
      .coalesce(1)
      .writeTo("lake.db.t_spjr_dim").append()
    // a HINTED broadcast dim whose selective filter sits on a
    // non-join-key column: runtime pruning may drop whole key groups
    // from the scans mid-SPJ — rows must come out right regardless
    val dim2 = broadcast(spark.range(0, 60)
      .select(concat(lit("g"), $"id" % 6).as("seg"), $"id".as("code"))
      .filter($"code" === 3L || $"code" === 10L)) // -> g3, g4
    def joined() = spark.table("lake.db.t_spjr_fact")
      .join(spark.table("lake.db.t_spjr_dim"), "seg")
      .join(dim2, "seg")
      .groupBy($"seg").agg(sum($"v" * $"factor").as("weighted"))
      .orderBy($"seg")
    val expected = joined().collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(expected.map(_._1) == Seq("g3", "g4"))
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(joined().collect().map(r => (r.getString(0), r.getLong(1))).toSeq == expected,
        "key-grouped execution under runtime filters must produce the plain plan's rows")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join over bucket(n, col): FunctionCatalog resolves the transform, no shuffle") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_spjb_fact (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE lake.db.t_spjb_dim (k BIGINT, factor BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.range(0, 500)
      .select(($"id" % 40L).as("k"), ($"id" * 3L).as("v"))
      .repartition(4)
      .writeTo("lake.db.t_spjb_fact").append()
    spark.range(0, 40)
      .select($"id".as("k"), ($"id" + 100L).as("factor"))
      .coalesce(1)
      .writeTo("lake.db.t_spjb_dim").append()
    def joined() = spark.table("lake.db.t_spjb_fact")
      .join(spark.table("lake.db.t_spjb_dim"), "k")
      .groupBy($"k").agg(sum($"v" * $"factor").as("weighted"))
      .orderBy($"k")
    val expected = joined().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = joined()
      val joinPlan = df.queryExecution.sparkPlan.toString
      val joinIdx = joinPlan.indexOf("Join")
      assert(joinIdx >= 0 && !joinPlan.substring(joinIdx).contains("Exchange"),
        s"bucket-co-partitioned tables must join with no shuffle:\n$joinPlan")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expected,
        "key-grouped execution must produce the shuffled plan's rows")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("trunc(n, col) time buckets: bounded files, tuple pruning, dynamic overwrite, shuffle-free SPJ") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_trunc (ts BIGINT, v BIGINT) " +
      "PARTITIONED BY (trunc(100, ts))")
    // 1000 distinct timestamps land as 10 bucket files, not 1000
    // identity partitions — THE reason a time column takes trunc
    spark.range(0, 1000).select($"id".as("ts"), ($"id" * 2L).as("v"))
      .repartition(1).writeTo("lake.db.t_trunc").append()
    val snap0 = LakeLog.currentSnapshot(tableDir("t_trunc")).get
    assert(snap0.files.size == 10 &&
      snap0.files.map(_.part.head).toSet == (0 until 10).map(i => Some(i.toString)).toSet)
    // negative timestamps: floorDiv semantics (-50 -> bucket -1)
    spark.range(0, 100).select(($"id" - 100L).as("ts"), lit(-1L).as("v"))
      .repartition(1).writeTo("lake.db.t_trunc").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    val qe = "SELECT v FROM lake.db.t_trunc WHERE ts = 250"
    assert(spark.sql(qe).head().getLong(0) == 500L)
    assert(planOf(qe).contains("files=1/11"), s"tuple eq pruning:\n${planOf(qe)}")
    val qn = "SELECT v FROM lake.db.t_trunc WHERE ts = -50"
    assert(spark.sql(qn).head().getLong(0) == -1L)
    assert(planOf(qn).contains("files=1/11"), s"negative bucket:\n${planOf(qn)}")
    // a source-column RANGE prunes to its covered buckets
    val qr = "SELECT count(*) AS n FROM lake.db.t_trunc WHERE ts >= 150 AND ts < 350"
    assert(spark.sql(qr).head().getLong(0) == 200L)
    assert(planOf(qr).contains("files=3/11"), s"range:\n${planOf(qr)}")
    // dynamic partition overwrite replaces exactly the touched buckets
    val before = LakeLog.currentSnapshot(tableDir("t_trunc")).get.files
      .map(f => f.part.head -> f.path).toMap
    spark.range(200, 300).select($"id".as("ts"), lit(7L).as("v"))
      .repartition(1).writeTo("lake.db.t_trunc").overwritePartitions()
    val after = LakeLog.currentSnapshot(tableDir("t_trunc")).get.files
      .map(f => f.part.head -> f.path).toMap
    assert(after(Some("2")) != before(Some("2")))
    assert((before - Some("2")).forall { case (t, p) => after(t) == p },
      "only the written bucket's file changed")
    assert(spark.sql("SELECT sum(v) FROM lake.db.t_trunc WHERE ts BETWEEN 200 AND 299")
      .head().getLong(0) == 700L)
    // SPJ: same-width trunc tables equi-join on the SOURCE column with
    // no shuffle — the catalog's `trunc` function resolves the
    // reported transform exactly like `bucket`
    spark.sql("CREATE TABLE lake.db.t_trunc_dim (ts BIGINT, factor BIGINT) " +
      "PARTITIONED BY (trunc(100, ts))")
    spark.range(0, 1000).select($"id".as("ts"), ($"id" % 9L).as("factor"))
      .repartition(1).writeTo("lake.db.t_trunc_dim").append()
    def joined() = spark.table("lake.db.t_trunc")
      .join(spark.table("lake.db.t_trunc_dim"), "ts")
      .groupBy(($"ts" % 10L).as("m")).agg(sum($"v" * $"factor").as("w"))
      .orderBy($"m")
    val expected = joined().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = joined()
      val joinPlan = df.queryExecution.sparkPlan.toString
      val joinIdx = joinPlan.indexOf("Join")
      assert(joinIdx >= 0 && !joinPlan.substring(joinIdx).contains("Exchange"),
        s"trunc-co-partitioned tables must join with no shuffle:\n$joinPlan")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("time-bucket retention: DELETE below a bucket boundary is metadata-only") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_trret (ts BIGINT, v BIGINT) " +
      "PARTITIONED BY (trunc(100, ts))")
    spark.range(0, 1000).select($"id".as("ts"), ($"id" * 2L).as("v"))
      .repartition(1).writeTo("lake.db.t_trret").append()
    val before = LakeLog.currentSnapshot(tableDir("t_trret")).get.files
    assert(before.size == 10)
    // the 100 TB retention sweep: every file lives wholly inside one
    // time bucket, so a boundary-aligned DELETE decides every file
    // All-or-None from stats — zero rewrites, a pure log commit
    spark.sql("DELETE FROM lake.db.t_trret WHERE ts < 300")
    val after = LakeLog.currentSnapshot(tableDir("t_trret")).get.files
    assert(after.map(_.path).toSet ==
      before.filter(_.part.head.exists(_.toLong >= 3L)).map(_.path).toSet,
      "expired buckets drop whole; survivors keep their exact files")
    assert(after.forall(_.dv.isEmpty), "no delete vectors — whole files only")
    assert(spark.table("lake.db.t_trret").count() == 700L)
    assert(spark.sql("SELECT min(ts) FROM lake.db.t_trret").head().getLong(0) == 300L)
  }

  test("metadata companion tables: __files census and __history answer from the log") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_meta (k BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('mode' = 'mor')")
    spark.range(0, 90)
      .select($"id".as("k"), concat(lit("g"), $"id" % 3).as("seg"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_meta").append() // v1: 3 files
    spark.sql("DELETE FROM lake.db.t_meta WHERE k % 9 = 0 AND seg = 'g0'") // v2: dv
    val files = spark.table("lake.db.t_meta__files")
    // a census must come from the LOG, not a distributed scan
    assert(files.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val rows0 = files.collect()
    assert(rows0.length == 3)
    assert(rows0.map(_.getAs[String]("partition")).sorted.toSeq ==
      Seq("seg=g0", "seg=g1", "seg=g2"))
    assert(rows0.map(_.getAs[Long]("rows")).sum == 90L)
    val g0 = rows0.find(_.getAs[String]("partition") == "seg=g0").get
    assert(g0.getAs[Long]("dv_rows") == 10L && g0.getAs[Long]("live_rows") == 20L)
    // history: every version with its commit instant and live census
    val hist = spark.table("lake.db.t_meta__history")
      .orderBy($"version").collect()
    assert(hist.map(_.getAs[Long]("version")).toSeq == Seq(0L, 1L, 2L))
    assert(hist.map(_.getAs[Long]("n_live_rows")).toSeq == Seq(0L, 90L, 80L))
    assert(hist.forall(r => r.getAs[java.sql.Timestamp]("committed_at") != null))
    val ts = hist.map(_.getAs[java.sql.Timestamp]("committed_at").getTime)
    assert(ts.sorted.toSeq == ts.toSeq, "commit instants are monotone")
  }

  test("__history folds the census from deltas: 30 commits, each delta read once") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_hist30 (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    for (b <- 0 until 20)
      spark.range(b * 10L, (b + 1) * 10L).select($"id", ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_hist30").append()
    for (k <- 0 until 10)
      spark.sql(s"DELETE FROM lake.db.t_hist30 WHERE id = ${k * 7}") // dv commits
    val dir = tableDir("t_hist30")
    assert(LakeLog.currentVersion(dir).contains(30L))
    val before = LakeLog.deltaReads.get()
    val hist = spark.table("lake.db.t_hist30__history")
      .orderBy($"version").collect()
    val reads = LakeLog.deltaReads.get() - before
    // snapshot-per-version reconstruction would re-read the delta chain
    // from each version's checkpoint 31 times; the fold reads each
    // retained delta once (plus the commit-instant lookups)
    assert(reads <= 2L * 31L + 4L,
      s"history over 31 versions must not reconstruct per version: $reads delta reads")
    assert(hist.map(_.getAs[Long]("version")).toSeq == (0L to 30L))
    // census matches snapshot reconstruction exactly at every version
    for (r <- hist) {
      val snap = LakeLog.snapshotAt(dir, r.getAs[Long]("version")).get
      assert(r.getAs[Int]("n_files") == snap.files.size &&
        r.getAs[Long]("n_rows") == snap.files.map(_.rows).sum &&
        r.getAs[Long]("n_live_rows") == snap.files.map(_.liveRows).sum,
        s"census mismatch at version ${r.getAs[Long]("version")}")
    }
    // after a vacuum prunes the prefix, the fold anchors on the
    // retention-floor checkpoint and history contracts consistently
    spark.sql("CALL lake.system.vacuum('db.t_hist30', 5)")
    val hist2 = spark.table("lake.db.t_hist30__history")
      .orderBy($"version").collect()
    assert(hist2.nonEmpty && hist2.last.getAs[Long]("version") == 30L)
    for (r <- hist2) {
      val snap = LakeLog.snapshotAt(dir, r.getAs[Long]("version")).get
      assert(r.getAs[Long]("n_live_rows") == snap.files.map(_.liveRows).sum)
    }
  }

  test("runtime partition pruning: a selective dim join prunes lake partitions dynamically") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_dpp (k BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg)")
    spark.range(0, 400)
      .select($"id".as("k"), concat(lit("p"), $"id" % 8).as("seg"), ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_dpp").append()
    // the selective predicate sits on a NON-join-key column: a static
    // filter on seg itself would be inferred onto the fact side and
    // leave nothing to prune at runtime (the graftgen DPP lesson)
    val dim = spark.range(0, 80)
      .select(concat(lit("p"), $"id" % 8).as("seg"), $"id".as("code"))
      .filter($"code" === 3L || $"code" === 14L) // -> p3, p6
    val joined = spark.table("lake.db.t_dpp").join(dim, Seq("seg"))
      .groupBy($"seg").agg(count(lit(1)).as("n"))
      .orderBy($"seg")
    val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("p3", 50L), ("p6", 50L)))
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(plan.contains("runtimeParts=seg∈{p3,p6}") && plan.contains("files=2/8"),
      s"the dim's executed values must prune partitions at runtime:\n$plan")
  }

  private def executedPlanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }

  test("dynamic file pruning: a point-lookup join prunes files on the sortBy column at runtime") {
    import spark.implicits._
    // UNPARTITIONED — the pruning key is a plain data column whose
    // per-file ranges are tight because the layout declares it
    spark.sql("CREATE TABLE lake.db.t_dfp_sorted (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('sortBy' = 'k')")
    for (b <- 0 until 8)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id".as("k"), ($"id" * 3L).as("v"))
        .coalesce(1).writeTo("lake.db.t_dfp_sorted").append()
    // selective predicate on a NON-join-key column (a static filter on
    // k itself would be inferred onto the fact side — nothing left to
    // prune at runtime); built from range, not LocalRelation (which
    // constant-folds away the Filter node DPP needs to see)
    val dim = spark.range(0, 80)
      .select(($"id" * 5L).as("k"), $"id".as("code"))
      .filter($"code" === 7L || $"code" === 61L) // -> k=35 (file 0), k=305 (file 6)
    val joined = spark.table("lake.db.t_dfp_sorted").join(dim, Seq("k"))
      .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
    val row = joined.collect().head
    assert((row.getLong(0), row.getLong(1)) == ((35L + 305L) * 3L, 2L))
    val plan = executedPlanString(joined)
    assert(plan.contains("files=2/8"),
      s"the dim's executed key values must prune files through the stats algebra:\n$plan")
  }

  test("dynamic file pruning: runtime bloom probes drop files whose ranges overlap") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_dfp_bloom (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('bloomBy' = 'k')")
    // scatter keys so every file's [lo,hi] spans ~the full domain —
    // stats keep all 8, only the per-file blooms can separate them
    def keyOf(id: Long): Long = (id * 999983L) % 100003L
    for (b <- 0 until 8)
      spark.range(b * 50L, (b + 1) * 50L)
        .select(expr("(id * 999983) % 100003").as("k"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_dfp_bloom").append()
    val target = keyOf(157L) // written by id=157 -> file 3 only
    val dim = spark.range(0, 400)
      .select(expr("(id * 999983) % 100003").as("k"), $"id".as("code"))
      .filter($"code" === 157L)
    val joined = spark.table("lake.db.t_dfp_bloom").join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
    val row = joined.collect().head
    assert((row.getLong(0), row.getLong(1)) == ((1L, 157L)))
    assert(target == keyOf(157L))
    val plan = executedPlanString(joined)
    assert(plan.contains("files=1/8"),
      s"runtime bloom probes must isolate the one file holding the key:\n$plan")
  }

  test("row-group pruning: residual predicates skip row groups inside a surviving file") {
    import spark.implicits._
    import graft.sources.LakeParquet
    spark.sql("CREATE TABLE lake.db.t_rg (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('sortBy' = 'k', 'row_group_bytes' = '8192')")
    spark.range(0, 40000)
      .select($"id".as("k"), ($"id" * 3L).as("v"))
      .coalesce(1).writeTo("lake.db.t_rg").append()
    val file = filePaths("t_rg").head
    val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(tableDir("t_rg").resolve(file)))
    val nGroups = try fr.getFooter.getBlocks.size finally fr.close()
    assert(nGroups >= 4, s"fixture must produce multiple row groups, got $nGroups")
    def counters = (LakeParquet.rowGroupsRead.get, LakeParquet.rowGroupsPruned.get)
    // point lookup on the sorted column: the FILE survives (Mixed), but
    // only the one row group whose [lo,hi] holds the key decodes
    val (r0, p0) = counters
    val got = spark.table("lake.db.t_rg").where($"k" === 31337L)
      .select($"v").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(31337L * 3L))
    val (r1, p1) = counters
    assert(r1 - r0 >= 1 && r1 - r0 <= 2,
      s"a point lookup must decode ~one group, read ${r1 - r0} of $nGroups")
    assert((r1 - r0) + (p1 - p0) == nGroups, "every group either read or pruned")
    // a `_pos` projection numbers PHYSICAL ordinals — pruning must stand down
    val (r2, p2) = counters
    val withPos = spark.table("lake.db.t_rg").where($"k" === 31337L)
      .select(col("_pos")).collect().map(_.getLong(0)).toSeq
    assert(withPos == Seq(31337L))
    val (r3, p3) = counters
    assert(r3 == r2 && p3 == p2, "a _pos scan must not enter the pruned path")
    // the __row_groups census shows exactly what pruning decides over:
    // per-group footer stats under CURRENT column names, one task/file
    val k = spark.table("lake.db.t_rg__row_groups").where($"column" === "k")
      .selectExpr("sum(rows)", "count(*)", "min(min)", "max(max)",
        "sum(null_count)").head
    assert((k.getLong(0), k.getLong(1), k.getLong(2), k.getLong(3), k.getLong(4)) ==
      ((40000L, nGroups.toLong, 0L, 39999L, 0L)))
  }

  test("row-group pruning: native per-group blooms drop stats-Mixed groups on scattered keys") {
    import spark.implicits._
    import graft.sources.LakeParquet
    // keys scattered so every GROUP's [lo,hi] spans ~the whole domain —
    // stats can't separate groups; only the parquet-native per-row-group
    // bloom filters (bloomBy) can
    spark.sql("CREATE TABLE lake.db.t_rg_bloom (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('bloomBy' = 'k', 'row_group_bytes' = '8192')")
    spark.range(0, 40000)
      .select(expr("(id * 999983) % 1000003").as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_rg_bloom").append()
    val nGroups = spark.table("lake.db.t_rg_bloom__row_groups")
      .where($"column" === "k").count()
    assert(nGroups >= 4, s"fixture must produce multiple row groups, got $nGroups")
    val target = (157L * 999983L) % 1000003L // written by v=157
    val (r0, p0) = (LakeParquet.rowGroupsRead.get, LakeParquet.rowGroupsPruned.get)
    val got = spark.table("lake.db.t_rg_bloom").where($"k" === target)
      .select($"v").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(157L))
    val (r1, p1) = (LakeParquet.rowGroupsRead.get, LakeParquet.rowGroupsPruned.get)
    assert(r1 - r0 <= 2,
      s"native blooms must isolate the key's group(s): read ${r1 - r0} of $nGroups")
    assert((r1 - r0) + (p1 - p0) == nGroups, "every group either read or pruned")
  }

  test("row-group pruning soundness: randomized predicates match Spark's own evaluation") {
    import spark.implicits._
    // nulls, strings, and a sorted long column — every decision shape
    // the per-block algebra touches; ground truth is SPARK ITSELF over
    // the identical rows read outside the lake (no 3VL re-implementation
    // in the harness to get subtly wrong)
    spark.sql("CREATE TABLE lake.db.t_rg_prop (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('sortBy' = 'k', 'row_group_bytes' = '8192')")
    val data = spark.range(0, 20000)
      .select($"id".as("k"),
        when($"id" % 97 =!= 0, concat(lit("w"), ($"id" % 50).cast("string"))).as("s"),
        ($"id" * 7L % 1000L).as("v"))
    data.coalesce(1).writeTo("lake.db.t_rg_prop").append()
    val plainPath = java.nio.file.Files.createTempDirectory("rgprop").toString
    data.coalesce(1).write.mode("overwrite").parquet(plainPath)
    val plain = spark.read.parquet(plainPath)
    val rnd = new scala.util.Random(421)
    def leaf(): String = rnd.nextInt(8) match {
      case 0 => s"k ${Seq("<", "<=", ">", ">=")(rnd.nextInt(4))} ${rnd.nextInt(24000) - 2000}"
      case 1 => s"k = ${rnd.nextInt(22000) - 1000}"
      case 2 => s"k <> ${rnd.nextInt(22000) - 1000}"
      case 3 => s"k IN (${Seq.fill(3)(rnd.nextInt(22000) - 1000).mkString(", ")})"
      case 4 => s"s = 'w${rnd.nextInt(60)}'"
      case 5 => s"s LIKE 'w${rnd.nextInt(6)}%'"
      case 6 => if (rnd.nextBoolean()) "s IS NULL" else "s IS NOT NULL"
      case 7 => s"s ${Seq("<", ">=")(rnd.nextInt(2))} 'w${rnd.nextInt(60)}'"
    }
    def pred(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"(${pred(depth - 1)}) AND (${pred(depth - 1)})"
        case 1 => s"(${pred(depth - 1)}) OR (${pred(depth - 1)})"
        case 2 => s"NOT (${pred(depth - 1)})"
      }
    def rows(df: org.apache.spark.sql.DataFrame, p: String): Seq[(Long, String, Long)] =
      df.where(p).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, String.valueOf(t._2), t._3)).toSeq
    for (i <- 0 until 40) {
      val p = pred(2)
      val got = rows(spark.table("lake.db.t_rg_prop"), p)
      val want = rows(plain, p)
      assert(got == want,
        s"predicate #$i '$p': lake returned ${got.size} rows, ground truth ${want.size}")
    }
  }

  test("read-algebra soundness: randomized predicates over a partitioned multi-file table match Spark") {
    import spark.implicits._
    // the WHOLE plan-time decision surface under one randomized sweep:
    // identity-tuple decisions, consumption (exact predicates with no
    // residual), int/string range skipping, prefix ranges, null gates,
    // and the row-group layer beneath — ground truth is Spark itself
    spark.sql("CREATE TABLE lake.db.t_alg_prop (k BIGINT, seg STRING, s STRING, v BIGINT) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('sortBy' = 'k', 'row_group_bytes' = '8192')")
    val data = spark.range(0, 12000)
      .select($"id".as("k"), concat(lit("p"), $"id" % 4).as("seg"),
        when($"id" % 89 =!= 0, concat(lit("w"), ($"id" % 40).cast("string"))).as("s"),
        ($"id" * 13L % 997L).as("v"))
    for (b <- 0 until 3)
      data.filter($"k" >= b * 4000L && $"k" < (b + 1) * 4000L)
        .writeTo("lake.db.t_alg_prop").append()
    val plainPath = java.nio.file.Files.createTempDirectory("algprop").toString
    data.write.mode("overwrite").parquet(plainPath)
    val plain = spark.read.parquet(plainPath)
    val rnd = new scala.util.Random(777)
    def leaf(): String = rnd.nextInt(10) match {
      case 0 => s"k ${Seq("<", "<=", ">", ">=")(rnd.nextInt(4))} ${rnd.nextInt(14000) - 1000}"
      case 1 => s"k = ${rnd.nextInt(13000) - 500}"
      case 2 => s"k IN (${Seq.fill(3)(rnd.nextInt(13000) - 500).mkString(", ")})"
      case 3 => s"seg = 'p${rnd.nextInt(6)}'"
      case 4 => s"seg IN ('p${rnd.nextInt(6)}', 'p${rnd.nextInt(6)}')"
      case 5 => s"seg LIKE 'p%'"
      case 6 => s"s = 'w${rnd.nextInt(50)}'"
      case 7 => s"s LIKE 'w${rnd.nextInt(5)}%'"
      case 8 => if (rnd.nextBoolean()) "s IS NULL" else "s IS NOT NULL"
      case 9 => s"s ${Seq("<", ">=")(rnd.nextInt(2))} 'w${rnd.nextInt(50)}'"
    }
    def pred(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"(${pred(depth - 1)}) AND (${pred(depth - 1)})"
        case 1 => s"(${pred(depth - 1)}) OR (${pred(depth - 1)})"
        case 2 => s"NOT (${pred(depth - 1)})"
      }
    def rows(df: org.apache.spark.sql.DataFrame, p: String): Seq[(Long, String, String, Long)] =
      df.where(p).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, String.valueOf(t._3), t._4)).toSeq
    for (i <- 0 until 40) {
      val p = pred(2)
      val got = rows(spark.table("lake.db.t_alg_prop"), p)
      val want = rows(plain, p)
      assert(got == want,
        s"predicate #$i '$p': lake returned ${got.size} rows, ground truth ${want.size}")
    }
  }

  test("row-group pruning under delete vectors: groups still skip, dv positions remap into the kept-group space") {
    import spark.implicits._
    import graft.sources.LakeParquet
    spark.sql("CREATE TABLE lake.db.t_rg_mor (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('sortBy' = 'k', 'row_group_bytes' = '8192', 'mode' = 'mor')")
    spark.range(0, 40000)
      .select($"id".as("k"), ($"id" * 3L).as("v"))
      .coalesce(1).writeTo("lake.db.t_rg_mor").append()
    // two dv'd positions: one in the FIRST group (remap identity) and
    // one DEEP in the file (its kept group starts at a large physical
    // offset — an unremapped dv would point at the wrong row there)
    spark.sql("DELETE FROM lake.db.t_rg_mor WHERE k = 7 OR k = 31338")
    val (r1, p1) = (LakeParquet.rowGroupsRead.get, LakeParquet.rowGroupsPruned.get)
    val got = spark.table("lake.db.t_rg_mor")
      .where($"k".isin(31337L, 31338L, 31339L))
      .select($"k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(31337L, 31339L),
      s"the deleted neighbor must vanish, its neighbors survive: $got")
    val read = LakeParquet.rowGroupsRead.get - r1
    val pruned = LakeParquet.rowGroupsPruned.get - p1
    assert(pruned > 0L, "the dv'd file must still skip groups")
    assert(read <= 2L, s"a point band decodes ~one group, read $read")
    assert(spark.table("lake.db.t_rg_mor").where($"k" === 7L).count() == 0L)
    assert(spark.table("lake.db.t_rg_mor").count() == 39998L)
  }

  test("row-group pruning soundness under delete vectors: randomized predicates match Spark minus the deleted rows") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_rgdv_prop (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('sortBy' = 'k', 'row_group_bytes' = '8192', 'mode' = 'mor')")
    val data = spark.range(0, 20000)
      .select($"id".as("k"),
        when($"id" % 97 =!= 0, concat(lit("w"), ($"id" % 50).cast("string"))).as("s"),
        ($"id" * 7L % 1000L).as("v"))
    data.coalesce(1).writeTo("lake.db.t_rgdv_prop").append()
    // scattered dv (Mixed on the file's stats -> merge-on-read vector);
    // ground truth = Spark over the identical rows MINUS the deleted
    // positions, evaluated outside the lake
    spark.sql("DELETE FROM lake.db.t_rgdv_prop WHERE k % 131 = 0")
    val plainPath = java.nio.file.Files.createTempDirectory("rgdvprop").toString
    data.coalesce(1).write.mode("overwrite").parquet(plainPath)
    val plain = spark.read.parquet(plainPath).where("k % 131 <> 0")
    val rnd = new scala.util.Random(1559)
    def leaf(): String = rnd.nextInt(8) match {
      case 0 => s"k ${Seq("<", "<=", ">", ">=")(rnd.nextInt(4))} ${rnd.nextInt(24000) - 2000}"
      case 1 => s"k = ${rnd.nextInt(22000) - 1000}"
      case 2 => s"k <> ${rnd.nextInt(22000) - 1000}"
      case 3 => s"k IN (${Seq.fill(3)(rnd.nextInt(22000) - 1000).mkString(", ")})"
      case 4 => s"s = 'w${rnd.nextInt(60)}'"
      case 5 => s"s LIKE 'w${rnd.nextInt(6)}%'"
      case 6 => if (rnd.nextBoolean()) "s IS NULL" else "s IS NOT NULL"
      case 7 => s"s ${Seq("<", ">=")(rnd.nextInt(2))} 'w${rnd.nextInt(60)}'"
    }
    def pred(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"(${pred(depth - 1)}) AND (${pred(depth - 1)})"
        case 1 => s"(${pred(depth - 1)}) OR (${pred(depth - 1)})"
        case 2 => s"NOT (${pred(depth - 1)})"
      }
    def rows(df: org.apache.spark.sql.DataFrame, p: String): Seq[(Long, String, Long)] =
      df.where(p).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, String.valueOf(t._2), t._3)).toSeq
    for (i <- 0 until 40) {
      val p = pred(2)
      val got = rows(spark.table("lake.db.t_rgdv_prop"), p)
      val want = rows(plain, p)
      assert(got == want,
        s"predicate #$i '$p': lake returned ${got.size} rows, ground truth ${want.size}")
    }
  }

  test("__row_groups time-travels with the base log") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_rgtt (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('row_group_bytes' = '8192')")
    spark.range(0, 3000).select($"id".as("k"), ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_rgtt").append() // v1
    spark.range(3000, 9000).select($"id".as("k"), ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_rgtt").append() // v2
    def census(sql: String): (Long, Long) = {
      val r = spark.sql(sql).agg(
        countDistinct(col("path")), sum(col("rows"))).head
      (r.getLong(0), r.getLong(1))
    }
    val cur = census("SELECT * FROM lake.db.t_rgtt__row_groups WHERE column = 'k'")
    val pinned = census(
      "SELECT * FROM lake.db.t_rgtt__row_groups VERSION AS OF 1 WHERE column = 'k'")
    assert(cur == ((2L, 9000L)), s"head census sees both files' groups: $cur")
    assert(pinned == ((1L, 3000L)),
      s"the pinned census folds only v1's file: $pinned")
  }

  test("compression property: zstd files are smaller, read identically, and bad codecs are refused at DDL") {
    import spark.implicits._
    def mk(name: String, codec: String): (Seq[(Long, String)], Long) = {
      spark.sql(s"CREATE TABLE lake.db.$name (id BIGINT, s STRING) " +
        s"TBLPROPERTIES ('compression' = '$codec')")
      spark.range(0, 5000)
        .select($"id", concat(lit("payload-"), $"id" % 7).as("s"))
        .coalesce(1).writeTo(s"lake.db.$name").append()
      val rows = spark.table(s"lake.db.$name").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      val bytes = LakeLog.currentSnapshot(tableDir(name)).get.files.map(_.bytes).sum
      (rows, bytes)
    }
    val (snappyRows, snappyBytes) = mk("t_codec_snappy", "snappy")
    val (zstdRows, zstdBytes) = mk("t_codec_zstd", "zstd")
    assert(zstdRows == snappyRows, "codec must not change content")
    assert(zstdBytes < snappyBytes,
      s"zstd must compress the repetitive payload tighter: zstd=$zstdBytes snappy=$snappyBytes")
    // the codec is per-file: an ALTER re-encodes nothing, later commits
    // just write the new codec — both eras read in one scan
    spark.sql("ALTER TABLE lake.db.t_codec_snappy SET TBLPROPERTIES ('compression' = 'zstd')")
    spark.range(5000, 5100)
      .select($"id", lit("tail").as("s"))
      .coalesce(1).writeTo("lake.db.t_codec_snappy").append()
    assert(spark.table("lake.db.t_codec_snappy").count() == 5100L)
    val bad = intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE lake.db.t_codec_bad (id BIGINT) " +
        "TBLPROPERTIES ('compression' = 'brotli9000')")
    }
    assert(bad.getMessage.contains("unsupported compression"))
  }

  test("table properties: CREATE, CTAS and ALTER SET reject the same bad values") {
    val cols = "(k BIGINT, s STRING, d DOUBLE)"
    spark.sql(s"CREATE TABLE lake.db.t_propval $cols")
    spark.sql("INSERT INTO lake.db.t_propval VALUES (1, 'a', 1.0)")
    val v0 = LakeLog.currentSnapshot(tableDir("t_propval")).get
    // (property, one bad value, the error it must raise)
    val cases = Seq(
      ("mode", "bogus", "mode must be 'cow' or 'mor'"),
      ("sortBy", "nosuch", "must name a table column, got 'nosuch'"),
      ("clusterBy", "nosuch", "must name a table column, got 'nosuch'"),
      ("bloomBy", "k,nosuch", "must name a table column, got 'nosuch'"),
      ("checkpoint_part_bytes", "lots", "checkpoint_part_bytes must be a positive integer"),
      ("checkpoint_interval", "0", "checkpoint_interval must be a positive integer"),
      ("target_file_bytes", "-1", "target_file_bytes must be a positive integer"),
      ("compact_when_eq_records", "x", "compact_when_eq_records must be a positive integer"),
      ("row_group_bytes", "0", "row_group_bytes must be a positive integer"),
      ("compact_when_dv_pct", "200", "compact_when_dv_pct must be a percentage"),
      ("upsert_key", "d", "upsert_key must name integral or string table columns"),
      ("runtime_filter_cols", "nosuch", "runtime_filter_cols must name table columns"),
      ("compression", "brotli9000", "unsupported compression 'brotli9000'"))
    for ((k, v, msg) <- cases) {
      val props = s"TBLPROPERTIES ('$k' = '$v')"
      Seq(
        "CREATE" -> s"CREATE TABLE lake.db.t_propval_new $cols $props",
        "CTAS" -> s"CREATE TABLE lake.db.t_propval_new $props AS SELECT * FROM lake.db.t_propval",
        "ALTER" -> s"ALTER TABLE lake.db.t_propval SET $props").foreach { case (path, sql) =>
        val err = intercept[Exception](spark.sql(sql))
        assert(chainMsg(err).contains(msg), s"$path $k = '$v': $err")
      }
      assert(LakeLog.currentSnapshot(tableDir("t_propval_new")).isEmpty,
        s"a rejected CREATE/CTAS with $k = '$v' must leave no table")
    }
    // no ALTER committed, and the table still takes writes
    assert(LakeLog.currentSnapshot(tableDir("t_propval")).get.props == v0.props)
    spark.sql("INSERT INTO lake.db.t_propval VALUES (2, 'b', 2.0)")
    assert(spark.table("lake.db.t_propval").count() == 2L)
  }

  test("dynamic file pruning: trunc time buckets prune on the SOURCE column at runtime") {
    import spark.implicits._
    // the transform source is reportable: a runtime IN set of raw
    // timestamps decides per file through the tuple's floorDiv math
    spark.sql("CREATE TABLE lake.db.t_dfp_trunc (ts BIGINT, v BIGINT) " +
      "PARTITIONED BY (trunc(100, ts))")
    spark.range(0, 800)
      .select($"id".as("ts"), ($"id" * 7L).as("v"))
      .coalesce(1).writeTo("lake.db.t_dfp_trunc").append() // 8 buckets, 1 file each
    val dim = spark.range(0, 80)
      .select(($"id" * 10L).as("ts"), $"id".as("code"))
      .filter($"code" === 25L || $"code" === 66L) // ts=250 (bucket 2), 660 (bucket 6)
    val joined = spark.table("lake.db.t_dfp_trunc").join(dim, Seq("ts"))
      .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
    val row = joined.collect().head
    assert((row.getLong(0), row.getLong(1)) == ((250L + 660L) * 7L, 2L))
    val plan = executedPlanString(joined)
    assert(plan.contains("files=2/8"),
      s"runtime timestamps must prune whole time buckets:\n$plan")
  }

  test("dynamic file pruning soundness: randomized dim joins match Spark's own evaluation") {
    import spark.implicits._
    // identity partitions + sortBy + native blooms on ONE table: every
    // runtime decision source (tuple, range stats, bloom probe) under
    // random join-key sets; ground truth is Spark joining the identical
    // rows read outside the lake
    spark.sql("CREATE TABLE lake.db.t_dfp_prop (k BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('sortBy' = 'k', 'bloomBy' = 'k')")
    val data = spark.range(0, 6000)
      .select($"id".as("k"), concat(lit("g"), $"id" % 5).as("seg"), ($"id" * 11L).as("v"))
    for (b <- 0 until 3)
      data.filter($"k" >= b * 2000L && $"k" < (b + 1) * 2000L)
        .writeTo("lake.db.t_dfp_prop").append()
    val plainPath = java.nio.file.Files.createTempDirectory("dfpprop").toString
    data.write.mode("overwrite").parquet(plainPath)
    val plain = spark.read.parquet(plainPath)
    val rnd = new scala.util.Random(1123)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long)] =
      df.select($"k", $"seg", $"v", $"code").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._3, t._4)).toSeq
    for (i <- 0 until 12) {
      // the DPP shape: selective filter on the dim's NON-join-key column
      val wanted = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(200)).distinct
      val (dim, key) =
        if (rnd.nextBoolean()) {
          val m = 1 + rnd.nextInt(40)
          (spark.range(0, 200)
            .select(($"id" * m).as("k"), $"id".as("code"))
            .filter($"id".isin(wanted.map(_.toLong): _*)), "k")
        } else
          (spark.range(0, 200)
            .select(concat(lit("g"), $"id" % 7).as("seg"), $"id".as("code"))
            .filter($"id".isin(wanted.map(_.toLong): _*)), "seg")
      val got = rows(spark.table("lake.db.t_dfp_prop").join(dim, Seq(key)))
      val want = rows(plain.join(dim, Seq(key)))
      assert(got == want,
        s"join #$i on $key (codes $wanted): lake ${got.size} rows, ground truth ${want.size}")
    }
  }

  test("target_file_bytes: the advisory shuffle size controls output file granularity") {
    import spark.implicits._
    // ~8 MB of INCOMPRESSIBLE payload (coalescing measures compressed
    // shuffle bytes; repeated literals would vanish under lz4 and every
    // case would collapse to AQE's minPartitionSize floor)
    def write(name: String, extraProps: String): Int = {
      spark.sql(s"CREATE TABLE lake.db.$name (k BIGINT, v STRING) " +
        s"TBLPROPERTIES ('clusterBy' = 'k'$extraProps)")
      spark.range(0, 4000)
        .select(($"id" % 256L).as("k"),
          expr("array_join(transform(sequence(1, 32), " +
            "i -> sha2(cast(id * 100 + i AS STRING), 256)), '')").as("v"))
        .writeTo(s"lake.db.$name").append()
      filePaths(name).size
    }
    // AQE's coalesced target is min(total/parallelism, advisory)
    // .max(minPartitionSize): at REAL scale total/parallelism ≫
    // advisory and the table's target decides; at test bytes the
    // parallelism cap (7 MB / 32 ≈ 220 KB) would mask it, so disable
    // parallelismFirst to observe the advisory itself
    val pf = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val was = spark.conf.get(pf)
    spark.conf.set(pf, "false")
    try {
      // default: the session's 64 MB advisory swallows the whole
      // write — one coalesced partition, one file
      val dflt = write("t_tfb_dflt", "")
      // a 2 MB target splits the same ~7 MB shuffle into ~4 tasks
      val small = write("t_tfb_small", ", 'target_file_bytes' = '2097152'")
      assert(dflt <= 2, s"default advisory must coalesce the write to one file, got $dflt")
      assert(small >= 3 && small > dflt,
        s"a 2 MB target_file_bytes must fan the same write out, got $small (default $dflt)")
    } finally spark.conf.set(pf, was)
  }

  test("type widening: ALTER COLUMN INT -> BIGINT upcasts pre-widening files at read") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_widen (id BIGINT, n INT)")
    spark.range(0, 50)
      .select($"id", ($"id" % 100).cast("int").as("n"))
      .coalesce(1).writeTo("lake.db.t_widen").append() // INT-era file
    spark.sql("ALTER TABLE lake.db.t_widen ALTER COLUMN n TYPE BIGINT")
    assert(spark.table("lake.db.t_widen").schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    // post-widening writes store BIGINT, beyond INT range
    spark.range(50, 60)
      .select($"id", ($"id" + 4000000000L).as("n"))
      .coalesce(1).writeTo("lake.db.t_widen").append()
    val got = spark.table("lake.db.t_widen").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == (0L until 50L).map(i => (i, i % 100)) ++
      (50L until 60L).map(i => (i, i + 4000000000L)),
      "INT-era files must upcast exactly; BIGINT-era files read native")
    // stats skipping still decides across the widened column
    val skipped = spark.table("lake.db.t_widen").filter($"n" >= 4000000000L)
    assert(skipped.queryExecution.executedPlan.toString.contains("files=1/2"))
    assert(skipped.count() == 10L)
    // aggregation pushes through (sum over mixed-era files)
    assert(spark.table("lake.db.t_widen").agg(sum($"n")).head().getLong(0) ==
      (0L until 50L).map(_ % 100).sum + (50L until 60L).map(_ + 4000000000L).sum)
    // narrowing and unrelated conversions refuse
    intercept[Exception](
      spark.sql("ALTER TABLE lake.db.t_widen ALTER COLUMN n TYPE INT"))
    intercept[Exception](
      spark.sql("ALTER TABLE lake.db.t_widen ALTER COLUMN n TYPE STRING"))
    // time travel reads the pre-widening version under its own schema
    assert(spark.sql("SELECT * FROM lake.db.t_widen VERSION AS OF 1")
      .schema("n").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("partition evolution: identity -> bucket mid-history, pruning correct across both eras") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_pevolve (k BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg)")
    // era 0: identity(seg) — one file per seg, k spans [0,99] in each
    spark.range(0, 99)
      .select($"id".as("k"), concat(lit("g"), $"id" % 3).as("seg"), ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_pevolve").append()
    // evolve: future files bucket on k; a pure metadata commit
    val res = spark.sql(
      "CALL lake.system.evolve_partitioning('db.t_pevolve', 'bucket(4, k)')").head()
    assert(res.getInt(0) == 1 && res.getString(1) == "bucket(4, k)")
    val vAfterEvolve = LakeLog.currentSnapshot(tableDir("t_pevolve")).get.version
    // era 1: four bucket files over the SAME key domain (so era-0
    // min/max stats cannot decide era-1 probes and the assertion below
    // isolates tuple-based pruning); era-0 files untouched on disk
    spark.range(0, 99)
      .select($"id".as("k"), concat(lit("g"), $"id" % 3).as("seg"), ($"id" * 3L).as("v"))
      .coalesce(1).writeTo("lake.db.t_pevolve").append()
    val snap = LakeLog.currentSnapshot(tableDir("t_pevolve")).get
    assert(snap.files.size == 7, s"3 seg files + 4 bucket files, got ${snap.files.size}")
    assert(snap.files.count(_.specId == 0) == 3 && snap.files.count(_.specId == 1) == 4)
    // full read is era-blind
    assert(spark.table("lake.db.t_pevolve").count() == 198L)
    // predicate on the ERA-0 partition column: the 3 old files prune to
    // 1; the 4 bucket files can't decide seg from their tuple and scan
    val bySeg = spark.table("lake.db.t_pevolve").filter($"seg" === "g1")
    assert(bySeg.queryExecution.executedPlan.toString.contains("files=5/7"),
      s"seg=g1 must keep 1 era-0 + all 4 era-1 files:\n${bySeg.queryExecution.executedPlan}")
    assert(bySeg.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 99L).filter(_ % 3 == 1).flatMap(i => Seq(i, i)))
    // predicate on the ERA-1 bucket column: the 4 new files prune to 1;
    // the 3 old files each span k=[0,98] so neither tuple nor stats decide
    val byK = spark.table("lake.db.t_pevolve").filter($"k" === 50L)
    assert(byK.queryExecution.executedPlan.toString.contains("files=4/7"),
      s"k=50 must keep 3 era-0 + 1 era-1 files:\n${byK.queryExecution.executedPlan}")
    assert(byK.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._3).toSeq == Seq((50L, "g2", 100L), (50L, "g2", 150L)))
    // __files labels each tuple under its own era's spec — transform
    // ordinals Iceberg-style, never as a bare (wrong) source value
    val labels = spark.table("lake.db.t_pevolve__files")
      .collect().map(_.getAs[String]("partition")).toSeq
    assert(labels.count(_.startsWith("seg=")) == 3 &&
      labels.count(_.startsWith("bucket(4,k)=")) == 4, s"got $labels")
    // dynamic partition overwrite across eras is ambiguous: refuse
    val err = intercept[Exception] {
      spark.range(0, 4).select($"id".as("k"), lit("g0").as("seg"), lit(0L).as("v"))
        .writeTo("lake.db.t_pevolve").overwritePartitions()
    }
    assert(err.getMessage.contains("older partition spec") ||
      Option(err.getCause).exists(_.getMessage.contains("older partition spec")))
    // compact converges every file onto the current spec; overwrite works
    spark.sql("CALL lake.system.compact('db.t_pevolve', 2)")
    val conv = LakeLog.currentSnapshot(tableDir("t_pevolve")).get
    assert(conv.files.forall(_.specId == 1), "compact rewrites under the current spec")
    assert(spark.table("lake.db.t_pevolve").count() == 198L)
    // time travel before the evolution still prunes under the old spec
    val old = spark.sql(
      s"SELECT k FROM lake.db.t_pevolve VERSION AS OF ${vAfterEvolve - 1} WHERE seg = 'g2'")
    assert(old.queryExecution.executedPlan.toString.contains("files=1/3"))
    assert(old.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 99L).filter(_ % 3 == 2))
    // evolving an unpartitioned table works too (empty spec 0)
    spark.sql("CREATE TABLE lake.db.t_pevolve2 (k BIGINT, v BIGINT)")
    spark.range(0, 20).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_pevolve2").append()
    spark.sql("CALL lake.system.evolve_partitioning('db.t_pevolve2', 'bucket(2, k)')")
    spark.range(20, 40).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_pevolve2").append()
    assert(spark.table("lake.db.t_pevolve2").count() == 40L)
    val snap2 = LakeLog.currentSnapshot(tableDir("t_pevolve2")).get
    assert(snap2.files.count(_.part.isEmpty) == 1 &&
      snap2.files.count(_.part.nonEmpty) == 2)
  }

  test("idempotent writes: txnAppId/txnVersion make replayed appends no-ops") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_txn (id BIGINT, v BIGINT, s STRING)")
    def append(lo: Long, hi: Long, txnV: Long): Unit =
      spark.range(lo, hi).select($"id", $"id".as("v"), lit("t").as("s"))
        .coalesce(1)
        .writeTo("lake.db.t_txn")
        .option("txnAppId", "loader").option("txnVersion", txnV.toString)
        .append()
    append(0, 50, 1L)
    val v1 = LakeLog.currentSnapshot(tableDir("t_txn")).get.version
    val dataFiles = Files.list(tableDir("t_txn").resolve("data")).count()
    // the SAME transaction replayed: no rows, no version, no orphans
    append(0, 50, 1L)
    assert(spark.table("lake.db.t_txn").count() == 50L, "replay must not duplicate")
    assert(LakeLog.currentSnapshot(tableDir("t_txn")).get.version == v1,
      "a skipped replay must not advance the version")
    assert(Files.list(tableDir("t_txn").resolve("data")).count() == dataFiles,
      "the replay's files must be cleaned up")
    // the NEXT transaction lands normally
    append(50, 80, 2L)
    assert(spark.table("lake.db.t_txn").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 80L))
    // an OLDER version is also a replay (watermark, not equality)
    append(0, 50, 1L)
    assert(spark.table("lake.db.t_txn").count() == 80L)
    // untagged writes never consult the watermark
    spark.range(100, 110).select($"id", $"id".as("v"), lit("u").as("s"))
      .coalesce(1).writeTo("lake.db.t_txn").append()
    assert(spark.table("lake.db.t_txn").count() == 90L)
  }

  test("streaming READ of the base table: append-only tail, data changes fail the stream") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_tail (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    for (b <- 0 until 3)
      spark.range(b * 10L, (b + 1) * 10L)
        .select($"id", $"id".as("v"), lit(s"b$b").as("s"))
        .coalesce(1).writeTo("lake.db.t_tail").append()
    val out = Files.createTempDirectory("tail-out").toString
    val ckpt = Files.createTempDirectory("tail-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.table("lake.db.t_tail")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 30L), "the tail must replay every appended row once")
    // appends after the drain resume from the checkpointed version
    spark.range(30, 35).select($"id", $"id".as("v"), lit("b3").as("s"))
      .coalesce(1).writeTo("lake.db.t_tail").append()
    drain()
    assert(spark.read.parquet(out).count() == 35L)
    // a data CHANGE (MOR delete) breaks the append-only contract
    spark.sql("DELETE FROM lake.db.t_tail WHERE id = 7")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(err.getMessage.contains("append-only") ||
      Option(err.getCause).exists(_.getMessage.contains("append-only")),
      s"the failure must name the contract: ${err.getMessage}")
    // skipChangeCommits tails past the mutation
    val q2 = spark.readStream.option("skipChangeCommits", "true")
      .table("lake.db.t_tail")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    spark.range(35, 40).select($"id", $"id".as("v"), lit("b4").as("s"))
      .coalesce(1).writeTo("lake.db.t_tail").append()
    val q3 = spark.readStream.option("skipChangeCommits", "true")
      .table("lake.db.t_tail")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q3.awaitTermination()
    assert(spark.read.parquet(out).count() == 40L,
      "skipped mutation commits emit nothing; later appends still tail")
  }

  test("__files census distributes above the log threshold: one task per checkpoint PART, rows identical, checkpoint payload never parsed on the driver") {
    import spark.implicits._
    // a small part bound forces the v10 checkpoint to split into
    // multiple byte-bounded parts — the census's task-side unit
    spark.sql("""CREATE TABLE lake.db.t_census (id BIGINT, v BIGINT, s STRING)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '1024')""".stripMargin)
    for (b <- 0 until 12) // v1..v12 — crosses CheckpointInterval, checkpoint lands at v10
      spark.range(b * 10L, (b + 1) * 10L)
        .select($"id", ($"id" * 2L).as("v"), lit(s"f$b").as("s"))
        .coalesce(2).writeTo("lake.db.t_census").append()
    // make the kill sets non-trivial: a metadata delete REMOVES two
    // checkpointed files (v13), a COW update REMOVE+RE-ADDS one (v14)
    spark.sql("DELETE FROM lake.db.t_census WHERE id < 10")
    spark.sql("UPDATE lake.db.t_census SET v = -1 WHERE id = 55")
    val dir = tableDir("t_census")
    val nParts = LakeLog.checkpointParts(dir, 10L)
    assert(nParts > 1, s"1 KB part bound must split the checkpoint: $nParts")
    val local = spark.table("lake.db.t_census__files").collect()
      .map(_.toSeq).sortBy(_.head.toString)
    assert(local.length == LakeLog.currentSnapshot(dir).get.files.size)
    val planned0 = graft.sources.LakeLog.checkpointReads.get()
    val dist = spark.read
      .option("census_local_max_bytes", "0") // force the distributed path
      .table("lake.db.t_census__files")
    assert(dist.queryExecution.sparkPlan.toString.contains("distributed chunks="),
      s"expected the chunked census scan: ${dist.queryExecution.sparkPlan}")
    assert(graft.sources.LakeLog.checkpointReads.get() == planned0,
      "driver-side planning reads ONLY deltas + the O(1) manifest — " +
        "checkpoint payload is task-side")
    assert(dist.rdd.getNumPartitions == nParts + 4,
      s"one chunk per checkpoint part + one per delta (v11..v14): " +
        s"got ${dist.rdd.getNumPartitions}, expected ${nParts + 4}")
    // the post-checkpoint DELETE/UPDATE commits materialized (and so
    // CACHED) the parts — drop them so the census's parse accounting
    // stays exact
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val bytes0 = graft.sources.LakeLog.checkpointParseBytes.get()
    val got = dist.collect().map(_.toSeq).sortBy(_.head.toString)
    // each census task parses exactly ITS OWN part — nParts payload
    // parses total, and aggregate parse bytes = the checkpoint's own
    // size, not O(cpBytes × shards)
    assert(graft.sources.LakeLog.checkpointReads.get() - reads0 == nParts,
      "the census must parse each checkpoint part exactly once across all tasks")
    assert(graft.sources.LakeLog.checkpointParseBytes.get() - bytes0 <=
      LakeLog.chunkBytes(dir, "c", 10L),
      "aggregate census parse work must be bounded by the checkpoint's bytes")
    assert(got.toSeq == local.toSeq,
      "distributed census rows must be identical to the local path")
    // survivor rule sanity: removed files gone, the COW rewrite's new
    // file present exactly once
    assert(got.map(_.head.toString).distinct.length == got.length)
    // and the default read on a small log stays driver-local (no tasks)
    assert(!spark.table("lake.db.t_census__files")
      .queryExecution.sparkPlan.toString.contains("distributed chunks="))
  }

  test("KMV NDV sketches drive the CBO: low-NDV aggregate broadcasts where min/max alone cannot tell") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import graft.sources.LakeParquet
    // two tables, identical row count and near-identical k min/max
    // span — ONLY the distinct count differs. min/max-based estimation
    // cannot tell them apart; the per-file KMV sketches can.
    spark.sql("CREATE TABLE lake.db.t_ndvlow (k BIGINT, v BIGINT)")
    spark.range(0, 100000).select(($"id" % 8L * 12345677L).as("k"), $"id".as("v"))
      .coalesce(2).writeTo("lake.db.t_ndvlow").append()
    spark.sql("CREATE TABLE lake.db.t_ndvhigh (k BIGINT, v BIGINT)")
    spark.range(0, 100000).select(($"id" * 864L + 3L).as("k"), $"id".as("v"))
      .coalesce(2).writeTo("lake.db.t_ndvhigh").append()
    // NDV straight off the log: sub-k sketches merge EXACTLY; at-k
    // sketches estimate within the 1/sqrt(k) band (deterministic here)
    def ndvOf(t: String): Long = {
      val snap = LakeLog.currentSnapshot(tableDir(t)).get
      LakeParquet.kmvEstimate(snap.files.map(_.kmv("k"))).get
    }
    assert(ndvOf("t_ndvlow") == 8L, s"8 scattered keys merge exactly: ${ndvOf("t_ndvlow")}")
    val hi = ndvOf("t_ndvhigh")
    assert(hi > 20000L && hi < 500000L, s"100k distinct keys estimate in-band: $hi")
    // sketches land PACKED (base64 longs, ~684 chars at k=64), not as
    // ~1.3 KB decimal arrays — the dominant per-entry log cost now
    // that blooms live in sidecars
    val v1 = new String(Files.readAllBytes(
      tableDir("t_ndvlow").resolve("_log").resolve(f"v${1L}%08d.json")))
    assert(v1.contains("\"kmvb\"") && !v1.contains("\"kmv\" :"),
      "delta entries must carry the packed sketch form")
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
      val big = spark.range(0, 2000000).toDF("k") // 16 MB: never the broadcast side
      def joinPlan(t: String) = big.join(
        spark.table(s"lake.db.$t").groupBy($"k").agg(sum($"v").as("sv")), "k")
        .queryExecution.sparkPlan
      assert(joinPlan("t_ndvlow").collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "an 8-group aggregate must broadcast — only the NDV sketch can see that:" +
          s"\n${joinPlan("t_ndvlow")}")
      assert(joinPlan("t_ndvhigh").collect { case j: SortMergeJoinExec => j }.nonEmpty,
        "a 100k-group aggregate over the SAME span must NOT broadcast:" +
          s"\n${joinPlan("t_ndvhigh")}")
      // STRING join keys: the case NDV matters most — string columns
      // carry no min/max stats at all, so without the sketch the
      // estimator has nothing. 8 segment labels vs 100k distinct ids
      // rendered as strings, same row count, same byte shape.
      spark.sql("CREATE TABLE lake.db.t_ndvseg (seg STRING, v BIGINT)")
      spark.range(0, 100000)
        .select(concat(lit("segment_"), ($"id" % 8L).cast("string")).as("seg"),
          $"id".as("v"))
        .coalesce(2).writeTo("lake.db.t_ndvseg").append()
      spark.sql("CREATE TABLE lake.db.t_ndvuid (seg STRING, v BIGINT)")
      spark.range(0, 100000)
        .select(concat(lit("segment_"), $"id".cast("string")).as("seg"),
          $"id".as("v"))
        .coalesce(2).writeTo("lake.db.t_ndvuid").append()
      def strNdv(t: String): Long = {
        val snap = LakeLog.currentSnapshot(tableDir(t)).get
        LakeParquet.kmvEstimate(snap.files.map(_.kmv("seg"))).get
      }
      assert(strNdv("t_ndvseg") == 8L, s"8 labels merge exactly: ${strNdv("t_ndvseg")}")
      val shi = strNdv("t_ndvuid")
      assert(shi > 20000L && shi < 500000L, s"100k strings estimate in-band: $shi")
      val bigS = spark.range(0, 2000000)
        .select(concat(lit("segment_"), $"id".cast("string")).as("seg"))
      def segPlan(t: String) = bigS.join(
        spark.table(s"lake.db.$t").groupBy($"seg").agg(sum($"v").as("sv")), "seg")
        .queryExecution.sparkPlan
      assert(segPlan("t_ndvseg").collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "an 8-segment string aggregate must broadcast off the string sketch:" +
          s"\n${segPlan("t_ndvseg")}")
      assert(segPlan("t_ndvuid").collect { case j: SortMergeJoinExec => j }.nonEmpty,
        "a 100k-key string aggregate must NOT broadcast:" +
          s"\n${segPlan("t_ndvuid")}")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
  }

  test("footer-true scan statistics drive the broadcast decision by ACTUAL bytes, dv-scaled") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // ~1 KB of incompressible payload per row: a width GUESS
    // (rows × 16 × ncols = 48 B/row here) under-reports 20×, wrongly
    // broadcasting wide string tables — the stats must come from the
    // parquet footers the log records
    val payload = concat((0 until 16).map(i =>
      sha2(concat($"id".cast("string"), lit(s"#$i")), 256)): _*)
    spark.sql("CREATE TABLE lake.db.t_statwide (id BIGINT, s STRING)")
    spark.range(0, 500).select($"id", payload.as("s"))
      .coalesce(1).writeTo("lake.db.t_statwide").append()
    spark.sql("CREATE TABLE lake.db.t_statnarrow (id BIGINT, s STRING)")
    spark.range(0, 40).select($"id", payload.as("s"))
      .coalesce(1).writeTo("lake.db.t_statnarrow").append()
    val wideBytes = LakeLog.currentSnapshot(tableDir("t_statwide")).get.files.map(_.bytes).sum
    val narrowBytes = LakeLog.currentSnapshot(tableDir("t_statnarrow")).get.files.map(_.bytes).sum
    assert(wideBytes > 400 * 1024 && narrowBytes < 100 * 1024,
      s"payload sizing drifted: wide=$wideBytes narrow=$narrowBytes")
    val threshold = 256 * 1024
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      val big = spark.range(0, 1000000).toDF("id") // 8 MB: never the broadcast side
      def joinPlan(t: String) =
        big.join(spark.table(s"lake.db.$t"), "id").queryExecution.sparkPlan
      assert(joinPlan("t_statwide").collect { case j: SortMergeJoinExec => j }.nonEmpty,
        "500 KB of actual bytes must NOT broadcast under a 256 KB threshold " +
          s"(a 48 B/row width guess would have): ${joinPlan("t_statwide")}")
      assert(joinPlan("t_statnarrow").collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"a genuinely small table must still broadcast: ${joinPlan("t_statnarrow")}")
      // live-fraction scaling: a MOR delete of 95% of the rows shrinks
      // reported size below the threshold WITHOUT rewriting any file
      spark.sql("""CREATE TABLE lake.db.t_statmor (id BIGINT, s STRING)
        |TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
      spark.range(0, 500).select($"id", payload.as("s"))
        .coalesce(1).writeTo("lake.db.t_statmor").append()
      assert(joinPlan("t_statmor").collect { case j: SortMergeJoinExec => j }.nonEmpty)
      val pathsBefore = filePaths("t_statmor")
      spark.sql("DELETE FROM lake.db.t_statmor WHERE id >= 25")
      val snap = LakeLog.currentSnapshot(tableDir("t_statmor")).get
      assert(filePaths("t_statmor") == pathsBefore,
        "MOR delete must not rewrite any file — only the dv shrinks the stats")
      assert(snap.files.forall(_.dvRows > 0), "delete must ride as a dv")
      assert(joinPlan("t_statmor").collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "5% live fraction of 500 KB is ~25 KB — the dv-scaled size must broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("swapRewrite aborts when a concurrent MOR delete moves a candidate's delete vector") {
    import spark.implicits._
    // a rewrite (compact/zorder) scans a snapshot, rebuilds its live
    // rows, and swaps files; a MOR DELETE landing in between adds a dv
    // to a candidate WITHOUT removing its path — a path-only commit
    // guard would accept the swap and resurrect the deleted rows
    spark.sql(
      """CREATE TABLE lake.db.t_swapguard (id BIGINT, v BIGINT, s STRING)
        |TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    for (b <- 0 until 2)
      spark.range(b * 25L, (b + 1) * 25L)
        .select($"id", ($"id" * 10L).as("v"), lit(s"f$b").as("s"))
        .coalesce(1).writeTo("lake.db.t_swapguard").append()
    val dir = tableDir("t_swapguard")
    val snap = LakeLog.currentSnapshot(dir).get // the rewrite's scan snapshot
    val rebuilt = spark.table("lake.db.t_swapguard")
      .repartition(1).queryExecution.toRdd
    rebuilt.count() // materialize the scan BEFORE the concurrent delete
    // concurrent row-level commit: dv lands on f0's file, path unchanged
    spark.sql("DELETE FROM lake.db.t_swapguard WHERE id = 3")
    assert(LakeLog.currentSnapshot(dir).get.files.map(_.path).toSet ==
      snap.files.map(_.path).toSet, "MOR delete must keep every path")
    val err = intercept[IllegalArgumentException] {
      graft.sources.LakeProcedures.swapRewrite(dir, snap, rebuilt, snap.schema)
    }
    assert(err.getMessage.contains("delete vector"),
      s"guard must name the dv move: ${err.getMessage}")
    // the delete survived — no resurrection
    assert(!rows("t_swapguard").exists(_._1 == 3L))
    // and a rewrite scanned AFTER the delete still goes through
    val snap2 = LakeLog.currentSnapshot(dir).get
    val rebuilt2 = spark.table("lake.db.t_swapguard")
      .repartition(1).queryExecution.toRdd
    graft.sources.LakeProcedures.swapRewrite(dir, snap2, rebuilt2, snap2.schema)
    assert(rows("t_swapguard").map(_._1) == ((0L until 50L).filterNot(_ == 3L)))
  }

  test("LakeBinSorter restores string sortBy in UTF8 BYTE order, matching the write path") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // U+FFFD (UTF-16 code unit 0xFFFD) vs U+1F600 (surrogate pair
    // starting 0xD83D): java String order puts the emoji FIRST, but
    // Spark's write path sorts UTF8String bytes (EF BF BD < F0 9F 98
    // 80) putting U+FFFD first — the sorter must agree with the writer
    def row(s: String): InternalRow =
      new GenericInternalRow(Array[Any](UTF8String.fromString(s)))
    val in = Seq(row("😀"), row("�"), row("a"), row(null))
    val sorted = graft.sources.LakeBinSorter(0, org.apache.spark.sql.types.StringType)
      .apply(in.iterator).toSeq
    val got = sorted.map(r => if (r.isNullAt(0)) null else r.getUTF8String(0).toString)
    assert(got == Seq(null, "a", "�", "😀"),
      s"nulls first then unsigned-byte order, got $got")
    assert("�".compareTo("😀") > 0,
      "sanity: java String order disagrees, so the test discriminates")
  }

  test("historyCensus throws on an unanchored delta chain instead of reporting an empty table") {
    seeded("t_unanchored")
    val dir = tableDir("t_unanchored")
    assert(LakeLog.historyCensus(dir).size == 5) // v0..v4 intact
    // break the log: prune v0/v1 deltas with NO anchoring checkpoint —
    // a silent Seq.empty here made __history indistinguishable from a
    // fresh table
    Files.delete(dir.resolve("_log").resolve("v00000000.json"))
    Files.delete(dir.resolve("_log").resolve("v00000001.json"))
    val err = intercept[IllegalStateException](LakeLog.historyCensus(dir))
    assert(err.getMessage.contains("unanchored"))
  }

  test("rollback: one metadata commit restores an old version; reverted history stays time-travelable") {
    val t = seeded("t_restore")
    val v4Files = filePaths(t)
    spark.sql(s"DELETE FROM lake.db.$t WHERE s = 'f1'") // v5: metadata drop
    assert(spark.table(s"lake.db.$t").count() == 75L)
    val res = spark.sql(s"CALL lake.system.rollback('db.$t', 4)").collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSeq == Seq((4L, 6L, 4, 100L)))
    assert(spark.table(s"lake.db.$t").count() == 100L)
    assert(filePaths(t) == v4Files, "restore re-references, never rewrites")
    // the bad state is still history, not erased
    assert(spark.sql(s"SELECT count(*) FROM lake.db.$t VERSION AS OF 5")
      .head().getLong(0) == 75L)
    // life goes on: the next append lands on the restored state
    import spark.implicits._
    spark.range(100L, 110L).select($"id", lit(0L).as("v"), lit("f4").as("s"))
      .coalesce(1).writeTo(s"lake.db.$t").append()
    assert(spark.table(s"lake.db.$t").count() == 110L)
    intercept[Exception](
      spark.sql(s"CALL lake.system.rollback('db.$t', 99)").collect())
  }

  test("rollback reverts schema evolution without recycling field ids") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_restore_ddl (id BIGINT, v BIGINT)")
    spark.range(0, 10).select($"id", ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_restore_ddl").append() // v1
    spark.sql("ALTER TABLE lake.db.t_restore_ddl ADD COLUMN c BIGINT") // v2
    spark.range(10, 20).select($"id", lit(0L).as("v"), ($"id" + 100L).as("c"))
      .coalesce(1).writeTo("lake.db.t_restore_ddl").append() // v3
    spark.sql("CALL lake.system.rollback('db.t_restore_ddl', 1)").collect() // v4
    assert(spark.table("lake.db.t_restore_ddl").schema.fieldNames.toSeq ==
      Seq("id", "v"))
    // re-adding the SAME NAME binds a FRESH field id: the dropped
    // era's c values must not bleed into the reborn column...
    spark.sql("ALTER TABLE lake.db.t_restore_ddl ADD COLUMN c BIGINT") // v5
    assert(spark.table("lake.db.t_restore_ddl")
      .filter(col("c").isNotNull).count() == 0L)
    // ...while time travel into that era still reads them, under the
    // era's own schema
    assert(spark.sql(
      "SELECT sum(c) FROM lake.db.t_restore_ddl VERSION AS OF 3")
      .head().getLong(0) == (10L until 20L).map(_ + 100L).sum)
  }

  test("change feed across a rollback: dropped files emit deletes, dv shrinks emit resurrect-inserts") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_restore_feed (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor')")
    spark.range(0, 25).select($"id", ($"id" * 10L).as("v"))
      .coalesce(1).writeTo("lake.db.t_restore_feed").append() // v1: file A
    spark.range(25, 50).select($"id", ($"id" * 10L).as("v"))
      .coalesce(1).writeTo("lake.db.t_restore_feed").append() // v2: file B
    spark.sql("DELETE FROM lake.db.t_restore_feed WHERE id IN (3, 7)") // v3: dv on A
    spark.sql("CALL lake.system.rollback('db.t_restore_feed', 1)").collect()
    // v4 = rollback: B dropped (25 deletes), A's dv shrinks 2 -> 0
    // (ids 3 and 7 come back to life as inserts)
    assert(spark.table("lake.db.t_restore_feed").count() == 25L)
    val v4 = spark.read.table("lake.db.t_restore_feed__changes")
      .filter(col("_commit_version") === 4L)
      .select($"id", col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val expected = ((25L until 50L).map(_ -> "delete") ++
      Seq(3L -> "insert", 7L -> "insert")).sorted
    assert(v4 == expected, s"rollback change set:\n$v4")
  }

  test("partition-range-indexed planning: a pruned query parses only the matching checkpoint parts") {
    import spark.implicits._
    // small part bound → the v10 checkpoint splits per-partition;
    // entries sort by tuple at checkpoint time, so the manifest's
    // per-part value sets are disjoint
    spark.sql("""CREATE TABLE lake.db.t_partidx (id BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '3000')""".stripMargin)
    for (i <- 0 until 12) // p = i per commit; cp at v10 covers p=0..9
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id", lit(i.toLong).as("p"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_partidx").append()
    val dir = tableDir("t_partidx")
    val nParts = LakeLog.checkpointParts(dir, 10L)
    assert(nParts >= 5, s"3 KB bound must split the checkpoint: $nParts")
    // point query on the partition column: planning parses ONLY the
    // parts whose manifest range holds p=3 — snapshot load itself
    // touches just the O(1) manifest + the two post-cp deltas. (The
    // post-cp commits cached the parts they materialized — clear, so
    // the parse accounting below is exactly the COLD planning cost.)
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val bytes0 = graft.sources.LakeLog.checkpointParseBytes.get()
    // a ROW query — an aggregate here would answer from the manifest
    // census with ZERO parses and prove nothing about part pruning
    val df = spark.sql("SELECT v FROM lake.db.t_partidx WHERE p = 3")
    assert(df.collect().map(_.getLong(0)).sum == (300L until 400L).sum)
    val partReads = graft.sources.LakeLog.checkpointReads.get() - reads0
    assert(partReads == 1L,
      s"p=3 must parse exactly its own checkpoint part, got $partReads of $nParts")
    assert(graft.sources.LakeLog.checkpointParseBytes.get() - bytes0 <
      LakeLog.chunkBytes(dir, "c", 10L) / 2,
      "parse bytes must stay a fraction of the checkpoint")
    // a post-checkpoint partition (delta add, never checkpointed)
    // answers with ZERO part parses
    graft.sources.LakeLog.clearPartCache()
    val reads1 = graft.sources.LakeLog.checkpointReads.get()
    assert(spark.sql("SELECT count(*) AS n FROM lake.db.t_partidx WHERE p = 11")
      .collect().head.getLong(0) == 100L)
    assert(graft.sources.LakeLog.checkpointReads.get() == reads1,
      "post-checkpoint adds ride the deltas — no checkpoint IO at all")
    // an unpruned full scan still materializes everything exactly once
    // (collect, not count — count(*) now answers from the manifest)
    graft.sources.LakeLog.clearPartCache()
    val reads2 = graft.sources.LakeLog.checkpointReads.get()
    assert(spark.table("lake.db.t_partidx").collect().length == 1200)
    assert(graft.sources.LakeLog.checkpointReads.get() - reads2 == nParts.toLong,
      "a full scan parses each part exactly once")
    // stats ranges index too: v is NOT a partition column, but the
    // sorted layout gives disjoint per-part [lo,hi] — a v range that
    // lives in one partition parses one part
    graft.sources.LakeLog.clearPartCache()
    val reads3 = graft.sources.LakeLog.checkpointReads.get()
    assert(spark.sql(
      "SELECT count(*) AS n FROM lake.db.t_partidx WHERE v >= 520 AND v <= 530")
      .collect().head.getLong(0) == 11L)
    assert(graft.sources.LakeLog.checkpointReads.get() - reads3 == 1L,
      "integral stats ranges in the manifest prune non-partition predicates")
  }

  test("part-indexed planning stays sound across partition evolution and renames") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_evoidx (id BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '3000')""".stripMargin)
    // era 0: identity(p), one file per value — fully indexable
    for (i <- 0 until 6)
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id", lit(i.toLong).as("p"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_evoidx").append()
    spark.sql("CALL lake.system.evolve_partitioning('db.t_evoidx', 'bucket(4, id)')")
    // era 1: p becomes a plain DATA column spanning 0..5 in EVERY file
    // — the checkpoint (v10 = 6 era-0 commits + evolve + 3 era-1
    // commits) mixes eras, and any part holding an era-1 entry must
    // NOT be prunable on p (its pv only records columns every entry
    // covers; its cr range spans 0..5)
    for (i <- 0 until 5)
      spark.range(600L + i * 120L, 600L + (i + 1) * 120L)
        .select($"id", ($"id" % 6L).as("p"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_evoidx").append()
    val dir = tableDir("t_evoidx")
    assert(LakeLog.checkpointParts(dir, 10L) > 1)
    // WHERE p = 3 must return era-0 partition 3 (ids 300..399) AND the
    // era-1 rows with p=3 (ids ≡ 3 mod 6) — a wrongly pruned mixed-era
    // part silently loses the latter
    val expect = (300L until 400L) ++ (600L until 1200L).filter(_ % 6L == 3L)
    val got = spark.sql("SELECT id FROM lake.db.t_evoidx WHERE p = 3")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expect.sorted.toSeq,
      s"evolution-era rows must survive part pruning: ${got.size} vs ${expect.size}")
    // RENAME after the checkpoint: the index is keyed by stable column
    // ids, so predicates spelled with the NEW name keep pruning the
    // era-0 parts and keep every era-1 row
    spark.sql("ALTER TABLE lake.db.t_evoidx RENAME COLUMN p TO pcat")
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val df = spark.sql("SELECT id FROM lake.db.t_evoidx WHERE pcat = 3")
    val got2 = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == expect.sorted.toSeq)
    val parsed = graft.sources.LakeLog.checkpointReads.get() - reads0
    assert(parsed < LakeLog.checkpointParts(dir, 10L).toLong,
      s"id-keyed index must still prune era-0 parts under the new name: $parsed")
  }

  test("string min/max file stats: seg predicates skip files like integral ranges") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_sstats (id BIGINT, seg STRING, v BIGINT)")
    // three files with DISJOINT seg ranges (a*, g*, t*)
    for ((p, b) <- Seq(("a", 0), ("g", 1), ("t", 2)))
      spark.range(b * 100L, (b + 1) * 100L)
        .select($"id", concat(lit(p), $"id" % 10L).as("seg"), ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_sstats").append()
    val snap = LakeLog.currentSnapshot(tableDir("t_sstats")).get
    assert(snap.files.forall(_.sstats.contains("seg")),
      "every file records string [min,max] off its footer")
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    // equality, range, and IN all prune on the string ranges
    val qe = "SELECT count(*) AS n FROM lake.db.t_sstats WHERE seg = 'g5'"
    assert(spark.sql(qe).head().getLong(0) == 10L)
    assert(planOf(qe).contains("files=1/3"), s"eq:\n${planOf(qe)}")
    val qr = "SELECT count(*) AS n FROM lake.db.t_sstats WHERE seg > 'm'"
    assert(spark.sql(qr).head().getLong(0) == 100L)
    val qrScan = "SELECT id FROM lake.db.t_sstats WHERE seg > 'm'"
    assert(spark.sql(qrScan).count() == 100L)
    assert(planOf(qrScan).contains("files=1/3"), s"range:\n${planOf(qrScan)}")
    val qi = "SELECT count(*) AS n FROM lake.db.t_sstats WHERE seg IN ('a1', 'zz')"
    assert(spark.sql(qi).head().getLong(0) == 10L)
    assert(planOf(qi).contains("files=1/3"), s"IN:\n${planOf(qi)}")
    // CONSUMPTION: a range every file decides exactly keeps the
    // metadata-aggregate path open — the filtered count answers as a
    // LocalTableScan row, no data scan at all
    assert(planOf(qr).contains("LocalTableScan") && !planOf(qr).contains("BatchScan"),
      s"an exactly-decided string range must stay metadata:\n${planOf(qr)}")
    // NULL gating: a file holding matching values AND nulls decides
    // Mixed — it must be read, and the answer stays exact
    spark.range(300, 400)
      .select($"id", when($"id" % 2 === 0, concat(lit("g"), $"id" % 10L)).as("seg"),
        ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_sstats").append()
    val qn = "SELECT count(*) AS n FROM lake.db.t_sstats WHERE seg = 'g4'"
    assert(spark.sql(qn).head().getLong(0) == 20L,
      "10 from the g-file + 10 even ids ending in 4 from the nulled file")
    assert(!planOf(qn).contains("metadata-agg"),
      "a null-bearing file cannot be consumed — the scan must read it")
    // STRING MIN/MAX answers from the sstats fold — zero tasks (nulls
    // ignored, same as the integral extrema; chunk binary stats are
    // exact values, parquet drops oversized ones rather than truncate)
    val qsm = "SELECT min(seg) AS lo, max(seg) AS hi FROM lake.db.t_sstats"
    assert(spark.sql(qsm).head() match {
      case r => r.getString(0) == "a0" && r.getString(1) == "t9" })
    assert(planOf(qsm).contains("LocalTableScan") && !planOf(qsm).contains("BatchScan"),
      s"string extrema must answer from metadata:\n${planOf(qsm)}")
    // filtered by a consumed prefix: extrema over the decided files only
    val qsf = "SELECT max(seg) AS hi FROM lake.db.t_sstats WHERE seg LIKE 'a%'"
    assert(spark.sql(qsf).head().getString(0) == "a9")
    assert(planOf(qsf).contains("LocalTableScan"), s"prefix+max:\n${planOf(qsf)}")
    // and the string ranges index CHECKPOINT PARTS too: 12 seg-ordered
    // commits, small parts — a point probe parses a strict subset
    spark.sql("""CREATE TABLE lake.db.t_sspart (id BIGINT, seg STRING)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '700')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 40L, (b + 1) * 40L)
        .select($"id", concat(lit(f"w$b%02d_"), $"id" % 7L).as("seg"))
        .coalesce(1).writeTo("lake.db.t_sspart").append()
    val nParts = LakeLog.checkpointParts(tableDir("t_sspart"), 10L)
    assert(nParts > 2, s"got $nParts")
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val dfp = spark.sql("SELECT count(*) AS n FROM lake.db.t_sspart WHERE seg = 'w03_5'")
    assert(dfp.collect().head.getLong(0) == 6L) // ids 120..159 with id%7==5
    val parsed = graft.sources.LakeLog.checkpointReads.get() - reads0
    assert(parsed < nParts.toLong,
      s"string part ranges must prune manifest parts: $parsed of $nParts")
  }

  test("prefix predicates join the string algebra: LIKE 'v%' skips files, prunes parts, keeps metadata aggregates") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_pfx (id BIGINT, seg STRING, v BIGINT)")
    // three files with DISJOINT seg prefix domains (a*, g*, t*)
    for ((p, b) <- Seq(("a", 0), ("g", 1), ("t", 2)))
      spark.range(b * 100L, (b + 1) * 100L)
        .select($"id", concat(lit(p), $"id" % 10L).as("seg"), ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_pfx").append()
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    // a prefix LIKE is the byte range [v, succ(v)): the g-file alone
    // survives skipping, and since every file decides EXACTLY, the
    // filtered aggregate stays metadata-only (zero tasks)
    val qs = "SELECT id FROM lake.db.t_pfx WHERE seg LIKE 'g%'"
    assert(spark.sql(qs).count() == 100L)
    assert(planOf(qs).contains("files=1/3"), s"prefix skip:\n${planOf(qs)}")
    val qc = "SELECT count(*) AS n FROM lake.db.t_pfx WHERE seg LIKE 'g%'"
    assert(spark.sql(qc).head().getLong(0) == 100L)
    assert(planOf(qc).contains("LocalTableScan") && !planOf(qc).contains("BatchScan"),
      s"an exactly-decided prefix keeps the metadata path:\n${planOf(qc)}")
    // a prefix SPLITTING a file decides Mixed — read, exact answer
    val qm = "SELECT count(*) AS n FROM lake.db.t_pfx WHERE seg LIKE 'g5%'"
    assert(spark.sql(qm).head().getLong(0) == 10L)
    assert(planOf(qm).contains("BatchScan"), s"split prefix reads:\n${planOf(qm)}")
    // no match: every file skips, zero-split scan
    assert(spark.sql("SELECT id FROM lake.db.t_pfx WHERE seg LIKE 'zz%'")
      .count() == 0L)
    // identity STRING partitions decide prefixes from the tuple alone
    spark.sql("""CREATE TABLE lake.db.t_pfxpart (id BIGINT, seg STRING)
      |PARTITIONED BY (seg)""".stripMargin)
    spark.range(0, 120)
      .select($"id", concat(lit("s"), $"id" % 12).as("seg"))
      .writeTo("lake.db.t_pfxpart").append()
    val qp = "SELECT id FROM lake.db.t_pfxpart WHERE seg LIKE 's1%'"
    assert(spark.sql(qp).count() == 30L, "s1, s10, s11")
    assert(planOf(qp).contains("files=3/12"), s"tuple prefix:\n${planOf(qp)}")
    assert(spark.sql(qp).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
      "an exactly-decided prefix leaves no residual filter")
    // and prefixes prune CHECKPOINT PARTS: 12 seg-ordered commits,
    // small parts — a prefix probe parses a strict subset
    spark.sql("""CREATE TABLE lake.db.t_pfxcp (id BIGINT, seg STRING)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '700')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 40L, (b + 1) * 40L)
        .select($"id", concat(lit(f"w$b%02d_"), $"id" % 7L).as("seg"))
        .coalesce(1).writeTo("lake.db.t_pfxcp").append()
    val nParts = LakeLog.checkpointParts(tableDir("t_pfxcp"), 10L)
    assert(nParts > 2, s"got $nParts")
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val dfp = spark.sql("SELECT count(*) AS n FROM lake.db.t_pfxcp WHERE seg LIKE 'w03%'")
    assert(dfp.collect().head.getLong(0) == 40L)
    val parsed = graft.sources.LakeLog.checkpointReads.get() - reads0
    assert(parsed < nParts.toLong,
      s"prefix part ranges must prune manifest parts: $parsed of $nParts")
    // a decided prefix DELETE on MOR is a metadata-only whole-file drop
    spark.sql("""CREATE TABLE lake.db.t_pfxdel (id BIGINT, seg STRING)
      |TBLPROPERTIES ('mode' = 'mor')""".stripMargin)
    for ((p, b) <- Seq(("a", 0), ("g", 1)))
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", concat(lit(p), $"id" % 5L).as("seg"))
        .coalesce(1).writeTo("lake.db.t_pfxdel").append()
    val keep = LakeLog.currentSnapshot(tableDir("t_pfxdel")).get.files
      .filter(_.sstats("seg")._1.startsWith("a")).map(_.path)
    spark.sql("DELETE FROM lake.db.t_pfxdel WHERE seg LIKE 'g%'")
    val after = LakeLog.currentSnapshot(tableDir("t_pfxdel")).get.files
    assert(after.map(_.path) == keep && after.forall(_.dv.isEmpty),
      "prefix delete drops the decided file from the log, no dv, no rewrite")
    assert(spark.table("lake.db.t_pfxdel").count() == 50L)
  }

  test("lazy parted snapshots serve time travel exactly: below, at, and above the checkpoint") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_ttparted (id BIGINT, v BIGINT)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '2048')""".stripMargin)
    for (b <- 0 until 14) // checkpoint at v10, deltas to v14
      spark.range(b * 20L, (b + 1) * 20L).select($"id", ($"id" * 3L).as("v"))
        .coalesce(1).writeTo("lake.db.t_ttparted").append()
    assert(LakeLog.checkpointParts(tableDir("t_ttparted"), 10L) > 1)
    def ids(version: Long): Seq[Long] = spark.sql(
      s"SELECT id FROM lake.db.t_ttparted VERSION AS OF $version")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(7L) == (0L until 140L), "below the checkpoint: delta fold from v0")
    assert(ids(10L) == (0L until 200L), "at the checkpoint: the parted snapshot")
    assert(ids(13L) == (0L until 260L), "above: parted base + delta adds")
    // a mutation after the checkpoint: the kill set applies lazily
    spark.sql("DELETE FROM lake.db.t_ttparted WHERE id < 20") // drops v1's file
    assert(spark.table("lake.db.t_ttparted").collect()
      .map(_.getLong(0)).sorted.toSeq == (20L until 280L))
    assert(ids(10L) == (0L until 200L), "history is untouched by the delete")
  }

  test("checkpoint-part LRU: a repeated point query parses its part once; the second serve is a hit") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_cplru (id BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '3000')""".stripMargin)
    for (i <- 0 until 12)
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id", lit(i.toLong).as("p"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_cplru").append()
    assert(LakeLog.checkpointParts(tableDir("t_cplru"), 10L) >= 5)
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val hits0 = graft.sources.LakeLog.checkpointCacheHits.get()
    // a ROW query — an aggregate would answer from the manifest census
    // without touching parts, leaving the LRU unexercised
    def point(): Long = spark.sql(
      "SELECT v FROM lake.db.t_cplru WHERE p = 3")
      .collect().map(_.getLong(0)).sum
    // cold: the ONE matching part parses; nothing hits
    assert(point() == (300L until 400L).sum)
    assert(graft.sources.LakeLog.checkpointReads.get() - reads0 == 1L &&
      graft.sources.LakeLog.checkpointCacheHits.get() - hits0 == 0L,
      "cold point query: one parse, zero hits")
    // hot: the identical query PARSES NOTHING — on object storage this
    // is the hot table's per-query part re-fetch, gone
    assert(point() == (300L until 400L).sum)
    assert(graft.sources.LakeLog.checkpointReads.get() - reads0 == 1L,
      "the part must parse exactly ONCE across both queries")
    assert(graft.sources.LakeLog.checkpointCacheHits.get() - hits0 == 1L,
      "the second serve is a cache hit")
    // a NEW commit = a new snapshot fold, but the same immutable part
    // still serves from cache (keys carry the checkpoint version)
    spark.range(1200, 1300).select($"id", lit(12L).as("p"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_cplru").append()
    val readsBefore = graft.sources.LakeLog.checkpointReads.get()
    assert(point() == (300L until 400L).sum)
    assert(graft.sources.LakeLog.checkpointReads.get() == readsBefore,
      "the append must not invalidate the untouched part")
  }

  test("grouped manifest count: GROUP BY a tuple-pure partition column answers with zero part IO; mixed parts parse") {
    import spark.implicits._
    // TWO partition values × 6 files each; a 1-byte part bound makes
    // every checkpoint part a single entry — trivially tuple-PURE
    // (any value-aligned split works; single-entry keeps the fixture
    // independent of serialized entry size)
    spark.sql("""CREATE TABLE lake.db.t_gmc (id BIGINT, p BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", lit(b % 2L).as("p"))
        .coalesce(1).writeTo("lake.db.t_gmc").append()
    assert(LakeLog.checkpointParts(tableDir("t_gmc"), 10L) > 1)
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val hits0 = graft.sources.LakeLog.checkpointCacheHits.get()
    val df = spark.sql(
      "SELECT p, count(*) AS n FROM lake.db.t_gmc GROUP BY p ORDER BY p")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq(0L -> 300L, 1L -> 300L))
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"grouped census must be metadata-only:\n${df.queryExecution.executedPlan}")
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0 &&
      graft.sources.LakeLog.checkpointCacheHits.get() == hits0,
      "tuple-pure parts answer the grouped census from the manifest: zero part IO")
    // MIXED parts (one value per commit, several values per part) fall
    // back to the parsed path — still exact, parts pay their parse
    spark.sql("""CREATE TABLE lake.db.t_gmcmix (id BIGINT, p BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '3000')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", lit(b.toLong).as("p"))
        .coalesce(1).writeTo("lake.db.t_gmcmix").append()
    graft.sources.LakeLog.clearPartCache()
    val reads1 = graft.sources.LakeLog.checkpointReads.get()
    val dfm = spark.sql(
      "SELECT p, count(*) AS n FROM lake.db.t_gmcmix GROUP BY p")
    assert(dfm.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 12L).map(_ -> 50L))
    assert(graft.sources.LakeLog.checkpointReads.get() > reads1,
      "mixed parts must parse — purity is the gate, never a guess")
    // a removal invalidates the shortcut on the pure table too
    spark.sql("DELETE FROM lake.db.t_gmc WHERE id < 50")
    assert(spark.sql(
      "SELECT p, count(*) AS n FROM lake.db.t_gmc GROUP BY p ORDER BY p")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq(0L -> 250L, 1L -> 300L), "kills force the parsed path, still exact")
  }

  test("__parts census: the manifest's per-part index as rows, zero part parses") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_ptscensus (id BIGINT, p BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", lit(b % 2L).as("p"))
        .coalesce(1).writeTo("lake.db.t_ptscensus").append()
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val rows = spark.table("lake.db.t_ptscensus__parts")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getString(4), r.getString(6), r.getBoolean(8)))
      .sortBy(_._2).toSeq
    // one row per part of the v10 checkpoint: single-entry parts, live
    // totals, identity value sets, folded id ranges — current names
    assert(rows.size == 10 && rows.forall(_._1 == 10L))
    assert(rows.map(_._2) == (0 until 10) && rows.forall(_._3 == 1))
    assert(rows.forall(_._4 == 50L))
    assert(rows.count(_._5 == "p=0") == 5 && rows.count(_._5 == "p=1") == 5,
      s"got ${rows.map(_._5)}")
    assert(rows.forall(r => r._6.contains("id=[") && r._6.contains("p=[")),
      s"got ${rows.head._6}")
    assert(rows.forall(_._7), "dv-free parts report so — the census gate")
    // the census reads the O(1) manifest only — it never costs what
    // it measures
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0,
      "__parts must not parse checkpoint parts")
    // a pre-checkpoint table has no parts — empty census, not an error
    spark.sql("CREATE TABLE lake.db.t_ptsnone (id BIGINT)")
    spark.range(0, 5).coalesce(1).writeTo("lake.db.t_ptsnone").append()
    assert(spark.table("lake.db.t_ptsnone__parts").count() == 0L)
  }

  test("manifest aggregate census: grouped SUM/COUNT/AVG/MIN/MAX answer from the per-part folds, zero part IO") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_mac (id BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", lit(b % 2L).as("p"),
          when($"id" % 7 =!= 0, $"id" * 3L).as("v"))
        .coalesce(1).writeTo("lake.db.t_mac").append()
    assert(LakeLog.checkpointParts(tableDir("t_mac"), 10L) == 10)
    def truth(p: Long): Seq[Long] = (0 until 12).filter(_ % 2 == p)
      .flatMap(b => (b * 50L) until ((b + 1) * 50L))
      .filter(_ % 7 != 0).map(_ * 3L)
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val hits0 = graft.sources.LakeLog.checkpointCacheHits.get()
    val df = spark.sql(
      """SELECT p, count(*) AS n, count(v) AS nv, sum(v) AS sv,
        |  min(v) AS lo, max(v) AS hi, avg(v) AS av
        |FROM lake.db.t_mac GROUP BY p ORDER BY p""".stripMargin)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == Seq(0L, 1L).map { p =>
      val t = truth(p)
      (p, 300L, t.size.toLong, t.sum, t.min, t.max, t.sum.toDouble / t.size)
    }, s"got $got")
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"the grouped census must be metadata:\n${df.queryExecution.executedPlan}")
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0 &&
      graft.sources.LakeLog.checkpointCacheHits.get() == hits0,
      "the per-part folds answer every aggregate: ZERO part IO")
    // ungrouped rides the same folds
    val reads1 = graft.sources.LakeLog.checkpointReads.get()
    val one = spark.sql(
      "SELECT sum(v) AS sv, avg(v) AS av, min(id) AS lo FROM lake.db.t_mac")
      .head()
    val all = truth(0) ++ truth(1)
    assert(one.getLong(0) == all.sum && one.getLong(2) == 0L)
    assert(graft.sources.LakeLog.checkpointReads.get() == reads1,
      "ungrouped census: zero parses too")
    // a CHECKPOINTED dv poisons only ITS part's extrema/sums — count(*)
    // still folds; the other aggregates take the parsed path, exact
    spark.sql("""CREATE TABLE lake.db.t_macdv (id BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '1', 'mode' = 'mor')""".stripMargin)
    for (b <- 0 until 6)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", lit(b % 2L).as("p"), ($"id" * 3L).as("v"))
        .coalesce(1).writeTo("lake.db.t_macdv").append()
    spark.sql("DELETE FROM lake.db.t_macdv WHERE id = 10") // dv, pre-checkpoint
    for (b <- 6 until 12)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", lit(b % 2L).as("p"), ($"id" * 3L).as("v"))
        .coalesce(1).writeTo("lake.db.t_macdv").append()
    graft.sources.LakeLog.clearPartCache()
    val reads2 = graft.sources.LakeLog.checkpointReads.get()
    val cnt = spark.sql(
      "SELECT p, count(*) AS n FROM lake.db.t_macdv GROUP BY p ORDER BY p")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cnt == Seq(0L -> 299L, 1L -> 300L), s"got $cnt")
    assert(graft.sources.LakeLog.checkpointReads.get() == reads2,
      "count(*) folds from liveRows even across a dv'd part")
    val mn = spark.sql("SELECT min(v) AS lo FROM lake.db.t_macdv")
    assert(mn.collect().head.getLong(0) == 0L)
    assert(graft.sources.LakeLog.checkpointReads.get() > reads2,
      "extrema across a dv'd part refuse the fold (sentinel dv) and parse")
  }

  test("filtered manifest census: a consumed partition predicate decides whole parts — zero part IO end to end") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_fmc (id BIGINT, seg BIGINT, v BIGINT)
      |PARTITIONED BY (seg) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", lit(b % 3L).as("seg"), ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_fmc").append()
    assert(LakeLog.checkpointParts(tableDir("t_fmc"), 10L) == 10)
    def truth(s: Long): Seq[Long] = (0 until 12).filter(_ % 3 == s)
      .flatMap(b => (b * 50L) until ((b + 1) * 50L)).map(_ * 2L)
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val hits0 = graft.sources.LakeLog.checkpointCacheHits.get()
    val df = spark.sql(
      """SELECT count(*) AS n, sum(v) AS sv, min(v) AS lo, max(v) AS hi
        |FROM lake.db.t_fmc WHERE seg = 1""".stripMargin)
    val r = df.collect().head
    val t1 = truth(1L)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (t1.size.toLong, t1.sum, t1.min, t1.max), s"got $r")
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"filtered census must be metadata:\n${df.queryExecution.executedPlan}")
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0 &&
      graft.sources.LakeLog.checkpointCacheHits.get() == hits0,
      "whole-part predicate decisions answer the filtered census: zero part IO")
    // a predicate no partition matches: zero-row/empty answers from
    // the manifest alone
    val zero = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM lake.db.t_fmc WHERE seg = 9")
      .collect().head
    assert(zero.getLong(0) == 0L && zero.isNullAt(1))
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0,
      "a no-match predicate still needs no part IO")
    // a MID-PART range (Mixed on some part) falls through and parses —
    // exactness over metadata is the gate, never a guess
    val mixed = spark.sql(
      "SELECT count(*) AS n FROM lake.db.t_fmc WHERE v >= 100 AND v <= 111")
    assert(mixed.collect().head.getLong(0) == 6L)
    assert(graft.sources.LakeLog.checkpointReads.get() > reads0,
      "a part-splitting predicate must parse")
  }

  test("time-bucket filtered census: bucket-aligned predicates answer from the manifest on a trunc table") {
    import spark.implicits._
    // the q103/q104 ingest layout: one day-bucket per commit — parts
    // are pure per bucket, and the manifest records the pure ordinals
    spark.sql("""CREATE TABLE lake.db.t_tvc (ts BIGINT, v BIGINT)
      |PARTITIONED BY (trunc(100, ts))
      |TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (b <- 0 until 12)
      spark.range(b * 100L, b * 100L + 100L)
        .select($"id".as("ts"), ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_tvc").append()
    assert(LakeLog.checkpointParts(tableDir("t_tvc"), 10L) == 10)
    graft.sources.LakeLog.clearPartCache()
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val hits0 = graft.sources.LakeLog.checkpointCacheHits.get()
    // "yesterday's" bucket, bound-aligned: every part decides whole
    val df = spark.sql(
      """SELECT count(*) AS n, sum(v) AS sv, min(v) AS lo, max(v) AS hi
        |FROM lake.db.t_tvc WHERE ts >= 100 AND ts < 200""".stripMargin)
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (100L, (100L until 200L).map(_ * 2L).sum, 200L, 398L), s"got $r")
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"bucket-aligned census must be metadata:\n${df.queryExecution.executedPlan}")
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0 &&
      graft.sources.LakeLog.checkpointCacheHits.get() == hits0,
      "the manifest's pure ordinals + ranges answer with zero part IO")
    // a retention-style tail predicate spanning checkpointed buckets
    // AND the post-checkpoint adds still folds with no part IO
    val tail = spark.sql(
      "SELECT count(*) AS n FROM lake.db.t_tvc WHERE ts >= 900").collect().head
    assert(tail.getLong(0) == 300L)
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0,
      "checkpointed buckets decide from cr; adds fold in memory")
    // a MID-BUCKET bound splits parts — falls through and parses, exact
    val mid = spark.sql(
      "SELECT count(*) AS n FROM lake.db.t_tvc WHERE ts >= 150 AND ts < 250")
    assert(mid.collect().head.getLong(0) == 100L)
    assert(graft.sources.LakeLog.checkpointReads.get() > reads0,
      "a bucket-splitting predicate must parse")
    // __parts surfaces the pure ordinals operators rely on
    val tvs = spark.table("lake.db.t_tvc__parts")
      .collect().map(_.getString(5)).sorted.toSeq
    assert(tvs == (0 until 10).map(b => s"ts=$b").sorted, s"got $tvs")
  }

  test("manifest-only count(*): zero part parses while no removal touched the checkpoint") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_mfcount (id BIGINT, v BIGINT)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '2048')""".stripMargin)
    for (b <- 0 until 12) // checkpoint at v10, two append deltas on top
      spark.range(b * 50L, (b + 1) * 50L).select($"id", ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_mfcount").append()
    assert(LakeLog.checkpointParts(tableDir("t_mfcount"), 10L) > 1)
    val reads0 = graft.sources.LakeLog.checkpointReads.get()
    val dfc = spark.sql("SELECT count(*) FROM lake.db.t_mfcount")
    assert(dfc.collect().head.getLong(0) == 600L)
    assert(graft.sources.LakeLog.checkpointReads.get() == reads0,
      "the count folds from the O(1) manifest + delta adds — no part parses")
    // a removal invalidates the shortcut: the kill set would subtract
    // unknown counts — the parsed path takes over, still exact
    spark.sql("DELETE FROM lake.db.t_mfcount WHERE id < 50")
    graft.sources.LakeLog.clearPartCache() // the DELETE's commit cached them
    val dfc2 = spark.sql("SELECT count(*) FROM lake.db.t_mfcount")
    assert(dfc2.collect().head.getLong(0) == 550L)
    assert(graft.sources.LakeLog.checkpointReads.get() > reads0,
      "with kills the parts must parse")
  }

  test("bloom sidecars bound the log: entries stay small, probes decode only stats-surviving candidates, vacuum reclaims sidecars") {
    import spark.implicits._
    import graft.sources.LakeParquet
    // same data three times: sidecar (default) vs bloom_inline vs NO
    // blooms — the third isolates the BLOOM bytes inside the log from
    // the base entry cost (stats + KMV sketches)
    for ((t, props) <- Seq(("t_bsc", "'bloomBy' = 'k'"),
        ("t_binl", "'bloomBy' = 'k', 'bloom_inline' = 'true'"),
        ("t_bnone", "'mode' = 'cow'")))
      spark.sql(s"""CREATE TABLE lake.db.$t (id BIGINT, k BIGINT, v BIGINT)
        |TBLPROPERTIES ($props)""".stripMargin)
    // k sprays the full [0, 100003) domain inside EVERY file (sentinel
    // rows pin each file's range to [0, 100002]) — min/max stats can
    // never prune on k, only the blooms can; kv below is unique to
    // file 2 (48271 invertible mod the prime 100003)
    val kCol = when($"id" % 100L === 0L, 0L)
      .when($"id" % 100L === 99L, 100002L)
      .otherwise(($"id" * 48271L) % 100003L)
    val kv = 251L * 48271L % 100003L // id=251 → file 2
    for (t <- Seq("t_bsc", "t_binl", "t_bnone"); i <- 0 until 10) // checkpoint at v10
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id", kCol.as("k"), $"id".as("v"))
        .coalesce(1).writeTo(s"lake.db.$t").append()
    // the log-size claim, measured on the BLOOM bytes themselves
    // (identical base entries cancel): inline carries ~11 KB of base64
    // per file, the sidecar ~30 bytes of column names — a ≥50× drop
    val cpSidecar = LakeLog.chunkBytes(tableDir("t_bsc"), "c", 10L)
    val cpInline = LakeLog.chunkBytes(tableDir("t_binl"), "c", 10L)
    val cpNone = LakeLog.chunkBytes(tableDir("t_bnone"), "c", 10L)
    val bloomInlineBytes = cpInline - cpNone
    val bloomSidecarBytes = math.max(1L, cpSidecar - cpNone)
    assert(bloomInlineBytes > 10L * 10000L,
      s"inline blooms must cost ~11 KB per file in the log: $bloomInlineBytes")
    assert(bloomInlineBytes > 50L * bloomSidecarBytes,
      s"sidecars must shrink the log's bloom bytes ≥50×: " +
        s"inline=$bloomInlineBytes sidecar=$bloomSidecarBytes")
    // both placements prune identically
    for (t <- Seq("t_bsc", "t_binl")) {
      val df = spark.sql(s"SELECT v FROM lake.db.$t WHERE k = $kv") // file 2
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("files=1/10"), s"$t:\n$plan")
      assert(df.head().getLong(0) == 251L)
    }
    // LAZY decode: only candidates that survive stats skipping pay a
    // sidecar read — a v-range that stats-prunes to 3 files probes 3
    // slots, not 10
    val loads0 = LakeParquet.bloomSidecarLoads.get()
    val dfc = spark.sql(s"SELECT count(*) AS n FROM lake.db.t_bsc " +
      s"WHERE v >= 700 AND k = $kv") // file 2 is stats-pruned on v
    val planC = dfc.queryExecution.executedPlan.toString
    assert(planC.contains("files=0/10"), planC)
    // collect() executes THIS queryExecution — head() would wrap a new
    // limit(1) plan and re-probe, double-counting the loads
    assert(dfc.collect().head.getLong(0) == 0L)
    assert(LakeParquet.bloomSidecarLoads.get() - loads0 == 3L,
      s"only the 3 stats survivors may decode: ${LakeParquet.bloomSidecarLoads.get() - loads0}")
    // sidecars live and die with their data files: a COW rewrite
    // supersedes every file, vacuum reclaims old sidecars with them
    spark.sql("DELETE FROM lake.db.t_bsc WHERE id % 2 = 0")
    spark.sql("CALL lake.system.vacuum('db.t_bsc', 1)").collect()
    val live = LakeLog.currentSnapshot(tableDir("t_bsc")).get.files.map(_.path).toSet
    import scala.jdk.CollectionConverters._
    val onDisk = scala.util.Using.resource(
      Files.list(tableDir("t_bsc").resolve("data")))(
      _.iterator().asScala.map(p => "data/" + p.getFileName.toString).toSet)
    assert(onDisk.filter(_.endsWith(".bloom")) ==
      live.map(_ + ".bloom"), "exactly the live files' sidecars remain")
    assert(spark.sql(s"SELECT v FROM lake.db.t_bsc WHERE k = $kv")
      .head().getLong(0) == 251L, "rewritten files' sidecars still probe")
  }

  test("maxBytesPerTrigger paces streaming admission off the log's file sizes; a commit never splits") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_bytepace (id BIGINT, v BIGINT, s STRING)")
    for (b <- 0 until 6) // 6 one-file append commits of near-equal size
      spark.range(b * 100L, (b + 1) * 100L)
        .select($"id", ($"id" * 2L).as("v"), lit(s"slice$b").as("s"))
        .coalesce(1).writeTo("lake.db.t_bytepace").append()
    val files = LakeLog.currentSnapshot(tableDir("t_bytepace")).get.files
    assert(files.size == 6 && files.forall(_.bytes > 0L))
    val b = files.map(_.bytes).max
    def drain(budget: Long): Seq[Long] = {
      val ckpt = Files.createTempDirectory("bytepace-ckpt").toString
      val name = s"bytepace${budget}"
      val q = spark.readStream
        .option("maxBytesPerTrigger", budget.toString)
        .table("lake.db.t_bytepace")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.table(name).count() == 600L, "pacing must never lose rows")
      q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0L)
    }
    // ~2.2 file-sizes of budget: two whole versions per micro-batch
    val twoPer = drain(b * 2L + b / 5L)
    assert(twoPer == Seq(200L, 200L, 200L),
      s"a 2.2-file budget must admit exactly two commits per batch: $twoPer")
    // a budget SMALLER than any single commit still admits one whole
    // version per batch — version boundaries hold, the stream never
    // stalls, and a commit is never split
    val onePer = drain(b / 2L)
    assert(onePer == Seq.fill(6)(100L),
      s"an undersized budget must admit one whole commit per batch: $onePer")
  }

  test("a paced streaming drain opens each footer once: epoch commits reuse write-task stats, never re-open accumulated files") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_ftbudget (id BIGINT, p BIGINT)")
    for (b <- 0 until 6) // 6 one-file commits to drain epoch-by-epoch
      spark.range(b * 50L, (b + 1) * 50L)
        .select($"id", ($"id" % 3L).as("p"))
        .coalesce(1).writeTo("lake.db.t_ftbudget").append()
    spark.sql("""CREATE TABLE lake.db.t_ftdst (id BIGINT, p BIGINT)
      |PARTITIONED BY (p)""".stripMargin)
    val opens0 = graft.sources.LakeParquet.footerStatOpens.get()
    val ckpt = Files.createTempDirectory("ftbudget-ckpt").toString
    // budget 1 byte → every epoch admits exactly ONE whole source
    // commit: 6 epoch commits against an accumulating destination
    spark.readStream.option("maxBytesPerTrigger", "1")
      .table("lake.db.t_ftbudget")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("lake.db.t_ftdst").awaitTermination()
    assert(spark.table("lake.db.t_ftdst").count() == 300L)
    val dstFiles = LakeLog.currentSnapshot(tableDir("t_ftdst")).get.files.size
    assert(dstFiles >= 12, s"6 epochs × 3 partitions should split: $dstFiles")
    // the footer-trip budget: stats are computed ONCE per file by the
    // write task and ride LakeFileMessage into every later epoch's
    // commit — a sink re-opening accumulated files would show here as
    // O(files × epochs)
    val opens = graft.sources.LakeParquet.footerStatOpens.get() - opens0
    assert(opens == dstFiles.toLong,
      s"each destination file's footer opens exactly once: $opens opens for $dstFiles files")
  }

  test("ADD CONSTRAINT validates the TRUE head, not the WAP-pinned view") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_wapcon (k BIGINT, v BIGINT)")
    spark.range(1, 4).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_wapcon").append()
    // open a staging branch: the DEFAULT view pins at v1 while new
    // commits land on the branch (the true head)
    spark.sql("CALL lake.system.branch('db.t_wapcon', 'wap')").collect()
    spark.range(0, 1).select(lit(9L).as("k"), lit(-1L).as("v"))
      .coalesce(1).writeTo("lake.db.t_wapcon").append()
    assert(spark.table("lake.db.t_wapcon").count() == 3L,
      "the staged (violating) row must be invisible to the pinned view")
    // the enforced CHECK must validate against the TRUE head — the
    // staged row violates it, so the ADD refuses even though the
    // pinned default view is clean (otherwise publish would expose
    // violating rows under a constraint reported as enforced)
    val err = intercept[Exception](spark.sql(
      "ALTER TABLE lake.db.t_wapcon ADD CONSTRAINT v_pos CHECK (v > 0)"))
    assert(err.getMessage.contains("violate") ||
      Option(err.getCause).exists(_.getMessage.contains("violate")),
      s"got: ${err.getMessage}")
    // after publish + repair of the head, the same ADD succeeds
    spark.sql("CALL lake.system.publish('db.t_wapcon', 'wap')").collect()
    spark.sql("DELETE FROM lake.db.t_wapcon WHERE v <= 0")
    spark.sql("ALTER TABLE lake.db.t_wapcon ADD CONSTRAINT v_pos CHECK (v > 0)")
    intercept[Exception](
      spark.range(0, 1).select(lit(8L).as("k"), lit(0L).as("v"))
        .coalesce(1).writeTo("lake.db.t_wapcon").append())
    assert(spark.table("lake.db.t_wapcon").count() == 3L)
  }

  test("checkpoint integrity: parts stay byte-bounded on disk; a manifest-referenced missing part fails loudly; bad bound rejected at DDL") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_cpint (id BIGINT, v BIGINT, s STRING)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '2048')""".stripMargin)
    for (b <- 0 until 12) // checkpoint lands at v10
      spark.range(b * 10L, (b + 1) * 10L)
        .select($"id", ($"id" * 2L).as("v"), lit(s"f$b").as("s"))
        .coalesce(2).writeTo("lake.db.t_cpint").append()
    val dir = tableDir("t_cpint")
    val nParts = LakeLog.checkpointParts(dir, 10L)
    assert(nParts > 1, s"2 KB bound must split 24 entries: $nParts")
    // parts publish COMPACTLY with the same serialization the split
    // measured — a multi-entry part never exceeds the configured bound
    // by more than the JSON wrapper (pretty-printing would blow this)
    val logDir = dir.resolve("_log")
    val partFiles = (0 until nParts)
      .map(p => logDir.resolve(f"c${10L}%08d.p$p%04d.json"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    partFiles.foreach { p =>
      val entries = mapper.readTree(Files.readAllBytes(p)).get("files").size()
      if (entries >= 2)
        assert(Files.size(p) <= 2048L + 128L,
          s"part $p: ${Files.size(p)} bytes for $entries entries " +
            "exceeds the configured bound")
    }
    // a non-numeric bound is rejected where it is SET, not at the
    // checkpoint write long after the DDL reported success
    val createErr = intercept[Exception](spark.sql(
      """CREATE TABLE lake.db.t_cpbad (id BIGINT)
        |TBLPROPERTIES ('checkpoint_part_bytes' = 'lots')""".stripMargin))
    assert(createErr.getMessage.contains("positive integer"))
    val alterErr = intercept[Exception](spark.sql(
      "ALTER TABLE lake.db.t_cpint SET TBLPROPERTIES ('checkpoint_part_bytes' = '-4')"))
    assert(alterErr.getMessage.contains("positive integer") ||
      Option(alterErr.getCause).exists(_.getMessage.contains("positive integer")))
    // a part the manifest references going missing must fail the read
    // LOUDLY — silently reconstructing a truncated snapshot would
    // serve wrong answers (the legacy inline checkpoint failed
    // atomically; multi-part must too)
    Files.delete(partFiles.head)
    // cached copies of the part legitimately serve (immutable content);
    // the MISSING-file path needs a cold cache
    graft.sources.LakeLog.clearPartCache()
    // collect, not count — a manifest-answered count(*) legitimately
    // never touches the parts; a ROW read must fail loudly
    val err = intercept[Throwable](spark.table("lake.db.t_cpint").collect())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(err).exists(t => t.getMessage != null &&
      t.getMessage.contains("missing part")), s"got: $err")
  }

  test("system.health: clean table all-ok; marker, orphan parts, and deep physical damage each surface") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_health (id BIGINT, k BIGINT)
      |TBLPROPERTIES ('bloomBy' = 'k', 'mode' = 'mor')""".stripMargin)
    for (b <- 0 until 12) // past the checkpoint; bloom sidecars + a dv
      spark.range(b * 10L, (b + 1) * 10L).select($"id", ($"id" * 17L).as("k"))
        .coalesce(1).writeTo("lake.db.t_health").append()
    spark.sql("DELETE FROM lake.db.t_health WHERE id = 5") // dv on file 1
    def probe(deep: Boolean) = spark.sql(
      s"CALL lake.system.health('db.t_health', $deep)").head()
    val clean = probe(deep = true)
    assert(clean.getBoolean(0) && clean.isNullAt(2),
      s"a healthy table probes ok: $clean")
    assert((3 to 8).forall(i => clean.getInt(i) == 0), s"got $clean")
    val dir = tableDir("t_health")
    // an ORPHANED checkpoint part (manifest vacuumed first, part left)
    Files.write(dir.resolve("_log").resolve("c00000099.p0000.json"),
      "{}".getBytes)
    // a failed checkpoint leaves the durable marker (checkpoints fire
    // at version multiples of 10 — appends run v14..v20 under the
    // injected fault, so v20's attempt fails and records)
    graft.sources.LakeLog.checkpointFault = Some(("t_health", "injected"))
    try for (b <- 13 until 20)
      spark.range(b * 10L, (b + 1) * 10L).select($"id", ($"id" * 17L).as("k"))
        .coalesce(1).writeTo("lake.db.t_health").append()
    finally graft.sources.LakeLog.checkpointFault = None
    val shallow = probe(deep = false)
    assert(!shallow.getBoolean(0), s"got $shallow")
    assert(shallow.getString(2).contains("injected"), "marker surfaces")
    assert(shallow.getInt(3) == 1, s"orphan part counted: $shallow")
    assert(shallow.getInt(5) == 0, "shallow never stats data files")
    // DEEP: physical damage — a data file and a sidecar go missing
    val victim = LakeLog.currentSnapshot(dir).get.files.head
    Files.delete(dir.resolve(victim.path))
    Files.deleteIfExists(dir.resolve(victim.path + ".bloom"))
    graft.sources.LakeLog.clearPartCache()
    val deepRow = probe(deep = true)
    assert(!deepRow.getBoolean(0) && deepRow.getInt(5) == 1,
      s"missing data file surfaces: $deepRow")
    assert(deepRow.getInt(8) >= 1, s"missing sidecar surfaces: $deepRow")
  }

  test("CHECK constraints re-validate rewritten rows: violating UPDATE / MERGE aborts with nothing landed") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE lake.db.t_checkrw (k BIGINT, v BIGINT,
        |CONSTRAINT v_pos CHECK (v > 0))""".stripMargin)
    spark.range(1, 6).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_checkrw").append()
    def state(): Seq[(Long, Long)] = spark.table("lake.db.t_checkrw")
      .as[(Long, Long)].collect().sorted.toSeq
    val before = state()
    // a COW UPDATE rewrites whole files — the rewritten rows go back
    // through the write path, so a violating SET aborts the rewrite
    val upErr = intercept[Exception](
      spark.sql("UPDATE lake.db.t_checkrw SET v = -1 WHERE k = 3"))
    assert(upErr.toString.contains("v_pos") ||
      chainMsg(upErr).contains("v_pos"), s"got: $upErr")
    assert(state() == before, "the aborted UPDATE must land nothing")
    // MERGE: both the matched-update and not-matched-insert arms are
    // guarded; one violating arm aborts the whole MERGE
    spark.range(0, 2).select(($"id" + 5L).as("k"), lit(-7L).as("v"))
      .createOrReplaceTempView("t_checkrw_src")
    val mErr = intercept[Exception](spark.sql(
      """MERGE INTO lake.db.t_checkrw t USING t_checkrw_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin))
    assert(mErr.toString.contains("v_pos") || chainMsg(mErr).contains("v_pos"),
      s"got: $mErr")
    assert(state() == before, "the aborted MERGE must land nothing")
    // a compliant UPDATE and MERGE still pass
    spark.sql("UPDATE lake.db.t_checkrw SET v = 30 WHERE k = 3")
    spark.sql(
      """MERGE INTO lake.db.t_checkrw t USING t_checkrw_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = 50
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, 60)""".stripMargin)
    assert(state() == Seq(1L -> 1L, 2L -> 2L, 3L -> 30L, 4L -> 4L,
      5L -> 50L, 6L -> 60L), s"got ${state()}")
  }

  private def chainMsg(t: Throwable): String = {
    val sb = new StringBuilder
    var cur = t
    while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
    sb.toString
  }

  test("shallow clone pins its source version with a tag: source vacuum cannot dangle the clone; drop_ref releases") {
    val t = seeded("t_cl_pin")
    spark.sql(s"CALL lake.system.clone('db.$t', 'db.t_cl_pin2', -1)").collect()
    // the pin is an ordinary tag on the SOURCE at the cloned version —
    // visible, auditable, droppable
    assert(LakeLog.listRefs(tableDir(t)).contains(("clone-db-t_cl_pin2", 4L, "tag")),
      s"got ${LakeLog.listRefs(tableDir(t))}")
    // the source supersedes every cloned file (COW delete + compact),
    // then vacuums with the tightest retention — WITHOUT the pin this
    // reclaims the files the un-compacted clone still references
    spark.sql(s"DELETE FROM lake.db.$t WHERE id < 50")
    spark.sql(s"CALL lake.system.compact('db.$t', 1)").collect()
    spark.sql(s"CALL lake.system.vacuum('db.$t', 1)").collect()
    assert(spark.table("lake.db.t_cl_pin2").count() == 100L,
      "the tag keeps the cloned snapshot's files referenced through vacuum")
    assert(spark.table(s"lake.db.$t").count() == 50L)
    // release protocol: deep-copy the clone, drop the pin, vacuum —
    // NOW the superseded files reclaim and both tables stay whole
    spark.sql("CALL lake.system.compact('db.t_cl_pin2', 1)").collect()
    spark.sql(s"CALL lake.system.drop_ref('db.$t', 'clone-db-t_cl_pin2')").collect()
    val reclaimed = spark.sql(s"CALL lake.system.vacuum('db.$t', 1)")
      .collect().head.getInt(0)
    assert(reclaimed > 0, "dropping the pin must free the superseded files")
    assert(spark.table("lake.db.t_cl_pin2").count() == 100L &&
      spark.table(s"lake.db.$t").count() == 50L)
  }

  test("compact_where: only the matching partitions rewrite; the rest keep their paths") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_cw (id BIGINT, seg STRING, v BIGINT)
      |PARTITIONED BY (seg) TBLPROPERTIES ('sortBy' = 'id')""".stripMargin)
    for (b <- 0 until 3) // 3 commits × 3 segs → 3 small files per seg
      spark.range(b * 90L, (b + 1) * 90L)
        .select($"id", concat(lit("g"), $"id" % 3).as("seg"), ($"id" * 2L).as("v"))
        .repartition(1).writeTo("lake.db.t_cw").append()
    def files(): Map[Option[String], Seq[String]] =
      LakeLog.currentSnapshot(tableDir("t_cw")).get.files
        .groupBy(_.part.head).view.mapValues(_.map(_.path).sorted).toMap
    val before = files()
    assert(before.values.forall(_.size == 3))
    val sums = spark.sql(
      "SELECT seg, count(*) AS n, sum(v) AS sv FROM lake.db.t_cw GROUP BY seg")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val res = spark.sql(
      "CALL lake.system.compact_where('db.t_cw', \"seg = 'g1'\", 1)").head()
    assert(res.getInt(0) == 1 && res.getInt(1) == 3 && res.getInt(2) == 1,
      s"one partition, 3 files -> 1: $res")
    val after = files()
    assert(after(Some("g1")).size == 1 &&
      before(Some("g1")).intersect(after(Some("g1"))).isEmpty)
    assert(after(Some("g0")) == before(Some("g0")) &&
      after(Some("g2")) == before(Some("g2")),
      "untouched partitions keep their exact files")
    assert(spark.sql(
      "SELECT seg, count(*) AS n, sum(v) AS sv FROM lake.db.t_cw GROUP BY seg")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      == sums, "content identical")
    // no-match predicate: a clean no-op, no commit
    val v0 = LakeLog.currentSnapshot(tableDir("t_cw")).get.version
    val none = spark.sql(
      "CALL lake.system.compact_where('db.t_cw', \"seg = 'nope'\", 1)").head()
    assert(none.getInt(1) == 0 && none.getInt(2) == 0)
    assert(LakeLog.currentSnapshot(tableDir("t_cw")).get.version == v0)
    // a predicate on a NON-partition column fails loudly — silently
    // compacting the wrong scope would be worse than refusing
    intercept[Exception](spark.sql(
      "CALL lake.system.compact_where('db.t_cw', 'v > 100', 1)").collect())
  }

  test("compact_where over trunc time buckets: source-column predicates select whole buckets; untouched buckets keep their files") {
    import spark.implicits._
    // the q103/q104 ingest layout: day-ish buckets (width 100), many
    // small files per bucket from repeated streaming-style commits
    spark.sql("""CREATE TABLE lake.db.t_cwtr (ts BIGINT, v BIGINT)
      |PARTITIONED BY (trunc(100, ts)) TBLPROPERTIES ('sortBy' = 'ts')""".stripMargin)
    for (b <- 0 until 3) // 3 commits × buckets 0..3 → 3 files per bucket
      spark.range(0, 400).select(($"id").as("ts"), ($"id" * 2L + b).as("v"))
        .repartition(1).writeTo("lake.db.t_cwtr").append()
    def files(): Map[Option[String], Seq[String]] =
      LakeLog.currentSnapshot(tableDir("t_cwtr")).get.files
        .groupBy(_.part.head).view.mapValues(_.map(_.path).sorted).toMap
    val before = files()
    assert(before.keySet == Set(Some("0"), Some("1"), Some("2"), Some("3")) &&
      before.values.forall(_.size == 3), s"got $before")
    val content = spark.sql(
      "SELECT ts, count(*) AS n, sum(v) AS sv FROM lake.db.t_cwtr GROUP BY ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // "OPTIMIZE yesterday": a closed range covering exactly bucket 1
    val res = spark.sql(
      "CALL lake.system.compact_where('db.t_cwtr', 'ts >= 100 AND ts < 200', 1)")
      .head()
    assert(res.getInt(0) == 1 && res.getInt(1) == 3 && res.getInt(2) == 1,
      s"one bucket, 3 files -> 1: $res")
    val after1 = files()
    assert(after1(Some("1")).size == 1 &&
      before(Some("1")).intersect(after1(Some("1"))).isEmpty)
    for (b <- Seq("0", "2", "3"))
      assert(after1(Some(b)) == before(Some(b)),
        s"untouched bucket $b keeps its exact files")
    // a MID-BUCKET bound compacts the WHOLE intersecting bucket
    // (documented: compaction is content-neutral, partial buckets
    // compact whole) — `ts < 250` touches buckets 0..2, bucket 3 never
    val res2 = spark.sql(
      "CALL lake.system.compact_where('db.t_cwtr', 'ts < 250', 2)").head()
    assert(res2.getInt(0) == 3, s"buckets 0..2 selected: $res2")
    val after2 = files()
    assert(after2(Some("3")) == before(Some("3")), "bucket 3 untouched")
    assert(after2(Some("0")).size == 1 && after2(Some("2")).size == 1)
    // content byte-identical through both rewrites
    assert(spark.sql(
      "SELECT ts, count(*) AS n, sum(v) AS sv FROM lake.db.t_cwtr GROUP BY ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      == content, "content identical")
    // unsupported trunc-column shapes refuse loudly
    intercept[Exception](spark.sql(
      "CALL lake.system.compact_where('db.t_cwtr', 'ts % 2 = 0', 1)").collect())
    // a predicate on a non-partition column still refuses
    intercept[Exception](spark.sql(
      "CALL lake.system.compact_where('db.t_cwtr', 'v > 100', 1)").collect())
  }

  test("compact_where on a mixed identity+trunc spec: both sides of the predicate prune") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_cwmx (ts BIGINT, seg STRING, v BIGINT)
      |PARTITIONED BY (seg, trunc(100, ts))""".stripMargin)
    for (_ <- 0 until 2) // 2 commits × (2 segs × 2 buckets) → 2 files per tuple
      spark.range(0, 200)
        .select($"id".as("ts"), concat(lit("g"), $"id" % 2).as("seg"),
          ($"id" * 3L).as("v"))
        .repartition(1).writeTo("lake.db.t_cwmx").append()
    def tuples(): Map[Seq[Option[String]], Int] =
      LakeLog.currentSnapshot(tableDir("t_cwmx")).get.files
        .groupBy(_.part).view.mapValues(_.size).toMap
    assert(tuples().size == 4 && tuples().values.forall(_ == 2))
    val res = spark.sql(
      "CALL lake.system.compact_where('db.t_cwmx', \"seg = 'g0' AND ts BETWEEN 100 AND 199\", 1)")
      .head()
    assert(res.getInt(0) == 1 && res.getInt(1) == 2 && res.getInt(2) == 1,
      s"exactly (g0, bucket 1): $res")
    val t = tuples()
    assert(t(Seq(Some("g0"), Some("1"))) == 1, "selected tuple compacted")
    assert(t(Seq(Some("g1"), Some("1"))) == 2 && t(Seq(Some("g0"), Some("0"))) == 2,
      "same-seg other-bucket and same-bucket other-seg untouched")
  }

  test("zorder_where: only the selected time bucket re-clusters; untouched buckets and conforming files keep their paths") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_zw (ts BIGINT, x BIGINT, y BIGINT)
      |PARTITIONED BY (trunc(100, ts))""".stripMargin)
    for (_ <- 0 until 2) // 2 commits × 2 buckets → 2 interleaving files each
      spark.range(0, 200)
        .select($"id".as("ts"), ($"id" * 7 % 100).as("x"), ($"id" * 13 % 100).as("y"))
        .repartition(1).writeTo("lake.db.t_zw").append()
    def files(): Map[Option[String], Seq[String]] =
      LakeLog.currentSnapshot(tableDir("t_zw")).get.files
        .groupBy(_.part.head).view.mapValues(_.map(_.path).sorted).toMap
    val before = files()
    assert(before.keySet == Set(Some("0"), Some("1")) &&
      before.values.forall(_.size == 2), s"got $before")
    val content = spark.sql(
      "SELECT ts, count(*) AS n, sum(x) AS sx, sum(y) AS sy FROM lake.db.t_zw GROUP BY ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    // cluster ONLY bucket 1 ("yesterday"): its 2 interleaving files
    // rewrite; bucket 0's files keep their exact paths
    val res = spark.sql(
      "CALL lake.system.zorder_where('db.t_zw', 'ts >= 100 AND ts < 200', 'x', 'y', 2)")
      .head()
    assert(res.getInt(0) == 1 && res.getInt(1) == 2 && res.getInt(2) >= 1,
      s"one bucket, 2 files re-cluster: $res")
    val after = files()
    assert(after(Some("0")) == before(Some("0")), "bucket 0 untouched")
    assert(before(Some("1")).intersect(after(Some("1"))).isEmpty,
      "bucket 1's files all rewrote")
    // content byte-identical; the re-clustered bucket is now CONFORMING
    // — an identical second call rewrites nothing
    assert(spark.sql(
      "SELECT ts, count(*) AS n, sum(x) AS sx, sum(y) AS sy FROM lake.db.t_zw GROUP BY ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq == content, "content identical")
    val res2 = spark.sql(
      "CALL lake.system.zorder_where('db.t_zw', 'ts >= 100 AND ts < 200', 'x', 'y', 2)")
      .head()
    assert(res2.getInt(1) == 0 && res2.getInt(2) == 0,
      s"a conforming bucket re-clusters nothing: $res2")
  }

  test("startingTimestamp anchors a stream at the first commit at-or-after the instant") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_startts (id BIGINT, s STRING)")
    def append(b: Int): Unit =
      spark.range(b * 10L, (b + 1) * 10L)
        .select($"id", lit(s"b$b").as("s"))
        .coalesce(1).writeTo("lake.db.t_startts").append()
    append(0); append(1)
    Thread.sleep(20) // commit instants are epoch-ms; separate them
    val cut = System.currentTimeMillis()
    Thread.sleep(20)
    append(2); append(3)
    val ckpt = Files.createTempDirectory("startts-ckpt").toString
    spark.readStream.option("startingTimestamp", cut.toString)
      .table("lake.db.t_startts")
      .writeStream.format("memory").queryName("startts")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(spark.table("startts").collect().map(_.getLong(0)).sorted.toSeq ==
      (20L until 40L), "only the commits at-or-after the instant flow")
    // both anchors at once is ambiguous — refuse loudly
    intercept[Exception](spark.readStream
      .option("startingTimestamp", cut.toString)
      .option("startingVersion", "1")
      .table("lake.db.t_startts")
      .writeStream.format("memory").queryName("starttsdup")
      .option("checkpointLocation",
        Files.createTempDirectory("startts-ckpt2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination())
  }

  test("startingTimestamp literal forms: date-only and ISO-T parse in the session timezone; bad input errors name the option") {
    import graft.sources.LakeChanges
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    spark.sql("CREATE TABLE lake.db.t_starttsfmt (id BIGINT)")
    spark.range(0, 5).coalesce(1).writeTo("lake.db.t_starttsfmt").append()
    val dir = tableDir("t_starttsfmt")
    def resolve(lit: String): Option[Long] =
      LakeChanges.resolveStartingVersion(dir,
        new CaseInsensitiveStringMap(java.util.Map.of("startingTimestamp", lit)))
    // a date far in the past anchors at v0; ISO-8601 'T' far in the
    // future anchors PAST the head (future commits only) — both forms
    // the old Timestamp.valueOf parser rejected
    assert(resolve("1970-01-03").contains(0L))
    assert(resolve("2999-01-01T00:00:00").contains(
      LakeLog.currentVersion(dir).get + 1L))
    // epoch-ms still accepted verbatim
    assert(resolve("0").contains(0L))
    // empty and garbage literals fail loudly, naming the option
    for (bad <- Seq("", "not-a-time")) {
      val e = intercept[IllegalArgumentException](resolve(bad))
      assert(e.getMessage.contains("startingTimestamp"), s"'$bad': $e")
    }
  }

  test("clone pins are per clone: re-cloning a dropped target allocates a fresh tag; dropping one leaves the other pinned") {
    val t = seeded("t_cl_fresh_src")
    val r1 = spark.sql(s"CALL lake.system.clone('db.$t', 'db.t_clf', -1)")
      .collect().head
    assert(r1.getString(3) == "clone-db-t_clf", s"got ${r1.getString(3)}")
    // deep-copy clone #1, drop the TABLE (its pin stays until drop_ref)
    spark.sql("CALL lake.system.compact('db.t_clf', 1)").collect()
    spark.sql("DROP TABLE lake.db.t_clf")
    // re-clone the same name at the same source version: the pin must
    // NOT reuse clone #1's tag — releasing #1 would silently unpin #2
    val r2 = spark.sql(s"CALL lake.system.clone('db.$t', 'db.t_clf', -1)")
      .collect().head
    assert(r2.getString(3) == "clone-db-t_clf-2", s"got ${r2.getString(3)}")
    val refs = LakeLog.listRefs(tableDir(t))
    assert(refs.contains(("clone-db-t_clf", 4L, "tag")) &&
      refs.contains(("clone-db-t_clf-2", 4L, "tag")), s"got $refs")
    // release clone #1's pin; supersede + vacuum hard — clone #2 (not
    // yet deep-copied) must still read through its OWN pin
    spark.sql(s"CALL lake.system.drop_ref('db.$t', 'clone-db-t_clf')").collect()
    spark.sql(s"DELETE FROM lake.db.$t WHERE id < 50")
    spark.sql(s"CALL lake.system.compact('db.$t', 1)").collect()
    spark.sql(s"CALL lake.system.vacuum('db.$t', 1)").collect()
    assert(spark.table("lake.db.t_clf").count() == 100L,
      "clone #2's fresh tag must survive the release of clone #1's")
  }

  test("a failed checkpoint never fails the commit, but leaves a durable marker the next success clears") {
    spark.sql("CREATE TABLE lake.db.t_cpfail (id BIGINT)")
    val dir = tableDir("t_cpfail")
    def append(b: Int): Unit =
      spark.range(b * 10L, (b + 1) * 10L).coalesce(1)
        .writeTo("lake.db.t_cpfail").append()
    for (b <- 0 until 9) append(b)
    val failuresBefore = LakeLog.checkpointFailures.get()
    LakeLog.checkpointFault = Some(("t_cpfail", "disk full (injected)"))
    try append(9) // v10: the checkpoint attempt fails, the commit must not
    finally LakeLog.checkpointFault = None
    assert(LakeLog.currentVersion(dir).contains(10L), "the commit stands")
    assert(spark.table("lake.db.t_cpfail").count() == 100L)
    assert(LakeLog.checkpointParts(dir, 10L) == 0, "no checkpoint landed")
    // the failure is recorded durably — counter AND an on-disk marker
    // an operator (or a health probe) reads without scraping stderr
    assert(LakeLog.checkpointFailures.get() == failuresBefore + 1)
    val marker = LakeLog.lastCheckpointFailure(dir)
    assert(marker.exists(m => m.contains("v=10") && m.contains("disk full")),
      s"got $marker")
    // checkpointing recovers at v20: the marker clears
    for (b <- 10 until 20) append(b)
    assert(LakeLog.checkpointParts(dir, 20L) != 0, "checkpoint recovered")
    assert(LakeLog.lastCheckpointFailure(dir).isEmpty, "marker cleared")
  }

  test("a lazy parted snapshot held across a racing vacuum refolds from the newer floor checkpoint instead of failing") {
    spark.sql("""CREATE TABLE lake.db.t_cprace (id BIGINT)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '512')""".stripMargin)
    val dir = tableDir("t_cprace")
    for (b <- 0 until 12) // checkpoint at v10, deltas to v12
      spark.range(b * 10L, (b + 1) * 10L).coalesce(1)
        .writeTo("lake.db.t_cprace").append()
    assert(LakeLog.checkpointParts(dir, 10L) > 1)
    // hold v12 WITHOUT materializing: its lazy file list still points
    // at checkpoint v10's part files
    val held = LakeLog.snapshotAt(dir, 12L).get
    // a concurrent vacuum lands: floor checkpoint at v12, then every
    // older delta AND checkpoint (manifest first, parts after) pruned
    LakeLog.checkpoint(dir, LakeLog.snapshotAt(dir, 12L).get)
    LakeLog.pruneBelow(dir, 12L)
    // the floor-checkpoint write above materialized (and cached) v10's
    // parts — drop them so the held snapshot really hits the missing
    // files, exercising the refold instead of the LRU
    LakeLog.clearPartCache()
    assert(!Files.isRegularFile(dir.resolve("_log").resolve("c00000010.json")))
    // materializing the held snapshot now hits v10's missing parts —
    // ONE refold from a fresh log listing serves the same version via
    // the v12 floor checkpoint; the reader never sees the race
    assert(held.files.map(_.path).toSet ==
      LakeLog.snapshotAt(dir, 12L).get.files.map(_.path).toSet)
    assert(held.files.map(_.liveRows).sum == 120L)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: the full three-arm merge, COW and MOR") {
    import spark.implicits._
    for ((t, props) <- Seq(("t_merge3cow", ""),
        ("t_merge3mor", " TBLPROPERTIES ('mode' = 'mor')"))) {
      spark.sql(s"CREATE TABLE lake.db.$t (k BIGINT, v BIGINT)$props")
      spark.range(1, 7).select($"id".as("k"), $"id".as("v"))
        .coalesce(1).writeTo(s"lake.db.$t").append()
      spark.range(4, 9).select($"id".as("k"), ($"id" * 10L).as("v"))
        .createOrReplaceTempView(s"${t}_src")
      spark.sql(
        s"""MERGE INTO lake.db.$t t USING ${t}_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
           |WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE AND t.k = 2 THEN UPDATE SET v = -99
           |""".stripMargin)
      val got = spark.table(s"lake.db.$t").as[(Long, Long)]
        .collect().sorted.toSeq
      assert(got == Seq(2L -> -99L, 3L -> 3L, 4L -> 40L, 5L -> 50L,
        6L -> 60L, 7L -> 70L, 8L -> 80L), s"$t: $got")
    }
  }

  test("incremental checkpoints: a small commit hard-links untouched parts, rewrites only its bucket's; vacuum keeps reused payloads alive") {
    import spark.implicits._
    // one entry per part (checkpoint_part_bytes='1' — tuple-pure split)
    spark.sql("""CREATE TABLE lake.db.t_incp (id BIGINT, b BIGINT)
      |PARTITIONED BY (b) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    // v1..v10: three NEW buckets per commit -> checkpoint v10, 30 parts
    for (c <- 0 until 10)
      spark.range(c * 30L, c * 30L + 30L)
        .select($"id", ($"id" % 3L + c * 3L).as("b"))
        .coalesce(1).writeTo("lake.db.t_incp").append()
    val dir = tableDir("t_incp")
    assert(LakeLog.checkpointParts(dir, 10L) == 30)
    // v11..v20: ten commits ALL into bucket 0 — at the v20 checkpoint
    // bucket 0's part is dirty (10 in-range adds), the other 29 reuse
    val w0 = LakeLog.checkpointPartsWritten.get()
    val r0 = LakeLog.checkpointPartsReused.get()
    for (c <- 0 until 10)
      spark.range(1000L + c * 5L, 1000L + c * 5L + 5L)
        .select($"id", lit(0L).as("b"))
        .coalesce(1).writeTo("lake.db.t_incp").append()
    val written = LakeLog.checkpointPartsWritten.get() - w0
    val reused = LakeLog.checkpointPartsReused.get() - r0
    // 11 single-entry rewritten parts (bound=1): the old bucket-0 entry
    // + ten adds; everything else rides by hard link, zero serialization
    assert(reused == 29L, s"expected 29 reused parts, got $reused")
    assert(written == 11L, s"expected 11 rewritten parts, got $written")
    assert(LakeLog.checkpointParts(dir, 20L) == 40)
    // a reused part is the SAME inode under both checkpoints' names
    val linked = (0 until 30).exists { j =>
      (0 until 40).exists { i =>
        val a = dir.resolve("_log").resolve(f"c${10L}%08d.p$j%04d.json")
        val b = dir.resolve("_log").resolve(f"c${20L}%08d.p$i%04d.json")
        Files.isRegularFile(a) && Files.isRegularFile(b) && Files.isSameFile(a, b)
      }
    }
    assert(linked, "at least one v20 part must be a hard link of a v10 part")
    // vacuum prunes the v10 checkpoint NAMES; shared inodes stay alive,
    // so the head still reads exactly — retention-safe by construction
    spark.sql("CALL lake.system.vacuum('db.t_incp', 1)").collect()
    assert(!Files.isRegularFile(
      dir.resolve("_log").resolve(f"c${10L}%08d.json")))
    LakeLog.clearPartCache()
    assert(spark.table("lake.db.t_incp").count() == 350L)
    // bucket 7 rows: commit c=2, ids 61,64,...,88 (id%3==1) -> sum 745
    assert(spark.sql(
      "SELECT count(*), sum(id) FROM lake.db.t_incp WHERE b = 7")
      .as[(Long, Long)].head() == ((10L, 745L)))
  }

  test("checkpoint_interval is a table property: per-table cadence, bad values rejected") {
    import scala.jdk.CollectionConverters._
    def nCheckpoints(name: String): Int = {
      val ld = tableDir(name).resolve("_log")
      scala.util.Using.resource(Files.list(ld)) { st =>
        st.iterator().asScala.map(_.getFileName.toString).count(n =>
          n.startsWith("c") && n.endsWith(".json") &&
            n.stripPrefix("c").stripSuffix(".json").forall(_.isDigit))
      }
    }
    for ((t, iv) <- Seq("t_cad2" -> 2, "t_cad5" -> 5)) {
      spark.sql(s"CREATE TABLE lake.db.$t (id BIGINT) " +
        s"TBLPROPERTIES ('checkpoint_interval' = '$iv')")
      for (c <- 0 until 5)
        spark.range(c * 10L, c * 10L + 10L).coalesce(1)
          .writeTo(s"lake.db.$t").append()
    }
    assert(nCheckpoints("t_cad2") == 2, "interval 2 over v1..v5: c2, c4")
    assert(nCheckpoints("t_cad5") == 1, "interval 5 over v1..v5: c5 only")
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE lake.db.t_cadbad (id BIGINT) " +
        "TBLPROPERTIES ('checkpoint_interval' = '0')"))
    assert(e1.getMessage.contains("checkpoint_interval"))
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE lake.db.t_cad2 SET TBLPROPERTIES ('checkpoint_interval' = 'x')"))
    assert(e2.getMessage.contains("checkpoint_interval"))
  }

  test("__stats answers from the manifest with zero part parses; values identical to the parsed fold") {
    import spark.implicits._
    // every column fully covered (stats + nulls + sketches per file),
    // head exactly at a checkpoint -> the manifest serves alone
    spark.sql("""CREATE TABLE lake.db.t_mfstats (id BIGINT, s STRING)
      |TBLPROPERTIES ('checkpoint_part_bytes' = '2048')""".stripMargin)
    def slice(c: Int) = spark.range(c * 40L, c * 40L + 40L)
      .select($"id", concat(lit("v"), ($"id" % 17L).cast("string")).as("s"))
    for (c <- 0 until 10)
      slice(c).coalesce(1).writeTo("lake.db.t_mfstats").append()
    LakeLog.clearPartCache()
    val reads0 = LakeLog.checkpointReads.get()
    val got = spark.table("lake.db.t_mfstats__stats")
      .select($"column", $"min", $"max", $"null_count", $"ndv")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(LakeLog.checkpointReads.get() == reads0,
      "a covered checkpointed census must not parse any part")
    assert(got.map(g => (g._1, g._2, g._3, g._4)) == Seq(
      ("id", Some(0L), Some(399L), 0L),
      ("s", None, None, 0L)))
    // KMV fold is lattice-equal: the same DATA in a pre-checkpoint
    // table (9 commits, different file splits) estimates identically —
    // the k-smallest of a union is split-independent
    spark.sql("CREATE TABLE lake.db.t_mfstats0 (id BIGINT, s STRING)")
    for (c <- 0 until 9)
      slice(c).coalesce(1).writeTo("lake.db.t_mfstats0").append()
    slice(9).coalesce(1).writeTo("lake.db.t_mfstats0").append()
    val parsed = spark.table("lake.db.t_mfstats0__stats")
      .select($"column", $"ndv").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.map(g => g._1 -> g._5).toMap == parsed,
      "manifest-served NDV must equal the per-file fold exactly")
    // a kill (COW delete) closes the shortcut: the parsed path serves,
    // still exact — coverage degrades to parsing, never to a lie
    spark.sql("DELETE FROM lake.db.t_mfstats WHERE id < 40")
    LakeLog.clearPartCache()
    val reads1 = LakeLog.checkpointReads.get()
    val afterDel = spark.table("lake.db.t_mfstats__stats")
      .where($"column" === "id").select($"min").head.getLong(0)
    assert(afterDel == 40L)
    assert(LakeLog.checkpointReads.get() > reads1, "with kills the parts must parse")
  }

  test("__row_groups dv_rows reconciles the physical census with live_rows on a MOR file") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_rgdv (id BIGINT, v BIGINT)
      |TBLPROPERTIES ('mode' = 'mor', 'row_group_bytes' = '8192')""".stripMargin)
    spark.range(0, 3000).select($"id", ($"id" * 2L).as("v"))
      .coalesce(1).writeTo("lake.db.t_rgdv").append()
    spark.sql("DELETE FROM lake.db.t_rgdv WHERE id % 3 = 0") // Mixed -> dv
    val rg = spark.table("lake.db.t_rgdv__row_groups").where($"column" === "id")
      .groupBy($"path").agg(sum($"rows").as("phys"), max($"dv_rows").as("dv"))
    val files = spark.table("lake.db.t_rgdv__files")
      .select($"path", $"live_rows")
    val bad = rg.join(files, "path")
      .where($"phys" - $"dv" =!= $"live_rows").count()
    assert(bad == 0L,
      "sum(group rows) - dv_rows must equal the file's live_rows")
    assert(rg.agg(sum($"dv")).head.getLong(0) > 0L, "the dv must be real")
  }

  test("equality deletes: upserts and keyed DELETEs never touch data files; readers anti-join; compaction erases the records") {
    import spark.implicits._
    import graft.sources.{LakeParquet, LakeChanges}
    spark.sql("CREATE TABLE lake.db.t_eq (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 100).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eq").append() // v1
    // UPSERT batch: replace keys 10..19, add 100..104 — ONE commit of
    // insert files + one equality-delete record, ZERO target file opens
    val opens0 = LakeParquet.dataFileOpens.get()
    spark.range(10, 20).select($"id".as("k"), ($"id" * 100L).as("v"))
      .union(spark.range(100, 105).select($"id".as("k"), ($"id" * 100L).as("v")))
      .coalesce(1).writeTo("lake.db.t_eq").option("upsert", "true").append() // v2
    assert(LakeParquet.dataFileOpens.get() == opens0,
      "an upsert write must never open a target data file")
    val paths2 = filePaths("t_eq")
    val snap2 = LakeLog.currentSnapshot(tableDir("t_eq")).get
    assert(snap2.eqdels.size == 1 && snap2.files.forall(_.dv.isEmpty),
      "one equality record, no dvs, no rewrites")
    def content(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val expect2 = (0L until 100L).map(k =>
      k -> (if (k >= 10 && k < 20) k * 100L else k)) ++
      (100L until 105L).map(k => k -> k * 100L)
    assert(content(spark.table("lake.db.t_eq")) == expect2)
    // the anti-join rides the per-batch live-row selection — an
    // equality-affected scan KEEPS the vectorized path
    val eqPlan = spark.table("lake.db.t_eq").queryExecution.executedPlan.toString
    assert(eqPlan.contains("ColumnarToRow"),
      s"an eq-affected scan must stay columnar: $eqPlan")
    // count(*) must NOT answer from metadata while records are live
    assert(spark.table("lake.db.t_eq").count() == 105L)
    // keyed DELETE: an equality record, zero data-file opens or drops.
    // Key 15 is already-replaced: its v1 pre-image is record-dead
    val opens1 = LakeParquet.dataFileOpens.get()
    spark.sql("DELETE FROM lake.db.t_eq WHERE k IN (5, 15, 100)") // v3
    assert(LakeParquet.dataFileOpens.get() == opens1,
      "a keyed DELETE must never open a data file")
    assert(filePaths("t_eq") == paths2, "a keyed DELETE drops no files")
    val expect3 = expect2.filterNot(t =>
      t._1 == 5L || t._1 == 15L || t._1 == 100L)
    assert(content(spark.table("lake.db.t_eq")) == expect3)
    // the change feed EXPANDS equality commits to row-level changes:
    // the upsert version narrates as delete-of-pre-image (only rows
    // alive at v1) + insert-of-post-image
    def changesAt(ver: Long): Set[(String, Long, Long)] =
      spark.read.table("lake.db.t_eq__changes")
        .where(col(LakeChanges.VersionColumn) === ver)
        .select(col(LakeChanges.TypeColumn), $"k", $"v")
        .as[(String, Long, Long)].collect().toSet
    val v2expect: Set[(String, Long, Long)] =
      (10L until 20L).map(k => ("delete", k, k)).toSet ++
        (10L until 20L).map(k => ("insert", k, k * 100L)) ++
        (100L until 105L).map(k => ("insert", k, k * 100L))
    assert(changesAt(2L) == v2expect,
      "an upsert commit must narrate as CDC delete+insert pairs")
    // the keyed DELETE narrates exactly the still-live pre-images: ONE
    // row per key — k=15's replaced v1 row must NOT re-emit (guard),
    // k=100 lives in the v2 file (record seq 3 > file seq 2)
    assert(changesAt(3L) == Set(("delete", 5L, 5L),
      ("delete", 15L, 1500L), ("delete", 100L, 10000L)))
    // time travel applies the records as of each version
    assert(content(spark.sql("SELECT * FROM lake.db.t_eq VERSION AS OF 2")) == expect2)
    assert(content(spark.sql("SELECT * FROM lake.db.t_eq VERSION AS OF 1")) ==
      (0L until 100L).map(k => k -> k))
    // clone refuses while records are live
    val cloneErr = intercept[Exception](spark.sql(
      "CALL lake.system.clone('db.t_eq', 'db.t_eq_clone', -1)").collect())
    assert(cloneErr.getMessage.contains("equality"))
    // compaction applies the records (reads through the connector) and
    // the commit auto-drops them: nothing predates the rewrite anymore
    spark.sql("CALL lake.system.compact('db.t_eq', 1)").collect() // v4
    val snap4 = LakeLog.currentSnapshot(tableDir("t_eq")).get
    assert(snap4.eqdels.isEmpty, "compaction erases the equality set")
    assert(content(spark.table("lake.db.t_eq")) == expect3)
    // pre-compact time travel still applies them
    assert(content(spark.sql("SELECT * FROM lake.db.t_eq VERSION AS OF 3")) == expect3)
    // rollback to v1 restores the pre-upsert state AND its (empty) set
    spark.sql("CALL lake.system.rollback('db.t_eq', 1)").collect()
    assert(content(spark.table("lake.db.t_eq")) ==
      (0L until 100L).map(k => k -> k))
  }

  test("equality deletes: records survive checkpoints and vacuum; string keys; projection-free key reads") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_eqs (name STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'name', " +
      "'checkpoint_part_bytes' = '2048')")
    spark.range(0, 60).select(concat(lit("u"), $"id").as("name"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqs").append() // v1
    spark.sql("DELETE FROM lake.db.t_eqs WHERE name = 'u7'") // v2: eq record
    // 9 more commits -> checkpoint at v11 carries the record
    for (c <- 1 until 10)
      spark.range(c * 100L, c * 100L + 5L)
        .select(concat(lit("u"), $"id").as("name"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_eqs").append()
    assert(LakeLog.checkpointParts(tableDir("t_eqs"), 10L) != 0)
    spark.sql("CALL lake.system.vacuum('db.t_eqs', 1)").collect()
    LakeLog.clearPartCache()
    val snap = LakeLog.currentSnapshot(tableDir("t_eqs")).get
    assert(snap.eqdels.size == 1, "the record must survive checkpoint + vacuum")
    // a projection that never names the key still filters: the reader
    // decodes the key column on its own
    val vs = spark.table("lake.db.t_eqs").select($"v")
      .as[Long].collect().sorted.toSeq
    assert(!vs.contains(7L) && vs.contains(6L) && vs.contains(8L))
    assert(vs.length == 104)
    // and a count(*) (no data column projected) is still exact
    assert(spark.table("lake.db.t_eqs").count() == 104L)
    // a positional dv STACKS with the equality records on the same file
    spark.sql("DELETE FROM lake.db.t_eqs WHERE v % 13 = 0 AND v < 60")
    val vs2 = spark.table("lake.db.t_eqs").select($"v")
      .as[Long].collect().sorted.toSeq
    assert(!vs2.contains(7L) && !vs2.contains(13L) && !vs2.contains(26L) &&
      vs2.contains(14L) && vs2.length == 104 - 5)
  }

  test("append commits never materialize the parent census: zero part parses off-cadence, O(changed) at the checkpoint") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_appfast (id BIGINT, b BIGINT)
      |PARTITIONED BY (b) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (c <- 0 until 10) // -> checkpoint v10, one part per bucket
      spark.range(c * 30L, c * 30L + 30L)
        .select($"id", ($"id" % 3L + c * 3L).as("b"))
        .coalesce(1).writeTo("lake.db.t_appfast").append()
    LakeLog.clearPartCache()
    val reads0 = LakeLog.checkpointReads.get()
    // v11..v19: pure appends — the fast path reads NO checkpoint part
    for (c <- 0 until 9)
      spark.range(2000L + c * 5L, 2000L + c * 5L + 5L)
        .select($"id", lit(1L).as("b"))
        .coalesce(1).writeTo("lake.db.t_appfast").append()
    assert(LakeLog.checkpointReads.get() == reads0,
      "an append commit must not materialize the parent census")
    // v20: the cadence checkpoint — the INCREMENTAL planner parses only
    // bucket 1's part (where every new file landed), not the table
    spark.range(9000L, 9005L).select($"id", lit(1L).as("b"))
      .coalesce(1).writeTo("lake.db.t_appfast").append()
    val parses = LakeLog.checkpointReads.get() - reads0
    assert(parses <= 2L, s"cadence checkpoint parses O(changed parts), got $parses")
    assert(spark.table("lake.db.t_appfast").count() == 350L)
    assert(spark.sql(
      "SELECT count(*) FROM lake.db.t_appfast WHERE b = 1").head.getLong(0) == 60L)
  }

  test("streaming epoch watermark: first-time epochs append without reading the table; a replayed epoch still supersedes its files") {
    import spark.implicits._
    val t = "lake.db.t_epwm"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('checkpoint_part_bytes' = '2048')")
    // backlog + paced drain: every epoch is first-time -> fast path
    spark.sql("CREATE TABLE lake.db.t_epwm_src (id BIGINT, v BIGINT)")
    for (c <- 0 until 12)
      spark.range(c * 10L, c * 10L + 10L).select($"id", ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_epwm_src").append()
    LakeLog.clearPartCache()
    val reads0 = LakeLog.checkpointReads.get()
    val ckpt = java.nio.file.Files.createTempDirectory("epwm-ckpt").toString
    spark.readStream.option("maxBytesPerTrigger", "1").table("lake.db.t_epwm_src")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(t).awaitTermination()
    // the drain crossed the destination's own v10 checkpoint: only the
    // INCREMENTAL planner's touched-part parses are allowed
    assert(LakeLog.checkpointReads.get() - reads0 <= 3L,
      "a paced drain must not materialize the destination per epoch")
    assert(spark.table(t).count() == 120L)
    val snap = LakeLog.currentSnapshot(tableDir("t_epwm")).get
    assert(snap.props.keys.exists(_.startsWith("qe.")),
      "the epoch watermark must ride the table props")
    // watermark is format-internal: user SET/REMOVE refused
    val wmKey = snap.props.keys.find(_.startsWith("qe.")).get
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('$wmKey' = '999')"))
    assert(e.getMessage.contains("format-internal"))
  }

  test("equality-delete soundness: a randomized upsert/keyed-delete/compact sequence matches the last-wins fold at every step") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_eqprop (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    val rnd = new scala.util.Random(9151)
    val truth = scala.collection.mutable.Map.empty[Long, Long]
    for (step <- 0 until 12) {
      if (rnd.nextInt(4) == 0 && truth.nonEmpty) {
        // keyed DELETE of a random known subset plus a guaranteed miss
        val ks = (rnd.shuffle(truth.keys.toSeq).take(1 + rnd.nextInt(5)) :+ 99999L).distinct
        spark.sql(s"DELETE FROM lake.db.t_eqprop WHERE k IN (${ks.mkString(",")})")
        ks.foreach(truth.remove)
      } else {
        // upsert batch over a SMALL key domain so replacements are the
        // common case (one row per key per batch — the CDC contract)
        val keys = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct
        val batch = keys.map(k => (k, rnd.nextInt(1000000).toLong))
        batch.toDF("k", "v").coalesce(1)
          .writeTo("lake.db.t_eqprop").option("upsert", "true").append()
        batch.foreach { case (k, v) => truth(k) = v }
      }
      // mid-sequence compactions must RESOLVE records exactly, and the
      // stream of later upserts keeps working against the clean files
      if (step == 5 || step == 9)
        spark.sql("CALL lake.system.compact('db.t_eqprop', 2)").collect()
      val got = spark.table("lake.db.t_eqprop")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == truth.toSeq.sortBy(_._1), s"step $step diverged: " +
        s"got ${got.size} rows, expected ${truth.size}")
    }
  }

  test("streaming upserts: a restarted drain resumes from its checkpoint with exact last-wins state") {
    import spark.implicits._
    val src = "lake.db.t_upres_src"
    val dst = "lake.db.t_upres"
    spark.sql(s"CREATE TABLE $src (k BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $dst (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    // slice s upserts keys [0,20) to value s*100 + k (pre-deduped)
    def slice(sl: Int): Unit =
      spark.range(0, 20).select($"id".as("k"), ($"id" + sl * 100L).as("v"))
        .coalesce(1).writeTo(src).append()
    def drain(ckpt: String): Unit =
      spark.readStream.option("maxBytesPerTrigger", "1").table(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("upsert", "true")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(dst).awaitTermination()
    def state(): Seq[(Long, Long)] = spark.table(dst)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("upres-ckpt").toString
    for (sl <- 0 until 3) slice(sl)
    drain(ckpt)
    assert(state() == (0L until 20L).map(k => k -> (k + 200L)),
      "after three slices the last one wins")
    val vAfter = LakeLog.currentVersion(tableDir("t_upres")).get
    // a no-new-data restart must neither duplicate nor delete anything
    drain(ckpt)
    assert(state() == (0L until 20L).map(k => k -> (k + 200L)))
    // resume: two more slices arrive, the SAME checkpoint picks up
    // exactly them (epochs restart per checkpoint run — the qe
    // watermark + (query, epoch) replacement must still hold)
    for (sl <- 3 until 5) slice(sl)
    drain(ckpt)
    assert(state() == (0L until 20L).map(k => k -> (k + 400L)),
      "the resumed drain applies exactly the new slices")
    assert(LakeLog.currentVersion(tableDir("t_upres")).get > vAfter)
    // and compaction still resolves everything downstream of a resume
    spark.sql("CALL lake.system.compact('db.t_upres', 1)").collect()
    assert(LakeLog.currentSnapshot(tableDir("t_upres")).get.eqdels.isEmpty)
    assert(state() == (0L until 20L).map(k => k -> (k + 400L)))
    // the health probe reports the (now empty) backlog
    val h = spark.sql("CALL lake.system.health('db.t_upres', false)").head()
    assert(h.getBoolean(0) && h.getInt(9) == 0 && h.getLong(10) == 0L,
      s"clean post-compact backlog: $h")
  }

  test("partial compaction under equality deletes: compacted buckets come out clean, untouched buckets stay filtered") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_eqpart (k BIGINT, b BIGINT, v BIGINT)
      |PARTITIONED BY (b)
      |TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')""".stripMargin)
    spark.range(0, 100)
      .select($"id".as("k"), ($"id" % 2L).as("b"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqpart").append()
    spark.range(0, 10)
      .select($"id".as("k"), ($"id" % 2L).as("b"), ($"id" * 10L).as("v"))
      .coalesce(1).writeTo("lake.db.t_eqpart").option("upsert", "true").append()
    def state(): Seq[(Long, Long)] = spark.table("lake.db.t_eqpart")
      .select($"k", $"v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val expect = (0L until 100L).map(k => k -> (if (k < 10) k * 10L else k))
    assert(state() == expect)
    // bucket-scoped OPTIMIZE: b=0 rewrites clean (its new files are
    // younger than every record), b=1's OLD file still needs the
    // anti-join — the record must survive the partial rewrite
    spark.sql("CALL lake.system.compact_where('db.t_eqpart', 'b = 0', 1)").collect()
    val dir = tableDir("t_eqpart")
    val mid = LakeLog.currentSnapshot(dir).get
    assert(mid.eqdels.nonEmpty, "untouched buckets still predate the record")
    assert(state() == expect, "partial compaction loses nothing")
    // compacting the rest resolves the record set entirely
    spark.sql("CALL lake.system.compact_where('db.t_eqpart', 'b = 1', 1)").collect()
    assert(LakeLog.currentSnapshot(dir).get.eqdels.isEmpty)
    assert(state() == expect)
    // TRUNCATE drops every record with the data (nothing predates)
    spark.range(0, 5).select($"id".as("k"), ($"id" % 2L).as("b"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqpart").option("upsert", "true").append()
    spark.range(5, 8).select($"id".as("k"), ($"id" % 2L).as("b"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqpart").option("upsert", "true").append()
    assert(LakeLog.currentSnapshot(dir).get.eqdels.nonEmpty)
    spark.sql("TRUNCATE TABLE lake.db.t_eqpart")
    assert(LakeLog.currentSnapshot(dir).get.eqdels.isEmpty,
      "truncate leaves no record behind")
    assert(spark.table("lake.db.t_eqpart").count() == 0L)
  }

  test("equality-delete hardening: clone rebases birth seqs, rename carries upsert_key, DROP of a live key refused, rollback gates the feed") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_eqh (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 30).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqh").append()
    spark.range(0, 5).select($"id".as("k"), ($"id" * 7L).as("v"))
      .coalesce(1).writeTo("lake.db.t_eqh").option("upsert", "true").append()
    // DROP of the live key column must refuse (records key on its id)
    val dropErr = intercept[Exception](
      spark.sql("ALTER TABLE lake.db.t_eqh DROP COLUMN k"))
    assert(dropErr.getMessage.contains("upsert_key"))
    // ROLLBACK to the pre-upsert version drops the record with the
    // predating file intact — rows come back to life, and the change
    // feed narrates that: the removed upsert file's post-images emit
    // as deletes, the dropped record's matches as resurrection inserts
    spark.sql("CALL lake.system.rollback('db.t_eqh', 1)").collect()
    val dir = tableDir("t_eqh")
    val rbV = LakeLog.currentVersion(dir).get
    val rbChanges = spark.read.table("lake.db.t_eqh__changes")
      .where(col(graft.sources.LakeChanges.VersionColumn) === rbV)
      .select(col(graft.sources.LakeChanges.TypeColumn), $"k", $"v")
      .as[(String, Long, Long)].collect().toSet
    assert(rbChanges == (0L until 5L).map(k => ("delete", k, k * 7L)).toSet ++
      (0L until 5L).map(k => ("insert", k, k)),
      "rollback of an upsert must narrate post-image deletes + resurrection inserts")
    // CLONE (records must be resolved first) then upsert the clone:
    // cloned files' seqs are REBASED to 0, so the clone's very first
    // record (seq 1+) applies to them — last-wins must actually win
    spark.sql("CALL lake.system.clone('db.t_eqh', 'db.t_eqh_cl', -1)").collect()
    spark.range(0, 5).select($"id".as("k"), ($"id" * 100L).as("v"))
      .coalesce(1).writeTo("lake.db.t_eqh_cl").option("upsert", "true").append()
    def content(t: String): Seq[(Long, Long)] = spark.table(t)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(content("lake.db.t_eqh_cl") == (0L until 30L).map(k =>
      k -> (if (k < 5) k * 100L else k)),
      "an unrebased clone seq would let the old rows escape replacement")
    // RENAME of the key column carries upsert_key; upserts keep working
    spark.sql("ALTER TABLE lake.db.t_eqh_cl RENAME COLUMN k TO kk")
    spark.range(5, 8).select($"id".as("kk"), ($"id" * 1000L).as("v"))
      .coalesce(1).writeTo("lake.db.t_eqh_cl").option("upsert", "true").append()
    val got = spark.table("lake.db.t_eqh_cl").select($"kk", $"v")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == (0L until 30L).map(k =>
      k -> (if (k < 5) k * 100L else if (k < 8) k * 1000L else k)))
  }

  test("change feed under equality deletes: candidate pruning is counter-pinned, TRUNCATE narrates only live rows, string keys, append-only gate") {
    import spark.implicits._
    import graft.sources.{LakeChanges, LakeColIds}
    // two commits with DISJOINT key ranges -> per-file stats prune the
    // expansion: an upsert over low keys must never plan the high file
    spark.sql("CREATE TABLE lake.db.t_eqf (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 100).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqf").append() // v1: k in [0,100)
    spark.range(1000, 1100).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqf").append() // v2: k in [1000,1100)
    spark.range(5, 10).select($"id".as("k"), ($"id" * 9L).as("v"))
      .coalesce(1).writeTo("lake.db.t_eqf").option("upsert", "true").append() // v3
    val dir = tableDir("t_eqf")
    val snap = LakeLog.currentSnapshot(dir).get
    val fcols = LakeColIds.cols(snap.schema, snap.props)
    val planned0 = LakeChanges.eqFilesPlanned.get()
    val pruned0 = LakeChanges.eqFilesPruned.get()
    val parts3 = LakeChanges.partitionsFor(dir, fcols, snap.schema, 3L,
      skipChangeCommits = false)
    assert(LakeChanges.eqFilesPlanned.get() - planned0 == 1L &&
      LakeChanges.eqFilesPruned.get() - pruned0 == 1L,
      "the record's keys [5,10) must plan the low file and prune the high one")
    assert(parts3.count(p => p.eqEmit.nonEmpty) == 1,
      "exactly one record-driven partition")
    def changes(t: String, ver: Long): Set[(String, Long, Long)] =
      spark.read.table(s"lake.db.${t}__changes")
        .where(col(LakeChanges.VersionColumn) === ver)
        .select(col(LakeChanges.TypeColumn), $"k", $"v")
        .as[(String, Long, Long)].collect().toSet
    assert(changes("t_eqf", 3L) ==
      (5L until 10L).map(k => ("delete", k, k)).toSet ++
        (5L until 10L).map(k => ("insert", k, k * 9L)),
      "upsert narration: pre-image deletes from the pruned-to file only")
    // the base table's stream is append-only: an equality commit is a
    // data change it must refuse (or skip) even with no dv/file delta
    val aerr = intercept[UnsupportedOperationException](
      LakeChanges.partitionsFor(dir, fcols, snap.schema, 3L,
        skipChangeCommits = false, appendOnly = true))
    assert(aerr.getMessage.contains("append-only"))
    assert(LakeChanges.partitionsFor(dir, fcols, snap.schema, 3L,
      skipChangeCommits = true, appendOnly = true).isEmpty)
    // TRUNCATE drops every file AND the record set: the feed emits each
    // file's rows ALIVE at v-1 — the replaced pre-images stay silent,
    // and the auto-pruned record drop resurrects nothing (no live
    // predating file remains)
    spark.sql("TRUNCATE TABLE lake.db.t_eqf") // v4
    val v4 = changes("t_eqf", 4L)
    assert(v4.forall(_._1 == "delete") && v4.size == 200,
      s"TRUNCATE must delete exactly the 200 live rows, got ${v4.size}")
    assert(!v4.contains(("delete", 5L, 5L)) && v4.contains(("delete", 5L, 45L)),
      "a record-dead pre-image must not re-emit at TRUNCATE")
    // whole-history net replay (+insert/-delete per row identity)
    // reconstructs the final state: an over- or under-emission breaks it
    val net = spark.read.table("lake.db.t_eqf__changes")
      .groupBy($"k", $"v")
      .agg(sum(when(col(LakeChanges.TypeColumn) === "insert", 1L)
        .otherwise(-1L)).as("net"))
    assert(net.where($"net" =!= 0L).count() == 0L,
      "a truncated table's feed must net to zero everywhere")
    // a projection that never names the key still expands exactly: the
    // reader decodes the key column on its own (metadata-only shape)
    val typeOnly = spark.read.table("lake.db.t_eqf__changes")
      .where(col(LakeChanges.VersionColumn) === 3L)
      .select(col(LakeChanges.TypeColumn))
      .as[String].collect().sorted.toSeq
    assert(typeOnly == Seq.fill(5)("delete") ++ Seq.fill(5)("insert"),
      s"projection-free expansion must still match rows, got $typeOnly")
    // STRING keys expand the same way
    spark.sql("CREATE TABLE lake.db.t_eqfs (name STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'name')")
    spark.range(0, 10).select(concat(lit("u"), $"id").as("name"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqfs").append()
    spark.sql("DELETE FROM lake.db.t_eqfs WHERE name IN ('u3', 'u7')")
    val sChanges = spark.read.table("lake.db.t_eqfs__changes")
      .where(col(LakeChanges.VersionColumn) === 2L)
      .select(col(LakeChanges.TypeColumn), $"name", $"v")
      .as[(String, String, Long)].collect().toSet
    assert(sChanges == Set(("delete", "u3", 3L), ("delete", "u7", 7L)))
  }

  test("concurrent upsert writers: 8 racing equality-delete batches all land; records scope by landed seq; last-wins exact") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_equprace (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 400).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_equprace").append() // v1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until 8).map { i =>
      scala.concurrent.Future {
        spark.range(i * 50L, i * 50L + 50L)
          .select($"id".as("k"), ($"id" * 1000L + i).as("v"))
          .coalesce(1).writeTo("lake.db.t_equprace")
          .option("upsert", "true").append()
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    val snap = LakeLog.currentSnapshot(tableDir("t_equprace")).get
    assert(snap.version == 9L, "8 racing upserts must land as v2..v9")
    // one record per landed commit, seqs = the landed versions — the
    // retry loop must re-derive the persisted set from the NEW parent
    assert(snap.eqdels.map(_.seq).sorted == (2L to 9L),
      s"records must scope by landed seq, got ${snap.eqdels.map(_.seq).sorted}")
    val got = spark.table("lake.db.t_equprace")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == (0L until 400L).map(k => k -> (k * 1000L + k / 50L)),
      "every key must carry its writer's value exactly once")
    // and the feed narrates all eight expansions: net replay == state
    val net = spark.read.table("lake.db.t_equprace__changes")
      .groupBy($"k", $"v")
      .agg(sum(when(col(graft.sources.LakeChanges.TypeColumn) === "insert", 1L)
        .otherwise(-1L)).as("net"))
      .where($"net" === 1L)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).sortBy(_._1).toSeq
    assert(net == got, "whole-history net replay must equal the final state")
  }

  test("feed soundness: per-version expansion equals Spark's own snapshot diff under a randomized mutation sequence") {
    import spark.implicits._
    // ground truth is SPARK ITSELF: for every version, the feed's rows
    // must equal the MULTISET diff of adjacent time-travel reads — no
    // re-implemented CDC semantics in the harness. The op mix covers
    // appends, eq upserts, keyed (equality) DELETEs, positional (dv)
    // DELETEs, and mid-sequence compactions (logical no-ops the feed
    // skips under skipChangeCommits).
    spark.sql("CREATE TABLE lake.db.t_feedprop (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    val t = "lake.db.t_feedprop"
    val rnd = new scala.util.Random(15151)
    var known = Set.empty[Long]
    for (step <- 0 until 14) {
      rnd.nextInt(5) match {
        case 0 if known.nonEmpty =>
          val ks = (rnd.shuffle(known.toSeq).take(1 + rnd.nextInt(4)) :+ 99999L).distinct
          spark.sql(s"DELETE FROM $t WHERE k IN (${ks.mkString(",")})")
          known --= ks
        case 1 if known.nonEmpty =>
          // positional path: Mixed files take a dv, covered files drop
          spark.sql(s"DELETE FROM $t WHERE v % 9 = ${rnd.nextInt(9)}")
        case _ =>
          val keys = Seq.fill(1 + rnd.nextInt(30))(rnd.nextInt(60).toLong).distinct
          keys.map(k => (k, rnd.nextInt(1000000).toLong)).toDF("k", "v")
            .coalesce(1).writeTo(t).option("upsert", "true").append()
          known ++= keys
      }
      if (step == 6 || step == 11)
        spark.sql("CALL lake.system.compact('db.t_feedprop', 2)").collect()
    }
    def multiset(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
      df.as[(Long, Long)].collect().groupBy(identity).map { case (r, a) => r -> a.length }
    def diff(a: Map[(Long, Long), Int], b: Map[(Long, Long), Int]): Map[(Long, Long), Int] =
      (a.keySet ++ b.keySet).flatMap { r =>
        val d = a.getOrElse(r, 0) - b.getOrElse(r, 0)
        if (d > 0) Some(r -> d) else None
      }.toMap
    val head = LakeLog.currentVersion(tableDir("t_feedprop")).get
    var prev = Map.empty[(Long, Long), Int]
    for (v <- 1L to head) {
      val cur = multiset(spark.sql(s"SELECT k, v FROM $t VERSION AS OF $v"))
      val feed = spark.read
        .option("startingVersion", v).option("endingVersion", v)
        .option("skipChangeCommits", "true")
        .table(s"${t}__changes")
        .select(col(graft.sources.LakeChanges.TypeColumn), $"k", $"v")
        .as[(String, Long, Long)].collect()
      val gotIns = feed.filter(_._1 == "insert").map(r => (r._2, r._3))
        .groupBy(identity).map { case (r, a) => r -> a.length }
      val gotDel = feed.filter(_._1 == "delete").map(r => (r._2, r._3))
        .groupBy(identity).map { case (r, a) => r -> a.length }
      assert(gotIns == diff(cur, prev) && gotDel == diff(prev, cur),
        s"version $v: feed expansion must equal Spark's own snapshot diff " +
          s"(ins ${gotIns.size} vs ${diff(cur, prev).size}, " +
          s"del ${gotDel.size} vs ${diff(prev, cur).size})")
      prev = cur
    }
    // and the whole-history net replay reconstructs the head state
    val net = spark.read.option("skipChangeCommits", "true")
      .table(s"${t}__changes")
      .groupBy($"k", $"v")
      .agg(sum(when(col(graft.sources.LakeChanges.TypeColumn) === "insert", 1L)
        .otherwise(-1L)).as("net"))
    assert(multiset(net.where($"net" === 1L).select($"k", $"v")) ==
      multiset(spark.table(t).select($"k", $"v")),
      "whole-history net replay must equal the final state")
  }

  test("feed soundness, COMPOSITE keys: per-version expansion equals Spark's own snapshot diff under a randomized tuple sequence") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_feedpropc (t BIGINT, id STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 't,id')")
    val tn = "lake.db.t_feedpropc"
    val rnd = new scala.util.Random(31517)
    def someIds(n: Int): Seq[String] =
      Seq.fill(n)(s"id${rnd.nextInt(8)}").distinct
    for (step <- 0 until 12) {
      rnd.nextInt(5) match {
        case 0 if step > 0 =>
          // tuple DELETE: a cross product over both components
          val ts = Seq.fill(1 + rnd.nextInt(2))(rnd.nextInt(4).toLong).distinct
          val ids = someIds(1 + rnd.nextInt(3))
          spark.sql(s"DELETE FROM $tn WHERE t IN (${ts.mkString(",")}) " +
            s"AND id IN (${ids.map(i => s"'$i'").mkString(",")})")
        case 1 if step > 0 =>
          spark.sql(s"DELETE FROM $tn WHERE v % 7 = ${rnd.nextInt(7)}")
        case _ =>
          val batch = (for {
            tt <- Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(4).toLong).distinct
            i <- someIds(1 + rnd.nextInt(4))
          } yield (tt, i, rnd.nextInt(100000).toLong)).distinct
          batch.toDF("t", "id", "v").coalesce(1)
            .writeTo(tn).option("upsert", "true").append()
      }
      if (step == 7)
        spark.sql("CALL lake.system.compact('db.t_feedpropc', 2)").collect()
    }
    def multiset(df: org.apache.spark.sql.DataFrame): Map[(Long, String, Long), Int] =
      df.as[(Long, String, Long)].collect()
        .groupBy(identity).map { case (r, a) => r -> a.length }
    def diff(a: Map[(Long, String, Long), Int],
        b: Map[(Long, String, Long), Int]): Map[(Long, String, Long), Int] =
      (a.keySet ++ b.keySet).flatMap { r =>
        val d = a.getOrElse(r, 0) - b.getOrElse(r, 0)
        if (d > 0) Some(r -> d) else None
      }.toMap
    val head = LakeLog.currentVersion(tableDir("t_feedpropc")).get
    var prev = Map.empty[(Long, String, Long), Int]
    for (ver <- 1L to head) {
      val cur = multiset(spark.sql(s"SELECT t, id, v FROM $tn VERSION AS OF $ver"))
      val feed = spark.read
        .option("startingVersion", ver).option("endingVersion", ver)
        .option("skipChangeCommits", "true")
        .table(s"${tn}__changes")
        .select(col(graft.sources.LakeChanges.TypeColumn), $"t", $"id", $"v")
        .as[(String, Long, String, Long)].collect()
      val gotIns = feed.filter(_._1 == "insert").map(r => (r._2, r._3, r._4))
        .groupBy(identity).map { case (r, a) => r -> a.length }
      val gotDel = feed.filter(_._1 == "delete").map(r => (r._2, r._3, r._4))
        .groupBy(identity).map { case (r, a) => r -> a.length }
      assert(gotIns == diff(cur, prev) && gotDel == diff(prev, cur),
        s"version $ver: composite feed expansion must equal Spark's own diff")
      prev = cur
    }
  }

  test("upsert key WIDENING: an INT key column widened to BIGINT keeps replacing rows written under the old type") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_eqw (k INT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 20).select($"id".cast("int").as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_eqw").append() // v1: INT-typed file
    spark.sql("ALTER TABLE lake.db.t_eqw ALTER COLUMN k TYPE BIGINT")
    // post-widen upsert: the record hashes/matches under each FILE's
    // write-time type — the INT-era file's rows must still replace
    spark.range(5, 8).select($"id".as("k"), ($"id" * 100L).as("v"))
      .coalesce(1).writeTo("lake.db.t_eqw").option("upsert", "true").append()
    val got = spark.table("lake.db.t_eqw").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == (0L until 20L).map(k =>
      k -> (if (k >= 5 && k < 8) k * 100L else k)),
      "a widened key must keep matching rows written under INT")
    // and the feed expands across the type boundary the same way
    val v = LakeLog.currentVersion(tableDir("t_eqw")).get
    val chg = spark.read.table("lake.db.t_eqw__changes")
      .where(col(graft.sources.LakeChanges.VersionColumn) === v &&
        col(graft.sources.LakeChanges.TypeColumn) === "delete")
      .select($"k", $"v").as[(Long, Long)].collect().toSet
    assert(chg == (5L until 8L).map(k => k -> k).toSet,
      "feed pre-images must decode the INT-era file under its own type")
  }

  test("composite upsert keys: tuple records replace per (t,id), keyed tuple DELETE is scan-free, the feed expands and guards per tuple") {
    import spark.implicits._
    import graft.sources.{LakeParquet, LakeChanges}
    spark.sql("CREATE TABLE lake.db.t_eqc (t BIGINT, id STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 't,id')")
    val base = for { tt <- 0L to 1L; i <- 0 until 5 }
      yield (tt, s"id$i", tt * 100L + i)
    base.toDF("t", "id", "v").coalesce(1)
      .writeTo("lake.db.t_eqc").append() // v1
    // v2: replace exactly (0,id1) and (1,id3) — (1,id1)/(0,id3) share a
    // component with the batch and must be UNTOUCHED (the tuple-vs-
    // column witness), with zero target file opens
    val opens0 = LakeParquet.dataFileOpens.get()
    Seq((0L, "id1", 901L), (1L, "id3", 903L)).toDF("t", "id", "v")
      .coalesce(1).writeTo("lake.db.t_eqc").option("upsert", "true").append()
    assert(LakeParquet.dataFileOpens.get() == opens0,
      "a composite upsert must never open a target data file")
    def content(): Seq[(Long, String, Long)] = spark.table("lake.db.t_eqc")
      .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    def expect(over: Map[(Long, String), Long],
        minus: Set[(Long, String)] = Set.empty): Seq[(Long, String, Long)] =
      base.filterNot(r => minus((r._1, r._2)))
        .map(r => (r._1, r._2, over.getOrElse((r._1, r._2), r._3)))
        .sortBy(r => (r._1, r._2))
    val over2 = Map((0L, "id1") -> 901L, (1L, "id3") -> 903L)
    assert(content() == expect(over2))
    // v3: a scan-free keyed TUPLE DELETE — conjunction of =/IN over the
    // key components = the cross product {(0,id2),(0,id9)}; (1,id2)
    // shares the id and must survive
    val opens1 = LakeParquet.dataFileOpens.get()
    spark.sql("DELETE FROM lake.db.t_eqc WHERE t = 0 AND id IN ('id2', 'id9')")
    assert(LakeParquet.dataFileOpens.get() == opens1,
      "a tuple DELETE must never open a data file")
    val snap3 = LakeLog.currentSnapshot(tableDir("t_eqc")).get
    assert(snap3.eqdels.size == 2 &&
      snap3.eqdels.forall(e => e.cols.map(_._2) == Seq("long", "string")),
      s"two composite records expected, got ${snap3.eqdels}")
    assert(content() == expect(over2, minus = Set((0L, "id2"))))
    // v4: replace (0,id1) AGAIN — the feed's guard must suppress the
    // v1 pre-image (already dead) and emit only the v2 row
    Seq((0L, "id1", 999L)).toDF("t", "id", "v")
      .coalesce(1).writeTo("lake.db.t_eqc").option("upsert", "true").append()
    def changesAt(ver: Long): Set[(String, Long, String, Long)] =
      spark.read.table("lake.db.t_eqc__changes")
        .where(col(LakeChanges.VersionColumn) === ver)
        .select(col(LakeChanges.TypeColumn), $"t", $"id", $"v")
        .as[(String, Long, String, Long)].collect().toSet
    assert(changesAt(2L) == Set(
      ("delete", 0L, "id1", 1L), ("delete", 1L, "id3", 103L),
      ("insert", 0L, "id1", 901L), ("insert", 1L, "id3", 903L)),
      "composite upsert narration: per-tuple pre-image deletes")
    assert(changesAt(3L) == Set(("delete", 0L, "id2", 2L)),
      "tuple DELETE narration: (1,id2) shares the id and must not emit")
    assert(changesAt(4L) == Set(
      ("delete", 0L, "id1", 901L), ("insert", 0L, "id1", 999L)),
      "re-replacement must emit the v2 row, not the tuple-dead v1 row")
    // compaction resolves the tuple records exactly
    spark.sql("CALL lake.system.compact('db.t_eqc', 1)").collect()
    assert(LakeLog.currentSnapshot(tableDir("t_eqc")).get.eqdels.isEmpty)
    assert(content() ==
      expect(over2 + ((0L, "id1") -> 999L), minus = Set((0L, "id2"))))
    // DROP of a component is refused; RENAME carries the comma list
    val dropErr = intercept[Exception](
      spark.sql("ALTER TABLE lake.db.t_eqc DROP COLUMN id"))
    assert(dropErr.getMessage.contains("upsert_key"))
    spark.sql("ALTER TABLE lake.db.t_eqc RENAME COLUMN id TO did")
    Seq((1L, "id0", 777L)).toDF("t", "did", "v")
      .coalesce(1).writeTo("lake.db.t_eqc").option("upsert", "true").append()
    assert(spark.table("lake.db.t_eqc").where($"did" === "id0" && $"t" === 1L)
      .select($"v").as[Long].collect().toSeq == Seq(777L),
      "upserts keep working across a component rename")
  }

  test("streaming composite upserts: each epoch commits one tuple record; last-wins per (t,id) across the drain") {
    import spark.implicits._
    val src = "lake.db.t_eqcs_src"
    val dst = "lake.db.t_eqcs"
    spark.sql(s"CREATE TABLE $src (t BIGINT, id STRING, v BIGINT)")
    spark.sql(s"CREATE TABLE $dst (t BIGINT, id STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 't,id')")
    // slice s re-keys the SAME (t,id) domain to value s*1000 + t*10 + i
    for (sl <- 0 until 3)
      (for { tt <- 0L to 1L; i <- 0 until 4 }
        yield (tt, s"id$i", sl * 1000L + tt * 10L + i))
        .toDF("t", "id", "v").coalesce(1).writeTo(src).append()
    val ckpt = java.nio.file.Files.createTempDirectory("eqcs-ckpt").toString
    spark.readStream.option("maxBytesPerTrigger", "1").table(src)
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsert", "true")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(dst).awaitTermination()
    val snap = LakeLog.currentSnapshot(tableDir("t_eqcs")).get
    assert(snap.eqdels.size == 2 &&
      snap.eqdels.forall(_.kind == "tuple"),
      s"each epoch after the first commits one tuple record: ${snap.eqdels}")
    val got = spark.table(dst).as[(Long, String, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == (for { tt <- 0L to 1L; i <- 0 until 4 }
      yield (tt, s"id$i", 2000L + tt * 10L + i)).sortBy(r => (r._1, r._2)),
      "the last slice must win per composite key")
  }

  test("feed fast path: narrating an append commit on a checkpointed table parses ZERO checkpoint parts") {
    import spark.implicits._
    import graft.sources.{LakeChanges, LakeColIds}
    spark.sql("""CREATE TABLE lake.db.t_feedfast (id BIGINT, b BIGINT)
      |PARTITIONED BY (b) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (c <- 0 until 10) // -> checkpoint v10, one part per bucket
      spark.range(c * 30L, c * 30L + 30L)
        .select($"id", ($"id" % 3L + c * 3L).as("b"))
        .coalesce(1).writeTo("lake.db.t_feedfast").append()
    spark.range(5000L, 5004L).select($"id", lit(1L).as("b"))
      .coalesce(1).writeTo("lake.db.t_feedfast").append() // v11: pure append
    val dir = tableDir("t_feedfast")
    val snap = LakeLog.currentSnapshot(dir).get
    val fcols = LakeColIds.cols(snap.schema, snap.props)
    LakeLog.clearPartCache()
    val reads0 = LakeLog.checkpointReads.get()
    val parts = LakeChanges.partitionsFor(dir, fcols, snap.schema, 11L,
      skipChangeCommits = false)
    assert(LakeLog.checkpointReads.get() == reads0,
      "pure-append narration must come off the delta alone — zero part parses")
    assert(parts.nonEmpty && parts.forall(_.changeType == "insert"),
      s"an append version narrates as inserts only, got $parts")
    // the narrated rows are the commit's rows exactly
    val v11 = spark.read.table("lake.db.t_feedfast__changes")
      .where(col(LakeChanges.VersionColumn) === 11L)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(v11 == (5000L until 5004L).toSeq)
  }

  test("deep health fans out: one task per census chunk, each part parsed once inside its task") {
    import spark.implicits._
    // one entry per part (byte-bound 1) → the v10 checkpoint has one
    // chunk per partition tuple; two post-cp deltas add two more chunks
    spark.sql("""CREATE TABLE lake.db.t_healthdist (id BIGINT, p BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '1')""".stripMargin)
    for (i <- 0 until 12)
      spark.range(i * 10L, (i + 1) * 10L).select($"id", lit(i.toLong).as("p"))
        .coalesce(1).writeTo("lake.db.t_healthdist").append()
    val dir = tableDir("t_healthdist")
    val nParts = LakeLog.checkpointParts(dir, 10L)
    assert(nParts >= 10, s"fixture must split per entry: $nParts")
    LakeLog.clearPartCache()
    val tasks0 = graft.sources.LakeHealth.chunkTasks.get()
    val reads0 = LakeLog.checkpointReads.get()
    val row = spark.sql("CALL lake.system.health('db.t_healthdist', true)").head()
    assert(row.getBoolean(0), s"clean table probes ok: $row")
    assert(graft.sources.LakeHealth.chunkTasks.get() - tasks0 == nParts + 2L,
      "deep health must probe one Spark TASK per checkpoint part + one per delta")
    assert(LakeLog.checkpointReads.get() - reads0 == nParts.toLong,
      "each part parses exactly once — inside its own task, never as a driver census")
    // physical damage in a CHECKPOINTED entry still surfaces through
    // the chunk walk (survivor rule: the entry is live, its chunk sees it)
    val victim = LakeLog.currentSnapshot(dir).get.files.head
    Files.delete(dir.resolve(victim.path))
    val row2 = spark.sql("CALL lake.system.health('db.t_healthdist', true)").head()
    assert(!row2.getBoolean(0) && row2.getInt(5) == 1,
      s"missing data file must surface via the distributed walk: $row2")
  }

  test("compact_when_eq_records: maintain() resolves the backlog at the threshold, no-ops below") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_maint (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k', " +
      "'compact_when_eq_records' = '2')")
    spark.range(0, 100).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_maint").append() // v1
    spark.range(0, 10).select($"id".as("k"), ($"id" * 7L).as("v"))
      .coalesce(1).writeTo("lake.db.t_maint").option("upsert", "true").append() // v2
    val dir = tableDir("t_maint")
    // below threshold: a scripted maintain() is a no-op — record stays
    val r1 = spark.sql("CALL lake.system.maintain('db.t_maint')").head()
    assert(!r1.getBoolean(0) && r1.getInt(1) == 1 && r1.getLong(2) == 2L,
      s"below threshold must no-op: $r1")
    assert(LakeLog.currentSnapshot(dir).get.eqdels.size == 1)
    spark.range(50, 60).select($"id".as("k"), ($"id" * 9L).as("v"))
      .coalesce(1).writeTo("lake.db.t_maint").option("upsert", "true").append() // v3
    // at threshold: the predating files rewrite clean and the commit's
    // auto-prune drops the WHOLE record set — the next scan plans zero
    // eq key columns because no live record exists
    val r2 = spark.sql("CALL lake.system.maintain('db.t_maint')").head()
    assert(r2.getBoolean(0) && r2.getInt(1) == 2 && r2.getInt(3) >= 1,
      s"threshold reached must trigger: $r2")
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.eqdels.isEmpty, s"the backlog must resolve: ${snap.eqdels}")
    val got = spark.table("lake.db.t_maint").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    val want = (0L until 100L).map(k => k ->
      (if (k < 10) k * 7L else if (k >= 50 && k < 60) k * 9L else k))
    assert(got == want, s"resolved content:\n$got")
    // resolved: the next maintain() is a no-op again
    val r3 = spark.sql("CALL lake.system.maintain('db.t_maint')").head()
    assert(!r3.getBoolean(0) && r3.getInt(1) == 0)
    // the threshold property validates like every numeric knob
    val err = intercept[Exception](spark.sql(
      "ALTER TABLE lake.db.t_maint SET TBLPROPERTIES ('compact_when_eq_records' = 'x')"))
    assert(chainMsg(err).contains("compact_when_eq_records"), s"got $err")
  }

  test("compact_when_dv_pct: maintain() rewrites only files past the dv ratio, leaves the rest untouched") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_dvmaint (k BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p)
      |TBLPROPERTIES ('mode' = 'mor', 'compact_when_dv_pct' = '40')""".stripMargin)
    // two files (one per partition), 100 rows each
    spark.range(0, 200).select($"id".as("k"), ($"id" % 2L).as("p"), $"id".as("v"))
      .repartition(1).writeTo("lake.db.t_dvmaint").append()
    val dir = tableDir("t_dvmaint")
    // p=0: dv half the rows (50% ≥ 40% fires); p=1: dv 10 rows (10%)
    spark.sql("DELETE FROM lake.db.t_dvmaint WHERE p = 0 AND v % 4 = 0")
    spark.sql("DELETE FROM lake.db.t_dvmaint WHERE p = 1 AND v < 21")
    val snapB = LakeLog.currentSnapshot(dir).get
    val heavy = snapB.files.filter(f => f.dvRows * 100L >= 40L * f.rows)
    val light = snapB.files.filterNot(f => heavy.exists(_.path == f.path))
    assert(heavy.size == 1 && light.size == 1, s"fixture: ${snapB.files.map(f => (f.path, f.dvRows, f.rows))}")
    val r = spark.sql("CALL lake.system.maintain('db.t_dvmaint')").head()
    assert(r.getBoolean(0) && r.getInt(5) == 1,
      s"one dv-heavy file must trigger the rewrite: $r")
    val snapA = LakeLog.currentSnapshot(dir).get
    assert(light.map(_.path).forall(p => snapA.files.exists(_.path == p)),
      "the under-threshold file keeps its path (and its dv)")
    assert(!snapA.files.exists(_.path == heavy.head.path),
      "the dv-heavy file is reborn clean")
    assert(snapA.files.filter(f =>
      light.exists(_.path == f.path)).forall(_.dvRows > 0L),
      "the light file's dv survives — maintenance is file-scoped")
    assert(snapA.files.filterNot(f =>
      light.exists(_.path == f.path)).forall(_.dvRows == 0L),
      "reborn files carry no dv")
    // content exact after the partial rewrite
    val got = spark.table("lake.db.t_dvmaint").select($"v")
      .as[Long].collect().sorted.toSeq
    val want = (0L until 200L).filterNot(v =>
      (v % 2L == 0L && v % 4L == 0L) || (v % 2L == 1L && v < 21L))
    assert(got == want, s"content after dv maintenance: ${got.size} rows")
    // below both lines now: no-op
    val r2 = spark.sql("CALL lake.system.maintain('db.t_dvmaint')").head()
    assert(!r2.getBoolean(0) && r2.getInt(5) == 0, s"clean table must no-op: $r2")
    // the percentage validates 1..100
    val err = intercept[Exception](spark.sql(
      "ALTER TABLE lake.db.t_dvmaint SET TBLPROPERTIES ('compact_when_dv_pct' = '200')"))
    assert(chainMsg(err).contains("compact_when_dv_pct"), s"got $err")
  }

  test("canonical MERGE routes through the equality-delete path: zero target reads, dup keys rejected, non-canonical stays positional") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_merge_up (k BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 20).select($"id".as("k"), lit("a").as("seg"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_merge_up").append() // v1
    spark.range(10, 30).select($"id".as("k"), lit("b").as("seg"), ($"id" * 2L).as("v"))
      .createOrReplaceTempView("t_merge_src")
    val dir = tableDir("t_merge_up")
    val before = filePaths("t_merge_up")
    // CANONICAL shape: matched-UPDATE writes the same full row the
    // not-matched-INSERT writes, ON covers exactly the upsert key
    spark.sql(
      """MERGE INTO lake.db.t_merge_up t USING t_merge_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.seg = s.seg, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)""".stripMargin)
    val snap = LakeLog.currentSnapshot(dir).get
    // census-pinned scan-free route: every pre-existing file survives
    // untouched (no rewrite, no dv), the mutation is ONE eq record
    assert(snap.version == 2L, "one commit")
    assert(before.toSet.subsetOf(snap.files.map(_.path).toSet),
      "no target file replaced — the MERGE never read the target")
    assert(snap.files.forall(_.dvRows == 0L), "no positional deletes")
    assert(snap.eqdels.size == 1 && snap.eqdels.head.n == 20L,
      s"one record over the 20 source keys: ${snap.eqdels}")
    val got = spark.table("lake.db.t_merge_up").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val want = (0L until 10L).map(k => (k, "a", k)) ++
      (10L until 30L).map(k => (k, "b", k * 2L))
    assert(got == want, s"merged state:\n$got")
    // DUPLICATE source keys: the scan-free route is stricter than SQL
    // MERGE's cardinality check — it fails the write, nothing lands
    spark.range(0, 4).select(($"id" % 2L).as("k"), lit("dup").as("seg"), $"id".as("v"))
      .createOrReplaceTempView("t_merge_dup")
    val dupErr = intercept[Exception](spark.sql(
      """MERGE INTO lake.db.t_merge_up t USING t_merge_dup s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.seg = s.seg, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)""".stripMargin))
    assert(chainMsg(dupErr).contains("duplicate source keys"), s"got $dupErr")
    assert(LakeLog.currentSnapshot(dir).get.version == 2L, "nothing landed")
    assert(spark.table("lake.db.t_merge_up").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq == want, "state unchanged after the abort")
    // NON-CANONICAL (clause condition): stays on the positional MOR
    // plan — correct result, and the commit touches the target (dv)
    spark.sql(
      """MERGE INTO lake.db.t_merge_up t USING t_merge_src s ON t.k = s.k
        |WHEN MATCHED AND s.k < 12 THEN UPDATE SET t.k = s.k, t.seg = 'c', t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)""".stripMargin)
    val snap3 = LakeLog.currentSnapshot(dir).get
    assert(snap3.files.exists(_.dvRows > 0L),
      "the conditional MERGE must take the positional path (dv deletes)")
    val got3 = spark.table("lake.db.t_merge_up").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val want3 = want.map { case (k, seg, v) =>
      if (k >= 10 && k < 12) (k, "c", v) else (k, seg, v) }
    assert(got3 == want3, s"conditional merge state:\n$got3")
  }

  test("canonical MERGE on a COMPOSITE upsert key routes scan-free") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_merge_comp (k1 BIGINT, k2 STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k1,k2')")
    // 12 distinct (id%4, g<id%3>) pairs, one row each
    val init = (0L until 12L).map(i => (i % 4L, s"g${i % 3L}", i))
    init.toDF("k1", "k2", "v")
      .coalesce(1).writeTo("lake.db.t_merge_comp").append()
    // 6 distinct (id%3, g<id%2>) pairs — all present in the target
    val srcKeys = (0L until 6L).map(i => (i % 3L, s"g${i % 2L}")).distinct
    srcKeys.map { case (a, b) => (a, b, 777L) }.toDF("k1", "k2", "v")
      .createOrReplaceTempView("t_mc_src")
    val dir = tableDir("t_merge_comp")
    spark.sql(
      """MERGE INTO lake.db.t_merge_comp t USING t_mc_src s
        |ON t.k1 = s.k1 AND t.k2 = s.k2
        |WHEN MATCHED THEN UPDATE SET t.k1 = s.k1, t.k2 = s.k2, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k1, k2, v) VALUES (s.k1, s.k2, s.v)""".stripMargin)
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.eqdels.size == 1 && snap.eqdels.head.kind == "tuple",
      s"one tuple record: ${snap.eqdels}")
    assert(snap.files.forall(_.dvRows == 0L), "scan-free: no positional deletes")
    val got = spark.table("lake.db.t_merge_comp")
      .as[(Long, String, Long)].collect().toSet
    val want = init.map { case (k1, k2, v) =>
      if (srcKeys.contains((k1, k2))) (k1, k2, 777L) else (k1, k2, v)
    }.toSet
    assert(got == want, s"composite merged state:\n$got\nvs\n$want")
  }

  test("delete-only MERGE routes scan-free: one eq record, zero data files, positional fallback for conditioned deletes") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_merge_del (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 30).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_merge_del").append() // v1
    val dir = tableDir("t_merge_del")
    val before = filePaths("t_merge_del")
    // tombstone batch: keys 10..19, plus 40..44 that match NOTHING —
    // unmatched tombstones are a no-op, exactly like SQL MERGE
    spark.range(10, 20).union(spark.range(40, 45)).select($"id".as("k"))
      .createOrReplaceTempView("t_md_src")
    spark.sql(
      """MERGE INTO lake.db.t_merge_del t USING t_md_src s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.version == 2L, "one commit")
    assert(snap.files.map(_.path) == before,
      "the delete commit must change NO data file (no adds, no removes)")
    assert(snap.files.forall(_.dvRows == 0L), "no positional deletes")
    assert(snap.eqdels.size == 1 && snap.eqdels.head.n == 15L,
      s"one record over the 15 distinct tombstones: ${snap.eqdels}")
    assert(spark.table("lake.db.t_merge_del").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq ==
      ((0L until 10L) ++ (20L until 30L)).map(k => k -> k),
      "matched keys die, unmatched tombstones no-op")
    // DUPLICATE tombstones: stricter than SQL MERGE — the write fails
    spark.range(0, 4).select(($"id" % 2L).as("k"))
      .createOrReplaceTempView("t_md_dup")
    val dupErr = intercept[Exception](spark.sql(
      """MERGE INTO lake.db.t_merge_del t USING t_md_dup s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(chainMsg(dupErr).contains("duplicate source keys"), s"got $dupErr")
    assert(LakeLog.currentSnapshot(dir).get.version == 2L, "nothing landed")
    // CONDITIONED delete (`WHEN MATCHED AND ...`): positional plan
    spark.range(20, 25).select($"id".as("k")).createOrReplaceTempView("t_md_c")
    spark.sql(
      """MERGE INTO lake.db.t_merge_del t USING t_md_c s ON t.k = s.k
        |WHEN MATCHED AND t.v % 2 = 0 THEN DELETE""".stripMargin)
    val snap3 = LakeLog.currentSnapshot(dir).get
    assert(snap3.files.exists(_.dvRows > 0L),
      "the conditioned delete must take the positional path (dv)")
    assert(spark.table("lake.db.t_merge_del").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq ==
      ((0L until 10L) ++ Seq(21L, 23L) ++ (25L until 30L)).map(k => k -> k),
      "conditioned delete drops only even v in 20..24")
  }

  test("delete-only MERGE on a PARTITIONED composite-key table: tuple record, no partition write path") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_merge_delp (k1 BIGINT, k2 STRING, p BIGINT, v BIGINT)
      |PARTITIONED BY (p)
      |TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k1,k2')""".stripMargin)
    val init = (0L until 24L).map(i => (i % 6L, s"g${i % 4L}", i % 2L, i))
    init.toDF("k1", "k2", "p", "v")
      .repartition(2).writeTo("lake.db.t_merge_delp").append()
    val dir = tableDir("t_merge_delp")
    val before = filePaths("t_merge_delp").toSet
    // tombstone TUPLES — the partition column is NOT part of the key,
    // so the projected source rows carry a NULL partition value: the
    // keys-only writer must never evaluate the partition tuple
    val tombs = Seq((0L, "g0"), (1L, "g1"), (5L, "g3"))
    tombs.toDF("k1", "k2").createOrReplaceTempView("t_mdp_src")
    spark.sql(
      """MERGE INTO lake.db.t_merge_delp t USING t_mdp_src s
        |ON t.k1 = s.k1 AND t.k2 = s.k2
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.files.map(_.path).toSet == before, "census unchanged")
    assert(snap.eqdels.size == 1 && snap.eqdels.head.kind == "tuple" &&
      snap.eqdels.head.n == 3L, s"one 3-tuple record: ${snap.eqdels}")
    val got = spark.table("lake.db.t_merge_delp")
      .select($"k1", $"k2", $"v").as[(Long, String, Long)].collect().toSet
    val want = init.collect {
      case (k1, k2, _, v) if !tombs.contains((k1, k2)) => (k1, k2, v) }.toSet
    assert(got == want, s"tuple tombstones applied:\n${got.toSeq.sorted}")
  }

  test("DELETE WHERE key IN (subquery) routes scan-free: SQL IN semantics for dups/nulls, compound predicates stay positional") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_delin (k BIGINT, v BIGINT, " +
      "CONSTRAINT v_ok CHECK (v >= 0)) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 30).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_delin").append() // v1
    val dir = tableDir("t_delin")
    val before = filePaths("t_delin")
    // the erasure list: dups collapse, NULL matches nothing, 77 no-ops
    // — exactly SQL IN semantics; and the enforced CHECK constraint
    // does NOT block this route (pure deletes cannot violate it)
    Seq(Some(3L), Some(3L), None, Some(7L), Some(77L))
      .toDF("kk").createOrReplaceTempView("t_delin_src")
    spark.sql("DELETE FROM lake.db.t_delin WHERE k IN (SELECT kk FROM t_delin_src)")
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.version == 2L && snap.files.map(_.path) == before,
      "the erasure commit changes NO data file")
    assert(snap.files.forall(_.dvRows == 0L), "no positional deletes")
    assert(snap.eqdels.size == 1 && snap.eqdels.head.n == 3L,
      s"one record over the 3 distinct non-null keys: ${snap.eqdels}")
    assert(spark.table("lake.db.t_delin").as[(Long, Long)]
      .collect().sortBy(_._1).map(_._1).toSeq ==
      (0L until 30L).filterNot(Set(3L, 7L)),
      "distinct keys die, dups/nulls/no-matches are no-ops")
    // a COMPOUND predicate cannot be a record — positional plan
    spark.range(10, 15).select($"id".as("kk")).createOrReplaceTempView("t_delin_c")
    spark.sql("DELETE FROM lake.db.t_delin " +
      "WHERE k IN (SELECT kk FROM t_delin_c) AND v % 2 = 0")
    val snap3 = LakeLog.currentSnapshot(dir).get
    assert(snap3.files.exists(_.dvRows > 0L),
      "compound-predicate DELETE must take the positional path")
    assert(spark.table("lake.db.t_delin").as[(Long, Long)]
      .collect().sortBy(_._1).map(_._1).toSeq ==
      (0L until 30L).filterNot(Set(3L, 7L, 10L, 12L, 14L)),
      "positional fallback stays correct")
  }

  test("DELETE WHERE (k1, k2) IN (subquery) commits one tuple record scan-free") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_delin2 (k1 BIGINT, k2 STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k1,k2')")
    val init = (0L until 24L).map(i => (i % 6L, s"g${i % 4L}", i))
    init.toDF("k1", "k2", "v").coalesce(1).writeTo("lake.db.t_delin2").append()
    val dir = tableDir("t_delin2")
    val before = filePaths("t_delin2")
    val tombs = Seq((0L, "g0"), (5L, "g3"))
    tombs.toDF("a", "b").createOrReplaceTempView("t_delin2_src")
    spark.sql("DELETE FROM lake.db.t_delin2 " +
      "WHERE (k1, k2) IN (SELECT a, b FROM t_delin2_src)")
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.files.map(_.path) == before && snap.files.forall(_.dvRows == 0L),
      "scan-free: census unchanged, no dv")
    assert(snap.eqdels.size == 1 && snap.eqdels.head.kind == "tuple" &&
      snap.eqdels.head.n == 2L, s"one 2-tuple record: ${snap.eqdels}")
    assert(spark.table("lake.db.t_delin2").select($"k1", $"k2", $"v")
      .as[(Long, String, Long)].collect().toSet ==
      init.filterNot(t => tombs.contains((t._1, t._2))).toSet,
      "tuple erasure applied")
  }

  test("CDC-apply MERGE is ONE atomic scan-free commit: upserts + tombstones, null op fails whole batch, non-negated gate stays positional") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_cdc (k BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 20).select($"id".as("k"), lit("a").as("seg"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_cdc").append() // v1
    val dir = tableDir("t_cdc")
    val before = filePaths("t_cdc")
    // one Debezium-style batch: updates 5..9, tombstones 10..14 (and
    // 40..41 matching nothing — no-ops), inserts 30..32
    val batch =
      (5L until 10L).map(k => (k, "b", k * 2L, "U")) ++
      (10L until 15L).map(k => (k, null.asInstanceOf[String], 0L, "D")) ++
      (40L until 42L).map(k => (k, null.asInstanceOf[String], 0L, "D")) ++
      (30L until 33L).map(k => (k, "b", k * 2L, "U"))
    batch.toDF("k", "seg", "v", "op").createOrReplaceTempView("t_cdc_src")
    spark.sql(
      """MERGE INTO lake.db.t_cdc t USING t_cdc_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.seg = s.seg, t.v = s.v
        |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
        |  INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)""".stripMargin)
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.version == 2L, "the whole batch lands in ONE commit")
    assert(before.toSet.subsetOf(snap.files.map(_.path).toSet),
      "no pre-existing file replaced — the CDC apply never read the target")
    assert(snap.files.forall(_.dvRows == 0L), "no positional deletes")
    assert(snap.eqdels.size == 1 && snap.eqdels.head.n == 15L,
      s"one record over ALL 15 batch keys (incl. tombstones): ${snap.eqdels}")
    val got = spark.table("lake.db.t_cdc").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val want = (0L until 5L).map(k => (k, "a", k)) ++
      (5L until 10L).map(k => (k, "b", k * 2L)) ++
      (15L until 20L).map(k => (k, "a", k)) ++
      (30L until 33L).map(k => (k, "b", k * 2L))
    assert(got == want, s"applied state:\n$got")
    // the change feed narrates the CDC commit from its files + record:
    // pre-image deletes for every key that HAD a row (updates and
    // matched tombstones alike), inserts for the non-tombstones
    import graft.sources.LakeChanges
    val chg = spark.read.table("lake.db.t_cdc__changes")
      .where(col(LakeChanges.VersionColumn) === 2L)
      .select(col(LakeChanges.TypeColumn), $"k", $"seg", $"v")
      .as[(String, Long, String, Long)].collect().toSet
    val wantChg =
      (5L until 10L).map(k => ("delete", k, "a", k)).toSet ++
      (10L until 15L).map(k => ("delete", k, "a", k)) ++
      (5L until 10L).map(k => ("insert", k, "b", k * 2L)) ++
      (30L until 33L).map(k => ("insert", k, "b", k * 2L))
    assert(chg == wantChg, s"CDC commit narration:\n${chg.toSeq.sorted}")
    // NULL op mark: the route cannot classify the row — the WHOLE
    // batch fails, nothing lands (atomicity witness)
    Seq((0L, "x", 1L, "U"), (1L, "x", 1L, null.asInstanceOf[String]))
      .toDF("k", "seg", "v", "op").createOrReplaceTempView("t_cdc_null")
    val nullErr = intercept[Exception](spark.sql(
      """MERGE INTO lake.db.t_cdc t USING t_cdc_null s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.seg = s.seg, t.v = s.v
        |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
        |  INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)""".stripMargin))
    assert(chainMsg(nullErr).contains("NULL op mark"), s"got $nullErr")
    assert(LakeLog.currentSnapshot(dir).get.version == 2L, "nothing landed")
    assert(spark.table("lake.db.t_cdc").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq == want, "state unchanged after the abort")
    // an UNGATED insert clause is NOT the canonical shape (an unmatched
    // tombstone would insert its nulls) — positional plan serves it
    Seq((15L, "c", 99L, "U")).toDF("k", "seg", "v", "op")
      .createOrReplaceTempView("t_cdc_ug")
    spark.sql(
      """MERGE INTO lake.db.t_cdc t USING t_cdc_ug s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.seg = s.seg, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)""".stripMargin)
    val snap3 = LakeLog.currentSnapshot(dir).get
    assert(snap3.files.exists(_.dvRows > 0L),
      "the ungated-insert MERGE must take the positional path (dv)")
    assert(spark.table("lake.db.t_cdc").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq ==
      want.map { case (15L, _, _) => (15L, "c", 99L); case r => r },
      "positional fallback stays correct")
  }

  test("CDC-apply MERGE on a partitioned composite-key table routes scan-free") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_cdc_comp (k1 BIGINT, k2 STRING, p BIGINT, v BIGINT)
      |PARTITIONED BY (p)
      |TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k1,k2')""".stripMargin)
    val init = (0L until 24L).map(i => (i % 6L, s"g${i % 4L}", i % 2L, i))
    init.toDF("k1", "k2", "p", "v")
      .repartition(2).writeTo("lake.db.t_cdc_comp").append()
    val dir = tableDir("t_cdc_comp")
    val before = filePaths("t_cdc_comp").toSet
    // tombstone two live tuples, upsert one live + one new tuple
    val batch = Seq(
      (0L, "g0", null.asInstanceOf[Object], null.asInstanceOf[Object], "D"),
      (1L, "g1", null.asInstanceOf[Object], null.asInstanceOf[Object], "D"),
      (2L, "g2", Long.box(1L), Long.box(777L), "U"),
      (9L, "g9", Long.box(0L), Long.box(888L), "U"))
    batch.map(t => (t._1, t._2, Option(t._3).map(_.asInstanceOf[Long]),
        Option(t._4).map(_.asInstanceOf[Long]), t._5))
      .toDF("k1", "k2", "p", "v", "op").createOrReplaceTempView("t_cdcc_src")
    spark.sql(
      """MERGE INTO lake.db.t_cdc_comp t USING t_cdcc_src s
        |ON t.k1 = s.k1 AND t.k2 = s.k2
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.k1 = s.k1, t.k2 = s.k2, t.p = s.p, t.v = s.v
        |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
        |  INSERT (k1, k2, p, v) VALUES (s.k1, s.k2, s.p, s.v)""".stripMargin)
    val snap = LakeLog.currentSnapshot(dir).get
    assert(before.subsetOf(snap.files.map(_.path).toSet), "census only grew")
    assert(snap.files.forall(_.dvRows == 0L), "no positional deletes")
    assert(snap.eqdels.size == 1 && snap.eqdels.head.kind == "tuple" &&
      snap.eqdels.head.n == 4L, s"one 4-tuple record: ${snap.eqdels}")
    val got = spark.table("lake.db.t_cdc_comp")
      .select($"k1", $"k2", $"v").as[(Long, String, Long)].collect().toSet
    val want = init.collect {
      case (k1, k2, _, v) if (k1, k2) != ((0L, "g0")) && (k1, k2) != ((1L, "g1")) &&
        (k1, k2) != ((2L, "g2")) => (k1, k2, v)
    }.toSet + ((2L, "g2", 777L)) + ((9L, "g9", 888L))
    assert(got == want, s"composite CDC state:\n${got.toSeq.sorted}")
  }

  test("concurrent CDC-apply MERGEs: 8 racing batches all land atomically, content exact") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_cdcrace (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 800).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_cdcrace").append() // v1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // disjoint key ranges: every batch tombstones k%4==0, upserts the
    // rest to k*10 — each MERGE is one commit, losers retry internally
    val futures = (0 until 8).map { w =>
      scala.concurrent.Future {
        spark.range(w * 100L, (w + 1) * 100L)
          .select($"id".as("k"), ($"id" * 10L).as("v"),
            when($"id" % 4L === 0L, lit("D")).otherwise(lit("U")).as("op"))
          .createOrReplaceTempView(s"t_cdcrace_w$w")
        spark.sql(
          s"""MERGE INTO lake.db.t_cdcrace t USING t_cdcrace_w$w s ON t.k = s.k
             |WHEN MATCHED AND s.op = 'D' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
             |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
             |  INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration("180s"))
    pool.shutdown()
    val snap = LakeLog.currentSnapshot(tableDir("t_cdcrace")).get
    assert(snap.version == 9L, s"8 racing CDC applies must land as v2..v9, got ${snap.version}")
    assert(snap.eqdels.size == 8 && snap.eqdels.map(_.n).sum == 800L,
      s"one record per batch over its 100 keys: ${snap.eqdels.map(_.n)}")
    assert(snap.files.forall(_.dvRows == 0L), "no positional deletes anywhere")
    val got = spark.table("lake.db.t_cdcrace").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    val want = (0L until 800L).filterNot(_ % 4L == 0L).map(k => k -> k * 10L)
    assert(got == want, s"raced content: ${got.size} rows vs ${want.size}")
  }

  test("CDC-apply replay is content-idempotent: re-applying the identical batch changes nothing") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_cdc_replay (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 20).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_cdc_replay").append()
    spark.range(5, 15).select($"id".as("k"), ($"id" * 3L).as("v"),
        when($"id" % 2L === 0L, lit("D")).otherwise(lit("U")).as("op"))
      .createOrReplaceTempView("t_cdcr_src")
    val merge =
      """MERGE INTO lake.db.t_cdc_replay t USING t_cdcr_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
        |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
        |  INSERT (k, v) VALUES (s.k, s.v)""".stripMargin
    spark.sql(merge)
    val after1 = spark.table("lake.db.t_cdc_replay").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    // an at-least-once consumer retries the SAME batch: the new record
    // kills the first apply's rows by seq scoping, the new files carry
    // identical rows — the content is a fixed point
    spark.sql(merge)
    val snap = LakeLog.currentSnapshot(tableDir("t_cdc_replay")).get
    assert(snap.version == 3L && snap.eqdels.size == 2,
      s"replay lands as its own version + record: ${snap.version}/${snap.eqdels.size}")
    assert(spark.table("lake.db.t_cdc_replay").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq == after1,
      "replaying the identical CDC batch must not change the content")
  }

  test("streaming CDC with tombstones: foreachBatch + CDC-apply MERGE, every epoch one scan-free commit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE lake.db.t_cdc_stream (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')")
    spark.range(0, 30).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_cdc_stream").append() // v1
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("cdc-stream-ckpt").toString
    val in = MemoryStream[(Long, Long, String)]
    // epoch 1: upsert 0..9 to v*7, tombstone 10..14
    in.addData((0L until 10L).map(k => (k, k * 7L, "U")) ++
      (10L until 15L).map(k => (k, 0L, "D")): _*)
    val q = in.toDF().toDF("k", "v", "op").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          batch.createOrReplaceTempView("t_cdcs_batch")
          batch.sparkSession.sql(
            """MERGE INTO lake.db.t_cdc_stream t USING t_cdcs_batch s ON t.k = s.k
              |WHEN MATCHED AND s.op = 'D' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
              |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
              |  INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
          ()
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // epoch 2 in a fresh drain: resurrect 12, erase 3
    in.addData((12L, 120L, "U"), (3L, 0L, "D"))
    val q2 = in.toDF().toDF("k", "v", "op").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          batch.createOrReplaceTempView("t_cdcs_batch2")
          batch.sparkSession.sql(
            """MERGE INTO lake.db.t_cdc_stream t USING t_cdcs_batch2 s ON t.k = s.k
              |WHEN MATCHED AND s.op = 'D' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
              |WHEN NOT MATCHED AND NOT (s.op = 'D') THEN
              |  INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
          ()
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val snap = LakeLog.currentSnapshot(tableDir("t_cdc_stream")).get
    assert(snap.version == 3L, s"one scan-free commit per epoch: ${snap.version}")
    assert(snap.files.forall(_.dvRows == 0L), "no positional deletes")
    assert(snap.eqdels.size == 2, s"one record per epoch: ${snap.eqdels.size}")
    val got = spark.table("lake.db.t_cdc_stream").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    val want = ((0L until 10L).filterNot(_ == 3L).map(k => k -> k * 7L) :+
      (12L -> 120L)) ++ (15L until 30L).map(k => k -> k)
    assert(got == want.sortBy(_._1), s"streamed CDC state:\n$got")
  }

  test("scan-free MERGE routes stand down on tables with ENFORCED constraints (post-hoc plans skip constraint injection)") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_merge_chk (k BIGINT, v BIGINT,
      |CONSTRAINT v_nonneg CHECK (v >= 0))
      |TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'k')""".stripMargin)
    spark.range(0, 10).select($"id".as("k"), $"id".as("v"))
      .coalesce(1).writeTo("lake.db.t_merge_chk").append()
    val dir = tableDir("t_merge_chk")
    spark.range(5, 8).select($"id".as("k"), (-$"id").as("v"))
      .createOrReplaceTempView("t_chk_src")
    // canonical upsert shape, but the table enforces CHECK(v >= 0):
    // the positional plan (which got constraint injection during its
    // analysis) must serve it and REJECT the violating rows
    val err = intercept[Exception](spark.sql(
      """MERGE INTO lake.db.t_merge_chk t USING t_chk_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin))
    assert(chainMsg(err).toLowerCase.contains("check") ||
      chainMsg(err).contains("v_nonneg"), s"got $err")
    assert(LakeLog.currentSnapshot(dir).get.eqdels.isEmpty,
      "no equality record — the scan-free route must not plan under constraints")
    assert(spark.table("lake.db.t_merge_chk").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq == (0L until 10L).map(k => k -> k),
      "constraint violation rejected the whole MERGE")
  }

  test("feed mutation planning is O(delta): dv transitions and eq expansions parse only admitted checkpoint parts") {
    import spark.implicits._
    import graft.sources.{LakeChanges, LakeColIds}
    // one entry per part, disjoint k ranges per part → path blooms and
    // column ranges can each pin a mutation to its own part
    spark.sql("""CREATE TABLE lake.db.t_feedmut (k BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '1',
      |'mode' = 'mor', 'upsert_key' = 'k')""".stripMargin)
    for (i <- 0 until 10) // cp v10
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id".as("k"), lit(i.toLong).as("p"), $"id".as("v"))
        .coalesce(1).writeTo("lake.db.t_feedmut").append()
    val dir = tableDir("t_feedmut")
    val nParts = LakeLog.checkpointParts(dir, 10L)
    assert(nParts >= 10, s"fixture must split per entry: $nParts")
    val snap = LakeLog.currentSnapshot(dir).get
    val fcols = LakeColIds.cols(snap.schema, snap.props)
    // v11: a dv transition on ONE file (non-keyed MOR DELETE) — the
    // narration resolves the changed path's PREV entry through the
    // parts' path blooms, never the census
    spark.sql("DELETE FROM lake.db.t_feedmut WHERE v = 250")
    LakeLog.clearPartCache()
    val reads0 = LakeLog.checkpointReads.get()
    val p11 = LakeChanges.partitionsFor(dir, fcols, snap.schema, 11L,
      skipChangeCommits = false)
    val parsed11 = LakeLog.checkpointReads.get() - reads0
    assert(parsed11 <= 2L,
      s"dv narration must parse only bloom-admitted parts, got $parsed11 of $nParts")
    assert(p11.size == 1 && p11.head.changeType == "delete" && p11.head.emitDiff,
      s"one dv-growth delete partition: $p11")
    // v12: a keyed upsert whose keys live in ONE part's k range — the
    // eq expansion enumerates candidates via `matching`, so only the
    // range-intersecting part parses
    spark.range(500, 505).select($"id".as("k"), lit(5L).as("p"), lit(0L).as("v"))
      .coalesce(1).writeTo("lake.db.t_feedmut").option("upsert", "true").append()
    LakeLog.clearPartCache()
    val reads1 = LakeLog.checkpointReads.get()
    val planned0 = LakeChanges.eqFilesPlanned.get()
    val p12 = LakeChanges.partitionsFor(dir, fcols, snap.schema, 12L,
      skipChangeCommits = false)
    val parsed12 = LakeLog.checkpointReads.get() - reads1
    assert(parsed12 <= 2L,
      s"eq expansion must parse only range-intersecting parts, got $parsed12 of $nParts")
    assert(LakeChanges.eqFilesPlanned.get() - planned0 == 1L,
      "exactly the k∈[500,600) file plans the record expansion")
    assert(p12.exists(q => q.changeType == "delete" && q.eqEmit.nonEmpty) &&
      p12.exists(q => q.changeType == "insert" && !q.emitDiff),
      s"upsert narrates pre-image deletes + post-image inserts: $p12")
    // narrated rows stay exact under the targeted planning
    val v12 = spark.read.table("lake.db.t_feedmut__changes")
      .where(col(LakeChanges.VersionColumn) === 12L)
      .select(col(LakeChanges.TypeColumn), $"k", $"v")
      .as[(String, Long, Long)].collect().toSet
    assert(v12 == (500L until 505L).map(k => ("delete", k, k)).toSet ++
      (500L until 505L).map(k => ("insert", k, 0L)),
      s"v12 change set: $v12")
    val v11 = spark.read.table("lake.db.t_feedmut__changes")
      .where(col(LakeChanges.VersionColumn) === 11L)
      .select(col(LakeChanges.TypeColumn), $"k", $"v")
      .as[(String, Long, Long)].collect().toSet
    assert(v11 == Set(("delete", 250L, 250L)), s"v11 change set: $v11")
  }

  test("commit fast path: props-only ALTER and eq-only DELETE on a checkpointed table parse ZERO checkpoint parts") {
    import spark.implicits._
    spark.sql("""CREATE TABLE lake.db.t_fastcommit (k BIGINT, p BIGINT, v BIGINT)
      |PARTITIONED BY (p) TBLPROPERTIES ('checkpoint_part_bytes' = '3000',
      |'mode' = 'mor', 'upsert_key' = 'k')""".stripMargin)
    for (i <- 0 until 10) // cp at v10
      spark.range(i * 100L, (i + 1) * 100L)
        .select($"id".as("k"), lit(i.toLong).as("p"), ($"id" * 2L).as("v"))
        .coalesce(1).writeTo("lake.db.t_fastcommit").append()
    val dir = tableDir("t_fastcommit")
    val nParts = LakeLog.checkpointParts(dir, 10L)
    assert(nParts > 1, s"fixture must split the checkpoint: $nParts")
    // a props-only ALTER is an O(1) logical change: the commit must not
    // re-read or materialize the parent census (zero part parses, zero
    // part-cache hits — the LRU must not silently serve what the commit
    // should never ask for)
    LakeLog.clearPartCache()
    val reads0 = LakeLog.checkpointReads.get()
    val hits0 = LakeLog.checkpointCacheHits.get()
    spark.sql("ALTER TABLE lake.db.t_fastcommit SET TBLPROPERTIES ('note' = 'x')")
    assert(LakeLog.checkpointReads.get() == reads0 &&
      LakeLog.checkpointCacheHits.get() == hits0,
      "props-only ALTER must commit without touching a checkpoint part")
    assert(LakeLog.currentVersion(dir).contains(11L))
    // an eq-only keyed DELETE (one record, zero data reads) is the same
    // shape: the commit derives record liveness from the parent HEADER
    // alone — the census stays unparsed end to end
    val reads1 = LakeLog.checkpointReads.get()
    val hits1 = LakeLog.checkpointCacheHits.get()
    spark.sql("DELETE FROM lake.db.t_fastcommit WHERE k IN (5, 17, 905)")
    assert(LakeLog.checkpointReads.get() == reads1 &&
      LakeLog.checkpointCacheHits.get() == hits1,
      "eq-only DELETE must commit without touching a checkpoint part")
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.version == 12L && snap.eqdels.size == 1 &&
      snap.eqdels.head.seq == 12L, s"record mis-stamped: ${snap.eqdels}")
    // correctness unchanged: the record kills exactly the named keys
    assert(spark.table("lake.db.t_fastcommit").count() == 997L)
    assert(spark.table("lake.db.t_fastcommit").where($"k" === 905L).count() == 0L)
  }

  test("DDL surface: list/drop; unsupported column types rejected at create") {
    seeded("t_ddl")
    assert(spark.sql("SHOW TABLES IN lake.db").collect()
      .map(_.getString(1)).contains("t_ddl"))
    val err = intercept[Exception](
      spark.sql("CREATE TABLE lake.db.t_bad (id BIGINT, a ARRAY<INT>)"))
    assert(err.getMessage.contains("graftlake supports"))
    spark.sql("DROP TABLE lake.db.t_ddl")
    assert(!Files.isDirectory(tableDir("t_ddl")))
    intercept[Exception](spark.table("lake.db.t_ddl").collect())
  }

  test("concurrent CREATE: of 8 racing creates exactly one returns, the rest get TableAlreadyExistsException") {
    import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
    import org.apache.spark.sql.connector.catalog.{Identifier, Table}
    import org.apache.spark.sql.types.{LongType, StructType}
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftLakeCatalog]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try for (trial <- 0 until 10) {
      val ident = Identifier.of(Array("db"), s"t_createrace$trial")
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      val futures = (0 until 8).map { w =>
        pool.submit(() => {
          // every writer proposes its OWN schema: a loser handed back
          // its own definition would disagree with the committed one
          val schema = new StructType().add("id", LongType).add(s"c$w", LongType)
          barrier.await()
          try Right(cat.createTable(ident, schema, Array.empty,
            java.util.Map.of[String, String]()))
          catch { case e: Exception => Left(e) }
        }: Either[Exception, Table])
      }
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val won = results.collect { case Right(t) => t }
      assert(won.size == 1, s"trial $trial: ${won.size} of 8 creates returned")
      results.collect { case Left(e) => e }.foreach(e =>
        assert(e.isInstanceOf[TableAlreadyExistsException], s"trial $trial: $e"))
      assert(won.head.schema() == cat.loadTable(ident).schema(),
        s"trial $trial: the returned table must be the committed definition")
    } finally pool.shutdown()
  }

  test("MOR commit rejects a concurrent keyed upsert of the row it rewrote (equality-delete guard)") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.{LakeDeltaMessage, LakeDeltaOperation, LakeFileMessage, LakeWriterFactory}
    spark.sql("CREATE TABLE lake.db.t_equpdrace (id BIGINT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('mode' = 'mor', 'upsert_key' = 'id')")
    spark.range(0, 20).select($"id", $"id".as("v"), lit("a").as("s"))
      .coalesce(1).writeTo("lake.db.t_equpdrace").append()
    val dir = tableDir("t_equpdrace")
    val snap = LakeLog.currentSnapshot(dir).get
    val target = snap.files.head.path
    // an UPDATE of id 3 scans NOW and writes its new row...
    val op = new LakeDeltaOperation(dir, snap,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    val write = op.newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "race"
      override def schema(): org.apache.spark.sql.types.StructType = snap.schema
      override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())
    }).build().toBatch
    val w = LakeWriterFactory(dir.toString, snap.schema, snap.schema.fieldNames)
      .createWriter(0, 0L)
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](3L, -1L, UTF8String.fromString("update"))))
    val inserted = w.commit().asInstanceOf[LakeFileMessage]
    // ...a keyed upsert of the same key lands first...
    Seq((3L, 50L, "upsert")).toDF("id", "v", "s").coalesce(1)
      .writeTo("lake.db.t_equpdrace").option("upsert", "true").append()
    // ...so the UPDATE's insert file, born after the upsert's record,
    // would escape it: the commit must fail instead of keeping both
    val err = intercept[IllegalArgumentException] {
      write.commit(Array(LakeDeltaMessage(Map(target -> Seq(3L)), Seq(inserted))))
    }
    assert(err.getMessage.contains("equality delete"), err.getMessage)
    val got = rows("t_equpdrace")
    assert(got.size == 20 && got.filter(_._1 == 3L) == Seq((3L, 50L, "upsert")),
      s"id 3 must keep exactly the upsert's row: ${got.filter(_._1 == 3L)}")
  }

  test("concurrent ALTER TABLE SET TBLPROPERTIES and appends: all 8 racing commits land") {
    import spark.implicits._
    spark.sql("CREATE TABLE lake.db.t_alterrace (id BIGINT, v BIGINT, s STRING)")
    val dir = tableDir("t_alterrace")
    val v0 = LakeLog.currentVersion(dir).get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val alters = (0 until 4).map(i => scala.concurrent.Future {
      spark.sql(s"ALTER TABLE lake.db.t_alterrace SET TBLPROPERTIES ('race_k$i' = 'v$i')")
      ()
    })
    val appends = (0 until 4).map(w => scala.concurrent.Future {
      spark.range(w * 100L, (w + 1) * 100L)
        .select($"id", ($"id" * 2L).as("v"), lit(s"w$w").as("s"))
        .coalesce(1).writeTo("lake.db.t_alterrace").append()
    })
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(alters ++ appends),
      scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    val snap = LakeLog.currentSnapshot(dir).get
    assert(snap.version == v0 + 8L, s"8 racing commits must land: v$v0 -> v${snap.version}")
    (0 until 4).foreach(i => assert(snap.props.get(s"race_k$i").contains(s"v$i"),
      s"property race_k$i lost: ${snap.props}"))
    assert(rows("t_alterrace") == (0L until 400L).map(i => (i, i * 2L, s"w${i / 100}")))
  }

  test("procedures: every listed name loads and binds; an unknown name is rejected with the list") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.StructType
    val cat = spark.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftLakeCatalog]
    val listed = cat.listProcedures(Array("system")).map(_.name).toSeq
    assert(listed.sorted == Seq("branch", "clone", "compact", "compact_size",
      "compact_where", "drop_ref", "evolve_partitioning", "health", "history",
      "maintain", "publish", "rollback", "tag", "vacuum", "zorder", "zorder_where"))
    listed.foreach { n =>
      val unbound = cat.loadProcedure(Identifier.of(Array("system"), n))
      assert(unbound.name() == n && unbound.description().startsWith(s"$n("))
      val bound = unbound.bind(new StructType())
      assert(bound.name() == n && !bound.isDeterministic, n)
      assert(Set("table", "source").contains(bound.parameters().head.name()), n)
    }
    val err = intercept[IllegalArgumentException](
      cat.loadProcedure(Identifier.of(Array("system"), "no_such_procedure")))
    listed.foreach(n => assert(err.getMessage.contains(n), err.getMessage))
  }
}
