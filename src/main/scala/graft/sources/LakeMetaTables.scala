package graft.sources

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Read-only METADATA companion tables (the Iceberg `table$files` /
  * `table$history` surface, spelled `<table>__files` /
  * `<table>__history` here): the table-format internals as ordinary
  * queryable rows, resolved by [[GraftLakeCatalog.loadTable]] the same
  * way as the `__changes` feed. Both answer from the LOG alone — no
  * data file opens — which is exactly what an operator debugging a
  * 100 TB table wants: census first, scans only when pointed at
  * something.
  *
  * `__history` is O(versions) rows and stays a [[LocalScan]]. `__files`
  * is O(files) rows — a million-entry census on the driver would make
  * the compaction planner's own input single-threaded — so above a log
  * size threshold it plans a DISTRIBUTED scan with one
  * [[InputPartition]] per LOG CHUNK: one per byte-bounded checkpoint
  * PART (the write-time split — a task parses exactly its own part,
  * so aggregate census parse work is O(checkpoint bytes)) plus one per
  * later delta. The driver reads only the O(1) checkpoint manifest and
  * the deltas (O(changes since checkpoint)) to plan; checkpoint
  * payload is parsed exclusively inside tasks. The checkpoint-wide
  * kill set rides ONCE in the reader factory (Spark broadcasts the
  * factory with the task binary), not per shard. An entry from chunk
  * `i` is live at the head iff no later chunk removes OR re-adds its
  * path, which is exactly the snapshot fold's survivor rule.
  */
object LakeMetaTables {
  val FilesSuffix = "__files"
  val HistorySuffix = "__history"
  val RefsSuffix = "__refs"
  val PartitionsSuffix = "__partitions"
  val StatsSuffix = "__stats"
  val PartsSuffix = "__parts"
  val RowGroupsSuffix = "__row_groups"

  /** A partition field's LABEL name: identity fields are their column;
    * transform fields are Iceberg-style `trunc(n,col)` / `bucket(n,col)`
    * — a tuple ordinal is NOT a source value and must never render as
    * one.
    */
  private[sources] def fieldLabel(f: LakePartitioning.Field): String = f match {
    case LakePartitioning.Identity(c) => c
    case LakePartitioning.Trunc(c, n) => s"trunc($n,$c)"
    case LakePartitioning.Bucket(c, n) => s"bucket($n,$c)"
  }

  /** Log bytes under which `__files` stays a driver-local scan. */
  val LocalMaxBytesDefault: Long = 8L * 1024 * 1024

  val FilesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("dv_rows", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false),
    StructField("partition", StringType, nullable = true),
    StructField("epoch", LongType, nullable = true),
    StructField("query", StringType, nullable = true)))

  /** One census row — shared by the local and distributed paths so
    * they cannot drift.
    */
  private[sources] def fileRow(f: LakeFile, props: Map[String, String]): InternalRow = {
    // label the tuple under the FILE's own era's spec
    val fields = LakePartitioning.specOf(props, f.specId)
    val part =
      if (f.part.isEmpty) null
      else UTF8String.fromString(
        fields.map(fieldLabel).zip(f.part)
          .map { case (c, v) => s"$c=${v.getOrElse("null")}" }.mkString("/"))
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(f.path), f.rows, f.dvRows, f.liveRows,
      part,
      f.epoch.map(Long.box).orNull,
      f.query.map(UTF8String.fromString).orNull))
  }

  private def scanOnly(schema0: StructType, rows0: => Seq[InternalRow],
      name0: String): Table = new Table with SupportsRead {
    override def name(): String = name0
    override def schema(): StructType = schema0
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new LocalScan {
        override def readSchema(): StructType = schema0
        override def rows(): Array[InternalRow] = rows0.toArray
        override def description(): String = name0
      }: Scan
  }

  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = true),
    StructField("spec_id", IntegerType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("dv_rows", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  /** `<table>__partitions` — one row per partition TUPLE of the head
    * snapshot, labeled under each file's own spec era (tuples only
    * compare within one spec): the SHOW-PARTITIONS census an operator
    * reads before pointing anything at data, and the compaction
    * planner's per-partition size input. O(partitions) output rows
    * from the log alone; an unpartitioned table reports a single
    * null-partition row.
    */
  /** Resolve the snapshot a companion serves: the head, or a
    * time-travel pin (`t__partitions VERSION AS OF v`).
    */
  private def snapFor(dir: Path, baseName: String, pin: Option[Long]): LakeSnapshot =
    pin.map(v => LakeLog.snapshotAt(dir, v).getOrElse(
        throw new IllegalArgumentException(
          s"graftlake: $baseName version $v is not reconstructible")))
      .orElse(LakeLog.currentSnapshot(dir))
      .getOrElse(throw new IllegalStateException(
        s"graftlake: $baseName has no committed version"))

  def partitionsTable(dir: Path, baseName: String, pin: Option[Long] = None): Table =
    scanOnly(PartitionsSchema, {
      val snap = snapFor(dir, baseName, pin)
      snap.files.groupBy(f => (f.specId, f.part))
        .toSeq.sortBy(_._1.toString)
        .map { case ((specId, tuple), fs) =>
          val fields = LakePartitioning.specOf(snap.props, specId)
          // transform components label Iceberg-style — the ordinal is
          // NOT a source value, so `trunc(86400000000,ts_us)=19723`,
          // never a misleading bare `ts_us=19723`
          val label =
            if (tuple.isEmpty) null
            else UTF8String.fromString(fields.map(fieldLabel).zip(tuple)
              .map { case (c, v) => s"$c=${v.getOrElse("null")}" }.mkString("/"))
          new GenericInternalRow(Array[Any](
            label, specId, fs.size,
            fs.map(_.rows).sum, fs.map(_.dvRows).sum, fs.map(_.liveRows).sum,
            fs.map(_.bytes).sum)): InternalRow
        }
    }, s"graftlake.$baseName:partitions")

  val StatsSchema: StructType = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("min", LongType, nullable = true),
    StructField("max", LongType, nullable = true),
    StructField("null_count", LongType, nullable = true),
    StructField("ndv", LongType, nullable = true),
    StructField("n_files", IntegerType, nullable = false)))

  private def statsRow(fd: StructField, mm: Option[(Long, Long)], nulls: Option[Long],
      ndv: Option[Long], nFiles: Int): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(fd.name),
      UTF8String.fromString(fd.dataType.simpleString),
      mm.map(v => Long.box(v._1)).orNull,
      mm.map(v => Long.box(v._2)).orNull,
      nulls.map(Long.box).orNull,
      ndv.map(Long.box).orNull,
      nFiles))

  /** `<table>__stats` — the table-level column statistics the
    * ESTIMATOR sees (exactly [[graft.sources.LakeScan]]'s
    * `columnStats` fold: integral min/max across files, summed null
    * counts, KMV-merged NDV), as ordinary queryable rows from the log
    * alone. An operator sanity-checks join-size estimates and decides
    * ANALYZE-or-not by reading this census, not by scanning 100 TB.
    * A stat is NULL when coverage is incomplete (a file without the
    * recorded stat) — absence must be visible, not guessed.
    */
  def statsTable(dir: Path, baseName: String, pin: Option[Long] = None): Table =
    scanOnly(StatsSchema, {
      val snap = snapFor(dir, baseName, pin)
      val cols = LakeColIds.cols(snap.schema, snap.props)
      // MANIFEST-served fold: on a parted checkpoint whose per-part
      // folds fully cover every column (cr/nc/kv), the census answers
      // with ZERO part parses — the 10^8-file table's stats read is
      // |parts| manifest rows. estimatorStats guarantees value equality
      // with the parsed fold (or declines), so the two paths can never
      // disagree.
      val manifest = snap.files match {
        // live equality deletes make null counts and extrema possible
        // overstatements — the parsed path is equally blind to them, so
        // BOTH report the footer-true census (documented), but serving
        // from the manifest must never diverge from parsing: keep one
        // path while records are live
        case pf: LakePartedFiles if snap.eqdels.isEmpty =>
          pf.estimatorStats(snap.schema, cols).zip(pf.exactTotal)
        case _ => None
      }
      manifest match {
        case Some((stats, n)) =>
          stats.map { case (name, mm, nulls, ndv) =>
            statsRow(snap.schema(name), mm, nulls, ndv, n)
          }
        case None => snap.schema.fields.toSeq.map { fd =>
          val fold = new LakeColumnFold(fd)
          snap.files.foreach(fold.addFile(cols, _))
          val (mm, nulls, ndv) = fold.result()
          statsRow(fd, mm, nulls, ndv, snap.files.size)
        }
      }
    }, s"graftlake.$baseName:stats")

  val PartsSchema: StructType = StructType(Seq(
    StructField("checkpoint_version", LongType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("entries", IntegerType, nullable = false),
    StructField("live_rows", LongType, nullable = true),
    StructField("partition_values", StringType, nullable = true),
    StructField("transform_values", StringType, nullable = true),
    StructField("int_ranges", StringType, nullable = true),
    StructField("string_ranges", StringType, nullable = true),
    StructField("dv_free", BooleanType, nullable = false)))

  /** `<table>__parts` — the checkpoint manifest's per-part INDEX as
    * queryable rows: entry count, live totals, identity value sets,
    * and the folded integral/string ranges, keyed by the CURRENT
    * column names (the index itself is id-keyed — rename-safe). This
    * is what an operator reads to see WHY a query parsed the parts it
    * did (or to check split purity before trusting a grouped manifest
    * census). One O(1) manifest read, zero part parses — the census
    * never costs what it measures.
    */
  def partsTable(dir: Path, baseName: String, pin: Option[Long] = None): Table =
    scanOnly(PartsSchema, {
      val head = pin.orElse(LakeLog.currentVersion(dir)).getOrElse(
        throw new IllegalStateException(
          s"graftlake: $baseName has no committed version"))
      LakeLog.checkpointBelow(dir, head).toSeq.flatMap { v =>
        val snap = snapFor(dir, baseName, pin)
        val names: Map[Long, String] =
          LakeColIds.cols(snap.schema, snap.props).map(_.swap).toMap
        def render[T](m: Map[Long, T])(f: T => String): Any =
          if (m.isEmpty) null
          else UTF8String.fromString(m.toSeq.sortBy(_._1)
            .map { case (id, t) => s"${names.getOrElse(id, s"#$id")}=${f(t)}" }
            .mkString("; "))
        LakeLog.checkpointPartIndex(dir, v).map { pm =>
          new GenericInternalRow(Array[Any](
            v, pm.part, pm.n,
            if (pm.liveRows >= 0L) Long.box(pm.liveRows) else null,
            render(pm.pv)(_.mkString(",")),
            render(pm.tv)(identity),
            render(pm.cr) { case (lo, hi) => s"[$lo,$hi]" },
            render(pm.sr) { case (lo, hi) => s"[$lo,$hi]" },
            pm.df)): InternalRow
        }
      }
    }, s"graftlake.$baseName:parts")

  /** Plan version `head`'s census as distributed LOG CHUNKS — one per
    * checkpoint PART plus one per later delta, each delta carrying its
    * own (small) kill set and the checkpoint-wide kill set returned
    * separately (it rides once in a reader factory / broadcast, never
    * per chunk). This is the `__files` fold factored for ANY consumer
    * that fans census work out as tasks (the distributed files scan,
    * deep health). Driver cost: O(1) manifest + O(changes) delta
    * reads; checkpoint payload is never parsed here. None when a
    * pruned delta inside the fold window breaks the chunk rule —
    * callers fall back to the snapshot fold, which reports the broken
    * chain properly.
    */
  private[sources] def censusChunks(dir: Path,
      head: Long): Option[(Seq[LakeFilesChunk], Seq[String])] = {
    val cp = LakeLog.checkpointBelow(dir, head)
    val deltaVs = (cp.map(_ + 1L).getOrElse(0L) to head).toSeq
    if (!deltaVs.forall(v => LakeLog.chunkBytes(dir, "v", v) > 0L)) return None
    // driver-side: ONLY delta reads. Suffix-union kill sets — an
    // entry is killed by any LATER chunk touching its path
    // (remove = gone; re-add = superseded by the later entry).
    val touched: Seq[(Long, Set[String])] = deltaVs.map { v =>
      val (adds, removes) = LakeLog.deltaChanges(dir, v)
      v -> (removes ++ adds.iterator.map(_.path))
    }
    val killAfter = scala.collection.mutable.Map.empty[Long, Set[String]]
    var acc = Set.empty[String]
    touched.reverse.foreach { case (v, t) =>
      killAfter(v) = acc // later chunks only
      acc ++= t
    }
    val killAll = acc // kills checkpoint entries
    val props = LakeLog.deltaProps(dir, head)
    // one chunk per write-time checkpoint PART (byte-bounded at
    // checkpoint time): each task parses exactly one part. -1 =
    // legacy inline checkpoint, one whole-document chunk.
    val cpParts: Seq[LakeFilesChunk] = cp.toSeq.flatMap { c =>
      val n = LakeLog.checkpointParts(dir, c) // O(1) manifest read
      if (n < 0) Seq(LakeFilesChunk(dir.toString, "c", c, -1, Nil, props))
      else (0 until n).map(p =>
        LakeFilesChunk(dir.toString, "c", c, p, Nil, props))
    }
    val deltaParts: Seq[LakeFilesChunk] = deltaVs.map(v =>
      LakeFilesChunk(dir.toString, "v", v, 0,
        killAfter(v).toSeq.sorted, props))
    Some((cpParts ++ deltaParts, killAll.toSeq.sorted))
  }

  /** One row per LIVE data file of the head snapshot: path, row
    * counts, delete-vector size, partition tuple, streaming origin.
    */
  def filesTable(dir: Path, baseName: String, pin: Option[Long] = None): Table = new Table with SupportsRead {
    override def name(): String =
      s"graftlake.$baseName:files" + pin.map(v => s"@v$v").getOrElse("")
    override def schema(): StructType = FilesSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => {
      // a pinned census folds the survivor rule up to the PIN — the
      // chunked plan shape is identical, only the fold ceiling moves
      val head = pin.orElse(LakeLog.currentVersion(dir)).getOrElse(
        throw new IllegalStateException(
          s"graftlake: $baseName has no committed version"))
      val cp = LakeLog.checkpointBelow(dir, head)
      val deltaVs = (cp.map(_ + 1L).getOrElse(0L) to head).toSeq
      val cpBytes = cp.map(LakeLog.chunkBytes(dir, "c", _)).getOrElse(0L)
      val logBytes = cpBytes + deltaVs.map(LakeLog.chunkBytes(dir, "v", _)).sum
      def opt(k: String, dflt: Long): Long =
        Option(options.get(k)).map(_.toLong).getOrElse(dflt)
      val localMax = opt("census_local_max_bytes", LocalMaxBytesDefault)
      // a pruned delta inside the fold window means the chunked rule
      // cannot reconstruct the head — fall back to the local path,
      // whose snapshot fold reports the broken chain properly
      val chunks =
        if (logBytes <= localMax) None else censusChunks(dir, head)
      chunks match {
        case None => new LocalScan {
          override def readSchema(): StructType = FilesSchema
          override def rows(): Array[InternalRow] = {
            val snap = snapFor(dir, baseName, Some(head))
            snap.files.map(f => fileRow(f, snap.props)).toArray
          }
          override def description(): String = s"graftlake.$baseName:files"
        }: Scan
        case Some((parts, killAll)) => new Scan with Batch {
          override def readSchema(): StructType = FilesSchema
          override def description(): String =
            s"graftlake.$baseName:files distributed chunks=${parts.size}"
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] =
            parts.map(p => p: InputPartition).toArray
          // the checkpoint-wide kill set rides in the FACTORY —
          // serialized once into the (broadcast) task binary, not
          // O(changes) bytes per checkpoint shard
          override def createReaderFactory(): PartitionReaderFactory =
            LakeFilesCensusReaderFactory(killAll)
        }: Scan
      }
    }
  }

  val RowGroupsSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("ordinal", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("min", LongType, nullable = true),
    StructField("max", LongType, nullable = true),
    StructField("smin", StringType, nullable = true),
    StructField("smax", StringType, nullable = true),
    StructField("null_count", LongType, nullable = true),
    StructField("dv_rows", LongType, nullable = false)))

  /** `<table>__row_groups` — the INTRA-file skipping census: one row
    * per (live file, row group, current column) with the group's own
    * footer stats, exactly what [[LakeScan]]'s row-group pruning
    * decides on. `rows` is the PHYSICAL footer row count of the group —
    * on a dv'd (MOR) file it includes deleted rows, because the footer
    * cannot know them; `dv_rows` carries the FILE's delete-vector row
    * count (constant across the file's groups) so a census consumer can
    * reconcile `sum(rows over one column) - any(dv_rows) per file`
    * against `__partitions.live_rows`. An operator reads this to judge
    * whether a layout's
    * groups actually separate the predicate columns (and to size
    * `row_group_bytes`) before trusting point-lookup latency at scale.
    * DISTRIBUTED: one task per file — footer reads never serialize
    * through the driver; columns render under their CURRENT names.
    */
  def rowGroupsTable(dir: Path, baseName: String, pin: Option[Long] = None): Table =
    new Table with SupportsRead {
      override def name(): String =
        s"graftlake.$baseName:row_groups" + pin.map(v => s"@v$v").getOrElse("")
      override def schema(): StructType = RowGroupsSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
        new Scan with Batch {
          override def readSchema(): StructType = RowGroupsSchema
          override def description(): String = s"graftlake.$baseName:row_groups"
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] = {
            val snap = snapFor(dir, baseName, pin)
            val cols = LakeColIds.cols(snap.schema, snap.props)
            snap.files.map { f =>
              // physical→current name map for THIS file's era
              val names = snap.schema.fieldNames.toSeq
                .flatMap(n => LakeColIds.physicalName(cols, f, n).map(_ -> n))
              LakeRowGroupsChunk(dir.toString, f.path, names,
                f.dvRows): InputPartition
            }.toArray
          }
          override def createReaderFactory(): PartitionReaderFactory =
            LakeRowGroupsReaderFactory()
        }: Scan
    }

  /** One row per named ref: kind, the recorded version, and what a
    * read through the ref resolves to right now (tags/main → the
    * record; the staging branch → the current head).
    */
  def refsTable(dir: Path, baseName: String): Table = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("resolved_version", LongType, nullable = false)))
    scanOnly(schema, {
      val head = LakeLog.currentVersion(dir).getOrElse(0L)
      LakeLog.listRefs(dir).map { case (n, v, kind) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(n), UTF8String.fromString(kind), v,
          if (kind == "branch") head else v)): InternalRow
      }
    }, s"graftlake.$baseName:refs")
  }

  /** One row per retained log version: commit time, file/row census —
    * folded forward from commit deltas ([[LakeLog.historyCensus]]),
    * each delta read once, instead of reconstructing a full snapshot
    * per version (O(versions × files) on a long-lived table).
    */
  def historyTable(dir: Path, baseName: String, pin: Option[Long] = None): Table = {
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = true),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_live_rows", LongType, nullable = false)))
    scanOnly(schema, {
      LakeLog.historyCensus(dir)
        .filter { case (v, _, _, _, _) => pin.forall(v <= _) }
        .map { case (v, tsMs, nFiles, nRows, nLive) =>
        new GenericInternalRow(Array[Any](
          v,
          tsMs.map(ms => Long.box(ms * 1000L)).orNull,
          nFiles, nRows, nLive)): InternalRow
      }
    }, s"graftlake.$baseName:history")
  }
}

/** One distributed-census chunk: ONE checkpoint part (`part` >= 0; -1
  * = a legacy inline checkpoint, whole document) or one delta's adds.
  * Delta chunks carry their own (small, O(changes)) kill set; the
  * checkpoint-wide kill set lives in the factory. Top-level case
  * class: ships to executors with no table/catalog outers.
  */
case class LakeFilesChunk(dir: String, kind: String, version: Long,
    part: Int, kill: Seq[String],
    props: Map[String, String]) extends InputPartition

/** Task-side census reader: parses exactly its own log chunk — one
  * checkpoint PART or one delta; checkpoint payload never crosses the
  * driver and no task parses more than one part. `cpKill` (paths any
  * delta after the checkpoint touched) is serialized once with the
  * factory, which Spark ships via the broadcast task binary.
  */
/** One file of the `__row_groups` census — top-level case class (no
  * outers in the closure); `names` maps this file's PHYSICAL column
  * names to their CURRENT ones.
  */
case class LakeRowGroupsChunk(dir: String, path: String,
    names: Seq[(String, String)], dvRows: Long = 0L) extends InputPartition

/** Task-side `__row_groups` reader: one footer open per file, rows
  * straight off the block metadata via the SAME per-block extraction
  * row-group pruning decides with ([[LakeParquet.blockAsFile]]).
  */
case class LakeRowGroupsReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val c = p.asInstanceOf[LakeRowGroupsChunk]
    val reader = LakeParquet.openFooter(Paths.get(c.dir).resolve(c.path))
    val blocks =
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.toSeq.map(LakeParquet.blockAsFile)
      } finally reader.close()
    val pathVal = UTF8String.fromString(c.path)
    val it = blocks.iterator.zipWithIndex.flatMap { case (b, ord) =>
      c.names.iterator.map { case (phys, cur) =>
        val mm = b.stats.get(phys)
        val smm = b.sstats.get(phys)
        new GenericInternalRow(Array[Any](
          pathVal, ord, b.rows, b.bytes,
          UTF8String.fromString(cur),
          mm.map(v => Long.box(v._1)).orNull,
          mm.map(v => Long.box(v._2)).orNull,
          smm.map(v => UTF8String.fromString(v._1)).orNull,
          smm.map(v => UTF8String.fromString(v._2)).orNull,
          b.nulls.get(phys).map(Long.box).orNull,
          c.dvRows)): InternalRow
      }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** Task-side DEEP-HEALTH probe over the distributed census chunks
  * ([[LakeMetaTables.censusChunks]]): each task parses exactly its own
  * log chunk (one checkpoint part or one delta), applies the survivor
  * kill rule, and stats every LIVE entry's physical closure — data
  * file exists with the recorded size, its delete vector exists, its
  * bloom sidecar exists. The driver reads only the manifest + deltas
  * to plan and sums per-chunk counts: at 10⁸ files the existence walk
  * is |parts| parallel tasks, never hours of driver-side syscalls.
  */
object LakeHealth {
  /** Chunks probed INSIDE a Spark task since process start — the
    * counter specs pin the fan-out actually happened (local-mode
    * counters cannot tell driver from executor threads; TaskContext
    * can).
    */
  private[graft] val chunkTasks = new java.util.concurrent.atomic.AtomicLong

  /** (missing data files, size mismatches, missing dvs, missing bloom
    * sidecars) for the LIVE entries of one chunk.
    */
  def checkChunk(c: LakeFilesChunk, cpKill: Seq[String]): (Int, Int, Int, Int) = {
    if (org.apache.spark.TaskContext.get() != null) chunkTasks.incrementAndGet()
    val dir = Paths.get(c.dir)
    val entries = c.kind match {
      case "c" => LakeLog.checkpointPartEntries(dir, c.version, c.part)
      case _ => LakeLog.deltaChanges(dir, c.version)._1
    }
    val kill = (if (c.kind == "c") cpKill else c.kill).toSet
    var missingData = 0
    var sizeMismatch = 0
    var missingDv = 0
    var missingBloom = 0
    entries.foreach { f =>
      if (!kill(f.path)) {
        val p = dir.resolve(f.path)
        if (!java.nio.file.Files.isRegularFile(p)) missingData += 1
        else if (f.bytes > 0L && java.nio.file.Files.size(p) != f.bytes)
          sizeMismatch += 1
        f.dv.foreach { d =>
          if (!java.nio.file.Files.isRegularFile(dir.resolve(d))) missingDv += 1
        }
        if (f.bloomSc.nonEmpty &&
            !java.nio.file.Files.isRegularFile(dir.resolve(f.path + ".bloom")))
          missingBloom += 1
      }
    }
    (missingData, sizeMismatch, missingDv, missingBloom)
  }
}

case class LakeFilesCensusReaderFactory(cpKill: Seq[String]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val c = p.asInstanceOf[LakeFilesChunk]
    val dir = Paths.get(c.dir)
    val entries = c.kind match {
      case "c" => LakeLog.checkpointPartEntries(dir, c.version, c.part)
      case _ => LakeLog.deltaChanges(dir, c.version)._1
    }
    val kill = (if (c.kind == "c") cpKill else c.kill).toSet
    val it = entries.iterator
      .collect { case f if !kill(f.path) =>
        LakeMetaTables.fileRow(f, c.props) }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
