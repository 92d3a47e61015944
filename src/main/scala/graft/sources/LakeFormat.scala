package graft.sources

import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.types._

/** Parquet IO for graftlake data files — the storage layer under
  * [[LakeWriterFactory]] / [[LakeReaderFactory]].
  *
  * Writes go through Spark's own [[ParquetWriteSupport]] (the exact
  * row→parquet codec every Spark parquet write uses), reads through
  * Spark's [[VectorizedParquetRecordReader]] (the batched, columnar
  * decoder behind every Spark parquet scan) — so lake files are
  * ordinary parquet with ordinary footers, and the scan path is the
  * same vectorized kernel as the rest of the engine instead of a
  * per-row JSON parse. File statistics (per-column min/max and NULL
  * counts) come off the parquet footer after the writer closes; the
  * null counts are what lets metadata-only DELETE refuse files whose
  * predicate column holds NULLs the predicate does not match.
  *
  * No Hadoop FileSystem in the loop: parquet's `LocalOutputFile` /
  * `LocalInputFile` bind directly to `java.nio` paths (no `.crc`
  * sidecars, no FS cache). A cluster deployment would swap these two
  * constructors for `HadoopOutputFile`/`HadoopInputFile` — the only
  * storage-coupled seam.
  */
object LakeParquet {

  /** `ParquetWriteSupport.init` asserts these SQL keys are present
    * (a Spark session normally plants them); the lake writer runs in
    * a bare task, so set them explicitly. Values match the session
    * defaults used everywhere else in the engine.
    */
  private class RowWriteBuilder(out: LocalOutputFile, schema: StructType)
    extends ParquetWriter.Builder[InternalRow, RowWriteBuilder](out) {
    override def self(): RowWriteBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] = {
      ParquetWriteSupport.setSchema(schema, conf)
      conf.set("spark.sql.parquet.writeLegacyFormat", "false")
      conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
      conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
      conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
      new ParquetWriteSupport
    }
  }

  /** Codec strings the `compression` table property accepts, mapped to
    * parquet's names. zstd trades ~15-30% smaller files for slightly
    * more write CPU — at 100 TB that is tens of TB of storage and scan
    * IO; snappy stays the default (Spark's own).
    */
  val Codecs: Map[String, CompressionCodecName] = Map(
    "snappy" -> CompressionCodecName.SNAPPY,
    "zstd" -> CompressionCodecName.ZSTD,
    "gzip" -> CompressionCodecName.GZIP,
    "lz4" -> CompressionCodecName.LZ4_RAW,
    "uncompressed" -> CompressionCodecName.UNCOMPRESSED)

  def createWriter(file: NioPath, schema: StructType,
      bloomCols: Seq[String] = Seq.empty,
      codec: String = "snappy",
      rowGroupBytes: Long = 0L): ParquetWriter[InternalRow] = {
    // an empty Hadoop conf: the builder's default parses Hadoop's XML
    // defaults for every file written, and none of them is read here
    // (getWriteSupport sets every key ParquetWriteSupport reads)
    var b = new RowWriteBuilder(new LocalOutputFile(file), schema)
      .withConf(new Configuration(false))
      .withCompressionCodec(Codecs.getOrElse(codec.toLowerCase,
        throw new IllegalArgumentException(
          s"graftlake: unsupported compression '$codec' " +
            s"(supported: ${Codecs.keys.toSeq.sorted.mkString(", ")})")))
    // `row_group_bytes`: the intra-file skipping granularity — smaller
    // groups mean finer row-group pruning under point predicates at
    // the cost of more footer metadata (0 = parquet's default 128 MB).
    // The writer flushes on its size check cadence, so tiny bounds are
    // approximate (test-scale fixtures get multi-group files this way)
    if (rowGroupBytes > 0L) b = b.withRowGroupSize(rowGroupBytes)
    // parquet-native bloom filters (table property `bloomBy`): written
    // into the file itself — no log bloat, no sidecar lifecycle, and
    // any parquet reader sees them. Adaptive sizing tracks the actual
    // distinct count; the cap bounds the worst case per column chunk.
    bloomCols.filter(schema.fieldNames.contains).foreach { c =>
      b = b.withBloomFilterEnabled(c, true)
    }
    if (bloomCols.nonEmpty)
      b = b.withAdaptiveBloomFilterEnabled(true)
        .withMaxBloomFilterBytes(128 * 1024)
    b.build()
  }

  /** Opens `file` for its footer, row groups and bloom filters. Reads
    * use parquet's own options with a plain (non-Hadoop) configuration:
    * `ParquetFileReader.open(InputFile)` builds a Hadoop `Configuration`,
    * which parses Hadoop's XML defaults again on every open.
    */
  def openFooter(file: NioPath): ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(file),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())

  // ---- LOG-recorded KMV sketches: per-file NDV for the estimator ----

  /** Sketch size: k smallest distinct 64-bit hashes per column per
    * file (~1.3 KB of JSON). Standard error ≈ 1/√k ≈ 12.5% — an
    * ESTIMATOR input (join reorder / broadcast decisions), never a
    * result. KMV merges by union-then-truncate, so per-file sketches
    * recorded at write time compose into a table-level NDV at plan
    * time with no data access.
    */
  val KmvK = 64

  /** Bounded k-minimum-values accumulator over 64-bit hashes, unsigned
    * order. Fast path after warm-up: one unsigned compare per row
    * (values above the current kth-smallest are rejected without a
    * tree op).
    */
  final class KmvAcc(k: Int = KmvK) {
    // values stored FLIPPED (h ^ Long.MinValue): natural signed order
    // on the flip = unsigned order on the hash
    private val set = new java.util.TreeSet[java.lang.Long]()
    def insert(h: Long): Unit = {
      val f = h ^ Long.MinValue
      if (set.size < k) { set.add(f); () }
      else if (f < set.last) { if (set.add(f)) { set.pollLast(); () } }
    }
    /** k smallest distinct hashes, unsigned ascending, raw form. */
    def result: Seq[Long] =
      set.iterator().asScala.map(_.longValue ^ Long.MinValue).toSeq
  }

  /** Merge per-file KMV sketches into one NDV estimate. None = no
    * sketch input. Fewer than k merged hashes means every input was a
    * COMPLETE hash set (a file with ≥ k distinct values records
    * exactly k), so the union is exact; at k it is the classic
    * (k−1)·2^64 / kth-smallest estimator.
    */
  def kmvEstimate(perFile: Seq[Seq[Long]], k: Int = KmvK): Option[Long] = {
    if (perFile.isEmpty) return None
    val set = new java.util.TreeSet[java.lang.Long]()
    perFile.foreach(_.foreach { h =>
      set.add(h ^ Long.MinValue)
      if (set.size > k) { set.pollLast(); () }
    })
    if (set.size < k) Some(set.size.toLong)
    else {
      val kth = set.last.longValue ^ Long.MinValue // raw, unsigned kth-smallest
      val u =
        if (kth >= 0L) kth.toDouble
        else kth.toDouble + math.pow(2, 64) // two's-complement → unsigned
      Some(math.max(k.toLong, ((k - 1).toDouble * math.pow(2, 64) / u).toLong))
    }
  }

  /** 64-bit value hash for KMV sketches (xxHash64, Spark's own). */
  def kmvHashLong(v: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, 42L)

  /** String KMV hash over the value's UTF-8 bytes — join-size
    * estimation is hardest exactly where min/max stats are absent
    * (string join keys, segments, categories). Hash at once: the
    * UTF8String may point into a reused row buffer.
    */
  def kmvHashString(u: org.apache.spark.unsafe.types.UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)

  // ---- LOG-recorded blooms: plan-time pruning with zero file opens ----

  /** Fixed bitset size of a log-recorded bloom (2^16 bits): ~11 KB of
    * base64 per bloomBy column per file in the log, probed at PLAN
    * time straight off the (already-loaded) snapshot — on object
    * storage the footer-probe alternative costs a round-trip per
    * candidate file. Block-split blooms cannot be resized after the
    * fact, so the size is fixed at write time; at very high per-file
    * NDV the filter saturates and pruning degrades to keep-the-file
    * (the stats-skipping contract — never drops a matching file).
    */
  val BloomLogBytes = 8192

  import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, BloomFilter}

  def newLogBloom(): BlockSplitBloomFilter = new BlockSplitBloomFilter(BloomLogBytes)

  def bloomToB64(bf: BlockSplitBloomFilter): String = {
    val bos = new java.io.ByteArrayOutputStream(BloomLogBytes)
    bf.writeTo(bos) // bitset bytes only — header-free, reconstructible
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  def bloomFromB64(b64: String): BlockSplitBloomFilter =
    new BlockSplitBloomFilter(java.util.Base64.getDecoder.decode(b64))

  /** Raw bitset bytes of a log/sidecar bloom — exactly
    * [[BloomLogBytes]] long (block-split blooms serialize header-free).
    */
  def bloomBytes(bf: BlockSplitBloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(BloomLogBytes)
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Sidecar bloom slices READ at probe time — spec instrumentation
    * proving pruning decodes only the candidates that survived stats
    * skipping (one pread per probed file×column), never the table.
    */
  private[graft] val bloomSidecarLoads = new java.util.concurrent.atomic.AtomicLong

  /** One column's bitset out of a bloom SIDECAR file: fixed
    * [[BloomLogBytes]] slots in the entry's recorded column order, so
    * slot `i` is a single positioned 8 KB read — the lazy path that
    * keeps bloomBy log entries ~30 bytes instead of ~11 KB per column.
    */
  def readSidecarBloom(file: NioPath, slot: Int): BlockSplitBloomFilter = {
    bloomSidecarLoads.incrementAndGet()
    val buf = java.nio.ByteBuffer.allocate(BloomLogBytes)
    val ch = Files.newByteChannel(file)
    try {
      ch.position(slot.toLong * BloomLogBytes)
      while (buf.hasRemaining && ch.read(buf) >= 0) {}
      require(!buf.hasRemaining,
        s"graftlake: bloom sidecar $file truncated at slot $slot")
    } finally ch.close()
    new BlockSplitBloomFilter(buf.array())
  }

  /** Hash `v` for a log bloom under the column's WRITE-TIME type
    * (simpleString) — probe and insert must use one rule or lookups
    * false-negative and pruning drops matching files. None = not
    * hashable (type mismatch / unsupported) → caller keeps the file.
    */
  def logBloomHash(bf: BloomFilter, typeSimple: String, v: Any): Option[Long] =
    (typeSimple, v) match {
      case ("bigint", n: java.lang.Number) => Some(bf.hash(n.longValue))
      case ("int", n: java.lang.Number) => Some(bf.hash(n.intValue))
      case ("string", s: String) =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
      case ("string", u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromConstantByteArray(u.getBytes)))
      case _ => None
    }

  /** Data-file footer opens made by PLAN-time bloom probing — spec
    * instrumentation proving log-recorded blooms keep planning at
    * zero file IO (footer probes remain only as the legacy fallback).
    */
  private[graft] val bloomFooterProbes = new java.util.concurrent.atomic.AtomicLong

  /** Point-lookup file pruning off the parquet-native bloom filters:
    * false ONLY when every row group's bloom for `col` definitely
    * excludes EVERY value in `values` — a missing bloom or an
    * unhashable value keeps the file. Exactly the stats-skipping
    * contract: may keep a non-matching file, never drops a matching
    * one.
    */
  def bloomMightContain(file: NioPath, col: String, values: Seq[Any]): Boolean = {
    bloomFooterProbes.incrementAndGet()
    val reader = openFooter(file)
    try {
      reader.getFooter.getBlocks.asScala.exists { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == col) match {
          case None => true
          case Some(cc) =>
            val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
            if (bf == null) true
            else values.exists { v =>
              hashFor(bf, cc.getPrimitiveType.getPrimitiveTypeName, v) match {
                case Some(h) => bf.findHash(h)
                case None => true
              }
            }
        }
      }
    } finally reader.close()
  }

  /** Hash `v` the way parquet hashed the COLUMN's physical type — a
    * Long literal probed against an INT32 column must hash as int, or
    * the lookup false-negatives and pruning drops a matching file.
    */
  private def hashFor(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      tpe: PrimitiveTypeName, v: Any): Option[Long] = (tpe, v) match {
    case (PrimitiveTypeName.INT64, n: java.lang.Number) => Some(bf.hash(n.longValue))
    case (PrimitiveTypeName.INT32, n: java.lang.Number) => Some(bf.hash(n.intValue))
    case (PrimitiveTypeName.BINARY, s: String) =>
      Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
    case (PrimitiveTypeName.BINARY, u: org.apache.spark.unsafe.types.UTF8String) =>
      // parquet hashes strings as their UTF-8 bytes — identical
      Some(bf.hash(org.apache.parquet.io.api.Binary.fromConstantByteArray(u.getBytes)))
    case _ => None
  }

  /** Footer-derived file statistics: row count, per-column [min,max]
    * for integral columns, per-column [min,max] for STRING (UTF-8
    * BINARY) columns in unsigned byte order — the order parquet's
    * stats comparator, UTF8String.compareTo, and the lake's own sort
    * paths all share — and per-column null counts for EVERY column
    * whose chunks report them. A column absent from `nulls` has
    * UNKNOWN null count and metadata deletes must treat its all-match
    * decisions as Mixed.
    */
  case class FileStats(rows: Long, stats: Map[String, (Long, Long)],
      nulls: Map[String, Long],
      sstats: Map[String, (String, String)] = Map.empty)

  /** [[footerStats]] invocations since process start — spec
    * instrumentation pinning the write path's contract: a data file's
    * footer is opened for stats exactly ONCE, by the write task that
    * just produced it (stats then ride LakeFileMessage / the log). A
    * paced streaming drain must stay FLAT here — a sink re-opening
    * accumulated files per epoch commit would be O(files × epochs)
    * round-trips at 100 TB.
    */
  private[graft] val footerStatOpens = new java.util.concurrent.atomic.AtomicLong

  def footerStats(file: NioPath): FileStats = {
    footerStatOpens.incrementAndGet()
    val reader = openFooter(file)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
      val mins = Map.newBuilder[String, (Long, Long)]
      val smins = Map.newBuilder[String, (String, String)]
      val nulls = Map.newBuilder[String, Long]
      byCol.foreach { case (name, chunks) =>
        val stats = chunks.map(_.getStatistics)
        if (stats.forall(s => s != null && s.isNumNullsSet))
          nulls += name -> stats.map(_.getNumNulls).sum
        val tpe = chunks.head.getPrimitiveType.getPrimitiveTypeName
        if ((tpe == PrimitiveTypeName.INT64 || tpe == PrimitiveTypeName.INT32) &&
            stats.forall(s => s != null && s.hasNonNullValue)) {
          def asLong(v: Any): Long = v match {
            case i: java.lang.Integer => i.longValue
            case l: java.lang.Long => l.longValue
          }
          val lo = stats.map(s => asLong(s.genericGetMin: Any)).min
          val hi = stats.map(s => asLong(s.genericGetMax: Any)).max
          mins += name -> ((lo, hi))
        }
        if (tpe == PrimitiveTypeName.BINARY &&
            chunks.head.getPrimitiveType.getLogicalTypeAnnotation ==
              org.apache.parquet.schema.LogicalTypeAnnotation.stringType() &&
            stats.forall(s => s != null && s.hasNonNullValue)) {
          // unsigned byte order across chunks; store only when the
          // bytes decode as STRICT UTF-8 (a truncated-and-incremented
          // bound could be malformed — then skip, never guess)
          def utf8(b: Array[Byte]): Option[String] =
            try Some(java.nio.charset.StandardCharsets.UTF_8.newDecoder()
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
              .decode(java.nio.ByteBuffer.wrap(b)).toString)
            catch { case _: java.nio.charset.CharacterCodingException => None }
          val los = stats.map(s =>
            s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            .map(utf8)
          val his = stats.map(s =>
            s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            .map(utf8)
          // every chunk's bound must decode, or the fold is unbounded
          if (los.forall(_.isDefined) && his.forall(_.isDefined)) {
            val ord = Ordering.by(org.apache.spark.unsafe.types.UTF8String.fromString)
            smins += name -> ((los.flatten.min(ord), his.flatten.max(ord)))
          }
        }
      }
      FileStats(rows, mins.result(), nulls.result(), smins.result())
    } finally reader.close()
  }

  /** A vectorized reader positioned over `columns` (which MUST exist
    * in the file — the caller null-fills absent ones itself), over
    * every row group. It opens through [[openFooter]], like
    * [[openVectorizedPruned]]: Spark's `initialize(path, columns)` would
    * look the file up through a Hadoop `FileSystem` and open it as a
    * `HadoopInputFile` with Hadoop read options.
    */
  def openVectorized(file: NioPath, columns: Seq[String]): VectorizedParquetRecordReader = {
    dataFileOpens.incrementAndGet()
    val reader = openFooter(file)
    try vectorized(reader, columns, Array.fill(reader.getFooter.getBlocks.size)(true))
    catch { case e: Throwable => reader.close(); throw e }
  }

  /** Spark's vectorized decoder over the `keep`-marked row groups of
    * `reader`'s file, decoding only `columns`. The file reader's
    * requested schema is what bounds page IO to those columns; the
    * decoder's copy rides `initPruned`. Closing the result closes
    * `reader`.
    */
  private def vectorized(reader: ParquetFileReader, columns: Seq[String],
      keep: Array[Boolean]): VectorizedParquetRecordReader = {
    val fileSchema = reader.getFooter.getFileMetaData.getSchema
    val requested = org.apache.parquet.schema.Types.buildMessage()
      .addFields(columns.map(c =>
        (fileSchema: org.apache.parquet.schema.GroupType).getType(c)): _*)
      .named("spark_schema")
    reader.setRequestedSchema(requested)
    val totalRows = reader.getFooter.getBlocks.asScala.zip(keep)
      .collect { case (b, true) => b.getRowCount }.sum
    val r = new VectorizedParquetRecordReader(/* useOffHeap = */ false, /* capacity = */ 4096)
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
      .initPruned(r, fileSchema, requested, reader, keep, totalRows)
    r
  }

  /** Data files opened for DECODE since process start (both vectorized
    * open paths; local-mode tests share the JVM) — spec instrumentation:
    * an equality-delete write's hot path must never open a target file.
    */
  private[graft] val dataFileOpens = new java.util.concurrent.atomic.AtomicLong

  /** Row groups decoded / skipped by [[openVectorizedPruned]] —
    * task-side increments, readable in specs because tests run
    * local-mode (same JVM), like the other diagnostic counters.
    */
  private[graft] val rowGroupsRead = new java.util.concurrent.atomic.AtomicLong
  private[graft] val rowGroupsPruned = new java.util.concurrent.atomic.AtomicLong

  /** One row group's footer stats as a SYNTHETIC [[LakeFile]] — the
    * same shape file-level skipping decides on, so [[LakeStats.decide]]
    * applies verbatim at row-group granularity. Extraction mirrors
    * [[footerStats]] (INT32/INT64 ranges, STRICT-UTF-8 string bounds,
    * null counts), per block instead of folded across blocks; a
    * stat the block lacks simply stays undecidable (kept).
    */
  private[graft] def blockAsFile(
      b: org.apache.parquet.hadoop.metadata.BlockMetaData): LakeFile = {
    val mins = Map.newBuilder[String, (Long, Long)]
    val smins = Map.newBuilder[String, (String, String)]
    val nulls = Map.newBuilder[String, Long]
    b.getColumns.asScala.foreach { chunk =>
      val name = chunk.getPath.toDotString
      val s = chunk.getStatistics
      if (s != null && s.isNumNullsSet) nulls += name -> s.getNumNulls
      val tpe = chunk.getPrimitiveType.getPrimitiveTypeName
      if ((tpe == PrimitiveTypeName.INT64 || tpe == PrimitiveTypeName.INT32) &&
          s != null && s.hasNonNullValue) {
        def asLong(v: Any): Long = v match {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long => l.longValue
        }
        mins += name -> ((asLong(s.genericGetMin: Any), asLong(s.genericGetMax: Any)))
      }
      if (tpe == PrimitiveTypeName.BINARY &&
          chunk.getPrimitiveType.getLogicalTypeAnnotation ==
            org.apache.parquet.schema.LogicalTypeAnnotation.stringType() &&
          s != null && s.hasNonNullValue) {
        def utf8(bs: Array[Byte]): Option[String] =
          try Some(java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
            .decode(java.nio.ByteBuffer.wrap(bs)).toString)
          catch { case _: java.nio.charset.CharacterCodingException => None }
        val lo = utf8(s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        val hi = utf8(s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        for (l <- lo; h <- hi) smins += name -> ((l, h))
      }
    }
    LakeFile("", b.getRowCount, mins.result(), nulls = nulls.result(),
      bytes = b.getCompressedSize, sstats = smins.result())
  }

  /** The vectorized reader over ONLY the row groups the predicates
    * cannot rule out — predicate skipping INSIDE a surviving file: a
    * 1 GB sorted file serves a point lookup from one 128 MB row
    * group's pages instead of all of them. Two layers per block, both
    * sound (drop only on a proof of no match):
    *
    *   1. the block's own footer stats through the SAME
    *      [[LakeStats.decide]] algebra file skipping uses;
    *   2. for stats-Mixed blocks, the parquet-NATIVE per-row-group
    *      bloom filters (written under `bloomBy`): an `=`/`IN` probe
    *      whose every value the block's bloom excludes drops it — the
    *      scattered-key point lookup stats can never separate.
    *      Columns without a bloom answer null with no IO.
    *
    * None = every group provably matchless (the caller emits no rows;
    * it must NOT fall back to a metadata row count). The footer is
    * read once and drives the decisions and the read.
    *
    * Returns the reader PLUS the kept groups' physical row spans
    * (start, rows) in file order — what lets a delete vector (keyed by
    * PHYSICAL position) be remapped into the kept-groups' emitted
    * coordinate space ([[remapDv]]), so MOR files keep group skipping
    * instead of standing down.
    */
  def openVectorizedPruned(file: NioPath, columns: Seq[String],
      preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate],
      resolve: String => Option[String])
      : Option[(VectorizedParquetRecordReader, Seq[(Long, Long)])] = {
    dataFileOpens.incrementAndGet()
    val reader = openFooter(file)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val probeCols: Set[String] = preds.iterator
        .flatMap(_.references().iterator.map(_.fieldNames.head)).toSet
      val pointProbes = LakeBloomProbe.probesOf(preds, probeCols)
      val keep = blocks.map { b =>
        LakeStats.decide(blockAsFile(b), preds, resolve,
          LakePartitioning.NoResolver) match {
          case LakeStats.None_ => false
          case LakeStats.All => true // every row matches; blooms can't improve
          case LakeStats.Mixed =>
            pointProbes.forall { case (c, vs) =>
              resolve(c).forall { pc =>
                b.getColumns.asScala.find(_.getPath.toDotString == pc).forall { cc =>
                  val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
                  bf == null || vs.exists(v =>
                    hashFor(bf, cc.getPrimitiveType.getPrimitiveTypeName, v)
                      .forall(bf.findHash))
                }
              }
            }
        }
      }.toArray
      rowGroupsRead.addAndGet(keep.count(identity))
      rowGroupsPruned.addAndGet(keep.length - keep.count(identity))
      if (!keep.exists(identity)) { reader.close(); return None }
      val r = vectorized(reader, columns, keep)
      val spans = Seq.newBuilder[(Long, Long)]
      var off = 0L
      blocks.zip(keep).foreach { case (b, k) =>
        if (k) spans += ((off, b.getRowCount))
        off += b.getRowCount
      }
      Some((r, spans.result()))
    } catch { case e: Throwable => reader.close(); throw e }
  }

  /** Remap PHYSICAL delete-vector positions into the kept-groups'
    * EMITTED coordinate space: a deleted position inside a skipped
    * group vanishes (its row is never decoded), one inside a kept
    * group shifts down by the skipped rows before it. Input sorted
    * ascending (the dv's invariant) -> output sorted ascending, so the
    * readers' merge cursors work unchanged. Identity when nothing was
    * skipped.
    */
  def remapDv(dv: Array[Long], spans: Seq[(Long, Long)]): Array[Long] = {
    if (dv.isEmpty) return dv
    if (spans.size == 1 && spans.head._1 == 0L) return dv // nothing skipped before
    val out = Array.newBuilder[Long]
    var i = 0
    var emitted = 0L
    spans.foreach { case (start, rows) =>
      while (i < dv.length && dv(i) < start) i += 1 // skipped-group dv rows drop
      while (i < dv.length && dv(i) < start + rows) {
        out += emitted + (dv(i) - start)
        i += 1
      }
      emitted += rows
    }
    out.result()
  }

  /** Parse a recorded write-time type (DataType.simpleString form). */
  def typeOf(simple: String): DataType = simple match {
    case "bigint" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "string" => StringType
    case "boolean" => BooleanType
    case other => throw new IllegalArgumentException(s"unknown lake column type $other")
  }

  /** The one supported type-evolution upcast (INT -> BIGINT). */
  def upcast(v: Any, from: DataType, to: DataType): Any =
    if (from == to) v
    else (from, to) match {
      case (IntegerType, LongType) => v.asInstanceOf[Int].toLong
      case _ => throw new IllegalStateException(
        s"unsupported lake type evolution ${from.simpleString} -> ${to.simpleString}")
    }
}
