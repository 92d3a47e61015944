package org.apache.spark.sql.execution.datasources.parquet

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Package bridge into Spark's vectorized parquet reader (the
  * `PlanBridge` pattern — `ParquetRowGroupReader` is package-private
  * despite the public 4-arg `initialize` overload that consumes it).
  *
  * Lets graft's lake scan drive the SAME vectorized decoder over a
  * CALLER-SELECTED subset of a file's row groups: the wrapped
  * [[ParquetFileReader]] `skipNextRowGroup()`s past pruned blocks, so
  * a pushed predicate that skips a row group never pays its page IO
  * or decode. Spark's own reader does this via Hadoop-conf filter
  * plumbing; this bridge reaches the identical engine seam without a
  * Hadoop `FileSystem` in the loop.
  *
  * It does the 4-arg `initialize`'s work itself rather than calling
  * it: that method's first act is `new Configuration()`, which parses
  * Hadoop's XML defaults on every file open (about 13 ms of a 15 ms
  * open on a 4-core host; a JFR of the lake refresh loop put a quarter
  * of the executor samples there). The decoder reads nothing from
  * that configuration but the five schema-conversion keys, which the
  * 4-arg method sets to false, and one legacy key it leaves at its
  * default; an empty `Configuration(false)` with the same five keys
  * gives the same decoder. The private `initializeInternal` that ends
  * the 4-arg method is called through one cached reflective handle.
  */
object GraftParquetBridge {

  /** `VectorizedParquetRecordReader.initializeInternal()`, the column
    * checks the 4-arg `initialize` ends with. */
  private lazy val initializeInternal: Method =
    try {
      val m = classOf[VectorizedParquetRecordReader].getDeclaredMethod("initializeInternal")
      m.setAccessible(true)
      m
    } catch {
      case e: NoSuchMethodException => throw new IllegalStateException(
        "graftlake: this Spark's VectorizedParquetRecordReader has no " +
          "initializeInternal(); GraftParquetBridge.initPruned must follow " +
          "its 4-arg initialize", e)
    }

  /** Initialize `r` over exactly the `keep`-marked row groups of
    * `reader` (indices aligned with the footer's block order).
    * `totalRows` must be the kept blocks' row-count sum. Closing `r`
    * closes `reader`.
    */
  def initPruned(r: VectorizedParquetRecordReader, fileSchema: MessageType,
      requested: MessageType, reader: ParquetFileReader,
      keep: Array[Boolean], totalRows: Long): Unit = {
    val rg = new SpecificParquetRecordReaderBase.ParquetRowGroupReader {
      private var i = 0
      override def readNextRowGroup(): PageReadStore = {
        while (i < keep.length && !keep(i)) {
          reader.skipNextRowGroup()
          i += 1
        }
        if (i >= keep.length) null
        else {
          i += 1
          reader.readNextRowGroup()
        }
      }
      override def close(): Unit = reader.close()
    }
    require(totalRows <= Int.MaxValue,
      s"graftlake: $totalRows rows in one file exceed a single reader")
    val conf = new Configuration(false)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => conf.setBoolean(e.key, false))
    r.reader = rg
    r.fileSchema = fileSchema
    r.requestedSchema = requested
    r.configuration = conf
    r.parquetColumn = new ParquetToSparkSchemaConverter(conf)
      .convertParquetColumn(requested, None)
    r.sparkSchema = r.parquetColumn.sparkType.asInstanceOf[StructType]
    r.sparkRequestedSchema = r.sparkSchema
    r.totalRowCount = totalRows
    try initializeInternal.invoke(r)
    catch { case e: InvocationTargetException => throw e.getCause }
  }
}
