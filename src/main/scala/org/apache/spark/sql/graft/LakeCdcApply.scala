package org.apache.spark.sql.graft

import java.nio.file.Paths

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col

import graft.sources.{LakeEq, LakeFileMessage, LakeLog, LakePartitioning, LakeTable,
  LakeWriterFactory}

/** The CDC-APPLY half of [[graft.plans.UpsertMergeRewrite]]: ONE
  * atomic, scan-free commit for the canonical changelog-apply MERGE
  *
  * {{{
  * MERGE INTO t USING s ON t.k = s.k
  * WHEN MATCHED AND s.op = 'D' THEN DELETE
  * WHEN MATCHED THEN UPDATE SET <all columns from s>
  * WHEN NOT MATCHED AND NOT (s.op = 'D') THEN INSERT <all columns from s>
  * }}}
  *
  * Semantics of the shape: EVERY source key's old row dies; non-delete
  * rows re-insert their source values. That is exactly one
  * equality-delete record over the source's distinct keys plus data
  * files holding only the non-tombstone rows — zero reads of the
  * target. Spark's positional plan for the same statement joins the
  * full target to find match positions; at 100 TB that scan IS the
  * cost, and splitting the batch into an upsert write plus a keyed
  * DELETE (the previous best) costs two commits and loses atomicity —
  * readers between them would see deletes without their upserts.
  *
  * `source` projects `[table columns..., __cdc_tombstone BOOLEAN]`;
  * the command runs it distributed through the connector's OWN
  * task-side writers (the same pattern `system.compact`/`zorder` use:
  * [[LakeWriterFactory]] under `mapPartitionsWithIndex`), with the
  * write-path layout contract applied plan-side (cluster on partition
  * source columns, in-task sort) since no V2 write exec is present to
  * demand it. Tombstone rows contribute their key and skip the file;
  * a NULL tombstone mark fails the write (stricter than SQL MERGE,
  * which classifies such rows by match status — this route cannot see
  * one); so do duplicate source keys (the `merge_unique` contract).
  * The commit itself is the plain upsert append commit — O(delta),
  * retried optimistically; on any failure the written files are
  * reclaimed and the table is untouched.
  */
case class LakeCdcApplyCommand(dirStr: String, source: LogicalPlan)
  extends LeafRunnableCommand {

  /** The projected source rides along for EXPLAIN readability. */
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val dir = Paths.get(dirStr)
    val snap = LakeLog.currentSnapshot(dir).get
    val ucs = LakeTable.keyedColumns(snap.schema, snap.props)
    require(ucs.nonEmpty, "graftlake: CDC apply needs the upsert_key property")

    // the layout the V2 write exec would have demanded
    val df = PlanBridge.ofRows(spark, source)
    val cluster = LakeTable.clusterCols(snap.props)
    val clustered =
      if (cluster.isEmpty) df else df.repartition(cluster.map(col): _*)
    val arranged = snap.props.get("sortBy")
      .map(s => clustered.sortWithinPartitions(col(s))).getOrElse(clustered)

    // hoist every task-side knob out of the closure (never capture a
    // snapshot: a checkpointed table's file list must not ship)
    val writeSchema = arranged.schema
    val keepCols = snap.schema.fieldNames
    val partSpec = LakePartitioning.decode(snap.props)
    val bloomBy = LakeTable.bloomCols(snap.props)
    val bloomInline = LakeTable.bloomInline(snap.props)
    val codec = LakeTable.codecOf(snap.props)
    val rowGroupBytes = LakeTable.rowGroupBytes(snap.props)
    val collectKeys = ucs.map(c => (c._1, c._3))
    val tableDirStr = dirStr
    val messages: Array[LakeFileMessage] = arranged.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        val w = LakeWriterFactory(tableDirStr, writeSchema, keepCols,
          partSpec, bloomBy = bloomBy, bloomInline = bloomInline,
          codec = codec, rowGroupBytes = rowGroupBytes,
          collectKeys = collectKeys,
          tombstoneCol = Some(LakeCdcApplyCommand.TombstoneCol))
          .createWriter(pid, 0L)
        var ok = false
        try {
          it.foreach(w.write)
          val m = w.commit()
          ok = true
          Iterator.single(m.asInstanceOf[LakeFileMessage])
        } finally if (!ok) w.abort()
      }.collect()

    try {
      // sidecar lands once, BEFORE the retry loop; the unique guard
      // fails the whole write on duplicate source keys
      val eqAdd = LakeEq.recordOf(dir, ucs, messages, uniqueGuard = true)
      val written = LakeLog.writtenEntries(messages.toSeq.flatMap(_.files),
        snap.schema, snap.props, snap.props.get("sortBy").toSeq)
      LakeLog.commitLoop(dir)(cur =>
        Some(LakeLog.Append(written, cur.props, eqAdd = eqAdd)))
      Seq.empty
    } catch {
      case t: Throwable =>
        LakeWriterFactory.deleteAll(dirStr,
          messages.map(m => m: org.apache.spark.sql.connector.write.WriterCommitMessage))
        throw t
    }
  }
}

object LakeCdcApplyCommand {
  /** Boolean mark appended after the table columns by the rewrite. */
  val TombstoneCol = "__cdc_tombstone"
}
