package graft.sources

import java.nio.file.{Path, Paths}
import java.util.OptionalLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The lake CHANGE FEED: `<table>__changes` is a read-only companion
  * table whose rows are the row-level changes BETWEEN log versions —
  * the `table_changes()` / CDF analog a versioned log gives for free.
  *
  * Feed schema = base table schema + `_change_type` STRING
  * ('insert' | 'delete') + `_commit_version` BIGINT. Per version the
  * diff of adjacent snapshots derives the changes:
  *
  *   - files ADDED → their rows as 'insert'
  *   - a file's delete vector GROWN → the newly-deleted positions,
  *     read back from the data file, as 'delete' (an UPDATE on a MOR
  *     table therefore shows as delete-of-pre-image +
  *     insert-of-post-image in one commit — CDC shape)
  *   - files REMOVED with nothing added (metadata-only DELETE,
  *     TRUNCATE) → their live rows as 'delete'
  *   - EQUALITY-DELETE records ADDED (a keyed upsert's scan-free
  *     delete half, or `DELETE WHERE k IN (...)`) → the matching rows
  *     of every PREDATING live file, read back with the key set as a
  *     task-side anti^-1-join, as 'delete' — so a CDC upsert narrates
  *     as delete-of-pre-image + insert-of-post-image exactly like the
  *     dv shape. Candidate files prune through the same stats + bloom
  *     algebra the scan uses; rows already dead at `v-1` (older
  *     records, dv positions) are never re-emitted.
  *   - records DROPPED with their predating files intact (rollback of
  *     an upsert) → the matching rows came back to life: emitted as
  *     'insert', filtered by what is still dead at `v` — which makes
  *     the commit-time auto-prune of fully-escaped records a natural
  *     no-op in the feed.
  *   - a commit that both removes AND adds files (COW rewrite,
  *     compaction) is a PHYSICAL rewrite whose logical change set is
  *     not representable from the log alone: the scan fails unless
  *     `skipChangeCommits=true`, which skips those versions (Delta's
  *     streaming-read contract).
  *
  * Batch reads take `startingVersion`/`endingVersion` options.
  * Streaming ([[LakeChangesStream]]) treats LOG VERSIONS as offsets:
  * resume picks up from the committed version, `maxVersionsPerTrigger`
  * and `maxBytesPerTrigger` bound admission per micro-batch (byte
  * pacing admits whole versions off the log's recorded file sizes —
  * a commit never splits across triggers), and Trigger.AvailableNow
  * pins the head at start ([[SupportsTriggerAvailableNow]]).
  */
class LakeChangesTable(dir: Path, baseName: String) extends Table with SupportsRead {

  private val head: LakeSnapshot = LakeLog.currentSnapshot(dir).getOrElse(
    throw new IllegalStateException(s"graftlake: $baseName has no committed version"))

  /** Current-schema column ids, for per-file physical-name resolution. */
  private val feedCols: Seq[(String, Long)] =
    LakeColIds.cols(head.schema, head.props)

  override def name(): String = s"graftlake.$baseName:changes"
  override def schema(): StructType = head.schema
    .add(StructField(LakeChanges.TypeColumn, StringType, nullable = false))
    .add(StructField(LakeChanges.VersionColumn, LongType, nullable = false))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new LakeChangesScan(dir, feedCols, required, options)
    }
}

object LakeChanges {
  val TypeColumn = "_change_type"
  val VersionColumn = "_commit_version"
  /** Table-name suffix that routes `loadTable` to the feed. */
  val Suffix = "__changes"

  /** Spec instrumentation for equality-record expansion planning:
    * predating files that survived / were pruned by the stats + bloom
    * candidate check (counted per (file, record) pair).
    */
  private[graft] val eqFilesPlanned = new java.util.concurrent.atomic.AtomicLong
  private[graft] val eqFilesPruned = new java.util.concurrent.atomic.AtomicLong

  /** `startingTimestamp` → the first version committed at or after the
    * instant (epoch millis, or any SQL timestamp/date literal parsed in
    * the SESSION timezone — `2024-01-02`, `2024-01-02 03:04:05`, and
    * ISO-8601 `T` forms all accepted). Every retained commit older →
    * start past the head (future commits only). Mutually exclusive with
    * `startingVersion`.
    */
  def resolveStartingVersion(dir: Path,
      options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("startingTimestamp")).map { s =>
      require(options.get("startingVersion") == null,
        "graftlake: startingTimestamp and startingVersion are mutually exclusive")
      val tsMs =
        if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
        else {
          // Session-timezone parse, same literal grammar as CAST(s AS
          // TIMESTAMP) — not Timestamp.valueOf, which is JVM-default-TZ
          // and rejects date-only / 'T' forms.
          val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
            .getZoneId(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
          val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
            .stringToTimestamp(org.apache.spark.unsafe.types.UTF8String.fromString(s), zone)
            .getOrElse(throw new IllegalArgumentException(
              s"graftlake: cannot parse option startingTimestamp='$s' — " +
                "expected epoch millis or a timestamp/date literal"))
          Math.floorDiv(micros, 1000L)
        }
      LakeLog.versionAfterTime(dir, tsMs)
        .getOrElse(LakeLog.currentVersion(dir).getOrElse(-1L) + 1L)
    }

  /** Change partitions for ONE version transition `v-1 -> v`.
    * `appendOnly` is the BASE-table streaming contract: only appended
    * files may emit; any delete-vector growth or file removal is a
    * data CHANGE the stream cannot represent and fails (or skips,
    * under `skipChangeCommits`) — stream `<t>__changes` to observe
    * mutations as rows.
    */
  def partitionsFor(dir: Path, feedCols: Seq[(String, Long)],
      required: StructType, v: Long, skipChangeCommits: Boolean,
      appendOnly: Boolean = false): Seq[LakeChangePartition] = {
    val cur = LakeLog.snapshotAt(dir, v).getOrElse(throw new IllegalStateException(
      s"graftlake change feed: version $v pruned past retention"))
    def renameOf(f: LakeFile): Map[String, String] =
      required.fieldNames.iterator
        .filter(n => n != TypeColumn && n != VersionColumn)
        .flatMap(n => LakeColIds.physicalName(feedCols, f, n).map(n -> _))
        .toMap
    def fileTypesOf(f: LakeFile): Map[String, String] =
      LakeColIds.fileTypes(feedCols, f,
        required.fields.toSeq.filter(fd =>
          fd.name != TypeColumn && fd.name != VersionColumn))
    // Resolve records applicable to one file (born strictly after it)
    // into task-shippable refs: per component the file's physical
    // key-column name and write-time type travel; the VALUES stay in
    // their sidecars, read task-side like dvs. A file that physically
    // predates any component resolves to None — no row can match.
    def eqRefsFor(f: LakeFile, records: Seq[LakeEqDelete]): Seq[LakeEqRef] =
      records.filter(_.seq > f.seq).flatMap { e =>
        val kinds = if (e.cols.nonEmpty) e.cols.map(_._2) else Seq(e.kind)
        val comps = e.keyIds.zip(kinds).map { case (id, k) =>
          feedCols.find(_._2 == id).map(_._1).flatMap { cn =>
            LakeColIds.physicalName(feedCols, f, cn).map { phys =>
              val i = f.cols.indexWhere(_._1 == phys)
              val ft =
                if (i >= 0 && i < f.colTypes.length) f.colTypes(i)
                else cur.schema.find(_.name == cn).map(_.dataType.simpleString)
                  .getOrElse(if (k == "long") "bigint" else "string")
              LakeEqRefCol(id, k, phys, ft)
            }
          }
        }
        if (comps.exists(_.isEmpty)) None
        else Some(LakeEqRef(e.seq, e.ref, e.kind, comps.map(_.get)))
      }
    // PURE-APPEND FAST PATH: the delta alone proves the change set —
    // no removed paths, no record transitions, so every add is a new
    // (or restored) file whose rows simply appear. NEITHER census
    // materializes: on a 10⁸-file checkpointed table, narrating a
    // streaming append commit reads one delta, zero checkpoint parts.
    // (A restored file under live records still ships its guard —
    // resolvable from the header's record list alone.)
    LakeLog.deltaFeedView(dir, v) match {
      case Some((adds, removes, eqA, eqD))
          if removes.isEmpty && eqA.isEmpty && eqD.isEmpty =>
        return adds.map(f => LakeChangePartition(
          dir.toString, f.path, f.rows, renameOf(f), "insert", v,
          dv = f.dv, prevDv = None, emitDiff = false,
          fileTypes = fileTypesOf(f), eqGuard = eqRefsFor(f, cur.eqdels)))
      case _ => ()
    }
    // MUTATION versions plan from the DELTA + TARGETED parent lookups:
    // the delta names every changed path (prev entries resolve through
    // the checkpoint parts' path blooms), and record transitions
    // enumerate candidates through `matching` — the same part-range
    // algebra the scan prunes with. Neither adjacent census
    // materializes on a parted table. Fallback (delta pruned but the
    // version still reconstructible from a checkpoint AT v): the full
    // adjacent-census diff, which derives the identical view — it is
    // exactly what commit diffed when it wrote the delta.
    val prev =
      if (v == 0L) LakeSnapshot(-1L, StructType(Nil), Seq.empty)
      else LakeLog.snapshotAt(dir, v - 1).getOrElse(throw new IllegalStateException(
        s"graftlake change feed: version ${v - 1} pruned past retention"))
    // EQUALITY-DELETE record transitions expand to row-level changes:
    // records ADDED at v delete the matching live rows of predating
    // files; records DROPPED with files intact (rollback of an upsert)
    // resurrect them. Records are value-immutable once committed, so
    // the delta's add/drop lists (or the case-class set diff) ARE the
    // transition.
    val eqPrev = prev.eqdels
    val eqCur = cur.eqdels
    val (dAdds, dRemoves, eqAdded, eqDropped) =
      LakeLog.deltaFeedView(dir, v) match {
        case Some((as, rs, ea, ed)) =>
          (as, rs, ea, eqPrev.filter(e => ed.contains(e.seq)))
        case None =>
          val pbp = prev.files.map(f => f.path -> f).toMap
          val cbp = cur.files.map(f => f.path -> f).toMap
          (cur.files.filter(f => !pbp.get(f.path).contains(f)),
            prev.files.iterator.filter(f => !cbp.get(f.path).contains(f))
              .map(_.path).toSet,
            eqCur.filterNot(eqPrev.contains),
            eqPrev.filterNot(eqCur.contains))
      }
    // delta anatomy: an entry CHANGED in place (a moved delete vector)
    // rides as remove+add of the same path — genuinely new paths and
    // genuinely dropped paths are the set differences
    val addPaths = dAdds.map(_.path).toSet
    val newFiles = dAdds.filterNot(f => dRemoves.contains(f.path))
    val changedCur = dAdds.filter(f => dRemoves.contains(f.path))
    val droppedPaths = (dRemoves -- addPaths).toSeq.sorted
    if (newFiles.nonEmpty && droppedPaths.nonEmpty) {
      if (skipChangeCommits) return Seq.empty
      throw new UnsupportedOperationException(
        s"graftlake change feed: version $v rewrites files (COW/compaction) — " +
          "its logical change set is not derivable from the log; " +
          "set skipChangeCommits=true to skip such commits")
    }
    (eqAdded ++ eqDropped).flatMap(_.keyIds).foreach { id =>
      if (!feedCols.exists(_._2 == id))
        throw new IllegalStateException(
          s"graftlake change feed: version $v transitions an equality-delete " +
            s"record on column id $id, which the current schema no " +
            "longer carries — the change set cannot be resolved")
    }
    // targeted prev entries: changed paths need their PREV dv, dropped
    // paths their final entry — path blooms bound the part parses
    val needPrev: Set[String] = changedCur.map(_.path).toSet ++ droppedPaths
    val prevByPath: Map[String, LakeFile] = prev.files match {
      case pf: LakePartedFiles => pf.entriesFor(needPrev)
      case fs => fs.iterator.filter(f => needPrev(f.path)).map(f => f.path -> f).toMap
    }
    // Candidate pruning for record-driven partitions: a predating file
    // plans only if the scan's own decision algebra (stats ranges, null
    // counts, partition tuples) and its log/sidecar blooms admit SOME
    // key — the feed of a sorted/bloomed 100-TB table expands a keyed
    // upsert against O(files that can hold the keys), not O(table).
    // Key sidecars are read ONCE per version on the driver (small: the
    // batch's key set), never shipped — refs travel, tasks re-read.
    // key TUPLES per record (arity 1 for single-column records), read
    // once per version on the driver
    // probes + IN predicates are FILE-INDEPENDENT per record: build
    // them once per (version, record) and reuse across every candidate
    // file — narrating an equality commit over a large census costs
    // O(records) constructions, not O(files × batch keys)
    val keyCache = scala.collection.mutable.Map.empty[
      String, (Seq[(String, Seq[Any])],
        Array[org.apache.spark.sql.connector.expressions.filter.Predicate])]
    def probesPredsOf(r: LakeEqRef): (Seq[(String, Seq[Any])],
        Array[org.apache.spark.sql.connector.expressions.filter.Predicate]) =
      keyCache.getOrElseUpdate(r.ref, {
        val tuples: Seq[Seq[Any]] = r.kind match {
          case "long" => LakeEq.readLongs(dir, r.ref).toSeq.map(v => Seq(v: Any))
          case "string" => LakeEq.readStrs(dir, r.ref).toSeq.map(v => Seq(v: Any))
          case _ => LakeEq.readTuples(dir, r.ref, r.comps.map(_.kind))
        }
        // one IN per component, decided as a CONJUNCTION (sound superset
        // of the tuple set) through the scan's own algebra + blooms
        val probes: Seq[(String, Seq[Any])] = r.comps.zipWithIndex.map {
          case (c, j) =>
            val cn = feedCols.find(_._2 == c.colId).get._1
            cn -> tuples.map(_(j)).distinct
        }
        val preds = probes.map { case (cn, vs) =>
          new org.apache.spark.sql.connector.expressions.filter.Predicate(
            "IN", (org.apache.spark.sql.connector.expressions.Expressions.column(cn) +:
              vs.map(v => org.apache.spark.sql.connector.expressions.Expressions
                .literal(v): org.apache.spark.sql.connector.expressions.Expression)).toArray)
        }.toArray
        (probes, preds)
      })
    def candidate(f: LakeFile, r: LakeEqRef): Boolean = {
      val (probes, preds) = probesPredsOf(r)
      val ok = LakeStats.decide(f, preds,
        LakeColIds.physicalName(feedCols, f, _),
        LakePartitioning.resolver(cur.props, f)) != LakeStats.None_ &&
        LakeBloomProbe.survives(dir, cur.schema, feedCols, f,
          probes, footerProbesOk = false)
      if (ok) LakeChanges.eqFilesPlanned.incrementAndGet()
      else LakeChanges.eqFilesPruned.incrementAndGet()
      ok
    }
    // part-level candidate PREDS for one RECORD (file-independent):
    // reuses probesPredsOf's per-ref cache via a shim ref — the preds
    // construction never reads the phys/fileType components
    def recordPreds(e: LakeEqDelete)
        : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
      val comps = (if (e.cols.nonEmpty) e.cols else Seq((e.colId, e.kind)))
        .map { case (id, k) => LakeEqRefCol(id, k, "", "") }
      probesPredsOf(LakeEqRef(e.seq, e.ref, e.kind, comps))._2
    }
    // dv SIDECAR PATHS only — the vectors themselves are read in the
    // TASK ([[LakeChangesReaderFactory]]), so planning stays O(files)
    // driver memory and a million-row DELETE ships bytes-constant
    // partition payloads instead of embedded position arrays.
    // Added files carry the CURRENT records as a guard: a rollback can
    // RESTORE old files into a snapshot whose live records still kill
    // some of their rows — those must not resurface as inserts.
    val inserts = newFiles.map(f => LakeChangePartition(
      dir.toString, f.path, f.rows, renameOf(f), "insert", v,
      dv = f.dv, prevDv = None, emitDiff = false, fileTypes = fileTypesOf(f),
      eqGuard = eqRefsFor(f, eqCur)))
    if (appendOnly) {
      val changed = droppedPaths.nonEmpty || eqAdded.nonEmpty || eqDropped.nonEmpty ||
        changedCur.exists(f => prevByPath.get(f.path).exists(_.dv != f.dv))
      if (changed) {
        if (skipChangeCommits) return Seq.empty
        throw new UnsupportedOperationException(
          s"graftlake: version $v deletes or updates rows — streaming the " +
            "base table is append-only; stream <table>__changes to observe " +
            "mutations, or set skipChangeCommits=true to skip them")
      }
      return inserts
    }
    // Both-sides files a record transition can TOUCH: the records' own
    // key sets, pushed through `matching`, bound the enumeration to
    // range-intersecting checkpoint parts — an upsert's narration on a
    // sorted 10⁸-file table walks O(admitting parts), not the census.
    // (Per-file stats+bloom pruning still runs via candidate() below;
    // part-level pruning is a sound superset of it, so the planned set
    // is unchanged.) Changed paths are handled separately above.
    val eqCandidates: Seq[LakeFile] =
      if (eqAdded.isEmpty && eqDropped.isEmpty) Seq.empty
      else {
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, LakeFile]
        (eqAdded ++ eqDropped).foreach { e =>
          val cand = cur.files match {
            case pf: LakePartedFiles =>
              pf.matching(recordPreds(e), cur.schema, cur.props)
            case fs => fs
          }
          cand.foreach(f =>
            if (!addPaths.contains(f.path)) seen.getOrElseUpdate(f.path, f))
        }
        seen.values.toSeq
      }
    // One FLIP KERNEL for files present on both sides: a row's change
    // is a liveness flip between dead(v-1) = dvPrev ∪ match(prev
    // records) and dead(v) = dvCur ∪ match(cur records). Deletes =
    // dead(v) \ dead(v-1): (pos ∈ dv-growth ∨ row matches an ADDED
    // record) ∧ pos ∉ dvPrev ∧ row matches no PREV record. Inserts
    // (resurrections) are the mirror with the roles swapped. dv growth
    // is monotone outside rewrite/rollback commits; the guards make
    // already-dead rows unnameable in every path. An UNCHANGED file's
    // prev entry IS its cur entry — no lookup needed.
    val flips = (changedCur.map(f => f -> prevByPath.get(f.path)) ++
        eqCandidates.map(f => f -> Some(f))).flatMap {
      case (f, Some(pf)) if pf.dv != f.dv || eqAdded.nonEmpty || eqDropped.nonEmpty =>
        val dvGrow = pf.dv != f.dv && f.dvRows >= pf.dvRows
        val dvShrink = pf.dv != f.dv && f.dvRows < pf.dvRows
        val addedApp = eqRefsFor(pf, eqAdded).filter(candidate(pf, _))
        val droppedApp = eqRefsFor(f, eqDropped).filter(candidate(f, _))
        val del =
          if (dvGrow || addedApp.nonEmpty)
            Some(LakeChangePartition(dir.toString, f.path, f.rows,
              renameOf(f), "delete", v, dv = f.dv, prevDv = pf.dv,
              emitDiff = true, fileTypes = fileTypesOf(f),
              eqEmit = addedApp, eqGuard = eqRefsFor(pf, eqPrev)))
          else None
        val ins =
          if (dvShrink || droppedApp.nonEmpty)
            Some(LakeChangePartition(dir.toString, f.path, f.rows,
              renameOf(f), "insert", v, dv = pf.dv, prevDv = f.dv,
              emitDiff = true, fileTypes = fileTypesOf(f),
              eqEmit = droppedApp, eqGuard = eqRefsFor(f, eqCur)))
          else None
        del.toSeq ++ ins
      case _ => Seq.empty
    }
    // whole-file deletes emit what was LIVE at v-1: minus the file's
    // own dv AND minus rows older records had already killed
    val dropDeletes = droppedPaths.flatMap(prevByPath.get).map(f =>
      LakeChangePartition(
        dir.toString, f.path, f.rows, renameOf(f), "delete", v,
        dv = f.dv, prevDv = None, emitDiff = false, fileTypes = fileTypesOf(f),
        eqGuard = eqRefsFor(f, eqPrev)))
    inserts ++ flips ++ dropDeletes
  }
}

/** Batch half: all changes in `[startingVersion, endingVersion]`. */
class LakeChangesScan(dir: Path, feedCols: Seq[(String, Long)],
    required: StructType, options: CaseInsensitiveStringMap,
    appendOnly: Boolean = false)
  extends Scan with Batch with SupportsReportStatistics {

  private def opt(k: String, dflt: Long): Long =
    Option(options.get(k)).map(_.toLong).getOrElse(dflt)
  private val skipChangeCommits: Boolean =
    Option(options.get("skipChangeCommits")).exists(_.toBoolean)

  override def readSchema(): StructType = required
  override def description(): String = s"graftlake-changes [${required.fieldNames.mkString(",")}]"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val head = LakeLog.currentVersion(dir).getOrElse(-1L)
    // default 0, not 1: CTAS/RTAS commit their data files AT v0
    val from = opt("startingVersion", 0L)
    val to = math.min(opt("endingVersion", head), head)
    (from to to).flatMap(v =>
      LakeChanges.partitionsFor(dir, feedCols, required, v, skipChangeCommits,
        appendOnly))
      .map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LakeChangesReaderFactory(required.fields.map(f => f.name -> f.dataType))

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.empty()
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeChangesStream(dir, feedCols, required,
      startingVersion = LakeChanges.resolveStartingVersion(dir, options)
        .getOrElse(opt("startingVersion", 0L)),
      maxVersionsPerTrigger = opt("maxVersionsPerTrigger", Long.MaxValue),
      maxBytesPerTrigger = opt("maxBytesPerTrigger", Long.MaxValue),
      skipChangeCommits = skipChangeCommits,
      appendOnly = appendOnly)
}

/** Streaming half: offsets are LOG VERSIONS; a batch (start, end]
  * carries the change partitions of each version in the range.
  */
class LakeChangesStream(dir: Path, feedCols: Seq[(String, Long)],
    required: StructType, startingVersion: Long, maxVersionsPerTrigger: Long,
    skipChangeCommits: Boolean, appendOnly: Boolean = false,
    maxBytesPerTrigger: Long = Long.MaxValue)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  @volatile private var preparedHead: Option[Long] = None

  /** The newest version a STREAM may admit. While a write-audit-publish
    * pin is active (branch() wrote the `main` ref), unaudited staged
    * commits must not flow to streaming consumers any more than to
    * batch readers of the same table — the stream's head is capped at
    * the pin and fast-forwards when publish drops it. (Auditors stream
    * staged commits only after publish; `VERSION AS OF '<branch>'`
    * remains the batch audit read.)
    */
  private def head: Long = {
    val h = LakeLog.currentVersion(dir).getOrElse(-1L)
    LakeLog.readRef(dir, "main") match {
      case Some((v, "main")) => math.min(h, v)
      case _ => h
    }
  }

  override def initialOffset(): Offset = LakeVersionOffset(startingVersion - 1)

  override def prepareForTriggerAvailableNow(): Unit = preparedHead = Some(head)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val bound = preparedHead.getOrElse(head)
    val s = start.asInstanceOf[LakeVersionOffset].version
    // overflow-safe admission: advance by at most maxVersionsPerTrigger
    // but never past (or below) the bound — `s + Long.MaxValue` wraps
    val step = math.min(maxVersionsPerTrigger, math.max(0L, bound - s))
    if (step == 0L || maxBytesPerTrigger == Long.MaxValue)
      return LakeVersionOffset(s + step)
    // BYTE-paced admission (the 100 TB backfill knob): admit whole
    // versions while their cumulative ADDED data-file bytes stay under
    // the budget — the log already records every file's size, so the
    // weights are O(1) driver reads of the pending deltas, no file
    // opens. Version boundaries are respected absolutely (a commit
    // never splits across triggers), so a single commit larger than
    // the budget still admits ALONE rather than stalling the stream —
    // the same always-make-progress rule as Delta's maxBytesPerTrigger.
    var v = s
    var admitted = 0L
    var budget = maxBytesPerTrigger
    while (admitted < step) {
      val b = LakeLog.versionAddedBytes(dir, v + 1)
      if (admitted > 0L && b > budget) return LakeVersionOffset(v)
      v += 1; admitted += 1; budget -= b
      if (budget <= 0L) return LakeVersionOffset(v)
    }
    LakeVersionOffset(v)
  }

  override def reportLatestOffset(): Offset = LakeVersionOffset(head)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    ((s + 1) to e).flatMap(v =>
      LakeChanges.partitionsFor(dir, feedCols, required, v, skipChangeCommits,
        appendOnly))
      .map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LakeChangesReaderFactory(required.fields.map(f => f.name -> f.dataType))

  override def deserializeOffset(json: String): Offset =
    LakeVersionOffset(LakeVersionOffset.parse(json))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class LakeVersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object LakeVersionOffset {
  private val Re = """\{"version":(-?\d+)\}""".r
  def parse(json: String): Long = json.trim match {
    case Re(v) => v.toLong
    case other => throw new IllegalArgumentException(s"bad lake offset: $other")
  }
}

/** One change partition: the rows of ONE data file contributing to ONE
  * version's change set. Carries only the dv sidecar PATHS — O(1)
  * payload regardless of delete size; the reader loads them task-side.
  * `emitDiff = true` emits exactly the positions of `dv` absent from
  * `prevDv` (dv-growth deletes — or, with the roles swapped by the
  * planner, rollback-resurrected inserts); otherwise every position
  * except those
  * in `dv` (inserts, and whole-file deletes minus the pre-existing
  * vector).
  */
case class LakeChangePartition(tableDir: String, path: String, rows: Long,
    rename: Map[String, String], changeType: String, version: Long,
    dv: Option[String], prevDv: Option[String], emitDiff: Boolean,
    fileTypes: Map[String, String] = Map.empty,
    eqEmit: Seq[LakeEqRef] = Seq.empty,
    eqGuard: Seq[LakeEqRef] = Seq.empty) extends InputPartition

/** One equality-delete record resolved AGAINST one file: per key
  * component the file's physical column name and write-time type ride
  * along; the key VALUES stay in the record's sidecar (`ref`, `kind`
  * long|string|tuple) and are read task-side — partition payloads stay
  * O(1) like dv paths. As `eqEmit`, matching rows EMIT (the record
  * flipped their liveness this version); as `eqGuard`, matching rows
  * are SUPPRESSED (they were already dead on the emitting side's base
  * snapshot).
  */
case class LakeEqRef(seq: Long, ref: String, kind: String,
    comps: Seq[LakeEqRefCol])

case class LakeEqRefCol(colId: Long, kind: String, phys: String,
    fileType: String)

case class LakeChangesReaderFactory(
    required: Array[(String, DataType)]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakeChangePartition]
    val tdir = Paths.get(p.tableDir)
    def readDv(rel: Option[String]): Array[Long] =
      rel.map(LakeDv.read(tdir, _)).getOrElse(Array.emptyLongArray)
    // task-side dv materialization: planning shipped only the paths
    val dvCur = readDv(p.dv)
    val dvPrev = readDv(p.prevDv)
    // flip mode: positions of `dv` absent from `prevDv` emit, `prevDv`
    // itself suppresses (a record-matched row dead on the base side
    // must not re-emit). Complement mode: everything outside `dv`.
    val include: Option[Array[Long]] =
      if (p.emitDiff) Some(LakeDv.diff(dvCur, dvPrev)) else None
    val exclude: Array[Long] = if (p.emitDiff) dvPrev else dvCur
    val codes = {
      var pi = 0
      required.map { case (n, _) =>
        if (n == LakeChanges.TypeColumn) -1
        else if (n == LakeChanges.VersionColumn) -2
        else if (!p.rename.contains(n)) -3
        else { val i = pi; pi += 1; i }
      }
    }
    val fileDts: Array[DataType] = required.map { case (n, dt) =>
      p.fileTypes.get(n).map(LakeParquet.typeOf).getOrElse(dt) }
    val physical = required.collect {
      case (n, _) if p.rename.contains(n) => p.rename(n) }
    // equality-record key columns decode even when unprojected —
    // appended AFTER the projected columns so `codes` indices hold
    val eqKeyPhys: Seq[String] =
      (p.eqEmit ++ p.eqGuard).flatMap(_.comps.map(_.phys))
        .distinct.filterNot(physical.contains)
    val decodedPhys: Seq[String] = physical.toSeq ++ eqKeyPhys
    val reader =
      if (decodedPhys.isEmpty) null
      else LakeParquet.openVectorized(
        Paths.get(p.tableDir).resolve(p.path), decodedPhys)
    // one eval per record, arity-agnostic: the sidecar's key tuples
    // (arity 1 for single-column records) load task-side into a set of
    // canonical encodings ([[LakeEq.encodeTuple]]), and each row
    // encodes its key components the same way
    def evalsOf(refs: Seq[LakeEqRef]): Array[(Array[Int], Array[DataType], LakeTupleProbe)] =
      refs.map { r =>
        val tuples: Seq[Seq[Any]] = r.kind match {
          case "long" => LakeEq.readLongs(tdir, r.ref).toSeq.map(v => Seq(v: Any))
          case "string" => LakeEq.readStrs(tdir, r.ref).toSeq.map(v => Seq(v: Any))
          case _ => LakeEq.readTuples(tdir, r.ref, r.comps.map(_.kind))
        }
        (r.comps.map(c => decodedPhys.indexOf(c.phys)).toArray,
          r.comps.map(c => LakeParquet.typeOf(c.fileType)).toArray,
          new LakeTupleProbe(tuples))
      }.toArray
    val emitEvals = evalsOf(p.eqEmit)
    val guardEvals = evalsOf(p.eqGuard)
    def matches(row: InternalRow,
        evals: Array[(Array[Int], Array[DataType], LakeTupleProbe)]): Boolean = {
      var i = 0
      while (i < evals.length) {
        val (idxs, dts, probe) = evals(i)
        if (probe.matches(row, idxs, dts)) return true
        i += 1
      }
      false
    }
    val typeValue = UTF8String.fromString(p.changeType)
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private var ci = 0 // include cursor
      private var ce = 0 // exclude cursor
      private def inInclude(i: Long): Boolean = include match {
        case Some(inc) =>
          while (ci < inc.length && inc(ci) < i) ci += 1
          ci < inc.length && inc(ci) == i
        case None => false
      }
      private def inExclude(i: Long): Boolean = {
        while (ce < exclude.length && exclude(ce) < i) ce += 1
        ce < exclude.length && exclude(ce) == i
      }
      // the FLIP kernel: a row emits when this side flipped its
      // liveness (dv-diff position, or a value the flipped records
      // name) and the base side had it ALIVE (not in the base dv, not
      // matching a base-side record)
      private def ok(i: Long, row: InternalRow): Boolean =
        if (p.emitDiff)
          (inInclude(i) || matches(row, emitEvals)) &&
            !inExclude(i) && !matches(row, guardEvals)
        else !inExclude(i) && !matches(row, guardEvals)
      // metadata-only projection with no eq records: position logic
      private def posOnly(i: Long): Boolean =
        if (p.emitDiff) inInclude(i) && !inExclude(i) else !inExclude(i)
      override def next(): Boolean =
        if (reader == null) {
          pos += 1
          while (pos < p.rows && !posOnly(pos)) pos += 1
          pos < p.rows
        } else {
          var more = reader.nextKeyValue()
          while (more) {
            pos += 1
            if (ok(pos, reader.getCurrentValue.asInstanceOf[InternalRow]))
              return true
            more = reader.nextKeyValue()
          }
          false
        }
      override def get(): InternalRow = {
        val src =
          if (reader == null) null
          else reader.getCurrentValue.asInstanceOf[InternalRow]
        val vals = new Array[Any](required.length)
        var c = 0
        while (c < required.length) {
          val code = codes(c)
          vals(c) =
            if (code == -1) typeValue
            else if (code == -2) p.version
            else if (code == -3) null
            else if (src.isNullAt(code)) null
            else LakeParquet.upcast(
              src.get(code, fileDts(c)), fileDts(c), required(c)._2)
          c += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
