package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, GeneralAggregateFunc, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graftlake` — a minimal TRANSACTIONAL table format + catalog plugin:
  * the Iceberg/Delta-shaped contract re-derived from the public DSv2
  * API so every mutation the reference pipeline performs on its lake
  * (append, overwrite-correct, delete, upsert) has a snapshot-isolated,
  * time-travelable analog.
  *
  * Layout on storage (local FS here; the IO seam is `LakeLog`, which a
  * cluster deployment would route through the Hadoop FileSystem API —
  * the protocol below is storage-agnostic):
  *
  * {{{
  *   <warehouse>/<namespace...>/<table>/
  *     _log/v00000000.json      // FULL snapshot per version: schema + file list + stats
  *     data/<uuid>.parquet      // immutable parquet data files ([[LakeParquet]])
  * }}}
  *
  * The LOG is the table: a reader resolves the highest contiguous
  * version and plans exactly that snapshot's files (uncommitted data
  * files are invisible — writers never publish by renaming data, only
  * by committing a new log version). Commits are OPTIMISTIC: a writer
  * computes its successor snapshot, then publishes it with an atomic
  * create-if-absent of `v{N+1}`; losing a race re-reads the head,
  * revalidates (row-level ops require their scanned files to still be
  * live), and retries — snapshot isolation without any lock service,
  * exactly the object-store commit protocol of the production formats.
  *
  * Capabilities wired through Spark's own command rewrites
  * (GraftLakeSpec pins each):
  *
  *   - **Catalog plugin** ([[GraftLakeCatalog]]): `CREATE/DROP TABLE`,
  *     `INSERT INTO`, plus TIME TRAVEL — `VERSION AS OF n` resolves the
  *     pinned snapshot through `loadTable(ident, version)`.
  *   - **Scan**: column pruning, per-file min/max STATS SKIPPING on
  *     numeric predicates (predicates stay post-scan — file skipping is
  *     an optimization, never a correctness dependency), and a `_file`
  *     METADATA COLUMN ([[SupportsMetadataColumns]]).
  *   - **Metadata-only DELETE** ([[SupportsDeleteV2]]): when every live
  *     file's stats DECIDE the predicate (all-match or none-match),
  *     `DELETE FROM` drops whole files from the log and rewrites
  *     nothing (Spark's `OptimizeMetadataOnlyDeleteFromTable` chooses
  *     this over the row-level rewrite exactly when `canDeleteWhere`
  *     says so).
  *   - **Copy-on-write row-level ops** ([[SupportsRowLevelOperations]]):
  *     `DELETE`/`UPDATE`/`MERGE INTO` plan as ReplaceData — the
  *     operation's scan reads affected files, Spark computes the
  *     surviving + changed rows, and commit atomically swaps scanned
  *     files for rewritten ones. The scan implements
  *     [[SupportsRuntimeV2Filtering]] on `_file`, so Spark's runtime
  *     group filtering first finds WHICH files contain matches and the
  *     rewrite touches only those — at 100 TB an UPDATE of one key
  *     rewrites one file, not the table. A MERGE whose target scan
  *     plans at most one file skips that filter (see
  *     `LakeScan.filterAttributes`).
  */
/** CHECK-constraint persistence: one `constraint.<name>` table property
  * per constraint, JSON {sql, enforced, rely, validated}. Spark 4.1's
  * DSv2 constraints surface does the heavy lifting — the analyzer
  * injects per-row enforcement into every write plan of a table whose
  * [[org.apache.spark.sql.connector.catalog.Table#constraints]]
  * reports an ENFORCED check — so the format only stores, reports, and
  * validates-on-ADD. PRIMARY KEY / UNIQUE / FOREIGN KEY are refused:
  * nothing in this engine enforces them, and an unenforced constraint
  * the optimizer may `rely` on is a wrong-results trap, not metadata.
  */
object LakeConstraints {
  import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
  val Prefix = "constraint."
  private val mapper = new ObjectMapper()

  def prop(name: String): String = Prefix + name

  def encode(c: Constraint): (String, String) = c match {
    case ck: Check =>
      val n = mapper.createObjectNode()
      n.put("sql", ck.predicateSql())
      n.put("enforced", ck.enforced())
      n.put("rely", ck.rely())
      n.put("validated", ck.validationStatus().name())
      prop(ck.name()) -> n.toString
    case other => throw new UnsupportedOperationException(
      s"graftlake supports CHECK constraints only; nothing enforces a " +
        s"${other.getClass.getSimpleName.toUpperCase} and unenforced " +
        s"constraints the optimizer may rely on are a correctness trap")
  }

  def decode(props: Map[String, String]): Array[Constraint] =
    props.iterator.collect { case (k, v) if k.startsWith(Prefix) =>
      val root = mapper.readTree(v)
      Constraint.check(k.stripPrefix(Prefix))
        .predicateSql(root.get("sql").asText())
        .enforced(root.get("enforced").asBoolean())
        .rely(root.get("rely").asBoolean())
        .validationStatus(Constraint.ValidationStatus.valueOf(
          root.get("validated").asText()))
        .build(): Constraint
    }.toArray.sortBy(_.name())
}

class GraftLakeCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with StagingTableCatalog with ViewCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName: String = "graftlake"
  private var warehouse: Path = _

  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // column DEFAULTs ride in the schema's field metadata
      // (CURRENT_DEFAULT/EXISTS_DEFAULT), which the log's schema JSON
      // already round-trips; Spark's analyzer fills them on INSERT
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `CREATE TABLE … (…, CONSTRAINT c CHECK (…))` arrives through the
    * [[TableInfo]] overload; constraints ride as properties.
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val cProps = info.constraints().map(LakeConstraints.encode).toMap
    val props = new java.util.HashMap[String, String](info.properties())
    cProps.foreach { case (k, v) => props.put(k, v) }
    createTable(ident, info.schema(), info.partitions(), props)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Paths.get(Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.warehouse")))
    Files.createDirectories(warehouse)
  }
  override def name(): String = catName

  private def tableDir(ident: Identifier): Path =
    (ident.namespace() :+ ident.name()).foldLeft(warehouse)(_.resolve(_))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(warehouse)(_.resolve(_))
    if (!Files.isDirectory(dir)) Array.empty
    else Files.list(dir).iterator().asScala
      .filter(p => Files.isDirectory(p.resolve("_log")))
      .map(p => Identifier.of(namespace, p.getFileName.toString)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // companion tables — resolved by suffix when no real table of that
    // name exists: `__changes` (CDC feed over log versions),
    // `__files` (live file census), `__history` (version log)
    def companion(suffix: String)(make: (Path, String) => Table): Option[Table] =
      if (!ident.name().endsWith(suffix)) None
      else {
        val base = ident.name().stripSuffix(suffix)
        val baseDir = tableDir(Identifier.of(ident.namespace(), base))
        // existence check by VERSION LISTING only — reconstructing the
        // snapshot here would parse the O(files) checkpoint on the
        // driver for every companion-table resolution
        if (!Files.isDirectory(tableDir(ident).resolve("_log")) &&
            LakeLog.currentVersion(baseDir).isDefined)
          Some(make(baseDir, base))
        else None
      }
    companion(LakeChanges.Suffix)(new LakeChangesTable(_, _))
      .orElse(companion(LakeMetaTables.FilesSuffix)(LakeMetaTables.filesTable(_, _)))
      .orElse(companion(LakeMetaTables.HistorySuffix)(LakeMetaTables.historyTable(_, _)))
      .orElse(companion(LakeMetaTables.RefsSuffix)(LakeMetaTables.refsTable))
      .orElse(companion(LakeMetaTables.PartitionsSuffix)(LakeMetaTables.partitionsTable(_, _)))
      .orElse(companion(LakeMetaTables.StatsSuffix)(LakeMetaTables.statsTable(_, _)))
      .orElse(companion(LakeMetaTables.PartsSuffix)(LakeMetaTables.partsTable(_, _)))
      .orElse(companion(LakeMetaTables.RowGroupsSuffix)(LakeMetaTables.rowGroupsTable(_, _)))
      .foreach(t => return t)
    val dir = tableDir(ident)
    // write-audit-publish: a pinned `main` ref freezes the DEFAULT
    // view at its recorded version while a staging branch absorbs the
    // commits landing after it. Writes are NOT pinned (third arg None)
    // — appends commit against the true head, i.e. onto the branch.
    val snap = LakeLog.readRef(dir, "main") match {
      // only branch()'s own pin (kind "main") freezes the default
      // view — a ref merely NAMED main of another kind must not
      case Some((v, "main")) => LakeLog.snapshotAt(dir, v)
      case _ => LakeLog.currentSnapshot(dir)
    }
    snap.map(new LakeTable(dir, _, None)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
  }

  /** TIME TRAVEL: `VERSION AS OF n` pins snapshot `n`; the pinned table
    * is read-only history (writes still go through the head).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    // metadata companions time-travel too: `t__files VERSION AS OF v`
    // is the audit read an operator does before trusting a vacuum or
    // diagnosing a historical plan — the version (or ref) resolves
    // against the BASE table's log
    def pinnedCompanion(suffix: String)(
        make: (Path, String, Option[Long]) => Table): Option[Table] =
      if (!ident.name().endsWith(suffix)) None
      else {
        val base = ident.name().stripSuffix(suffix)
        val baseDir = tableDir(Identifier.of(ident.namespace(), base))
        if (!Files.isDirectory(tableDir(ident).resolve("_log")) &&
            LakeLog.currentVersion(baseDir).isDefined)
          Some(make(baseDir, base, Some(resolveVersion(baseDir, base, version))))
        else None
      }
    pinnedCompanion(LakeMetaTables.FilesSuffix)(LakeMetaTables.filesTable)
      .orElse(pinnedCompanion(LakeMetaTables.HistorySuffix)(LakeMetaTables.historyTable))
      .orElse(pinnedCompanion(LakeMetaTables.PartitionsSuffix)(LakeMetaTables.partitionsTable))
      .orElse(pinnedCompanion(LakeMetaTables.StatsSuffix)(LakeMetaTables.statsTable))
      .orElse(pinnedCompanion(LakeMetaTables.PartsSuffix)(LakeMetaTables.partsTable))
      .orElse(pinnedCompanion(LakeMetaTables.RowGroupsSuffix)(LakeMetaTables.rowGroupsTable))
      .foreach(t => return t)
    val dir = tableDir(ident)
    val v = resolveVersion(dir, ident.name(), version)
    LakeLog.snapshotAt(dir, v).map(new LakeTable(dir, _, Some(v))).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
  }

  /** `VERSION AS OF` takes a version number OR a ref name: tags (and
    * the pinned main) resolve to their recorded version, a staging
    * branch resolves to the CURRENT head — the audit read of WAP.
    */
  private def resolveVersion(dir: Path, name: String, version: String): Long =
    version.toLongOption.getOrElse {
      val (rv, kind) = LakeLog.readRef(dir, version).getOrElse(
        throw new IllegalArgumentException(
          s"graftlake: '$version' is neither a version nor a ref of $name"))
      if (kind == "branch") LakeLog.currentVersion(dir).get else rv
    }

  /** TIME TRAVEL by wall clock: `TIMESTAMP AS OF t` (micros per the
    * TableCatalog contract) resolves to the newest version committed
    * at or before `t` — each delta records its commit time.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val tsMs = Math.floorDiv(timestamp, 1000L)
    // metadata companions resolve TIMESTAMP AS OF against the base log
    Seq(LakeMetaTables.FilesSuffix -> (LakeMetaTables.filesTable _),
      LakeMetaTables.HistorySuffix -> (LakeMetaTables.historyTable _),
      LakeMetaTables.PartitionsSuffix -> (LakeMetaTables.partitionsTable _),
      LakeMetaTables.StatsSuffix -> (LakeMetaTables.statsTable _),
      LakeMetaTables.PartsSuffix -> (LakeMetaTables.partsTable _),
      LakeMetaTables.RowGroupsSuffix -> (LakeMetaTables.rowGroupsTable _))
      .foreach { case (suffix, make) =>
        if (ident.name().endsWith(suffix)) {
          val base = ident.name().stripSuffix(suffix)
          val baseDir = tableDir(Identifier.of(ident.namespace(), base))
          if (!Files.isDirectory(tableDir(ident).resolve("_log")) &&
              LakeLog.currentVersion(baseDir).isDefined)
            return make(baseDir, base,
              Some(LakeLog.versionAtTime(baseDir, tsMs).getOrElse(
                throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))))
        }
      }
    val dir = tableDir(ident)
    LakeLog.versionAtTime(dir, tsMs)
      .flatMap(v => LakeLog.snapshotAt(dir, v).map(new LakeTable(dir, _, Some(v))))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val props = definitionProps(schema, partitions, properties)
    val dir = tableDir(ident)
    if (LakeLog.currentSnapshot(dir).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val s0 = LakeSnapshot(0L, schema, Seq.empty, props ++ LakeColIds.freshProps(schema))
    LakeLog.create(dir, ident, s0)
    new LakeTable(dir, s0, None)
  }

  /** A new table definition's props (CREATE and CTAS/RTAS): the column
    * types the codec writes, the allowlisted properties the caller
    * passed (validated), and the encoded partition spec.
    */
  private def definitionProps(schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Map[String, String] = {
    schema.fields.foreach { f =>
      require(LakeCodec.supported(f.dataType),
        s"graftlake supports BIGINT/INT/DOUBLE/STRING/BOOLEAN columns; " +
          s"got ${f.name}: ${f.dataType.simpleString}")
    }
    val keep = properties.asScala.view
      .filterKeys(k => Set("clusterBy", "sortBy", "bloomBy", "bloom_inline", "mode",
        "checkpoint_part_bytes", "checkpoint_interval", "runtime_filter_cols",
        "target_file_bytes", "upsert_key", "compact_when_eq_records",
        "compact_when_dv_pct",
        "compression", "row_group_bytes").contains(k) ||
        k.startsWith(LakeConstraints.Prefix)).toMap
    validateProps(schema, keep)
    keep ++ partitionProps(schema, partitions)
  }

  /** The one table-property validator: CREATE, CTAS/RTAS and ALTER
    * TABLE … SET TBLPROPERTIES all call it, so no path commits a value
    * another path rejects. Bad values fail HERE because the writers,
    * the checkpoint writer and compaction read them long after the DDL
    * reported success.
    */
  private def validateProps(schema: StructType, props: Map[String, String]): Unit = {
    (Seq("clusterBy", "sortBy").flatMap(props.get) ++
      LakeTable.bloomCols(props)).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"graftlake clusterBy/sortBy/bloomBy must name a table column, got '$c'"))
    props.get("mode").foreach(m => require(m == "cow" || m == "mor",
      s"graftlake mode must be 'cow' or 'mor', got '$m'"))
    Seq("checkpoint_part_bytes", "checkpoint_interval", "target_file_bytes",
      "compact_when_eq_records", "row_group_bytes").foreach(k =>
      props.get(k).foreach(v => require(v.toLongOption.exists(_ > 0L),
        s"graftlake: $k must be a positive integer, got '$v'")))
    props.get("upsert_key").foreach { c =>
      val ks = LakeTable.upsertKeyCols(c)
      require(ks.nonEmpty && ks.forall(k =>
        schema.fields.exists(f => f.name == k &&
          (f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == StringType))),
        s"graftlake: upsert_key must name integral or string table columns, got '$c'")
    }
    props.get("compact_when_dv_pct").foreach(v =>
      require(v.toLongOption.exists(p => p >= 1L && p <= 100L),
        s"graftlake: compact_when_dv_pct must be a percentage in 1..100, got '$v'"))
    props.get("runtime_filter_cols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"graftlake runtime_filter_cols must name table columns, got '$c'"))
    props.get("compression").foreach(v =>
      require(LakeParquet.Codecs.contains(v.toLowerCase),
        s"graftlake: unsupported compression '$v' " +
          s"(supported: ${LakeParquet.Codecs.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** Validate + encode `PARTITIONED BY` transforms (identity/bucket).
    * Identity partitions on DOUBLE are rejected: the partition tuple is
    * the value's STRING form and pruning compares it against literal
    * strings — exact for integral/string/boolean, ambiguous for
    * floating point.
    */
  private def partitionProps(schema: StructType,
      partitions: Array[Transform]): Map[String, String] = {
    val fields = LakePartitioning.fromTransforms(schema, partitions)
    fields.foreach {
      case LakePartitioning.Identity(c) =>
        require(schema(schema.fieldIndex(c)).dataType != DoubleType,
          s"graftlake: identity partition on DOUBLE column $c not supported")
      case _ => ()
    }
    if (fields.isEmpty) Map.empty
    else Map(LakePartitioning.PropKey -> LakePartitioning.encode(fields))
  }

  /** Atomic CTAS / RTAS ([[StagingTableCatalog]]): the staged write
    * lands data files but publishes NO log version; `commitStagedChanges`
    * publishes exactly one — so a failed `CREATE TABLE AS SELECT`
    * leaves no table, and a failed `REPLACE TABLE AS SELECT` leaves
    * the OLD table byte-identical (the non-staged alternative drops
    * then recreates, with a window where the table is missing).
    */
  override def stageCreate(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    staged(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    staged(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    staged(ident, schema, partitions, properties, replace = true)

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String],
      replace: Boolean): StagedTable =
    new GraftStagedTable(tableDir(ident), ident, schema,
      definitionProps(schema, partitions, properties), replace)

  /** SCHEMA EVOLUTION: add / rename / drop top-level columns as a pure
    * METADATA commit — no data file moves. Stable field ids
    * ([[LakeColIds]]) make it sound: renamed columns keep their id (old
    * files resolve through it to their write-time physical name),
    * added columns get a fresh never-reused id (pre-evolution files
    * read as NULL), dropped columns lose their id (old bytes go dead).
    * Time travel keeps working — each version carries its own schema
    * and id list. Same optimistic-commit loop as every other mutation.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (LakeLog.currentVersion(dir).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    var result: LakeSnapshot = null
    LakeLog.commitLoop(dir) { cur =>
      var schema = cur.schema
      var ids = LakeColIds.ids(schema, cur.props)
      var props = cur.props
      var maxId = props.get("maxcolid").map(_.toLong)
        .getOrElse(ids.maxOption.getOrElse(0L))
      changes.foreach {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            "graftlake: nested columns not supported")
          val name = add.fieldNames.head
          require(!schema.fieldNames.contains(name),
            s"graftlake: column $name already exists")
          require(LakeCodec.supported(add.dataType),
            s"graftlake supports BIGINT/INT/DOUBLE/STRING/BOOLEAN columns; " +
              s"got $name: ${add.dataType.simpleString}")
          require(add.isNullable,
            s"graftlake: added column $name must be nullable " +
              "(pre-evolution files read it as NULL)")
          // the scan null-fills pre-evolution files; honoring an ADDed
          // DEFAULT would need an existence default served by the scan
          // — refuse rather than silently read NULL where 'DEFAULT x'
          // was promised
          require(add.defaultValue() == null,
            s"graftlake: ADD COLUMN $name with DEFAULT is not supported — " +
              "rows written before the column would read NULL, not the default")
          schema = schema.add(StructField(name, add.dataType, nullable = true))
          maxId += 1
          ids = ids :+ maxId
        case ren: TableChange.RenameColumn =>
          require(ren.fieldNames.length == 1,
            "graftlake: nested columns not supported")
          val from = ren.fieldNames.head
          val i = schema.fieldIndex(from)
          require(!schema.fieldNames.contains(ren.newName),
            s"graftlake: column ${ren.newName} already exists")
          schema = StructType(
            schema.fields.updated(i, schema.fields(i).copy(name = ren.newName)))
          def renameSpec(spec: String): String = LakePartitioning.encode(
            LakePartitioning.decode(Map(LakePartitioning.PropKey -> spec)).map {
              case LakePartitioning.Identity(`from`) =>
                LakePartitioning.Identity(ren.newName)
              case LakePartitioning.Bucket(`from`, n) =>
                LakePartitioning.Bucket(ren.newName, n)
              case LakePartitioning.Trunc(`from`, n) =>
                LakePartitioning.Trunc(ren.newName, n)
              case other => other
            })
          props = props.map {
            case (k, v) if (k == "clusterBy" || k == "sortBy") && v == from =>
              k -> ren.newName
            case (k, v) if k == "upsert_key" || k == "bloomBy" =>
              // comma-lists rename per component
              k -> v.split(',').map(_.trim)
                .map(c => if (c == from) ren.newName else c).mkString(",")
            case (LakePartitioning.PropKey, spec) =>
              LakePartitioning.PropKey -> renameSpec(spec)
            case (LakePartitioning.SpecsKey, specs) =>
              // historical specs track renames too — old files' tuples
              // must keep answering predicates spelled with the new name
              LakePartitioning.SpecsKey ->
                specs.split(";", -1).map(renameSpec).mkString(";")
            case kv => kv
          }
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames.length == 1,
            "graftlake: nested columns not supported")
          val name = del.fieldNames.head
          val i = schema.fieldIndex(name)
          require(!props.get("clusterBy").contains(name) &&
            !props.get("sortBy").contains(name),
            s"graftlake: cannot drop layout column $name")
          require(!props.get("upsert_key")
            .exists(v => LakeTable.upsertKeyCols(v).contains(name)),
            s"graftlake: cannot drop the upsert_key column $name — " +
              "unset the property first")
          // a LIVE equality-delete record resolves its key by this id:
          // dropping the column would silently stop the record from
          // applying (resurrecting replaced rows) — refuse loudly
          LakeColIds.cols(schema, props).find(_._1 == name).foreach { case (_, id) =>
            require(!LakeLog.currentSnapshot(dir)
              .exists(_.eqdels.exists(_.keyIds.contains(id))),
              s"graftlake: cannot drop column $name — live equality-delete " +
                "records key on it; run CALL system.compact first")
          }
          // a bloom index on a dropped column is just dead bytes in the
          // files — drop the column from the property
          props.get("bloomBy").foreach { v =>
            val left = v.split(',').map(_.trim).filter(c => c.nonEmpty && c != name)
            if (left.isEmpty) props -= "bloomBy"
            else props += ("bloomBy" -> left.mkString(","))
          }
          require(!LakePartitioning.decode(props).exists(_.col == name),
            s"graftlake: cannot drop partition column $name")
          require(schema.length > 1, "graftlake: cannot drop the last column")
          schema = StructType(schema.fields.patch(i, Nil, 1))
          ids = ids.patch(i, Nil, 1)
        case upd: TableChange.UpdateColumnType =>
          require(upd.fieldNames.length == 1,
            "graftlake: nested columns not supported")
          val name = upd.fieldNames.head
          val i = schema.fieldIndex(name)
          val from = schema.fields(i).dataType
          require(from == IntegerType && upd.newDataType == LongType,
            s"graftlake: only INT -> BIGINT widening supported, got " +
              s"${from.simpleString} -> ${upd.newDataType.simpleString}")
          // ids unchanged; files written before keep their recorded
          // INT type and upcast at read
          schema = StructType(
            schema.fields.updated(i, schema.fields(i).copy(dataType = LongType)))
        case set: TableChange.SetProperty =>
          require(!LakeTable.ReservedProps(set.property) &&
            !set.property.startsWith("txn.") &&
            !set.property.startsWith("qe.") &&
            !set.property.startsWith(LakeConstraints.Prefix),
            s"graftlake: property ${set.property} is format-internal")
          validateProps(schema, Map(set.property -> set.value))
          props = props + (set.property -> set.value)
        case rm: TableChange.RemoveProperty =>
          require(!LakeTable.ReservedProps(rm.property) &&
            !rm.property.startsWith("txn.") &&
            !rm.property.startsWith("qe.") &&
            !rm.property.startsWith(LakeConstraints.Prefix),
            s"graftlake: property ${rm.property} is format-internal")
          props = props - rm.property
        case upd: TableChange.UpdateColumnDefaultValue =>
          require(upd.fieldNames.length == 1,
            "graftlake: nested columns not supported")
          val name = upd.fieldNames.head
          val i = schema.fieldIndex(name)
          val f = schema.fields(i)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          // CURRENT_DEFAULT governs future INSERTs only; EXISTS_DEFAULT
          // (pre-existing rows) is untouched — SET DEFAULT never
          // rewrites history
          val sql = Option(upd.newDefaultValue()).map(_.trim).filter(_.nonEmpty)
          sql match {
            case Some(s) => mb.putString("CURRENT_DEFAULT", s)
            case None => mb.remove("CURRENT_DEFAULT")
          }
          schema = StructType(schema.fields.updated(i,
            f.copy(metadata = mb.build())))
        case add: TableChange.AddConstraint =>
          val (k, v) = LakeConstraints.encode(add.constraint())
          require(!props.contains(k),
            s"graftlake: constraint ${add.constraint().name()} already exists")
          // an ENFORCED check added over EXISTING rows must hold for
          // them too — writes only guard rows from here on (Spark's
          // analyzer enforces via Table.constraints on every write)
          add.constraint() match {
            case c: org.apache.spark.sql.connector.catalog.constraints.Check
                if c.enforced() =>
              val spark = org.apache.spark.sql.SparkSession.active
              val fqn = s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}"
              // validate against the TRUE head (the version this commit
              // builds on), not the default view: an active WAP 'main'
              // pin freezes spark.table(fqn) at the pinned version, and
              // staged-but-unpublished rows would dodge validation —
              // publish would then expose rows violating a constraint
              // reported as enforced
              val violating = spark.sql(
                s"SELECT 1 FROM $fqn VERSION AS OF ${cur.version} " +
                  s"WHERE NOT ((${c.predicateSql()}) <=> true) LIMIT 1").count()
              require(violating == 0L,
                s"graftlake: cannot add enforced constraint ${c.name()}: " +
                  s"existing rows violate CHECK (${c.predicateSql()})")
            case _ => ()
          }
          props = props + (k -> v)
        case drop: TableChange.DropConstraint =>
          val k = LakeConstraints.prop(drop.name())
          if (!props.contains(k) && !drop.ifExists())
            throw new IllegalArgumentException(
              s"graftlake: no constraint named ${drop.name()}")
          props = props - k
        case other => throw new UnsupportedOperationException(
          s"graftlake: unsupported ALTER TABLE change $other")
      }
      props = props + ("colids" -> ids.mkString(",")) +
        ("maxcolid" -> maxId.toString)
      result = LakeSnapshot(cur.version + 1, schema, cur.files, props)
      Some(LakeLog.Replace(result))
    }
    new LakeTable(dir, result, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!Files.isDirectory(dir)) false
    else {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graftlake: RENAME TABLE not supported")

  // -- FunctionCatalog face: Spark resolves a reported bucket(n, col)
  // partitioning by loading "bucket" (empty namespace) from the
  // TABLE's catalog; exposing it here is what lets bucket-partitioned
  // tables storage-partition-join shuffle-free --
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"),
      Identifier.of(Array.empty, "trunc"))
    else Array.empty
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket") LakeBucketUnbound
    else if (ident.namespace.isEmpty && ident.name == "trunc") LakeTruncUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // -- minimal namespace support (directories under the warehouse) --
  override def listNamespaces(): Array[Array[String]] =
    Files.list(warehouse).iterator().asScala.filter(Files.isDirectory(_))
      .filter(p => !Files.isDirectory(p.resolve("_log")))
      .map(p => Array(p.getFileName.toString)).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(namespace.foldLeft(warehouse)(_.resolve(_)))
  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
  override def createNamespace(
      namespace: Array[String], metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(namespace.foldLeft(warehouse)(_.resolve(_)))
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graftlake: ALTER NAMESPACE not supported")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = namespace.foldLeft(warehouse)(_.resolve(_))
    if (!Files.isDirectory(dir)) false
    else if (!cascade && Files.list(dir).iterator().asScala.nonEmpty) false
    else {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      true
    }
  }

  // -- persistent SQL VIEWS ([[ViewCatalog]]): definitions stored as
  //    JSON under <ns>/_views/<name>.json — CREATE/DROP/RENAME/SHOW
  //    VIEW against this catalog, resolved + inlined by the analyzer --
  private def viewFile(ident: Identifier): Path =
    ident.namespace().foldLeft(warehouse)(_.resolve(_))
      .resolve("_views").resolve(ident.name() + ".json")

  private val viewMapper = new ObjectMapper()

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = namespace.foldLeft(warehouse)(_.resolve(_)).resolve("_views")
    if (!Files.isDirectory(dir)) Array.empty
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => Identifier.of(namespace.toArray,
        p.getFileName.toString.stripSuffix(".json"))).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    Files.isRegularFile(viewFile(ident))

  override def loadView(ident: Identifier): View = {
    val f = viewFile(ident)
    if (!Files.isRegularFile(f))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val root = viewMapper.readTree(Files.readAllBytes(f))
    def arr(k: String): Array[String] =
      root.get(k).elements().asScala.map(_.asText()).toArray
    new View {
      override def name(): String = ident.name()
      override def query(): String = root.get("sql").asText()
      override def currentCatalog(): String = root.get("currentCatalog").asText()
      override def currentNamespace(): Array[String] = arr("currentNamespace")
      override def schema(): StructType =
        DataType.fromJson(root.get("schema").asText()).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = arr("columnComments")
      override def properties(): java.util.Map[String, String] = {
        val m = new java.util.HashMap[String, String]()
        root.get("props").properties().asScala
          .foreach(e => m.put(e.getKey, e.getValue.asText()))
        m
      }
    }
  }

  override def createView(info: ViewInfo): View = {
    val f = viewFile(info.ident())
    if (Files.isRegularFile(f))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident())
    Files.createDirectories(f.getParent)
    val root = viewMapper.createObjectNode()
    root.put("sql", info.sql())
    root.put("currentCatalog", info.currentCatalog())
    root.put("schema", info.schema().json)
    def put(k: String, vs: Array[String]): Unit = {
      val a = root.putArray(k); vs.foreach(a.add)
    }
    put("currentNamespace", info.currentNamespace())
    put("queryColumnNames", info.queryColumnNames())
    put("columnAliases", Option(info.columnAliases()).getOrElse(Array.empty))
    put("columnComments", Option(info.columnComments()).getOrElse(Array.empty))
    val pr = root.putObject("props")
    info.properties().asScala.foreach { case (k, v) => pr.put(k, v) }
    Files.write(f, viewMapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException("graftlake: ALTER VIEW not supported")

  override def dropView(ident: Identifier): Boolean =
    Files.deleteIfExists(viewFile(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    Files.createDirectories(viewFile(newIdent).getParent)
    Files.move(viewFile(oldIdent), viewFile(newIdent))
  }

  // -- stored procedures: CALL <cat>.system.{compact,vacuum,history} --
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      LakeProcedures.Names.map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")) &&
      LakeProcedures.Names.contains(ident.name),
      s"graftlake: unknown procedure $ident (have system.{${LakeProcedures.Names.mkString(",")}})")
    LakeProcedures.load(ident.name, catName, warehouse)
  }
}

/** One data file's log entry: path relative to the table dir, row count,
  * per-integral-column min/max plus per-column NULL counts off the
  * parquet footer (the stats metadata deletes and file skipping decide
  * on — a column absent from `nulls` has UNKNOWN null count and every
  * all-match decision on it degrades to Mixed), and — for files
  * written by a STREAMING epoch — the (query, epoch) pair, so a
  * replayed epoch replaces exactly its own query's files (the
  * idempotent-commit half of streaming exactly-once; epoch ids restart
  * at 0 per checkpoint, so the epoch alone must never be the key).
  */
case class LakeFile(path: String, rows: Long, stats: Map[String, (Long, Long)],
    epoch: Option[Long] = None, dv: Option[String] = None, dvRows: Long = 0L,
    nulls: Map[String, Long] = Map.empty, query: Option[String] = None,
    cols: Seq[(String, Long)] = Seq.empty,
    part: Seq[Option[String]] = Seq.empty,
    colTypes: Seq[String] = Seq.empty,
    specId: Int = 0,
    bytes: Long = 0L,
    // the sort layout the WRITE enforced (empty when none was — MOR
    // delta inserts, curve rewrites, pre-field logs): what lets the
    // scan report a per-partition output ordering only for files that
    // provably carry it
    sorted: Seq[String] = Seq.empty,
    // per-integral-column SUMS accumulated by the writer (wrapping
    // Long adds — bit-identical to Spark's non-ANSI sum), keyed by
    // write-time physical name like `stats`/`nulls`
    sums: Map[String, Long] = Map.empty,
    // INLINE bloom bitsets (base64 of a fixed-size block-split bloom
    // the writer fed row-by-row), keyed by write-time physical name —
    // the `bloom_inline` small-table path (and pre-sidecar entries):
    // point lookups probe at PLAN time with zero IO, at ~11 KB of log
    // per column per file. Base64 string, not Array[Byte]: LakeFile
    // equality drives commit delta diffing, and array equality is by
    // reference
    blooms: Map[String, String] = Map.empty,
    // per integral/string column KMV sketch (k smallest distinct
    // xxHash64 values, unsigned ascending; strings hash their UTF-8
    // bytes), keyed by write-time physical name: merged at PLAN time
    // into a table-level distinctCount for the CBO — join-size
    // estimation min/max alone cannot give. Serialized PACKED
    // ("kmvb": base64 big-endian longs, ~684 B at k=64; legacy
    // decimal arrays still parse)
    kmv: Map[String, Seq[Long]] = Map.empty,
    // bloom SIDECAR column order (write-time physical names): the
    // file's bitsets live in `<path>.bloom` at fixed 8 KB slots in
    // this order, loaded LAZILY at probe time and only for candidates
    // that survive stats skipping — a bloomBy log entry stays ~30
    // bytes instead of ~11 KB of base64 per column (the inline
    // `blooms` path remains for small tables via `bloom_inline`)
    bloomSc: Seq[String] = Seq.empty,
    // per-STRING-column [min,max] off the parquet footer, unsigned
    // UTF-8 byte order (parquet's stats comparator = UTF8String
    // .compareTo): what lets seg/category predicates skip files the
    // way integral ranges always could — most real predicates at
    // 100 TB are on strings
    sstats: Map[String, (String, String)] = Map.empty,
    // DATA-BIRTH commit version, stamped by [[LakeLog.commit]] on first
    // publication and preserved verbatim when an entry is re-added with
    // a moved delete vector: what scopes EQUALITY deletes ("applies to
    // files strictly older than me"). 0 = legacy entry (older than any
    // equality delete by definition, so it stays in scope — sound)
    seq: Long = 0L) {
  /** Rows the file contributes after its delete vector (EQUALITY
    * deletes are NOT subtracted — their per-file hit count is
    * unknowable without reading; every census consumer gates on the
    * snapshot's live equality-delete set instead).
    */
  def liveRows: Long = rows - dvRows
}

/** One EQUALITY-DELETE record: rows whose key column (by STABLE id,
  * rename-proof) holds a value in the sidecar's set are deleted from
  * every data file whose `seq` is strictly below this record's. The
  * WRITE never reads or touches data files — a keyed CDC upsert
  * commits its insert files plus one of these in a single version —
  * and readers anti-join at decode time: merge-on-read half two
  * (positional dvs serve scanned mutations, equality records serve
  * scan-free ones). Values live in a dv-style sidecar (`ref`; `n`
  * values of `kind` long|string); compaction rewrites files clean and
  * [[LakeLog.commit]] auto-drops every record no remaining live file
  * predates. Iceberg's equality-delete design re-derived at
  * single-column scope.
  */
case class LakeEqDelete(seq: Long, colId: Long, ref: String, n: Long,
    kind: String,
    // COMPOSITE key records (`upsert_key = 'k1,k2'`): the ordered
    // (stable col id, long|string) components; `kind` is then "tuple"
    // and the sidecar stores whole key tuples. Empty = single-column
    // record keyed by `colId`/`kind` (the wire-compatible common case).
    cols: Seq[(Long, String)] = Seq.empty) {
  /** The record's key column ids, arity-agnostic. */
  def keyIds: Seq[Long] = if (cols.nonEmpty) cols.map(_._1) else Seq(colId)
}

/** Equality-delete sidecar IO (dv-style binary files under data/). */
object LakeEq {

  /** The equality-delete record of ONE keyed write batch: the distinct
    * keys across the batch's [[LakeFileMessage]]s, sidecar written here
    * (exactly once, before any commit retry loop). `ucs` = (name,
    * stable col id, long|string) per `upsert_key` component. With
    * `uniqueGuard` (the canonical-MERGE routes) any duplicate source
    * key fails the write BEFORE the commit — the scan-free plan cannot
    * run SQL MERGE's target-side cardinality check, so it is stricter.
    */
  def recordOf(tableDir: Path, ucs: Seq[(String, Long, String)],
      ms: Array[LakeFileMessage], uniqueGuard: Boolean): Seq[LakeEqDelete] = {
    if (uniqueGuard) {
      val keyedRows = ms.map(_.upKeyRows).sum
      val distinctKeys =
        if (ucs.length > 1) ms.flatMap(_.upTuples).distinct.length.toLong
        else ms.flatMap(_.upLongs).distinct.length.toLong +
          ms.flatMap(_.upStrs).distinct.length.toLong
      if (keyedRows != distinctKeys)
        throw new IllegalStateException(
          s"graftlake: MERGE routed as a keyed upsert found duplicate source " +
            s"keys ($keyedRows keyed rows, $distinctKeys distinct keys) — " +
            "deduplicate the source, or use a non-canonical MERGE shape to " +
            "keep SQL MERGE's positional plan")
    }
    if (ucs.length > 1) {
      val tuples = ms.flatMap(_.upTuples).distinct.sortBy(LakeEq.encodeTuple)
      if (tuples.isEmpty) Seq.empty
      else Seq(LakeEqDelete(0L, ucs.head._2,
        LakeEq.writeTuples(tableDir, tuples, ucs.map(_._3)),
        tuples.length.toLong, "tuple", cols = ucs.map(c => (c._2, c._3))))
    } else {
      val (_, id, kind) = ucs.head
      if (kind == "long") {
        val vals = ms.flatMap(_.upLongs).distinct.sorted
        if (vals.isEmpty) Seq.empty
        else Seq(LakeEqDelete(0L, id,
          LakeEq.writeLongs(tableDir, vals), vals.length.toLong, kind))
      } else {
        val vals = ms.flatMap(_.upStrs).distinct.sorted
        if (vals.isEmpty) Seq.empty
        else Seq(LakeEqDelete(0L, id,
          LakeEq.writeStrs(tableDir, vals), vals.length.toLong, kind))
      }
    }
  }

  def writeLongs(tableDir: Path, vals: Array[Long]): String = {
    val rel = s"data/eq-${java.util.UUID.randomUUID().toString.replace("-", "")}.bin"
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * vals.length)
    bb.putInt(vals.length)
    vals.foreach(bb.putLong)
    Files.write(tableDir.resolve(rel), bb.array())
    rel
  }

  def readLongs(tableDir: Path, rel: String): Array[Long] = {
    val bytes = Files.readAllBytes(tableDir.resolve(rel))
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    require(bytes.length == 4 + 8 * n, s"corrupt equality-delete sidecar $rel")
    Array.fill(n)(bb.getLong)
  }

  def writeStrs(tableDir: Path, vals: Array[String]): String = {
    val rel = s"data/eq-${java.util.UUID.randomUUID().toString.replace("-", "")}.bin"
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeInt(vals.length)
    vals.foreach { v =>
      val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      d.writeInt(b.length); d.write(b)
    }
    Files.write(tableDir.resolve(rel), out.toByteArray)
    rel
  }

  def readStrs(tableDir: Path, rel: String): Array[String] = {
    val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(
      Files.readAllBytes(tableDir.resolve(rel))))
    Array.fill(d.readInt()) {
      val b = new Array[Byte](d.readInt()); d.readFully(b)
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** COMPOSITE-key sidecars: whole key tuples, components typed by the
    * record's ordered `kinds` (long|string). Layout: row count, then
    * per row per component 8 raw bytes (long) or length-prefixed UTF-8
    * (string).
    */
  def writeTuples(tableDir: Path, rows: Seq[Seq[Any]],
      kinds: Seq[String]): String = {
    val rel = s"data/eq-${java.util.UUID.randomUUID().toString.replace("-", "")}.bin"
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeInt(rows.length)
    rows.foreach { r =>
      require(r.length == kinds.length, "tuple arity mismatch")
      r.zip(kinds).foreach {
        case (v: Long, "long") => d.writeLong(v)
        case (v: String, "string") =>
          val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          d.writeInt(b.length); d.write(b)
        case (v, k) => throw new IllegalArgumentException(
          s"graftlake: tuple component $v does not match kind $k")
      }
    }
    Files.write(tableDir.resolve(rel), out.toByteArray)
    rel
  }

  def readTuples(tableDir: Path, rel: String,
      kinds: Seq[String]): Seq[Seq[Any]] = {
    val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(
      Files.readAllBytes(tableDir.resolve(rel))))
    Seq.fill(d.readInt()) {
      kinds.map {
        case "long" => d.readLong(): Any
        case _ =>
          val b = new Array[Byte](d.readInt()); d.readFully(b)
          new String(b, java.nio.charset.StandardCharsets.UTF_8): Any
      }
    }
  }

  /** Canonical self-delimiting tuple encoding shared by the sidecar
    * side and the per-row decode side: `L<long>` / `S<len>:<str>`
    * concatenated — a long never starts with 'L'/'S', a string always
    * knows its length, so encodings collide iff tuples are equal.
    */
  def encodeTuple(parts: Seq[Any]): String = {
    val sb = new java.lang.StringBuilder()
    parts.foreach(appendComponent(sb, _))
    sb.toString
  }

  /** An integral key column's value as a long (INT widens). */
  def keyLong(row: InternalRow, idx: Int, dt: DataType): Long =
    if (dt == IntegerType) row.getInt(idx).toLong else row.getLong(idx)

  /** Append one component's encoding — the per-row decode side calls
    * this with the values it reads, so both sides share one format.
    */
  def appendComponent(sb: java.lang.StringBuilder, part: Any): Unit = part match {
    case l: Long => sb.append('L').append(l)
    case s: String => sb.append('S').append(s.length).append(':').append(s)
    case other => throw new IllegalArgumentException(
      s"graftlake: unencodable tuple component $other")
  }
}

/** Compiled membership probe for ONE composite record's key-tuple set.
  * ALL-LONG tuples (every component kind `long`) probe a
  * lexicographically sorted row-major `Array[Long]` matrix via a
  * stride-`arity` binary search — zero per-row allocation, so a
  * composite-key MOR scan's hot batch loop pays primitive compares
  * like the single-column path. Tuples with any string component keep
  * the canonical [[LakeEq.encodeTuple]] HashSet (self-delimiting, so
  * encodings collide iff tuples are equal). Built once per task
  * reader and probed through [[matches]]; its component buffer is
  * reused across rows (readers are single-threaded by contract).
  */
final class LakeTupleProbe(tuples: Seq[Seq[Any]]) {
  private val arity: Int = if (tuples.isEmpty) 0 else tuples.head.size
  private val allLong: Boolean = tuples.forall(_.forall(_.isInstanceOf[Long]))
  private val buf: Array[Long] = if (allLong) new Array[Long](arity) else null
  private val mat: Array[Long] =
    if (!allLong) null
    else {
      val rows = tuples.map(_.map(_.asInstanceOf[Long]).toArray).toArray
      java.util.Arrays.sort(rows, (a: Array[Long], b: Array[Long]) => {
        var j = 0
        var c = 0
        while (j < a.length && c == 0) {
          c = java.lang.Long.compare(a(j), b(j))
          j += 1
        }
        c
      })
      val m = new Array[Long](rows.length * arity)
      var i = 0
      while (i < rows.length) {
        System.arraycopy(rows(i), 0, m, i * arity, arity)
        i += 1
      }
      m
    }
  private val set: java.util.HashSet[String] =
    if (allLong) null
    else {
      val s = new java.util.HashSet[String]()
      tuples.foreach(t => s.add(LakeEq.encodeTuple(t)))
      s
    }

  /** Does `row`'s key tuple — the columns at `idxs`, read as `dts` —
    * belong to the set? A null component never matches (SQL IN). The
    * all-long path decodes into the reusable buffer and binary-searches
    * the matrix, allocating nothing per row.
    */
  def matches(row: InternalRow, idxs: Array[Int], dts: Array[DataType]): Boolean = {
    val sb = if (allLong) null else new java.lang.StringBuilder()
    var j = 0
    while (j < idxs.length) {
      val idx = idxs(j)
      if (row.isNullAt(idx)) return false
      if (allLong) buf(j) = LakeEq.keyLong(row, idx, dts(j))
      else LakeEq.appendComponent(sb, dts(j) match {
        case IntegerType | LongType => LakeEq.keyLong(row, idx, dts(j))
        case _ => row.getUTF8String(idx).toString
      })
      j += 1
    }
    if (allLong) containsLongs() else set.contains(sb.toString)
  }

  /** All-long path: does the sorted matrix contain `buf`'s tuple? */
  private def containsLongs(): Boolean = {
    var lo = 0
    var hi = mat.length / arity - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      var j = 0
      var c = 0
      while (j < arity && c == 0) {
        c = java.lang.Long.compare(mat(mid * arity + j), buf(j))
        j += 1
      }
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }
}

/** Stable FIELD IDS — the column-mapping layer under `ALTER TABLE`.
  *
  * Every table column gets an id at creation (`colids` in the table
  * properties, parallel to the schema fields; `maxcolid` is the
  * allocator high-water mark, never reused). Each data file's log
  * entry records `(physical column name, id)` pairs as of its write.
  * Renames touch ONLY the current schema/props — old files keep their
  * write-time physical names and resolve through the id; drops remove
  * the id from the schema — old files' column bytes become dead;
  * adds allocate a fresh id — files written before it resolve to
  * nothing and read as NULL (and their stats decide `IS NULL` as
  * all-match / value predicates as none-match, since every value is
  * null). Exactly Iceberg's field-id design re-derived, minus nested
  * types.
  */
object LakeColIds {
  def ids(schema: StructType, props: Map[String, String]): Seq[Long] =
    props.get("colids")
      .map(_.split(',').iterator.filter(_.nonEmpty).map(_.toLong).toSeq)
      .getOrElse((1 to schema.length).map(_.toLong))

  /** (column name, id) for the CURRENT schema. */
  def cols(schema: StructType, props: Map[String, String]): Seq[(String, Long)] =
    schema.fieldNames.toSeq.zip(ids(schema, props))

  /** The PHYSICAL name of current column `tableCol` inside file `f`:
    * None when the file predates the column (read as NULL). Entries
    * without a recorded mapping (log-level tests) resolve by name.
    */
  def physicalName(current: Seq[(String, Long)], f: LakeFile,
      tableCol: String): Option[String] =
    if (f.cols.isEmpty) Some(tableCol)
    else current.find(_._1 == tableCol).map(_._2)
      .flatMap(id => f.cols.find(_._2 == id).map(_._1))

  /** Creation-time property block for a fresh schema. */
  def freshProps(schema: StructType): Map[String, String] = Map(
    "colids" -> (1 to schema.length).mkString(","),
    "maxcolid" -> schema.length.toString)

  /** Write-time column types (simpleString), parallel to the schema —
    * recorded per file so a later TYPE WIDENING knows which files need
    * an upcast at read.
    */
  def types(schema: StructType): Seq[String] =
    schema.fields.toSeq.map(_.dataType.simpleString)

  /** For each wanted CURRENT column present in file `f` with a
    * DIFFERENT recorded write-time type: current name -> file type.
    * Files without recorded types (pre-widening era never happened,
    * or log-level tests) report no mismatches.
    */
  def fileTypes(current: Seq[(String, Long)], f: LakeFile,
      wanted: Seq[StructField]): Map[String, String] =
    if (f.colTypes.isEmpty) Map.empty
    else wanted.iterator.flatMap { fd =>
      physicalName(current, f, fd.name).flatMap { pn =>
        val i = f.cols.indexWhere(_._1 == pn)
        if (i >= 0 && i < f.colTypes.length &&
            f.colTypes(i) != fd.dataType.simpleString)
          Some(fd.name -> f.colTypes(i))
        else None
      }
    }.toMap
}

/** One committed table version: the schema + the COMPLETE live file
  * list, reconstructed by [[LakeLog]] from the delta log. File order is
  * append-order for unchanged entries; entries MODIFIED by a commit
  * (dv moves) re-append — order carries no semantics. `files` may be a
  * [[LakePartedFiles]] — a LAZY view over a multi-part checkpoint that
  * scan planning prunes by the manifest's per-part ranges; any plain
  * Seq access materializes it in full.
  */
case class LakeSnapshot(version: Long, schema: StructType, files: Seq[LakeFile],
    props: Map[String, String] = Map.empty,
    // live EQUALITY-DELETE records as of this version. READ-side only:
    // [[LakeLog.commit]] derives the persisted set from the PARENT
    // version (plus its explicit eqAdd/eqBase channel) and auto-prunes,
    // so no snapshot-construction site can accidentally drop records —
    // an ALTER or ref operation that rebuilt a snapshot by hand would
    // otherwise silently resurrect deleted rows.
    eqdels: Seq[LakeEqDelete] = Seq.empty) {
  /** The successor snapshot: version+1, same schema/properties, new files. */
  def next(newFiles: Seq[LakeFile]): LakeSnapshot =
    LakeSnapshot(version + 1, schema, newFiles, props, eqdels)
}

/** Manifest-recorded index of ONE checkpoint part: entry count,
  * per-identity-partition-column distinct VALUE sets (by stable column
  * id; present only when every entry in the part carries the value,
  * capped — sound membership pruning for `=`/`IN`), lexicographic
  * [min,max] of those values (the over-cap fallback), and integral
  * stats ranges folded across the part's entries (present only when
  * every entry records stats for the column). Checkpoint entries are
  * SORTED by partition tuple, so the per-part ranges are tight.
  */
case class LakeCpPart(part: Int, n: Int,
    pv: Map[Long, Seq[String]],
    pr: Map[Long, (String, String)],
    cr: Map[Long, (Long, Long)],
    // LIVE rows (dv-subtracted at checkpoint time) across the part's
    // entries: an unfiltered COUNT(*) answers from the manifest alone
    // when no post-checkpoint commit removed or changed entries
    liveRows: Long = -1L,
    // STRING stats ranges (UTF-8 byte order) folded across the part's
    // entries — the string twin of `cr`
    sr: Map[Long, (String, String)] = Map.empty,
    // MANIFEST AGGREGATE CENSUS: per-column folded SUMS (wrapping adds,
    // same arithmetic as the parsed path) and NULL COUNTS, recorded
    // only when the part is DV-FREE (`df`) and every entry covers the
    // column — an unfiltered SUM/COUNT(col)/AVG/MIN/MAX (grouped by a
    // tuple-pure column or global) then answers from the manifest
    // alone: zero part parses on a 10^8-file table
    sm: Map[Long, Long] = Map.empty,
    nc: Map[Long, Long] = Map.empty,
    df: Boolean = false,
    // pure TRANSFORM tuple components (trunc/bucket ordinals, by the
    // SOURCE column's stable id; present only when every entry shares
    // one value) — what lets a time-bucket table's synthetic tuples
    // stay exact, extending the census to the streaming-ingest layout
    tv: Map[Long, String] = Map.empty,
    // INCREMENTAL-CHECKPOINT reuse index: the part's partition-tuple
    // SORT-KEY range (entries sort by tuple before splitting, so this
    // bounds where a post-checkpoint add can land) and a bloom over the
    // part's entry PATHS (a kill that probes negative provably left the
    // part untouched; a false positive merely rewrites it). None/empty
    // on pre-reuse manifests — those checkpoints never reuse.
    kr: Option[(String, String)] = None,
    pb: Seq[Long] = Seq.empty,
    // per-part folded KMV sketches (k-smallest of the entries' union —
    // k-smallest is associative, so folding parts is lattice-equal to
    // folding files): `__stats` NDV / CBO distinctCount answer from the
    // manifest with zero part parses. Recorded per column only when
    // every entry either carries a sketch or provably predates the
    // column (contributing zero distinct values), mirroring the
    // per-file fold's coverage rule exactly.
    kv: Map[Long, Seq[Long]] = Map.empty)

/** The LAZY file list of a multi-part checkpoint (+ the delta chain
  * folded on top as in-memory `adds` and a `kills` path set): scan
  * planning calls [[matching]] with the pushed predicates and parses
  * ONLY the checkpoint parts whose manifest ranges intersect — driver
  * work O(relevant parts), not O(files). Every plain Seq access
  * (writes, vacuum, metadata censuses) materializes the whole list,
  * exactly what those paths need anyway.
  */
final class LakePartedFiles(dir: Path, private[sources] val version: Long,
    parts: Seq[LakeCpPart], adds: Seq[LakeFile], kills: Set[String],
    snapVersion: Long = -1L)
  extends scala.collection.immutable.AbstractSeq[LakeFile] {

  /** The snapshot version this list serves (checkpoint + delta fold). */
  private val snapV: Long = if (snapVersion < 0L) version else snapVersion

  private def loadPart(p: Int): Seq[LakeFile] =
    LakeLog.checkpointPartEntries(dir, version, p)
      .filterNot(f => kills(f.path))

  /** Lazy part parsing opens a window a racing vacuum can fall into: it
    * prunes this checkpoint's part files AFTER we loaded the manifest
    * but BEFORE a scan materialized the parts. The snapshot version is
    * still reconstructible — vacuum wrote a NEWER floor checkpoint
    * before pruning — so refold ONCE from a fresh log listing; only a
    * genuinely broken chain (version below the new floor) still throws.
    */
  private def missingPart(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists {
      case ise: IllegalStateException =>
        Option(ise.getMessage).exists(_.contains("missing part"))
      case _ => false
    }

  private def refoldOrRethrow(e: Throwable): Seq[LakeFile] =
    LakeLog.snapshotAt(dir, snapV).map(_.files) match {
      case Some(pf: LakePartedFiles) if pf.version != version =>
        pf.all // strict: a second miss means real damage — throw there
      case Some(fs) if !fs.isInstanceOf[LakePartedFiles] => fs
      case _ => throw e
    }

  /** The full list — parts parse in parallel, once, on first use. */
  lazy val all: Seq[LakeFile] = {
    import scala.collection.parallel.CollectionConverters._
    try parts.map(_.part).par.map(loadPart).seq.flatten ++ adds
    catch {
      case scala.util.control.NonFatal(e) if missingPart(e) =>
        refoldOrRethrow(e)
    }
  }

  override def iterator: Iterator[LakeFile] = all.iterator
  override def apply(i: Int): LakeFile = all(i)
  override def length: Int = all.length

  /** Same checkpoint, the delta fold applied on top (serving `snapV2`). */
  def withDeltas(adds2: Seq[LakeFile], kills2: Set[String],
      snapV2: Long): LakePartedFiles =
    new LakePartedFiles(dir, version, parts, adds2, kills2, snapV2)

  /** Display-grade total (exact except for files both added AND
    * removed since the checkpoint): never forces materialization.
    */
  def totalApprox: Int = parts.map(_.n).sum + adds.size - kills.size

  /** EXACT live row count with zero part parses, when knowable: the
    * manifest's per-part live totals + the in-memory adds — valid
    * only while NO post-checkpoint commit removed or superseded a
    * checkpointed entry (the kill set would subtract unknown counts).
    * None = a part predates the field, or kills exist: parse instead.
    */
  def manifestLiveRows: Option[Long] =
    if (kills.nonEmpty || parts.exists(_.liveRows < 0L)) None
    else Some(parts.map(_.liveRows).sum + adds.map(_.liveRows).sum)

  /** SYNTHETIC per-part files for the metadata-aggregate evaluator:
    * each checkpoint part collapses to ONE LakeFile carrying the
    * manifest's folded census (cr/sr as stats/sstats, `sm` as sums,
    * `nc` as null counts — re-keyed to CURRENT column names via
    * `cols`), so the SAME per-file aggregate rules answer from
    * |parts| manifest rows with ZERO part parses: the date-partitioned
    * daily revenue census on a 10^8-file table reads the manifest.
    * Requirements: empty kill set, live totals recorded, and every
    * part TUPLE-PURE at the grouped spec positions `gidx` (pv holds
    * one value) — else None, the parsed path serves. A non-dv-free
    * part carries a SENTINEL dv row so extrema/sums/avg refuse on it
    * exactly like a dv'd file (its count(*) stays exact — liveRows
    * was dv-subtracted at checkpoint time). In-memory adds ride along
    * as themselves.
    */
  def synthetic(cols: Seq[(String, Long)], posIds: Seq[Option[Long]],
      gidx: Seq[Int], curId: Int,
      tvIds: Seq[Option[Long]] = Seq.empty): Option[Seq[LakeFile]] = {
    if (kills.nonEmpty || parts.exists(_.liveRows < 0L)) return None
    val names: Map[Long, String] = cols.map(_.swap).toMap
    def named[T](m: Map[Long, T]): Map[String, T] =
      m.flatMap { case (id, v) => names.get(id).map(_ -> v) }
    val partFiles = parts.map { pm =>
      val tuple: Seq[Option[String]] = posIds.zipWithIndex.map {
        case (idOpt, i) =>
          idOpt.flatMap(id => pm.pv.get(id) match {
            case Some(Seq(v)) => Some(v) // pure across every entry
            case _ => None
          }).orElse(
            // transform positions: the manifest's pure ordinal (only
            // recorded under the CURRENT spec's exact transform)
            tvIds.lift(i).flatten.flatMap(pm.tv.get))
      }
      if (!gidx.forall(i => tuple.lift(i).flatten.isDefined))
        return None // impure at a grouped position — parse instead
      LakeFile(
        path = s"__part${pm.part}",
        rows = if (pm.df) pm.liveRows else pm.liveRows + 1L,
        stats = named(pm.cr),
        dvRows = if (pm.df) 0L else 1L, // sentinel: refuse extrema/sums
        nulls = named(pm.nc),
        cols = cols,
        part = tuple,
        specId = curId,
        sums = named(pm.sm),
        sstats = named(pm.sr))
    }
    Some(partFiles ++ adds)
  }

  /** EXACT live file count with zero part parses — only while nothing
    * was killed (a kill would subtract an unknowable member count).
    */
  def exactTotal: Option[Int] =
    if (kills.isEmpty) Some(parts.map(_.n).sum + adds.size) else None

  /** The `__stats` ESTIMATOR fold served from the MANIFEST + in-memory
    * adds with ZERO part parses: per schema field, (min/max, summed
    * null count, KMV NDV). Serves only when every part fully covers
    * every column's folds (cr for integral min/max, nc for nulls, kv
    * for sketchable NDV) — full coverage means the per-file path would
    * have had IDENTICAL inputs (the part folds are lattice-equal:
    * k-smallest of a union is associative, ranges and sums fold), so
    * the two paths can never disagree; anything weaker returns None
    * and coverage degrades to parsing, never to a different answer.
    * Post-checkpoint adds fold with the per-file consumer's exact
    * (more lenient) rules — they are already in memory.
    */
  def estimatorStats(schema: StructType, cols: Seq[(String, Long)])
      : Option[Seq[(String, Option[(Long, Long)], Option[Long], Option[Long])]] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    if (kills.nonEmpty || parts.isEmpty) return None
    val ids = cols.toMap
    val out = schema.fields.toSeq.map { fd =>
      val integral = fd.dataType == LongType || fd.dataType == IntegerType
      val sketchable = integral || fd.dataType == StringType
      val id = ids.getOrElse(fd.name, return None)
      if (integral && !parts.forall(_.cr.contains(id))) return None
      if (!parts.forall(_.nc.contains(id))) return None
      if (sketchable && !parts.forall(_.kv.contains(id))) return None
      val fold = new LakeColumnFold(fd)
      parts.foreach(pm => fold.addSummary(pm.cr.get(id), pm.nc(id), pm.kv.get(id)))
      adds.foreach(fold.addFile(cols, _))
      val (mm, nulls, ndv) = fold.result()
      (fd.name, mm, nulls, ndv)
    }
    Some(out)
  }

  /** TARGETED lookup: the live entries for `paths`, parsing only the
    * checkpoint parts whose PATH BLOOM (`pb`) admits one of them — a
    * negative probe proves the part never held the path (no false
    * negatives); an absent bloom (pre-reuse manifest) keeps the part.
    * Feed planning calls this with a commit delta's changed paths, so
    * narrating a dv transition on a 10⁸-file table parses O(changed ×
    * admitting parts), never the census. The newest entry per path
    * wins (post-checkpoint `adds` overlay the parts, mirroring the
    * snapshot fold's survivor rule).
    */
  def entriesFor(paths: Set[String]): Map[String, LakeFile] = {
    if (paths.isEmpty) return Map.empty
    val fromAdds = adds.filter(f => paths(f.path))
    val rest = paths -- fromAdds.iterator.map(_.path)
    val fromParts: Seq[LakeFile] =
      if (rest.isEmpty || parts.isEmpty) Seq.empty
      else {
        val cand = parts.filter(pm => pm.pb.isEmpty ||
          rest.exists(p => LakeLog.pathBloomContains(pm.pb, p)))
        import scala.collection.parallel.CollectionConverters._
        try cand.map(_.part).par.map(loadPart).seq.flatten.filter(f => rest(f.path))
        catch {
          case scala.util.control.NonFatal(e) if missingPart(e) =>
            refoldOrRethrow(e).filter(f => rest(f.path))
        }
      }
    // adds overlay LAST: a re-added path's newest entry wins
    (fromParts ++ fromAdds).map(f => f.path -> f).toMap
  }

  /** Entries that could match the pushed predicate set, parsing only
    * the checkpoint parts some predicate cannot rule out. Exactly the
    * stats-skipping contract at part granularity: may load a
    * non-matching part, never skips one holding a possible match.
    * Post-checkpoint `adds` ride along unpruned (they are already in
    * memory — per-file skipping handles them downstream).
    */
  def matching(preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate],
      schema: StructType, props: Map[String, String]): Seq[LakeFile] = {
    if (preds.isEmpty || parts.isEmpty) return all
    val ids: Map[String, Long] = LakeColIds.cols(schema, props).toMap
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Long] =
      e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames.length == 1 => ids.get(f.fieldNames.head)
        case _ => None
      }
    def litOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] => Option(l.value())
        case _ => None
      }
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Long => Some(n.longValue)
      case _ => None
    }
    def asUtf8(v: Any): Option[org.apache.spark.unsafe.types.UTF8String] = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u)
      case s: String => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case _ => None
    }
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    // may the part contain a row matching p? unknown shapes keep it
    def mayMatch(pm: LakeCpPart, p: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
      val kids = p.children()
      def values(): Option[(Long, Seq[Any])] = p.name() match {
        case "=" if kids.length == 2 =>
          for (c <- colOf(kids(0)); v <- litOf(kids(1))) yield c -> Seq(v)
        case "IN" if kids.nonEmpty =>
          colOf(kids.head).flatMap { c =>
            val vs = kids.tail.toSeq.map(litOf)
            if (vs.forall(_.isDefined)) Some(c -> vs.flatten) else None
          }
        case _ => None
      }
      values() match {
        case Some((id, vs)) =>
          val strs = vs.map(String.valueOf)
          // identity-partition membership: the recorded distinct set
          // decides exactly; over the cap the lexicographic range of
          // the SORTED tuples still bounds membership
          val pvOk = pm.pv.get(id).forall(set => strs.exists(set.contains))
          val prOk = pm.pr.get(id).forall { case (lo, hi) =>
            strs.exists(s => s.compareTo(lo) >= 0 && s.compareTo(hi) <= 0) }
          // stats ranges (integral AND string, data columns too)
          val crOk = pm.cr.get(id).forall { case (lo, hi) =>
            vs.flatMap(asLong).isEmpty || vs.flatMap(asLong).exists(v => v >= lo && v <= hi) }
          val srOk = pm.sr.get(id).forall { case (lo, hi) =>
            vs.flatMap(asUtf8).isEmpty || vs.flatMap(asUtf8).exists(v =>
              v.compareTo(u(lo)) >= 0 && v.compareTo(u(hi)) <= 0) }
          pvOk && prOk && crOk && srOk
        case None => p.name() match {
          case "<" | "<=" | ">" | ">=" if kids.length == 2 =>
            val intOk = (for (c <- colOf(kids(0));
                 v <- litOf(kids(1)).flatMap(asLong);
                 (lo, hi) <- pm.cr.get(c)) yield p.name() match {
              case "<" => lo < v
              case "<=" => lo <= v
              case ">" => hi > v
              case ">=" => hi >= v
            }).getOrElse(true)
            val strOk = (for (c <- colOf(kids(0));
                 v <- litOf(kids(1)).flatMap(asUtf8);
                 (lo, hi) <- pm.sr.get(c)) yield p.name() match {
              case "<" => u(lo).compareTo(v) < 0
              case "<=" => u(lo).compareTo(v) <= 0
              case ">" => u(hi).compareTo(v) > 0
              case ">=" => u(hi).compareTo(v) >= 0
            }).getOrElse(true)
            intOk && strOk
          case "STARTS_WITH" if kids.length == 2 =>
            // the prefix set is the byte range [v, succ(v)): the part
            // may hold a match only when its recorded ranges intersect
            (for (c <- colOf(kids(0));
                 v <- litOf(kids(1)).flatMap(asUtf8)) yield {
              val next = LakeStats.prefixSuccessor(v)
              // identity value set decides membership exactly
              val pvOk = pm.pv.get(c).forall(_.exists(s =>
                u(s).startsWith(v)))
              val srOk = pm.sr.get(c).forall { case (lo, hi) =>
                u(hi).compareTo(v) >= 0 &&
                  next.forall(n => u(lo).compareTo(n) < 0)
              }
              pvOk && srOk
            }).getOrElse(true)
          case _ => true
        }
      }
    }
    val keep = parts.filter(pm => preds.forall(p => mayMatch(pm, p)))
    if (keep.size == parts.size) all
    else {
      import scala.collection.parallel.CollectionConverters._
      try keep.map(_.part).par.map(loadPart).seq.flatten ++ adds
      catch {
        // recovery path is rare — serve the full refolded list and let
        // downstream per-file skipping re-prune
        case scala.util.control.NonFatal(e) if missingPart(e) =>
          refoldOrRethrow(e)
      }
    }
  }
}

/** Log IO + the optimistic commit protocol.
  *
  * Each committed version is a DELTA — the schema/props plus `add`
  * (new or changed file entries) and `remove` (dropped or superseded
  * paths) — so commit payload is O(changed files), not O(table files):
  * at millions of live files an append writes a few hundred bytes, not
  * a multi-megabyte snapshot. Every [[CheckpointInterval]]-th commit
  * also lands a CHECKPOINT, bounding any read to one checkpoint + at
  * most `CheckpointInterval` deltas — the Delta/Iceberg log shape. The
  * atomic create-if-absent publish (link(2)) is unchanged: exactly one
  * writer lands `v{N+1}`, losers re-read, revalidate, retry.
  * Checkpoints are pure read optimization (recomputable from deltas),
  * so their write is best-effort and idempotent.
  *
  * A checkpoint is MULTI-PART (manifest-style): byte-bounded part
  * files `c%08d.p%04d.json` each carrying a slice of the file entries,
  * plus an O(1) MANIFEST `c%08d.json` {version, schema, props, parts}
  * published LAST (the atomic commit point — parts without a manifest
  * are invisible). The part bound caps both a distributed-census
  * task's parse work (one shard reads exactly one part) and driver
  * snapshot-load latency (parts parse in parallel); at 10M files a
  * census task touches one ~16 MB part, never the whole GB-scale
  * checkpoint. Part split is deterministic from the snapshot, so a
  * losing concurrent checkpointer republishes identical content and
  * the create-if-absent publish stays idempotent.
  */
object LakeLog {
  private val mapper = new ObjectMapper()

  /** One checkpoint per this many commits. */
  val CheckpointInterval = 10

  /** Byte bound per checkpoint PART file (override per table with the
    * `checkpoint_part_bytes` property — specs use a small bound to
    * force multi-part splits at test scale).
    */
  val CheckpointPartBytesDefault: Long = 16L * 1024 * 1024

  private def logDir(dir: Path): Path = dir.resolve("_log")
  private def versionFile(dir: Path, v: Long): Path =
    logDir(dir).resolve(f"v$v%08d.json")
  private def checkpointFile(dir: Path, v: Long): Path =
    logDir(dir).resolve(f"c$v%08d.json")
  private def checkpointPartFile(dir: Path, v: Long, part: Int): Path =
    logDir(dir).resolve(f"c$v%08d.p$part%04d.json")

  private def listLog(dir: Path, prefix: String): Seq[Long] = {
    val ld = logDir(dir)
    if (!Files.isDirectory(ld)) Seq.empty
    else scala.util.Using.resource(Files.list(ld)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith(prefix) && s.endsWith(".json") =>
          s.stripPrefix(prefix).stripSuffix(".json") }
        // checkpoint PART files (c%08d.p%04d.json) share the prefix but
        // are not log versions — only all-digit names are
        .collect { case s if s.nonEmpty && s.forall(_.isDigit) => s.toLong }
        .toSeq
    }
  }

  def currentVersion(dir: Path): Option[Long] = listLog(dir, "v").maxOption

  def currentSnapshot(dir: Path): Option[LakeSnapshot] =
    currentVersion(dir).flatMap(snapshotAt(dir, _))

  // ---- file-entry (de)serialization, shared by deltas + checkpoints ----

  private def writeEntry(arr: ArrayNode, f: LakeFile): Unit =
    arr.add(entryNode(f))

  private def entryNode(f: LakeFile): ObjectNode = {
    val fn = mapper.createObjectNode()
    fn.put("path", f.path)
    fn.put("rows", f.rows)
    f.epoch.foreach(fn.put("epoch", _))
    f.query.foreach(fn.put("query", _))
    f.dv.foreach { d => fn.put("dv", d); fn.put("dvRows", f.dvRows) }
    val st = fn.putObject("stats")
    f.stats.foreach { case (c, (lo, hi)) =>
      val a = st.putArray(c); a.add(lo); a.add(hi)
    }
    val nu = fn.putObject("nulls")
    f.nulls.foreach { case (c, n) => nu.put(c, n) }
    if (f.cols.nonEmpty) {
      val co = fn.putArray("cols")
      f.cols.foreach { case (n, id) =>
        val pair = co.addArray(); pair.add(n); pair.add(id)
      }
    }
    if (f.colTypes.nonEmpty) {
      val ct = fn.putArray("ctypes")
      f.colTypes.foreach(ct.add)
    }
    if (f.part.nonEmpty) {
      val pa = fn.putArray("part")
      f.part.foreach {
        case Some(v) => pa.add(v)
        case None => pa.addNull()
      }
    }
    if (f.specId != 0) fn.put("pspec", f.specId)
    if (f.bytes != 0L) fn.put("bytes", f.bytes)
    if (f.sorted.nonEmpty) {
      val so = fn.putArray("sorted")
      f.sorted.foreach(so.add)
    }
    if (f.sums.nonEmpty) {
      val su = fn.putObject("sums")
      f.sums.foreach { case (c, v) => su.put(c, v) }
    }
    if (f.blooms.nonEmpty) {
      val bl = fn.putObject("blooms")
      f.blooms.foreach { case (c, b64) => bl.put(c, b64) }
    }
    if (f.kmv.nonEmpty) {
      // PACKED (base64 of big-endian longs): a k=64 sketch is 512
      // bytes → ~684 b64 chars vs ~1.3 KB as a JSON decimal array —
      // with blooms in sidecars, sketches were the next-largest log
      // cost per entry. An EMPTY sketch stays a present key with an
      // empty string (coverage-complete, zero distinct values).
      val km = fn.putObject("kmvb")
      f.kmv.foreach { case (c, hs) =>
        val bb = java.nio.ByteBuffer.allocate(hs.length * 8)
        hs.foreach(bb.putLong)
        km.put(c, java.util.Base64.getEncoder.encodeToString(bb.array()))
      }
    }
    if (f.bloomSc.nonEmpty) {
      val bs = fn.putArray("bsc")
      f.bloomSc.foreach(bs.add)
    }
    if (f.sstats.nonEmpty) {
      val ss = fn.putObject("sstats")
      f.sstats.foreach { case (c, (lo, hi)) =>
        val a = ss.putArray(c); a.add(lo); a.add(hi)
      }
    }
    if (f.seq != 0L) fn.put("seq", f.seq)
    fn
  }

  private def readEntries(root: JsonNode, field: String): Seq[LakeFile] =
    Option(root.get(field)).map(_.elements().asScala.map { fn =>
      val stats = fn.get("stats").properties().asScala
        .map(e => e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong))
        .toMap
      val nulls = Option(fn.get("nulls")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap).getOrElse(Map.empty[String, Long])
      val cols = Option(fn.get("cols")).map(_.elements().asScala
        .map(p => (p.get(0).asText(), p.get(1).asLong())).toSeq)
        .getOrElse(Seq.empty[(String, Long)])
      val part = Option(fn.get("part")).map(_.elements().asScala
        .map(v => if (v.isNull) None else Some(v.asText())).toSeq)
        .getOrElse(Seq.empty[Option[String]])
      val ctypes = Option(fn.get("ctypes")).map(_.elements().asScala
        .map(_.asText()).toSeq).getOrElse(Seq.empty[String])
      LakeFile(fn.get("path").asText(), fn.get("rows").asLong, stats,
        Option(fn.get("epoch")).map(_.asLong),
        Option(fn.get("dv")).map(_.asText()),
        Option(fn.get("dvRows")).map(_.asLong).getOrElse(0L),
        nulls,
        Option(fn.get("query")).map(_.asText()),
        cols,
        part,
        ctypes,
        Option(fn.get("pspec")).map(_.asInt).getOrElse(0),
        Option(fn.get("bytes")).map(_.asLong).getOrElse(0L),
        Option(fn.get("sorted")).map(_.elements().asScala
          .map(_.asText()).toSeq).getOrElse(Seq.empty[String]),
        Option(fn.get("sums")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asLong).toMap)
          .getOrElse(Map.empty[String, Long]),
        Option(fn.get("blooms")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap)
          .getOrElse(Map.empty[String, String]),
        Option(fn.get("kmvb")).map(_.properties().asScala.map { e =>
          val bytes = java.util.Base64.getDecoder.decode(e.getValue.asText)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          e.getKey -> Seq.fill(bytes.length / 8)(bb.getLong)
        }.toMap).orElse( // legacy decimal-array form
          Option(fn.get("kmv")).map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.elements().asScala
              .map(_.asLong).toSeq).toMap))
          .getOrElse(Map.empty[String, Seq[Long]]),
        Option(fn.get("bsc")).map(_.elements().asScala
          .map(_.asText()).toSeq).getOrElse(Seq.empty[String]),
        Option(fn.get("sstats")).map(_.properties().asScala
          .map(e => e.getKey -> ((e.getValue.get(0).asText, e.getValue.get(1).asText)))
          .toMap).getOrElse(Map.empty[String, (String, String)]),
        seq = Option(fn.get("seq")).map(_.asLong).getOrElse(0L))
    }.toSeq).getOrElse(Seq.empty)

  private def readProps(root: JsonNode): Map[String, String] =
    Option(root.get("props")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])

  private def readSchemaOf(root: JsonNode): StructType =
    DataType.fromJson(root.get("schema").asText()).asInstanceOf[StructType]

  /** One committed version's full delta record. */
  private[sources] case class LakeDelta(schema: StructType,
      props: Map[String, String], adds: Seq[LakeFile], removes: Set[String],
      eqAdds: Seq[LakeEqDelete] = Seq.empty, eqDrops: Set[Long] = Set.empty)

  private def eqNode(e: LakeEqDelete): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("s", e.seq); n.put("c", e.colId); n.put("r", e.ref)
    n.put("n", e.n); n.put("k", e.kind)
    if (e.cols.nonEmpty) {
      val cs = n.putArray("cs")
      e.cols.foreach { case (id, k) =>
        val o = cs.addObject(); o.put("c", id); o.put("k", k)
      }
    }
    n
  }

  private def readEqDels(root: JsonNode, field: String): Seq[LakeEqDelete] =
    Option(root.get(field)).map(_.elements().asScala.map { n =>
      LakeEqDelete(n.get("s").asLong, n.get("c").asLong, n.get("r").asText,
        n.get("n").asLong, n.get("k").asText,
        cols = Option(n.get("cs")).map(_.elements().asScala.map(o =>
          (o.get("c").asLong, o.get("k").asText)).toSeq).getOrElse(Seq.empty))
    }.toSeq).getOrElse(Seq.empty)

  /** The delta record of ONE committed version (None when pruned). */
  private def deltaAt(dir: Path, v: Long): Option[LakeDelta] = {
    val f = versionFile(dir, v)
    if (!Files.isRegularFile(f)) None
    else {
      deltaReads.incrementAndGet()
      val root = mapper.readTree(Files.readAllBytes(f))
      val removes = Option(root.get("remove"))
        .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty[String])
      val eqDrops = Option(root.get("eqdrop"))
        .map(_.elements().asScala.map(_.asLong()).toSet).getOrElse(Set.empty[Long])
      Some(LakeDelta(readSchemaOf(root), readProps(root),
        readEntries(root, "add"), removes, readEqDels(root, "eqadd"), eqDrops))
    }
  }

  /** O(files) checkpoint PAYLOAD parses since process start (one per
    * part file; legacy inline checkpoints count once) — spec
    * instrumentation proving distributed-census PLANNING never parses
    * checkpoint payload on the driver, and that each census task
    * parses exactly ONE part. Manifest reads are O(1) and uncounted.
    */
  private[graft] val checkpointReads = new java.util.concurrent.atomic.AtomicLong

  /** Bytes of checkpoint payload parsed since process start — spec
    * instrumentation bounding AGGREGATE census parse work at
    * O(checkpoint bytes), not O(bytes × shards).
    */
  private[graft] val checkpointParseBytes = new java.util.concurrent.atomic.AtomicLong

  /** Checkpoint publish FAILURES since process start. The commit each
    * one rode is still good (a checkpoint is a pure read optimization),
    * but a PERSISTENT failure degrades every later snapshot load to the
    * full delta-chain fold — paired with the durable
    * [[lastCheckpointFailure]] marker so operators notice.
    */
  private[graft] val checkpointFailures = new java.util.concurrent.atomic.AtomicLong

  private def checkpointFailureMarker(dir: Path): Path =
    logDir(dir).resolve("_checkpoint_failed")

  /** Durable record that the most recent ATTEMPTED checkpoint failed
    * (cleared by the next successful one). None = healthy.
    */
  def lastCheckpointFailure(dir: Path): Option[String] = {
    val f = checkpointFailureMarker(dir)
    if (Files.isRegularFile(f))
      Some(new String(Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8))
    else None
  }

  private def recordCheckpointFailure(dir: Path, v: Long, e: Throwable): Unit = {
    checkpointFailures.incrementAndGet()
    // the marker write is best-effort too (the likely cause — a full
    // log dir — may refuse it); the counter still moves
    try Files.write(checkpointFailureMarker(dir),
      s"v=$v ts=${System.currentTimeMillis()} err=$e"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () }
  }

  private def readCheckpoint(dir: Path, v: Long): Option[LakeSnapshot] = {
    val f = checkpointFile(dir, v)
    if (!Files.isRegularFile(f)) None
    else {
      val root = mapper.readTree(Files.readAllBytes(f))
      val files: Seq[LakeFile] =
        if (root.has("files")) { // legacy inline single-document form
          checkpointReads.incrementAndGet()
          checkpointParseBytes.addAndGet(Files.size(f))
          readEntries(root, "files")
        } else readPartMeta(root) match {
          case Some(pm) =>
            // LAZY: snapshot load parses the O(1) manifest only; scan
            // planning prunes parts by the recorded ranges, any plain
            // Seq access materializes (parts parse in parallel)
            new LakePartedFiles(dir, v, pm, Seq.empty, Set.empty)
          case None =>
            val n = root.get("parts").asInt
            // pre-partmeta manifests: parse eagerly, in PARALLEL —
            // snapshot-load latency bounded by one part; .seq keeps order
            import scala.collection.parallel.CollectionConverters._
            (0 until n).par.map(p => checkpointPartEntries(dir, v, p)).seq
              .flatten.toSeq
        }
      Some(LakeSnapshot(v, readSchemaOf(root), files, readProps(root),
        readEqDels(root, "eqdels")))
    }
  }

  /** File entries of ONE checkpoint part — the distributed census's
    * task-side unit: a shard parses exactly this, never the whole
    * checkpoint. `part == -1` = a legacy inline checkpoint (whole
    * document, one shard).
    */
  private[sources] def checkpointPartEntries(dir: Path, v: Long, part: Int): Seq[LakeFile] = {
    if (part < 0) return checkpointFiles(dir, v)
    val f = checkpointPartFile(dir, v, part)
    // the manifest PROMISED this part — a missing file (damage, or a
    // racing prune) must fail loudly, not silently reconstruct a
    // truncated snapshot (the legacy single-file checkpoint failed
    // atomically; multi-part must too)
    val key = s"$dir#$v#$part"
    PartCache.get(key) match {
      case Some(cached) =>
        checkpointCacheHits.incrementAndGet()
        cached
      case None =>
        if (!Files.isRegularFile(f))
          throw new IllegalStateException(
            s"graftlake: checkpoint v$v references missing part file $f")
        checkpointReads.incrementAndGet()
        val bytes = Files.size(f)
        checkpointParseBytes.addAndGet(bytes)
        val entries = readEntries(mapper.readTree(Files.readAllBytes(f)), "files")
        PartCache.put(key, entries, bytes)
        entries
    }
  }

  /** Part count of checkpoint `v` from its O(1) manifest — the
    * distributed census's shard plan. -1 = legacy inline (plan one
    * whole-checkpoint shard); 0 = no checkpoint at `v`.
    */
  private[graft] def checkpointParts(dir: Path, v: Long): Int = {
    val f = checkpointFile(dir, v)
    if (!Files.isRegularFile(f)) 0
    else {
      val root = mapper.readTree(Files.readAllBytes(f))
      if (root.has("files")) -1 else root.get("parts").asInt
    }
  }

  // ---- chunked log access for the DISTRIBUTED `__files` census ----
  // The planning contract ([[LakeMetaTables.filesTable]]): the driver
  // touches only the DELTA files (O(changes since checkpoint)) to
  // compute per-chunk kill sets; the checkpoint — the O(files) part —
  // is read exclusively inside tasks.

  /** Largest checkpoint at or below `v` — the fold base
    * [[snapshotAt]] itself uses.
    */
  private[sources] def checkpointBelow(dir: Path, v: Long): Option[Long] =
    listLog(dir, "c").filter(_ <= v).maxOption

  /** All file entries of checkpoint `c` (task-side read). */
  private[sources] def checkpointFiles(dir: Path, c: Long): Seq[LakeFile] =
    readCheckpoint(dir, c).map(_.files).getOrElse(Seq.empty)

  /** Delta `v`'s (adds, removed paths); empty when pruned. */
  private[sources] def deltaChanges(dir: Path, v: Long): (Seq[LakeFile], Set[String]) =
    deltaAt(dir, v).map(d => (d.adds, d.removes))
      .getOrElse((Seq.empty, Set.empty))

  /** Delta `v`'s equality-delete records ADDED (empty when pruned or
    * none).
    */
  private[sources] def deltaEqAdds(dir: Path, v: Long): Seq[LakeEqDelete] =
    deltaAt(dir, v).map(_.eqAdds).getOrElse(Seq.empty)

  /** The change feed's view of delta `v`: (adds, removed paths, eq
    * records added, eq record seqs dropped). None when the delta is
    * pruned past retention — callers must then fail loudly, never
    * treat it as an empty change set.
    */
  private[sources] def deltaFeedView(dir: Path, v: Long)
      : Option[(Seq[LakeFile], Set[String], Seq[LakeEqDelete], Set[Long])] =
    deltaAt(dir, v).map(d => (d.adds, d.removes, d.eqAdds, d.eqDrops))

  /** Table props as of delta `v` (the head delta carries the current
    * spec history — a small read, unlike the checkpoint).
    */
  private[sources] def deltaProps(dir: Path, v: Long): Map[String, String] =
    deltaAt(dir, v).map(_.props).getOrElse(Map.empty)

  /** The FIRST version committed at or after `tsMs` — the
    * `startingTimestamp` streaming anchor ("changes from this instant
    * on"). None when every retained commit predates it (the stream
    * then starts at the head's successor: only future commits flow).
    */
  def versionAfterTime(dir: Path, tsMs: Long): Option[Long] =
    listLog(dir, "v").sorted
      .find(v => commitTimeMs(dir, v).exists(_ >= tsMs))

  /** Data-file bytes ADDED by delta `v` — the streaming admission
    * weight for `maxBytesPerTrigger` (the log records each file's
    * size, so pacing a 100 TB backfill costs one small delta read per
    * pending version, zero data-file opens). Pure-remove versions
    * (metadata deletes) weigh 0: their change rows read superseded
    * files, but byte pacing exists for append backfills and a
    * delete-heavy feed is bounded by `maxVersionsPerTrigger`.
    */
  private[sources] def versionAddedBytes(dir: Path, v: Long): Long =
    deltaChanges(dir, v)._1.map(_.bytes).sum

  /** On-disk size of one log chunk (threshold + sharding input); a
    * checkpoint's size includes its manifest AND all part files.
    */
  private[graft] def chunkBytes(dir: Path, kind: String, v: Long): Long = {
    val f = if (kind == "c") checkpointFile(dir, v) else versionFile(dir, v)
    if (!Files.isRegularFile(f)) return 0L
    var total = Files.size(f)
    if (kind == "c") {
      var p = 0
      while (Files.isRegularFile(checkpointPartFile(dir, v, p))) {
        total += Files.size(checkpointPartFile(dir, v, p)); p += 1
      }
    }
    total
  }

  /** Reconstruct version `v`: nearest checkpoint at or below, then the
    * delta chain up to `v`. None when the chain is broken (a vacuum
    * pruned history past its retention window). The delta chain folds
    * into (adds, kill set) WITHOUT touching the checkpoint's entries,
    * so a parted checkpoint stays lazy through reconstruction — the
    * fold is algebraically identical to applying each delta in turn:
    * base.filterNot(r1)++a1 then .filterNot(r2)++a2 …
    * = base.filterNot(r1∪r2) ++ a1.filterNot(r2) ++ a2.
    */
  def snapshotAt(dir: Path, v: Long): Option[LakeSnapshot] = {
    val cp = listLog(dir, "c").filter(_ <= v).maxOption
      .flatMap(readCheckpoint(dir, _))
    if (cp.exists(_.version == v)) return cp
    var schema = cp.map(_.schema)
    var props = cp.map(_.props)
    var eqdels = cp.map(_.eqdels).getOrElse(Seq.empty)
    var adds = Vector.empty[LakeFile]
    var kills = Set.empty[String]
    var i = cp.map(_.version + 1L).getOrElse(0L)
    while (i <= v) {
      deltaAt(dir, i) match {
        case None => return None
        case Some(d) =>
          kills ++= d.removes
          adds = adds.filterNot(f => d.removes(f.path)) ++ d.adds
          eqdels = eqdels.filterNot(e => d.eqDrops(e.seq)) ++ d.eqAdds
          schema = Some(d.schema); props = Some(d.props)
      }
      i += 1
    }
    val files: Seq[LakeFile] = cp.map(_.files) match {
      case Some(pf: LakePartedFiles) => pf.withDeltas(adds, kills, v)
      case Some(fs) => fs.filterNot(f => kills(f.path)) ++ adds
      case None => adds
    }
    Some(LakeSnapshot(v, schema.getOrElse(return None),
      files, props.getOrElse(Map.empty), eqdels))
  }

  /** What one attempt of [[commitLoop]] publishes over the head it was
    * handed: a full successor snapshot ([[Replace]], diffed against the
    * head by [[commit]]) or a pure append ([[Append]], the O(changed)
    * [[commitAppend]] fast path).
    */
  sealed trait Successor
  final case class Replace(snapshot: LakeSnapshot,
      eqAdd: Seq[LakeEqDelete] = Seq.empty,
      eqBase: Option[Seq[LakeEqDelete]] = None) extends Successor
  final case class Append(added: Seq[LakeFile], props: Map[String, String],
      eqAdd: Seq[LakeEqDelete] = Seq.empty) extends Successor

  /** THE optimistic commit protocol every mutation runs: read the head,
    * let `attempt` validate what the operation read against it and
    * build the successor (or None: nothing to commit), publish it
    * create-if-absent with that same head as the parent, and on a lost
    * race start over from the new head. Returns what was published.
    */
  @scala.annotation.tailrec
  def commitLoop(dir: Path)(attempt: LakeSnapshot => Option[Successor]): Option[Successor] = {
    val head = currentSnapshot(dir).getOrElse(throw new IllegalStateException(
      s"graftlake: $dir has no committed version"))
    attempt(head) match {
      case None => None
      case Some(s) =>
        val won = s match {
          case Replace(snap, eqAdd, eqBase) =>
            commit(dir, head.version, snap, eqAdd, eqBase, parentSnap = Some(head))
          case Append(added, props, eqAdd) => commitAppend(dir, head, added, props, eqAdd)
        }
        if (won) Some(s) else commitLoop(dir)(attempt)
    }
  }

  /** Snapshot isolation for an operation that scanned `scan` and READ
    * the files `read`, checked against the head `cur` it is about to
    * commit over: every read file must still be live with the delete
    * vector it was scanned with (a moved vector is a concurrent
    * row-level change — swapping in rows rebuilt from the old state
    * resurrects its deletes, or lands a second insert for an updated
    * row), and when the commit ADDS data files no equality-delete
    * record may have landed since the scan (the new files are born at
    * the new version, so such a record would not apply to them and the
    * rows it replaced would come back). Nothing to check while the head
    * is still the scanned version.
    */
  def requireReadSetCurrent(cur: LakeSnapshot, scan: LakeSnapshot,
      read: Set[String], addsData: Boolean): Unit =
    if (cur.version != scan.version) {
      def dvs(s: LakeSnapshot) =
        s.files.iterator.filter(f => read(f.path)).map(f => f.path -> f.dv).toMap
      val live = dvs(cur)
      require(read.subsetOf(live.keySet),
        s"concurrent update: files ${read -- live.keySet} no longer live at v${cur.version}")
      val scanned = dvs(scan)
      read.foreach(p => require(live(p) == scanned.getOrElse(p, None),
        s"concurrent row-level change: delete vector of $p moved since this operation's scan"))
      if (addsData) {
        val seen = scan.eqdels.map(_.seq).toSet
        require(cur.eqdels.forall(e => seen(e.seq)),
          "concurrent equality delete invalidated this operation's scan")
      }
    }

  /** Publish `snapshot` as a NEW table's v0, create-if-absent: the
    * loser of a concurrent create (CREATE TABLE, CTAS, clone) fails
    * instead of returning a definition that was never committed.
    */
  def create(dir: Path, ident: Identifier, snapshot: LakeSnapshot): Unit = {
    Files.createDirectories(dir.resolve("data"))
    if (!commit(dir, -1L, snapshot))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
  }

  /** The log entries of freshly WRITTEN files under the table's
    * `schema`/`props`: column ids and write-time types, the current
    * partition spec, `sorted` = the sort layout the write enforced
    * (empty when none was), and `stamp` = the streaming (query, epoch)
    * that wrote them.
    */
  def writtenEntries(written: Seq[LakeFileInfo], schema: StructType,
      props: Map[String, String], sorted: Seq[String],
      stamp: Option[(String, Long)] = None): Seq[LakeFile] = {
    val cols = LakeColIds.cols(schema, props)
    val colTypes = LakeColIds.types(schema)
    val specId = LakePartitioning.currentSpecId(props)
    written.map(i => LakeFile(i.path, i.rows, i.stats, epoch = stamp.map(_._2),
      nulls = i.nulls, query = stamp.map(_._1), cols = cols, part = i.part,
      colTypes = colTypes, specId = specId, bytes = i.bytes, sorted = sorted,
      sums = i.sums, blooms = i.blooms, kmv = i.kmv, bloomSc = i.bloomSc,
      sstats = i.sstats))
  }

  /** APPEND-ONLY commit fast path: publish `added` as the successor of
    * the held `parent` WITHOUT materializing its file census — the
    * O(table)-per-commit census cost the full diff pays. A lazy parted
    * parent stays lazy end to end: schema and the equality-delete set
    * come from the parent's O(1) header fold, a pure add changes no
    * record's liveness (nothing is removed and the new files are the
    * youngest), and the cadence checkpoint reconstructs the published
    * version lazily so the INCREMENTAL part-reuse planner serializes
    * only touched parts. The streaming ingest loop is O(changed) end to
    * end: delta write, checkpoint, and planning all scale with the
    * commit, never the table. Returns false on a lost race, like
    * [[commit]].
    */
  private def commitAppend(dir: Path, parent: LakeSnapshot, added: Seq[LakeFile],
      props: Map[String, String], eqAdd: Seq[LakeEqDelete]): Boolean = {
    val v = parent.version + 1L
    val schema = parent.schema
    val stamped = added.map(f => if (f.seq == 0L) f.copy(seq = v) else f)
    // a NEW record is live iff anything at all predates it; liveness
    // must be decided CONSERVATIVELY without materializing (a wrongly
    // dropped record resurrects rows; a wrongly kept one is harmless
    // garbage the next full commit prunes)
    val parentNonEmpty = parent.files match {
      case pf: LakePartedFiles => pf.exactTotal.map(_ > 0).getOrElse(true)
      case fs => fs.nonEmpty
    }
    val eqAdded =
      if (parentNonEmpty)
        eqAdd.map(e => if (e.seq == 0L) e.copy(seq = v) else e)
      else Seq.empty
    val root = mapper.createObjectNode()
    root.put("version", v)
    root.put("ts", System.currentTimeMillis())
    root.put("schema", schema.json)
    val pr = root.putObject("props")
    props.foreach { case (k, pv) => pr.put(k, pv) }
    val arr = root.putArray("add")
    stamped.foreach(writeEntry(arr, _))
    root.putArray("remove")
    if (eqAdded.nonEmpty) {
      val ea = root.putArray("eqadd")
      eqAdded.foreach(e => ea.add(eqNode(e)))
    }
    Files.createDirectories(logDir(dir))
    if (publish(dir, versionFile(dir, v), root)) {
      // reconstruct the just-published version LAZILY from the log —
      // the incremental checkpoint planner never parses untouched
      // parts, so the cadence cost is O(changed parts) too
      cadenceCheckpoint(dir, v, props)(snapshotAt(dir, v))
      true
    } else false
  }

  /** Post-publish checkpoint CADENCE. Cadence is a TABLE property: a
    * streaming table committing every few seconds wants tight delta
    * chains (cheap with part reuse), a bulk-load table fewer
    * checkpoints; the default is [[CheckpointInterval]]. Best-effort:
    * the version file IS the commit — a checkpoint is a pure read
    * optimization (recomputable from deltas), so a failure here must
    * never report a COMMITTED write as failed (a retry would then
    * duplicate it). `snap` is the published version to checkpoint,
    * built only when the cadence fires.
    */
  private def cadenceCheckpoint(dir: Path, v: Long, props: Map[String, String])(
      snap: => Option[LakeSnapshot]): Unit = {
    val interval = props.get("checkpoint_interval")
      .flatMap(_.toLongOption).filter(_ > 0L).getOrElse(CheckpointInterval.toLong)
    if (v > 0L && v % interval == 0L) {
      try snap.foreach(checkpoint(dir, _))
      catch {
        case scala.util.control.NonFatal(e) =>
          recordCheckpointFailure(dir, v, e)
          System.err.println(
            s"graftlake: checkpoint at v$v failed (commit unaffected): $e")
      }
    }
  }

  /** Publish `snapshot` as the successor of `expectedVersion` with an
    * atomic create-if-absent of its DELTA vs the parent; returns false
    * when another writer won the race (the caller re-reads the head,
    * revalidates, retries — [[commitLoop]]). Changed entries (a moved
    * delete vector) ride as remove+add of that entry alone.
    * `parentSnap` is the parent the caller already HOLDS (the head
    * [[commitLoop]] just read and built `snapshot` from): it is used as
    * is instead of re-reading and re-folding the census; without it the
    * parent is read from the log. `expectedVersion = -1` publishes v0.
    */
  def commit(dir: Path, expectedVersion: Long, snapshot: LakeSnapshot,
      eqAdd: Seq[LakeEqDelete] = Seq.empty,
      eqBase: Option[Seq[LakeEqDelete]] = None,
      parentSnap: Option[LakeSnapshot] = None): Boolean = {
    require(snapshot.version == expectedVersion + 1,
      s"commit must advance the version by one: $expectedVersion -> ${snapshot.version}")
    parentSnap.foreach(p => require(p.version == expectedVersion,
      s"commit: parentSnap v${p.version} is not the expected parent v$expectedVersion"))
    val parent =
      if (expectedVersion < 0L) None
      else parentSnap.orElse(
        Some(snapshotAt(dir, expectedVersion).getOrElse(throw new IllegalStateException(
          s"cannot commit v${snapshot.version}: parent v$expectedVersion unreadable"))))
    // METADATA-ONLY fast path: the child carries the parent's OWN file
    // object (props/DDL/eq-only commits pass `cur.files` through
    // unchanged — reference identity is the caller's statement that no
    // entry changed). No diff, no stamping, no census materialization:
    // a props ALTER or a keyed DELETE on a 10⁸-file checkpointed table
    // writes an O(1) delta without parsing a single checkpoint part.
    // Excluded: eqBase rewrites (rollback restores a different record
    // set whose liveness needs the general derivation).
    parent match {
      case Some(par) if eqBase.isEmpty && (snapshot.files.asInstanceOf[AnyRef] eq
          par.files.asInstanceOf[AnyRef]) =>
        // files unchanged ⇒ the parent's live records stay live verbatim
        // (the prune rule keys off min live-file seq, which cannot move);
        // new records are live iff ANY live file predates them — i.e.
        // the table is nonempty (every live file's seq < this version)
        val parentNonEmpty = par.files match {
          case pf: LakePartedFiles => pf.exactTotal.map(_ > 0).getOrElse(true)
          case fs => fs.nonEmpty
        }
        val eqAdded =
          if (parentNonEmpty)
            eqAdd.map(e => if (e.seq == 0L) e.copy(seq = snapshot.version) else e)
          else Seq.empty
        val root = mapper.createObjectNode()
        root.put("version", snapshot.version)
        root.put("ts", System.currentTimeMillis())
        root.put("schema", snapshot.schema.json)
        val pr = root.putObject("props")
        snapshot.props.foreach { case (k, v) => pr.put(k, v) }
        root.putArray("add")
        root.putArray("remove")
        if (eqAdded.nonEmpty) {
          val ea = root.putArray("eqadd")
          eqAdded.foreach(e => ea.add(eqNode(e)))
        }
        Files.createDirectories(logDir(dir))
        return if (publish(dir, versionFile(dir, snapshot.version), root)) {
          // reconstruct the published version LAZILY (commitAppend's
          // cadence shape) — incremental part reuse stays O(changed)
          cadenceCheckpoint(dir, snapshot.version, snapshot.props)(
            snapshotAt(dir, snapshot.version))
          true
        } else false
      case _ => ()
    }
    val prevFiles = parent.map(_.files).getOrElse(Seq.empty)
    val prevByPath = prevFiles.map(f => f.path -> f).toMap
    // stamp DATA-BIRTH versions: an entry is born at this commit ONLY
    // if its path is NEW to the parent — a path the parent already
    // tracks keeps its recorded seq even when 0 (legacy/cloned entries:
    // 0 = "older than every record", and bumping it here would let
    // equality deletes silently skip those files, resurrecting
    // replaced rows on the next ALTER or rewrite). Data under a path
    // never changes (UUID names; only dv refs move), so parent
    // membership IS data identity.
    val stamped = snapshot.files.map(f =>
      if (f.seq == 0L && !prevByPath.contains(f.path))
        f.copy(seq = snapshot.version)
      else f)
    val nextByPath = stamped.map(f => f.path -> f).toMap
    val added = stamped.filter(f => !prevByPath.get(f.path).contains(f))
    val removed = prevFiles.filter(f => !nextByPath.get(f.path).contains(f)).map(_.path)
    // the persisted equality-delete set derives from the PARENT (never
    // from snapshot.eqdels — see LakeSnapshot), plus this commit's adds,
    // minus every record no remaining live file predates (after a full
    // compaction that prunes the whole set — "the rewrite erased them")
    val parentEq = parent.map(_.eqdels).getOrElse(Seq.empty)
    val baseEq = eqBase.getOrElse(parentEq)
    val stampedEq = (baseEq ++ eqAdd).map(e =>
      if (e.seq == 0L) e.copy(seq = snapshot.version) else e)
    val minSeq = if (stamped.isEmpty) Long.MaxValue else stamped.map(_.seq).min
    val liveEq = stampedEq.filter(e => minSeq < e.seq)
    // the DELTA always encodes the transition from the PARENT's set —
    // snapshotAt folds it on top of the parent, whatever eqBase said
    // (rollback passes the restore target's set as the new state)
    val eqDropped = parentEq.map(_.seq).toSet -- liveEq.map(_.seq).toSet
    val eqAdded = liveEq.filterNot(e => parentEq.exists(_.seq == e.seq))

    val root = mapper.createObjectNode()
    root.put("version", snapshot.version)
    root.put("ts", System.currentTimeMillis()) // TIMESTAMP AS OF anchor
    root.put("schema", snapshot.schema.json)
    val pr = root.putObject("props")
    snapshot.props.foreach { case (k, v) => pr.put(k, v) }
    val arr = root.putArray("add")
    added.foreach(writeEntry(arr, _))
    val rm = root.putArray("remove")
    removed.foreach(rm.add)
    if (eqAdded.nonEmpty) {
      val ea = root.putArray("eqadd")
      eqAdded.foreach(e => ea.add(eqNode(e)))
    }
    if (eqDropped.nonEmpty) {
      val ed = root.putArray("eqdrop")
      eqDropped.toSeq.sorted.foreach(ed.add(_: Long))
    }

    Files.createDirectories(logDir(dir))
    if (publish(dir, versionFile(dir, snapshot.version), root)) {
      // the STAMPED view checkpoints (birth seqs + derived eqdels), not
      // the caller's in-memory snapshot
      cadenceCheckpoint(dir, snapshot.version, snapshot.props)(
        Some(LakeSnapshot(snapshot.version, snapshot.schema, stamped, snapshot.props, liveEq)))
      true
    } else false
  }

  /** Land a full-snapshot checkpoint for `snapshot` (idempotent;
    * vacuum also calls this at its retention floor so pruned history
    * below stays unneeded). Entries split into byte-bounded PART files
    * published first; the O(1) manifest lands LAST as the atomic
    * commit point — readers never observe a partial checkpoint.
    */
  /** Test-only fault injection simulating checkpoint IO failure (a full
    * log dir) that the COMMIT itself survived — exercises the durable
    * failure marker without breaking the version file's own writes.
    * Keyed by a table-dir substring so a concurrently-running suite's
    * checkpoints are unaffected.
    */
  @volatile private[graft] var checkpointFault: Option[(String, String)] = None

  /** Cache HITS of [[checkpointPartEntries]] since process start — the
    * twin of [[checkpointReads]] (cold parses). Counter specs assert
    * the two separately: parses prove O(relevant parts) planning,
    * parses+hits prove the part-serve count, and a repeated point
    * query parses its part ONCE.
    */
  private[graft] val checkpointCacheHits = new java.util.concurrent.atomic.AtomicLong

  /** Byte-bounded LRU over PARSED checkpoint parts. A part file is
    * immutable once published (create-if-absent link) and its key
    * carries (dir, checkpoint version, part), so entries never go
    * stale — a new checkpoint is a new version, a vacuumed part's
    * cached content still serves its retained snapshot correctly. On
    * local disk this saves a JSON parse; on object storage it saves
    * the hot table's per-query part re-FETCH — the difference between
    * O(relevant parts) and O(relevant parts × queries) round-trips.
    */
  private object PartCache {
    private val cap: Long =
      java.lang.Long.getLong("graft.lake.partCacheBytes", 64L << 20)
    // accessOrder=true: iteration order = LRU; get() mutates, so every
    // access synchronizes
    private val map =
      new java.util.LinkedHashMap[String, (Seq[LakeFile], Long)](128, 0.75f, true)
    private var total = 0L
    def get(k: String): Option[Seq[LakeFile]] =
      synchronized(Option(map.get(k)).map(_._1))
    def put(k: String, v: Seq[LakeFile], bytes: Long): Unit = synchronized {
      if (bytes > cap) return
      Option(map.remove(k)).foreach(total -= _._2)
      map.put(k, (v, bytes)); total += bytes
      val it = map.entrySet().iterator()
      while (total > cap && it.hasNext) {
        total -= it.next().getValue._2; it.remove()
      }
    }
    def clear(): Unit = synchronized { map.clear(); total = 0L }
  }

  /** Drop every cached checkpoint part (bench hygiene: timed reps must
    * re-parse, or repetitions measure cache reads).
    */
  private[graft] def clearPartCache(): Unit = PartCache.clear()

  /** The partition-tuple key checkpoint entries SORT by before
    * splitting: each part then covers a contiguous tuple range, which
    * is both what makes the manifest's per-part value sets selective
    * AND what bounds where a post-checkpoint add can land (the
    * incremental planner's range test).
    */
  private[sources] def entrySortKey(f: LakeFile): String =
    f.part.map(_.getOrElse("\u0000")).mkString("\u0001")

  // ---- checkpoint-part PATH blooms (incremental reuse) ----
  // ~10 bits per entry, 6 probes (FP ~1%). A kill that probes NEGATIVE
  // provably never touched the part (no false negatives); a false
  // positive merely rewrites a reusable part — sound, just less reuse.
  // xxHash64 over the path's UTF-8 bytes, double-hashed probes.

  private def pathHash(path: String): Long = {
    val b = path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 2026L)
  }

  private def pathBloomProbe(h1: Long, m: Long)(set: Long => Unit): Unit = {
    val h2 = (h1 * 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < 6) {
      set(java.lang.Math.floorMod(h1 + i.toLong * h2, m))
      i += 1
    }
  }

  private[sources] def pathBloomBuild(paths: Seq[String]): Seq[Long] = {
    val words = math.max(1, (paths.size * 10 + 63) / 64)
    val bits = new Array[Long](words)
    val m = words.toLong * 64L
    paths.foreach(p => pathBloomProbe(pathHash(p), m) { pos =>
      bits((pos >> 6).toInt) |= 1L << (pos & 63L)
    })
    bits.toVector
  }

  private[sources] def pathBloomContains(bloom: Seq[Long], path: String): Boolean = {
    if (bloom.isEmpty) return true // absent bloom cannot rule out
    val bits = bloom.toIndexedSeq
    val m = bits.length.toLong * 64L
    var hit = true
    pathBloomProbe(pathHash(path), m) { pos =>
      if ((bits((pos >> 6).toInt) & (1L << (pos & 63L))) == 0L) hit = false
    }
    hit
  }

  /** Checkpoint parts SERIALIZED vs REUSED (hard-linked from the
    * previous checkpoint's payload) since process start — the counter
    * pair proving a small commit's checkpoint costs O(changed parts)
    * serialization, not O(table).
    */
  private[graft] val checkpointPartsWritten = new java.util.concurrent.atomic.AtomicLong
  private[graft] val checkpointPartsReused = new java.util.concurrent.atomic.AtomicLong

  private sealed trait CpSeg
  private case class CpReuse(srcV: Long, meta: LakeCpPart) extends CpSeg
  private case class CpWrite(entries: Seq[LakeFile]) extends CpSeg

  /** Plan checkpoint `snapshot.version` INCREMENTALLY against the
    * previous checkpoint: a part is REUSED — payload hard-linked, its
    * manifest partmeta copied verbatim — when no kill probes its path
    * bloom and no add's sort key falls inside its tuple range; the
    * rest (killed/changed entries, in-range adds, adds between ranges)
    * merge, re-sort, and byte-split exactly like the full path. link(2)
    * means vacuum unlinking the OLD checkpoint's names leaves shared
    * inodes alive, so reuse is retention-safe by construction. None →
    * full rewrite: no prior parted checkpoint, a pre-reuse manifest
    * (no kr/pb), a pruned delta in the gap, or any schema/props change
    * (partition spec, column ids, and the split bound all derive from
    * them — and a reused partmeta must stay valid verbatim).
    */
  private def incrementalSegments(dir: Path, snapshot: LakeSnapshot,
      splitRun: Seq[LakeFile] => Seq[CpSeg]): Option[Seq[CpSeg]] = {
    val v = snapshot.version
    val pcv = listLog(dir, "c").filter(_ < v).maxOption.getOrElse(return None)
    val mf = checkpointFile(dir, pcv)
    if (!Files.isRegularFile(mf)) return None
    val root = mapper.readTree(Files.readAllBytes(mf))
    if (root.has("files")) return None // legacy inline checkpoint
    val oldParts = readPartMeta(root).getOrElse(return None)
    if (oldParts.exists(p => p.kr.isEmpty || p.pb.isEmpty)) return None
    if (readSchemaOf(root).json != snapshot.schema.json) return None
    // gate only on the props partMeta DERIVES FROM — column ids, the
    // partition-spec history (tuple/tv validity), the split bound.
    // Volatile props (txn. idempotence watermarks) must not disable
    // reuse on exactly the streaming tables that benefit most.
    val oldProps = readProps(root)
    if (Seq("colids", LakePartitioning.PropKey, LakePartitioning.SpecsKey,
        "checkpoint_part_bytes")
      .exists(k => oldProps.get(k) != snapshot.props.get(k))) return None
    // fold the delta gap — the same survivor algebra snapshotAt uses
    var adds = Vector.empty[LakeFile]
    var kills = Set.empty[String]
    var i = pcv + 1L
    while (i <= v) {
      deltaAt(dir, i) match {
        case None => return None // pruned gap: cannot prove the fold
        case Some(d) =>
          // equality-delete records ride the MANIFEST (rewritten fresh
          // every checkpoint), never the parts — nothing to fold here
          kills ++= d.removes
          adds = adds.filterNot(f => d.removes(f.path)) ++ d.adds
      }
      i += 1L
    }
    // assign each add to the first part whose range can hold it, or to
    // the gap before that part (equal keys carry no order semantics)
    val addsFor = Array.fill(oldParts.size)(Vector.empty[LakeFile])
    val gapBefore = Array.fill(oldParts.size + 1)(Vector.empty[LakeFile])
    adds.foreach { a =>
      val k = entrySortKey(a)
      val j = oldParts.indexWhere(p => p.kr.get._2 >= k)
      if (j < 0) gapBefore(oldParts.size) :+= a
      else if (oldParts(j).kr.get._1 <= k) addsFor(j) :+= a
      else gapBefore(j) :+= a
    }
    val segs = Vector.newBuilder[CpSeg]
    var pending = Vector.empty[LakeFile]
    def flush(): Unit = if (pending.nonEmpty) {
      segs ++= splitRun(pending.sortBy(entrySortKey)); pending = Vector.empty
    }
    oldParts.indices.foreach { j =>
      pending ++= gapBefore(j)
      val pm = oldParts(j)
      val dirty = addsFor(j).nonEmpty ||
        kills.exists(p => pathBloomContains(pm.pb, p))
      if (dirty)
        pending = pending ++
          checkpointPartEntries(dir, pcv, pm.part).filterNot(f => kills(f.path)) ++
          addsFor(j)
      else { flush(); segs += CpReuse(pcv, pm) }
    }
    pending ++= gapBefore(oldParts.size)
    flush()
    Some(segs.result())
  }

  def checkpoint(dir: Path, snapshot: LakeSnapshot): Unit = {
    checkpointFault.foreach { case (dirKey, msg) =>
      if (dir.toString.contains(dirKey)) throw new java.io.IOException(msg)
    }
    val bound = math.max(1L,
      snapshot.props.get("checkpoint_part_bytes").flatMap(_.toLongOption)
        .getOrElse(CheckpointPartBytesDefault))
    // cut a SORTED run by MEASURED serialized entry size, not entry
    // count — stats-heavy entries pack fewer per part, keeping task
    // parse work truly byte-bounded
    def splitRun(run: Seq[LakeFile]): Seq[CpSeg] = {
      val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[LakeFile]]
      var cur = Seq.newBuilder[LakeFile]
      var curN = 0
      var curBytes = 0L
      run.foreach { f =>
        val b = mapper.writeValueAsBytes(entryNode(f)).length.toLong
        if (curN > 0 && curBytes + b > bound) {
          parts += cur.result(); cur = Seq.newBuilder[LakeFile]
          curN = 0; curBytes = 0L
        }
        cur += f; curN += 1; curBytes += b
      }
      if (curN > 0) parts += cur.result()
      parts.toSeq.map(CpWrite.apply)
    }
    // INCREMENTAL first — O(changed parts) serialization, and a lazy
    // parted snapshot is never materialized; the full path sorts every
    // entry by partition tuple and splits from scratch. Both are
    // deterministic from the log state: a losing concurrent
    // checkpointer republishes identical content and the
    // create-if-absent publish stays idempotent.
    val segs: Seq[CpSeg] = incrementalSegments(dir, snapshot, splitRun)
      .getOrElse(splitRun(snapshot.files.sortBy(entrySortKey)))
    Files.createDirectories(logDir(dir))
    val metas = segs.zipWithIndex.map {
      case (CpReuse(srcV, meta), i) =>
        val target = checkpointPartFile(dir, snapshot.version, i)
        if (!Files.isRegularFile(target))
          try { Files.createLink(target, checkpointPartFile(dir, srcV, meta.part)); () }
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        checkpointPartsReused.incrementAndGet()
        meta.copy(part = i)
      case (CpWrite(fs), i) =>
        val pn = mapper.createObjectNode()
        pn.put("version", snapshot.version)
        pn.put("part", i)
        val arr = pn.putArray("files")
        fs.foreach(writeEntry(arr, _))
        publish(dir, checkpointPartFile(dir, snapshot.version, i), pn, pretty = false)
        checkpointPartsWritten.incrementAndGet()
        partMeta(i, fs, snapshot.schema, snapshot.props)
    }
    val root = mapper.createObjectNode()
    root.put("version", snapshot.version)
    root.put("schema", snapshot.schema.json)
    root.put("parts", segs.size)
    val pm = root.putArray("partmeta")
    metas.foreach(m => pm.add(partMetaNode(m)))
    if (snapshot.eqdels.nonEmpty) {
      val eq = root.putArray("eqdels")
      snapshot.eqdels.foreach(e => eq.add(eqNode(e)))
    }
    val pr = root.putObject("props")
    snapshot.props.foreach { case (k, v) => pr.put(k, v) }
    publish(dir, checkpointFile(dir, snapshot.version), root)
    // checkpointing works again — clear the durable failure marker
    Files.deleteIfExists(checkpointFailureMarker(dir))
    ()
  }

  /** Per-part value cap for the manifest's identity-partition distinct
    * sets — over it, only the lexicographic range prunes.
    */
  val PartValueCap = 64

  /** Fold one part's entries into its manifest index ([[LakeCpPart]]):
    * a column (by stable id) reports only when EVERY entry in the part
    * carries the value — partial coverage cannot rule a part out.
    */
  private def partMeta(i: Int, fs: Seq[LakeFile], schema: StructType,
      props: Map[String, String]): LakeCpPart = {
    val cols = LakeColIds.cols(schema, props)
    // identity-partition values per entry, under the ENTRY's own spec
    def partVals(f: LakeFile): Map[Long, String] =
      LakePartitioning.specOf(props, f.specId).zipWithIndex.collect {
        case (LakePartitioning.Identity(c), pi)
          if f.part.lift(pi).flatten.isDefined && cols.exists(_._1 == c) =>
          cols.find(_._1 == c).get._2 -> f.part(pi).get
      }.toMap
    val perEntry = fs.map(partVals)
    val covered = perEntry.map(_.keySet).reduceOption(_ intersect _)
      .getOrElse(Set.empty[Long])
    val pv = Map.newBuilder[Long, Seq[String]]
    val pr = Map.newBuilder[Long, (String, String)]
    covered.foreach { id =>
      val vs = perEntry.map(_(id))
      pr += id -> ((vs.min, vs.max))
      val distinct = vs.distinct
      if (distinct.size <= PartValueCap) pv += id -> distinct.sorted
    }
    // transform components (trunc/bucket ordinals), recorded only when
    // PURE across the part AND written under the CURRENT spec's exact
    // transform (an ordinal from another era's parameters means
    // something else — equality of the Field value is the gate; a
    // source column carrying two transforms is skipped, its ordinals
    // are ambiguous by id). Enough for exact synthetic tuples; never
    // used for value membership.
    val curTrans = LakePartitioning.decode(props)
      .filterNot(_.isInstanceOf[LakePartitioning.Identity])
    val dupTrans = curTrans.groupBy(_.col)
      .collect { case (c, s) if s.size > 1 => c }.toSet
    val curByCol = curTrans.filterNot(f => dupTrans(f.col))
      .map(f => f.col -> f).toMap
    def transVals(f: LakeFile): Map[Long, String] =
      LakePartitioning.specOf(props, f.specId).zipWithIndex.collect {
        case (t, pi) if curByCol.get(t.col).contains(t) &&
          f.part.lift(pi).flatten.isDefined && cols.exists(_._1 == t.col) =>
          cols.find(_._1 == t.col).get._2 -> f.part(pi).get
      }.toMap
    val perEntryT = fs.map(transVals)
    val coveredT = perEntryT.map(_.keySet).reduceOption(_ intersect _)
      .getOrElse(Set.empty[Long])
    val tv = Map.newBuilder[Long, String]
    coveredT.foreach { id =>
      val vs = perEntryT.map(_(id)).distinct
      if (vs.size == 1) tv += id -> vs.head
    }
    // stats ranges (integral + string): only when every entry records
    // the stat — partial coverage cannot rule a part out
    val cr = Map.newBuilder[Long, (Long, Long)]
    val sr = Map.newBuilder[Long, (String, String)]
    // aggregate census folds (sums + null counts): only on a DV-FREE
    // part with full column coverage — a dv'd entry's live
    // contribution is unknowable to metadata
    val df = fs.forall(f => f.dvRows == 0L && f.dv.isEmpty)
    val sm = Map.newBuilder[Long, Long]
    val nc = Map.newBuilder[Long, Long]
    val kv = Map.newBuilder[Long, Seq[Long]]
    val uord = Ordering.by(org.apache.spark.unsafe.types.UTF8String.fromString)
    cols.foreach { case (name, id) =>
      val ranges = fs.map(f =>
        LakeColIds.physicalName(cols, f, name).flatMap(f.stats.get))
      if (ranges.nonEmpty && ranges.forall(_.isDefined)) {
        val rs = ranges.flatten
        cr += id -> ((rs.map(_._1).min, rs.map(_._2).max))
      }
      val sranges = fs.map(f =>
        LakeColIds.physicalName(cols, f, name).flatMap(f.sstats.get))
      if (sranges.nonEmpty && sranges.forall(_.isDefined)) {
        val rs = sranges.flatten
        sr += id -> ((rs.map(_._1).min(uord), rs.map(_._2).max(uord)))
      }
      if (df) {
        val sums = fs.map(f =>
          LakeColIds.physicalName(cols, f, name).flatMap(f.sums.get))
        if (sums.nonEmpty && sums.forall(_.isDefined))
          sm += id -> sums.flatten.sum // wrapping, like the parsed path
        val nulls = fs.map(f =>
          LakeColIds.physicalName(cols, f, name).flatMap(f.nulls.get))
        if (nulls.nonEmpty && nulls.forall(_.isDefined))
          nc += id -> nulls.flatten.sum
      }
      // per-part KMV fold: k-smallest of the entries' union (unsigned).
      // Recorded when every entry either carries a sketch or provably
      // PREDATES the column (contributing zero distinct values, exactly
      // like the per-file consumer fold) AND at least one entry really
      // sketched — an all-predates part stays silent so the consumer
      // falls back to parsing, where the per-file fold's "no sketch
      // input" None verdict is reproduced rather than guessed at
      var kvOk = true
      var kvAny = false
      val kms = Seq.newBuilder[Seq[Long]]
      fs.foreach { f =>
        LakeColIds.physicalName(cols, f, name) match {
          case None => () // predates the column
          case Some(pn) => f.kmv.get(pn) match {
            case Some(hs) => kvAny = true; kms += hs
            case None => kvOk = false
          }
        }
      }
      if (kvOk && kvAny) {
        val set = new java.util.TreeSet[java.lang.Long]()
        kms.result().flatten.foreach { h =>
          set.add(h ^ Long.MinValue)
          if (set.size > LakeParquet.KmvK) { set.pollLast(); () }
        }
        kv += id -> set.iterator().asScala.map(_.longValue ^ Long.MinValue).toVector
      }
    }
    LakeCpPart(i, fs.size, pv.result(), pr.result(), cr.result(),
      liveRows = fs.map(_.liveRows).sum, sr = sr.result(),
      sm = sm.result(), nc = nc.result(), df = df, tv = tv.result(),
      // fs arrives sorted by entrySortKey (both split paths sort), so
      // head/last bound the part's tuple range exactly
      kr = Some((entrySortKey(fs.head), entrySortKey(fs.last))),
      pb = pathBloomBuild(fs.map(_.path)),
      kv = kv.result())
  }

  private def partMetaNode(pm: LakeCpPart): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("p", pm.part)
    n.put("n", pm.n)
    if (pm.liveRows >= 0L) n.put("lr", pm.liveRows)
    if (pm.pv.nonEmpty) {
      val o = n.putObject("pv")
      pm.pv.foreach { case (id, vs) =>
        val a = o.putArray(id.toString); vs.foreach(a.add)
      }
    }
    if (pm.pr.nonEmpty) {
      val o = n.putObject("pr")
      pm.pr.foreach { case (id, (lo, hi)) =>
        val a = o.putArray(id.toString); a.add(lo); a.add(hi)
      }
    }
    if (pm.cr.nonEmpty) {
      val o = n.putObject("cr")
      pm.cr.foreach { case (id, (lo, hi)) =>
        val a = o.putArray(id.toString); a.add(lo); a.add(hi)
      }
    }
    if (pm.sr.nonEmpty) {
      val o = n.putObject("sr")
      pm.sr.foreach { case (id, (lo, hi)) =>
        val a = o.putArray(id.toString); a.add(lo); a.add(hi)
      }
    }
    if (pm.sm.nonEmpty) {
      val o = n.putObject("sm")
      pm.sm.foreach { case (id, v) => o.put(id.toString, v) }
    }
    if (pm.nc.nonEmpty) {
      val o = n.putObject("nc")
      pm.nc.foreach { case (id, v) => o.put(id.toString, v) }
    }
    if (pm.df) n.put("df", true)
    if (pm.tv.nonEmpty) {
      val o = n.putObject("tv")
      pm.tv.foreach { case (id, v) => o.put(id.toString, v) }
    }
    pm.kr.foreach { case (lo, hi) =>
      val a = n.putArray("kr"); a.add(lo); a.add(hi); ()
    }
    if (pm.pb.nonEmpty) n.put("pb", b64Longs(pm.pb))
    if (pm.kv.nonEmpty) {
      val o = n.putObject("kv")
      pm.kv.foreach { case (id, hs) => o.put(id.toString, b64Longs(hs)) }
    }
    n
  }

  /** Packed base64 of big-endian longs — the `kmvb` wire form, shared
    * by part blooms and part-folded sketches.
    */
  private def b64Longs(hs: Seq[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(hs.length * 8)
    hs.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def longsB64(b64: String): Seq[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Vector.fill(bytes.length / 8)(bb.getLong)
  }

  private def readPartMeta(root: JsonNode): Option[Seq[LakeCpPart]] =
    Option(root.get("partmeta")).map(_.elements().asScala.map { n =>
      def strPairs(field: String): Map[Long, (String, String)] =
        Option(n.get(field)).map(_.properties().asScala.map(e =>
          e.getKey.toLong -> ((e.getValue.get(0).asText, e.getValue.get(1).asText)))
          .toMap).getOrElse(Map.empty)
      def longPairs(field: String): Map[Long, (Long, Long)] =
        Option(n.get(field)).map(_.properties().asScala.map(e =>
          e.getKey.toLong -> ((e.getValue.get(0).asLong, e.getValue.get(1).asLong)))
          .toMap).getOrElse(Map.empty)
      LakeCpPart(n.get("p").asInt, n.get("n").asInt,
        Option(n.get("pv")).map(_.properties().asScala.map(e =>
          e.getKey.toLong -> e.getValue.elements().asScala.map(_.asText()).toSeq)
          .toMap).getOrElse(Map.empty),
        strPairs("pr"), longPairs("cr"),
        liveRows = Option(n.get("lr")).map(_.asLong).getOrElse(-1L),
        sr = strPairs("sr"),
        sm = Option(n.get("sm")).map(_.properties().asScala.map(e =>
          e.getKey.toLong -> e.getValue.asLong).toMap).getOrElse(Map.empty),
        nc = Option(n.get("nc")).map(_.properties().asScala.map(e =>
          e.getKey.toLong -> e.getValue.asLong).toMap).getOrElse(Map.empty),
        df = Option(n.get("df")).exists(_.asBoolean),
        tv = Option(n.get("tv")).map(_.properties().asScala.map(e =>
          e.getKey.toLong -> e.getValue.asText).toMap).getOrElse(Map.empty),
        kr = Option(n.get("kr")).map(a => (a.get(0).asText, a.get(1).asText)),
        pb = Option(n.get("pb")).map(x => longsB64(x.asText)).getOrElse(Seq.empty),
        kv = Option(n.get("kv")).map(_.properties().asScala.map(e =>
          e.getKey.toLong -> longsB64(e.getValue.asText)).toMap)
          .getOrElse(Map.empty))
    }.toSeq)

  /** The manifest's per-part index of checkpoint `v` (empty when the
    * checkpoint is absent or pre-partmeta) — an O(1) manifest read,
    * ZERO part parses: the `__parts` companion table's source.
    */
  private[sources] def checkpointPartIndex(dir: Path, v: Long): Seq[LakeCpPart] = {
    val f = checkpointFile(dir, v)
    if (!Files.isRegularFile(f)) Seq.empty
    else readPartMeta(mapper.readTree(Files.readAllBytes(f))).getOrElse(Seq.empty)
  }

  /** Delta files opened since process start — spec instrumentation for
    * the incremental history fold (each retained delta read ONCE).
    */
  private[graft] val deltaReads = new java.util.concurrent.atomic.AtomicLong

  /** Per-version census for `__history`, folded FORWARD from commit
    * deltas: one pass, each retained delta read once —
    * O(versions + changed files), where reconstructing a snapshot per
    * version is O(versions × files). Starts from the checkpoint below
    * the oldest retained delta when vacuum pruned the chain's prefix
    * (that version's row keeps a null commit instant once its delta is
    * gone, same as snapshot-based reconstruction produced). Returns
    * `(version, commitTimeMs, nFiles, nRows, nLiveRows)` ascending.
    */
  def historyCensus(dir: Path): Seq[(Long, Option[Long], Int, Long, Long)] = {
    val deltas = listLog(dir, "v").sorted
    if (deltas.isEmpty) return Seq.empty
    // pruned-prefix base: the SMALLEST checkpoint from which the
    // retained delta chain folds forward (vacuum checkpoints AT its
    // retention floor, the same version as the oldest retained delta)
    val base: Option[LakeSnapshot] =
      if (deltas.head == 0L) None
      else listLog(dir, "c").filter(_ >= deltas.head - 1).minOption
        .flatMap(readCheckpoint(dir, _))
    // a broken log must be DISTINGUISHABLE from an empty table: an
    // unanchored chain (retained deltas with no checkpoint at or below
    // their floor) silently returning zero history rows would make
    // __history / CALL system.history look like a fresh table
    if (deltas.head > 0L && base.isEmpty)
      throw new IllegalStateException(
        s"graftlake log at $dir is unanchored: oldest retained delta is " +
          s"v${deltas.head} but no checkpoint >= v${deltas.head - 1} exists")
    base.filter(_.version > deltas.head).foreach { s =>
      throw new IllegalStateException(
        s"graftlake log at $dir has retained deltas below its minimum " +
          s"checkpoint: deltas start at v${deltas.head} but the smallest " +
          s"anchoring checkpoint is v${s.version} — census rows for the " +
          "gap cannot be reconstructed")
    }
    var files = Map.empty[String, LakeFile]
    var nRows = 0L
    var nLive = 0L
    def remove(p: String): Unit = files.get(p).foreach { f =>
      nRows -= f.rows; nLive -= f.liveRows; files -= p
    }
    def add(f: LakeFile): Unit = {
      remove(f.path) // a changed entry may ride as a bare re-add
      nRows += f.rows; nLive += f.liveRows; files += f.path -> f
    }
    val out = Seq.newBuilder[(Long, Option[Long], Int, Long, Long)]
    base.foreach { s =>
      s.files.foreach(add)
      out += ((s.version, commitTimeMs(dir, s.version), files.size, nRows, nLive))
    }
    for (v <- deltas if base.forall(_.version < v)) {
      deltaAt(dir, v).foreach { d =>
        d.removes.foreach(remove)
        d.adds.foreach(add)
        out += ((v, commitTimeMs(dir, v), files.size, nRows, nLive))
      }
    }
    out.result()
  }

  /** Wall-clock commit time of version `v` (None once pruned). */
  def commitTimeMs(dir: Path, v: Long): Option[Long] = {
    val f = versionFile(dir, v)
    if (!Files.isRegularFile(f)) None
    else Option(mapper.readTree(Files.readAllBytes(f)).get("ts")).map(_.asLong())
  }

  /** The newest version committed at or before `tsMs` — the
    * `TIMESTAMP AS OF` resolution rule. Versions whose delta was
    * vacuumed carry no timestamp and cannot be selected (time travel
    * contracts to the retention window, same as version travel).
    */
  def versionAtTime(dir: Path, tsMs: Long): Option[Long] =
    listLog(dir, "v")
      .filter(v => commitTimeMs(dir, v).exists(_ <= tsMs))
      .maxOption

  /** Delete log records (deltas AND checkpoints) below `floor`;
    * returns the number of VERSION files removed. The caller must have
    * checkpointed `floor` first or reads of retained versions break.
    */
  def pruneBelow(dir: Path, floor: Long): Int = {
    val deltas = listLog(dir, "v").filter(_ < floor)
    deltas.foreach(v => Files.deleteIfExists(versionFile(dir, v)))
    listLog(dir, "c").filter(_ < floor).foreach { v =>
      // manifest FIRST (the discovery point), then its parts
      Files.deleteIfExists(checkpointFile(dir, v))
      var p = 0
      while (Files.deleteIfExists(checkpointPartFile(dir, v, p))) p += 1
    }
    deltas.size
  }

  // ---- named REFS: tags + the staging branch (write-audit-publish) ----
  // A ref is a small `_log/ref-<name>.json` {name, version, kind}.
  //   - kind "tag": immutable pin of one version (create-if-absent);
  //     resolvable via `VERSION AS OF '<name>'`; vacuum keeps every
  //     tagged version reconstructible.
  //   - kind "main": the pinned DEFAULT view while a staging branch is
  //     active — plain reads resolve through it; its creation is the
  //     create-if-absent lock that makes the staging branch exclusive.
  //   - kind "branch": the staging marker; resolves to the CURRENT
  //     head (the branch absorbs every commit while main is pinned).
  // Publish = unlink the main ref (one atomic unlink — readers see the
  // pinned view or the head, never between), then the marker.

  private def refFile(dir: Path, name: String): Path =
    logDir(dir).resolve(s"ref-$name.json")

  def validRefName(name: String): Boolean =
    name.matches("[A-Za-z][A-Za-z0-9_-]*")

  /** (version, kind) of ref `name` — the raw record; branch refs
    * resolve to the head at READ time, not this recorded base.
    */
  def readRef(dir: Path, name: String): Option[(Long, String)] = {
    val f = refFile(dir, name)
    if (!Files.isRegularFile(f)) None
    else {
      val root = mapper.readTree(Files.readAllBytes(f))
      Some((root.get("version").asLong, root.get("kind").asText))
    }
  }

  /** Write ref `name`; `replace = false` is atomic create-if-absent
    * (returns false when the ref exists — the tag/lock contract),
    * `replace = true` atomically swaps the record.
    */
  def writeRef(dir: Path, name: String, version: Long, kind: String,
      replace: Boolean): Boolean = {
    require(validRefName(name), s"invalid ref name '$name'")
    val root = mapper.createObjectNode()
    root.put("name", name)
    root.put("version", version)
    root.put("kind", kind)
    if (!replace) publish(dir, refFile(dir, name), root)
    else {
      val tmp = Files.createTempFile(logDir(dir), ".ref", ".tmp")
      Files.write(tmp, mapper.writeValueAsBytes(root))
      Files.move(tmp, refFile(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    }
  }

  def dropRef(dir: Path, name: String): Boolean =
    Files.deleteIfExists(refFile(dir, name))

  /** All refs, name-sorted: (name, recorded version, kind). */
  def listRefs(dir: Path): Seq[(String, Long, String)] = {
    val ld = logDir(dir)
    val names =
      if (!Files.isDirectory(ld)) Seq.empty[String]
      else scala.util.Using.resource(Files.list(ld)) { s =>
        s.iterator().asScala.map(_.getFileName.toString)
          .collect { case n if n.startsWith("ref-") && n.endsWith(".json") =>
            n.stripPrefix("ref-").stripSuffix(".json") }
          .toSeq
      }
    names.sorted.flatMap(n => readRef(dir, n).map { case (v, k) => (n, v, k) })
  }

  private def publish(dir: Path, target: Path, root: ObjectNode,
      pretty: Boolean = true): Boolean = {
    val tmp = Files.createTempFile(logDir(dir), ".commit", ".tmp")
    // checkpoint PARTS publish compactly: the split is cut by measured
    // COMPACT entry size, so the on-disk part must serialize the same
    // way or parts systematically exceed the configured byte bound
    // (pretty-print overhead), loosening the per-task parse guarantee
    Files.write(tmp,
      if (pretty) mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
      else mapper.writeValueAsBytes(root))
    try {
      // hard-link the finished tmp into place: link(2) is atomic AND
      // fails if the target exists — exactly one writer can publish
      // the record, and readers never observe a partial file (rename(2)
      // would silently REPLACE an existing target on POSIX)
      Files.createLink(target, tmp)
      Files.delete(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); false
    }
  }
}

/** Column-type gate for lake tables (the storage encoding itself is
  * plain parquet through [[LakeParquet]]).
  */
object LakeCodec {
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | BooleanType => true
    case _ => false
  }
}

object LakeTable {
  /** The `_file` metadata column (relative path of the row's data file). */
  val FileColumn = "_file"
  /** The `_pos` metadata column (physical ordinal within the file —
    * stable under delete vectors, which SKIP positions, never renumber).
    */
  val PosColumn = "_pos"
  /** Format-internal table properties ALTER TABLE may not touch
    * (`txn.*` idempotence watermarks are likewise reserved).
    */
  val ReservedProps: Set[String] =
    Set("colids", "maxcolid", LakePartitioning.PropKey, LakePartitioning.SpecsKey)

  /** `bloomBy` accepts a comma-separated column list. */
  def bloomCols(props: Map[String, String]): Seq[String] =
    props.get("bloomBy").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** `upsert_key` parsed into its ordered column list — 'k' or the
    * COMPOSITE 'k1,k2' (a CDC key like (tenant, id)).
    */
  def upsertKeyCols(prop: String): Seq[String] =
    prop.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The `upsert_key` components resolved against a schema:
    * (column name, stable col id, long|string) per component — the
    * shape every keyed write path (upsert option, canonical MERGE,
    * CDC apply) feeds to key collection and record construction.
    */
  def keyedColumns(schema: StructType,
      props: Map[String, String]): Seq[(String, Long, String)] =
    props.get("upsert_key").map { key =>
      upsertKeyCols(key).map { k =>
        val id = LakeColIds.cols(schema, props).find(_._1 == k).map(_._2)
          .getOrElse(throw new IllegalArgumentException(
            s"graftlake: upsert_key column '$k' not in the table schema"))
        val kind = schema(k).dataType match {
          case LongType | IntegerType => "long"
          case StringType => "string"
          case dt => throw new IllegalArgumentException(
            s"graftlake: upsert_key must be integral or string, got ${dt.simpleString}")
        }
        (k, id, kind)
      }
    }.getOrElse(Seq.empty)

  /** `bloom_inline=true` keeps bloom bitsets base64-INSIDE log entries
    * (zero probe-time IO — right for small tables); the default is a
    * binary SIDECAR per data file, loaded lazily at probe time, so a
    * million-file bloomBy table's log does not inflate ~50× per entry.
    */
  def bloomInline(props: Map[String, String]): Boolean =
    props.get("bloom_inline").exists(_.toBoolean)

  /** DATA columns eligible for RUNTIME file pruning (dynamic file
    * pruning, the Delta/Photon shape): a selective dimension join's
    * executed key values come back as an IN predicate and files whose
    * stats/blooms exclude every value never plan as tasks. Reported
    * columns are the ones whose per-file metadata is actually tight —
    * declared layout columns (partition transform SOURCES incl.
    * trunc/bucket, `sortBy`, `clusterBy`), `bloomBy` point-lookup
    * columns, and explicit `runtime_filter_cols` opt-ins (e.g. the
    * curve columns of a zorder-maintained table, which the procedure
    * call names but no property records).
    */
  def runtimeFilterCols(props: Map[String, String],
      schema: StructType): Seq[String] = {
    val declared =
      LakePartitioning.decode(props).map(_.col) ++
        props.get("sortBy") ++ props.get("clusterBy") ++
        bloomCols(props) ++
        props.get("runtime_filter_cols").toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    declared.distinct.filter(schema.fieldNames.contains)
  }

  /** The declared clustering every write lays rows out by: the
    * partition source columns plus `clusterBy`. Clustering on the
    * partition sources keeps each write task's open-file set small.
    */
  def clusterCols(props: Map[String, String]): Seq[String] =
    (LakePartitioning.decode(props).map(_.col) ++ props.get("clusterBy")).distinct

  /** `target_file_bytes`: the write-side ADVISORY shuffle-partition
    * size ([[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering#advisoryPartitionSizeInBytes]])
    * — AQE sizes the layout shuffle's partitions toward this many
    * bytes, so output files land near the target instead of
    * one-tiny-file-per-task (the Iceberg `write.target-file-size`
    * knob). 0 (unset) defers to the session's advisory size.
    */
  def targetFileBytes(props: Map[String, String]): Long =
    props.get("target_file_bytes").flatMap(_.toLongOption).getOrElse(0L)

  /** `compression`: the parquet codec for data files (snappy default;
    * validated at DDL against [[LakeParquet.Codecs]]). Reads need no
    * property — the codec is per-page in the file, so tables mix
    * codecs freely across commits (an ALTER re-encodes nothing).
    */
  def codecOf(props: Map[String, String]): String =
    props.getOrElse("compression", "snappy")

  /** `row_group_bytes`: intra-file skipping granularity (0 = parquet's
    * 128 MB default). Smaller groups make row-group pruning finer
    * under point predicates at the cost of footer metadata.
    */
  def rowGroupBytes(props: Map[String, String]): Long =
    props.get("row_group_bytes").flatMap(_.toLongOption).getOrElse(0L)
}

class LakeTable(dir: Path, snapshot: LakeSnapshot, pinnedVersion: Option[Long])
  extends Table with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsDeleteV2 with SupportsMetadataColumns
  with SupportsPartitionManagement {

  override def name(): String =
    s"graftlake.${dir.getFileName}" + pinnedVersion.map(v => s"@v$v").getOrElse("")
  /** Table location on the lake filesystem (the CDC-apply command and
    * other plan-level rewrites need it to run the connector's own
    * task-side writers outside a V2 write plan).
    */
  def location: Path = dir
  override def schema(): StructType = snapshot.schema
  // ENFORCED checks reported here are injected into every write plan
  // by Spark's own analyzer (ResolveTableConstraints) — the format
  // stores and reports; the engine enforces
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    LakeConstraints.decode(snapshot.props)
  override def properties(): java.util.Map[String, String] = snapshot.props.asJava
  override def partitioning(): Array[Transform] =
    LakePartitioning.toTransforms(LakePartitioning.decode(snapshot.props))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = LakeTable.FileColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "relative path of the row's data file"
    },
    new MetadataColumn {
      override def name(): String = LakeTable.PosColumn
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "physical row ordinal within the data file"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(dir, snapshot, onPlanned = None, options = options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty, "cannot write to a time-travel snapshot")
    new LakeWriteBuilder(dir, snapshot.schema, info, snapshot.props)
  }

  // ---- partition management (SHOW PARTITIONS / DROP PARTITION) ---------

  /** SHOW-PARTITIONS columns of the current spec: identity fields keep
    * their source column (name + type); transform fields synthesize an
    * Iceberg-style `trunc(n,col)` / `bucket(n,col)` column typed as
    * the tuple ORDINAL — `SHOW PARTITIONS` then reports
    * `trunc(86400000000,ts_us)=19723`-shaped rows, so an operator sees
    * bucket population before calling `system.compact_where`.
    */
  private def partitionCols: Seq[StructField] = {
    val fields = LakePartitioning.decode(snapshot.props)
    if (fields.isEmpty)
      throw new UnsupportedOperationException(
        s"graftlake: ${dir.getFileName} is not partitioned")
    fields.map {
      case LakePartitioning.Identity(c) =>
        snapshot.schema(snapshot.schema.fieldIndex(c))
      case LakePartitioning.Trunc(c, n) =>
        StructField(s"trunc($n,$c)", LongType, nullable = true)
      case LakePartitioning.Bucket(c, n) =>
        StructField(s"bucket($n,$c)", IntegerType, nullable = true)
    }
  }

  override def partitionSchema(): StructType = StructType(partitionCols)

  /** The DISTINCT current-spec tuples of the head snapshot, optionally
    * filtered by a partial identifier — partitions are data-derived,
    * so listing is a log fold, zero file opens.
    */
  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val cols = partitionCols.map(_.name)
    val fields = LakePartitioning.decode(snapshot.props)
    val curId = LakePartitioning.currentSpecId(snapshot.props)
    val schema0 = partitionSchema()
    val idx = names.map(cols.indexOf)
    require(idx.forall(_ >= 0),
      s"unknown partition columns ${names.mkString(",")}")
    snapshot.files.filter(f => f.specId == curId && f.part.nonEmpty)
      .map(_.part).distinct.sortBy(_.toString)
      .map(t => new GenericInternalRow(
        LakePartitioning.keyValues(fields, t, snapshot.schema)): InternalRow)
      .filter { r =>
        idx.zipWithIndex.forall { case (ci, vi) =>
          val dt = schema0(ci).dataType
          val a = if (r.isNullAt(ci)) null else r.get(ci, dt)
          val b = if (ident.isNullAt(vi)) null else ident.get(vi, dt)
          a == b
        }
      }.toArray
  }

  override def createPartition(ident: InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graftlake partitions are data-derived; write rows to create one")

  override def replacePartitionMetadata(ident: InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graftlake partitions carry no metadata")

  override def loadPartitionMetadata(ident: InternalRow): java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  /** `ALTER TABLE … DROP PARTITION` / `TRUNCATE TABLE … PARTITION`: a
    * metadata-only commit removing every current-spec file of the
    * tuple — instant at any table size, zero rows read; the data files
    * become unreferenced and `system.vacuum` reclaims them. Files from
    * an older partition spec make tuple identity ambiguous — refuse,
    * exactly like dynamic partition overwrite.
    */
  override def dropPartition(ident: InternalRow): Boolean = {
    require(pinnedVersion.isEmpty, "cannot mutate a time-travel snapshot")
    val schema0 = partitionSchema()
    val key: Seq[Option[String]] = (0 until schema0.length).map { i =>
      if (ident.isNullAt(i)) None
      else Some(String.valueOf(ident.get(i, schema0(i).dataType)))
    }
    LakeLog.commitLoop(dir) { cur =>
      val curId = LakePartitioning.currentSpecId(cur.props)
      require(cur.files.forall(_.specId == curId),
        "graftlake: drop partition with files from an older partition " +
          "spec is ambiguous — run CALL system.compact first")
      val (hit, keep) = cur.files.partition(_.part == key)
      if (hit.isEmpty) None else Some(LakeLog.Replace(cur.next(keep)))
    }.isDefined
  }

  override def truncatePartition(ident: InternalRow): Boolean = dropPartition(ident)

  // ---- metadata-only DELETE --------------------------------------------

  /** True iff every live file's stats DECIDE the conjunction: the delete
    * can then drop files from the log without reading a row. Undecidable
    * predicates return false and Spark falls back to the copy-on-write
    * rewrite below — correctness never depends on stats.
    */
  private def metadataDeletable(predicates: Array[VPredicate]): Boolean = {
    val cols = LakeColIds.cols(snapshot.schema, snapshot.props)
    snapshot.files.forall(f =>
      LakeStats.decide(f, predicates,
        LakeColIds.physicalName(cols, f, _),
        LakePartitioning.resolver(snapshot.props, f)) != LakeStats.Mixed)
  }

  /** An EQUALITY-deletable predicate: exactly one `=`/`IN` over the
    * declared `upsert_key` column with all-literal values of the key's
    * type. Such a DELETE commits ONE equality-delete record and never
    * opens a data file — every live file predates the new commit, so
    * the scope is total and the semantics exact (rows inserted later
    * are untouched, like any DELETE).
    */
  private def eqDeletable(predicates: Array[VPredicate])
      : Option[(Long, String, Seq[Long], Seq[String])] = {
    val key = snapshot.props.get("upsert_key").getOrElse(return None)
    if (LakeTable.upsertKeyCols(key).length != 1) return None
    if (predicates.length != 1) return None
    val p = predicates.head
    val kids = p.children()
    def colOk(e: VExpression): Boolean = e match {
      case f: NamedReference => f.fieldNames.sameElements(Array(key))
      case _ => false
    }
    def lit(e: VExpression): Option[Any] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => Option(l.value())
      case _ => None
    }
    val vals: Seq[Any] = p.name() match {
      case "=" if kids.length == 2 && colOk(kids(0)) =>
        lit(kids(1)).toSeq match { case s if s.nonEmpty => s; case _ => return None }
      case "IN" if kids.nonEmpty && colOk(kids.head) =>
        val vs = kids.tail.toSeq.map(lit)
        if (vs.forall(_.isDefined)) vs.flatten else return None
      case _ => return None
    }
    val id = LakeColIds.cols(snapshot.schema, snapshot.props)
      .find(_._1 == key).map(_._2).getOrElse(return None)
    snapshot.schema(key).dataType match {
      case LongType | IntegerType =>
        val ls = vals.map {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long => l.longValue
          case _ => return None
        }
        Some((id, "long", ls.distinct.sorted, Seq.empty))
      case StringType =>
        val ss = vals.map {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case st: String => st
          case _ => return None
        }
        Some((id, "string", Seq.empty, ss.distinct.sorted))
      case _ => None
    }
  }

  /** COMPOSITE twin of [[eqDeletable]]: a conjunction that constrains
    * EVERY `upsert_key` component with `=`/`IN` literals — and nothing
    * else — deletes exactly the CROSS-PRODUCT tuple set (a conjunction
    * of per-column INs IS a cross product), committed as one "tuple"
    * record with zero data-file opens. Anything partial, repeated, or
    * non-literal falls back to the scanning paths.
    */
  private def tupleDeletable(predicates: Array[VPredicate])
      : Option[(Seq[(Long, String)], Seq[Seq[Any]])] = {
    val keys = snapshot.props.get("upsert_key")
      .map(LakeTable.upsertKeyCols).getOrElse(return None)
    if (keys.length < 2) return None
    def flat(p: VPredicate): Option[Seq[VPredicate]] =
      if (p.name() == "AND") {
        val kids = p.children().toSeq.map {
          case q: VPredicate => flat(q)
          case _ => None
        }
        if (kids.exists(_.isEmpty)) None else Some(kids.flatten.flatten)
      } else Some(Seq(p))
    val flats = predicates.toSeq.map(flat)
    if (flats.exists(_.isEmpty)) return None
    val conjuncts = flats.flatten.flatten
    def colOf(e: VExpression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
      case _ => None
    }
    def lit(e: VExpression): Option[Any] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => Option(l.value())
      case _ => None
    }
    val perCol = scala.collection.mutable.Map.empty[String, Seq[Any]]
    conjuncts.foreach { p =>
      val kids = p.children()
      val entry: Option[(String, Seq[Any])] = p.name() match {
        case "=" if kids.length == 2 =>
          for { c <- colOf(kids(0)); v <- lit(kids(1)) } yield c -> Seq(v)
        case "IN" if kids.nonEmpty =>
          colOf(kids.head).flatMap { c =>
            val vs = kids.tail.toSeq.map(lit)
            if (vs.forall(_.isDefined)) Some(c -> vs.flatten) else None
          }
        case _ => None
      }
      entry match {
        case Some((c, vs)) if keys.contains(c) && !perCol.contains(c) =>
          perCol(c) = vs
        case _ => return None
      }
    }
    if (keys.exists(k => !perCol.contains(k))) return None
    val cols = LakeColIds.cols(snapshot.schema, snapshot.props)
    val comps: Seq[(Long, String, Seq[Any])] = keys.map { k =>
      val id = cols.find(_._1 == k).map(_._2).getOrElse(return None)
      snapshot.schema(k).dataType match {
        case LongType | IntegerType =>
          val ls = perCol(k).map {
            case i: java.lang.Integer => i.longValue: Any
            case l: java.lang.Long => l.longValue: Any
            case _ => return None
          }
          (id, "long", ls.distinct)
        case StringType =>
          val ss = perCol(k).map {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString: Any
            case st: String => st: Any
            case _ => return None
          }
          (id, "string", ss.distinct)
        case _ => return None
      }
    }
    // cap the cross product so a pathological DELETE falls back to scan
    val size = comps.map(_._3.size.toLong).product
    if (size == 0L || size > 100000L) return None
    val tuples = comps.foldLeft(Seq(Seq.empty[Any])) { (acc, c) =>
      acc.flatMap(t => c._3.map(v => t :+ v))
    }.sortBy(LakeEq.encodeTuple)
    Some((comps.map(c => (c._1, c._2)), tuples))
  }

  // EQUALITY first: it is O(predicate) where the metadata decision
  // walks (and on a parted snapshot MATERIALIZES) the whole census —
  // the keyed-delete hot path must stay zero-read however large the
  // table. A keyed delete takes the record path even when the key set
  // happens to cover whole files; compaction reclaims those later.
  override def canDeleteWhere(predicates: Array[VPredicate]): Boolean =
    eqDeletable(predicates).isDefined || tupleDeletable(predicates).isDefined ||
      metadataDeletable(predicates)

  override def deleteWhere(predicates: Array[VPredicate]): Unit = {
    if (eqDeletable(predicates).isDefined) {
      // EQUALITY path: one record, zero data-file opens or drops
      val (id, kind, ls, ss) = eqDeletable(predicates).getOrElse(
        throw new IllegalStateException(
          "deleteWhere on an undecidable predicate (canDeleteWhere was false)"))
      val ref =
        if (kind == "long") LakeEq.writeLongs(dir, ls.toArray)
        else LakeEq.writeStrs(dir, ss.toArray)
      val eq = LakeEqDelete(0L, id, ref, (ls.length + ss.length).toLong, kind)
      LakeLog.commitLoop(dir)(cur =>
        Some(LakeLog.Replace(cur.next(cur.files), eqAdd = Seq(eq))))
      return
    }
    tupleDeletable(predicates) match {
      case Some((cs, tuples)) =>
        // COMPOSITE equality path: one tuple record, zero file opens
        val ref = LakeEq.writeTuples(dir, tuples, cs.map(_._2))
        val eq = LakeEqDelete(0L, cs.head._1, ref, tuples.length.toLong,
          "tuple", cols = cs)
        LakeLog.commitLoop(dir)(cur =>
          Some(LakeLog.Replace(cur.next(cur.files), eqAdd = Seq(eq))))
        return
      case None => ()
    }
    LakeLog.commitLoop(dir) { cur =>
      val cols = LakeColIds.cols(cur.schema, cur.props)
      val keep = cur.files.filter(f =>
        LakeStats.decide(f, predicates, LakeColIds.physicalName(cols, f, _),
          LakePartitioning.resolver(cur.props, f)) match {
          case LakeStats.All => false
          case LakeStats.None_ => true
          case LakeStats.Mixed => throw new IllegalStateException(
            s"deleteWhere on undecidable file ${f.path} (canDeleteWhere was false)")
        })
      Some(LakeLog.Replace(cur.next(keep)))
    }
  }

  override def truncateTable(): Boolean = {
    LakeLog.commitLoop(dir)(cur => Some(LakeLog.Replace(cur.next(Seq.empty))))
    true
  }

  // ---- copy-on-write row-level operations ------------------------------

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty, "cannot mutate a time-travel snapshot")
    if (snapshot.props.get("mode").contains("mor"))
      () => new LakeDeltaOperation(dir, snapshot, info.command())
    else
      () => new LakeRowLevelOperation(dir, snapshot, info.command())
  }
}

/** One DELETE/UPDATE/MERGE execution: the scan half records which files
  * were ultimately planned (post runtime group filtering); the write
  * half commits `live − scanned + rewritten` — the copy-on-write swap.
  */
class LakeRowLevelOperation(dir: Path, snapshot: LakeSnapshot,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Files the operation's scan planned — the replacement group set.
    * The all-files default resolves LAZILY: the operation is
    * constructed during DELETE/UPDATE analysis even when the
    * metadata-only rewrite wins, and the default must not charge that
    * path a full census materialization.
    */
  @volatile private var plannedFiles: Option[Seq[String]] = None
  private[sources] def scannedFiles: Seq[String] =
    plannedFiles.getOrElse(snapshot.files.map(_.path))
  private[sources] def scannedFiles_=(fs: Seq[String]): Unit =
    plannedFiles = Some(fs)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graftlake-cow-$cmd"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(LakeTable.FileColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(dir, snapshot, onPlanned = Some(files => scannedFiles = files),
      command = Some(cmd))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      // rewritten files keep the table's declared layout — a COW
      // rewrite must not silently degrade the layout appends were
      // forced to satisfy
      override def build(): Write = new LakeLayoutWrite(snapshot.props) {
        override def description(): String = s"graftlake-replace-$cmd"
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
            LakeWriterFactory(dir.toString, info.schema(), snapshot.schema.fieldNames,
              LakePartitioning.decode(snapshot.props),
              bloomBy = LakeTable.bloomCols(snapshot.props),
              bloomInline = LakeTable.bloomInline(snapshot.props),
              codec = LakeTable.codecOf(snapshot.props),
              rowGroupBytes = LakeTable.rowGroupBytes(snapshot.props))
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val written = LakeLog.writtenEntries(
              messages.toSeq.flatMap(_.asInstanceOf[LakeFileMessage].files),
              snapshot.schema, snapshot.props, snapshot.props.get("sortBy").toSeq)
            val replaced = scannedFiles.toSet
            LakeLog.commitLoop(dir) { cur =>
              LakeLog.requireReadSetCurrent(cur, snapshot, replaced, written.nonEmpty)
              Some(LakeLog.Replace(
                cur.next(cur.files.filterNot(f => replaced(f.path)) ++ written)))
            }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            LakeWriterFactory.deleteAll(dir.toString, messages)
        }
      }
    }
}

/** The per-column ESTIMATOR fold behind `LakeScan.columnStats`, the
  * `__stats` metadata table and the checkpoint manifest's census:
  * integral min/max across files, summed null counts, and a KMV-merged
  * NDV (strings sketch too). Each stat is reported only when every
  * input covers it; a file that predates the column contributes `rows`
  * nulls, and an all-null file legitimately carries no min/max.
  */
final class LakeColumnFold(fd: StructField) {
  private val integral = fd.dataType == LongType || fd.dataType == IntegerType
  private var lo = Long.MaxValue
  private var hi = Long.MinValue
  private var nulls = 0L
  private var haveMm = integral
  private var haveNulls = true
  private var haveKmv = integral || fd.dataType == StringType
  private val kmvIn = Seq.newBuilder[Seq[Long]]

  /** A checkpoint part's pre-folded summary of the column. */
  def addSummary(range: Option[(Long, Long)], nullCount: Long,
      kmv: Option[Seq[Long]]): Unit = {
    range.foreach { case (l, h) => lo = math.min(lo, l); hi = math.max(hi, h) }
    nulls += nullCount
    kmv.foreach(kmvIn += _)
  }

  /** One data file, resolved through its physical name for the column. */
  def addFile(cols: Seq[(String, Long)], f: LakeFile): Unit =
    LakeColIds.physicalName(cols, f, fd.name) match {
      case None => nulls += f.rows // predates the column
      case Some(p) =>
        f.nulls.get(p) match {
          case Some(nn) => nulls += nn
          case None => haveNulls = false
        }
        f.stats.get(p) match {
          case Some((l, h)) => lo = math.min(lo, l); hi = math.max(hi, h)
          case None => if (!f.nulls.get(p).contains(f.rows)) haveMm = false
        }
        f.kmv.get(p) match {
          case Some(hs) => kmvIn += hs
          case None => haveKmv = false
        }
    }

  /** (min/max, null count, NDV) — each None when coverage is incomplete. */
  def result(): (Option[(Long, Long)], Option[Long], Option[Long]) =
    (if (haveMm && lo <= hi) Some((lo, hi)) else None,
      if (haveNulls) Some(nulls) else None,
      if (haveKmv) LakeParquet.kmvEstimate(kmvIn.result()) else None)
}

/** Per-file stats decisions for a predicate conjunction. */
object LakeStats {
  sealed trait Decision
  case object All extends Decision
  case object None_ extends Decision
  case object Mixed extends Decision

  private def litLong(e: VExpression): Option[Long] = e match {
    case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value() match {
      case i: java.lang.Integer => Some(i.longValue)
      case i: java.lang.Long => Some(i.longValue)
      case i: java.lang.Short => Some(i.longValue)
      case _ => None
    }
    case _ => None
  }
  private def colName(e: VExpression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
    case _ => None
  }
  private def litAny(e: VExpression): Option[Any] = e match {
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      Option(l.value())
    case _ => None
  }
  private def litStr(e: VExpression): Option[org.apache.spark.unsafe.types.UTF8String] =
    e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value() match {
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u)
        case s: String => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case _ => None
      }
      case _ => None
    }

  /** The EXCLUSIVE upper bound of the prefix set: every string starting
    * with `v` sits in `[v, prefixSuccessor(v))` in unsigned UTF-8 byte
    * order — increment v's last non-0xFF byte and drop the tail; None =
    * all-0xFF (the prefix set is unbounded above). The result may not
    * be valid UTF-8 — UTF8String.compareTo is pure byte order, which is
    * exactly the order sstats/sr record, so that's fine. This is what
    * lets `LIKE 'v%'` / STARTS_WITH join the string decision algebra
    * as an ordinary range.
    */
  private[sources] def prefixSuccessor(
      v: org.apache.spark.unsafe.types.UTF8String):
      Option[org.apache.spark.unsafe.types.UTF8String] = {
    val b = v.getBytes.clone()
    var i = b.length - 1
    while (i >= 0 && b(i) == -1) i -= 1
    if (i < 0) None
    else {
      b(i) = (b(i) + 1).toByte
      Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(
        java.util.Arrays.copyOf(b, i + 1)))
    }
  }

  /** Decide ONE predicate against a file's [lo,hi] stats. Min/max are
    * computed over NON-NULL values only, so an all-match verdict from
    * the range alone would silently sweep up NULL rows the predicate
    * does not match (NULL compares to nothing): every value-predicate
    * `All` is gated on the file's null count for that column being
    * KNOWN ZERO, else it degrades to Mixed — the Iceberg/Delta
    * nullCount gate. None_ needs no gate (null rows don't match
    * either, and "no rows match" keeps the file whole).
    */
  private def decideOne(f: LakeFile, p: VPredicate,
      resolve: String => Option[String],
      part: LakePartitioning.Resolver): Decision = {
    // `resolve` maps a CURRENT table column to its physical name in
    // THIS file ([[LakeColIds.physicalName]]). A file that predates the
    // column (None) holds only NULLs for it: value predicates match
    // nothing, IS NULL matches everything — decidable without stats.
    // `part` decides partition-column predicates EXACTLY from the
    // file's partition tuple (identity equality on ANY column type,
    // bucket mismatch), ahead of the integral-only min/max stats.
    def withStats(c: String)(eval: (Long, Long) => Decision): Decision =
      resolve(c) match {
        case None => None_
        case Some(pc) =>
          f.stats.get(pc).map { case (lo, hi) =>
            eval(lo, hi) match {
              case All if !f.nulls.get(pc).contains(0L) => Mixed
              case d => d
            }
          }.getOrElse(Mixed)
      }
    // the STRING twin: [lo,hi] in unsigned UTF-8 byte order
    // (UTF8String.compareTo — the order parquet's stats comparator
    // used), same null-count gate on All
    def withSStats(c: String)(
        eval: (org.apache.spark.unsafe.types.UTF8String,
               org.apache.spark.unsafe.types.UTF8String) => Decision): Decision =
      resolve(c) match {
        case None => None_
        case Some(pc) =>
          f.sstats.get(pc).map { case (lo, hi) =>
            eval(org.apache.spark.unsafe.types.UTF8String.fromString(lo),
              org.apache.spark.unsafe.types.UTF8String.fromString(hi)) match {
              case All if !f.nulls.get(pc).contains(0L) => Mixed
              case d => d
            }
          }.getOrElse(Mixed)
      }
    def nullCount(c: String): Either[Decision, Option[Long]] =
      resolve(c) match {
        case None => Left(All) // every value null; caller flips for IS_NOT_NULL
        case Some(pc) => Right(f.nulls.get(pc))
      }
    val kids = p.children()
    p.name() match {
      case "ALWAYS_TRUE" => All
      case "ALWAYS_FALSE" => None_
      case "IS_NULL" if kids.length == 1 =>
        colName(kids(0)).flatMap(part.isNull) match {
          case Some(true) => All
          case Some(false) => None_
          case None => colName(kids(0)).map(nullCount) match {
            case Some(Left(_)) => All
            case Some(Right(Some(0L))) => None_
            case Some(Right(Some(n))) if n == f.rows => All
            case _ => Mixed
          }
        }
      case "IS_NOT_NULL" if kids.length == 1 =>
        colName(kids(0)).flatMap(part.isNull) match {
          case Some(true) => None_
          case Some(false) => All
          case None => colName(kids(0)).map(nullCount) match {
            case Some(Left(_)) => None_
            case Some(Right(Some(0L))) => All
            case Some(Right(Some(n))) if n == f.rows => None_
            case _ => Mixed
          }
        }
      case "AND" if kids.length == 2 =>
        combine(decideOne(f, kids(0).asInstanceOf[VPredicate], resolve, part),
          decideOne(f, kids(1).asInstanceOf[VPredicate], resolve, part))
      case "OR" if kids.length == 2 =>
        (decideOne(f, kids(0).asInstanceOf[VPredicate], resolve, part),
          decideOne(f, kids(1).asInstanceOf[VPredicate], resolve, part)) match {
          case (All, _) | (_, All) => All // one disjunct matches every row
          case (None_, None_) => None_
          case _ => Mixed
        }
      case "NOT" if kids.length == 1 =>
        // three-valued logic: NOT(p) matches rows where p is FALSE, not
        // where p is NULL. An inner All is null-gated (every row TRUE)
        // → negation matches nothing. An inner None_ means FALSE-or-
        // NULL everywhere → All only when p provably never evaluates
        // NULL on this file (null-free operands, or IS [NOT] NULL which
        // never returns NULL).
        decideOne(f, kids(0).asInstanceOf[VPredicate], resolve, part) match {
          case All => None_
          case None_ if neverNullOn(f, kids(0).asInstanceOf[VPredicate],
            resolve, part) => All
          case _ => Mixed
        }
      case "<>" if kids.length == 2 =>
        (colName(kids(0)), litLong(kids(1)), litStr(kids(1))) match {
          case (Some(c), Some(v), _) => withStats(c) { (lo, hi) =>
            if (v < lo || v > hi) All // no row equals v (nulls gated by withStats)
            else if (lo == v && hi == v) None_
            else Mixed
          }
          case (Some(c), None, Some(v)) => withSStats(c) { (lo, hi) =>
            if (v.compareTo(lo) < 0 || v.compareTo(hi) > 0) All
            else if (lo == hi && v == lo) None_
            else Mixed
          }
          case _ => Mixed
        }
      case "=" if kids.length == 2 =>
        (colName(kids(0)), litAny(kids(1))) match {
          // every row of a file has _file = its path: exact decision —
          // what lets a partial rewrite scan ONLY its candidate files
          case (Some(LakeTable.FileColumn), Some(raw)) =>
            if (String.valueOf(raw) == f.path) All else None_
          case (Some(c), Some(raw)) =>
            part.eq(c, raw) match {
              case Some(true) => All // identity file: every row IS this value
              case Some(false) => None_
              case None => (litLong(kids(1)), litStr(kids(1))) match {
                case (Some(v), _) => withStats(c) { (lo, hi) =>
                  if (v < lo || v > hi) None_
                  else if (lo == v && hi == v) All
                  else Mixed
                }
                case (None, Some(v)) => withSStats(c) { (lo, hi) =>
                  if (v.compareTo(lo) < 0 || v.compareTo(hi) > 0) None_
                  else if (lo == hi && v == lo) All
                  else Mixed
                }
                case _ => Mixed
              }
            }
          case _ => Mixed
        }
      case "<" | "<=" | ">" | ">=" if kids.length == 2 =>
        (colName(kids(0)), litLong(kids(1)), litStr(kids(1))) match {
          case (Some(c), Some(v), _) => withStats(c) { (lo, hi) =>
            p.name() match {
              case "<" => if (hi < v) All else if (lo >= v) None_ else Mixed
              case "<=" => if (hi <= v) All else if (lo > v) None_ else Mixed
              case ">" => if (lo > v) All else if (hi <= v) None_ else Mixed
              case ">=" => if (lo >= v) All else if (hi < v) None_ else Mixed
            }
          }
          case (Some(c), None, Some(v)) => withSStats(c) { (lo, hi) =>
            p.name() match {
              case "<" =>
                if (hi.compareTo(v) < 0) All
                else if (lo.compareTo(v) >= 0) None_ else Mixed
              case "<=" =>
                if (hi.compareTo(v) <= 0) All
                else if (lo.compareTo(v) > 0) None_ else Mixed
              case ">" =>
                if (lo.compareTo(v) > 0) All
                else if (hi.compareTo(v) <= 0) None_ else Mixed
              case ">=" =>
                if (lo.compareTo(v) >= 0) All
                else if (hi.compareTo(v) < 0) None_ else Mixed
            }
          }
          case _ => Mixed
        }
      case "STARTS_WITH" if kids.length == 2 =>
        (colName(kids(0)), litStr(kids(1))) match {
          case (Some(c), Some(v)) =>
            // identity string partition: the single tuple value decides
            // exactly (an identity tuple Some(fv) means every row holds
            // fv, never null — same contract part.eq relies on)
            part.startsWith(c, v) match {
              case Some(true) => All
              case Some(false) => None_
              case None =>
                // the prefix set is the byte range [v, succ(v)) — the
                // string range rules apply verbatim
                val next = prefixSuccessor(v)
                withSStats(c) { (lo, hi) =>
                  if (hi.compareTo(v) < 0 ||
                      next.exists(n => lo.compareTo(n) >= 0)) None_
                  else if (lo.compareTo(v) >= 0 &&
                      next.forall(n => hi.compareTo(n) < 0)) All
                  else Mixed
                }
            }
          case _ => Mixed
        }
      case "IN" if kids.nonEmpty =>
        (colName(kids.head), kids.tail.toSeq.map(litAny)) match {
          case (Some(LakeTable.FileColumn), rawVals) if rawVals.forall(_.isDefined) =>
            if (rawVals.flatten.map(String.valueOf).contains(f.path)) All else None_
          case (Some(c), rawVals) if rawVals.forall(_.isDefined) =>
            val partDecisions = rawVals.flatten.map(part.eq(c, _))
            if (partDecisions.exists(_.contains(true))) All // identity: single-valued file
            else if (partDecisions.nonEmpty && partDecisions.forall(_.contains(false))) None_
            else {
              val vals = kids.tail.toSeq.map(litLong)
              val svals = kids.tail.toSeq.map(litStr)
              if (vals.forall(_.isDefined)) {
                val set = vals.flatten.toSet
                withStats(c) { (lo, hi) =>
                  if (set.forall(v => v < lo || v > hi)) None_
                  else if (hi - lo < 4096 && (lo to hi).forall(set.contains)) All
                  else Mixed
                }
              } else if (svals.forall(_.isDefined)) {
                val set = svals.flatten.toSet
                withSStats(c) { (lo, hi) =>
                  if (set.forall(v => v.compareTo(lo) < 0 || v.compareTo(hi) > 0)) None_
                  else if (lo == hi && set.contains(lo)) All
                  else Mixed
                }
              } else Mixed
            }
          case _ => Mixed
        }
      case _ => Mixed
    }
  }

  /** True when `p` provably never evaluates to NULL on any row of `f`:
    * IS [NOT] NULL never does; a null-intolerant value predicate never
    * does when every referenced column is null-free in this file
    * (`_file` is never null, an identity partition value is known
    * non-null, a data column has a recorded zero null count).
    * Compositions (AND/OR/NOT) are declined — FALSE OR NULL is NULL.
    */
  private def neverNullOn(f: LakeFile, p: VPredicate,
      resolve: String => Option[String],
      part: LakePartitioning.Resolver): Boolean = p.name() match {
    case "IS_NULL" | "IS_NOT_NULL" => true
    case "=" | "<" | "<=" | ">" | ">=" | "<>" | "IN" | "STARTS_WITH" =>
      p.references.forall { r =>
        r.fieldNames.length == 1 && {
          val c = r.fieldNames.head
          c == LakeTable.FileColumn ||
            part.isNull(c).contains(false) ||
            resolve(c).exists(pc => f.nulls.get(pc).contains(0L))
        }
      }
    case _ => false
  }

  private def combine(a: Decision, b: Decision): Decision = (a, b) match {
    case (None_, _) | (_, None_) => None_ // one conjunct excludes the file
    case (All, All) => All
    case _ => Mixed
  }

  /** Decide the CONJUNCTION of `predicates` against one file.
    * `resolve` maps current column names to the file's physical names
    * (identity for un-evolved tables); `part` carries the file's
    * partition tuple when the table is partitioned.
    */
  def decide(f: LakeFile, predicates: Array[VPredicate],
      resolve: String => Option[String],
      part: LakePartitioning.Resolver = LakePartitioning.NoResolver): Decision =
    predicates.map(decideOne(f, _, resolve, part)).foldLeft(All: Decision)(combine)

  /** True when `p` ALONE is exactly decided (All or None_) for `f` —
    * file pruning then applies it in full, leaving no per-row residual.
    */
  def exact(f: LakeFile, p: VPredicate, resolve: String => Option[String],
      part: LakePartitioning.Resolver): Boolean =
    decideOne(f, p, resolve, part) != Mixed
}

class LakeScanBuilder(dir: Path, snapshot: LakeSnapshot,
    onPlanned: Option[Seq[String] => Unit],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    // the copy-on-write operation this scan reads for, if any
    command: Option[RowLevelOperation.Command] = None)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownV2Filters with SupportsPushDownAggregates
  with SupportsPushDownLimit {

  private var required: StructType = snapshot.schema
  private var skips: Array[VPredicate] = Array.empty
  private var consumed: Array[VPredicate] = Array.empty
  private var pushedAggRow: Option[(StructType, Seq[InternalRow])] = None
  private var limitN: Option[Int] = None

  /** The entries this scan considers: on a PARTED (lazy multi-part
    * checkpoint) snapshot, only the parts the pushed predicates cannot
    * rule out are parsed — driver planning work O(relevant parts), not
    * O(files). Sound to decide everything downstream (consumption,
    * skipping, metadata aggregates) on this subset: a part-pruned file
    * provably matches no pushed predicate, so it contributes no rows
    * and would decide None_ anyway. Without pushed predicates (or on
    * an eager snapshot) this is the full list.
    */
  private var candCache: (Array[VPredicate], Seq[LakeFile]) = null
  private def candidates: Seq[LakeFile] = {
    // keyed by the CURRENT pushed set (reference): a re-push with a
    // different predicate set must never reuse a stale pruning
    if (candCache == null || !(candCache._1 eq skips))
      candCache = (skips, snapshot.files match {
        case pf: LakePartedFiles =>
          pf.matching(skips, snapshot.schema, snapshot.props)
        case fs => fs
      })
    candCache._2
  }

  /** Display-grade file total that never forces a lazy snapshot. */
  private def totalForDisplay: Int = snapshot.files match {
    case pf: LakePartedFiles => pf.totalApprox
    case fs => fs.size
  }

  /** A bare LIMIT plans a file PREFIX: the log knows each file's live
    * row count, so planning stops adding files once the limit is
    * covered — `SELECT * FROM t LIMIT 10` on a million-file table
    * schedules one task, not a million. PARTIAL push (Spark keeps its
    * own limit operator): the scan merely bounds what gets planned.
    * Spark only pushes a limit when no filter remains post-scan, so
    * the prefix never under-delivers rows the limit could have taken —
    * consumed predicates compose (the prefix is of the already-pruned
    * file list).
    */
  override def pushLimit(n: Int): Boolean = {
    limitN = Some(n)
    true // partial: Spark keeps its limit; we only bound planning
  }
  override def isPartiallyPushed(): Boolean = limitN.isDefined

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Predicates skip whole files on stats/partition tuples. A predicate
    * that EVERY live file decides exactly (All or None_ — an identity
    * partition value, a `_file` key, a range fully outside/inside a
    * file's [lo,hi] with zero nulls) is CONSUMED: pruning applies it in
    * full, so it is not returned as residual and Spark stops
    * re-evaluating it on every row of the surviving files — and a
    * fully-consumed filter set keeps the metadata-aggregate path open
    * (`count(*) WHERE part = x` stays a zero-task plan). A predicate
    * any file decides Mixed stays residual: there, stats skipping is a
    * pruning optimization, never an answer.
    */
  /** Per-spec-position stable ids for SYNTHETIC tuples: an identity
    * position resolves through the manifest's pure value sets (`pv`),
    * a transform position through the pure ordinals (`tv`) — None
    * where neither can serve (a source column carrying two transforms
    * has ambiguous ordinals and is skipped).
    */
  private def posKeyIds(spec: Seq[LakePartitioning.Field],
      cols: Seq[(String, Long)]): (Seq[Option[Long]], Seq[Option[Long]]) = {
    val ids = cols.toMap
    val dup = spec.filterNot(_.isInstanceOf[LakePartitioning.Identity])
      .groupBy(_.col).collect { case (c, s) if s.size > 1 => c }.toSet
    (spec.map {
      case LakePartitioning.Identity(c) => ids.get(c)
      case _ => None
    }, spec.map {
      case LakePartitioning.Identity(_) => None
      case f if !dup(f.col) => ids.get(f.col)
      case _ => None
    })
  }

  override def pushPredicates(predicates: Array[VPredicate]): Array[VPredicate] = {
    skips = predicates
    val cols = LakeColIds.cols(snapshot.schema, snapshot.props)
    // floating-point columns never consume: partition tuples and stats
    // compare by value image, which disagrees with SQL on NaN / -0.0
    def floatFree(p: VPredicate): Boolean = p.references.forall { r =>
      r.fieldNames.length != 1 ||
        !snapshot.schema.fields.exists(fd => fd.name == r.fieldNames.head &&
          (fd.dataType == DoubleType || fd.dataType == FloatType))
    }
    // decision BASIS: on a parted snapshot with fully tuple-pure parts,
    // per-part SYNTHETIC summaries serve the consumption decisions
    // with ZERO part parses — a summary-level All/None_ implies the
    // same verdict for every member file (tuple values are shared,
    // ranges contain member ranges, null counts sum from member
    // counts), so consumption soundness carries over. Anything else
    // (impure parts, kills, `_file` predicates — synthetic paths are
    // not real paths) decides over the real candidate files.
    val basis: Seq[LakeFile] = snapshot.files match {
      case pf: LakePartedFiles
          if !predicates.flatMap(_.references).exists(r =>
            r.fieldNames.length == 1 &&
              r.fieldNames.head == LakeTable.FileColumn) =>
        val spec = LakePartitioning.decode(snapshot.props)
        val (posIds, tvIds) = posKeyIds(spec, cols)
        if (posIds.nonEmpty &&
            posIds.zip(tvIds).forall(p => p._1.isDefined || p._2.isDefined))
          pf.synthetic(cols, posIds, spec.indices,
            LakePartitioning.currentSpecId(snapshot.props), tvIds)
            .getOrElse(candidates)
        else candidates
      case _ => candidates
    }
    // exactness is required only on files SURVIVING the whole
    // conjunction: a file some other predicate already excludes
    // (None_) contributes no rows, so p need not re-evaluate there —
    // e.g. the optimizer-implied `IS NOT NULL` rides along with a
    // prefix predicate even when a null-bearing file exists, as long
    // as that file is excluded by the prefix itself
    val survivors = basis.filter(f =>
      LakeStats.decide(f, predicates, LakeColIds.physicalName(cols, f, _),
        LakePartitioning.resolver(snapshot.props, f)) != LakeStats.None_)
    val (exact, residual) = predicates.partition { p =>
      floatFree(p) && survivors.forall { f =>
        LakeStats.exact(f, p, LakeColIds.physicalName(cols, f, _),
          LakePartitioning.resolver(snapshot.props, f))
      }
    }
    consumed = exact
    residual
  }
  override def pushedPredicates(): Array[VPredicate] = consumed

  /** METADATA-ONLY aggregates: the log already knows every file's row
    * count, per-column null counts, and integral min/max — so an
    * unfiltered, ungrouped COUNT(*) / COUNT(col) / MIN(col) / MAX(col)
    * answers from the snapshot without opening a single data file.
    * COMPLETE pushdown — the scan returns the final one-row answer.
    * (Spark only attempts this when no Filter sits above the scan —
    * which, after predicate consumption, includes filters every file
    * decides exactly: `count(*) WHERE part = x` is metadata too.)
    *
    * Delete vectors are the correctness cliff, decided per aggregate:
    *   - COUNT(*) is always exact (`liveRows` subtracts `dvRows`).
    *   - COUNT(col) needs the file's null count AND either no dv (then
    *     `rows − nulls`) or a zero null count (then `liveRows` — every
    *     deleted row was non-null too). A dv'd file with nulls could
    *     have deleted either kind → refuse, fall back to the scan.
    *   - MIN/MAX refuse any dv'd file outright: the deleted row may BE
    *     the extremum. Files from an era before the column contribute
    *     all-NULL (ignored by MIN/MAX, zero to COUNT(col)); all-null
    *     files carry no stats and are skipped when `nulls == rows`
    *     proves they are truly all-null.
    */
  private def metadataAgg(agg: Aggregation): Option[(StructType, Seq[InternalRow])] = {
    // filters are fine ONLY when every one was consumed (file pruning
    // applies them exactly); any residual means rows must be read
    if (skips.length != consumed.length || onPlanned.nonEmpty)
      return None
    // LIVE equality deletes make every per-file count/extremum/sum an
    // overstatement no metadata can correct (their per-file hit count
    // is unknowable without reading) — the scan path serves, exact;
    // commit auto-prunes dead records, so nonEmpty means "applies"
    if (snapshot.eqdels.nonEmpty) return None
    // EXACTLY the pushed list, never empty: under an outer count() the
    // optimizer can prune the inner aggregate to ZERO expressions, and
    // a vacuous forall would accept it while the scan still returns a
    // column Spark does not expect
    if (agg.aggregateExpressions.isEmpty) return None
    // MANIFEST-ONLY count(*): unfiltered, ungrouped, single CountStar
    // on a parted snapshot with no post-checkpoint removals — the
    // answer folds from the O(1) manifest's per-part live totals plus
    // the in-memory adds. On a 10^8-file table not even the
    // checkpoint parts parse.
    if (skips.isEmpty && agg.groupByExpressions.isEmpty &&
        agg.aggregateExpressions.length == 1 &&
        agg.aggregateExpressions.head.isInstanceOf[CountStar])
      snapshot.files match {
        case pf: LakePartedFiles =>
          pf.manifestLiveRows.foreach { n =>
            return Some((StructType(Seq(
              StructField("count(*)", LongType, nullable = false))),
              Seq(new GenericInternalRow(Array[Any](n)))))
          }
        case _ => ()
      }
    // GROUPED metadata aggregates: group columns must be IDENTITY
    // partition columns of the CURRENT spec with every contributing
    // file on that spec — then a group is a set of whole files and the
    // per-group aggregates follow the same per-file rules. The
    // date-partitioned `GROUP BY day, count(*)` on a 100 TB table is
    // |days| log lookups, zero tasks.
    val spec = LakePartitioning.decode(snapshot.props)
    val gcols: Seq[StructField] = agg.groupByExpressions.toSeq.map {
      case f: NamedReference if f.fieldNames.length == 1 =>
        snapshot.schema.fields.find(_.name == f.fieldNames.head)
          .getOrElse(return None)
      case _ => return None
    }
    val gidx: Seq[Int] = gcols.map { fd =>
      val i = spec.indexWhere {
        case LakePartitioning.Identity(c) => c == fd.name
        case _ => false
      }
      if (i < 0) return None
      i
    }
    val gTyped = gcols.forall(fd => fd.dataType == LongType ||
      fd.dataType == IntegerType || fd.dataType == BooleanType ||
      fd.dataType == StringType)
    if (gcols.nonEmpty && !gTyped) return None
    def gval(s: Option[String], dt: DataType): Any = s match {
      case None => null
      case Some(v) => dt match {
        case LongType => Long.box(v.toLong)
        case IntegerType => Int.box(v.toInt)
        case BooleanType => Boolean.box(v.toBoolean)
        case _ => org.apache.spark.unsafe.types.UTF8String.fromString(v)
      }
    }
    val cols = LakeColIds.cols(snapshot.schema, snapshot.props)
    def fieldOf(e: VExpression): Option[StructField] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        snapshot.schema.fields.find(_.name == f.fieldNames.head)
      case _ => None
    }
    def phys(f: LakeFile, name: String): Option[String] =
      LakeColIds.physicalName(cols, f, name)
    def countCol(fs: Seq[LakeFile], fd: StructField): Option[Long] = {
      var total = 0L
      fs.foreach { f =>
        phys(f, fd.name).foreach { p =>
          (f.nulls.get(p), f.dvRows) match {
            case (Some(n), 0L) => total += f.rows - n
            case (Some(0L), _) => total += f.liveRows
            case _ => return None
          }
        }
      }
      Some(total)
    }
    def minMax(fs: Seq[LakeFile], fd: StructField,
        isMin: Boolean): Option[Option[Long]] = {
      if (fd.dataType != LongType && fd.dataType != IntegerType) return None
      var acc: Option[Long] = None
      fs.foreach { f =>
        phys(f, fd.name).foreach { p =>
          if (f.dvRows != 0L) return None
          f.stats.get(p) match {
            case Some((lo, hi)) =>
              val v = if (isMin) lo else hi
              acc = Some(acc.fold(v)(a => if (isMin) math.min(a, v) else math.max(a, v)))
            case None =>
              if (!f.nulls.get(p).contains(f.rows)) return None
          }
        }
      }
      Some(acc)
    }
    // the STRING twin: extrema fold over the per-file sstats (UTF-8
    // byte order — exactly how parquet's comparator ordered the data,
    // and how Spark's own string min/max compares). Chunk-level binary
    // stats in our write path are exact values (parquet-mr DROPS
    // oversized binary stats rather than truncating them — absent
    // sstats already refuse here), so the answered extremum is a real
    // row value, never a truncated bound.
    def minMaxStr(fs: Seq[LakeFile], fd: StructField,
        isMin: Boolean): Option[Option[String]] = {
      val uord = Ordering.by(org.apache.spark.unsafe.types.UTF8String.fromString)
      var acc: Option[String] = None
      fs.foreach { f =>
        phys(f, fd.name).foreach { p =>
          if (f.dvRows != 0L) return None
          f.sstats.get(p) match {
            case Some((lo, hi)) =>
              val v = if (isMin) lo else hi
              acc = Some(acc.fold(v)(a =>
                if (isMin) uord.min(a, v) else uord.max(a, v)))
            case None =>
              if (!f.nulls.get(p).contains(f.rows)) return None
          }
        }
      }
      Some(acc)
    }
    def extremum(fs: Seq[LakeFile], fd: StructField, isMin: Boolean): Option[Any] =
      if (fd.dataType == StringType)
        minMaxStr(fs, fd, isMin).map(_.map(
          org.apache.spark.unsafe.types.UTF8String.fromString).orNull)
      else minMax(fs, fd, isMin).map(_.map(x =>
        if (fd.dataType == IntegerType) Int.box(x.toInt) else Long.box(x)).orNull)
    // (sum, non-null count) from the writer's recorded per-file sums
    // (wrapping adds — the same arithmetic a non-ANSI scan-side sum
    // performs). A dv'd file refuses (deleted rows' contribution is
    // unknowable); era-missing columns contribute nothing; pre-field
    // log entries pass only when provably all-null.
    def exactSum(fs: Seq[LakeFile], fd: StructField): Option[(Long, Long)] = {
      if (fd.dataType != LongType && fd.dataType != IntegerType) return None
      var total = 0L
      var nonNull = 0L
      fs.foreach { f =>
        phys(f, fd.name).foreach { p =>
          if (f.dvRows != 0L) return None
          f.sums.get(p) match {
            case Some(sv) =>
              total += sv
              nonNull += f.rows - f.nulls.getOrElse(p, return None)
            case None =>
              if (!f.nulls.get(p).contains(f.rows)) return None
          }
        }
      }
      Some((total, nonNull))
    }
    def aggValues(fs: Seq[LakeFile], collect: Option[Seq[StructField] => Unit]): Option[Seq[Any]] = {
      val fields = Seq.newBuilder[StructField]
      val values = Seq.newBuilder[Any]
      agg.aggregateExpressions.foreach {
        case _: CountStar =>
          fields += StructField("count(*)", LongType, nullable = false)
          values += fs.map(_.liveRows).sum
        case c: Count if !c.isDistinct =>
          val fd = fieldOf(c.column).getOrElse(return None)
          val n = countCol(fs, fd).getOrElse(return None)
          fields += StructField(s"count(${fd.name})", LongType, nullable = false)
          values += n
        case m: Min =>
          val fd = fieldOf(m.column).getOrElse(return None)
          val v = extremum(fs, fd, isMin = true).getOrElse(return None)
          fields += StructField(s"min(${fd.name})", fd.dataType, nullable = true)
          values += v
        case m: Max =>
          val fd = fieldOf(m.column).getOrElse(return None)
          val v = extremum(fs, fd, isMin = false).getOrElse(return None)
          fields += StructField(s"max(${fd.name})", fd.dataType, nullable = true)
          values += v
        case su: Sum if !su.isDistinct =>
          // SQL SUM over zero non-null values is NULL
          val fd = fieldOf(su.column).getOrElse(return None)
          val (total, nonNull) = exactSum(fs, fd).getOrElse(return None)
          fields += StructField(s"sum(${fd.name})", LongType, nullable = true)
          values += (if (nonNull == 0L) null else Long.box(total))
        case g: GeneralAggregateFunc
            if g.name() == "AVG" && !g.isDistinct && g.children().length == 1 =>
          // avg = exact metadata sum ÷ non-null count, divided ONCE in
          // double — at least as accurate as the scan's incremental
          // double accumulation. Refused when the exact sum exceeds
          // 2^53 (no longer exactly representable — the scan decides)
          // or any file carries a dv / unknown nulls, same as SUM.
          val fd = fieldOf(g.children()(0)).getOrElse(return None)
          val (total, nonNull) = exactSum(fs, fd).getOrElse(return None)
          if (math.abs(total) > (1L << 53)) return None
          fields += StructField(s"avg(${fd.name})", DoubleType, nullable = true)
          values += (if (nonNull == 0L) null
            else Double.box(total.toDouble / nonNull))
        case _ => return None
      }
      collect.foreach(_(fields.result()))
      Some(values.result())
    }
    var aggFields: Seq[StructField] = Seq.empty
    // the schema dry-run over NO files also validates every aggregate
    // is a pushable shape — an empty group list must still produce the
    // agg columns Spark expects
    aggValues(Seq.empty, Some(aggFields = _)).getOrElse(return None)
    // one evaluator serves BOTH the synthetic manifest path and the
    // parsed per-file path — the per-aggregate rules cannot drift
    def answer(files: Seq[LakeFile]): Option[(StructType, Seq[InternalRow])] = {
      if (gcols.nonEmpty) {
        val curId = LakePartitioning.currentSpecId(snapshot.props)
        if (!files.forall(f => f.specId == curId && f.part.nonEmpty))
          return None
      }
      if (gcols.isEmpty) {
        val vs = aggValues(files, None).getOrElse(return None)
        Some((StructType(aggFields),
          Seq(new GenericInternalRow(vs.toArray))))
      } else {
        val rows = files.groupBy(f => gidx.map(i => f.part.lift(i).flatten))
          .toSeq.sortBy(_._1.toString)
          .map { case (key, fs) =>
            val vs = aggValues(fs, None).getOrElse(return None)
            new GenericInternalRow(
              (key.zip(gcols).map { case (s, fd) => gval(s, fd.dataType) } ++ vs).toArray)
              : InternalRow
          }
        val gFields = gcols.map(fd => StructField(fd.name, fd.dataType, nullable = true))
        Some((StructType(gFields ++ aggFields), rows))
      }
    }
    // MANIFEST-FIRST: an aggregate over a parted snapshot tries the
    // per-part census (cr/sr/sm/nc folds as synthetic files) before
    // parsing anything — the grouped daily SUM/COUNT/AVG/MIN/MAX on a
    // 10^8-file table answers from |parts| manifest rows. Unfiltered:
    // purity needed only at grouped positions. FILTERED (every
    // predicate already consumed — the guard above): all-identity
    // specs with fully-pure parts let the same decision algebra run
    // over the synthetic files — a part the predicates decide All
    // keeps its folds, None_ drops, any Mixed falls through to the
    // parsed path. `count(*)/sum WHERE day = yesterday` is then zero
    // part IO end to end. Any aggregate the folds cannot serve (dv'd
    // part, missing coverage) falls through too.
    snapshot.files match {
      case pf: LakePartedFiles =>
        val (posIds, tvIds) = posKeyIds(spec, cols)
        val curId = LakePartitioning.currentSpecId(snapshot.props)
        if (skips.isEmpty)
          pf.synthetic(cols, posIds, gidx, curId, tvIds).foreach { sf =>
            answer(sf).foreach(r => return Some(r))
          }
        else if (posIds.nonEmpty &&
            posIds.zip(tvIds).forall(p => p._1.isDefined || p._2.isDefined))
          // strict purity at EVERY position: a tuple component the
          // part is impure for would read as NULL to the resolver and
          // mis-decide — full purity makes the synthetic tuple exact
          // (identity values from pv, transform ordinals from tv)
          pf.synthetic(cols, posIds, spec.indices, curId, tvIds).foreach { sf =>
            val decisions = sf.map(f => LakeStats.decide(f, skips,
              LakeColIds.physicalName(cols, f, _),
              LakePartitioning.resolver(snapshot.props, f)))
            if (!decisions.contains(LakeStats.Mixed)) {
              val kept = sf.zip(decisions)
                .collect { case (f, LakeStats.All) => f }
              answer(kept).foreach(r => return Some(r))
            }
          }
      case _ => ()
    }
    // with all predicates consumed, every file decides All or None_:
    // the aggregate ranges over exactly the All files (part-pruned
    // entries are None_ by construction, so candidates suffice)
    val statFiles =
      if (skips.isEmpty) candidates
      else candidates.filter(f =>
        LakeStats.decide(f, skips, LakeColIds.physicalName(cols, f, _),
          LakePartitioning.resolver(snapshot.props, f)) == LakeStats.All)
    answer(statFiles)
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    pushedAggRow = metadataAgg(agg)
    pushedAggRow.isDefined
  }

  override def pushAggregation(agg: Aggregation): Boolean =
    // partial (per-task) pushdown is declined: the metadata answer is
    // complete or the plain scan is the right plan
    pushedAggRow.isDefined || { pushedAggRow = metadataAgg(agg); pushedAggRow.isDefined }

  override def build(): Scan =
    if (pushedAggRow.isDefined) {
      val (schema0, rows) = pushedAggRow.get
      new LakeAggScan(schema0, rows, totalForDisplay)
    } else {
      val cols = LakeColIds.cols(snapshot.schema, snapshot.props)
      val live = candidates.filter(f =>
        LakeStats.decide(f, skips,
          LakeColIds.physicalName(cols, f, _),
          LakePartitioning.resolver(snapshot.props, f)) != LakeStats.None_)
      val pruned = bloomPrune(live, cols)
      // pushed-limit file prefix: stop planning once the limit is
      // covered by live row counts. Spark only pushes a limit when no
      // filter remains post-scan, so every planned live row is a
      // deliverable row; row-level op scans (onPlanned) never see a
      // pushed limit and are excluded defensively.
      val capped = limitN match {
        // eqdels gate: liveRows OVERCOUNTS under equality deletes, so a
        // prefix sized by it could under-deliver the limit
        case Some(n) if onPlanned.isEmpty && snapshot.eqdels.isEmpty =>
          var acc = 0L
          val it = pruned.iterator.takeWhile { f =>
            val need = acc < n; acc += f.liveRows; need
          }
          it.toSeq
        case _ => pruned
      }
      new LakeScan(dir, snapshot.schema, snapshot.props, cols,
        capped,
        totalForDisplay, required, onPlanned, options,
        // row-group pruning gets the RESIDUAL predicates: a consumed
        // predicate decided All on every kept file, so every row group
        // in them matches too — nothing to skip
        rgPreds = skips.filterNot(p => consumed.exists(_ eq p)),
        eqdels = snapshot.eqdels, command = command)
    }

  /** Point-lookup BLOOM pruning (table property `bloomBy`): after
    * stats skipping, an equality/IN predicate on the bloom column
    * drops the files whose parquet-native bloom filters definitely
    * exclude every probed value — the scattered-high-cardinality
    * lookup stats ranges cannot prune (every file spans the whole key
    * domain; a clustered key would already be stats-pruned). Same
    * contract as stats skipping: may keep a non-matching file, never
    * drops a matching one (blooms have no false negatives). Probe
    * sources, per file: an INLINE log bloom (`bloom_inline` tables +
    * pre-sidecar entries) answers with zero IO; a bloom SIDECAR
    * answers with one lazy positioned 8 KB read of exactly the probed
    * column's slot — paid only for candidates that already survived
    * stats skipping, which is what lets bloomBy log entries stay ~30
    * bytes at any table size; legacy entries with neither fall back
    * to a footer probe, which re-reads the whole footer and so only
    * runs below a tight cap.
    */
  private def bloomPrune(live: Seq[LakeFile],
      cols: Seq[(String, Long)]): Seq[LakeFile] = {
    val bcols = LakeTable.bloomCols(snapshot.props).toSet
    if (bcols.isEmpty || live.isEmpty || skips.isEmpty || live.size > 65536)
      return live
    val footerProbesOk = live.size <= 1024
    val probes = LakeBloomProbe.probesOf(skips, bcols)
    if (probes.isEmpty) live
    else live.filter(f => LakeBloomProbe.survives(
      dir, snapshot.schema, cols, f, probes, footerProbesOk))
  }
}

/** Bloom point-probe evaluation shared by plan-time pruning
  * ([[LakeScanBuilder]]'s pushed predicates) and RUNTIME file pruning
  * ([[LakeScan]]'s dynamic IN sets from an executed dimension join) —
  * one decision procedure, two predicate sources.
  */
private[graft] object LakeBloomProbe {
  /** One (column, probe set) per `=`/`IN` predicate on a bloomBy
    * column: a file survives only if, for EVERY probed predicate,
    * some value might be present in that predicate's column (AND
    * semantics).
    */
  def probesOf(preds: Seq[VPredicate],
      bcols: Set[String]): Seq[(String, Seq[Any])] = {
    def colOf(e: VExpression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
      case _ => None
    }
    def litOf(e: VExpression): Option[Any] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => Option(l.value())
      case _ => None
    }
    preds.flatMap { p =>
      val kids = p.children()
      p.name() match {
        case "=" if kids.length == 2 =>
          for { c <- colOf(kids(0)) if bcols(c); v <- litOf(kids(1)) }
            yield c -> Seq(v)
        case "IN" if kids.nonEmpty =>
          colOf(kids.head).filter(bcols).flatMap { c =>
            val vs = kids.tail.toSeq.map(litOf)
            if (vs.forall(_.isDefined)) Some(c -> vs.flatten) else None
          }
        case _ => None
      }
    }
  }

  /** False only when the file's blooms PROVE no probe value present
    * (no false negatives — a drop is always sound).
    */
  def survives(dir: Path, schema: StructType, cols: Seq[(String, Long)],
      f: LakeFile, probes: Seq[(String, Seq[Any])],
      footerProbesOk: Boolean): Boolean =
    probes.forall { case (c, vs) =>
      LakeColIds.physicalName(cols, f, c).forall { pc =>
        // writer-recorded blooms hash under the FILE's write-time
        // type (widened columns were hashed in their old type); an
        // unhashable value keeps the file, like stats skipping
        def probe(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter): Boolean = {
          val i = f.cols.indexWhere(_._1 == pc)
          val t =
            if (i >= 0 && i < f.colTypes.length) f.colTypes(i)
            else schema.find(_.name == c)
              .map(_.dataType.simpleString).getOrElse("")
          vs.exists(v =>
            LakeParquet.logBloomHash(bf, t, v).forall(bf.findHash))
        }
        f.blooms.get(pc) match {
          case Some(b64) =>
            // inline (`bloom_inline` tables + pre-sidecar entries):
            // the bitset rides in the log — zero probe IO
            probe(LakeParquet.bloomFromB64(b64))
          case None =>
            val slot = f.bloomSc.indexOf(pc)
            if (slot >= 0)
              // SIDECAR: loaded lazily, only for candidates that
              // survived stats skipping — one positioned 8 KB read
              // of exactly the probed column's slot
              probe(LakeParquet.readSidecarBloom(
                dir.resolve(f.path + ".bloom"), slot))
            else
              !footerProbesOk ||
                LakeParquet.bloomMightContain(dir.resolve(f.path), pc, vs)
        }
      }
    }
}

/** The result of a metadata-only aggregate (COUNT/MIN/MAX answered
  * from the log — zero data-file opens, zero tasks): one row
  * ungrouped, one row per identity-partition group otherwise.
  */
class LakeAggScan(schema0: StructType, rows0: Seq[InternalRow], nFiles: Int)
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema0
  override def rows(): Array[InternalRow] = rows0.toArray
  override def description(): String =
    s"graftlake metadata-agg rows=${rows0.size} files=0/$nFiles"
}

class LakeScan(dir: Path, tableSchema: StructType, props: Map[String, String],
    curCols: Seq[(String, Long)],
    files: Seq[LakeFile], totalFiles: Int, required: StructType,
    onPlanned: Option[Seq[String] => Unit],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    rgPreds: Array[VPredicate] = Array.empty,
    // live EQUALITY-DELETE records of the scanned snapshot: readers
    // anti-join each file against every record born after the file
    eqdels: Seq[LakeEqDelete] = Seq.empty,
    command: Option[RowLevelOperation.Command] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** APPEND-ONLY streaming of the base table
    * (`spark.readStream.table(...)`): log versions as offsets, each
    * batch the rows of that version's appended files. Any commit that
    * deletes or updates rows fails the stream (or skips under
    * `skipChangeCommits`) — the Delta contract; `<t>__changes` is the
    * mutation-observing alternative.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    def opt(k: String, dflt: Long): Long =
      Option(options.get(k)).map(_.toLong).getOrElse(dflt)
    new LakeChangesStream(dir, curCols, required,
      // default 0, not 1: CTAS/RTAS commit their data files AT v0
      startingVersion = LakeChanges.resolveStartingVersion(dir, options)
        .getOrElse(opt("startingVersion", 0L)),
      maxVersionsPerTrigger = opt("maxVersionsPerTrigger", Long.MaxValue),
      maxBytesPerTrigger = opt("maxBytesPerTrigger", Long.MaxValue),
      skipChangeCommits =
        Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      appendOnly = true)
  }

  /** KEY-GROUPED exposure for storage-partitioned joins: when the
    * table is partitioned (identity or bucket), the partition source
    * columns survive pruning, every file carries its tuple, and the
    * session opted into v2 bucketing, the scan plans ONE partition per
    * partition tuple
    * (all its files concatenated) and reports
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * — two lake tables partitioned the same way equi-join on the
    * partition columns with NO shuffle. The trade is explicit: task
    * parallelism becomes the tuple count, so grouping only engages
    * under the conf that makes Spark exploit it. Mutation scans
    * (runtime group filtering) stay per-file.
    */
  private def keyGroupedFields: Seq[LakePartitioning.Field] = {
    val fields = LakePartitioning.decode(props)
    // bucket transforms are reportable too: they resolve through the
    // catalog's FunctionCatalog face ([[LakeBucketUnbound]])
    val ok = onPlanned.isEmpty &&
      fields.nonEmpty &&
      fields.forall(f => required.fieldNames.contains(f.col)) &&
      files.forall(_.part.nonEmpty) &&
      // tuples are only comparable within ONE spec era: a file written
      // before a partition evolution cannot join a current key group
      files.forall(_.specId == LakePartitioning.currentSpecId(props)) &&
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (ok) fields else Seq.empty
  }

  /** Required DATA columns resolved to their per-file physical names —
    * a current column absent from the map predates the file (NULL).
    */
  private def renameFor(f: LakeFile): Map[String, String] =
    required.fieldNames.iterator
      .filter(n => n != LakeTable.FileColumn && n != LakeTable.PosColumn)
      .flatMap(n => LakeColIds.physicalName(curCols, f, n).map(n -> _))
      .toMap

  /** Required columns whose WRITE-TIME type differs from the current
    * schema (a later widening): the reader upcasts these per row.
    */
  private def typesFor(f: LakeFile): Map[String, String] =
    LakeColIds.fileTypes(curCols, f,
      required.fields.toSeq.filter(fd =>
        fd.name != LakeTable.FileColumn && fd.name != LakeTable.PosColumn))

  /** Runtime V2 filtering, three flavors:
    *
    *   - row-level ops (`onPlanned` set): Spark first finds which
    *     `_file`s contain matching rows, then hands them back as an IN
    *     predicate — only those files are re-read and rewritten. A
    *     copy-on-write MERGE that plans at most one file reports no
    *     attribute, so Spark plans no such filter: for MERGE the filter
    *     evaluates the source and scans the target a second time, and
    *     over one file it could only decide whether to rewrite it. A
    *     MERGE matching nothing in that file therefore rewrites it.
    *     UPDATE and DELETE keep the filter (it scans only the target);
    *   - plain scans of a PARTITIONED table: the identity partition
    *     source columns are filterable, so a selective dimension join
    *     prunes whole partitions at RUNTIME (the dynamic-partition-
    *     pruning shape) — the dim executes, its join-key values come
    *     back as an IN predicate, and files whose tuple is outside the
    *     set never plan as tasks;
    *   - DYNAMIC FILE PRUNING on declared-layout DATA columns
    *     ([[LakeTable.runtimeFilterCols]]): the same runtime IN set,
    *     decided per FILE through the full stats algebra
    *     ([[LakeStats.decide]] — int/string ranges, null counts,
    *     trunc/bucket transform tuples) plus bloom point probes — a
    *     point-lookup join on a sorted/bloomed 100-TB fact plans only
    *     the files that can hold the keys. Pruning-only (a kept Mixed
    *     file still re-filters through the join), so supersets are
    *     always sound.
    */
  @volatile private var runtimeFiles: Option[Set[String]] = None
  @volatile private var runtimeParts: Map[String, Set[String]] = Map.empty
  @volatile private var runtimePreds: Array[VPredicate] = Array.empty
  @volatile private var plannedCache: Seq[LakeFile] = null

  private def identityPartCols: Seq[String] =
    LakePartitioning.decode(props).collect {
      case LakePartitioning.Identity(c) => c }

  override def filterAttributes(): Array[NamedReference] =
    if (onPlanned.isDefined)
      if (command.contains(RowLevelOperation.Command.MERGE) && files.size <= 1) Array.empty
      else Array(Expressions.column(LakeTable.FileColumn))
    // only columns the scan OUTPUTS: Spark's PartitionPruning resolves
    // every reported attribute against the scan's output — one pruned-
    // away layout column would fail ANALYSIS of any join on the table
    else (identityPartCols ++ LakeTable.runtimeFilterCols(props, tableSchema))
      .distinct.filter(required.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(predicates: Array[VPredicate]): Unit = {
    def colOf(e: VExpression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
      case _ => None
    }
    def litStr(e: VExpression): Option[String] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Option(l.value()).map(String.valueOf)
      case _ => None
    }
    val partCols = identityPartCols.toSet
    predicates.foreach { p =>
      val kids = p.children()
      val parsed: Option[(String, Set[String])] = p.name() match {
        case "IN" if kids.nonEmpty =>
          colOf(kids.head).flatMap { c =>
            val vals = kids.tail.map(litStr)
            if (vals.forall(_.isDefined)) Some(c -> vals.flatten.toSet) else None
          }
        case "=" if kids.length == 2 =>
          for (c <- colOf(kids(0)); v <- litStr(kids(1))) yield c -> Set(v)
        case _ => None
      }
      parsed.foreach { case (c, vs) =>
        if (c == LakeTable.FileColumn)
          runtimeFiles = Some(runtimeFiles.fold(vs)(_ intersect vs))
        else if (partCols(c))
          runtimeParts = runtimeParts.updated(c,
            runtimeParts.get(c).fold(vs)(_ intersect vs))
      }
    }
    // DATA-column runtime predicates feed the per-file stats algebra
    // (row-level `_file` sets never do: `decide` would read an unknown
    // column name as NULL-only and wrongly exclude). ACCUMULATE across
    // filter() calls — runtimeFiles/runtimeParts intersect above, and
    // if Spark applies two runtime filters to one scan, both must
    // participate in stats/bloom and row-group pruning (the conjunction
    // only ever narrows, so dedup by string form is sound)
    if (onPlanned.isEmpty) {
      val seen = runtimePreds.map(_.toString).toSet
      runtimePreds = runtimePreds ++
        predicates.filterNot(p => seen(p.toString))
    }
    plannedCache = null
  }

  /** Dynamic file pruning: decide the runtime predicate conjunction
    * per file (stats ranges + transform tuples), then bloom-probe the
    * survivors. Only predicates wholly over reported data columns
    * participate — `decide` treats unknown names as NULL-only, which
    * is a skip verdict, and a runtime filter must never drop a file
    * it cannot prove empty.
    */
  private def runtimeStatsKept(base: Seq[LakeFile]): Seq[LakeFile] = {
    if (runtimePreds.isEmpty || base.isEmpty) return base
    val reportable =
      (identityPartCols ++ LakeTable.runtimeFilterCols(props, tableSchema)).toSet
    val preds = runtimePreds.filter(_.references().forall(r =>
      r.fieldNames.length == 1 && reportable(r.fieldNames.head)))
    if (preds.isEmpty) return base
    val statsKept = base.filter { f =>
      LakeStats.decide(f, preds,
        LakeColIds.physicalName(curCols, f, _),
        LakePartitioning.resolver(props, f)) != LakeStats.None_
    }
    val probes = LakeBloomProbe.probesOf(preds, LakeTable.bloomCols(props).toSet)
    if (probes.isEmpty || statsKept.isEmpty || statsKept.size > 65536) statsKept
    else {
      // sidecar preads paid only for stats survivors, same caps as
      // the plan-time path
      val footerOk = statsKept.size <= 1024
      statsKept.filter(f => LakeBloomProbe.survives(
        dir, tableSchema, curCols, f, probes, footerOk))
    }
  }

  private def planned: Seq[LakeFile] = {
    def partOk(f: LakeFile): Boolean =
      runtimeParts.isEmpty || f.part.isEmpty || {
        // interpret the tuple under the FILE's own era's spec — after
        // partition evolution an old file prunes on its own transforms
        val fields = LakePartitioning.specOf(props, f.specId)
        runtimeParts.forall { case (c, allowed) =>
          fields.indexWhere(_.col == c) match {
            case -1 => true
            case i => f.part.lift(i).flatten.exists(allowed.contains)
          }
        }
      }
    // memoized between filter() calls: description/planInputPartitions/
    // outputPartitioning all consult it, and the bloom pass does IO
    val cached = plannedCache
    if (cached != null) cached
    else {
      val kept = runtimeStatsKept(
        files.filter(f => runtimeFiles.forall(_.contains(f.path)) && partOk(f)))
      plannedCache = kept
      kept
    }
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"graftlake files=${planned.size}/$totalFiles cols=[${required.fieldNames.mkString(",")}]" +
      (if (eqdels.isEmpty) "" else s" eqdels=${eqdels.size}") +
      runtimeFiles.map(fs => s" runtimeFiles=${fs.size}").getOrElse("") +
      (if (runtimeParts.isEmpty) ""
       else " runtimeParts=" + runtimeParts.toSeq.sortBy(_._1).map {
         case (c, vs) => s"$c∈{${vs.toSeq.sorted.mkString(",")}}"
       }.mkString(","))

  override def toBatch: Batch = this

  /** Predicates this FILE's reader may prune row groups with: only on
    * plain scans (a row-level op or `_pos` projection numbers physical
    * ordinals, and a delete vector indexes them — skipping groups would
    * shift both), and only predicates whose every referenced column
    * resolves in this file (the executor-side decide reads an
    * unresolvable name as NULL-only, which must never drop a group it
    * cannot judge). Residual pushed predicates AND runtime IN sets both
    * qualify — the same algebra that skipped files skips groups.
    */
  private def rgPredsFor(renames: Map[String, String]): Seq[VPredicate] =
    if (onPlanned.isDefined ||
        required.fieldNames.contains(LakeTable.PosColumn)) Seq.empty
    else (rgPreds ++ runtimePreds).filter(_.references().forall(r =>
      r.fieldNames.length == 1 && renames.contains(r.fieldNames.head))).toSeq

  /** Equality-key resolution for `f`: every record born after the
    * file whose key column physically exists in it, with the column's
    * file-local name and write-time type. A file that PREDATES the key
    * column holds only nulls there — no row can match, no filter
    * ships. Row-level-op scans see the records too: a positional MERGE
    * over an eq-upserted table must locate rows among the LIVE ones.
    */
  private def eqColsFor(f: LakeFile): Seq[LakeEqCol] =
    eqdels.filter(_.seq > f.seq).flatMap(_.keyIds).distinct.flatMap { id =>
      curCols.find(_._2 == id).map(_._1).flatMap { cur =>
        LakeColIds.physicalName(curCols, f, cur).map { phys =>
          val i = f.cols.indexWhere(_._1 == phys)
          val ft =
            if (i >= 0 && i < f.colTypes.length) f.colTypes(i)
            else tableSchema(cur).dataType.simpleString
          LakeEqCol(id, phys, ft)
        }
      }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val ps = planned
    onPlanned.foreach(_(ps.map(_.path)))
    val fields = keyGroupedFields
    def input(f: LakeFile): LakeInputFile = {
      val renames = renameFor(f)
      LakeInputFile(dir.toString, f.path, f.rows, f.dv, renames,
        typesFor(f), rgPredsFor(renames),
        seq = f.seq, eqCols = eqColsFor(f))
    }
    if (fields.isEmpty)
      ps.map(input(_): InputPartition).toArray
    else
      ps.groupBy(_.part).toSeq.sortBy(_._1.toString).map { case (tuple, fs) =>
        LakeGroupedInput(
          LakePartitioning.keyValues(fields, tuple, tableSchema).toSeq,
          fs.map(input))
          : InputPartition
      }.toArray
  }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val fields = keyGroupedFields
    if (fields.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        planned.size)
    else
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        LakePartitioning.toTransforms(fields)
          .map(t => t: org.apache.spark.sql.connector.expressions.Expression),
        planned.map(_.part).distinct.size)
  }

  /** PER-PARTITION output ordering: each non-grouped scan partition is
    * ONE data file read front-to-back (dv skipping and INT→BIGINT
    * upcasts preserve row order), so a declared `sortBy` holds within
    * every partition PROVIDED every file records it was written under
    * that layout — appends, COW rewrites, streaming epochs, and
    * compaction all enforce it ([[RequiresDistributionAndOrdering]] /
    * [[LakeBinSorter]]), while MOR delta inserts and curve rewrites do
    * not and drop the claim until the next compact. Spark's
    * RemoveRedundantSorts/EnsureRequirements then elide local sorts on
    * the sort key. Key-grouped mode concatenates files per tuple, which
    * breaks the order — no claim there unless each group is one file.
    */
  override def outputOrdering(): Array[SortOrder] = {
    val sb = props.get("sortBy").toSeq
    val ok = sb.nonEmpty &&
      sb.forall(required.fieldNames.contains) &&
      files.nonEmpty && files.forall(_.sorted == sb) &&
      (keyGroupedFields.isEmpty ||
        files.groupBy(_.part).values.forall(_.sizeIs <= 1))
    if (ok)
      sb.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray
    else Array.empty
  }

  /** COLUMNAR whenever no per-row ordinal is requested and every file
    * physically holds at least one required data column (the batch
    * needs a decoded column for row counts; added columns null-fill as
    * constant vectors): batches flow straight from the vectorized
    * parquet decoder (with `_file` as a constant appended vector) into
    * Spark's ColumnarToRow. Delete-vectored files stay columnar — the
    * reader applies the vector INSIDE the batch via a live-row
    * selection view ([[LakeSelectVector]]), so a MOR table under
    * continuous deletes keeps the vectorized path; likewise files
    * written before an INT→BIGINT widening upcast vector-wise. Only
    * `_pos` projections take the row path (per-row ordinal tracking),
    * and the answer stays uniform across partitions (Spark plans one
    * exec for the scan).
    */
  private def columnarPossible: Boolean =
    required.fieldNames.forall(_ != LakeTable.PosColumn) &&
      required.fieldNames.exists(n => n != LakeTable.FileColumn) &&
      files.forall(f => renameFor(f).nonEmpty) &&
      files.forall(f => typesFor(f).forall { case (c, t) =>
        // defensive: the selection view widens INT→BIGINT only (the one
        // evolution ALTER admits); anything else drops to the row path
        LakeParquet.typeOf(t) == org.apache.spark.sql.types.IntegerType &&
          required.fields.find(_.name == c).forall(_.dataType ==
            org.apache.spark.sql.types.LongType)
      })

  override def createReaderFactory(): PartitionReaderFactory =
    LakeReaderFactory(tableSchema,
      required.fields.map(f => f.name -> f.dataType), columnarPossible,
      // sidecar values load ONCE here (driver), ride the broadcast
      // task binary with the factory — size bounded by the live
      // equality-delete backlog, i.e. by compaction cadence
      eqData = eqdels.map(e => LakeEqData(e.seq, e.colId,
        if (e.kind == "long") LakeEq.readLongs(dir, e.ref).toSeq else Seq.empty,
        if (e.kind == "string") LakeEq.readStrs(dir, e.ref).toSeq else Seq.empty,
        cols = e.cols,
        tuples = if (e.kind == "tuple")
          LakeEq.readTuples(dir, e.ref, e.cols.map(_._2)) else Seq.empty)))

  /** FOOTER-TRUE statistics: `sizeInBytes` sums the log's recorded
    * per-file byte sizes (written at commit from the actual parquet
    * footers), scaled by each file's live-row fraction under its
    * delete vector — so AQE and the broadcast threshold see reality.
    * A width guess (`rows × 16 × ncols`) under-reports wide string
    * tables badly enough to wrongly broadcast them at scale; it
    * survives only as the fallback for files from logs that predate
    * the `bytes` field. `numRows` is exact (dv-adjusted).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val n = planned.map(_.liveRows).sum
    private val bytes = planned.iterator.map { f =>
      if (f.bytes > 0L && f.rows > 0L)
        math.max(1L, (f.bytes.toDouble * f.liveRows / f.rows).toLong)
      else f.liveRows * (tableSchema.length * 16L)
    }.sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(n)

    /** CBO-grade per-column statistics from the same footer stats that
      * drive file skipping: integral min/max folded across files and
      * summed null counts, resolved through each file's physical names
      * (era-missing columns contribute `rows` nulls). Dv'd files make
      * these slight over-approximations (a deleted row may carry the
      * extremum / a null) — fine for an estimator, never for results;
      * the metadata-aggregate path has its own exactness rules. A
      * column is reported only when EVERY planned file either records
      * the stat or provably predates the column.
      */
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val ps = planned
      val out = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      required.fields.foreach { fd =>
        if (fd.name != LakeTable.FileColumn && fd.name != LakeTable.PosColumn) {
          val fold = new LakeColumnFold(fd)
          ps.foreach(fold.addFile(curCols, _))
          val (mm, nulls, ndv) = fold.result()
          if (mm.isDefined || nulls.isDefined || ndv.isDefined) {
            def box(v: Long): Object =
              if (fd.dataType == IntegerType) Int.box(v.toInt) else Long.box(v)
            out.put(Expressions.column(fd.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def min(): java.util.Optional[Object] =
                  java.util.Optional.ofNullable(mm.map(v => box(v._1)).orNull)
                override def max(): java.util.Optional[Object] =
                  java.util.Optional.ofNullable(mm.map(v => box(v._2)).orNull)
                override def nullCount(): java.util.OptionalLong =
                  nulls.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def distinctCount(): java.util.OptionalLong =
                  ndv.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
              })
          }
        }
      }
      out
    }
  }
}

/** The equality-delete key column AS SEEN BY one file: stable id, the
  * file's physical column name, and its write-time type (simpleString).
  */
case class LakeEqCol(colId: Long, phys: String, fileType: String)

case class LakeInputFile(tableDir: String, path: String, rows: Long,
    dv: Option[String] = None,
    rename: Map[String, String] = Map.empty,
    fileTypes: Map[String, String] = Map.empty,
    // serializable V2 predicates (ExpressionWithToString is
    // java.io.Serializable) the reader decides row groups with —
    // pre-filtered by [[LakeScan.rgPredsFor]] to resolvable columns
    rgPreds: Seq[VPredicate] = Seq.empty,
    // data-birth version + the equality-key columns resolvable in this
    // file: which of the factory's eq records apply, and how to read
    // the key. MaxValue = no record can apply (legacy callers)
    seq: Long = Long.MaxValue,
    eqCols: Seq[LakeEqCol] = Seq.empty) extends InputPartition

/** One partition TUPLE's files, concatenated — the key-grouped unit
  * behind storage-partitioned joins ([[LakeScan.outputPartitioning]]).
  */
case class LakeGroupedInput(key: Seq[Any], files: Seq[LakeInputFile])
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(key.toArray)
}

/** Both read paths over one parquet data file.
  *
  *   - **Columnar** ([[createColumnarReader]]): the vectorized decoder's
  *     batches are re-exposed in the scan's column order, with `_file`
  *     appended as a constant vector via the reader's own
  *     partition-column mechanism — zero copies, straight into
  *     whole-stage codegen through ColumnarToRow. Delete vectors are
  *     read task-side and applied per batch as a live-row index
  *     selection ([[LakeSelectVector]]); INT→BIGINT-widened files
  *     upcast through the same view — MOR tables and evolved schemas
  *     stay on the vectorized path.
  *   - **Row** ([[createReader]]): same vectorized decoder iterated
  *     row-wise, tracking the physical ordinal for `_pos` and skipping
  *     delete-vector positions with a single merge cursor over the
  *     SORTED vector (positions arrive in increasing order, so the
  *     skip is O(1) amortized regardless of dv size). A projection of
  *     ONLY metadata columns synthesizes rows from the log's row count
  *     without opening the file at all.
  */
/** One equality-delete record's VALUES, loaded from its sidecar once
  * per scan on the driver (rides the broadcast task binary).
  */
case class LakeEqData(seq: Long, colId: Long, longs: Seq[Long], strs: Seq[String],
    // COMPOSITE records: ordered (col id, kind) components + key tuples
    cols: Seq[(Long, String)] = Seq.empty,
    tuples: Seq[Seq[Any]] = Seq.empty)

/** One data file's compiled equality-delete records. Single-column
  * records merge per key column into a sorted long array or a string
  * set; each composite record probes its [[LakeTupleProbe]]. Column
  * indices address the row the reader decodes.
  */
final class LakeEqFilter(
    singles: Array[(Int, DataType, Array[Long], java.util.HashSet[String])],
    tuples: Array[(Array[Int], Array[DataType], LakeTupleProbe)]) {
  val isEmpty: Boolean = singles.isEmpty && tuples.isEmpty

  /** Does some record delete `row`? A null key never matches (SQL IN). */
  def deletes(row: InternalRow): Boolean = {
    var i = 0
    while (i < singles.length) {
      val (idx, dt, longs, strs) = singles(i)
      if (!row.isNullAt(idx) && (
          if (strs.isEmpty)
            java.util.Arrays.binarySearch(longs, LakeEq.keyLong(row, idx, dt)) >= 0
          else strs.contains(row.getUTF8String(idx).toString)))
        return true
      i += 1
    }
    var t = 0
    while (t < tuples.length) {
      val (idxs, dts, probe) = tuples(t)
      if (probe.matches(row, idxs, dts)) return true
      t += 1
    }
    false
  }
}

case class LakeReaderFactory(tableSchema: StructType,
    required: Array[(String, DataType)], columnar: Boolean,
    eqData: Seq[LakeEqData] = Seq.empty)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  private def dataCols: Array[(String, DataType)] =
    required.filter { case (n, _) =>
      n != LakeTable.FileColumn && n != LakeTable.PosColumn }

  /** Key-grouped partitions concatenate their files' readers. */
  private def concat[T](parts: Seq[InputPartition],
      open: InputPartition => PartitionReader[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private val it = parts.iterator
      private var cur: PartitionReader[T] = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            cur = open(it.next())
          }
          if (cur.next()) return true
          cur.close()
          cur = null
        }
        false
      }
      override def get(): T = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }

  /** The EQUALITY-DELETE anti-join for file `p`, shared by both read
    * paths: records born after the file whose key columns it physically
    * holds (a composite record needs every component; a file predating
    * one holds only nulls there, so no row of it can match). Key columns
    * decode even when the projection never asked for them — appended
    * AFTER `base`, the projected physical columns, so indices into
    * `base` stay stable. Returns the physical columns to decode and the
    * filter over rows laid out in that order.
    */
  private def eqFilter(p: LakeInputFile, base: Seq[String]): (Seq[String], LakeEqFilter) = {
    val singleRecs: Seq[(LakeEqCol, LakeEqData)] = p.eqCols.flatMap(c =>
      eqData.filter(e => e.cols.isEmpty && e.colId == c.colId && e.seq > p.seq)
        .map(c -> _))
    val tupleRecs: Seq[(Seq[LakeEqCol], LakeEqData)] =
      eqData.filter(e => e.cols.nonEmpty && e.seq > p.seq).flatMap { e =>
        val comps = e.cols.map { case (id, _) => p.eqCols.find(_.colId == id) }
        if (comps.exists(_.isEmpty)) None else Some((comps.map(_.get), e))
      }
    val keyCols = (singleRecs.map(_._1) ++ tupleRecs.flatMap(_._1)).distinct
    val decodedPhys = base ++ keyCols.map(_.phys).filterNot(base.contains)
    val singles = keyCols.filter(c => singleRecs.exists(_._1 == c)).map { c =>
      val ds = singleRecs.collect { case (cc, e) if cc == c => e }
      val strs = new java.util.HashSet[String]()
      ds.flatMap(_.strs).foreach(strs.add)
      (decodedPhys.indexOf(c.phys), LakeParquet.typeOf(c.fileType),
        ds.flatMap(_.longs).distinct.sorted.toArray, strs)
    }.toArray
    val tuples = tupleRecs.map { case (cs, e) =>
      (cs.map(c => decodedPhys.indexOf(c.phys)).toArray,
        cs.map(c => LakeParquet.typeOf(c.fileType)).toArray,
        new LakeTupleProbe(e.tuples))
    }.toArray
    (decodedPhys, new LakeEqFilter(singles, tuples))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case g: LakeGroupedInput => return concat(g.files, createReader)
      case _ => ()
    }
    val p = partition.asInstanceOf[LakeInputFile]
    val dvPhysical: Array[Long] = p.dv
      .map(LakeDv.read(Paths.get(p.tableDir), _))
      .getOrElse(Array.emptyLongArray)
    // per-required-column codes: -1 = _file, -2 = _pos, -3 = column not
    // in this file (NULL), else index into the decoded columns
    val codes = {
      var pi = 0
      required.map { case (n, _) =>
        if (n == LakeTable.FileColumn) -1
        else if (n == LakeTable.PosColumn) -2
        else if (!p.rename.contains(n)) -3
        else { val i = pi; pi += 1; i }
      }
    }
    // the type each decoded column has IN THE FILE (differs from the
    // table type for columns widened after the file was written)
    val fileDts: Array[DataType] = required.map { case (n, dt) =>
      p.fileTypes.get(n).map(LakeParquet.typeOf).getOrElse(dt) }
    val physical = required.collect {
      case (n, _) if p.rename.contains(n) => p.rename(n) }
    // matching equality-delete rows are skipped exactly like dv positions
    val (decodedPhys, eqDel) = eqFilter(p, physical.toSeq)
    // row-group-pruned open: every group the predicates prove matchless
    // is skipped before page IO. None = nothing survives — emit no rows
    // (NEVER the reader==null metadata synthesis below, which means
    // "no data column requested", a different thing entirely)
    var allPruned = false
    // group skipping shifts physical ordinals: the dv (keyed by
    // PHYSICAL position) is remapped into the kept-groups' emitted
    // space, so MOR files keep skipping instead of standing down
    // (_pos projections and row-level-op scans still exclude rgPreds
    // upstream — THEIR consumers need true physical ordinals)
    var dv: Array[Long] = dvPhysical
    val reader =
      if (decodedPhys.isEmpty) null
      else if (p.rgPreds.nonEmpty)
        LakeParquet.openVectorizedPruned(
          Paths.get(p.tableDir).resolve(p.path), decodedPhys,
          p.rgPreds.toArray, n => p.rename.get(n)) match {
          case Some((r, spans)) =>
            dv = LakeParquet.remapDv(dvPhysical, spans); r
          case None => allPruned = true; null
        }
      else LakeParquet.openVectorized(
        Paths.get(p.tableDir).resolve(p.path), decodedPhys)
    val filePathValue = UTF8String.fromString(p.path)
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private var dvIdx = 0
      private def deleted(i: Long): Boolean = {
        while (dvIdx < dv.length && dv(dvIdx) < i) dvIdx += 1
        dvIdx < dv.length && dv(dvIdx) == i
      }
      override def next(): Boolean =
        if (allPruned) false
        else if (reader == null) {
          pos += 1
          while (pos < p.rows && deleted(pos)) pos += 1
          pos < p.rows
        } else {
          var more = reader.nextKeyValue()
          while (more) {
            pos += 1
            if (!deleted(pos) && (eqDel.isEmpty ||
                !eqDel.deletes(reader.getCurrentValue.asInstanceOf[InternalRow])))
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
            if (code == -1) filePathValue
            else if (code == -2) pos
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

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    partition match {
      case g: LakeGroupedInput => return concat(g.files, createColumnarReader)
      case _ => ()
    }
    val p = partition.asInstanceOf[LakeInputFile]
    // the delete vector (if any) is read TASK-side and applied inside
    // the batch as a live-row selection — the scan stays columnar on a
    // MOR table under continuous deletes
    val dvPhysical: Array[Long] = p.dv
      .map(LakeDv.read(Paths.get(p.tableDir), _))
      .getOrElse(Array.emptyLongArray)
    // decoded columns = required data columns present in the file;
    // everything else (_file, columns added after this file was
    // written) becomes a CONSTANT vector via the reader's own
    // partition-column mechanism (path string / null respectively)
    val present = dataCols.filter { case (n, _) => p.rename.contains(n) }
    val consts = required.filter { case (n, _) =>
      n == LakeTable.FileColumn || (n != LakeTable.PosColumn && !p.rename.contains(n)) }
    // EQUALITY-DELETE key columns decode as EXTRA vectors after the
    // projected ones (consts shift past them; they are never exposed):
    // matching rows join the dv rows in the same per-batch live-row
    // selection, so a CDC-fresh MOR table KEEPS the vectorized path
    val (decodedPhys, eqDel) = eqFilter(p, present.map(t => p.rename(t._1)).toSeq)
    val readerOpt =
      if (p.rgPreds.nonEmpty)
        LakeParquet.openVectorizedPruned(
          Paths.get(p.tableDir).resolve(p.path),
          decodedPhys,
          p.rgPreds.toArray, n => p.rename.get(n))
          // remap the dv into the kept-groups' emitted coordinates
          .map { case (r, spans) =>
            (r, LakeParquet.remapDv(dvPhysical, spans)) }
      else Some((LakeParquet.openVectorized(
        Paths.get(p.tableDir).resolve(p.path),
        decodedPhys), dvPhysical))
    if (readerOpt.isEmpty)
      // every row group provably matchless: an empty batch stream
      return new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        override def next(): Boolean = false
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
          throw new IllegalStateException("empty reader")
        override def close(): Unit = ()
      }
    val (reader, dv) = readerOpt.get
    reader.initBatch(
      StructType(consts.map { case (n, dt) =>
        StructField(n, dt, nullable = n != LakeTable.FileColumn) }),
      new GenericInternalRow(consts.map { case (n, _) =>
        if (n == LakeTable.FileColumn) UTF8String.fromString(p.path): Any else null
      }))
    reader.enableReturningBatches()
    val inner = reader.resultBatch()
    // inner columns are (decodedPhys ++ consts); re-expose in
    // `required` order — the eq key vectors are read but never exposed
    val perm: Array[Int] = {
      var pi = 0
      var ci = 0
      required.map { case (n, _) =>
        if (n != LakeTable.FileColumn && p.rename.contains(n)) { val i = pi; pi += 1; i }
        else { val i = decodedPhys.length + ci; ci += 1; i }
      }
    }
    // wrap decoded columns that need the dv/equality selection and/or
    // the INT→BIGINT widening view; constants are index-independent and
    // widened files' post-evolution columns pass through untouched
    val sel = new LakeSelection
    val cols: Array[org.apache.spark.sql.vectorized.ColumnVector] =
      perm.zipWithIndex.map { case (innerIdx, c) =>
        val v = inner.column(innerIdx)
        val isData = innerIdx < present.length
        val widen = isData && p.fileTypes.get(required(c)._1)
          .exists(t => LakeParquet.typeOf(t) != required(c)._2)
        if (isData && (dv.nonEmpty || widen || !eqDel.isEmpty))
          new LakeSelectVector(v, required(c)._2, sel)
        else v
      }
    val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(cols)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var fileOffset = 0L // file-absolute position of batch start
      private var dvIdx = 0
      private var outRows = 0
      override def next(): Boolean = {
        val more = reader.nextBatch()
        if (more) {
          val n = inner.numRows
          if (dv.isEmpty && eqDel.isEmpty) outRows = n
          else {
            // compact this batch's live rows into a selection map: one
            // merge pass over the SORTED vector, O(n + dv-in-range),
            // plus the equality anti-join per row
            while (dvIdx < dv.length && dv(dvIdx) < fileOffset) dvIdx += 1
            val live = new Array[Int](n)
            var w = 0
            var i = 0
            var di = dvIdx
            while (i < n) {
              val dvDead = di < dv.length && dv(di) == fileOffset + i
              if (dvDead) di += 1
              if (!dvDead && (eqDel.isEmpty || !eqDel.deletes(inner.getRow(i)))) {
                live(w) = i; w += 1
              }
              i += 1
            }
            dvIdx = di
            outRows = w
            sel.map = if (w == n) null else live
          }
          fileOffset += n
        }
        more
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        batch.setNumRows(outRows)
        batch
      }
      override def close(): Unit = reader.close()
    }
  }
}

/** A write that demands the table's declared LAYOUT from Spark
  * ([[RequiresDistributionAndOrdering]]): rows cluster by
  * [[LakeTable.clusterCols]], sort within a task by `sortBy`, and
  * shuffle toward `target_file_bytes` partitions. Batch appends, COW
  * replaces, staged CTAS/RTAS and streaming epochs all extend it.
  */
abstract class LakeLayoutWrite(props: Map[String, String])
  extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution = {
    val cluster = LakeTable.clusterCols(props)
    if (cluster.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      cluster.map(c => Expressions.identity(c): VExpression).toArray)
  }
  override def requiredOrdering(): Array[SortOrder] =
    props.get("sortBy")
      .map(c => Array(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)))
      .getOrElse(Array.empty)
  override def advisoryPartitionSizeInBytes(): Long =
    LakeTable.targetFileBytes(props)
}

/** Append / truncate-write builder (INSERT INTO, and the overwrite half
  * of truncate-then-append).
  */
class LakeWriteBuilder(dir: Path, tableSchema: StructType, info: LogicalWriteInfo,
    props: Map[String, String] = Map.empty)
  extends WriteBuilder with SupportsTruncate
  with SupportsOverwriteV2 with SupportsDynamicOverwrite {

  private sealed trait Mode
  private case object Append extends Mode
  private case object Truncate extends Mode
  private case class OverwriteWhere(predicates: Array[VPredicate]) extends Mode
  private case object DynamicParts extends Mode

  private var mode: Mode = Append

  /** UPSERT write (`.option("upsert", "true")` on a table declaring
    * `upsert_key`): every incoming row REPLACES any older row with the
    * same key, implemented as the batch's insert files plus ONE
    * equality-delete record over the batch's distinct keys — committed
    * together, with ZERO reads of the table (the CDC-at-ingest-rate
    * path; the positional MOR MERGE still serves ad-hoc mutations).
    * Returns (column name, stable col id, long|string).
    */
  /** KEYS-ONLY write (the scan-free MERGE-delete route): the source's
    * key values commit as ONE equality-delete record and the batch
    * writes no data files at all.
    */
  private def deleteOnly: Boolean =
    Option(info.options().get("delete_only")).exists(_.equalsIgnoreCase("true"))

  private def upsertCols: Seq[(String, Long, String)] = {
    val on = Option(info.options().get("upsert")).exists(_.equalsIgnoreCase("true"))
    if (!on) Seq.empty
    else {
      require(props.contains("upsert_key"),
        "graftlake: an upsert write needs the table property upsert_key")
      LakeTable.keyedColumns(tableSchema, props)
    }
  }

  /** The batch's equality-delete record (None on an empty batch), its
    * sidecar written exactly once before the commit retry loop. A
    * COMPOSITE `upsert_key` commits one "tuple" record whose sidecar
    * holds the batch's distinct key tuples.
    */
  private def upsertRecord(messages: Array[WriterCommitMessage]): Seq[LakeEqDelete] = {
    val ucs = upsertCols
    if (ucs.isEmpty) return Seq.empty
    require(mode == Append,
      "graftlake: upsert writes must be plain appends")
    LakeEq.recordOf(dir, ucs, messages.map(_.asInstanceOf[LakeFileMessage]),
      uniqueGuard =
        Option(info.options().get("merge_unique")).exists(_.equalsIgnoreCase("true")))
  }

  override def truncate(): WriteBuilder = { mode = Truncate; this }

  /** `INSERT OVERWRITE` with a static predicate / `replaceWhere`:
    * files the predicate fully covers are dropped, files it misses
    * survive, anything UNDECIDABLE at file granularity aborts — the
    * overwrite boundary must align with partitions (or be otherwise
    * file-decidable), never split a file.
    */
  override def overwrite(predicates: Array[VPredicate]): WriteBuilder = {
    mode = OverwriteWhere(predicates)
    this
  }

  /** Dynamic partition overwrite: exactly the partitions the new data
    * TOUCHES are replaced (`writeTo(t).overwritePartitions()`,
    * INSERT OVERWRITE under partitionOverwriteMode=dynamic).
    */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(LakePartitioning.decode(props).nonEmpty,
      "graftlake: dynamic partition overwrite needs a partitioned table")
    mode = DynamicParts
    this
  }

  /** When the table declares `clusterBy`/`sortBy` or is PARTITIONED,
    * every write — batch, COW replace, streaming epoch — demands that
    * layout from Spark ([[RequiresDistributionAndOrdering]]): the
    * planner inserts the repartition + in-task sort, writers stay
    * single-pass with a bounded open-file set (clustering on the
    * partition source columns keeps each task's tuple count small),
    * each cluster key lands wholly in one file, and file stats come
    * out tight enough for metadata deletes and skipping to bite.
    */
  override def build(): Write = new LakeLayoutWrite(props) {
    // a delete_only write lands no files: no layout
    override def requiredDistribution(): Distribution =
      if (deleteOnly) Distributions.unspecified() else super.requiredDistribution()
    override def requiredOrdering(): Array[SortOrder] =
      if (deleteOnly) Array.empty else super.requiredOrdering()
    override def description(): String = s"graftlake-$mode"
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
        LakeWriterFactory(dir.toString, info.schema(), tableSchema.fieldNames,
          LakePartitioning.decode(props),
          bloomBy = LakeTable.bloomCols(props),
          bloomInline = LakeTable.bloomInline(props),
          codec = LakeTable.codecOf(props),
          rowGroupBytes = LakeTable.rowGroupBytes(props),
          collectKeys = upsertCols.map(c => (c._1, c._3)),
          keysOnly = deleteOnly)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        if (deleteOnly) {
          require(upsertCols.nonEmpty,
            "graftlake: a delete_only write needs the upsert contract")
          require(messages.forall(_.asInstanceOf[LakeFileMessage].files.isEmpty),
            "graftlake: a delete_only write must produce no data files")
        }
        val eqAdd = upsertRecord(messages)
        val written = LakeLog.writtenEntries(
          messages.toSeq.flatMap(_.asInstanceOf[LakeFileMessage].files),
          tableSchema, props, props.get("sortBy").toSeq)
        // IDEMPOTENT writes: with txnAppId/txnVersion options, a commit
        // whose version the table has already recorded for that app is
        // a REPLAY (a foreachBatch retry, a restarted driver) — its
        // files are dropped and nothing commits, so at-least-once
        // callers get exactly-once table state (Delta's txn options)
        val txn: Option[(String, Long)] = for {
          a <- Option(info.options().get("txnAppId"))
          v <- Option(info.options().get("txnVersion"))
        } yield (a, v.toLong)
        LakeLog.commitLoop(dir) { cur =>
          val replay = txn.exists { case (app, v) =>
            cur.props.get(s"txn.$app").exists(_.toLong >= v) }
          val txnProps = txn.fold(cur.props) { case (a, v) =>
            cur.props + (s"txn.$a" -> v.toString) }
          def replace(base: Seq[LakeFile]) = LakeLog.Replace(
            LakeSnapshot(cur.version + 1, cur.schema, base ++ written, txnProps),
            eqAdd = eqAdd)
          if (replay) {
            LakeWriterFactory.deleteAll(dir.toString, messages)
            None
          } else Some(mode match {
            // fast path: a pure append never needs the parent's file
            // census — O(changed) driver work however large the table
            case Append => LakeLog.Append(written, txnProps, eqAdd = eqAdd)
            case Truncate => replace(Seq.empty)
            case OverwriteWhere(preds) =>
              val cols = LakeColIds.cols(cur.schema, cur.props)
              replace(cur.files.filter { f =>
                LakeStats.decide(f, preds, LakeColIds.physicalName(cols, f, _),
                  LakePartitioning.resolver(cur.props, f)) match {
                  case LakeStats.All => false // fully covered: replaced
                  case LakeStats.None_ => true // untouched: survives
                  case LakeStats.Mixed => throw new UnsupportedOperationException(
                    s"graftlake: overwrite predicate does not align with file " +
                      s"boundaries at ${f.path} — overwrite by partition " +
                      "(or a file-decidable predicate), or use DELETE + append")
                }
              })
            case DynamicParts =>
              // tuple equality across spec eras is meaningless — an
              // old-era file logically overlapping a replaced partition
              // would silently survive; refuse until a compact/zorder
              // rewrite brings every file onto the current spec
              val curId = LakePartitioning.currentSpecId(cur.props)
              require(cur.files.forall(_.specId == curId),
                "graftlake: dynamic partition overwrite on a table with " +
                  "files from an older partition spec is ambiguous — run " +
                  "CALL system.compact to rewrite them under the current " +
                  "spec first")
              val replaced = written.map(_.part).toSet
              replace(cur.files.filterNot(f => replaced.contains(f.part)))
          })
        }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        LakeWriterFactory.deleteAll(dir.toString, messages)
    }

    /** Streaming half (`writeStream.toTable`): commits land per EPOCH,
      * and a commit REPLACES any files a previous attempt of the SAME
      * QUERY's same epoch published — with the source's replayable
      * offsets that is end-to-end exactly-once. Scoping the idempotent
      * replacement by (queryId, epochId) matters: epoch ids restart at
      * 0 for every new checkpoint, so keying by epoch alone would let
      * a second streaming query silently evict an earlier query's
      * committed files for colliding epoch numbers. Files of a
      * superseded attempt become unreferenced and are reclaimed by
      * `system.vacuum`.
      */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        private val factory =
          LakeWriterFactory(dir.toString, info.schema(), tableSchema.fieldNames,
            LakePartitioning.decode(props),
            bloomBy = LakeTable.bloomCols(props),
            bloomInline = LakeTable.bloomInline(props),
            codec = LakeTable.codecOf(props),
            rowGroupBytes = LakeTable.rowGroupBytes(props),
            collectKeys = upsertCols.map(c => (c._1, c._3)))
        private val queryId = info.queryId()
        // enforced CHECKs, parsed + analyzed + bound against the write
        // schema on the DRIVER (tasks just eval): the micro-batch write
        // plan bypasses Spark's batch-side constraint injection
        private val boundChecks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
          import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences}
          import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
          import org.apache.spark.sql.connector.catalog.constraints.Check
          val enforced = LakeConstraints.decode(props).collect {
            case c: Check if c.enforced() => c }
          if (enforced.isEmpty) Seq.empty
          else {
            val spark = org.apache.spark.sql.SparkSession.active
            val attrs = info.schema().fields.toSeq.map(f =>
              AttributeReference(f.name, f.dataType, f.nullable)())
            enforced.toSeq.map { c =>
              val parsed = spark.sessionState.sqlParser.parseExpression(c.predicateSql())
              val resolved = spark.sessionState.analyzer
                .execute(Filter(parsed, LocalRelation(attrs)))
                .asInstanceOf[Filter].condition
              c.name() -> BindReferences.bindReference(resolved, attrs)
            }
          }
        }
        override def createStreamingWriterFactory(
            pi: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
          LakeStreamingWriterFactory(factory, boundChecks)
        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = {
          val written = LakeLog.writtenEntries(
            messages.toSeq.flatMap(_.asInstanceOf[LakeFileMessage].files),
            tableSchema, props, props.get("sortBy").toSeq,
            stamp = Some((queryId, epochId)))
          // an epoch REPLAY accumulates a redundant equality-delete
          // record (same key set, higher seq — semantically idempotent:
          // strict birth-seq scoping excludes the replayed files
          // themselves, and no later epoch can have committed, or this
          // one's offsets would not replay); compaction clears it
          val eqAdd = upsertRecord(messages)
          LakeLog.commitLoop(dir) { cur =>
            // per-query epoch WATERMARK (`qe.<queryId>` prop, the txn.
            // pattern): a first-time epoch provably replaces nothing,
            // so the O(changed) append fast path serves — the
            // steady-state ingest loop never materializes the table;
            // only a REPLAY (epoch at/below the watermark) pays the
            // full supersede-and-diff commit
            val wmKey = s"qe.$queryId"
            val wm = cur.props.get(wmKey).flatMap(_.toLongOption)
            val props2 = cur.props +
              (wmKey -> math.max(epochId, wm.getOrElse(-1L)).toString)
            if (wm.forall(epochId > _))
              Some(LakeLog.Append(written, props2, eqAdd = eqAdd))
            else {
              val keep = cur.files.filterNot(f =>
                f.epoch.contains(epochId) && f.query.contains(queryId))
              Some(LakeLog.Replace(
                LakeSnapshot(cur.version + 1, cur.schema, keep ++ written, props2),
                eqAdd = eqAdd))
            }
          }
        }
        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          LakeWriterFactory.deleteAll(dir.toString, messages)
      }
  }
}

/** Streaming adapter over the batch writer factory (top-level so the
  * serialized closure carries no table/plan outers).
  */
/** Streaming writer wrapper. Spark's analyzer injects CHECK
  * enforcement into BATCH write plans from `Table.constraints`, but
  * the micro-batch write plan bypasses that rule — so the connector
  * enforces here: `checks` are the enforced CHECK predicates, parsed
  * and bound against the write schema on the DRIVER, evaluated per row
  * in the task. SQL CHECK semantics: only FALSE violates (NULL
  * passes). Without this, a stream quietly lands rows every batch
  * INSERT would reject — the same split-brain the WAP pin closes for
  * reads.
  */
case class LakeStreamingWriterFactory(inner: LakeWriterFactory,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    if (checks.isEmpty) w
    else new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        checks.foreach { case (name, pred) =>
          if (pred.eval(row) == false)
            throw new IllegalStateException(
              s"[CHECK_CONSTRAINT_VIOLATION] CHECK constraint $name " +
                "violated by a streamed row")
        }
        w.write(row)
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** One written data file as reported by a task. */
case class LakeFileInfo(path: String, rows: Long,
    stats: Map[String, (Long, Long)], nulls: Map[String, Long],
    part: Seq[Option[String]] = Seq.empty,
    bytes: Long = 0L,
    sums: Map[String, Long] = Map.empty,
    blooms: Map[String, String] = Map.empty,
    kmv: Map[String, Seq[Long]] = Map.empty,
    bloomSc: Seq[String] = Seq.empty,
    sstats: Map[String, (String, String)] = Map.empty)

case class LakeFileMessage(files: Seq[LakeFileInfo],
    // distinct UPSERT key values this task wrote (collected only when
    // the write carries `upsert`): the commit unions them into ONE
    // equality-delete record scoped to every pre-existing file
    upLongs: Seq[Long] = Seq.empty,
    upStrs: Seq[String] = Seq.empty,
    // COMPOSITE-key form: distinct key TUPLES (Long/String components
    // in upsert_key order) — serializable scalars only, never arrays
    upTuples: Seq[Seq[Any]] = Seq.empty,
    // rows written with a fully-non-null key (the `merge_unique`
    // duplicate-source-key guard: sum(upKeyRows) == distinct keys)
    upKeyRows: Long = 0L) extends WriterCommitMessage

object LakeWriterFactory {
  def deleteAll(tableDir: String, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: LakeFileMessage => m.files.foreach { i =>
        Files.deleteIfExists(Paths.get(tableDir).resolve(i.path))
        if (i.bloomSc.nonEmpty)
          Files.deleteIfExists(Paths.get(tableDir).resolve(i.path + ".bloom"))
      }
      case _ => ()
    }
}

/** Writes parquet data files (through Spark's own ParquetWriteSupport —
  * [[LakeParquet.createWriter]]): one file per task for an
  * unpartitioned table, one file per (task, partition tuple) for a
  * partitioned one ([[LakePartitioning]]) — a file never mixes
  * tuples, which is what makes partition pruning and partition
  * overwrite exact. `keep` lists the TABLE columns: a row-level
  * operation's write schema may carry metadata columns after the
  * table columns — only table columns are stored. File statistics
  * (integral min/max + per-column null counts) are read back off the
  * parquet FOOTER at commit, so the log stats are exactly what any
  * parquet reader would derive. Data files are invisible until a log
  * commit references them, so writers target final names directly;
  * abort deletes them; an empty task creates no file at all (writers
  * open lazily on the first row of their tuple). Open writers per
  * task are bounded by the tuples the task sees — the write path's
  * required clustering on the partition source columns keeps that
  * small.
  */
case class LakeWriterFactory(tableDir: String, writeSchema: StructType,
    keep: Array[String],
    partSpec: Seq[LakePartitioning.Field] = Seq.empty,
    bloomBy: Seq[String] = Seq.empty,
    bloomInline: Boolean = false,
    codec: String = "snappy",
    rowGroupBytes: Long = 0L,
    // (column name, long|string) per upsert_key component: collect the
    // batch's distinct key values (tuples when composite) for an UPSERT
    // write's equality-delete record — per-task memory bounded by the
    // batch's distinct keys (a CDC micro-batch), never by the table
    collectKeys: Seq[(String, String)] = Seq.empty,
    // KEYS-ONLY mode (the scan-free MERGE-delete route): collect the
    // key sets exactly as above but write NO data files — the commit
    // lands one equality-delete record and nothing else
    keysOnly: Boolean = false,
    // CDC-APPLY mode: name of a BOOLEAN column in writeSchema marking
    // tombstone rows — their keys join the record (they must die) but
    // the rows never reach a data file; a NULL mark fails the write
    // (an op code the route's conditions cannot classify)
    tombstoneCol: Option[String] = None) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val cols = keep.map(n => writeSchema.fieldIndex(n))
      private val storedSchema = StructType(cols.map(writeSchema(_)))
      private val proj = new GenericInternalRow(cols.length)
      private val evalTuple =
        if (partSpec.isEmpty) null
        else LakePartitioning.evaluator(partSpec, writeSchema)
      private val noTuple: Seq[Option[String]] = Seq.empty
      // integral columns accumulate per-file SUMS into the log (a few
      // wrapping adds per row — and wrapping Long.+ is bit-identical to
      // Spark's non-ANSI sum, so the metadata answer IS the scan answer)
      private val integralIdx: Array[Int] = storedSchema.fields.zipWithIndex
        .filter(fi => fi._1.dataType == LongType || fi._1.dataType == IntegerType)
        .map(_._2)
      // bloomBy columns in the stored schema, with their write-time
      // type: fed row-by-row into fixed-size LOG blooms so point
      // lookups prune at plan time with zero data-file opens
      private val bloomIdx: Array[(Int, String)] = storedSchema.fields.zipWithIndex
        .filter { fi => bloomBy.contains(fi._1.name) &&
          (fi._1.dataType == LongType || fi._1.dataType == IntegerType ||
            fi._1.dataType == StringType) }
        .map(fi => (fi._2, fi._1.dataType.simpleString))
      // KMV NDV sketches cover integral AND string columns — the CBO
      // needs distinctCount most where min/max stats don't exist
      // (string join keys, segments, categories)
      private val kmvIdx: Array[Int] = storedSchema.fields.zipWithIndex
        .filter(fi => fi._1.dataType == LongType || fi._1.dataType == IntegerType ||
          fi._1.dataType == StringType)
        .map(_._2)

      private final class OpenFile(val tuple: Seq[Option[String]]) {
        val rel = s"data/${java.util.UUID.randomUUID().toString.replace("-", "")}.parquet"
        val out = LakeParquet.createWriter(Paths.get(tableDir).resolve(rel),
          storedSchema, bloomBy, codec, rowGroupBytes)
        var rows = 0L
        val sums = new Array[Long](cols.length)
        val blooms = bloomIdx.map(_ => LakeParquet.newLogBloom())
        // KMV NDV sketch per integral/string column — one xxHash +
        // (mostly) one unsigned compare per row once the sketch warms
        val kmvs = kmvIdx.map(_ => new LakeParquet.KmvAcc())
      }
      private val open = scala.collection.mutable.LinkedHashMap[Seq[Option[String]], OpenFile]()
      private val upKeyIdx: Array[Int] =
        collectKeys.map(c => writeSchema.fieldIndex(c._1)).toArray
      private val tombIdx: Int =
        tombstoneCol.map(writeSchema.fieldIndex).getOrElse(-1)
      private val upLongSet = scala.collection.mutable.Set.empty[Long]
      private val upStrSet = scala.collection.mutable.Set.empty[String]
      private val upTupleSet = scala.collection.mutable.Set.empty[Seq[Any]]
      // rows with a fully-non-null key — the `merge_unique` guard
      // compares the global sum against the record's distinct count
      private var upKeyRows = 0L
      private def upComponent(row: InternalRow, j: Int): Any = {
        val idx = upKeyIdx(j)
        if (collectKeys(j)._2 == "long") writeSchema(idx).dataType match {
          case IntegerType => row.getInt(idx).toLong
          case _ => row.getLong(idx)
        }
        else row.getUTF8String(idx).toString
      }

      override def write(row: InternalRow): Unit = {
        // a NULL key component never matches an IN/anti-join — the row
        // still inserts, it just cannot replace anything (SQL IN rules)
        if (upKeyIdx.length == 1 && !row.isNullAt(upKeyIdx(0))) {
          upComponent(row, 0) match {
            case l: Long => upLongSet += l
            case s: String => upStrSet += s
          }
          upKeyRows += 1L
        } else if (upKeyIdx.length > 1 && upKeyIdx.forall(!row.isNullAt(_))) {
          upTupleSet += upKeyIdx.indices.map(upComponent(row, _))
          upKeyRows += 1L
        }
        if (keysOnly) return
        if (tombIdx >= 0) {
          if (row.isNullAt(tombIdx)) throw new IllegalStateException(
            "graftlake: CDC-apply MERGE met a NULL op mark — the routed " +
              "clause conditions cannot classify the row; clean the op " +
              "column or use a non-canonical MERGE shape")
          if (row.getBoolean(tombIdx)) return // tombstone: key only
        }
        val tuple = if (evalTuple == null) noTuple else evalTuple(row)
        val f = open.getOrElseUpdate(tuple, new OpenFile(tuple))
        var c = 0
        while (c < cols.length) {
          proj.update(c,
            if (row.isNullAt(cols(c))) null
            else row.get(cols(c), storedSchema(c).dataType))
          c += 1
        }
        var s = 0
        while (s < integralIdx.length) {
          val ci = integralIdx(s)
          if (!proj.isNullAt(ci)) {
            f.sums(ci) +=
              (if (storedSchema(ci).dataType == LongType) proj.getLong(ci)
               else proj.getInt(ci).toLong)
          }
          s += 1
        }
        var ki = 0
        while (ki < kmvIdx.length) {
          val ci = kmvIdx(ki)
          if (!proj.isNullAt(ci)) {
            val dt = storedSchema(ci).dataType
            f.kmvs(ki).insert(
              if (dt == StringType) LakeParquet.kmvHashString(proj.getUTF8String(ci))
              else LakeParquet.kmvHashLong(
                if (dt == LongType) proj.getLong(ci) else proj.getInt(ci).toLong))
          }
          ki += 1
        }
        var bi = 0
        while (bi < bloomIdx.length) {
          val (ci, t) = bloomIdx(bi)
          if (!proj.isNullAt(ci)) {
            val bf = f.blooms(bi)
            // hash immediately — a UTF8String here may point into a
            // reused row buffer
            LakeParquet.logBloomHash(bf, t, proj.get(ci, storedSchema(ci).dataType))
              .foreach(bf.insertHash)
          }
          bi += 1
        }
        f.out.write(proj)
        f.rows += 1L
      }

      override def commit(): WriterCommitMessage = {
        val infos = open.values.map { f =>
          f.out.close()
          val abs = Paths.get(tableDir).resolve(f.rel)
          val st = LakeParquet.footerStats(abs)
          require(st.rows == f.rows,
            s"parquet footer row count ${st.rows} != rows written ${f.rows} in ${f.rel}")
          // bloom bitsets: SIDECAR by default (one binary file per
          // data file, fixed 8 KB slot per column — the log entry
          // records only the column order and probing preads one
          // slot); inline base64 only under `bloom_inline` — at 1M
          // files × 1 column the inline form is ~11 GB of checkpoint
          val (inlineBlooms, sidecarCols) =
            if (bloomIdx.isEmpty) (Map.empty[String, String], Seq.empty[String])
            else if (bloomInline)
              (bloomIdx.zipWithIndex.map { case ((ci, _), bi) =>
                storedSchema(ci).name -> LakeParquet.bloomToB64(f.blooms(bi)) }.toMap,
                Seq.empty[String])
            else {
              val sc = Paths.get(tableDir).resolve(f.rel + ".bloom")
              val out = Files.newOutputStream(sc)
              try f.blooms.foreach(bf => out.write(LakeParquet.bloomBytes(bf)))
              finally out.close()
              (Map.empty[String, String],
                bloomIdx.map { case (ci, _) => storedSchema(ci).name }.toSeq)
            }
          LakeFileInfo(f.rel, f.rows, st.stats, st.nulls, f.tuple,
            bytes = Files.size(abs),
            sstats = st.sstats,
            sums = integralIdx.map(ci => storedSchema(ci).name -> f.sums(ci)).toMap,
            blooms = inlineBlooms,
            // an all-null column records an EMPTY sketch on purpose —
            // the planner needs the key present to know coverage is
            // complete (nulls contribute no distinct values)
            kmv = kmvIdx.zipWithIndex.map { case (ci, k) =>
              storedSchema(ci).name -> f.kmvs(k).result }.toMap,
            bloomSc = sidecarCols)
        }.toSeq
        open.clear()
        LakeFileMessage(infos, upLongs = upLongSet.toSeq.sorted,
          upStrs = upStrSet.toSeq.sorted,
          upTuples = upTupleSet.toSeq.sortBy(LakeEq.encodeTuple),
          upKeyRows = upKeyRows)
      }

      override def abort(): Unit = {
        open.values.foreach { f =>
          f.out.close()
          Files.deleteIfExists(Paths.get(tableDir).resolve(f.rel))
          Files.deleteIfExists(Paths.get(tableDir).resolve(f.rel + ".bloom"))
        }
        open.clear()
      }
      override def close(): Unit = ()
    }
}

/** Routes a ((bucket, z), row) pair to partition = bucket — the
  * deterministic z-space split under `system.zorder` (top-level case
  * class: ships to executors with no procedure outers).
  */
case class LakeBucketPartitioner(parts: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = parts
  override def getPartition(key: Any): Int = key match {
    case (zb: Long, _) => math.min(parts - 1, math.max(0, zb.toInt))
    case other => throw new IllegalArgumentException(s"unexpected key $other")
  }
}

/** Per-bin in-memory sort restoring a declared `sortBy` under
  * `system.compact_size` — safe because a bin is ≤ target_bytes by
  * construction. Nulls first, matching the write path's ASC ordering.
  * Top-level case class: ships to executors with no procedure outers.
  */
case class LakeBinSorter(i: Int, dt: DataType)
  extends (Iterator[InternalRow] => Iterator[InternalRow]) {
  override def apply(it: Iterator[InternalRow]): Iterator[InternalRow] = {
    val buf = it.toArray
    val valueOrd: Ordering[InternalRow] = dt match {
      case LongType => Ordering.by(_.getLong(i))
      case IntegerType => Ordering.by(_.getInt(i))
      case DoubleType =>
        Ordering.by[InternalRow, Double](_.getDouble(i))(
          Ordering.Double.TotalOrdering)
      case BooleanType => Ordering.by(_.getBoolean(i))
      // UTF8String.compareTo is unsigned-BYTE order — the SAME order
      // the append/compact write path sorts by. Converting to java
      // String would compare UTF-16 code units, which disagrees for
      // supplementary characters and would leave compacted files in a
      // different order than the declared layout produces elsewhere.
      case _ => Ordering.by[InternalRow, org.apache.spark.unsafe.types.UTF8String](
        _.getUTF8String(i))(Ordering.fromLessThan(_.compareTo(_) < 0))
    }
    val ord: Ordering[InternalRow] = (a, b) =>
      (a.isNullAt(i), b.isNullAt(i)) match {
        case (true, true) => 0
        case (true, false) => -1
        case (false, true) => 1
        case _ => valueOrd.compare(a, b)
      }
    java.util.Arrays.sort(buf, ord)
    buf.iterator
  }
}

/** Routes a row to exactly its driver-assigned output bin — the
  * deterministic bin-pack split under `system.compact_size` (hash
  * partitioning would merge distinct bins on collision).
  */
case class LakeBinPartitioner(parts: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = parts
  override def getPartition(key: Any): Int = key match {
    case b: Int => math.min(parts - 1, math.max(0, b))
    case other => throw new IllegalArgumentException(s"unexpected key $other")
  }
}

/** Maintenance STORED PROCEDURES (`CALL <cat>.system.<proc>(...)`) —
  * the ops surface a table format needs beside queries, on Spark 4's
  * DSv2 procedure API:
  *
  *   - `compact(table, target_files)` — rewrite the live file set into
  *     `target_files` files as a DISTRIBUTED Spark job (writers run in
  *     tasks via the normal [[LakeWriterFactory]]), then ONE atomic
  *     log commit swaps old files for new. Readers never see doubled
  *     or missing rows; appends landing mid-compaction survive (only
  *     the snapshot the compaction READ is swapped out).
  *   - `vacuum(table, retain_last)` — physically delete data files
  *     referenced by NO retained version and drop log versions older
  *     than the retention window (time travel contracts to the window,
  *     which is the price of reclaiming storage).
  *   - `history(table)` — the version log as rows.
  *
  * Each returns its result as a [[LocalScan]] row set.
  */
object LakeProcedures {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.LocalScan

  private def out(schema0: StructType, rows0: Seq[InternalRow]): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema0
      override def rows(): Array[InternalRow] = rows0.toArray
      override def description(): String = "graftlake-procedure-result"
    }).iterator()

  /** A one-row procedure result (Scala strings become UTF8String). */
  private def one(schema0: StructType, values: Any*): java.util.Iterator[Scan] =
    out(schema0, Seq(new GenericInternalRow(values.map {
      case v: String => UTF8String.fromString(v)
      case v => v
    }.toArray)))

  /** A result schema of NOT NULL columns. */
  private def columns(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })

  private def resolve(warehouse: Path, tableRef: String): Path =
    tableRef.split('.').foldLeft(warehouse)(_.resolve(_))

  /** Shared rewrite-and-swap: run `arranged` (some re-arrangement of
    * the live rows of `snap`) through the normal task-side writers,
    * then atomically swap the snapshot's files for the new set —
    * readers never see doubled or missing rows, and appends landing
    * mid-rewrite survive (only the files the rewrite READ are
    * swapped; a concurrent change to them aborts).
    */
  private[graft] def swapRewrite(dir: Path, snap: LakeSnapshot,
      rows: org.apache.spark.rdd.RDD[InternalRow],
      writeSchema: StructType,
      replacedFiles: Option[Set[String]] = None,
      // the sort layout the CALLER's arrangement enforced on `rows` —
      // compact passes the declared sortBy, zorder's curve order is
      // not a column order and passes nothing
      sortedBy: Seq[String] = Seq.empty): Seq[LakeFile] = {
    val dirStr = dir.toString
    val cols = snap.schema.fieldNames
    // hoist everything the task needs OUT of the closure: capturing
    // `snap` would drag a lazy LakePartedFiles into the serialized
    // closure (unserializable by design — it must never ship), which
    // is exactly what a rewrite of a CHECKPOINTED table would do
    val partSpec = LakePartitioning.decode(snap.props)
    val bloomBy = LakeTable.bloomCols(snap.props)
    val bloomInline = LakeTable.bloomInline(snap.props)
    val codec = LakeTable.codecOf(snap.props)
    val rowGroupBytes = LakeTable.rowGroupBytes(snap.props)
    val infos = rows
      .mapPartitionsWithIndex { (pid, it) =>
        val w = LakeWriterFactory(dirStr, writeSchema, cols,
          partSpec, bloomBy = bloomBy, bloomInline = bloomInline,
          codec = codec, rowGroupBytes = rowGroupBytes).createWriter(pid, 0L)
        it.foreach(w.write)
        Iterator(w.commit())
      }.collect().toSeq
      .flatMap { case m: LakeFileMessage => m.files }
    val written = LakeLog.writtenEntries(infos, snap.schema, snap.props, sortedBy)
    // a PARTIAL rewrite (compact_size) swaps only its candidates;
    // conforming files keep their paths, stats, and layout
    val replaced = replacedFiles.getOrElse(snap.files.map(_.path).toSet)
    LakeLog.commitLoop(dir) { cur =>
      LakeLog.requireReadSetCurrent(cur, snap, replaced, written.nonEmpty)
      Some(LakeLog.Replace(cur.next(cur.files.filterNot(f => replaced(f.path)) ++ written)))
    }
    written
  }

  private val rewriteResultSchema = columns(
    "files_before" -> IntegerType, "files_after" -> IntegerType, "rows_rewritten" -> LongType)

  /** `compact_where` / `zorder_where`: the rewrite counts after the
    * number of partitions the predicate selected.
    */
  private val scopedRewriteSchema = StructType(
    columns("partitions_selected" -> IntegerType).fields ++ rewriteResultSchema.fields)

  /** The shared LOG-ONLY partition planner of `compact_where` /
    * `zorder_where`: distinct current-era partition tuples of `snap`
    * matching `where`, plus their files (path-sorted). Identity
    * columns take ANY SQL predicate (evaluated over the distinct
    * tuples, source-typed); a `trunc(n, col)` time-bucket column takes
    * conjunctions of simple comparisons on the SOURCE column,
    * converted to bucket-ordinal ranges with the transform's own
    * floorDiv math — INTERSECT semantics, partial buckets select
    * whole (maintenance rewrites are content-neutral). Anything else
    * on a trunc/bucket column, or a predicate naming a non-partition
    * column, fails loudly. Old-era files don't participate — their
    * tuples aren't comparable under the current spec.
    */
  private def selectPartitions(spark: org.apache.spark.sql.SparkSession,
      snap: LakeSnapshot, where: String):
      (Set[Seq[Option[String]]], Seq[LakeFile]) = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      EqualTo => CEq, GreaterThan => CGt, GreaterThanOrEqual => CGe,
      In => CIn, LessThan => CLt, LessThanOrEqual => CLe,
      Expression => CExpr, Literal => CLit}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val spec = LakePartitioning.decode(snap.props)
    val idCols: Seq[String] = spec.collect {
      case LakePartitioning.Identity(c) => c }
    val truncByCol: Map[String, (LakePartitioning.Trunc, Int)] =
      spec.zipWithIndex.collect {
        case (t @ LakePartitioning.Trunc(_, _), i) => t.col -> ((t, i))
      }.toMap
    require(idCols.nonEmpty || truncByCol.nonEmpty,
      "partition-scoped rewrites need identity or trunc partition columns")
    val curId = LakePartitioning.currentSpecId(snap.props)
    val curEra = snap.files.filter(f =>
      f.specId == curId && f.part.nonEmpty)
    def conjunctsOf(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
      // BETWEEN parses as UnresolvedFunction('between, in, lo, hi) —
      // split it into its two comparisons so the trunc path sees
      // plain shapes
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("between") &&
            f.arguments.length == 3 =>
        Seq(CGe(f.arguments(0), f.arguments(1)),
          CLe(f.arguments(0), f.arguments(2)))
      case other => Seq(other)
    }
    def refsOf(e: CExpr): Set[String] =
      e.collect { case a: UnresolvedAttribute => a.name }.toSet
    val allConjs = conjunctsOf(
      spark.sessionState.sqlParser.parseExpression(where))
    val (truncConjs, idConjs) = allConjs.partition(c =>
      refsOf(c).exists(truncByCol.contains))
    def asLong(v: Any): Long = v match {
      case n: java.lang.Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"partition-scoped rewrite: trunc-column comparisons take " +
          s"integral literals, got $other")
    }
    // bucket b covers [b·n, (b+1)·n): INTERSECT semantics per
    // comparison — partial buckets rewrite whole (documented)
    def bucketTest(c: CExpr): (Int, Long => Boolean) = {
      def field(col: String) = truncByCol(col)
      def ge(col: String, v: Long) = {
        val (t, pi) = field(col); val b0 = Math.floorDiv(v, t.n)
        (pi, (b: Long) => b >= b0)
      }
      def gt(col: String, v: Long) =
        if (v == Long.MaxValue) (field(col)._2, (_: Long) => false)
        else ge(col, v + 1L)
      def le(col: String, v: Long) = {
        val (t, pi) = field(col); val b0 = Math.floorDiv(v, t.n)
        (pi, (b: Long) => b <= b0)
      }
      def lt(col: String, v: Long) =
        if (v == Long.MinValue) (field(col)._2, (_: Long) => false)
        else le(col, v - 1L)
      def eq(col: String, v: Long) = {
        val (t, pi) = field(col); val b0 = Math.floorDiv(v, t.n)
        (pi, (b: Long) => b == b0)
      }
      c match {
        case CGe(a: UnresolvedAttribute, CLit(v, _)) => ge(a.name, asLong(v))
        case CGt(a: UnresolvedAttribute, CLit(v, _)) => gt(a.name, asLong(v))
        case CLe(a: UnresolvedAttribute, CLit(v, _)) => le(a.name, asLong(v))
        case CLt(a: UnresolvedAttribute, CLit(v, _)) => lt(a.name, asLong(v))
        case CEq(a: UnresolvedAttribute, CLit(v, _)) => eq(a.name, asLong(v))
        // literal-first spellings flip the comparison
        case CGe(CLit(v, _), a: UnresolvedAttribute) => le(a.name, asLong(v))
        case CGt(CLit(v, _), a: UnresolvedAttribute) => lt(a.name, asLong(v))
        case CLe(CLit(v, _), a: UnresolvedAttribute) => ge(a.name, asLong(v))
        case CLt(CLit(v, _), a: UnresolvedAttribute) => gt(a.name, asLong(v))
        case CEq(CLit(v, _), a: UnresolvedAttribute) => eq(a.name, asLong(v))
        case CIn(a: UnresolvedAttribute, vs)
            if vs.forall(_.isInstanceOf[CLit]) =>
          val n = truncByCol(a.name)._1.n
          val set = vs.map(l =>
            Math.floorDiv(asLong(l.asInstanceOf[CLit].value), n)).toSet
          (truncByCol(a.name)._2, set.contains _)
        case other => throw new IllegalArgumentException(
          "partition-scoped rewrite: a trunc time-bucket column takes " +
            "conjunctions of simple comparisons on its source " +
            s"column (<, <=, >, >=, =, BETWEEN, IN), got: ${other.sql}")
      }
    }
    val bucketTests: Seq[(Int, Long => Boolean)] =
      truncConjs.map { c =>
        require(refsOf(c).forall(truncByCol.contains),
          "partition-scoped rewrite: a conjunct may not mix trunc and " +
            s"other columns: ${c.sql}")
        bucketTest(c)
      }
    // the identity side runs over the DISTINCT partition tuples,
    // typed like the source columns
    val idIdx = spec.zipWithIndex.collect {
      case (LakePartitioning.Identity(c), i) => c -> i }
    val tuples = curEra.map(_.part).distinct
    def typed(c: String, s: Option[String]): Any = s match {
      case None => null
      case Some(v) => snap.schema(snap.schema.fieldIndex(c)).dataType match {
        case LongType => java.lang.Long.valueOf(v)
        case IntegerType => java.lang.Integer.valueOf(v)
        case BooleanType => java.lang.Boolean.valueOf(v)
        case _ => v
      }
    }
    def truncOk(t: Seq[Option[String]]): Boolean =
      bucketTests.forall { case (pi, test) =>
        t.lift(pi).flatten.exists(v => test(v.toLong)) }
    val idSelected: Set[Seq[Option[String]]] =
      if (idConjs.isEmpty) tuples.map(t => idIdx.map {
        case (_, i) => t.lift(i).flatten }).toSet
      else {
        val tupleRows = tuples.map(t => org.apache.spark.sql.Row.fromSeq(
          idIdx.map { case (c, i) => typed(c, t.lift(i).flatten) }))
        val tupleSchema = StructType(idIdx.map { case (c, _) =>
          StructField(c, snap.schema(snap.schema.fieldIndex(c)).dataType,
            nullable = true) })
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(tupleRows.asJava, tupleSchema)
          .where(idConjs.map(_.sql).mkString(" AND "))
          .collect().map(r => idIdx.map { case (c, _) =>
            Option(r.getAs[Any](c)).map(String.valueOf) }).toSet
      }
    val selectedTuples = tuples.filter(t =>
      idSelected.contains(idIdx.map { case (_, i) => t.lift(i).flatten }) &&
        truncOk(t)).toSet
    val byTuple = curEra.groupBy(_.part)
    val candidates = byTuple.view.filterKeys(selectedTuples.contains)
      .values.flatten.toSeq.sortBy(_.path)
    (selectedTuples, candidates)
  }

  /** A full-rewrite procedure's arrangement of `base` into `target`
    * partitions, keeping the DECLARED layout: clustered by `clusterBy`
    * and sorted within partitions by `sortBy`. The write path forces
    * this layout on every append/COW, and a maintenance rewrite
    * silently degrading it would un-tighten the very stats metadata
    * deletes and skipping depend on.
    */
  private def compactionLayout(base: org.apache.spark.sql.DataFrame, target: Int,
      props: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val spread = props.get("clusterBy")
      .map(c => base.repartition(target, col(c))).getOrElse(base.repartition(target))
    props.get("sortBy").map(c => spread.sortWithinPartitions(col(c))).getOrElse(spread)
  }

  /** One stored procedure: its name, signature doc, IN parameters and
    * body. The table below is the ONE list of procedures — `Names`
    * (what `listProcedures` reports and `loadProcedure` accepts) and
    * the dispatch in [[load]] both read it.
    */
  private final case class Proc(name: String, doc: String,
      params: Seq[(String, DataType)], body: Call => java.util.Iterator[Scan])

  /** One CALL: the catalog it runs in and its bound arguments. */
  private final case class Call(catName: String, warehouse: Path, args: InternalRow) {
    def str(i: Int): String = args.getUTF8String(i).toString
    def dir(i: Int): Path = resolve(warehouse, str(i))
  }

  private val procedures: Seq[Proc] = Seq(
    Proc("compact",
      "compact(table STRING, target_files INT): rewrite live files into target_files files",
      Seq("table" -> StringType, "target_files" -> IntegerType), compact),
    Proc("compact_size",
      "compact_size(table STRING, target_bytes BIGINT): bin-pack files " +
        "smaller than target_bytes into ~target_bytes files per " +
        "partition; conforming files are not rewritten",
      Seq("table" -> StringType, "target_bytes" -> LongType), compactSize),
    Proc("compact_where",
      "compact_where(table STRING, where STRING, target_files INT): " +
        "compact only the identity partitions matching the predicate",
      Seq("table" -> StringType, "where" -> StringType, "target_files" -> IntegerType), compactWhere),
    Proc("zorder",
      "zorder(table STRING, col_x STRING, col_y STRING, target_files INT): " +
        "rewrite live files in z-order of two integral columns",
      Seq("table" -> StringType, "col_x" -> StringType, "col_y" -> StringType, "target_files" -> IntegerType), zorder),
    Proc("zorder_where",
      "zorder_where(table STRING, where STRING, col_x STRING, " +
        "col_y STRING, target_files INT): z-order only the " +
        "partitions matching the predicate",
      Seq("table" -> StringType, "where" -> StringType, "col_x" -> StringType, "col_y" -> StringType, "target_files" -> IntegerType), zorderWhere),
    Proc("vacuum",
      "vacuum(table STRING, retain_last INT): drop data files + log versions outside the retention window",
      Seq("table" -> StringType, "retain_last" -> IntegerType), vacuum),
    Proc("maintain",
      "maintain(table STRING): resolve the equality-record / delete-vector " +
        "backlogs once compact_when_eq_records / compact_when_dv_pct are " +
        "reached; no-op below the thresholds",
      Seq("table" -> StringType), maintain),
    Proc("history",
      "history(table STRING): one row per retained log version",
      Seq("table" -> StringType), history),
    Proc("evolve_partitioning",
      "evolve_partitioning(table STRING, spec STRING): make spec " +
        "('col', 'bucket(n, col)', comma-separated; '' = unpartitioned) " +
        "the current partition spec — metadata-only, existing files " +
        "keep their write-time spec",
      Seq("table" -> StringType, "spec" -> StringType), evolvePartitioning),
    Proc("tag",
      "tag(table STRING, name STRING, version BIGINT): immutable named ref (-1 = head)",
      Seq("table" -> StringType, "name" -> StringType, "version" -> LongType), tag),
    Proc("branch",
      "branch(table STRING, name STRING): open the staging branch (pins the default view)",
      Seq("table" -> StringType, "name" -> StringType), branch),
    Proc("publish",
      "publish(table STRING, name STRING): fast-forward the default view to the branch head",
      Seq("table" -> StringType, "name" -> StringType), publish),
    Proc("drop_ref",
      "drop_ref(table STRING, name STRING): remove a named ref",
      Seq("table" -> StringType, "name" -> StringType), dropRef),
    Proc("rollback",
      "rollback(table STRING, version BIGINT): commit a new version restoring the table to `version`",
      Seq("table" -> StringType, "version" -> LongType), rollback),
    Proc("clone",
      "clone(source STRING, target STRING, version BIGINT): zero-copy shallow clone (-1 = head)",
      Seq("source" -> StringType, "target" -> StringType, "version" -> LongType), cloneTable),
    Proc("health",
      "health(table STRING, deep BOOLEAN): log integrity probe; " +
        "deep also stats every live file",
      Seq("table" -> StringType, "deep" -> BooleanType), health))

  val Names: Array[String] = procedures.map(_.name).toArray

  private val byName: Map[String, Proc] = procedures.map(p => p.name -> p).toMap

  def load(name: String, catName: String, warehouse: Path): UnboundProcedure = {
    val p = byName(name)
    new UnboundProcedure {
      override def name(): String = p.name
      override def description(): String = p.doc
      override def bind(input: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = p.name
        override def description(): String = p.doc
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          p.params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
        override def call(args: InternalRow): java.util.Iterator[Scan] =
          p.body(Call(catName, warehouse, args))
      }
    }
  }

  private def compact(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val target = math.max(1, c.args.getInt(1))
    val spark = org.apache.spark.sql.SparkSession.active
    val snap = LakeLog.currentSnapshot(dir).get
    val fqn = s"${c.catName}.${c.str(0)}"
    // distributed rewrite: plain table read → repartition →
    // the SAME task-side writers the write path uses
    val arranged = compactionLayout(spark.table(fqn), target, snap.props)
    val written = swapRewrite(dir, snap,
      arranged.queryExecution.toRdd, snap.schema,
      sortedBy = snap.props.get("sortBy").toSeq)
    one(rewriteResultSchema, snap.files.size, written.size, written.map(_.rows).sum)
  }

  /** MERGE-ON-READ backlog maintenance policy. `maintain(table)`
    * reads two operator thresholds (validated at CREATE/ALTER) and
    * resolves whichever backlog reached its line, in ONE rewrite:
    *
    *  - `compact_when_eq_records = N`: once the LIVE equality
    *    record count reaches N, rewrites exactly the files any
    *    record predates (reading them applies dvs + the anti-join,
    *    so the rebirths come out clean at the new version); the
    *    commit's auto-prune then drops the whole record set — the
    *    next scan plans zero eq key columns.
    *  - `compact_when_dv_pct = P`: any file whose delete vector
    *    covers ≥ P% of its rows rewrites clean — the per-read
    *    position-skip tax (and the dead bytes) are reclaimed file
    *    by file, never table-wide.
    *
    * Below both lines (or without the properties) the call is a
    * NO-OP, so operators script it after every ingest cycle and
    * pay rewrites only when a read tax would otherwise compound.
    * Files outside both candidate sets keep their paths, stats,
    * and layout untouched.
    */
  private def maintain(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val spark = org.apache.spark.sql.SparkSession.active
    val snap = LakeLog.currentSnapshot(dir).get
    val resultSchema = StructType(Seq(
      StructField("triggered", BooleanType, nullable = false),
      StructField("eq_records", IntegerType, nullable = false),
      StructField("threshold", LongType, nullable = true),
      StructField("files_rewritten", IntegerType, nullable = false),
      StructField("rows_rewritten", LongType, nullable = false),
      StructField("dv_files", IntegerType, nullable = false)))
    val threshold = snap.props.get("compact_when_eq_records")
      .flatMap(_.toLongOption)
    val dvPct = snap.props.get("compact_when_dv_pct")
      .flatMap(_.toLongOption)
    val records = snap.eqdels.size
    def row(trig: Boolean, nf: Int, nr: Long, dvf: Int) =
      one(resultSchema, trig, records, threshold.map(Long.box).orNull, nf, nr, dvf)
    val eqFire = threshold.exists(records >= _)
    // every file ANY record predates must be reborn, or the
    // commit's prune rule keeps the records alive (a live
    // record implies at least one such file exists)
    val eqCands =
      if (!eqFire) Seq.empty[LakeFile]
      else {
        val maxSeq = snap.eqdels.map(_.seq).max
        snap.files.filter(_.seq < maxSeq)
      }
    val dvCands = dvPct.map(p => snap.files.filter(f =>
      f.dvRows > 0L && f.dvRows * 100L >= p * f.rows))
      .getOrElse(Seq.empty)
    if (!eqFire && dvCands.isEmpty) return row(trig = false, 0, 0L, 0)
    val eqPaths = eqCands.map(_.path).toSet
    val candidateFiles =
      eqCands ++ dvCands.filterNot(f => eqPaths(f.path))
    if (candidateFiles.isEmpty) return row(trig = true, 0, 0L, 0)
    val candidates = candidateFiles.map(_.path)
    val candSet = candidates.toSet
    val fqn = s"${c.catName}.${c.str(0)}"
    import org.apache.spark.sql.functions.{col => fcol}
    // scan ONLY the predating files (file-exact IN pruning);
    // reading them resolves dv + record liveness task-side
    val base = spark.table(fqn)
      .where(fcol(LakeTable.FileColumn).isin(candidates: _*))
    val perFile = math.max(1L, LakeTable.targetFileBytes(snap.props))
    val bytes = candidateFiles.map(_.bytes).sum
    val target = math.max(1, math.min(candidates.size,
      math.ceil(bytes.toDouble / perFile).toInt))
    val arranged = compactionLayout(base, target, snap.props)
    val written = swapRewrite(dir, snap,
      arranged.queryExecution.toRdd, snap.schema,
      replacedFiles = Some(candSet),
      sortedBy = snap.props.get("sortBy").toSeq)
    row(trig = true, written.size, written.map(_.rows).sum,
      dvCands.size)
  }

  /** SIZE-targeted INCREMENTAL compaction — the small-file problem's
    * real fix. `compact(n)` rewrites the whole snapshot; this one
    * bin-packs ONLY files below `target_bytes` (first-fit
    * decreasing on the log's recorded file sizes), per partition
    * tuple and spec era, and swaps just those — already-conforming
    * files keep their paths, stats, and layout untouched. The read
    * side scans ONLY the candidates: the `_file` IN predicate is
    * file-exact in [[LakeStats.decide]], so planning prunes every
    * conforming file before a single task launches. Bins route
    * through an explicit partitioner (hash would merge bins on
    * collision), and a declared `sortBy` is restored per bin with
    * an in-memory sort — safe because a bin is ≤ target_bytes by
    * construction.
    */
  private def compactSize(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val target = math.max(1L, c.args.getLong(1))
    val spark = org.apache.spark.sql.SparkSession.active
    val snap = LakeLog.currentSnapshot(dir).get
    def sizeOf(f: LakeFile): Long =
      if (f.bytes > 0L) f.bytes
      else Files.size(dir.resolve(f.path)) // pre-feature log entry
    val resultSchema = columns("candidate_files" -> IntegerType,
      "skipped_files" -> IntegerType, "new_files" -> IntegerType, "rows_rewritten" -> LongType)
    // candidates: per (era, tuple) groups holding ≥2 sub-target
    // files (one small file alone has nothing to merge with)
    val groups = snap.files.groupBy(f => (f.specId, f.part)).values.toSeq
    val plan = groups
      .map(_.filter(f => sizeOf(f) < target))
      .filter(_.size >= 2)
      .sortBy(_.head.path) // deterministic bin numbering
    if (plan.isEmpty)
      return one(resultSchema, 0, snap.files.size, 0, 0L)
    // first-fit decreasing bin pack within each group
    val fileBin = Seq.newBuilder[(String, Int)]
    var nBins = 0
    plan.foreach { group =>
      val bins = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      group.sortBy(f => (-sizeOf(f), f.path)).foreach { f =>
        val sz = sizeOf(f)
        bins.indexWhere(_._2 + sz <= target) match {
          case -1 =>
            bins += ((nBins, sz)); fileBin += f.path -> nBins; nBins += 1
          case i =>
            fileBin += f.path -> bins(i)._1
            bins(i) = (bins(i)._1, bins(i)._2 + sz)
        }
      }
    }
    val binByPath = fileBin.result()
    val candidates = binByPath.map(_._1)
    val fqn = s"${c.catName}.${c.str(0)}"
    import org.apache.spark.sql.functions.{broadcast, col => fcol}
    // scan ONLY the candidates (static _file IN pruning), route
    // each row to its file's bin via a broadcast map join
    val binDf = spark.createDataFrame(binByPath).toDF("__f", "__bin")
    val projected = spark.table(fqn)
      .where(fcol(LakeTable.FileColumn).isin(candidates: _*))
      .join(broadcast(binDf), fcol(LakeTable.FileColumn) === fcol("__f"))
      .select((Seq(fcol("__bin")) ++
        snap.schema.fieldNames.toSeq.map(fcol(_))): _*)
    val writeSchema = projected.schema
    val sortIdx = snap.props.get("sortBy")
      .map(c => (snap.schema.fieldIndex(c) + 1, snap.schema(c).dataType))
    val routed = projected.queryExecution.toRdd
      .mapPartitions(_.map(r => (r.getInt(0), r.copy())))
      .partitionBy(LakeBinPartitioner(math.max(1, nBins)))
      .map(_._2)
    val arranged = sortIdx.fold(routed) { case (i, dt) =>
      // top-level sorter: a closure here would drag the
      // procedure's anon class into the task (not serializable)
      routed.mapPartitions(LakeBinSorter(i, dt))
    }
    val written = swapRewrite(dir, snap, arranged, writeSchema,
      replacedFiles = Some(candidates.toSet),
      sortedBy = snap.props.get("sortBy").toSeq)
    one(resultSchema, candidates.size, snap.files.size - candidates.size,
      written.size, written.map(_.rows).sum)
  }

  /** PARTITION-SCOPED compaction — the 100 TB maintenance shape:
    * `OPTIMIZE ... WHERE` compacts yesterday's partition, never
    * the table. The predicate evaluates over the table's PARTITION
    * TUPLES (read from the log — zero data IO to plan), selected
    * tuples' current-era files rewrite into ≤ 1 file per tuple
    * (the task-side writer splits by tuple; `sortBy` is restored
    * by the arrangement), and the swap commit replaces exactly
    * those files — untouched partitions keep their paths, stats,
    * and layout byte-identical.
    *
    * Identity columns take ANY SQL predicate (evaluated over the
    * distinct tuples, source-typed). A `trunc(n, col)` TIME-BUCKET
    * column takes conjunctions of simple comparisons on the SOURCE
    * column (`col < X`, `col >= X`, `col = X`, `BETWEEN`, `IN`) —
    * converted to bucket-ordinal ranges with the transform's own
    * floorDiv math. Semantics: a bucket is selected when its value
    * range INTERSECTS the predicate — partial buckets compact
    * WHOLE (compaction is content-neutral, so rewriting the
    * enclosing bucket of a mid-bucket bound is safe; refusing
    * would make scripted "OPTIMIZE yesterday" brittle). Anything
    * else on a trunc/bucket column, or a predicate naming a
    * non-partition column, fails loudly; old-era files (pre
    * partition-evolution) don't participate — their tuples aren't
    * comparable under the current spec.
    */
  private def compactWhere(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val where = c.str(1)
    val target = math.max(1, c.args.getInt(2))
    val spark = org.apache.spark.sql.SparkSession.active
    val snap = LakeLog.currentSnapshot(dir).get
    val spec = LakePartitioning.decode(snap.props)
    val (selectedTuples, candidateFiles) =
      selectPartitions(spark, snap, where)
    val candidates = candidateFiles.map(_.path)
    if (candidates.isEmpty)
      return one(scopedRewriteSchema, selectedTuples.size, 0, 0, 0L)
    val fqn = s"${c.catName}.${c.str(0)}"
    import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
    // scan ONLY the candidates (file-exact _file IN pruning);
    // the writer splits per tuple, so repartitioning on the
    // tuple sources yields one file per selected tuple per
    // task that sees it. Trunc fields shuffle on the bucket
    // ORDINAL (exact integer floorDiv spelling — `div` on an
    // exact multiple), co-locating each whole time bucket.
    val shuffleKeys = spec.map {
      case LakePartitioning.Identity(c) => fcol(c)
      case LakePartitioning.Trunc(c, n) =>
        fexpr(s"($c - ((($c % $n) + $n) % $n)) div $n")
      case LakePartitioning.Bucket(c, _) => fcol(c)
    }
    val base = spark.table(fqn)
      .where(fcol(LakeTable.FileColumn).isin(candidates: _*))
      .repartition(target, shuffleKeys: _*)
    val arranged = snap.props.get("sortBy")
      .map(s => base.sortWithinPartitions(fcol(s))).getOrElse(base)
      .select(snap.schema.fieldNames.toSeq.map(fcol(_)): _*)
    val written = swapRewrite(dir, snap,
      arranged.queryExecution.toRdd, snap.schema,
      replacedFiles = Some(candidates.toSet),
      sortedBy = snap.props.get("sortBy").toSeq)
    one(scopedRewriteSchema, selectedTuples.size, candidates.size, written.size,
      written.map(_.rows).sum)
  }

  /** Multi-dimensional CLUSTERING: rewrite the live rows in Morton
    * (z-curve) order of two integral columns, quantized onto the
    * full 16-bit space from their observed domain
    * ([[graft.operators.Layout]] — the same interleave the layout
    * queries z01–z03 verify against DuckDB). Each output file then
    * advertises a NARROW rectangle in BOTH dimensions in its
    * footer stats, so 2-dim range predicates skip files the way a
    * 1-dim sort only allows for its own column. Content-neutral by
    * construction — the same swap commit as compaction.
    */
  private def zorder(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val cx = c.str(1)
    val cy = c.str(2)
    val target = math.max(1, c.args.getInt(3))
    val spark = org.apache.spark.sql.SparkSession.active
    val snap = LakeLog.currentSnapshot(dir).get
    val fqn = s"${c.catName}.${c.str(0)}"
    val (nb, na, rows) = zorderRewrite(spark, fqn, dir, snap,
      snap.files, cx, cy, target)
    one(rewriteResultSchema, nb, na, rows)
  }

  /** Partition-scoped z-order — the time-bucket layout's OTHER
    * maintenance op: `zorder_where('t', 'ts >= a AND ts < b', x,
    * y, n)` clusters exactly yesterday's bucket. Selection is
    * [[selectPartitions]] (identity SQL + trunc source-column
    * ranges, log-only); the rewrite is the same incremental
    * interval sweep as `zorder`, scoped to the selected tuples'
    * files — untouched buckets keep their paths, and already-
    * conforming files inside the scope keep theirs too.
    */
  private def zorderWhere(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val where = c.str(1)
    val cx = c.str(2)
    val cy = c.str(3)
    val target = math.max(1, c.args.getInt(4))
    val spark = org.apache.spark.sql.SparkSession.active
    val snap = LakeLog.currentSnapshot(dir).get
    val (selected, scope) = selectPartitions(spark, snap, where)
    val fqn = s"${c.catName}.${c.str(0)}"
    val (nb, na, rows) =
      zorderRewrite(spark, fqn, dir, snap, scope, cx, cy, target)
    one(scopedRewriteSchema, selected.size, nb, na, rows)
  }

  /** Operational INTEGRITY probe — what a fleet health-check calls
    * before trusting a table (or after an incident). SHALLOW
    * (deep=false) reads only the log: the durable
    * checkpoint-failure marker, ORPHANED checkpoint part files
    * (manifest vacuumed first, parts left — reclaimed only below
    * the next vacuum floor), and refs pointing at versions no
    * longer reconstructible (vacuum is supposed to keep every
    * tagged version alive — nonzero means damage). DEEP also
    * verifies the HEAD snapshot's physical closure: every live
    * entry's data file exists with the recorded size, its delete
    * vector exists, its bloom sidecar exists — O(files) stat
    * calls, opt-in by design, and DISTRIBUTED: one Spark task per
    * census chunk (the `__files` fold), so a 10⁸-file table's
    * walk is parallel tasks, not hours of one-JVM syscalls.
    */
  private def health(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val deep = c.args.getBoolean(1)
    val head = LakeLog.currentVersion(dir).getOrElse(
      throw new IllegalArgumentException(
        s"health: ${c.str(0)} does not exist"))
    val marker = LakeLog.lastCheckpointFailure(dir)
    // orphaned parts: a part file whose version has no manifest
    val logDir = dir.resolve("_log")
    val PartName = """c(\d{8})\.p\d{4}\.json""".r
    import scala.jdk.CollectionConverters._
    val orphanParts = scala.util.Using.resource(Files.list(logDir)) {
      _.iterator().asScala.map(_.getFileName.toString).count {
        case PartName(v) =>
          LakeLog.checkpointParts(dir, v.toLong) == 0
        case _ => false
      }
    }
    // refs must stay reconstructible (branches resolve to the
    // head, which trivially is)
    val staleRefs = LakeLog.listRefs(dir).count {
      case (_, _, "branch") => false
      case (_, v, _) => LakeLog.snapshotAt(dir, v).isEmpty
    }
    var missingData = 0
    var sizeMismatch = 0
    var missingDv = 0
    var missingBloom = 0
    var missingEq = 0
    // equality-delete BACKLOG (not damage — every read pays the
    // anti-join until compaction resolves it; the operator's
    // when-to-compact signal): record count + total keys. O(1)
    // from the lazy snapshot header.
    val headSnap = LakeLog.currentSnapshot(dir).get
    val eqRecords = headSnap.eqdels.size
    val eqKeys = headSnap.eqdels.map(_.n).sum
    headSnap.eqdels.foreach { e =>
      if (!Files.isRegularFile(dir.resolve(e.ref))) missingEq += 1
    }
    if (deep) {
      // DISTRIBUTED physical-closure walk: one task per census
      // chunk (checkpoint part / delta) via the same chunk +
      // kill-set fold the `__files` census scans with. The
      // driver plans from the O(1) manifest + O(changes)
      // deltas and sums per-chunk counts — never a per-file
      // syscall loop. Fallback (pruned delta broke the chunk
      // fold): the snapshot-fold walk, as before.
      LakeMetaTables.censusChunks(dir, head) match {
        case Some((chunks, cpKill)) if chunks.nonEmpty =>
          val spark = org.apache.spark.sql.SparkSession.active
          val (md, sm, mdv, mb) = spark.sparkContext
            .parallelize(chunks, chunks.size)
            .map(c => LakeHealth.checkChunk(c, cpKill))
            .fold((0, 0, 0, 0)) { (a, b) =>
              (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4)
            }
          missingData = md; sizeMismatch = sm
          missingDv = mdv; missingBloom = mb
        case _ =>
          headSnap.files.foreach { f =>
            val p = dir.resolve(f.path)
            if (!Files.isRegularFile(p)) missingData += 1
            else if (f.bytes > 0L && Files.size(p) != f.bytes)
              sizeMismatch += 1
            f.dv.foreach { d =>
              if (!Files.isRegularFile(dir.resolve(d))) missingDv += 1
            }
            if (f.bloomSc.nonEmpty &&
                !Files.isRegularFile(dir.resolve(f.path + ".bloom")))
              missingBloom += 1
          }
      }
    }
    val ok = marker.isEmpty && orphanParts == 0 && staleRefs == 0 &&
      missingData == 0 && sizeMismatch == 0 && missingDv == 0 &&
      missingBloom == 0 && missingEq == 0
    one(StructType(Seq(
      StructField("ok", BooleanType, nullable = false),
      StructField("head_version", LongType, nullable = false),
      StructField("checkpoint_failure", StringType, nullable = true)) ++
      columns("orphan_part_files" -> IntegerType, "stale_refs" -> IntegerType,
        "missing_data_files" -> IntegerType, "size_mismatches" -> IntegerType,
        "missing_delete_vectors" -> IntegerType, "missing_bloom_sidecars" -> IntegerType,
        "eq_delete_records" -> IntegerType, "eq_delete_keys" -> LongType,
        "missing_eq_sidecars" -> IntegerType).fields),
      ok, head, marker.orNull, orphanParts, staleRefs, missingData, sizeMismatch,
      missingDv, missingBloom, eqRecords, eqKeys, missingEq)
  }

  /** Named REFS over log versions — the write-audit-publish
    * pattern on machinery (time travel, snapshot pinning) that
    * already exists:
    *
    *   - `tag(table, name, version)` — immutable pin; `-1` tags
    *     the head. Readable as `VERSION AS OF '<name>'`; vacuum
    *     keeps tagged versions reconstructible.
    *   - `branch(table, name)` — open the staging branch: pins the
    *     DEFAULT view (`main` ref, atomic create-if-absent — the
    *     exclusivity lock) at the head; commits landing after land
    *     "on the branch": plain reads keep seeing the pinned view,
    *     `VERSION AS OF '<name>'` audits the branch head.
    *   - `publish(table, name)` — fast-forward: one atomic unlink
    *     of the main ref flips every reader to the head; the
    *     branch marker is then dropped.
    *   - `drop_ref(table, name)` — remove a tag; dropping `main`
    *     is the manual fast-forward (abandoning the audit).
    *
    * Documented limitation: while a branch is active, row-level
    * ops (DELETE/UPDATE/MERGE) scan the PINNED view — the
    * supported pattern is append-audit-publish, mutate after.
    */
  private def tag(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val refName = c.str(1)
    // 'main' is the write-audit-publish pin: a TAG named main
    // would freeze every default read at its version forever
    // (loadTable honors the main ref), with no publish to clear
    // it — reserved for branch()'s pin alone
    require(refName != "main", "'main' is the reserved pin ref")
    val head = LakeLog.currentVersion(dir).get
    val v = if (c.args.getLong(2) < 0L) head else c.args.getLong(2)
    require(LakeLog.snapshotAt(dir, v).isDefined,
      s"version $v is not reconstructible (pruned or future)")
    require(LakeLog.writeRef(dir, refName, v, "tag", replace = false),
      s"ref '$refName' already exists")
    one(columns("tag" -> StringType, "version" -> LongType), refName, v)
  }

  private def branch(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val refName = c.str(1)
    require(refName != "main", "'main' is the reserved pin ref")
    require(LakeLog.readRef(dir, refName).forall(_._2 == "branch"),
      s"ref '$refName' already exists as a tag")
    val head = LakeLog.currentVersion(dir).get
    // the main pin is the exclusivity lock: create-if-absent
    require(LakeLog.writeRef(dir, "main", head, "main", replace = false),
      "a staging branch is already active (main is pinned)")
    // replace = true clears a stale marker left by a crashed
    // publish (marker without a pin is inert)
    LakeLog.writeRef(dir, refName, head, "branch", replace = true)
    one(columns("branch" -> StringType, "base_version" -> LongType), refName, head)
  }

  private def publish(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val refName = c.str(1)
    require(LakeLog.readRef(dir, refName).exists(_._2 == "branch"),
      s"'$refName' is not the active staging branch")
    LakeLog.dropRef(dir, "main") // THE atomic publish point
    LakeLog.dropRef(dir, refName)
    // head read AFTER the pin drop: a branch commit landing
    // between a pre-drop read and the drop would make the
    // returned version under-report what readers now see
    val head = LakeLog.currentVersion(dir).get
    one(columns("published_version" -> LongType), head)
  }

  private def dropRef(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val refName = c.str(1)
    val dropped = LakeLog.dropRef(dir, refName)
    one(columns("dropped" -> BooleanType), dropped)
  }

  /** SHALLOW clone: one metadata commit whose v0 snapshot
    * references the source's live data files by ABSOLUTE path
    * (`Path.resolve` passes absolute entries through
    * unchanged, so every reader works as-is). Zero bytes copy
    * at any table size; the clone then evolves independently —
    * its own writes/dvs land relative under its own dir, and
    * compaction converges it to self-contained.
    *
    * The standard shallow-clone hazard — source vacuum
    * reclaiming files the clone still references — is closed
    * by CONTRACT: the clone drops a TAG ref
    * (`clone-<target>`) on the SOURCE at the cloned version.
    * Vacuum already keeps every tagged version reconstructible
    * and its files referenced, so a source vacuum can never
    * dangle the clone. Release the pin explicitly with
    * `CALL system.drop_ref` after deep-copying the clone
    * (CALL system.compact makes it self-contained).
    */
  private def cloneTable(c: Call): java.util.Iterator[Scan] = {
    val srcDir = c.dir(0)
    val dstDir = c.dir(1)
    val v0 = c.args.getLong(2)
    val head = LakeLog.currentVersion(srcDir).getOrElse(
      throw new IllegalArgumentException(
        s"clone source ${c.str(0)} does not exist"))
    val v = if (v0 < 0L) head else v0
    val src = LakeLog.snapshotAt(srcDir, v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v is not reconstructible (pruned or future)"))
    val dstIdent = Identifier.of(Array.empty, c.str(1))
    if (LakeLog.currentVersion(dstDir).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(dstIdent)
    // a clone restarts version numbering at 0, so the source's
    // birth-seq scoping cannot transfer (a future clone commit
    // would collide with source seqs and wrongly fall in/out of
    // scope) — refuse; compaction resolves the records first
    require(src.eqdels.isEmpty,
      "graftlake: cannot clone a table with live equality " +
        "deletes — run CALL system.compact on the source first")
    val absolute = src.files.map { f =>
      f.copy(
        path = srcDir.resolve(f.path).toAbsolutePath.toString,
        dv = f.dv.map(d => srcDir.resolve(d).toAbsolutePath.toString),
        // REBASE birth seqs: the clone's log restarts at 0, so
        // source seqs would collide with future clone versions
        // and FUTURE equality deletes (stamped seq >= 1) would
        // skip cloned files carrying larger source seqs — rows
        // would silently escape replacement. 0 = "predates
        // every record", exactly right for a v0 snapshot.
        seq = 0L)
    }
    // strip txn/epoch watermarks: the clone is a new idempotence scope
    val props = src.props.filterNot(p =>
      p._1.startsWith("txn.") || p._1.startsWith("qe."))
    LakeLog.create(dstDir, dstIdent, LakeSnapshot(0L, src.schema, absolute, props))
    // pin the cloned version on the SOURCE with a tag: vacuum
    // keeps tagged versions reconstructible and their files
    // referenced, so the source can never reclaim data the
    // clone points at (drop_ref releases after a deep copy).
    // Each clone gets a FRESH tag — reusing an existing tag
    // that happens to sit at (v, "tag") would let one drop_ref
    // silently unpin every other clone of the same name/version.
    val tagBase = ("clone-" + c.str(1))
      .map(ch => if (ch.isLetterOrDigit || ch == '-' || ch == '_') ch else '-')
    var tag = tagBase
    var k = 1
    while (!LakeLog.writeRef(srcDir, tag, v, "tag", replace = false)) {
      k += 1; tag = s"$tagBase-$k"
    }
    one(columns("cloned_version" -> LongType, "n_files" -> IntegerType,
      "n_rows" -> LongType, "pin_tag" -> StringType),
      v, absolute.size, absolute.map(_.liveRows).sum, tag)
  }

  /** RESTORE — the bad-write undo button. A rollback is ONE
    * metadata commit whose successor snapshot is the target
    * version's state (file list + schema + table props): zero
    * rows read or written, instant at any table size, and the
    * reverted-away versions stay time-travelable (nothing is
    * deleted — vacuum reclaims them later under its own
    * retention rules, and reconstructibility of the target
    * implies its files are still referenced, so a restored
    * snapshot never dangles). Two properties do NOT restore:
    * the field-id counter (`maxcolid`) and the partition-spec
    * history — both are append-only along the version chain, and
    * winding them back would let post-rollback DDL recycle a
    * column id / spec era still referenced by files alive in
    * history. The change feed sees the rollback as a normal
    * commit: remove-only over an append-only history (clean
    * delete semantics), remove+add when it reverts row-level
    * mutations (the documented rewrite contract applies); a
    * dropped equality-delete record narrates as resurrection
    * inserts over its still-live predating files.
    */
  private def rollback(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val v = c.args.getLong(1)
    val target = LakeLog.snapshotAt(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v is not reconstructible (pruned or future)"))
    var committed: Long = -1L
    LakeLog.commitLoop(dir) { cur =>
      require(v <= cur.version,
        s"cannot roll back to v$v: head is v${cur.version}")
      val props = {
        val maxid = (target.props.get("maxcolid") ++
          cur.props.get("maxcolid")).map(_.toInt).maxOption
        // cur's spec history ⊇ target's: append-only chain
        val specs = cur.props.get(LakePartitioning.SpecsKey)
          .orElse(target.props.get(LakePartitioning.SpecsKey))
        target.props ++ maxid.map("maxcolid" -> _.toString) ++
          specs.map(LakePartitioning.SpecsKey -> _)
      }
      val restored =
        LakeSnapshot(cur.version + 1, target.schema, target.files, props)
      committed = restored.version
      // the restore must also carry the TARGET's equality-delete
      // set (same log numbering, so scoping transfers verbatim)
      Some(LakeLog.Replace(restored, eqBase = Some(target.eqdels)))
    }
    one(columns("restored_version" -> LongType, "new_version" -> LongType,
      "files" -> IntegerType, "live_rows" -> LongType),
      v, committed, target.files.size, target.files.map(_.liveRows).sum)
  }

  private def vacuum(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val retain = math.max(1, c.args.getInt(1))
    val head = LakeLog.currentVersion(dir).get
    // refs pin history: every tagged (or main-pinned) version
    // must stay reconstructible after the prune — the floor
    // never rises past the oldest pinned ref. Branch refs
    // resolve to the head and add no constraint.
    val refFloor = LakeLog.listRefs(dir).collect {
      case (_, v, kind) if kind != "branch" => v
    }.minOption
    val floor = refFloor.foldLeft(
      math.max(0L, head - retain + 1))(math.min)
    val retained = (floor to head).flatMap(LakeLog.snapshotAt(dir, _))
    // a file's bloom SIDECAR lives and dies with the file; an
    // equality-delete sidecar lives while ANY retained version's
    // record references it
    val referenced = retained
      .flatMap(_.files.flatMap(f => f.path +: (f.dv.toSeq ++
        (if (f.bloomSc.nonEmpty) Seq(f.path + ".bloom") else Nil)))).toSet ++
      retained.flatMap(_.eqdels.map(_.ref))
    // checkpoint the retention floor BEFORE pruning the delta
    // chain below it — every retained version must stay
    // reconstructible from (checkpoint, deltas) afterwards
    retained.find(_.version == floor).foreach(LakeLog.checkpoint(dir, _))
    // age guard: data files land under final names BEFORE the
    // log references them, so an unreferenced file newer than
    // the head version's commit may belong to an IN-FLIGHT
    // write — deleting it would leave the writer's subsequent
    // commit dangling. Only reclaim files strictly older than
    // the head commit (Delta's retention-check shape).
    val headMtime = Files.getLastModifiedTime(
      dir.resolve("_log").resolve(f"v$head%08d.json")).toMillis
    val dataDir = dir.resolve("data")
    val deletable = scala.util.Using.resource(Files.list(dataDir)) {
      _.iterator().asScala
        .filter(p => !referenced.contains("data/" + p.getFileName.toString))
        .filter(p => Files.getLastModifiedTime(p).toMillis < headMtime)
        .toSeq
    }
    deletable.foreach(Files.delete)
    val prunedVersions = LakeLog.pruneBelow(dir, floor)
    one(columns("deleted_data_files" -> IntegerType,
      "deleted_log_versions" -> IntegerType, "retained_from_version" -> LongType),
      deletable.size, prunedVersions, floor)
  }

  /** PARTITION EVOLUTION (Iceberg's headline advantage over Hive
    * layouts): re-declare how FUTURE files partition without
    * touching a byte of data. A pure metadata commit appends the
    * new spec to the table's spec history; every existing file
    * keeps its write-time spec id, so pruning keeps deciding each
    * file's tuple under the transforms it was written with, across
    * eras. SPJ and dynamic partition overwrite require a single
    * era (compact to converge).
    */
  private def evolvePartitioning(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val specStr = c.str(1)
    var specId = -1
    LakeLog.commitLoop(dir) { cur =>
      val next = LakePartitioning.parseSpecSyntax(specStr, cur.schema)
      if (LakePartitioning.encode(next) ==
          cur.props.getOrElse(LakePartitioning.PropKey, "")) {
        specId = LakePartitioning.currentSpecId(cur.props)
        None // already current: no-op, no version burned
      } else {
        val props2 = LakePartitioning.evolve(cur.props, next)
        specId = LakePartitioning.currentSpecId(props2)
        Some(LakeLog.Replace(
          LakeSnapshot(cur.version + 1, cur.schema, cur.files, props2)))
      }
    }
    one(columns("spec_id" -> IntegerType, "spec" -> StringType), specId, specStr)
  }

  private def history(c: Call): java.util.Iterator[Scan] = {
    val dir = c.dir(0)
    val rows0 = LakeLog.historyCensus(dir).map {
      case (v, _, nFiles, nRows, _) =>
        new GenericInternalRow(Array[Any](v, nFiles, nRows)): InternalRow
    }
    out(columns("version" -> LongType, "n_files" -> IntegerType, "n_rows" -> LongType), rows0)
  }

  /** The incremental z-order rewrite over `scope` (a subset of the
    * snapshot's live files): planned from FOOTER STATS alone — see the
    * `zorder` procedure doc. Returns (files_before, files_after,
    * rows_rewritten). Quantization domain = the SCOPE's stat extremes
    * (planning and the row-side z expression share one affine map;
    * a scoped call clusters within its own partitions' domain).
    */
  private def zorderRewrite(spark: org.apache.spark.sql.SparkSession,
      fqn: String, dir: Path, snap: LakeSnapshot, scope: Seq[LakeFile],
      cx: String, cy: String, target: Int): (Int, Int, Long) = {
            Seq(cx, cy).foreach { c =>
              val f = snap.schema(snap.schema.fieldIndex(c))
              require(f.dataType == LongType || f.dataType == IntegerType,
                s"zorder column $c must be integral, got ${f.dataType.simpleString}")
            }
            import org.apache.spark.sql.functions.{broadcast, col => fcol}
            import graft.operators.Layout
            // INCREMENTAL clustering, planned from FOOTER STATS alone
            // (no data scan): a file's rectangle [xlo,xhi]×[ylo,yhi]
            // bounds all its z-values in [z(xlo,ylo), z(xhi,yhi)]
            // (Morton codes are monotone under coordinate-wise
            // dominance). Files whose intervals overlap interleave on
            // the curve and re-cluster together; a file disjoint from
            // every other already owns its curve range and keeps its
            // path, stats, and bytes. First call on an unclustered
            // table: every interval spans the hull → one component →
            // the full rewrite this procedure always did.
            val curCols = LakeColIds.cols(snap.schema, snap.props)
            def rectOf(f: LakeFile): (Long, Long, Long, Long) = {
              val r = for {
                px <- LakeColIds.physicalName(curCols, f, cx)
                py <- LakeColIds.physicalName(curCols, f, cy)
                x <- f.stats.get(px)
                y <- f.stats.get(py)
              } yield (x._1, x._2, y._1, y._2)
              r.getOrElse(throw new IllegalArgumentException(
                s"zorder: ${f.path} carries no stats for $cx/$cy " +
                  "(column added after the file was written?)"))
            }
            if (scope.isEmpty) return (0, 0, 0L)
            val rects = scope.map(f => f -> rectOf(f))
            // quantization domain = global stat extremes (exact data
            // min/max — footer stats are exact), so planning and the
            // row-side z expression use ONE affine map
            val xlo = rects.map(_._2._1).min; val xhi = rects.map(_._2._2).max
            val ylo = rects.map(_._2._3).min; val yhi = rects.map(_._2._4).max
            def zIv(r: (Long, Long, Long, Long)): (Long, Long) = (
              Layout.zLong(Layout.quantize16Long(r._1, xlo, xhi),
                Layout.quantize16Long(r._3, ylo, yhi)),
              Layout.zLong(Layout.quantize16Long(r._2, xlo, xhi),
                Layout.quantize16Long(r._4, ylo, yhi)))
            // interval sweep per (era, tuple) group: transitive-overlap
            // components; a component's hull is contiguous, so hulls
            // are pairwise disjoint and bucket routing is per-file
            val comps = Seq.newBuilder[Seq[(LakeFile, (Long, Long))]]
            rects.groupBy { case (f, _) => (f.specId, f.part) }.toSeq
              .sortBy(_._2.head._1.path).foreach { case (_, group) =>
                var cur = Vector.empty[(LakeFile, (Long, Long))]
                var curHi = Long.MinValue
                group.map { case (f, r) => (f, zIv(r)) }
                  .sortBy { case (f, (lo, _)) => (lo, f.path) }.foreach {
                    case e @ (_, (lo, hi)) =>
                      if (cur.nonEmpty && lo > curHi) {
                        comps += cur; cur = Vector.empty; curHi = Long.MinValue
                      }
                      cur :+= e; curHi = math.max(curHi, hi)
                  }
                if (cur.nonEmpty) comps += cur
              }
            // singleton components are CONFORMING — nothing interleaves
            val dirty = comps.result().filter(_.size >= 2)
            if (dirty.isEmpty) return (0, 0, 0L)
            val totalLive = math.max(1L, scope.map(_.liveRows).sum)
            // per-component buckets: curve share ∝ live-row share of
            // the scope, never fewer than one file per component
            var nextBucket = 0L
            val fileMeta = dirty.flatMap { comp =>
              val rows = comp.map(_._1.liveRows).sum
              val n = math.max(1L,
                (target.toLong * rows + totalLive - 1L) / totalLive)
              val lo = comp.map(_._2._1).min
              val hi = comp.map(_._2._2).max
              val span = math.max(1L, hi - lo + 1L)
              val base0 = nextBucket
              nextBucket += n
              comp.map { case (f, _) => (f.path, base0, n, lo, span) }
            }
            val candidates = fileMeta.map(_._1)
            val metaDf = spark.createDataFrame(fileMeta)
              .toDF("__f", "__b0", "__n", "__czlo", "__cspan")
            val z = Layout.zValue(
              Layout.quantize16(fcol(cx).cast("long"),
                fcol("__xlo"), fcol("__xhi")),
              Layout.quantize16(fcol(cy).cast("long"),
                fcol("__ylo"), fcol("__yhi")))
            // scan ONLY the dirty files (static _file IN pruning);
            // deterministic fixed z-space splits inside each
            // component's hull, routed by an EXPLICIT partitioner
            // (repartitionByRange's sampler would wobble boundaries),
            // with an in-partition sort by the full z value. Helper
            // columns ride ahead of the table columns; the writers'
            // `keep` projection drops them.
            import org.apache.spark.sql.functions.{expr => fexpr, lit => flit}
            val projected = spark.table(fqn)
              .where(fcol(LakeTable.FileColumn).isin(candidates: _*))
              .join(broadcast(metaDf), fcol(LakeTable.FileColumn) === fcol("__f"))
              .withColumn("__xlo", flit(xlo)).withColumn("__xhi", flit(xhi))
              .withColumn("__ylo", flit(ylo)).withColumn("__yhi", flit(yhi))
              .withColumn("__z", z)
              .withColumn("__zb",
                fexpr("__b0 + (__z - __czlo) * __n div __cspan"))
              .select((Seq("__zb", "__z") ++ snap.schema.fieldNames)
                .map(fcol(_)).toIndexedSeq: _*)
            val writeSchema = projected.schema
            val rdd = projected.queryExecution.toRdd
              .mapPartitions(_.map(r => ((r.getLong(0), r.getLong(1)), r.copy())))
              .repartitionAndSortWithinPartitions(
                new LakeBucketPartitioner(nextBucket.toInt))
              .map(_._2: InternalRow)
            val written = swapRewrite(dir, snap, rdd, writeSchema,
              replacedFiles = Some(candidates.toSet))
            (candidates.size, written.size, written.map(_.rows).sum)
  }

}

/** The staged half of an atomic CTAS/RTAS: the query's write lands
  * data files under the (possibly not-yet-published) table dir but the
  * LOG is untouched until [[commitStagedChanges]] — which publishes
  * exactly one version: v0 for CREATE (create-if-absent; losing a
  * concurrent-create race FAILS, it must not overwrite), or the next
  * successor with ONLY the staged files (+ the staged schema/props)
  * for REPLACE. [[abortStagedChanges]] deletes the staged files — the
  * table is either fully the new definition or untouched.
  */
class GraftStagedTable(dir: Path, ident: Identifier, stagedSchema: StructType,
    stagedProps: Map[String, String], replace: Boolean)
  extends StagedTable with SupportsWrite {

  @volatile private var stagedFiles: Seq[LakeFile] = Seq.empty
  @volatile private var stagedMessages: Array[WriterCommitMessage] = Array.empty

  /** Fresh field ids for the staged definition (a REPLACE is a new
    * schema lineage; old versions keep their own id lists).
    */
  private val propsWithIds: Map[String, String] =
    stagedProps ++ LakeColIds.freshProps(stagedSchema)

  Files.createDirectories(dir.resolve("data"))

  override def name(): String = s"graftlake.${dir.getFileName}(staged)"
  override def schema(): StructType = stagedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // replace staging IS a truncate
      // a CTAS/RTAS with a declared layout must come out laid out like
      // any other write — staged files skipped the demand before this,
      // leaving a sortBy table unsorted until its first compact
      override def build(): Write = new LakeLayoutWrite(propsWithIds) {
        override def description(): String = "graftlake-staged"
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
            LakeWriterFactory(dir.toString, info.schema(), stagedSchema.fieldNames,
              LakePartitioning.decode(propsWithIds),
              bloomBy = LakeTable.bloomCols(propsWithIds),
              bloomInline = LakeTable.bloomInline(propsWithIds),
              codec = LakeTable.codecOf(propsWithIds),
              rowGroupBytes = LakeTable.rowGroupBytes(propsWithIds))
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            // staged: record only — the LOG moves in commitStagedChanges
            stagedMessages = messages
            stagedFiles = LakeLog.writtenEntries(
              messages.toSeq.flatMap(_.asInstanceOf[LakeFileMessage].files),
              stagedSchema, propsWithIds, propsWithIds.get("sortBy").toSeq)
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            LakeWriterFactory.deleteAll(dir.toString, messages)
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    if (LakeLog.currentVersion(dir).isEmpty)
      LakeLog.create(dir, ident, LakeSnapshot(0L, stagedSchema, stagedFiles, propsWithIds))
    else if (!replace)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    else LakeLog.commitLoop(dir)(cur => Some(LakeLog.Replace(
      LakeSnapshot(cur.version + 1, stagedSchema, stagedFiles, propsWithIds))))
  }

  override def abortStagedChanges(): Unit =
    LakeWriterFactory.deleteAll(dir.toString, stagedMessages)
}

/** Delete-vector sidecar IO: a dv file is a SORTED array of deleted
  * physical positions for ONE data file (8 bytes per position,
  * big-endian longs after a count header), stored under `data/` like
  * any immutable artifact (referenced by the log, reclaimed by
  * vacuum). Readers keep the sorted array as-is — the row reader
  * skips with a merge cursor, point lookups binary-search — so dv
  * memory is exactly 8·positions with no hash-set boxing/overhead,
  * and a pathological vector (millions of positions) stays a flat
  * array instead of a per-entry heap structure.
  */
object LakeDv {
  def read(tableDir: Path, rel: String): Array[Long] = {
    val bytes = Files.readAllBytes(tableDir.resolve(rel))
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    require(bytes.length == 4 + 8 * n, s"corrupt delete vector $rel")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong; i += 1 }
    out
  }

  /** `positions` must be sorted ascending and duplicate-free. */
  def write(tableDir: Path, positions: Array[Long]): String = {
    val rel = s"data/dv-${java.util.UUID.randomUUID().toString.replace("-", "")}.bin"
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * positions.length)
    bb.putInt(positions.length)
    positions.foreach(bb.putLong)
    Files.write(tableDir.resolve(rel), bb.array())
    rel
  }

  /** Sorted difference: positions of `a` absent from `b` (both sorted). */
  def diff(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    var j = 0
    while (i < a.length) {
      while (j < b.length && b(j) < a(i)) j += 1
      if (j >= b.length || b(j) != a(i)) out += a(i)
      i += 1
    }
    out.result()
  }

  /** Sorted-merge union of an existing vector with new positions. */
  def union(old: Array[Long], add: Iterable[Long]): Array[Long] = {
    val merged = new Array[Long](old.length + add.size)
    old.copyToArray(merged)
    var i = old.length
    add.foreach { p => merged(i) = p; i += 1 }
    java.util.Arrays.sort(merged)
    // in-place dedup pass
    var w = 0
    var r = 0
    while (r < merged.length) {
      if (w == 0 || merged(r) != merged(w - 1)) { merged(w) = merged(r); w += 1 }
      r += 1
    }
    if (w == merged.length) merged else java.util.Arrays.copyOf(merged, w)
  }
}

/** MERGE-ON-READ row-level operations ([[SupportsDelta]], table
  * property `mode = 'mor'`): instead of rewriting affected files,
  * Spark hands the connector per-row DELTAS keyed by the
  * (`_file`, `_pos`) row id — deletes accumulate into per-file DELETE
  * VECTOR sidecars, inserts land in new files, and an update is a
  * delete + insert (`representUpdateAsDeleteAndInsert`). Commit
  * unions each target file's existing vector with the new positions
  * and swaps only the dv REFERENCE in the log — a one-key UPDATE
  * writes a few-byte sidecar and touches NO data file. The read side
  * pays: every scan of a dv'd file skips its positions. That is
  * exactly the MOR trade (write-cheap, read-taxed) and `system.compact`
  * is the repayment path — its table-read applies the vectors, so
  * compacted files come out clean and dv-free.
  */
class LakeDeltaOperation(dir: Path, snapshot: LakeSnapshot,
    cmd: RowLevelOperation.Command) extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graftlake-mor-$cmd"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(LakeTable.FileColumn),
    Expressions.column(LakeTable.PosColumn))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(dir, snapshot, onPlanned = Some(_ => ()))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      // NOTE deliberately NOT RequiresDistributionAndOrdering: a MOR
      // delta plan mixes DELETE records (row-id only, data columns
      // null) with INSERT rows — clustering that stream by a data
      // column would route the deletes arbitrarily. MOR insert files
      // regain the declared layout at the next `system.compact`.
      override def build(): DeltaWrite = new DeltaWrite {
        override def description(): String = s"graftlake-mor-write-$cmd"
        override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
          override def createBatchWriterFactory(pi: PhysicalWriteInfo): DeltaWriterFactory =
            LakeDeltaWriterFactory(dir.toString, info.schema(),
              snapshot.schema.fieldNames, LakePartitioning.decode(snapshot.props),
              bloomBy = LakeTable.bloomCols(snapshot.props),
              bloomInline = LakeTable.bloomInline(snapshot.props),
              codec = LakeTable.codecOf(snapshot.props),
              rowGroupBytes = LakeTable.rowGroupBytes(snapshot.props))
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val ms = messages.toSeq.map(_.asInstanceOf[LakeDeltaMessage])
            // MOR inserts carry no sort layout: the delta plan demands none
            val inserts = LakeLog.writtenEntries(ms.flatMap(_.inserts).flatMap(_.files),
              snapshot.schema, snapshot.props, sorted = Seq.empty)
            val deletes = ms.flatMap(_.deletes.toSeq)
              .groupBy(_._1).map { case (f, ps) => f -> ps.flatMap(_._2).toSet }
            LakeLog.commitLoop(dir) { cur =>
              LakeLog.requireReadSetCurrent(cur, snapshot, deletes.keySet, inserts.nonEmpty)
              val updated = cur.files.map { f =>
                deletes.get(f.path) match {
                  case None => f
                  case Some(newPos) =>
                    val old = f.dv.map(LakeDv.read(dir, _)).getOrElse(Array.emptyLongArray)
                    val merged = LakeDv.union(old, newPos)
                    require(merged.length <= f.rows, s"dv larger than file ${f.path}")
                    f.copy(dv = Some(LakeDv.write(dir, merged)), dvRows = merged.length.toLong)
                }
              }
              Some(LakeLog.Replace(cur.next(updated ++ inserts)))
            }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            messages.foreach {
              case m: LakeDeltaMessage => m.inserts.flatMap(_.files).foreach(i =>
                Files.deleteIfExists(Paths.get(dir.toString).resolve(i.path)))
              case _ => ()
            }
        }
      }
    }
}

/** One MOR task's outcome: per-target-file deleted positions + the
  * files its inserts landed in.
  */
case class LakeDeltaMessage(deletes: Map[String, Seq[Long]],
    inserts: Seq[LakeFileMessage]) extends WriterCommitMessage

case class LakeDeltaWriterFactory(tableDir: String, writeSchema: StructType,
    keep: Array[String],
    partSpec: Seq[LakePartitioning.Field] = Seq.empty,
    bloomBy: Seq[String] = Seq.empty,
    bloomInline: Boolean = false,
    codec: String = "snappy",
    rowGroupBytes: Long = 0L) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // rowId arrives as (file STRING, pos BIGINT) in rowId() order
      private val deletes = scala.collection.mutable.Map[String, ArrayBuffer[Long]]()
      private var inner: DataWriter[InternalRow] = _
      private def insertWriter(): DataWriter[InternalRow] = {
        if (inner == null)
          inner = LakeWriterFactory(tableDir, writeSchema, keep, partSpec, bloomBy,
            bloomInline, codec, rowGroupBytes)
            .createWriter(partitionId, taskId)
        inner
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        deletes.getOrElseUpdate(id.getUTF8String(0).toString, ArrayBuffer.empty) +=
          id.getLong(1)

      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        // unreachable with representUpdateAsDeleteAndInsert = true;
        // kept semantically correct regardless
        delete(metadata, id)
        insert(row)
      }

      override def insert(row: InternalRow): Unit = insertWriter().write(row)

      override def commit(): WriterCommitMessage = {
        val ins =
          if (inner == null) Seq.empty
          else Seq(inner.commit().asInstanceOf[LakeFileMessage])
        LakeDeltaMessage(deletes.view.mapValues(_.toSeq).toMap, ins)
      }
      override def abort(): Unit = if (inner != null) inner.abort()
      override def close(): Unit = if (inner != null) inner.close()
    }
}
