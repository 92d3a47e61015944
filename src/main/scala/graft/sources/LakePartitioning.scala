package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => VLiteral, Transform}
import org.apache.spark.sql.types._

/** Table PARTITIONING for graftlake: `PARTITIONED BY (col)` (identity)
  * and `PARTITIONED BY (bucket(n, col))`.
  *
  * Iceberg-style: partition columns stay ordinary table columns (data
  * files store them too), and each data file's log entry records the
  * file's PARTITION TUPLE — writers split their input so one file
  * holds exactly one tuple. Pruning then decides partition predicates
  * EXACTLY from the tuple (identity equality/IN/IS NULL on any column
  * type including strings, bucket equality via the bucket function),
  * ahead of the min/max stats which only cover integral columns.
  *
  * The spec is persisted in the table properties
  * (`partition=id:seg,b8:id`) per version, like `colids`. PARTITION
  * EVOLUTION (`CALL system.evolve_partitioning`) appends to a spec
  * history (`partspecs`): each file records the spec id it was written
  * under, and pruning decides every file's tuple under its OWN era's
  * transforms — Iceberg's design re-derived.
  */
object LakePartitioning {

  sealed trait Field {
    def col: String
    /** The file-tuple component for a row value (None = null). */
    def eval(v: Any): Option[String]
  }

  /** identity(col): tuple component = the value itself, stringified. */
  case class Identity(col: String) extends Field {
    override def eval(v: Any): Option[String] =
      Option(v).map(_.toString)
  }

  /** trunc(n, col): tuple component = floorDiv(long value, n) — the
    * TIME-BUCKET transform (Iceberg's truncate): `trunc(86400000000,
    * ts_us)` is day partitioning over epoch micros. Identity on a
    * timestamp makes one partition per distinct value (a file-count
    * disaster); trunc bounds partitions to the covered range while
    * range predicates on the SOURCE column keep pruning through file
    * stats AND the per-part manifest ranges. Integral columns only —
    * the function is part of the format contract.
    */
  case class Trunc(col: String, n: Long) extends Field {
    def truncOf(v: Any): Long = v match {
      case l: Long => Math.floorDiv(l, n)
      case i: Int => Math.floorDiv(i.toLong, n)
      case other => throw new IllegalArgumentException(
        s"graftlake: trunc partitions integral columns only, got $other")
    }
    override def eval(v: Any): Option[String] =
      Option(v).map(x => truncOf(x).toString)
  }

  /** bucket(n, col): tuple component = floorMod(long value | hashCode, n).
    * The function is part of the FORMAT contract (pruning re-evaluates
    * it against literals), so keep it dead simple and documented.
    */
  case class Bucket(col: String, n: Int) extends Field {
    def bucketOf(v: Any): Int = v match {
      case l: Long => Math.floorMod(l, n.toLong).toInt
      case i: Int => Math.floorMod(i.toLong, n.toLong).toInt
      // V2 filter literals arrive as UTF8String while the write path
      // buckets on java String — hash the SAME representation or
      // pruning drops the file that actually holds the value.
      case s: org.apache.spark.unsafe.types.UTF8String =>
        Math.floorMod(s.toString.hashCode.toLong, n.toLong).toInt
      case other => Math.floorMod(other.hashCode.toLong, n.toLong).toInt
    }
    override def eval(v: Any): Option[String] =
      Option(v).map(x => bucketOf(x).toString)
  }

  val PropKey = "partition"
  /** All historical specs, `;`-joined in evolution order; a file's
    * `specId` indexes into this list (absent = only the create spec).
    */
  val SpecsKey = "partspecs"

  def fromTransforms(schema: StructType, partitions: Array[Transform]): Seq[Field] =
    partitions.toSeq.map { t =>
      def ref: String = {
        val names = t.references().head.fieldNames()
        require(names.length == 1, "graftlake: nested partition columns not supported")
        require(schema.fieldNames.contains(names.head),
          s"graftlake: partition column ${names.head} not in schema")
        names.head
      }
      t.name() match {
        case "identity" => Identity(ref)
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: VLiteral[_] if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"graftlake: bucket transform needs a literal width: $t"))
          require(n > 0, s"graftlake: bucket width must be positive, got $n")
          Bucket(ref, n)
        case "trunc" | "truncate" =>
          val n = t.arguments().collectFirst {
            case l: VLiteral[_] if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].longValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"graftlake: trunc transform needs a literal width: $t"))
          require(n > 0L, s"graftlake: trunc width must be positive, got $n")
          require(schema(schema.fieldIndex(ref)).dataType == LongType ||
            schema(schema.fieldIndex(ref)).dataType == IntegerType,
            s"graftlake: trunc partitions integral columns only, got $ref")
          Trunc(ref, n)
        case other => throw new UnsupportedOperationException(
          s"graftlake: unsupported partition transform $other " +
            "(identity, bucket, trunc only)")
      }
    }

  def encode(fields: Seq[Field]): String = fields.map {
    case Identity(c) => s"id:$c"
    case Bucket(c, n) => s"b$n:$c"
    case Trunc(c, n) => s"t$n:$c"
  }.mkString(",")

  private def decodeSpec(spec: String): Seq[Field] =
    if (spec.isEmpty) Seq.empty
    else spec.split(',').toSeq.map { s =>
      val Array(kind, col) = s.split(":", 2)
      if (kind == "id") Identity(col)
      else if (kind.startsWith("t")) Trunc(col, kind.stripPrefix("t").toLong)
      else Bucket(col, kind.stripPrefix("b").toInt)
    }

  /** The CURRENT spec (what writers evaluate and SPJ reports). */
  def decode(props: Map[String, String]): Seq[Field] =
    props.get(PropKey).filter(_.nonEmpty).map(decodeSpec).getOrElse(Seq.empty)

  /** Every historical spec in evolution order (index = spec id, last =
    * current). A table that never evolved has exactly its create spec.
    */
  def specs(props: Map[String, String]): Seq[Seq[Field]] =
    props.get(SpecsKey) match {
      case Some(s) => s.split(";", -1).toSeq.map(decodeSpec)
      case None => Seq(decode(props))
    }

  def currentSpecId(props: Map[String, String]): Int = specs(props).length - 1

  /** The spec a file of era `specId` was written under — what ITS
    * tuple means. Ids beyond the list clamp to current (defensive).
    */
  def specOf(props: Map[String, String], specId: Int): Seq[Field] = {
    val ss = specs(props)
    ss(math.min(math.max(specId, 0), ss.length - 1))
  }

  /** Evolved props: `next` becomes the current spec, the history grows
    * by one entry — a pure METADATA change; existing files keep their
    * write-time spec id and prune under their own era's transforms.
    */
  def evolve(props: Map[String, String], next: Seq[Field]): Map[String, String] =
    props + (SpecsKey -> (specs(props) :+ next).map(encode).mkString(";")) +
      (PropKey -> encode(next))

  def toTransforms(fields: Seq[Field]): Array[Transform] = fields.map {
    case Identity(c) => Expressions.identity(c)
    case Bucket(c, n) => Expressions.bucket(n, c)
    case Trunc(c, n) => Expressions.apply("trunc",
      Expressions.literal(n), Expressions.column(c))
  }.toArray

  /** Row-level tuple evaluator bound to a write schema. */
  def evaluator(fields: Seq[Field], schema: StructType): InternalRow => Seq[Option[String]] = {
    val bound = fields.map { f =>
      val i = schema.fieldIndex(f.col)
      val dt = schema(i).dataType
      (f, i, dt)
    }
    row => bound.map { case (f, i, dt) =>
      if (row.isNullAt(i)) None
      else f.eval(row.get(i, dt) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => other
      })
    }
  }

  /** Exact per-file decisions from the partition tuple, consulted by
    * [[LakeStats]] BEFORE the min/max stats. Returns None when the
    * tuple cannot decide (not a partition column, or a bucket column
    * whose bucket matches).
    */
  final class Resolver(fields: Seq[Field], tuple: Seq[Option[String]]) {
    private val byCol: Map[String, (Field, Option[String])] =
      fields.zip(tuple).map { case (f, v) => f.col -> ((f, v)) }.toMap

    /** Some(true) = every row has col = value; Some(false) = none has. */
    def eq(col: String, value: Any): Option[Boolean] = byCol.get(col).flatMap {
      case (Identity(_), Some(fv)) => Some(fv == String.valueOf(value))
      case (Identity(_), None) => Some(false) // all-null partition: = never matches
      case (b @ Bucket(_, _), Some(fv)) =>
        if (b.bucketOf(value).toString != fv) Some(false) else None
      case (Bucket(_, _), None) => Some(false)
      case (t @ Trunc(_, _), Some(fv)) =>
        // a different bucket definitely excludes the value; the same
        // bucket holds a RANGE — stats decide further
        value match {
          case n: java.lang.Number =>
            if (t.truncOf(n.longValue).toString != fv) Some(false) else None
          case _ => None
        }
      case (Trunc(_, _), None) => Some(false)
    }

    /** Some(true) = every row's col starts with `prefix`; Some(false)
      * = none does. Identity tuples decide exactly (the component IS
      * the single value; UTF8String.startsWith is byte-prefix, the
      * same order the string stats algebra uses); transforms cannot.
      */
    def startsWith(col: String,
        prefix: org.apache.spark.unsafe.types.UTF8String): Option[Boolean] =
      byCol.get(col).flatMap {
        case (Identity(_), Some(fv)) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(fv)
            .startsWith(prefix))
        case (Identity(_), None) => Some(false) // all-null: never matches
        case _ => None
      }

    /** Some(true) = every row null in col; Some(false) = none null. */
    def isNull(col: String): Option[Boolean] = byCol.get(col).flatMap {
      // a file's tuple component is None exactly when EVERY row's
      // source value was null (null rows land in their own files) —
      // identity and trunc decide; bucket stays conservative (legacy)
      case (Identity(_), v) => Some(v.isEmpty)
      case (Trunc(_, _), v) => Some(v.isEmpty)
      case _ => None
    }
  }

  val NoResolver = new Resolver(Seq.empty, Seq.empty)

  /** The TYPED partition-key values of a file's tuple, in spec order —
    * what [[org.apache.spark.sql.connector.read.HasPartitionKey]]
    * exposes for storage-partitioned joins. Identity components parse
    * back to the column's type; bucket components are their ordinal.
    */
  def keyValues(fields: Seq[Field], tuple: Seq[Option[String]],
      schema: StructType): Array[Any] =
    fields.zip(tuple).map {
      case (_, None) => null
      case (Identity(c), Some(v)) => schema(schema.fieldIndex(c)).dataType match {
        case LongType => v.toLong
        case IntegerType => v.toInt
        case BooleanType => v.toBoolean
        case _ => org.apache.spark.unsafe.types.UTF8String.fromString(v)
      }
      case (Bucket(_, _), Some(v)) => v.toInt
      case (Trunc(_, _), Some(v)) => v.toLong
    }.toArray

  def resolver(props: Map[String, String], f: LakeFile): Resolver = {
    // the file's OWN era's spec: after partition evolution an old
    // file's tuple still means what it meant when written
    val fields = specOf(props, f.specId)
    if (fields.isEmpty || f.part.isEmpty) NoResolver
    else new Resolver(fields, f.part)
  }

  /** Parse the user-facing spec syntax of `system.evolve_partitioning`:
    * comma-separated `col` / `bucket(n, col)` ('' = unpartitioned).
    */
  def parseSpecSyntax(s: String, schema: StructType): Seq[Field] = {
    val BucketRe = """(?i)^bucket\s*\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
    val TruncRe = """(?i)^trunc(?:ate)?\s*\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
    val IdentRe = """^([A-Za-z_][A-Za-z0-9_]*)$""".r
    // split on commas OUTSIDE parentheses (bucket(n, col) keeps its own)
    val parts = {
      val out = Seq.newBuilder[String]
      val sb = new StringBuilder
      var depth = 0
      s.foreach {
        case '(' => depth += 1; sb += '('
        case ')' => depth -= 1; sb += ')'
        case ',' if depth == 0 => out += sb.result(); sb.clear()
        case c => sb += c
      }
      if (sb.nonEmpty) out += sb.result()
      out.result().map(_.trim).filter(_.nonEmpty)
    }
    parts.map {
      case BucketRe(n, col) =>
        require(schema.fieldNames.contains(col),
          s"graftlake: partition column $col not in schema")
        require(n.toInt > 0, s"graftlake: bucket width must be positive, got $n")
        Bucket(col, n.toInt)
      case TruncRe(n, col) =>
        require(schema.fieldNames.contains(col),
          s"graftlake: partition column $col not in schema")
        require(n.toLong > 0L, s"graftlake: trunc width must be positive, got $n")
        require(schema(schema.fieldIndex(col)).dataType == LongType ||
          schema(schema.fieldIndex(col)).dataType == IntegerType,
          s"graftlake: trunc partitions integral columns only, got $col")
        Trunc(col, n.toLong)
      case IdentRe(col) =>
        require(schema.fieldNames.contains(col),
          s"graftlake: partition column $col not in schema")
        Identity(col)
      case other => throw new IllegalArgumentException(
        s"graftlake: cannot parse partition term '$other' " +
          "(expected col, bucket(n, col), or trunc(n, col))")
    }
  }
}

/** The `bucket` V2 FUNCTION of the lake format, exposed through
  * [[GraftLakeCatalog]]'s FunctionCatalog face. Spark resolves a
  * reported `bucket(n, col)` partitioning into a `TransformExpression`
  * by loading THIS function from the table's own catalog — without it
  * the transform silently drops and storage-partitioned joins between
  * bucket-partitioned tables never engage. Join-side compatibility is
  * decided by `canonicalName` + bucket count equality, and the math
  * here is byte-identical to [[LakePartitioning.Bucket.bucketOf]] (the
  * write path), so the reported key groups are exactly the stored
  * file tuples.
  */
object LakeBucketUnbound extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n INT, col) -> INT: the lake partition transform " +
      "(floorMod of the long value / String.hashCode, matching the write path)"
  override def bind(inputType: StructType):
      org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.length == 2,
      s"bucket takes (numBuckets INT, col), got ${inputType.simpleString}")
    val ok = inputType(0).dataType == IntegerType && (inputType(1).dataType match {
      case LongType | IntegerType | StringType => true
      case _ => false
    })
    require(ok, s"bucket supports BIGINT/INT/STRING columns, " +
      s"got ${inputType.simpleString}")
    LakeBucketFunction(inputType(1).dataType)
  }
}

case class LakeBucketFunction(colType: DataType)
  extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  override def name(): String = "bucket"
  override def canonicalName(): String = "graftlake.bucket"
  override def inputTypes(): Array[DataType] = Array(IntegerType, colType)
  override def resultType(): DataType = IntegerType
  override def produceResult(input: InternalRow): Integer = {
    if (input.isNullAt(1)) return null
    val n = input.getInt(0)
    val h = colType match {
      case LongType => input.getLong(1)
      case IntegerType => input.getInt(1).toLong
      case StringType => input.getUTF8String(1).toString.hashCode.toLong
    }
    Math.floorMod(h, n.toLong).toInt
  }
}

/** The `trunc` V2 FUNCTION of the lake format — what lets Spark
  * resolve a reported `trunc(n, col)` partitioning (time buckets) for
  * storage-partitioned joins: two tables day-partitioned with the
  * same width equi-join on the source column with no shuffle. Math is
  * byte-identical to [[LakePartitioning.Trunc.truncOf]].
  */
object LakeTruncUnbound extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "trunc"
  override def description(): String =
    "trunc(n BIGINT, col) -> BIGINT: the lake time-bucket partition " +
      "transform (floorDiv of the long value, matching the write path)"
  override def bind(inputType: StructType):
      org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.length == 2,
      s"trunc takes (width, col), got ${inputType.simpleString}")
    val widthOk = inputType(0).dataType == LongType ||
      inputType(0).dataType == IntegerType
    val colOk = inputType(1).dataType == LongType ||
      inputType(1).dataType == IntegerType
    require(widthOk && colOk,
      s"trunc supports integral widths and columns, got ${inputType.simpleString}")
    LakeTruncFunction(inputType(0).dataType, inputType(1).dataType)
  }
}

case class LakeTruncFunction(widthType: DataType, colType: DataType)
  extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
  override def name(): String = "trunc"
  override def canonicalName(): String = "graftlake.trunc"
  override def inputTypes(): Array[DataType] = Array(widthType, colType)
  override def resultType(): DataType = LongType
  override def produceResult(input: InternalRow): java.lang.Long = {
    if (input.isNullAt(1)) return null
    val n =
      if (widthType == LongType) input.getLong(0) else input.getInt(0).toLong
    val v =
      if (colType == LongType) input.getLong(1) else input.getInt(1).toLong
    Math.floorDiv(v, n)
  }
}
