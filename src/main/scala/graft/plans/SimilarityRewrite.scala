package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Similarity-join optimizer rewrite (SURVEY.md §4's custom-rule case:
  * "a rule to rewrite similarity-search predicates to an LSH
  * pre-filter").
  *
  * Users write the naive plan — a cross join filtered on
  * `graft_cosine(a.vec, b.vec) > t` — and, when
  * `spark.graft.similarityRewrite.planes` is set to a positive number
  * of hyperplanes, [[SimilarityJoinRewrite]] turns it into an
  * EQUI-join on hyperplane-sign LSH buckets with the cosine predicate
  * retained:
  *
  * {{{ Join(cond = cos(av,bv) > t)           // cartesian: O(n·m) pairs
  *     ⇒ Join(cond = bucket(av) = bucket(bv) AND cos(av,bv) > t) }}}
  *
  * Catalyst then plans a shuffled/broadcast HASH join on the bucket —
  * pairs scored shrink ~2^planes. The rewrite is APPROXIMATE (bucket
  * boundaries lose some true pairs), which is why it is opt-in via the
  * conf and off by default — semantics first, scale when asked for.
  */
object SimilarityRewrite {
  val PlanesConf = "spark.graft.similarityRewrite.planes"

  /** Deterministic pseudo-random hyperplane component (same scheme as
    * `Similarity.planeComponent`): zero-mean long from (plane, dim).
    */
  def planeComponent(plane: Int, d: Int): Long = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z >> 32
  }
}

/** Cosine similarity of two float-array columns, evaluated in double —
  * the marker predicate the rewrite rule recognizes. Exposed in SQL as
  * `graft_cosine`.
  */
case class CosineFloatExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) java.lang.Double.valueOf(0.0)
    else java.lang.Double.valueOf(dot / math.sqrt(nx) / math.sqrt(ny))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Hyperplane-sign LSH bucket of a float-array column: bit p =
  * sign(v · plane_p). Injected by the rewrite rule on both join sides.
  */
case class LshBucketFloatExpr(child: Expression, numPlanes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        dot += v.getFloat(d).toDouble * SimilarityRewrite.planeComponent(p, d)
        d += 1
      }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** The rule: any inner/cross join whose condition conjuncts contain
  * `graft_cosine(av, bv) > lit` (or `>=`, or reversed `lit < cos`)
  * gains `lsh_bucket(av) = lsh_bucket(bv)` as an additional equi
  * conjunct. Idempotent — skips joins that already carry a bucket
  * equality.
  */
case class SimilarityJoinRewrite() extends Rule[LogicalPlan] {

  private def planes: Int =
    conf.getConfString(SimilarityRewrite.PlanesConf, "0").toInt

  private def cosinePair(e: Expression): Option[(Expression, Expression)] = e match {
    case GreaterThan(CosineFloatExpr(a, b), Literal(_, _)) => Some((a, b))
    case GreaterThanOrEqual(CosineFloatExpr(a, b), Literal(_, _)) => Some((a, b))
    case LessThan(Literal(_, _), CosineFloatExpr(a, b)) => Some((a, b))
    case LessThanOrEqual(Literal(_, _), CosineFloatExpr(a, b)) => Some((a, b))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val p = planes
    if (p <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner | Cross, Some(cond), _)
          if !cond.exists(_.isInstanceOf[LshBucketFloatExpr]) =>
        val conjuncts = splitConjuncts(cond)
        conjuncts.flatMap(cosinePair).headOption match {
          case Some((a, b))
              if a.references.subsetOf(left.outputSet) &&
                b.references.subsetOf(right.outputSet) =>
            val bucketEq = EqualTo(LshBucketFloatExpr(a, p), LshBucketFloatExpr(b, p))
            j.copy(condition = Some(And(bucketEq, cond)))
          case Some((a, b)) // predicate written (right, left) — swap
              if b.references.subsetOf(left.outputSet) &&
                a.references.subsetOf(right.outputSet) =>
            val bucketEq = EqualTo(LshBucketFloatExpr(b, p), LshBucketFloatExpr(a, p))
            j.copy(condition = Some(And(bucketEq, cond)))
          case _ => j
        }
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
