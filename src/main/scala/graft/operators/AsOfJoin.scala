package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (nearest-past) join: for each left row, attach the single
  * right row with the greatest `rightTime <= leftTime` per key — the
  * time-series join Spark lacks natively (the guide's canonical custom
  * operator), here composed from built-ins per the preference order:
  *
  * union the tagged sides, then one running `last(_, ignoreNulls)` over
  * (key, time, side) — each left row sees the most recent right payload
  * at or before its timestamp. ONE shuffle on the key, no range-join
  * row explosion (a naive `l.time >= r.time` join is O(|L|·|R|) per
  * key), no per-key state: the plan is sort-within-partition + window,
  * which scales to arbitrarily long histories. Ties at equal time
  * resolve right-before-left (a right row AT the left timestamp
  * matches), mirroring SQL ASOF JOIN's `>=`; several right rows at the
  * SAME (key, rightTime) resolve to the greatest payload tuple —
  * engines are free to pick any, so pick one deterministically.
  *
  * `payload` columns must not collide with left's columns (alias on the
  * right side first).
  */
object AsOfJoin {

  def asOf(left: DataFrame, right: DataFrame, key: String,
           leftTime: String, rightTime: String,
           payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // Payload travels as ONE struct column, so the running
    // last(ignoreNulls) is row-atomic: a right row whose payload
    // contains nulls still replaces the previous row wholesale (the
    // struct itself is non-null), never mixing columns from different
    // right rows — per-column last() would skip the null and leak an
    // older row's value in.
    val l = left.withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(
        right.select(payload.map(col): _*).schema
          .foldLeft(new org.apache.spark.sql.types.StructType)((s, f) => s.add(f))))
    val r = right.select((key +: rightTime +: payload).map(col): _*)
      .withColumnRenamed(rightTime, "__t")
      .withColumn("__side", lit(0))
      .withColumn("__p", struct(payload.map(col): _*))
    val rAligned = leftCols.filterNot(_ == key)
      .foldLeft(r.drop(payload: _*)) { (df, c) => df.withColumn(c, lit(null)) }
    // Total order: the payload struct breaks ties among right rows
    // sharing (key, rightTime) — struct comparison is lexicographic, so
    // the survivor is the greatest payload tuple, deterministically, at
    // any parallelism. Left rows carry a null struct and sort as equals
    // within their (t, side) group — a deliberate, safe exception to
    // the no-null-sort-keys rule: left rows only READ the running
    // last(ignoreNulls), so their relative order cannot affect any
    // output value. Payload columns must be of orderable types (no maps).
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t"), col("__side"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = l.select((leftCols ++ Seq("__t", "__side", "__p")).map(col): _*)
      .unionByName(rAligned.select((leftCols ++ Seq("__t", "__side", "__p")).map(col): _*))
    val withAsof = joined.withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
    payload.foldLeft(withAsof) { (df, p) =>
        df.withColumn(s"asof_$p", col("__asof").getField(p))
      }
      .filter(col("__side") === 1)
      .drop("__t", "__side", "__p", "__asof")
  }

  /** The same as-of semantics through the custom PHYSICAL operator
    * ([[graft.plans.AsOfMergeJoinExec]] via the injected planner
    * strategy): one hash shuffle per side + partition-local sorts + a
    * linear two-pointer merge. Spec-pinned row-identical to [[asOf]];
    * output payload columns keep their right-side names.
    *
    * Both inputs are re-aliased column-by-column first: fresh exprIds
    * keep the analyzer's self-join deduplication away from the
    * attribute references the custom plan node carries (both sides of
    * an as-of join typically read the same table).
    */
  def asOfMerge(left: DataFrame, right: DataFrame, key: String,
                leftTime: String, rightTime: String,
                payload: Seq[String]): DataFrame = {
    def fresh(df: DataFrame) =
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
        .queryExecution.analyzed
    val l = fresh(left)
    val r = fresh(right.select((key +: rightTime +: payload).map(col): _*))
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    org.apache.spark.sql.graft.PlanBridge.ofRows(left.sparkSession,
      graft.plans.AsOfMergeJoinPlan(l, r,
        attr(l, key), attr(r, key), attr(l, leftTime), attr(r, rightTime),
        payload.map(attr(r, _))))
  }
}
