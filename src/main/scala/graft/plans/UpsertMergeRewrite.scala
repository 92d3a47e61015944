package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.LakeTable

/** Routes the CANONICAL upsert-shaped SQL `MERGE INTO` on a graftlake
  * `upsert_key` table through the scan-free EQUALITY-DELETE path.
  *
  * The canonical shape — `ON` equates every `upsert_key` component to
  * a source expression, `WHEN MATCHED THEN UPDATE SET` writes the same
  * full row the single `WHEN NOT MATCHED THEN INSERT` writes, no extra
  * clause conditions, no `NOT MATCHED BY SOURCE` — is exactly a keyed
  * upsert: every source row replaces-or-inserts by key. Spark's
  * row-level rewrite plans it as a positional MOR delta (source JOIN
  * target on the key: the 100 TB target is scanned to find match
  * positions). This rule detects the shape on the ANALYZED plan (the
  * analyzer's own `RewriteMergeIntoTable` output, so it composes with
  * star expansion and assignment alignment) and replaces the whole
  * `WriteDelta` with an APPEND of the projected source under the
  * `upsert` write contract — one insert batch plus one equality-delete
  * record, ZERO reads of the target. Anything non-canonical (clause
  * conditions, partial-column updates, deletes, schema evolution)
  * falls through to the positional plan unchanged.
  *
  * Semantics note: SQL MERGE raises a cardinality error only when one
  * TARGET row matches several source rows. The scan-free route cannot
  * see the target, so it is STRICTER: the write fails on ANY duplicate
  * source key (enforced in the writer via the `merge_unique` write
  * option) — a duplicate key in an upsert batch is a nondeterministic
  * last-wins bug the positional plan would mask for unmatched keys.
  * Deduplicate the source or use a non-canonical MERGE shape.
  */
case class UpsertMergeRewrite() extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // only the freshly analyzed command (write not yet built)
    case wd: WriteDelta if wd.write.isEmpty => rewriteOf(wd).getOrElse(wd)
    case _ => plan
  }

  /** Post-hoc runs BEFORE CleanupAliases — instruction expressions may
    * still be alias-wrapped; match through them.
    */
  private def strip(e: Expression): Expression = e match {
    case a: Alias => strip(a.child)
    case other => other
  }
  private def isTrue(e: Expression): Boolean = strip(e) match {
    case Literal(true, _) => true
    case _ => false
  }
  private def isNullLit(e: Expression): Boolean = strip(e) match {
    case Literal(null, _) => true
    case _ => false
  }

  private def rewriteOf(wd: WriteDelta): Option[LogicalPlan] = {
    val rel = wd.table match {
      case r: DataSourceV2Relation => r
      case _ => return None
    }
    // the row-level rewrite wraps the table in RowLevelOperationTable
    // (private[sql] — unwrapped through the PlanBridge)
    val lake = org.apache.spark.sql.graft.PlanBridge
      .unwrapRowLevelTable(rel.table) match {
      case t: LakeTable => t
      case _ => return None
    }
    val props = lake.properties()
    val keyProp = Option(props.get("upsert_key")).getOrElse(return None)
    val keys = LakeTable.upsertKeyCols(keyProp)
    // ROW-WRITING routes (upsert, CDC apply) build their write plans
    // POST-HOC — after Spark's constraint-injection rules already ran —
    // so an enforced constraint could never be validated on the
    // appended rows; the positional plan got its enforcement during
    // analysis, keep it there. Pure-delete routes write no rows and
    // cannot violate a CHECK — they stay eligible.
    val constrained = lake.constraints().exists(_.enforced())
    val mr = wd.query match {
      case m: MergeRows => m
      // DELETE FROM t WHERE <keys> IN (<subquery>) — the data-driven
      // erasure shape ([[deleteInRoute]])
      case Project(projList, Filter(in: InSubquery, child)) =>
        return deleteInRoute(rel, lake, keys, projList, in, child)
      case _ => return None
    }
    if (mr.notMatchedBySourceInstructions.nonEmpty) return None
    // upsert shape analyzes as a RIGHT OUTER join (unmatched source
    // rows insert); the delete-only shape as an INNER join
    val (left, right, cond, joinType) = mr.child match {
      case Join(l, r, jt @ (RightOuter | Inner), Some(c), _) => (l, r, c, jt)
      case _ => return None
    }
    // the left subtree must be THIS table's row-id scan (it is, by the
    // analyzer's construction — verified cheaply by table name)
    val leftIsTarget = left.collectFirst {
      case r: DataSourceV2Relation if r.table.name() == lake.name() => true
    }.isDefined
    if (!leftIsTarget) return None
    val n = rel.output.size
    if (mr.output.size != n + 3) return None // [op, data..., _file, _pos]
    // instruction row shapes: INSERT carries the new data row with a
    // null row id; DELETE carries the row id with a null data row
    def insertExprsOf(out: Seq[Expression]): Option[Seq[Expression]] =
      if (out.size == n + 3 && strip(out.head).isInstanceOf[Literal] &&
          isNullLit(out(n + 1)) && isNullLit(out(n + 2)))
        Some(out.slice(1, n + 1).map(strip))
      else None
    def deleteShaped(out: Seq[Expression]): Boolean =
      out.size == n + 3 && strip(out.head).isInstanceOf[Literal] &&
        out.slice(1, n + 1).forall(isNullLit)
    // ON is a conjunction equating EXACTLY the upsert keys to source
    // expressions — each key once, nothing else
    val conjuncts = {
      def split(e: Expression): Seq[Expression] = e match {
        case And(a, b) => split(a) ++ split(b)
        case other => Seq(other)
      }
      split(cond)
    }
    if (conjuncts.size != keys.size) return None
    val leftOut = left.outputSet
    val keyToSrc: Map[String, Expression] = conjuncts.map {
      case EqualTo(a: AttributeReference, b)
          if leftOut.contains(a) && b.references.subsetOf(right.outputSet) =>
        a.name -> b
      case EqualTo(b, a: AttributeReference)
          if leftOut.contains(a) && b.references.subsetOf(right.outputSet) =>
        a.name -> b
      case _ => return None
    }.toMap
    if (keyToSrc.size != keys.size || !keys.forall(keyToSrc.contains))
      return None
    if (keyToSrc.values.exists(e => !e.deterministic)) return None
    val colNames = rel.output.map(_.name)

    // shared by the upsert and CDC-apply routes: extract + validate
    // the source-row projection from a matched-UPDATE split and a
    // not-matched-INSERT keep (update must write the same row the
    // insert writes, deterministically, from the source alone, with
    // the matched key re-inserted verbatim), aliased to table columns
    def sourceRowProjection(split: MergeRows.Instruction,
        keep: MergeRows.Instruction): Option[Seq[NamedExpression]] = {
      val outs = split.outputs
      val insOut = outs.find(o => insertExprsOf(o).isDefined && !deleteShaped(o))
        .getOrElse(return None)
      if (!outs.filterNot(_ eq insOut).forall(deleteShaped)) return None
      val updVals = insertExprsOf(insOut).getOrElse(return None)
      val insVals = insertExprsOf(keep.outputs.head).getOrElse(return None)
      if (updVals.size != n || insVals.size != n) return None
      if (!updVals.zip(insVals).forall { case (a, b) => a.semanticEquals(b) })
        return None
      if (insVals.exists(e => !e.deterministic)) return None
      if (!insVals.forall(_.references.subsetOf(right.outputSet))) return None
      // the key a source row MATCHES on must be the key it INSERTS —
      // anything else is not replacement semantics
      keys.foreach { k =>
        val i = colNames.indexOf(k)
        if (i < 0) return None
        if (!insVals(i).semanticEquals(keyToSrc(k))) return None
      }
      Some(rel.output.toSeq.zip(insVals).map { case (out, e) =>
        val cast = if (e.dataType == out.dataType) e else Cast(e, out.dataType)
        Alias(cast, out.name)()
      })
    }

    (mr.matchedInstructions, mr.notMatchedInstructions) match {
      // DELETE-ONLY (`WHEN MATCHED THEN DELETE`, nothing else): every
      // target row carrying a source key dies — exactly one equality
      // record over the source's distinct keys, ZERO target reads and
      // ZERO data files (the keyed CDC tombstone shape; the literal-IN
      // `DELETE WHERE` path serves ad-hoc key lists, this serves
      // data-driven ones of any size)
      case (Seq(del), Seq())
          if joinType == Inner && isTrue(del.condition) &&
            del.outputs.size == 1 && deleteShaped(del.outputs.head) =>
        // rows reach the writer null-filled outside the key columns
        // (never stored — the writer is keys-only); a non-nullable
        // non-key column would still flunk downstream nullability
        // contracts, so fall back to the positional plan there
        if (rel.output.exists(a => !a.nullable && !keyToSrc.contains(a.name)))
          return None
        val projected = Project(
          rel.output.toSeq.map { out =>
            keyToSrc.get(out.name) match {
              case Some(e) =>
                val cast = if (e.dataType == out.dataType) e else Cast(e, out.dataType)
                Alias(cast, out.name)()
              case None => Alias(Literal(null, out.dataType), out.name)()
            }
          }, right)
        Some(AppendData(rel.copy(table = lake), projected,
          Map("upsert" -> "true", "merge_unique" -> "true",
            "delete_only" -> "true"), isByName = false))

      // UPSERT (matched-UPDATE ≡ not-matched-INSERT)
      case (Seq(split), Seq(keep))
          if joinType == RightOuter &&
            isTrue(split.condition) && isTrue(keep.condition) &&
            split.outputs.size == 2 && keep.outputs.size == 1 =>
        if (constrained) return None
        // append the source's projected rows under the upsert contract;
        // align names/types here (post-hoc runs after output resolution)
        val aliases = sourceRowProjection(split, keep).getOrElse(return None)
        // write to the PLAIN table — the rewrite's relation wraps it in
        // a RowLevelOperationTable whose write builder is positional
        Some(AppendData(rel.copy(table = lake), Project(aliases, right),
          Map("upsert" -> "true", "merge_unique" -> "true"), isByName = false))

      // CDC APPLY (the canonical changelog shape): conditioned
      // matched-DELETE + unconditioned matched-UPDATE + the insert
      // gated on the delete condition's NEGATION — every source key
      // dies, non-tombstone rows re-insert. One atomic commit: data
      // files for the non-tombstones + one record over ALL keys,
      // zero target reads ([[o.a.s.sql.graft.LakeCdcApplyCommand]]).
      case (Seq(del, split), Seq(keep))
          if joinType == RightOuter &&
            del.outputs.size == 1 && deleteShaped(del.outputs.head) &&
            isTrue(split.condition) && split.outputs.size == 2 &&
            keep.outputs.size == 1 =>
        if (constrained) return None
        val opCond = strip(del.condition)
        // the op condition must classify rows from the SOURCE alone
        // (deterministically), and the INSERT gate must be exactly its
        // negation — `WHEN NOT MATCHED AND NOT (<delete cond>)`
        if (!opCond.deterministic) return None
        if (!opCond.references.subsetOf(right.outputSet)) return None
        if (!strip(keep.condition).semanticEquals(Not(opCond))) return None
        val aliases = sourceRowProjection(split, keep).getOrElse(return None)
        val flagged = Project(
          aliases :+ Alias(opCond,
            org.apache.spark.sql.graft.LakeCdcApplyCommand.TombstoneCol)(),
          right)
        Some(org.apache.spark.sql.graft.LakeCdcApplyCommand(
          lake.location.toString, flagged))

      case _ => None
    }
  }

  /** `DELETE FROM t WHERE <keys> IN (<subquery>)` — the data-driven
    * ERASURE shape (a deletion-request table, a GDPR key list): when
    * the predicate is EXACTLY an uncorrelated IN-subquery over the
    * full `upsert_key`, the positional plan (scan the 100 TB target,
    * semi-join, dv the match positions) collapses to ONE equality
    * record over the subquery's result — zero target reads, zero data
    * files (the keys-only writer). Duplicate and NULL subquery values
    * keep SQL's own semantics (dups collapse, nulls match nothing), so
    * unlike the MERGE routes no strictness contract is needed. A
    * compound predicate, a correlated subquery, or a partial key falls
    * through to the positional plan.
    */
  private def deleteInRoute(rel: DataSourceV2Relation,
      lake: LakeTable, keys: Seq[String], projList: Seq[NamedExpression],
      in: InSubquery, child: LogicalPlan): Option[LogicalPlan] = {
    // the filter must sit directly on THIS table's row-id scan
    val childIsTarget = child match {
      case r: DataSourceV2Relation =>
        org.apache.spark.sql.graft.PlanBridge
          .unwrapRowLevelTable(r.table) match {
          case t: LakeTable => t.name() == lake.name()
          case _ => false
        }
      case _ => false
    }
    if (!childIsTarget) return None
    // a DELTA DELETE projects [op literal, row id] and nothing else —
    // any other shape is not the plain delete command
    if (projList.size != 3 || !strip(projList.head).isInstanceOf[Literal])
      return None
    // uncorrelated, un-hinted, full-width list
    val lq = in.query
    if (lq.outerAttrs.nonEmpty || lq.joinCond.nonEmpty) return None
    val subPlan = lq.plan
    if (subPlan.output.size != in.values.size) return None
    // the IN values must be exactly the upsert key columns, each once
    val valNames = in.values.map {
      case a: AttributeReference if child.outputSet.contains(a) => a.name
      case _ => return None
    }
    if (valNames.distinct.size != valNames.size) return None
    if (valNames.toSet != keys.toSet) return None
    // the subquery output feeding key component valNames(i) is
    // subPlan.output(i) — project it under that table column, null-fill
    // the rest (never stored: the writer is keys-only)
    val srcByKey: Map[String, Attribute] =
      valNames.zip(subPlan.output).toMap
    val projected = Project(
      rel.output.toSeq.map { out =>
        srcByKey.get(out.name) match {
          case Some(a) =>
            val cast = if (a.dataType == out.dataType) a else Cast(a, out.dataType)
            Alias(cast, out.name)()
          case None =>
            if (!out.nullable) return None
            Alias(Literal(null, out.dataType), out.name)()
        }
      }, subPlan)
    Some(AppendData(rel.copy(table = lake), projected,
      Map("upsert" -> "true", "delete_only" -> "true"), isByName = false))
  }
}
