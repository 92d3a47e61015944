package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge trainer (Sennrich et al. 2016 — the
  * GPT-2/RoBERTa vocabulary recipe) over a word-frequency table.
  *
  * The scale move is the input shape: training runs on the DISTINCT
  * word→frequency table, not the corpus — at 100 TB the corpus has
  * trillions of tokens but the vocabulary is a few million rows, so
  * every training round touches vocabulary-sized frames only. Per
  * merge round:
  *
  *   1. adjacent-pair counts — one per-row `zip_with` pairing (all
  *      adjacent occurrences, overlaps included, weighted by word
  *      freq; exactly Sennrich's `get_stats`) + ONE hash aggregation
  *      shuffled on the pair key;
  *   2. argmax pair — total order (count DESC, lhs, rhs): a
  *      TakeOrderedAndProject top-1, collected driver-side (a scalar
  *      training decision per round, the Lloyd-centroid convention —
  *      not a data collect);
  *   3. merge application — [[graft.functions.BpeMergeExpr]] rewrites
  *      every symbol sequence map-side (greedy left-to-right
  *      non-overlapping), zero shuffle;
  *   4. `localCheckpoint` of the rewritten frame — the iterative-loop
  *      rule: without it lineage re-executes all prior rounds per
  *      consumer.
  *
  * Rounds are data-dependent (each argmax depends on the previous
  * merge), so the sequential driver loop IS the algorithm, not a
  * missed parallelization. Training throws if the corpus runs out of
  * pairs before `numMerges` (the convergence-throw convention) rather
  * than silently returning a short merge table.
  *
  * Replaces what the reference's stack would hand to an external
  * tokenizer-training job (ASVSP has no subword trainer; its text
  * processing stops at SQL string ops — `src/queries/` passim): here
  * the trainer is a first-class distributed operator whose merge table
  * and tokenization are exactly reproducible by the DuckDB oracle.
  */
object Bpe {

  /** One training round's outcome: the merged pair, its weighted
    * adjacent-occurrence count at merge time, and the number of
    * distinct symbols present in the corpus AFTER the merge.
    */
  case class MergeStep(step: Int, lhs: String, rhs: String,
                       pair_freq: Long, vocab_size: Long)

  private def mergeCol(s: Column, lhs: String, rhs: String): Column =
    call_function("graft_bpe_merge", s, lit(lhs), lit(rhs))

  /** Split a word into its single-character symbol sequence. */
  private val charSplit =
    expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")

  /** Adjacent pairs PLUS one (sym, null) marker struct per symbol
    * occurrence — one exploded stream that lets a single aggregation
    * pass produce both the pair counts (rhs non-null groups) and the
    * distinct-symbol vocabulary size (rhs-null group count).
    */
  private val pairsAndSymbols = expr(
    """concat(
      |  zip_with(slice(s, 1, greatest(size(s) - 1, 0)),
      |           slice(s, 2, greatest(size(s) - 1, 0)),
      |           (a, b) -> named_struct('lhs', a, 'rhs', b)),
      |  transform(s, x -> named_struct('lhs', x, 'rhs', cast(null as string))))""".stripMargin)

  /** Train `numMerges` BPE merges on a (word: string, freq: numeric)
    * table. Returns the ordered merge steps and the final symbol-
    * sequence frame (word, freq, s: array<string>).
    */
  def train(words: DataFrame, numMerges: Int): (Seq[MergeStep], DataFrame) = {
    graft.functions.NativeExprs.ensureRegistered(words.sparkSession)
    var seqs = words
      .filter(length(col("word")) > 0)
      .select(col("word"), col("freq").cast("long").as("freq"),
        charSplit.as("s"))
      .localCheckpoint()
    // (step, lhs, rhs, pair_freq) — vocab sizes attach once known: round
    // r's combined pass reports the vocabulary BEFORE its merge, i.e.
    // AFTER merge r-1, so each round finalizes the previous step and the
    // last step takes one symbols-only pass after the loop. One job per
    // round total (pair counts + vocab share a single aggregation),
    // where a per-round countDistinct follow-up job used to double it.
    val pending = Seq.newBuilder[(Int, String, String, Long)]
    val vocabs = Seq.newBuilder[Long]
    var round = 1
    while (round <= numMerges) {
      val row = seqs
        .select(col("freq"), explode(pairsAndSymbols).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .agg(
          count(when(col("rhs").isNull, 1)).as("vocab"),
          // total order (cnt DESC, lhs, rhs) as a struct-min over pair rows
          min(when(col("rhs").isNotNull,
            struct((-col("cnt")).as("nc"), col("lhs"), col("rhs")))).as("top"))
        .head()
      if (round > 1) vocabs += row.getLong(0)
      if (row.isNullAt(1))
        throw new IllegalStateException(
          s"Bpe.train: no adjacent pairs left before merge $round of $numMerges")
      val top = row.getStruct(1)
      val (cnt, lhs, rhs) = (-top.getLong(0), top.getString(1), top.getString(2))
      seqs = seqs.withColumn("s", mergeCol(col("s"), lhs, rhs))
        .localCheckpoint()
      pending += ((round, lhs, rhs, cnt))
      round += 1
    }
    vocabs += seqs.select(explode(col("s")).as("sym"))
      .agg(countDistinct(col("sym"))).head().getLong(0)
    val steps = pending.result().zip(vocabs.result()).map {
      case ((step, lhs, rhs, cnt), vocab) => MergeStep(step, lhs, rhs, cnt, vocab)
    }
    (steps, seqs)
  }

  /** Re-apply a trained merge list to a word column: the tokenizer.
    * ONE [[graft.functions.BpeApplyExpr]] carries the whole merge table
    * as two array literals and replays the training-order fold inside a
    * single evaluation loop, reproducing training's final symbol
    * sequences exactly (BpeSpec pins it). Plan depth is O(1) in the
    * vocabulary size — a 32k-merge production vocabulary is the same
    * narrow map-side projection as a 10-merge test one, no shuffle and
    * no per-merge plan node (the round-7 scale boundary this replaces:
    * a fold of one nested expression per merge is analyzer-fatal long
    * before data size matters).
    */
  def applyMerges(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(words.sparkSession)
    words.filter(length(col("word")) > 0)
      .withColumn("s", call_function("graft_bpe_apply", charSplit,
        lit(merges.map(_._1).toArray), lit(merges.map(_._2).toArray)))
  }
}
