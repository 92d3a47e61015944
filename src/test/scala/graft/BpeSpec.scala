package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe

/** BPE trainer semantics pinned on hand-computable corpora: greedy
  * non-overlapping merge application (the run-parity case the c20
  * oracle replays relationally), deterministic tie-breaks, weighted
  * counts, convergence throw, and train/apply round-trip.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("bpe-spec")

  private def wordsDf(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("word", "freq")
  }

  private def seqsOf(df: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
    df.select(col("word"), col("s")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap

  test("hand-traced trajectory: argmax, overlap greediness, vocab sizes") {
    // counts r1: (a,b) = 2·5 [abab] + 3 [ab] = 13, (b,a) = 5, (a,a) = 2·2 = 4
    val (steps, seqs) = Bpe.train(
      wordsDf("abab" -> 5L, "ab" -> 3L, "aaa" -> 2L), 4)
    assert(steps.map(s => (s.step, s.lhs, s.rhs, s.pair_freq)) == Seq(
      (1, "a", "b", 13L),   // abab→[ab,ab], ab→[ab], aaa→[a,a,a]
      (2, "ab", "ab", 5L),  // abab→[abab]
      (3, "a", "a", 4L),    // aaa→[aa,a] — GREEDY: even offset merges, not [a,aa]
      (4, "aa", "a", 2L)))  // aaa→[aaa]
    // vocab after each merge: {a,b,ab} {a,b?,ab,abab}… symbols PRESENT only:
    // r1: abab=[ab,ab], ab=[ab], aaa=[a,a,a] → {ab,a} = 2
    // r2: [abab],[ab],[a,a,a] → {abab,ab,a} = 3
    // r3: [abab],[ab],[aa,a] → {abab,ab,aa,a} = 4
    // r4: [abab],[ab],[aaa] → {abab,ab,aaa} = 3
    assert(steps.map(_.vocab_size) == Seq(2L, 3L, 4L, 3L))
    assert(seqsOf(seqs) == Map(
      "abab" -> Seq("abab"), "ab" -> Seq("ab"), "aaa" -> Seq("aaa")))
  }

  test("run parity: merging (a,a) over long runs keeps even offsets") {
    val (steps, seqs) = Bpe.train(wordsDf("aaaaa" -> 1L), 1)
    assert(steps.head.lhs == "a" && steps.head.rhs == "a")
    assert(steps.head.pair_freq == 4L) // ALL adjacent occurrences, overlaps too
    assert(seqsOf(seqs)("aaaaa") == Seq("aa", "aa", "a"))
  }

  test("tie-break is (count DESC, lhs, rhs) — lexicographic on equal counts") {
    val (steps, _) = Bpe.train(wordsDf("ba" -> 1L, "ab" -> 1L), 1)
    assert((steps.head.lhs, steps.head.rhs) == ("a", "b"))
  }

  test("exhausted corpus throws instead of returning a short merge table") {
    intercept[IllegalStateException] {
      Bpe.train(wordsDf("ab" -> 1L, "cd" -> 1L), 3) // only 2 pairs exist
    }
  }

  test("applyMerges replays training: final tokenization is reproduced") {
    val words = wordsDf("abab" -> 5L, "ab" -> 3L, "aaa" -> 2L, "baba" -> 1L)
    val (steps, trained) = Bpe.train(words, 4)
    val reapplied = Bpe.applyMerges(words, steps.map(s => (s.lhs, s.rhs)))
    assert(seqsOf(reapplied) == seqsOf(trained))
  }

  test("applyMerges equals the per-merge BpeMergeExpr fold on mixed tables") {
    graft.functions.NativeExprs.ensureRegistered(spark)
    // rank order matters: ("b","c") before ("a","b") means "abc" keeps
    // its "a" — and ("ab","c") only fires once rank 2 has built "ab"
    val merges = Seq("b" -> "c", "a" -> "b", "ab" -> "c", "a" -> "a", "aa" -> "aa")
    val words = wordsDf("abc" -> 1L, "abcabc" -> 1L, "aaaa" -> 1L,
      "aaaaa" -> 1L, "cab" -> 1L, "bcbc" -> 1L, "xyz" -> 1L)
    val folded = merges.foldLeft(
      words.withColumn("s",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))) {
      case (df, (l, r)) =>
        df.withColumn("s", call_function("graft_bpe_merge", col("s"), lit(l), lit(r)))
    }
    assert(seqsOf(Bpe.applyMerges(words, merges)) == seqsOf(folded))
  }

  test("1000-merge table applies in ONE projection with O(1) plan depth") {
    // merges: rank 1 = (a,a); rank i>1 = (a^i, a). On "aaaaa": rank 1
    // → [aa, aa, a]; rank 2 (aa,a): greedy pass → [aa, aaa]; no
    // further pair is in the table (rhs is always the single "a").
    val merges = (1 to 1000).map(i => ("a" * i, "a"))
    val applied = Bpe.applyMerges(wordsDf("aaaaa" -> 1L, "ab" -> 1L), merges)
    assert(seqsOf(applied) == Map(
      "aaaaa" -> Seq("aa", "aaa"), "ab" -> Seq("a", "b")))
    // the whole table rides in two array LITERALS: expression node count
    // stays small and constant in the merge count (the round-7 fold was
    // ~4 nodes PER merge — 1000 merges would mean thousands of nodes)
    // (the ANALYZED plan — the optimizer collapses a literal-input query
    // to a LocalRelation, which is the analyzer surviving 1000 merges)
    val nodes = applied.queryExecution.analyzed.expressions
      .map(_.collect { case e => e }.size).sum
    assert(nodes < 100, s"expected O(1) plan depth, got $nodes expression nodes")
    assert(applied.queryExecution.analyzed.toString.contains("graft_bpe_apply"))
  }

  test("c20 runs on sf0.001 with exactly the registered merge count") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val rows = graft.queries.CorpusOps.c20(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == graft.queries.CorpusOps.BpeMerges)
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    // merged column is always lhs || rhs and vocab stays positive
    rows.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      assert(r.getLong(5) > 0L)
    }
  }
}
