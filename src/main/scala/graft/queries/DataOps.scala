package graft.queries

import graft.QueryCaches.CacheOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.operators.{Dedup, LoopPar, Multimodal, Similarity, TextOps}
import graft.sources.Tables

/** Training-data pipeline queries: dedup (exact / n-gram Jaccard /
  * MinHash-LSH / SimHash), text analysis (tokens / quality / lang-ID /
  * fingerprints), embedding similarity search, and multimodal binary
  * plumbing — over the documents and embeddings testdata.
  *
  * Oracle policy: EVERY query carries an exact DuckDB oracle. The
  * relational/text ones are plain SQL; the sketch queries
  * (d02/d03/s02/s03) are hash-checked via [[DuckSketchSql]], which
  * replicates the FNV-1a + splitmix64 native expressions and the
  * hyperplane constants in single-statement SQL; d05's oracle is the
  * winnowing theorem (100% recovery for norm length ≥ 28). ScalaTest
  * adds semantic checks (known-duplicate fixtures, recall vs brute
  * force) on top.
  *
  * The dedup queries plant deterministic duplicates (exact copies for
  * d01, tail-truncated mutants for d02/d03/d04) so the operators
  * demonstrably FIND something, with recovery counted per language.
  */
object DataOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  private def norm(c: Column): Column = TextOps.normalize(c)

  private val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** documents ∪ exact copies of every 5th doc (ids offset by 1e6). */
  private def withExactCopies(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("lang"), col("text")))

  /** d01 — deterministic exact dedup over normalized-text fingerprints,
    * scoped per language (cross-language identical texts are distinct
    * documents; at larger SFs the synthetic corpus does contain them).
    */
  def d01(spark: SparkSession, dir: String): DataFrame = {
    val all = withExactCopies(docs(spark, dir))
    val survivors = Dedup.exact(all, col("doc_id"),
      concat(col("lang"), lit("|"), TextOps.fingerprint(norm(col("text")))))
    survivors.groupBy(col("lang"))
      .agg(
        sum(col("dup_group_size")).as("n_docs"),
        count(lit(1)).as("n_groups"),
        sum(when(col("dup_group_size") > 1, 1).otherwise(0)).as("n_dup_groups"))
      .orderBy(col("lang"))
  }

  /** d04 — exact 5-gram Jaccard of each doc vs its tail-truncated mutant
    * (the verification kernel of fuzzy dedup, oracle-checkable).
    */
  def d04(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("norm", norm(col("text")))
      .withColumn("mut", col("norm").substr(lit(1), greatest(length(col("norm")) - 15, lit(1))))
    d.select(
        col("doc_id"), col("lang"),
        gf.dround(Dedup.jaccard(
          TextOps.shingles(col("norm"), 5), TextOps.shingles(col("mut"), 5)), 4)
          .as("jaccard"))
      .withColumn("is_near_dup", col("jaccard") >= 0.7)
      .orderBy(col("doc_id"))
  }

  /** d02 — MinHash(32) + LSH(8 bands × 4) near-dup discovery over docs ∪
    * tail-truncated mutants; recovery rate per language. Hash-checked
    * against [[DuckSketchSql.d02]]'s exact SQL port of the signature
    * math; semantics also tested in DedupSpec.
    */
  def d02(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).withColumn("norm", norm(col("text")))
    val all = base.select(col("doc_id"), col("lang"), col("norm"))
      .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
        col("norm").substr(lit(1), greatest(length(col("norm")) - 15, lit(1))).as("norm")))
    // Signatures feed three plan branches (band explode + two pair-side
    // joins); persist so MinHash runs once — the batch analog of writing
    // a signature table before the LSH join at cluster scale. The fused
    // native expression hashes rolling word-shingles straight from the
    // token bytes (no shingle strings materialize; signature-identical
    // to minhash-over-wordShingles, proven in NativeExprsSpec).
    graft.functions.NativeExprs.ensureRegistered(spark)
    val sigs = all
      .withColumn("sig", call_function("graft_minhash32_w3",
        TextOps.tokens(col("norm"))))
      .persistScoped()
    val pairs = Dedup.lshCandidatePairsWithSigs(sigs, col("doc_id"), col("sig"), 8, 4)
    val est = pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("lang")), Seq("id_a"))
      .withColumn("est_jaccard", Dedup.minHashEstimate(col("sig_a"), col("sig_b")))
    est.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("id_b") === col("id_a") + 1000000, 1).otherwise(0))
          .as("n_recovered_mutants"),
        gf.dround(sum(gf.fixed(col("est_jaccard"), 10000.0)).cast("double") /
          count(lit(1)) / 10000.0, 4).as("avg_est_jaccard"))
      .orderBy(col("lang"))
  }

  /** d06 — d02's MinHash+LSH near-dup pass LIVE: documents stream in
    * two micro-batches (all originals, then all mutants — so every
    * recovered-mutant pair must cross a batch boundary through
    * [[graft.streaming.DedupStream]] bucket state), signatures and
    * band keys compute statelessly per batch with the same fused
    * native MinHash, and per-bucket ListState emits each candidate
    * pair the moment its second member arrives — dedup AT INGEST,
    * checking each incoming document against the full accumulated
    * corpus instead of a later corpus-wide self-join. The emitted
    * candidate SET is provably identical to the batch LSH self-join
    * (one emission per shared bucket, same dropDuplicates), so the
    * oracle is d02's DuckDB signature-math port VERBATIM — the
    * stream/batch estimates share one IEEE chain.
    */
  def d06(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{DedupStream, Replay}
    graft.functions.NativeExprs.ensureRegistered(spark)
    // one normalization pass serves the original slice, the mutant
    // slice's substr, and the language join below (was: writeSlices
    // re-scanned docs and recomputed norm once per slice)
    val origs = docs(spark, dir)
      .select(col("doc_id"), col("lang"), norm(col("text")).as("norm"))
      .persistScoped()
    val mutants = origs.select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
      col("norm").substr(lit(1), greatest(length(col("norm")) - 15, lit(1))).as("norm"))
    val replay = s"/root/repo/target/d06_replay-${new java.io.File(dir).getName}"
    Replay.writeSlices(replay, Seq(origs, mutants))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("norm",
        org.apache.spark.sql.types.StringType)))
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(replay)
      .withColumn("sig", call_function("graft_minhash32_w3",
        TextOps.tokens(col("norm"))))
      .withColumn("bandKey", explode(Dedup.lshBandKeys(col("sig"), 8, 4)))
      .select(col("bandKey"), col("doc_id").as("id"), col("sig"))
      .as[DedupStream.BandArrival]
    // cap threads through the session conf (graft.dedup.bucket_cap) —
    // per-query banding parameters want per-query alarm thresholds
    val out = DedupStream.candidatePairs(stream,
      DedupStream.configuredCap(spark))
    val sink = s"d06_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-d06").toString
    // q69's tuned shape: per-batch cost is store lifecycles, not rows
    val q = LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") {
      out.writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    // batch tail identical to d02's: cross-bucket dedup, language join,
    // estimate from the carried signatures
    val pairs = spark.table(sink).dropDuplicates("id_a", "id_b")
    val langOf = origs.unionByName(mutants)
      .select(col("doc_id").as("id_a"), col("lang"))
    val est = pairs.join(langOf, Seq("id_a"))
      .withColumn("est_jaccard", Dedup.minHashEstimate(col("sig_a"), col("sig_b")))
    est.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("id_b") === col("id_a") + 1000000, 1).otherwise(0))
          .as("n_recovered_mutants"),
        gf.dround(sum(gf.fixed(col("est_jaccard"), 10000.0)).cast("double") /
          count(lit(1)) / 10000.0, 4).as("avg_est_jaccard"))
      .orderBy(col("lang"))
  }

  /** d03 — SimHash(64) + 16-bit-chunk blocking near-dup discovery;
    * hash-checked against [[DuckSketchSql.d03]], semantics in DedupSpec.
    */
  def d03(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).withColumn("norm", norm(col("text")))
    val all = base.select(col("doc_id"), col("lang"), col("norm"))
      .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
        col("norm").substr(lit(1), greatest(length(col("norm")) - 15, lit(1))).as("norm")))
    graft.functions.NativeExprs.ensureRegistered(spark)
    // persist: the fingerprint feeds both chunk-join sides + the lang
    // join (self-join aliasing defeats exchange reuse)
    val hashed = all.withColumn("sim",
      call_function("graft_simhash64", TextOps.tokens(col("norm"))))
      .persistScoped()
    val pairs = Dedup.simHashPairs(hashed, col("doc_id"), col("sim"), maxDist = 3)
    pairs
      .join(hashed.select(col("doc_id").as("id_a"), col("lang")), Seq("id_a"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("id_b") === col("id_a") + 1000000, 1).otherwise(0))
          .as("n_recovered_mutants"),
        gf.dround(sum(col("dist")).cast("double") / count(lit(1)), 3).as("avg_dist"))
      .orderBy(col("lang"))
  }

  /** d05 — winnowing-fingerprint near-dup discovery: docs sharing any
    * winnow fingerprint with their tail-truncated mutant (the SIGMOD'03
    * guarantee: shared substrings ≥ w+k−1 chars ⇒ shared fingerprint).
    * Candidate generation is an equi-join on exploded fingerprints —
    * the third blocking scheme next to MinHash bands and SimHash chunks.
    *
    * Docs are restricted to `length(norm) ≥ 28` so the doc↔mutant shared
    * prefix is ≥ w+k−1 = 13 chars and recovery is 100% BY THE WINNOWING
    * THEOREM — which makes the per-language recovered count exactly
    * `count(docs)`, i.e. DuckDB-oracle-checkable without porting the
    * rolling hash (a broken winnow would under-count and fail the hash
    * compare).
    */
  def d05(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val base = docs(spark, dir).withColumn("norm", norm(col("text")))
      .filter(length(col("norm")) >= 28)
    val all = base.select(col("doc_id"), col("lang"), col("norm"))
      .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
        col("norm").substr(lit(1), greatest(length(col("norm")) - 15, lit(1))).as("norm")))
    // persist: both fingerprint-join sides read the exploded winnow rows
    val fps = all.select(col("doc_id"), col("lang"),
        explode(call_function("graft_winnow", col("norm"))).as("fp"))
      .persistScoped()
    val a = fps.select(col("doc_id").as("id_a"), col("lang"), col("fp"))
    val b = fps.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    // original↔mutant pairing rides IN the equi-join keys ((fp, id+10^6)
    // = (fp_b, id_b)) instead of as a post-join filter: a hot
    // fingerprint shared by many docs would otherwise fan out
    // quadratically inside its fp group before the filter drops the
    // pairs (guide §2.5 hot keys) — same pair set, join groups of one.
    a.join(b, col("fp") === col("fp_b") &&
        col("id_a") + 1000000 === col("id_b"))
      .select(col("id_a"), col("id_b"), col("lang")).distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_recovered_mutants"))
      .orderBy(col("lang"))
  }

  /** t01 — token statistics per language (whitespace + BPE-ish counts). */
  def t01(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"),
        TextOps.tokenCount(col("text")).as("toks"),
        TextOps.subwordCount(col("text")).as("subs"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        gf.dround(sum(col("toks")).cast("double") / count(lit(1)), 3).as("avg_tokens"),
        gf.dround(sum(col("subs")).cast("double") / count(lit(1)), 3).as("avg_subwords"),
        max(col("toks")).as("max_tokens"))
      .orderBy(col("lang"))

  /** t02 — quality scoring: integer-ratio features → composite score →
    * class distribution per language.
    */
  def t02(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val d = docs(spark, dir)
      .withColumn("norm", norm(col("text")))
      .withColumn("n_chars_t", length(col("text")))
      .withColumn("n_toks", TextOps.tokenCount(col("text")))
      .withColumn("n_stop", TextOps.wordSetCount(TextOps.tokens(col("norm")), TextOps.EnStop))
      .withColumn("n_punct", TextOps.punctCount(col("text")))
      .withColumn("score", TextOps.qualityScore(
        col("n_chars_t"), col("n_toks"), col("n_stop"), col("n_punct")))
      .withColumn("quality_class",
        when(col("score") >= 80, "high").when(col("score") >= 50, "medium")
          .otherwise("low"))
    d.groupBy(col("lang"), col("quality_class"))
      .agg(
        count(lit(1)).as("n_docs"),
        gf.dround(sum(gf.fixed(col("score"), 100.0)).cast("double") /
          count(lit(1)) / 100.0, 2).as("avg_score"))
      .orderBy(col("lang"), col("quality_class"))
  }

  /** t03 — marker-word language ID vs the labeled language (confusion
    * matrix counts). Ties resolve in profile order (P18 tie rule).
    */
  def t03(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val toks = TextOps.tokens(norm(col("text")))
    val scored = docs(spark, dir).withColumn("toks", toks)
    val withScores = TextOps.LangMarkers.foldLeft(scored) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang", TextOps.wordSetCount(col("toks"), words))
    }
    val predicted = withScores.withColumn("predicted_lang",
      TextOps.predictLang(TextOps.LangMarkers.map { case (l, _) => l -> col(s"s_$l") }))
    predicted.groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))
  }

  /** t04 — document fingerprints: md5 whole-doc + min-shingle locality
    * fingerprint (1-permutation MinHash, oracle-checkable).
    */
  def t04(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("norm", norm(col("text")))
      .select(
        col("doc_id"),
        TextOps.fingerprint(col("norm")).as("fp_md5"),
        substring(TextOps.fingerprint(col("norm")), 1, 8).as("fp_prefix"),
        TextOps.minShingleMd5(col("norm"), 8).as("min_shingle_md5"))
      .orderBy(col("doc_id"))

  /** t05 — PII redaction: every 3rd doc gets a deterministic planted
    * contact line (email + long reference number); the scrub pass must
    * remove exactly those, counted per language with the exact
    * character delta. Patterns are dialect-portable (no \b /
    * lookaround), so the oracle runs the identical regexes.
    */
  def t05(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com ref 9911223344"))).otherwise(col("text")))
    val scrubbed = planted
      .withColumn("emails_found", regexp_count(col("text"), lit(TextOps.EmailRe)))
      .withColumn("after_email", regexp_replace(col("text"), TextOps.EmailRe, "<EMAIL>"))
      .withColumn("nums_found", regexp_count(col("after_email"), lit(TextOps.LongNumRe)))
      .withColumn("clean", TextOps.redactPII(col("text")))
    scrubbed.groupBy(col("lang"))
      .agg(
        sum(col("emails_found")).as("emails_redacted"),
        sum(col("nums_found")).as("nums_redacted"),
        sum((length(col("text")) - length(col("clean"))).cast("long")).as("chars_removed"))
      .orderBy(col("lang"))
  }

  /** s01 — exact brute-force top-5 cosine neighbors for every 50th
    * vector (fixed-point integer dot products — oracle-exact).
    */
  def s01(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    Similarity.bruteForceTopK(q, e, 5)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** s02 — hyperplane-LSH approximate top-5 (the scale path: bucket
    * equi-join instead of cross join). Hash-checked against
    * [[DuckSketchSql.s02]] (identical plane constants embedded);
    * recall vs s01 tested in SimilaritySpec.
    */
  /** s06 — kNN majority-vote label classification: every 10th vector is
    * held out and classified by the majority label of its 10 nearest
    * labeled neighbors (exact fixed-point cosine, vote ties broken by
    * smaller label — total ordering as always). The weak-supervision /
    * semantic-labeling primitive an embedding pipeline runs after ANN:
    * same broadcast-query scan as s01 plus one (query, label) count
    * aggregation, so any candidate generator (LSH/IVF/IVF-PQ) slots in
    * unchanged at scale. Output keeps the vote count and a correctness
    * flag against the held-out true label.
    */
  def s06(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.NativeExprs.ensureRegistered(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cands = emb.filter(col("vec_id") % 10 =!= 0)
    val nn = Similarity.bruteForceTopK(q,
      cands.select(col("vec_id").as("id"), col("embedding").as("vec")), 10)
    val votes = nn
      .join(cands.select(col("vec_id").as("cand_id"), col("label").as("nbr_label")),
        Seq("cand_id"))
      .groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"))
    votes
      .withColumn("r", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("n_votes").desc, col("nbr_label"))))
      .filter(col("r") === 1)
      .join(emb.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("nbr_label").as("predicted"), col("n_votes"),
        (col("nbr_label") === col("true_label")).as("correct"))
      .orderBy(col("query_id"))
  }

  def s02(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    Similarity.hyperplaneLshTopK(q, e, 5, dim = 64, numPlanes = 4)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** s08 — SQ8 scalar-quantization ANN ([[Similarity.sq8TopK]]): the
    * per-dimension 8-bit quantizer completing the ANN progression
    * (exact → LSH → IVF → PQ → IVF-PQ → residual IVF-PQ → SQ8). The
    * oracle replicates the per-dim [min,max] training, the integer
    * code/dequantize formulas, the approximate integer dot, and the
    * shortlist→exact re-rank — training included, per the sketch-oracle
    * house rule.
    */
  def s08(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    Similarity.sq8TopK(q, e, 5, shortlist = 20)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** s09 — sparse all-pairs document similarity (the Bayardo et al.
    * 2007 "Scaling Up All Pairs Similarity Search" family): cosine
    * over integer TF-IDF-flavored bigram weights, candidates from an
    * inverted-index equi-join restricted to DISCRIMINATIVE terms
    * (2 ≤ df ≤ 50). The df cap is the scale bound: join fan-out per
    * term is ≤ df² regardless of corpus size — stop-terms (which
    * carry no signal and ALL the quadratic cost) never enter the
    * join; the unigram space here is 31 stop-terms deep, which is
    * exactly why the term space is bigrams. Weight = tf · (10^6 div
    * df) — integer, idf-monotone, oracle-replicable without ln().
    * Complements the dense-embedding s-family (same output shape)
    * and d-family Jaccard (weighted cosine vs set overlap).
    */
  def s09(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    import spark.implicits._
    val grams = Tables.load(spark, dir, "documents")
      .select($"doc_id", TextOps.tokens(TextOps.normalize($"text")).as("toks"))
      .select($"doc_id", explode(TextOps.wordNgramsAll($"toks", 2)).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("tf"))
    val dfc = grams.groupBy($"gram").agg(count(lit(1)).as("df"))
      .filter($"df".between(2, 50))
    // w ≤ tf·5·10^5 < 2^26; wa·wb < 2^52; sums stay far inside int64
    val w = grams.join(dfc, Seq("gram"))
      .select($"doc_id", $"gram",
        ($"tf" * call_function("div", lit(1000000L), $"df")).as("w"))
      .persistScoped() // feeds the norm agg + both posting-join sides
    val nsq = w.groupBy($"doc_id").agg(sum($"w" * $"w").as("nsq"))
    // persistScoped: BOTH directions of the symmetric union read the
    // posting-list self-join + pair aggregation — without it the whole
    // O(shared-term pairs) subtree runs twice (the union branches only
    // reuse the exchange, not the join+agg above it)
    val dots = w.select($"doc_id".as("id_a"), $"gram", $"w".as("wa"))
      .join(w.select($"doc_id".as("id_b"), $"gram", $"w".as("wb")), Seq("gram"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b").agg(sum($"wa" * $"wb").as("dot"))
      .persistScoped()
    val sym = dots.unionByName(
      dots.select($"id_b".as("id_a"), $"id_a".as("id_b"), $"dot"))
    sym
      .join(nsq.select($"doc_id".as("id_a"), $"nsq".as("na")), Seq("id_a"))
      .join(nsq.select($"doc_id".as("id_b"), $"nsq".as("nb")), Seq("id_b"))
      .select($"id_a".as("doc_id"), $"id_b".as("nbr_id"),
        ($"dot".cast("double") / sqrt($"na".cast("double"))
          / sqrt($"nb".cast("double"))).as("sim"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"sim".desc, $"nbr_id")))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"nbr_id", gf.dround($"sim", 6).as("sim"),
        $"rnk".cast("int").as("rnk"))
      .orderBy($"doc_id", $"rnk")
  }

  /** m01 — REAL image codec end-to-end: per doc_id a real PNG is
    * rendered from [[Multimodal]]'s closed-form pixel formula
    * (`ImageIO.write`), then `extractFeatures` DECODES it
    * (`ImageIO.read`) and emits exact integer pixel stats — dims,
    * per-channel sums, and a position-weighted rgb24 checksum. PNG is
    * lossless, so the DuckDB oracle verifies the decoded pixels by
    * recomputing the formula directly — a genuine encode→decode
    * roundtrip proof with no image library on the oracle side.
    */
  def m01(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.pngFromDocuments(spark, docs(spark, dir))
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("r_sum"), col("g_sum"), col("b_sum"), col("px_checksum"))
      .orderBy(col("media_id"))
  }

  /** m02 — REAL image resize: PNG decode → nearest-neighbor resample
    * to 5×4 (integer sample map `src = dst·srcDim/dstDim`) → PNG
    * re-encode → decode AGAIN in `extractFeatures`. Two full codec
    * roundtrips; the oracle recomputes the resample from the formula
    * with the same floor-division map.
    */
  def m02(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.pngFromDocuments(spark, docs(spark, dir))
    val resized = Multimodal.resize(media, 5, 4)
    Multimodal.extractFeatures(resized).toDF()
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("r_sum"), col("g_sum"), col("b_sum"), col("px_checksum"))
      .orderBy(col("media_id"))
  }

  /** m03 — rawvideo rgb24 frame sampling: per doc_id a `2 + id % 3`
    * frame raw video (6×4, 72-byte frames) is generated from the
    * formula, every 2nd frame is extracted by [[Multimodal.frameSample]]
    * and decoded to per-channel sums by `frameChannelStats` — the
    * frame-granular decode path the oracle recomputes per (frame, x, y).
    */
  def m03(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.rawVideoFromDocuments(spark, docs(spark, dir), w = 6, h = 4)
    val frames = Multimodal.frameSample(media, frameSize = 6 * 4 * 3, everyN = 2)
    Multimodal.frameChannelStats(frames, 6, 4).toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** m04 — image-content dedup by perceptual hash: PNGs are generated
    * from the pixel formula keyed on `doc_id % 97` (so ids sharing a
    * residue render IDENTICAL images — planted duplicate groups),
    * REALLY decoded, aHashed ([[Multimodal.aHashBits]]: NN 8×8
    * downsample, integer gray, mean threshold), and grouped on the
    * hash — dedup on decoded CONTENT, which byte-level fingerprints
    * cannot do across re-encodings. The oracle recomputes every hash
    * bit from the formula through the same integer sample map and
    * groups identically. One hash-agg; at 100 TB this is a scan +
    * per-row decode + one shuffle on a 64-char key.
    */
  def m04(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.spreadIds(docs(spark, dir)).map { id =>
      val e = id % 97
      val (w, h) = (Multimodal.synthWidth(e), Multimodal.synthHeight(e))
      Multimodal.MediaRecord(id, Multimodal.PngKind,
        Multimodal.syntheticPng(e, w, h), w, h, 0)
    }
    Multimodal.perceptualHash(media)
      .groupBy(col("ahash"))
      .agg(count(lit(1)).as("n_members"), min(col("media_id")).as("rep_id"))
      .orderBy(col("ahash"))
  }

  /** m05 — REAL audio codec end-to-end: per doc_id a real WAV (RIFF,
    * 16-bit PCM mono) is rendered from the closed-form sample formula
    * via `javax.sound.sampled` (JDK-only, like ImageIO), then
    * `extractAudioFeatures` decodes the container — sample rate from
    * the decoded format, samples from the PCM frames — and emits
    * exact integer stats. PCM is lossless, so the oracle verifies the
    * decoded samples by recomputing the formula directly.
    */
  def m05(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.wavFromDocuments(spark, docs(spark, dir))
    Multimodal.extractAudioFeatures(media).toDF()
      .orderBy(col("media_id"))
  }

  /** m06 — REAL audio resample roundtrip: WAV decode → every-2nd-sample
    * decimation → WAV re-encode at half rate → decode AGAIN in
    * `extractAudioFeatures`. Two full codec roundtrips (the audio twin
    * of m02); the oracle recomputes the decimated stats from the PCM
    * formula at stride 2.
    */
  def m06(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.wavFromDocuments(spark, docs(spark, dir))
    Multimodal.extractAudioFeatures(Multimodal.decimate(media, 2)).toDF()
      .orderBy(col("media_id"))
  }

  /** s03 — IVF ANN (coarse-quantize to inverted lists, probe 4 of 16
    * centroids, exact re-rank). Hash-checked against
    * [[DuckSketchSql.s03]]; recall vs s01 in DataOpsSpec.
    */
  def s03(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    Similarity.ivfTopK(q, e, 5, numCentroids = 16, nprobe = 4)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** s04 — product-quantization ANN ([[Similarity.pqTopK]]): 4
    * subspaces × 16-centroid codebooks (seeded fixed-point Lloyd),
    * asymmetric distance tables, approx-dot shortlist of 50, exact
    * re-rank to top-5 — same output contract as s01/s02/s03, same
    * exactness: the oracle replicates codebook training, encoding, the
    * table-lookup scoring, and the re-rank.
    */
  def s04(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    Similarity.pqTopK(q, e, 5, dim = 64, m = 4, ksub = 16, shortlist = 50,
        kmeansIters = 1)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** s05 — IVF-PQ composed ANN ([[Similarity.ivfPqTopK]]): the coarse
    * inverted-file partitioner (s03's machinery) feeding the PQ
    * asymmetric scorer (s04's machinery) — probe 4 of 16 lists, PQ-score
    * only probed pairs, exact re-rank. The 100 TB ANN shape, oracled
    * end-to-end like its two halves.
    */
  def s05(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    Similarity.ivfPqTopK(q, e, 5, dim = 64, m = 4, ksub = 16, shortlist = 50,
        numCentroids = 16, nprobe = 4)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** sf-keyed lake root for q71's persisted ANN index. */
  def annIndexRoot(dir: String): String =
    s"/root/repo/target/q71_annidx-${new java.io.File(dir).getName}"

  /** q71 — PERSISTED ANN index ([[Similarity.ivfPqBuildIndex]] /
    * `ivfPqTopKFromIndex`): the production lifecycle s03–s07 skip —
    * train ONCE over the corpus, WRITE the four index tables (coarse
    * centroids, inverted lists, PQ codebooks, candidate codes — all
    * longs/arrays-of-longs, so the parquet roundtrip is exact), then
    * serve the query batch from the RELOADED tables with no training
    * on the query path. Same parameters and data as s05, and training
    * is bit-identical by construction, so the oracle is s05's full
    * DuckDB replay VERBATIM: the hash proves the build/write/read/
    * search cycle loses nothing. At 100 TB this is the shape that
    * matters: index build is a once-per-corpus batch job, query
    * serving reads vocabulary-sized index tables + probed base
    * vectors only.
    */
  def q71(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val root = annIndexRoot(dir)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    val built = Similarity.ivfPqBuildIndex(e, dim = 64, m = 4, ksub = 16,
      numCentroids = 16)
    built.coarse.write.mode("overwrite").parquet(s"$root/coarse")
    built.lists.write.mode("overwrite").parquet(s"$root/lists")
    built.codebooks.write.mode("overwrite").parquet(s"$root/codebooks")
    built.codes.write.mode("overwrite").parquet(s"$root/codes")
    val loaded = Similarity.IvfPqIndex(
      spark.read.parquet(s"$root/coarse"),
      spark.read.parquet(s"$root/lists"),
      spark.read.parquet(s"$root/codebooks"),
      spark.read.parquet(s"$root/codes"))
    Similarity.ivfPqTopKFromIndex(q, e, loaded, k = 5, dim = 64, m = 4,
        shortlist = 50, nprobe = 4)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** s07 — RESIDUAL IVF-PQ (IVFADC): s05's coarse quantizer + probing,
    * but PQ encodes the residual x − c(x) with integer-L2 codebooks and
    * scores via the inner-product decomposition q·x = q·c(x) + q·r̂(x)
    * — the industrially-standard encoding (what FAISS IVFPQ actually
    * stores), completing the ANN progression exact → LSH → IVF → PQ →
    * IVF-PQ → residual IVF-PQ. Fully deterministic; the oracle
    * replicates coarse training, residual computation, L2 codebook
    * training, encoding, tables, and the re-rank.
    */
  def s07(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") % 50 === 0)
    Similarity.ivfPqResidualTopK(q, e, 5, dim = 64, m = 4, ksub = 16,
        shortlist = 50, numCentroids = 16, nprobe = 4)
      .select(col("query_id"), col("cand_id"),
        gf.dround(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** q28 — as-of join: each click event joined to the most recent error
    * event of the same user at-or-before it (oracle: DuckDB's native
    * ASOF LEFT JOIN). Epochs floored on both sides (DuckDB `epoch` is
    * fractional and CAST rounds; Spark `unix_timestamp` floors).
    */
  def q28(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("e_ts"), col("value").as("e_value"))
      .withColumn("e_epoch", unix_timestamp(col("e_ts"))) // floored, output only
    graft.operators.AsOfJoin.asOf(clicks, errors, "user_id", "ts", "e_ts",
        Seq("e_value", "e_epoch"))
      .select(
        col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts"),
        col("asof_e_value").as("last_error_value"),
        (unix_timestamp(col("ts")) - col("asof_e_epoch")).as("secs_since_error"))
      .orderBy(col("event_id"))
  }

  /** q60 — q28's exact semantics through the custom PHYSICAL operator
    * ([[graft.operators.AsOfJoin.asOfMerge]] →
    * [[graft.plans.AsOfMergeJoinExec]]): same oracle, different
    * executor — DuckDB's native ASOF LEFT JOIN arbitrates between the
    * composed window form (q28) and the two-pointer merge exec, so the
    * custom-plan tier is driver-hash-verified, not just spec-verified.
    */
  def q60(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("e_ts"), col("value").as("e_value"))
      .withColumn("e_epoch", unix_timestamp(col("e_ts")))
    graft.operators.AsOfJoin.asOfMerge(clicks, errors, "user_id", "ts", "e_ts",
        Seq("e_value", "e_epoch"))
      .select(
        col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts"),
        col("e_value").as("last_error_value"),
        (unix_timestamp(col("ts")) - col("e_epoch")).as("secs_since_error"))
      .orderBy(col("event_id"))
  }

  /** q29 — gap sessionization (30-min) of the events table via
    * [[graft.streaming.Sessionize.sessionizeBatch]] — the batch twin of
    * the flatMapGroupsWithState streaming operator, driver-checked
    * against an independent SQL gaps-and-islands oracle. Output sticks
    * to exact facts (floored-epoch boundaries + event counts); the
    * order-sensitive double sum stays out of the hash compare.
    */
  def q29(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      .as[graft.model.Schemas.Event]
    graft.streaming.Sessionize.sessionizeBatch(ev, 30).toDF()
      .select(col("user_id"),
        unix_timestamp(col("session_start")).as("session_start"),
        unix_timestamp(col("session_end")).as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q30 — hot-key aggregation through [[graft.operators.Skew.saltedSumAgg]]:
    * the two-phase salted sum must merge to EXACTLY the plain group-by
    * result (fixed-point longs re-aggregate losslessly), so the oracle
    * is simply the unsalted SQL — the driver hash-compare proves salting
    * is distribution-only.
    */
  def q30(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("qf", gf.fixed(col("l_quantity"), 100.0))
      .withColumn("pf", gf.fixed(col("l_extendedprice"), 100.0))
    graft.operators.Skew.saltedSumAgg(li, Seq(col("l_returnflag")),
        Seq(col("qf") -> "sum_qty_f", col("pf") -> "sum_price_f"), saltBuckets = 8)
      .select(col("l_returnflag"),
        gf.sumFromFixed(col("sum_qty_f"), 100.0).as("sum_qty"),
        gf.sumFromFixed(col("sum_price_f"), 100.0).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q34 — SCD2 intervalization of per-user activity tiers via
    * [[graft.operators.Scd.intervals]]: each user's event stream is
    * classified (value thresholds) and collapsed into versioned
    * validity intervals — the warehouse dimension-history build.
    * Epochs floored on both sides (the q28 rule); valid_to is null on
    * each user's open version (not a sort key). Total order inside a
    * user is (ts, event_id).
    */
  def q34(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("value") < 100, "low")
          .when(col("value") < 300, "mid")
          .otherwise("high").as("tier"))
    graft.operators.Scd.intervals(ev, "user_id", "ts", "event_id", "tier")
      .select(col("user_id"), col("version"), col("state").as("tier"),
        unix_timestamp(col("valid_from")).as("valid_from"),
        unix_timestamp(col("valid_to")).as("valid_to"),
        col("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  /** q37 — CDC changelog apply (last-wins upsert/delete): the events
    * stream read as a change log per user — 'error' rows are deletes,
    * everything else upserts value — collapsed to the final snapshot:
    * the row with the max (ts, event_id) decides each key's fate, and
    * deleted keys vanish. One argmax window per key (single
    * sort-shuffle); the warehouse MERGE-apply semantics without a
    * mutable table.
    */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        (col("event_type") === "error").as("is_delete"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && !col("is_delete"))
      .select(col("user_id"),
        gf.dround(col("value"), 2).as("last_value"),
        unix_timestamp(col("ts")).as("last_ts"),
        col("n_changes"))
      .orderBy(col("user_id"))
  }

  /** q38 — gap sessionization via the BUILT-IN `session_window`
    * (dynamic-gap session windows, Spark 3.2+): same 30-minute gap
    * semantics as the custom flatMapGroupsWithState operator behind
    * q29, checked against the IDENTICAL independent gaps-and-islands
    * oracle — the built-in and the custom state machine must agree
    * row-for-row. (Boundary check: an event exactly 30 min after the
    * previous does NOT extend its [ts, ts+30m) window — same as q29's
    * `diff >= 30min` break.)
    */
  def q38(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        unix_timestamp(min(col("ts"))).as("session_start"),
        unix_timestamp(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q55 — DYNAMIC-gap session windows: the gap is a per-event
    * EXPRESSION (`error` events hold sessions open 60 min, everything
    * else 15), which changes the merge semantics from q29/q38's
    * fixed-gap gaps-and-islands to interval union — one long-gap event
    * can absorb several short-gap successors, so the oracle needs a
    * running max over window ENDS (exact epoch micros), not a lag of
    * starts. Checked against that independent formulation; boundary
    * stays half-open ([ts, ts+gap) — an event AT the end starts a new
    * session) exactly like the fixed-gap rows.
    */
  def q55(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events")
      .groupBy(session_window(col("ts"),
        when(col("event_type") === "error", lit("60 minutes"))
          .otherwise(lit("15 minutes"))), col("user_id"))
      .agg(
        unix_timestamp(min(col("ts"))).as("session_start"),
        unix_timestamp(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q39 — time-series resample + forward fill: each sampled user's
    * sparse event stream regularized onto an hourly grid (`sequence` +
    * explode between the user's first and last observed hour), missing
    * hours carrying the last observed hourly aggregate forward
    * (`last(_, ignoreNulls)` over the user-keyed window — ONE
    * sort-shuffle). Fills carry the exact fixed-point (sum, count)
    * pair, so filled averages are bit-identical to the source hour's.
    * The leading grid cell is always observed (grid starts at min ts),
    * so no null leaks. DuckDB twin: generate_series + last_value
    * IGNORE NULLS.
    */
  def q39(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, dir, "events").filter(col("user_id") % 50 === 0)
    val hourly = ev.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(gf.fixed(col("value"), 100.0)).as("s_f"), count(lit(1)).as("n_obs"))
    val grid = ev.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("observed", col("n_obs").isNotNull)
      .withColumn("fs", last(col("s_f"), ignoreNulls = true).over(w))
      .withColumn("fn", last(col("n_obs"), ignoreNulls = true).over(w))
      .select(col("user_id"),
        unix_timestamp(col("hour")).as("hour"),
        col("observed"),
        gf.dround(col("fs").cast("double") / col("fn") / lit(100.0), 2)
          .as("avg_value"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** e01 — embedding-cosine near-dup dedup end-to-end: plant scaled
    * copies (cosine-invariant ×1.001 → near-1 similarity after
    * quantization), find pairs ≥ 0.999 by exact fixed-point cosine,
    * cluster into connected components, keep the min-id representative.
    * The oracle recomputes the components independently with a DuckDB
    * recursive CTE — validating [[Dedup.clusterPairs]] against a second
    * implementation.
    */
  /** e02 — SemDeDup (Abbas et al. 2023): CLUSTER the embedding space
    * first (the deterministic fixed-point k-means of
    * [[graft.operators.Similarity.kmeansCentroidsFixed]]), then hunt
    * near-duplicates ONLY within each cluster — the third candidate-
    * generation family next to e01's LSH tables and d02's MinHash
    * bands. The within-cluster pair scan is quadratic in CLUSTER size,
    * not corpus size, and k is DERIVED from the input count
    * ([[Similarity.semdedupK]]: max(8, ceil(n/128))) so members-per-
    * cluster stays bounded as the corpus grows (the published recipe
    * clusters 100M embeddings into 50k clusters — k ∝ n; ScaleSmoke
    * asserts the pair-scan bound). The oracle derives k with the same
    * integer rule from count(*). Same planted scaled-copy corpus as e01, exact
    * fixed-point verification at 0.999, pointer-doubled components,
    * per-cluster keep/drop accounting. The oracle replicates every
    * stage including the k-means training (s03's CTE machinery).
    */
  def e02(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    graft.functions.NativeExprs.ensureRegistered(spark)
    val base = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("ve"))
    val all = base.unionByName(base.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("ve"), x => x * 1.001).as("ve")))
    val cand = all.select(col("vec_id").as("cand_id"),
        Similarity.fixedVec(col("ve")).as("cv"))
      .withColumn("cn", Similarity.normSqFixed(col("cv")))
      .persistScoped()
    val cents = Similarity.kmeansCentroidsFixed(cand,
      k = Similarity.semdedupK(cand.count()), iters = 1)
    val assigned = cand.crossJoin(broadcast(cents))
      .withColumn("c_cos", Similarity.cosineFromFixed(
        Similarity.dotFixed(col("cv"), col("centv")), col("cn"), col("centn")))
      .withColumn("r", row_number().over(Window.partitionBy(col("cand_id"))
        .orderBy(col("c_cos").desc, col("centroid_id"))))
      .filter(col("r") === 1)
      .select(col("centroid_id"), col("cand_id"), col("cv"), col("cn"))
      .persistScoped() // both pair sides + the final stats read it
    val pairs = assigned.as("l").join(assigned.as("m"),
        col("l.centroid_id") === col("m.centroid_id") &&
          col("l.cand_id") < col("m.cand_id"))
      .filter(Similarity.cosineFromFixed(
        Similarity.dotFixed(col("l.cv"), col("m.cv")),
        col("l.cn"), col("m.cn")) >= 0.999)
      .select(col("l.cand_id").as("id_a"), col("m.cand_id").as("id_b"))
    val dropped = Dedup.clusterPairs(pairs)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("cand_id"), lit(1).as("is_drop"))
    assigned.join(dropped, Seq("cand_id"), "left")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("is_drop"), lit(0))).as("n_dropped"))
      .orderBy(col("centroid_id"))
  }

  def e01(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    graft.functions.NativeExprs.ensureRegistered(spark)
    val base = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("ve"))
    val all = base.unionByName(base.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("ve"), x => x * 1.001).as("ve")))
    val f = all.select(col("vec_id"), Similarity.fixedVec(col("ve")).as("fv"))
      .withColumn("nsq", Similarity.normSqFixed(col("fv")))
      .persistScoped() // feeds candidate gen + both verify joins
    // Candidate generation: OR-amplified hyperplane LSH (4 tables × 16
    // planes) — an equi-join on (table, bucket), never all-pairs. At the
    // 0.999 threshold boundary recall is ≥ 99.8%; the planted scaled
    // copies sit at θ ≈ 0 and collide with certainty (verified exact vs
    // the all-pairs DuckDB oracle at every test SF). Exact fixed-point
    // cosine then verifies every candidate, so false candidates only
    // cost compute, never correctness.
    val cand = Similarity.lshCandidatePairsMultiTable(
      f.select(col("vec_id").as("id"), col("fv")), dim = 64,
      numPlanes = 16, numTables = 4)
    val pairs = cand
      .join(f.select(col("vec_id").as("ia"), col("fv").as("fa"), col("nsq").as("na")),
        col("id_a") === col("ia"))
      .join(f.select(col("vec_id").as("ib"), col("fv").as("fb"), col("nsq").as("nb")),
        col("id_b") === col("ib"))
      .filter(Similarity.cosineFromFixed(
        Similarity.dotFixed(col("fa"), col("fb")), col("na"), col("nb")) >= 0.999)
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.clusterPairs(pairs)
    val isolated = f.select(col("vec_id").as("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    labels.unionByName(isolated)
      .groupBy(col("label").as("vec_id"))
      .agg(count(lit(1)).as("component_size"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> d01,
    "s03_ivf_ann" -> s03,
    "s04_pq_ann" -> s04,
    "s05_ivfpq_ann" -> s05,
    "q71_ann_index_persist" -> q71,
    "s07_residual_ivfpq" -> s07,
    "s08_sq8_ann" -> s08,
    "s09_sparse_allpairs" -> s09,
    "q28_asof_join" -> q28,
    "q60_asof_exec" -> q60,
    "e01_embedding_dedup" -> e01,
    "e02_semantic_dedup" -> e02,
    "d02_minhash_lsh" -> d02,
    "d06_stream_lsh_dedup" -> d06,
    "d03_simhash" -> d03,
    "d04_ngram_jaccard" -> d04,
    "d05_winnow_dedup" -> d05,
    "t01_token_stats" -> t01,
    "t02_quality_score" -> t02,
    "t03_langid" -> t03,
    "t04_fingerprint" -> t04,
    "s01_cosine_topk" -> s01,
    "s06_knn_classify" -> s06,
    "s02_lsh_ann" -> s02,
    "m01_media_features" -> m01,
    "m02_media_resize" -> m02,
    "m03_video_frames" -> m03,
    "m04_image_dedup" -> m04,
    "m05_audio_features" -> m05,
    "m06_audio_resample" -> m06,
    "t05_pii_redact" -> t05,
    "q29_sessionize" -> q29,
    "q30_salted_agg" -> q30,
    "q34_scd2_intervals" -> q34,
    "q37_cdc_apply" -> q37,
    "q38_session_window" -> q38,
    "q39_resample_ffill" -> q39,
    "q55_dynamic_gap_sessions" -> q55)

  private val shingleSql =
    s"list_distinct([substr(norm, i, 5) FOR i IN range(1, greatest(length(norm) - 3, 2))])"
  private val shingleMutSql =
    s"list_distinct([substr(mut, i, 5) FOR i IN range(1, greatest(length(mut) - 3, 2))])"

  private val baseOracles: Map[String, String] = Map(
    "d02_minhash_lsh" -> DuckSketchSql.d02,
    // d06 is d02 LIVE: the candidate-pair SET is provably identical, so
    // the oracle is the same DuckDB signature-math port verbatim
    "d06_stream_lsh_dedup" -> DuckSketchSql.d02,
    "d03_simhash" -> DuckSketchSql.d03,
    "d05_winnow_dedup" -> DuckSketchSql.d05,
    "s02_lsh_ann" -> DuckSketchSql.s02,
    "s03_ivf_ann" -> DuckSketchSql.s03,
    "s04_pq_ann" -> DuckSketchSql.s04,
    "s05_ivfpq_ann" -> DuckSketchSql.s05,
    // q71: identical params and data as s05 with the index written and
    // reloaded in between — the oracle is s05's replay verbatim, so the
    // hash proves the persistence roundtrip loses nothing
    "q71_ann_index_persist" -> DuckSketchSql.s05,
    "s07_residual_ivfpq" -> DuckSketchSql.s07,
    "e02_semantic_dedup" -> DuckSketchSql.e02,
    "d01_exact_dedup" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, text FROM documents WHERE doc_id % 5 = 0),
         |fp AS (
         |  SELECT lang, md5($normSql) AS f, count(*) AS sz
         |  FROM all_docs GROUP BY 1, 2)
         |SELECT lang, CAST(sum(sz) AS BIGINT) AS n_docs, count(*) AS n_groups,
         |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
         |FROM fp GROUP BY 1 ORDER BY lang""".stripMargin,
    "d04_ngram_jaccard" ->
      s"""WITH n AS (
         |  SELECT doc_id, lang, $normSql AS norm FROM documents),
         |m AS (
         |  SELECT doc_id, lang, norm,
         |    substr(norm, 1, greatest(length(norm) - 15, 1)) AS mut
         |  FROM n),
         |s AS (
         |  SELECT doc_id, lang,
         |    $shingleSql AS sa,
         |    $shingleMutSql AS sb
         |  FROM m),
         |j AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_intersect(sa, sb)) AS DOUBLE)
         |      / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jac
         |  FROM s)
         |SELECT doc_id, lang, round(jac, 4) AS jaccard,
         |  round(jac, 4) >= 0.7 AS is_near_dup
         |FROM j ORDER BY doc_id""".stripMargin,
    "t01_token_stats" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '\S+')) AS toks,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS subs
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(toks) AS DOUBLE) / count(*), 3) AS avg_tokens,
        |  round(CAST(sum(subs) AS DOUBLE) / count(*), 3) AS avg_subwords,
        |  CAST(max(toks) AS INT) AS max_tokens
        |FROM t GROUP BY 1 ORDER BY lang""".stripMargin,
    "t02_quality_score" ->
      s"""WITH f AS (
         |  SELECT lang,
         |    length(text) AS n_chars_t,
         |    len(regexp_extract_all(text, '\\S+')) AS n_toks,
         |    len(list_filter(string_split($normSql, ' '),
         |      t -> list_contains(['the','a','an','and','or','of','to','in','is','are'], t)))
         |      AS n_stop,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
         |  FROM documents),
         |sc AS (
         |  SELECT lang,
         |    (CASE WHEN n_chars_t >= 200 AND n_chars_t <= 2000 THEN 40.0
         |          WHEN n_chars_t >= 50 THEN 20.0 ELSE 0.0 END
         |     + CASE WHEN CAST(n_chars_t AS DOUBLE) / n_toks >= 3.0
         |            AND CAST(n_chars_t AS DOUBLE) / n_toks <= 10.0 THEN 30.0 ELSE 10.0 END
         |     + CASE WHEN CAST(n_stop AS DOUBLE) / n_toks >= 0.05 THEN 20.0 ELSE 5.0 END
         |     + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_t <= 0.1 THEN 10.0 ELSE 0.0 END)
         |      AS score
         |  FROM f),
         |c AS (
         |  SELECT lang, score,
         |    CASE WHEN score >= 80 THEN 'high' WHEN score >= 50 THEN 'medium'
         |         ELSE 'low' END AS quality_class
         |  FROM sc)
         |SELECT lang, quality_class, count(*) AS n_docs,
         |  round(CAST(sum(CAST(floor(score * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / count(*) / 100.0, 2) AS avg_score
         |FROM c GROUP BY 1, 2 ORDER BY lang, quality_class""".stripMargin,
    "t03_langid" ->
      s"""WITH tk AS (
         |  SELECT lang, string_split($normSql, ' ') AS toks FROM documents),
         |sc AS (
         |  SELECT lang,
         |    len(list_filter(toks, t -> list_contains(['the','and','of','is','to'], t))) AS s_en,
         |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
         |    len(list_filter(toks, t -> list_contains(['el','la','de','y','es'], t))) AS s_es,
         |    len(list_filter(toks, t -> list_contains(['le','la','et','de','est'], t))) AS s_fr
         |  FROM tk),
         |p AS (
         |  SELECT lang,
         |    CASE WHEN greatest(s_en, s_de, s_es, s_fr) > 0
         |              AND s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |         WHEN greatest(s_en, s_de, s_es, s_fr) > 0
         |              AND s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |         WHEN greatest(s_en, s_de, s_es, s_fr) > 0
         |              AND s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |         WHEN greatest(s_en, s_de, s_es, s_fr) > 0
         |              AND s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
         |         ELSE 'und' END AS predicted_lang
         |  FROM sc)
         |SELECT lang, predicted_lang, count(*) AS n_docs
         |FROM p GROUP BY 1, 2 ORDER BY lang, predicted_lang""".stripMargin,
    "t05_pii_redact" ->
      """WITH p AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN text || ' contact: user' || doc_id || '@example.com ref 9911223344'
        |         ELSE text END AS text
        |  FROM documents),
        |s AS (
        |  SELECT lang, text,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails_found,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
        |  FROM p),
        |c AS (
        |  SELECT lang, emails_found,
        |    len(regexp_extract_all(after_email, '[0-9]{6,}')) AS nums_found,
        |    length(text) - length(regexp_replace(after_email, '[0-9]{6,}', '<NUM>', 'g')) AS delta
        |  FROM s)
        |SELECT lang,
        |  CAST(sum(emails_found) AS BIGINT) AS emails_redacted,
        |  CAST(sum(nums_found) AS BIGINT) AS nums_redacted,
        |  CAST(sum(delta) AS BIGINT) AS chars_removed
        |FROM c GROUP BY 1 ORDER BY lang""".stripMargin,
    "t04_fingerprint" ->
      s"""WITH n AS (
         |  SELECT doc_id, $normSql AS norm FROM documents)
         |SELECT doc_id,
         |  md5(norm) AS fp_md5,
         |  substr(md5(norm), 1, 8) AS fp_prefix,
         |  list_min([md5(substr(norm, i, 8)) FOR i IN range(1, greatest(length(norm) - 6, 2))])
         |    AS min_shingle_md5
         |FROM n ORDER BY doc_id""".stripMargin,
    "s06_knn_classify" ->
      """WITH f AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS fv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, fv,
        |    CAST(list_sum(list_transform(fv, x -> x * x)) AS BIGINT) AS nsq
        |  FROM f),
        |q AS (SELECT vec_id AS query_id, fv AS qv, nsq AS qn
        |      FROM n WHERE vec_id % 10 = 0),
        |c AS (SELECT n.vec_id, n.fv, n.nsq, e.label
        |      FROM n JOIN embeddings e USING (vec_id) WHERE n.vec_id % 10 <> 0),
        |s AS (
        |  SELECT q.query_id, c.vec_id AS cand_id, c.label AS nbr_label,
        |    CAST(CAST(list_sum(list_transform(list_zip(q.qv, c.fv),
        |      x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(q.qn AS DOUBLE)) / sqrt(CAST(c.nsq AS DOUBLE)) AS cosine
        |  FROM q CROSS JOIN c),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, cand_id) AS rnk
        |  FROM s),
        |k AS (
        |  SELECT query_id, nbr_label, CAST(count(*) AS BIGINT) AS n_votes
        |  FROM r WHERE rnk <= 10 GROUP BY 1, 2),
        |p AS (
        |  SELECT query_id, nbr_label, n_votes,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_votes DESC, nbr_label) AS pr
        |  FROM k)
        |SELECT p.query_id, e.label AS true_label, p.nbr_label AS predicted,
        |  p.n_votes, p.nbr_label = e.label AS correct
        |FROM p JOIN embeddings e ON e.vec_id = p.query_id
        |WHERE pr = 1 ORDER BY query_id""".stripMargin,
    // s09: bigram enumeration (range-unnest, the c-family pattern),
    // identical integer weight tf·(10^6 // df) over the df-capped term
    // space, posting self-join, symmetric top-3
    "s09_sparse_allpairs" ->
      s"""WITH n AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
         |x AS (
         |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM n),
         |g0 AS (
         |  SELECT doc_id,
         |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] AS gram
         |  FROM x),
         |tg AS (
         |  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
         |  FROM g0 GROUP BY 1, 2),
         |dfc AS (
         |  SELECT gram, count(*) AS df FROM tg GROUP BY 1
         |  HAVING count(*) BETWEEN 2 AND 50),
         |w AS (
         |  SELECT doc_id, tg.gram, tf * (1000000 // df) AS w
         |  FROM tg JOIN dfc ON tg.gram = dfc.gram),
         |ns AS (
         |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nsq FROM w GROUP BY 1),
         |dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
         |  FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sym AS (
         |  SELECT id_a, id_b, dot FROM dots
         |  UNION ALL SELECT id_b, id_a, dot FROM dots),
         |s AS (
         |  SELECT sym.id_a AS doc_id, sym.id_b AS nbr_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nsq AS DOUBLE))
         |      / sqrt(CAST(nb.nsq AS DOUBLE)) AS sim
         |  FROM sym
         |  JOIN ns na ON na.doc_id = sym.id_a
         |  JOIN ns nb ON nb.doc_id = sym.id_b),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY sim DESC, nbr_id) AS INT) AS rnk
         |  FROM s)
         |SELECT doc_id, nbr_id, round(sim, 6) AS sim, rnk
         |FROM r WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,
    // s08: the SQ8 pipeline replayed stage by stage — per-dim [mn,mx]
    // training, integer code floor (nonneg numerator: // == floor),
    // ×255 dequantized integers, approximate dot, approx-cos shortlist
    // (ad/√qn/√cn, the pqShortlistRerank expression), exact re-rank
    "s08_sq8_ann" ->
      """WITH f AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS fv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, fv,
        |    CAST(list_sum(list_transform(fv, x -> x * x)) AS BIGINT) AS nsq
        |  FROM f),
        |dims AS (
        |  SELECT unnest(range(1, 1 + len(fv))) AS d
        |  FROM (SELECT fv FROM f ORDER BY vec_id LIMIT 1)),
        |mm AS (
        |  SELECT d, min(fv[d]) AS mn, max(fv[d]) AS mx
        |  FROM f CROSS JOIN dims GROUP BY d),
        |cd AS (
        |  SELECT fc.vec_id AS cand_id, mm.d,
        |    CASE WHEN mm.mx > mm.mn
        |      THEN mm.mn * 255
        |        + (((fc.fv[mm.d] - mm.mn) * 255) // (mm.mx - mm.mn))
        |          * (mm.mx - mm.mn)
        |      ELSE mm.mn * 255 END AS r255
        |  FROM f fc CROSS JOIN mm),
        |q AS (SELECT vec_id AS query_id, fv AS qv, nsq AS qn
        |      FROM n WHERE vec_id % 50 = 0),
        |ad AS (
        |  SELECT q.query_id, cd.cand_id,
        |    CAST(sum(q.qv[cd.d] * cd.r255) AS BIGINT) AS adot
        |  FROM q CROSS JOIN cd GROUP BY 1, 2),
        |sl AS (
        |  SELECT ad.query_id, ad.cand_id,
        |    row_number() OVER (PARTITION BY ad.query_id ORDER BY
        |      CAST(adot AS DOUBLE) / sqrt(CAST(q.qn AS DOUBLE))
        |        / sqrt(CAST(c.nsq AS DOUBLE)) DESC, ad.cand_id) AS srnk
        |  FROM ad
        |  JOIN q ON q.query_id = ad.query_id
        |  JOIN n c ON c.vec_id = ad.cand_id
        |  WHERE ad.query_id <> ad.cand_id),
        |s AS (
        |  SELECT sl.query_id, sl.cand_id,
        |    CAST(CAST(list_sum(list_transform(list_zip(q.qv, c.fv),
        |      x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(q.qn AS DOUBLE)) / sqrt(CAST(c.nsq AS DOUBLE)) AS cosine
        |  FROM sl
        |  JOIN q ON q.query_id = sl.query_id
        |  JOIN n c ON c.vec_id = sl.cand_id
        |  WHERE sl.srnk <= 20),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, cand_id) AS INT) AS rnk
        |  FROM s)
        |SELECT query_id, cand_id, round(cosine, 6) AS cosine, rnk
        |FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,
    "s01_cosine_topk" ->
      """WITH f AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS fv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, fv,
        |    CAST(list_sum(list_transform(fv, x -> x * x)) AS BIGINT) AS nsq
        |  FROM f),
        |q AS (SELECT vec_id AS query_id, fv AS qv, nsq AS qn FROM n WHERE vec_id % 50 = 0),
        |s AS (
        |  SELECT q.query_id, c.vec_id AS cand_id,
        |    CAST(CAST(list_sum(list_transform(list_zip(q.qv, c.fv),
        |      x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(q.qn AS DOUBLE)) / sqrt(CAST(c.nsq AS DOUBLE)) AS cosine
        |  FROM q CROSS JOIN n c WHERE c.vec_id <> q.query_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, cand_id) AS INT) AS rnk
        |  FROM s)
        |SELECT query_id, cand_id, round(cosine, 6) AS cosine, rnk
        |FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,
    "m01_media_features" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
        |  FROM documents),
        |ys AS (SELECT media_id, w, h, unnest(range(0, h)) AS y FROM d),
        |px AS (SELECT media_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
        |v AS (
        |  SELECT media_id, w, h, x, y,
        |    (media_id * 7 + x * 3 + y * 5) % 256 AS r,
        |    (media_id * 11 + x + y * 2) % 256 AS g,
        |    (media_id * 3 + x * y) % 256 AS b
        |  FROM px)
        |SELECT media_id, 'image/png' AS kind,
        |  CAST(any_value(w) AS INT) AS width, CAST(any_value(h) AS INT) AS height,
        |  CAST(sum(r) AS BIGINT) AS r_sum,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum(b) AS BIGINT) AS b_sum,
        |  CAST(sum((r * 65536 + g * 256 + b) * (y * w + x + 1)) AS BIGINT)
        |    AS px_checksum
        |FROM v GROUP BY media_id
        |ORDER BY media_id""".stripMargin,
    "m02_media_resize" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
        |  FROM documents),
        |ys AS (SELECT media_id, w, h, unnest(range(0, 4)) AS y FROM d),
        |px AS (SELECT media_id, w, h, y, unnest(range(0, 5)) AS x FROM ys),
        |v AS (
        |  -- nearest-neighbor sample map: src = (dst * srcDim) // dstDim,
        |  -- the same fully-specified floor division the Scala side uses
        |  SELECT media_id, x, y,
        |    (media_id * 7 + ((x * w) // 5) * 3 + ((y * h) // 4) * 5) % 256 AS r,
        |    (media_id * 11 + ((x * w) // 5) + ((y * h) // 4) * 2) % 256 AS g,
        |    (media_id * 3 + ((x * w) // 5) * ((y * h) // 4)) % 256 AS b
        |  FROM px)
        |SELECT media_id, 'image/png' AS kind,
        |  5 AS width, 4 AS height,
        |  CAST(sum(r) AS BIGINT) AS r_sum,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum(b) AS BIGINT) AS b_sum,
        |  CAST(sum((r * 65536 + g * 256 + b) * (y * 5 + x + 1)) AS BIGINT)
        |    AS px_checksum
        |FROM v GROUP BY media_id
        |ORDER BY media_id""".stripMargin,
    "m06_audio_resample" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id, 400 + doc_id % 100 AS n FROM documents),
        |dm AS (SELECT media_id, n, (n + 1) // 2 AS m FROM d),
        |ss AS (SELECT media_id, m, unnest(range(0, m)) AS j FROM dm),
        |v AS (
        |  SELECT media_id, m, j,
        |    ((media_id * 31 + (2 * j) * 7) % 65536) - 32768 AS s
        |  FROM ss)
        |SELECT media_id, CAST(any_value(m) AS BIGINT) AS n_samples,
        |  4000 AS sample_rate,
        |  CAST(sum(s) AS BIGINT) AS s_sum,
        |  CAST(min(s) AS BIGINT) AS s_min,
        |  CAST(max(s) AS BIGINT) AS s_max,
        |  CAST(sum(s * (j + 1)) AS BIGINT) AS s_checksum
        |FROM v GROUP BY 1 ORDER BY media_id""".stripMargin,
    "m05_audio_features" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id, 400 + doc_id % 100 AS n FROM documents),
        |ss AS (SELECT media_id, n, unnest(range(0, n)) AS i FROM d),
        |v AS (
        |  SELECT media_id, n, i,
        |    ((media_id * 31 + i * 7) % 65536) - 32768 AS s
        |  FROM ss)
        |SELECT media_id, CAST(any_value(n) AS BIGINT) AS n_samples,
        |  8000 AS sample_rate,
        |  CAST(sum(s) AS BIGINT) AS s_sum,
        |  CAST(min(s) AS BIGINT) AS s_min,
        |  CAST(max(s) AS BIGINT) AS s_max,
        |  CAST(sum(s * (i + 1)) AS BIGINT) AS s_checksum
        |FROM v GROUP BY 1 ORDER BY media_id""".stripMargin,
    "m04_image_dedup" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id, doc_id % 97 AS e FROM documents),
        |dm AS (SELECT media_id, e, 4 + e % 8 AS w, 3 + e % 5 AS h FROM d),
        |ys AS (SELECT media_id, e, w, h, unnest(range(0, 8)) AS y FROM dm),
        |px AS (SELECT media_id, e, w, h, y, unnest(range(0, 8)) AS x FROM ys),
        |g AS (
        |  -- gray = r+g+b of the formula pixel at the NN 8x8 sample map
        |  SELECT media_id, x, y,
        |      (e * 7 + ((x * w) // 8) * 3 + ((y * h) // 8) * 5) % 256
        |    + (e * 11 + ((x * w) // 8) + ((y * h) // 8) * 2) % 256
        |    + (e * 3 + ((x * w) // 8) * ((y * h) // 8)) % 256 AS gray
        |  FROM px),
        |mn AS (SELECT media_id, CAST(sum(gray) // 64 AS BIGINT) AS mean
        |       FROM g GROUP BY 1),
        |b AS (
        |  SELECT g.media_id,
        |    string_agg(CASE WHEN gray > mean THEN '1' ELSE '0' END, ''
        |      ORDER BY y, x) AS ahash
        |  FROM g JOIN mn ON g.media_id = mn.media_id GROUP BY 1)
        |SELECT ahash, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(min(media_id) AS BIGINT) AS rep_id
        |FROM b GROUP BY 1 ORDER BY ahash""".stripMargin,
    "m03_video_frames" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id, 2 + doc_id % 3 AS nf FROM documents),
        |fr AS (SELECT media_id, unnest(range(0, nf, 2)) AS f FROM d),
        |ys AS (SELECT media_id, f, unnest(range(0, 4)) AS y FROM fr),
        |px AS (SELECT media_id, f, y, unnest(range(0, 6)) AS x FROM ys),
        |v AS (
        |  SELECT media_id, f, x, y,
        |    ((media_id + f * 13) * 7 + x * 3 + y * 5) % 256 AS r,
        |    ((media_id + f * 13) * 11 + x + y * 2) % 256 AS g,
        |    ((media_id + f * 13) * 3 + x * y) % 256 AS b
        |  FROM px)
        |SELECT media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(sum(r) AS BIGINT) AS r_sum,
        |  CAST(sum(g) AS BIGINT) AS g_sum,
        |  CAST(sum(b) AS BIGINT) AS b_sum
        |FROM v GROUP BY media_id, f
        |ORDER BY media_id, frame_idx""".stripMargin,
    "e01_embedding_dedup" ->
      """WITH RECURSIVE
        |sub AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.001)
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |f AS (
        |  SELECT vec_id,
        |    list_transform(ve, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS fv
        |  FROM sub),
        |n AS (
        |  SELECT vec_id, fv,
        |    CAST(list_sum(list_transform(fv, x -> x * x)) AS BIGINT) AS nsq
        |  FROM f),
        |e0 AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE CAST(CAST(list_sum(list_transform(list_zip(a.fv, b.fv),
        |          x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
        |        / sqrt(CAST(a.nsq AS DOUBLE)) / sqrt(CAST(b.nsq AS DOUBLE)) >= 0.999),
        |edges AS (SELECT ia AS s, ib AS d FROM e0
        |          UNION ALL SELECT ib, ia FROM e0),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS lab FROM n
        |  UNION
        |  SELECT e.d, reach.lab FROM reach JOIN edges e ON reach.id = e.s),
        |lab AS (SELECT id, min(lab) AS label FROM reach GROUP BY id)
        |SELECT label AS vec_id, count(*) AS component_size
        |FROM lab GROUP BY 1 ORDER BY vec_id""".stripMargin,
    "q30_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // q55: interval-union sessionization — running max of window ENDS
    // in exact micros; break iff this start clears EVERY prior end
    "q55_dynamic_gap_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) + CASE WHEN event_type = 'error'
        |      THEN 3600000000 ELSE 900000000 END AS end_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, ts_us, end_us,
        |    max(end_us) OVER (PARTITION BY user_id ORDER BY ts_us, end_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |f AS (
        |  SELECT user_id, ts, ts_us, end_us,
        |    CASE WHEN prev_end IS NULL OR ts_us >= prev_end THEN 1 ELSE 0 END
        |      AS brk
        |  FROM m),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, end_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q29_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, value) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN prev IS NULL
        |              OR epoch_ms(ts) - epoch_ms(prev) >= 30 * 60000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q28_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |errors AS (
        |  SELECT user_id AS e_user, ts AS e_ts, value AS e_value
        |  FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS ts,
        |  e.e_value AS last_error_value,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(e.e_ts)) AS BIGINT)
        |    AS secs_since_error
        |FROM clicks c
        |ASOF LEFT JOIN errors e ON c.user_id = e.e_user AND c.ts >= e.e_ts
        |ORDER BY event_id""".stripMargin,
    // q60: q28's oracle verbatim — the custom physical operator must
    // reproduce the composed form's answer bit-for-bit
    "q60_asof_exec" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |errors AS (
        |  SELECT user_id AS e_user, ts AS e_ts, value AS e_value
        |  FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS ts,
        |  e.e_value AS last_error_value,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(e.e_ts)) AS BIGINT)
        |    AS secs_since_error
        |FROM clicks c
        |ASOF LEFT JOIN errors e ON c.user_id = e.e_user AND c.ts >= e.e_ts
        |ORDER BY event_id""".stripMargin,
    "q34_scd2_intervals" ->
      """WITH t AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN value < 100 THEN 'low'
        |         WHEN value < 300 THEN 'mid' ELSE 'high' END AS tier
        |  FROM events),
        |c AS (
        |  SELECT *, lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM t),
        |v AS (
        |  SELECT user_id, tier, ts,
        |    sum(CASE WHEN prev IS NULL OR prev <> tier THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM c),
        |g AS (
        |  SELECT user_id, version, min(tier) AS tier, min(ts) AS vf,
        |    count(*) AS n_events
        |  FROM v GROUP BY 1, 2)
        |SELECT user_id, CAST(version AS BIGINT) AS version, tier,
        |  CAST(floor(epoch(vf)) AS BIGINT) AS valid_from,
        |  CAST(floor(epoch(lead(vf) OVER (PARTITION BY user_id ORDER BY version))) AS BIGINT)
        |    AS valid_to,
        |  n_events
        |FROM g ORDER BY user_id, version""".stripMargin,
    "q37_cdc_apply" ->
      """WITH log AS (
        |  SELECT event_id, user_id, ts, value,
        |    event_type = 'error' AS is_delete,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |SELECT user_id, round(value, 2) AS last_value,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS last_ts, n_changes
        |FROM log WHERE rn = 1 AND NOT is_delete
        |ORDER BY user_id""".stripMargin,
    "q39_resample_ffill" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id % 50 = 0),
        |hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour,
        |    sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS s_f,
        |    count(*) AS n_obs
        |  FROM ev GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |    date_trunc('hour', max(ts)) AS h1
        |  FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS hour
        |  FROM span),
        |j AS (
        |  SELECT g.user_id, g.hour, h.s_f, h.n_obs
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.user_id = h.user_id AND g.hour = h.hour),
        |f AS (
        |  SELECT user_id, hour, n_obs IS NOT NULL AS observed,
        |    last_value(s_f IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs,
        |    last_value(n_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fn
        |  FROM j)
        |SELECT user_id, CAST(floor(epoch(hour)) AS BIGINT) AS hour, observed,
        |  round(CAST(fs AS DOUBLE) / fn / 100.0, 2) AS avg_value
        |FROM f ORDER BY user_id, hour""".stripMargin)

  // q38 reuses q29's independent gaps-and-islands oracle VERBATIM: the
  // built-in session_window and the custom state machine must both
  // reproduce it.
  val oracles: Map[String, String] =
    baseOracles + ("q38_session_window" -> baseOracles("q29_sessionize"))
}
