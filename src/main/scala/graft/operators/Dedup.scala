package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus-scale pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *   - exact dedup is one shuffle on the fingerprint — the survivor is
  *     chosen by `row_number` over (fingerprint, id) so the result is
  *     deterministic at any parallelism (unlike `dropDuplicates`, which
  *     keeps an arbitrary first row);
  *   - MinHash/LSH turns the O(n²) near-dup problem into an
  *     equi-join on band hashes: signatures are computed scan-side with
  *     array higher-order functions (codegen'd, no UDF), then candidates
  *     come from a groupBy on (band, bandHash) whose fan-out is bounded
  *     by bucket size — the only quadratic work left is within-bucket;
  *   - SimHash gives a constant-width bit fingerprint; near-dups are
  *     pairs with small Hamming distance, pre-filtered by exact match on
  *     16-bit chunks (any pair within distance 3 must agree on ≥1 of 4
  *     chunks — pigeonhole), again an equi-join instead of a cross join.
  */
object Dedup {

  /** Deterministic exact dedup: one survivor per fingerprint (smallest
    * `idCol`), plus the group size. Input: any frame with an id and a
    * fingerprint column.
    *
    * Implemented as ONE hash aggregation (`min_by` on the id over the
    * whole row) — a single shuffle with map-side partial combine and no
    * sort, vs. the window formulation (shuffle + per-partition sort).
    * Deterministic because ids are unique within a group.
    */
  def exact(df: DataFrame, id: Column, fingerprint: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.withColumn("__fp", fingerprint).withColumn("__id", id)
      .groupBy(col("__fp"))
      .agg(
        min_by(struct(cols.map(col): _*), col("__id")).as("__row"),
        count(lit(1)).as("dup_group_size"))
      .select(col("__row.*") +: Seq(col("dup_group_size")): _*)
  }

  /** Exact Jaccard similarity of two distinct-shingle array columns:
    * |A∩B| / |A∪B| as a deterministic integer ratio.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    inter.cast("double") / union
  }

  // --- MinHash --------------------------------------------------------

  /** Deterministic 64-bit mix (splitmix64 finalizer) of a long column —
    * the base hash for shingles and the per-permutation remix. Pure
    * arithmetic on longs → codegen'd, identical on every run.
    */
  def mix64(c: Column): Column = {
    val z1 = (c + lit(-7046029254386353131L))
    val z2 = (z1.bitwiseXOR(shiftrightunsigned(z1, 30))) * lit(-4658895280553007687L)
    val z3 = (z2.bitwiseXOR(shiftrightunsigned(z2, 27))) * lit(-7723592293110705685L)
    z3.bitwiseXOR(shiftrightunsigned(z3, 31))
  }

  /** MinHash signature (`numHashes` longs) over a distinct-shingle array.
    * Each permutation i remixes the shingle's xxhash64 with a distinct
    * seed and takes the min.
    *
    * Single-pass: ONE `aggregate` over the shingles folds each shingle
    * hash into all `numHashes` minima via `zip_with` — the shingle array
    * and base hashes are evaluated once per row. (The naive form — one
    * `array_min(transform(...))` per permutation — re-inlines the
    * shingling expression `numHashes` times and was ~30× slower.)
    */
  def minHashSignature(shingleArr: Column, numHashes: Int): Column = {
    val seed = -5840758589994634535L
    aggregate(
      transform(shingleArr, s => xxhash64(s)), // base hashes: evaluated once
      array((0 until numHashes).map(_ => lit(Long.MaxValue)): _*),
      (acc, h) => zip_with(acc, sequence(lit(0L), lit(numHashes - 1L)),
        (m, i) => least(m, mix64(h + lit(seed) * i))))
  }

  /** LSH band keys from a signature: `numBands` hashes, each over
    * `rowsPerBand` consecutive signature entries. Two docs share a band
    * key iff that slice matches exactly.
    */
  def lshBandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      xxhash64(
        concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand).cast("array<string>")),
        lit(b))
    }: _*)

  /** Candidate near-dup pairs via LSH: explode band keys, self-join on
    * (band position is folded into the key), dedup pairs. Input needs
    * (`id`, `sig`) columns. Output: (id_a, id_b) with id_a < id_b.
    */
  def lshCandidatePairs(df: DataFrame, id: Column, sig: Column,
                        numBands: Int, rowsPerBand: Int): DataFrame =
    lshCandidatePairsWithSigs(df, id, sig, numBands, rowsPerBand)
      .select(col("id_a"), col("id_b"))

  /** Same, carrying both signatures through the self-join so the
    * verification stage needs no extra joins back to the signature
    * table (at scale that's two fewer shuffles).
    */
  def lshCandidatePairsWithSigs(df: DataFrame, id: Column, sig: Column,
                                numBands: Int, rowsPerBand: Int): DataFrame = {
    val keyed = df.select(id.as("__id"), sig.as("__sig"))
      .withColumn("band_key",
        explode(lshBandKeys(col("__sig"), numBands, rowsPerBand)))
    val a = keyed.select(col("band_key"), col("__id").as("id_a"), col("__sig").as("sig_a"))
    val b = keyed.select(col("band_key"), col("__id").as("id_b"), col("__sig").as("sig_b"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * positions.
    */
  def minHashEstimate(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(sigA)

  /** Connected components over near-dup candidate pairs: labels every
    * id with the MIN id of its component via min-label propagation WITH
    * POINTER DOUBLING (each iteration also adopts the label's own
    * label), so iterations needed is O(log diameter) — a 1000-link
    * chain converges in ~10 rounds, not 1000. The last step of real
    * corpus dedup — pairs alone don't dedup; components do
    * (a≈b, b≈c ⇒ {a,b,c} keep one).
    *
    * Each iteration is two joins + one aggregate; `localCheckpoint`
    * truncates lineage so the loop doesn't stack plans. Exhausting
    * `maxIter` without converging THROWS rather than silently returning
    * split labels (maxIter=12 covers diameters to ~4000 via doubling).
    * Output: (id, label).
    */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 12): DataFrame = {
    val spark = pairs.sparkSession
    // pairs feeds BOTH union directions — materialize once so the
    // (possibly expensive) candidate-verification lineage upstream
    // doesn't run twice
    val p = pairs.localCheckpoint()
    val nPairs = p.count()
    if (nPairs == 0) // no near-dups: skip the whole propagation loop
      return p.select(col("id_a").as("id"), col("id_a").as("label")).limit(0)
    // per-round shuffles sized to the edge count (2·|pairs|) — LoopPar
    LoopPar.withLoopParallelism(spark, 2 * nPairs) {
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      val step = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"),
          least(labels("label"), coalesce(col("nbr_label"), labels("label"))).as("label"))
      // pointer doubling: label := min(label, label(label)) — labels are
      // ids of the same component, so the lookup stays within it
      val byId = step.select(col("id").as("lid"), col("label").as("llabel"))
      val doubled = step.join(byId, step("label") === byId("lid"), "left")
        .select(step("id"),
          least(step("label"), coalesce(col("llabel"), step("label"))).as("label"))
        .localCheckpoint()
      // convergence check every 2nd iteration (and always on the last
      // permitted one) — halves the extra count jobs; doubling converges
      // in so few rounds that one possible extra iteration is cheaper
      // than a count job per round
      changed =
        if (iter % 2 == 0 && iter + 2 < maxIter) 1L
        else doubled.join(labels.withColumnRenamed("label", "old_label"), "id")
          .filter(col("label") =!= col("old_label")).count()
      labels = doubled
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"clusterPairs: labels not converged after $maxIter iterations " +
          "(component diameter > 2^maxIter?) — raise maxIter")
    labels
    }
  }

  /** Near-dup dedup end-to-end: keep one representative (the min id)
    * per connected component of `pairs`, plus every row not in any
    * pair. Deterministic.
    */
  def dedupByPairs(df: DataFrame, id: Column, pairs: DataFrame): DataFrame = {
    val labels = clusterPairs(pairs)
    val losers = labels.filter(col("id") =!= col("label")).select(col("id").as("__loser"))
    df.join(losers, id === col("__loser"), "left_anti")
  }

  // --- SimHash --------------------------------------------------------

  /** 64-bit SimHash over a token array: per-bit majority vote of token
    * xxhash64 values, assembled bit-by-bit (statically unrolled — Spark's
    * shift functions take literal shift amounts) — pure long arithmetic.
    */
  def simHash(tokenArr: Column): Column = {
    val hashes = transform(tokenArr, t => xxhash64(t))
    (0 until 64).map { bit =>
      val votes = aggregate(hashes, lit(0),
        (a, h) => a + when(shiftrightunsigned(h, bit).bitwiseAND(lit(1L)) === 1, 1)
          .otherwise(-1))
      when(votes > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: match on any of the 4 16-bit chunks
    * (pigeonhole: Hamming ≤ 3 ⇒ ≥1 identical chunk), then verify the
    * distance bound.
    */
  def simHashPairs(df: DataFrame, id: Column, sim: Column, maxDist: Int): DataFrame = {
    val keyed = df.select(id.as("__id"), sim.as("__sim"))
      .withColumn("chunk", explode(array((0 until 4).map(i =>
        concat_ws(":", lit(i),
          shiftrightunsigned(col("__sim"), i * 16).bitwiseAND(lit(0xFFFFL))
            .cast("string"))): _*)))
    val a = keyed.select(col("__id").as("id_a"), col("__sim").as("sim_a"), col("chunk"))
    val b = keyed.select(col("__id").as("id_b"), col("__sim").as("sim_b"), col("chunk"))
    a.join(b, Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sim_a"), col("sim_b")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // --- Boilerplate segment removal -----------------------------------

  /** Sub-document boilerplate removal (the RefinedWeb / CCNet
    * line-dedup family): partition each doc's token stream into
    * NON-OVERLAPPING `segTokens`-token segments; a segment occurring
    * in ≥ `minDocs` DISTINCT docs is boilerplate (headers, footers,
    * navigation chrome) and removed from EVERY doc — not keep-one like
    * [[exact]]: boilerplate has no canonical owner.
    *
    * Output per doc: `n_segments`, `n_dup_segments`, `kept_tokens`,
    * and `kept_fp` — the md5 of the kept segments REASSEMBLED in
    * segment order, so the fingerprint proves the transform (content
    * and order), not just the counts.
    *
    * Shape at scale: one group-by on segment content (the only
    * shuffle of segment data — the ≥minDocs test is local to each
    * reducer) + one hash-agg back to docs. No joins wider than the
    * duplicated-segment set.
    */
  def boilerplateSegments(docs: DataFrame, id: Column, toks: Column,
                          segTokens: Int, minDocs: Int = 2): DataFrame = {
    val segs = docs.select(id.as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), col("__toks"),
        explode(TextOps.chunkIdx(col("__toks"), segTokens)).as("si"))
      .select(col("doc_id"), col("si").cast("int").as("seg_idx"),
        TextOps.chunkSlice(col("__toks"), col("si"), segTokens, segTokens)
          .as("ctoks"))
      .select(col("doc_id"), col("seg_idx"),
        size(col("ctoks")).as("n_seg_tokens"),
        array_join(col("ctoks"), " ").as("seg"))
    val boiler = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("seg"), lit(1).as("dup"))
    segs.join(boiler, Seq("seg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(coalesce(col("dup"), lit(0))).cast("long").as("n_dup_segments"),
        coalesce(sum(when(col("dup").isNull, col("n_seg_tokens"))), lit(0))
          .cast("long").as("kept_tokens"),
        // collect_list drops the null branch, so only kept segments
        // survive; sort by (seg_idx, …) restores document order
        md5(array_join(transform(
          array_sort(collect_list(when(col("dup").isNull,
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ")).as("kept_fp"))
  }
}
