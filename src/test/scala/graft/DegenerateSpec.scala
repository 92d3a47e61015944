package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Graph, Hll, Sampling, Similarity}

/** Boundary-input sweep for the closed-form integer-math operators —
  * the round-4 verdict's systematization item: the h02 ceiling-division
  * bug was caught by a degenerate-span UNIT test, not by sf data, so
  * every operator whose correctness rests on exact integer arithmetic
  * gets its boundary inputs pinned here (k > n, single subspace,
  * 1-node graphs, 1-row strata, empty frames). SketchesSpec keeps the
  * original span<bins histogram case; this spec covers the rest.
  */
class DegenerateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("degenerate-spec")

  private def vecsDf(n: Int) = {
    import spark.implicits._
    // deterministic 8-dim unit-ish vectors, pairwise distinct directions
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => (1.0f + ((i * 7 + d * 3) % 11)) / 4.0f))
    }.toDF("id", "vec")
  }

  test("ANN: k > n returns every non-self pair, ranks still dense") {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val side = vecsDf(4)
    val got = Similarity.bruteForceTopK(side, side, k = 10).collect()
    // 4 queries × 3 non-self candidates; ranks 1..3 per query, no gaps
    assert(got.length == 12)
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rnk")).sorted.toSeq == Seq(1, 2, 3), s"query $q")
    }
  }

  test("ANN: IVF with more centroids than candidates degrades to exact") {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val side = vecsDf(4)
    val exact = Similarity.bruteForceTopK(side, side, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("rnk"))).toSet
    // numCentroids > n: Lloyd seeds clamp to n; nprobe covers every list
    val ivf = Similarity.ivfTopK(side, side, k = 3, numCentroids = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("rnk"))).toSet
    assert(ivf == exact)
  }

  test("ANN: single-subspace PQ (m=1) with full shortlist equals brute force") {
    graft.functions.NativeExprs.ensureRegistered(spark)
    val side = vecsDf(5)
    val exact = Similarity.bruteForceTopK(side, side, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("rnk"),
        r.getAs[Double]("cosine"))).toSet
    // m=1 → the codebook covers the whole vector; shortlist ≥ n makes
    // the exact re-rank authoritative regardless of PQ approximation
    val pq = Similarity.pqTopK(side, side, k = 3, dim = 8, m = 1, ksub = 2,
        shortlist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("rnk"),
        r.getAs[Double]("cosine"))).toSet
    assert(pq == exact)
  }

  test("k-means: k > |candidates| returns |candidates| centroids, all consumed") {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    val cand = vecsDf(3)
      .select($"id".as("cand_id"), Similarity.fixedVec($"vec").as("cv"))
      .withColumn("cn", call_function("graft_dot_fixed", $"cv", $"cv"))
    val cents = Similarity.kmeansCentroidsFixed(cand, k = 16, iters = 2).collect()
    assert(cents.length == 3)
  }

  test("PageRank: 1-node self-loop holds the whole mass exactly") {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Seq((1L, 1L)).toDF("src", "dst")
    val r = Graph.pageRankFixed(e, iters = 5).collect()
    assert(r.length == 1 && r.head.getLong(1) == Graph.TotalMass)
  }

  test("PageRank: 2-node symmetric pair sits at the exact fixed point") {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRankFixed(e, iters = 4).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    // r = base + 0.85·r is a fixed point at TotalMass/2 per node:
    // div(10^12·15/100, 2) + div((10^12/2)·85, 100) = 10^12/2 exactly
    assert(r == Map(1L -> Graph.TotalMass / 2, 2L -> Graph.TotalMass / 2))
  }

  test("TrustRank: seed self-loop holds all mass; unreachable components hold none") {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    // component A: seed 1 with a self-loop; component B: 2↔3, no seed
    val e = Seq((1L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r = Graph.pageRankPersonalizedFixed(e, Seq(1L).toDF("id"), iters = 4)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    // all teleport returns to the seed: its self-loop keeps TotalMass
    // exactly, and trust NEVER reaches the disconnected pair
    assert(r == Map(1L -> Graph.TotalMass, 2L -> 0L, 3L -> 0L))
  }

  test("connected components: empty and single-pair inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusterPairs(empty).collect().isEmpty)
    val one = Seq((7L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.clusterPairs(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(3L -> 3L, 7L -> 3L))
  }

  test("stratified sampling: 1-row strata survive, empty input yields empty") {
    import spark.implicits._
    // strata sizes 1, 2, 4: ceil(n/4) keeps 1 row each — a 1-row stratum
    // is never silently dropped (the degenerate the verdict called out)
    val df = (Seq((10L, "solo")) ++ (0 until 2).map(i => (20L + i, "duo")) ++
      (0 until 4).map(i => (30L + i, "quad"))).toDF("doc_id", "lang")
    val got = Sampling.stratifiedExact(df, "lang", "doc_id", 1, 4).collect()
    val perStratum = got.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(perStratum == Map("solo" -> 1, "duo" -> 1, "quad" -> 1))
    assert(got.forall(_.getAs[Int]("sample_rank") == 1))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    assert(Sampling.stratifiedExact(empty, "lang", "doc_id", 1, 4).collect().isEmpty)
  }

  test("stratified sampling: bucketed selection ≡ stratum-wide sort") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the c03 equivalence on a frame big enough that buckets matter
    val df = (0 until 3000).map(i => (i.toLong, s"lang${i % 3}")).toDF("doc_id", "lang")
    val direct = df
      .select($"doc_id", $"lang", md5($"doc_id".cast("string").cast("binary")).as("h"))
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"h", $"doc_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"lang")))
      .filter($"sample_rank" <= ceil($"n" * 0.25))
      .select($"doc_id", $"lang", $"sample_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val bucketed = Sampling.stratifiedExact(df, "lang", "doc_id", 1, 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(bucketed == direct)
  }

  test("k-core: clique survives, staircase cascades one round per node, K_k-1 empties") {
    import spark.implicits._
    // K4 + pendant chain: 4-clique survives k=3; chain gone round 1
    val k4 = (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)) ++
      Seq((3L, 10L), (10L, 11L))
    val core3 = Graph.kCore(k4.toDF("a", "b"), k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(0L -> 3, 1L -> 3, 2L -> 3, 3L -> 3))
    // K3 under k=3: every node has deg 2 → empty core, converges fast
    val k3 = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("a", "b")
    assert(Graph.kCore(k3, k = 3).collect().isEmpty)
    // staircase: band nodes 5..9 each link to the 3 previous nodes of
    // {2,3,4}∪band; under k=4 the tail peels ONE node per round (the
    // domino the maxRounds bound must cover), leaving the K5 seed
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val band = (5L to 9L).flatMap(j => Seq((j - 3, j), (j - 2, j), (j - 1, j)))
    val core4 = Graph.kCore((k5 ++ band).toDF("a", "b"), k = 4).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(core4 == Seq(0L, 1L, 2L, 3L, 4L))
    // too-low maxRounds throws instead of silently mis-converging
    intercept[IllegalStateException] {
      Graph.kCore((k5 ++ band).toDF("a", "b"), k = 4, maxRounds = 2).collect()
    }
  }

  test("KMV: sub-k sketch is the exact set; estimator within envelope at n >> k") {
    import spark.implicits._
    import graft.operators.Kmv
    // n < k: the sketch IS the distinct set and the estimate is exact
    val small = (1L to 100L).toDF("key")
    val skS = Kmv.sketch(small, "key", 256)
    assert(skS.count() == 100)
    val estS = skS.agg(max($"uh").as("uh"))
      .select(Kmv.estimate($"uh", lit(100L), 256).as("e")).head().getDouble(0)
    assert(estS == 100.0)
    // n >> k: raw estimator lands within 5σ (σ ≈ 1/√(k−2) ≈ 6.3%)
    val big = (1L to 50000L).toDF("key")
    val skB = Kmv.sketch(big, "key", 256)
    assert(skB.count() == 256)
    val estB = skB.agg(max($"uh").as("uh"))
      .select(Kmv.estimate($"uh", lit(50000L), 256).as("e")).head().getDouble(0)
    assert(math.abs(estB - 50000.0) / 50000.0 < 0.315, s"est $estB")
    // duplicated input keys do not perturb the sketch (distinct inside)
    val dup = big.unionByName(big)
    assert(Kmv.sketch(dup, "key", 256).agg(max($"uh")).head().getLong(0) ==
      skB.agg(max($"uh")).head().getLong(0))
  }

  test("BFS hops: chain distances, maxHops cutoff, disconnected nodes, off-graph seeds") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 (symmetric), disconnected pair 10-11
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
    val e = und.toDF("src", "dst")
      .unionByName(und.map(_.swap).toDF("src", "dst"))
    def run(maxHops: Int, seeds: Seq[Long]) =
      Graph.bfsHops(e, seeds.toDF("id"), maxHops).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // single seed: exact chain distances, 10/11 unreachable
    assert(run(10, Seq(1L)) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4, 6L -> 5))
    // maxHops truncates the far tail
    assert(run(2, Seq(1L)) == Map(1L -> 0, 2L -> 1, 3L -> 2))
    // multi-source: min over seeds on both components
    assert(run(10, Seq(1L, 11L)) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4, 6L -> 5,
        11L -> 0, 10L -> 1))
    // a seed absent from the graph still reports hops 0
    assert(run(3, Seq(99L)) == Map(99L -> 0))
  }

  test("SSSP: 2-hop relaxation beats 1-hop edge; multi-seed min; guards throw") {
    import spark.implicits._
    // 1→2 direct w=10 relaxed by 1→3→2 (2+3=5); 2→4 extends the
    // improved label; 10→11 a disconnected seeded component
    val e = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L), (2L, 4L, 1L),
      (10L, 11L, 7L)).toDF("src", "dst", "w")
    def run(seeds: Seq[Long], maxRounds: Int = 16) =
      Graph.ssspWeighted(e, seeds.toDF("id"), maxRounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(Seq(1L)) == Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 6L))
    // multi-source: label is the min over seeds; unreachable 10/11 join in
    assert(run(Seq(1L, 10L)) ==
      Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 6L, 10L -> 0L, 11L -> 7L))
    // zero-weight edges are legal; negative ones throw up front
    assert(run(Seq(3L)) == Map(3L -> 0L, 2L -> 3L, 4L -> 4L))
    intercept[IllegalArgumentException] {
      Graph.ssspWeighted(Seq((1L, 2L, -1L)).toDF("src", "dst", "w"),
        Seq(1L).toDF("id"), 4).collect()
    }
    // a round budget below the fixpoint depth throws, never mis-converges
    intercept[IllegalStateException] { run(Seq(1L), maxRounds = 1) }
  }

  test("SSSP paths: relaxed witness reconstructed, ties to smallest parent, w=0 throws") {
    import spark.implicits._
    // 1→2 direct w=10 relaxed by 1→3→2 (2+3=5): node 2's witness must
    // be the 2-hop replacement, not the first-round direct edge. Node 5
    // is a planted DISTANCE TIE (1→5 w5 vs 1→3→2... 3→5 w3 = 5): the
    // parent must break to the smaller id 1, and the path follow it.
    val e = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L), (2L, 4L, 1L),
      (1L, 5L, 5L), (3L, 5L, 3L)).toDF("src", "dst", "w")
    val got = Graph.ssspPaths(e, Seq(1L).toDF("id"), 16).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Long](3)))).toMap
    assert(got == Map(
      1L -> ((0L, 1L, Seq(1L))),
      2L -> ((5L, 3L, Seq(1L, 3L, 2L))),
      3L -> ((2L, 1L, Seq(1L, 3L))),
      4L -> ((6L, 2L, Seq(1L, 3L, 2L, 4L))),
      5L -> ((5L, 1L, Seq(1L, 5L)))))
    // zero weights are rejected HERE (legal in ssspWeighted): zero-cost
    // ties can make the argmin-parent graph cyclic
    intercept[IllegalArgumentException] {
      Graph.ssspPaths(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"),
        Seq(1L).toDF("id"), 4).collect()
    }
  }

  test("triangles: K4, star, and pendant graphs count exactly") {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    def tri(edges: Seq[(Long, Long)]): Seq[Set[Long]] =
      Graph.triangles(edges.toDF("a", "b")).collect()
        .map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // K4: every 3-subset is a triangle → 4, each enumerated once
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val k4tri = tri(k4)
    assert(k4tri.length == 4 && k4tri.toSet.size == 4)
    // star: hub 0 with 5 leaves — wedges everywhere, zero closures;
    // also the skew case the degree orientation exists for
    assert(tri((1L to 5L).map(i => (0L, i))).isEmpty)
    // one triangle + a pendant edge
    assert(tri(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))) == Seq(Set(1L, 2L, 3L)))
  }

  test("funnel: out-of-order events don't convert; equal timestamps don't chain") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // u1 converts fully; u2 clicked BEFORE viewing (no conversion past
    // view); u3's click is exactly at the view time (strictly-after ⇒
    // not counted)
    val ev = Seq(
      (1L, t(10), "view"), (1L, t(20), "click"),
      (2L, t(30), "click"), (2L, t(40), "view"),
      (3L, t(50), "view"), (3L, t(50), "click")
    ).toDF("user_id", "ts", "event_type")
    val f = graft.operators.Funnel
      .stages(ev, "user_id", "ts", "event_type", Seq("view", "click"))
      .collect().map(r => r.getLong(0) ->
        (r.getTimestamp(1), Option(r.getTimestamp(2)))).toMap
    assert(f(1L) == (t(10), Some(t(20))))
    assert(f(2L) == (t(40), None))
    assert(f(3L) == (t(50), None))
  }

  test("chunking: docs shorter than a chunk yield exactly one whole chunk") {
    import spark.implicits._
    graft.functions.NativeExprs.ensureRegistered(spark)
    val (chunk, stride) = (64, 48)
    // 1-token, exactly-one-chunk, exactly-stride, and stride+1 docs
    val df = Seq(
      (1L, "a"),
      (2L, Seq.fill(64)("t").mkString(" ")),
      (3L, Seq.fill(48)("t").mkString(" ")),
      (4L, Seq.fill(49)("t").mkString(" "))).toDF("doc_id", "text")
    val got = df
      .select($"doc_id", graft.operators.TextOps
        .tokens(graft.operators.TextOps.normalize($"text")).as("toks"))
      .select($"doc_id", $"toks",
        explode(graft.operators.TextOps.chunkIdx($"toks", stride)).as("ci"))
      .select($"doc_id", $"ci",
        size(graft.operators.TextOps.chunkSlice($"toks", $"ci", chunk, stride)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).sortBy(_._1).toSeq).toMap
    assert(got(1L) == Seq((0L, 1)))   // single token → one 1-token chunk
    assert(got(2L) == Seq((0L, 64), (1L, 16))) // 64 tokens: full + 16-token tail
    assert(got(3L) == Seq((0L, 48))) // exactly stride → one chunk, no empty tail
    assert(got(4L) == Seq((0L, 49), (1L, 1))) // stride+1 → 1-token tail chunk
  }

  test("packing: empty input, all-oversized docs, capacity-exact fits") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(graft.operators.Packing.nextFitPack(empty, 100L, 4).count() == 0)
    // every doc oversized → one bin each, offsets all zero
    val big = Seq((1L, 200L), (2L, 300L), (3L, 150L)).toDF("doc_id", "n_tokens")
    val pb = graft.operators.Packing.nextFitPack(big, 100L, 1).collect()
    assert(pb.map(_.bin).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(pb.forall(_.start_tok == 0L))
    // exact fits: 100+100 must occupy two bins (cap is inclusive)
    val fit = Seq((1L, 100L), (2L, 100L), (3L, 100L)).toDF("doc_id", "n_tokens")
    val pf = graft.operators.Packing.nextFitPack(fit, 100L, 1).collect()
    assert(pf.map(_.bin).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(pf.forall(_.start_tok == 0L))
  }

  test("substring windows: docs shorter than K produce no windows, not errors") {
    import spark.implicits._
    val K = 24
    val d = Seq((1L, "short"), (2L, "x" * 23), (3L, "y" * 24), (4L, "z" * 25))
      .toDF("doc_id", "text")
      .select($"doc_id", graft.operators.TextOps.normalize($"text").as("norm"))
      .filter(length($"norm") >= K)
      .withColumn("i", explode(sequence(lit(1), length($"norm") - lit(K - 1))))
      .select($"doc_id", expr(s"substring(norm, i, $K)").as("wkey"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(!d.contains(1L) && !d.contains(2L)) // below K: zero windows
    assert(d(3L) == 1 && d(4L) == 2) // exactly K → 1 window; K+1 → 2
  }

  test("percentile selection: single-row groups and k > bins stay exact") {
    import spark.implicits._
    val df = (Seq(("one", 42L)) ++ (0 until 7).map(i => ("few", i.toLong)))
      .toDF("g", "m")
    val sel = Hll.exactPercentilesSelect(df, Seq($"g"), $"m", bins = 1024,
        pcts = Seq(50, 99)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(sel("one").getAs[Long]("p50") == 42L)
    assert(sel("one").getAs[Long]("p99") == 42L)
    // n=7: k50 = ceil(350/100) = 4 → value 3; k99 = ceil(693/100) = 7 → 6
    assert(sel("few").getAs[Long]("p50") == 3L)
    assert(sel("few").getAs[Long]("p99") == 6L)
  }
}
