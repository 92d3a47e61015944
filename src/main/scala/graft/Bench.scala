package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional name filter for local A/B profiling (the driver passes
    // no args — full suite); substring match, e.g. `runMain graft.Bench q69`
    def selected(name: String): Boolean =
      args.isEmpty || args.exists(name.contains)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the ACTUAL plan shapes: run the whole suite once at the
    // smallest SF so JVM/JIT cost lands here, not in the first timed
    // query (round 1: the alphabetically-first query absorbed ~34 s of
    // cold-start at sf0.1). Codegen warms only up to the cache cap
    // (GraftSession: 1000 classes, against ~3.7 k for the suite), so a
    // query's first timed rep may recompile; the median of three reuses.
    val warmDir = {
      val d = new java.io.File("/root/testdata/sf0.001")
      if (d.isDirectory) d.getPath else sfDir
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => selected(q._1)).foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
      }
    // clearCache releases persisted DataFrames but NOT localCheckpoint
    // RDD blocks (clusterPairs / k-means iterations) — drop those too or
    // they accumulate storage memory across the 48-query run.
    // INVARIANT this relies on: every timed iteration rebuilds its
    // DataFrames from source via fn(spark, sfDir) — no DataFrame
    // reference survives a dropCached() call, so unpersisting a
    // locally-checkpointed RDD (whose truncated lineage cannot be
    // recomputed) can never strand a consumer. Do not hoist query
    // results across iterations without revisiting this.
    def dropCached(): Unit = {
      QueryCaches.releaseAll() // drain the registry, not just the blocks
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // memoized BPE trainings would turn c20/c21's later reps into
      // cache reads — every timed rep must retrain
      graft.queries.CorpusOps.clearBpeCache()
      // checkpoint-part LRU: same rule — reps re-parse, not cache-read
      graft.sources.LakeLog.clearPartCache()
    }
    dropCached() // drop warmup persists before timing
    try graft.sources.Tables.names.foreach { n =>
      spark.read.parquet(graft.sources.Tables.path(sfDir, n)).limit(1).count()
    } catch { case _: Throwable => () }
    // Three timed reps per query, report the MEDIAN: a single local[32]
    // run shares the machine with whatever else is scheduled, and one
    // descheduling blip can inflate one query 10×+ (BENCH_r03 showed
    // s02 at 17 s vs a 1.1 s quiet-run median; the r05→r06 driver runs
    // differed 16% wholesale and 2× on z01 with byte-identical code).
    // The median rejects a single outlier in EITHER direction — min
    // could still reward one lucky fully-cached pass — so round-over-
    // round deltas are attributable to code, not load. Each rep still
    // pays its own persists (dropCached between reps). A query that
    // throws is not timed at all: it stops its reps, stays out of
    // `queries` and `total`, and is named in `failed`.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => selected(q._1)).map { case (name, fn) =>
      val reps = Iterator.range(0, 3).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); false }
        val t = (System.nanoTime() - t0) / 1e9
        dropCached()
        Option.when(ok)(t)
      }.takeWhile(_.isDefined).flatten.toSeq.sorted
      name -> Option.when(reps.size == 3)(reps(1)) // median of 3
    }
    val timed = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    val qs = timed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failed.map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val total = timed.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfDir"}"""
    println(line)
    // ALSO land the line in a file: the r15 driver lost the stdout line
    // to tail truncation (BENCH_r15 unparseable → PERF_r16 had no
    // round-over-round comparison). Additions-only — the stdout
    // contract above is unchanged; best-effort (bench output must never
    // fail on an unwritable cwd).
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
