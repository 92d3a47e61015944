package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{GraftLocalFileSystem, GraftLocalFs}

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (local[32], 128 GiB);
  * on a real cluster the same builder settings apply except master/memory,
  * which spark-submit owns. AQE is on so skewed shuffles re-plan at
  * runtime — at 100 TB that (plus `coalescePartitions`) replaces most
  * hand-tuning of `spark.sql.shuffle.partitions`.
  *
  * The codegen cache holds 1000 compiled classes instead of Spark's
  * default 100 (`spark.sql.codegen.cache.maxEntries`, a static conf read
  * once per JVM, when the first plan is compiled). The reference DAG's
  * working set does not fit in 100: one `epa_batch` pass (CSV ingest to
  * export, Q01–Q10 included) generates about 290 classes, and a
  * `lake_refresh` set-up plus one round about 290 more, so at the
  * default every warm pass recompiled (and re-JIT-warmed) almost every
  * class the cold pass had compiled: a class-load log of an `epa_batch`
  * run held 587 generated classes for a cold and one warm pass, and
  * with this cap 293 for a cold and two warm passes (15 in the two warm
  * passes). 1000 holds more than three such working sets. It is
  * deliberately not sized for the whole 190-query suite: one
  * `graft.Verify` pass over it at sf0.001 generates about 3.7 k classes,
  * which would keep that many compiled classes (and their metaspace)
  * alive for a workload that never repeats a plan within a pass.
  *
  * Local files go through `sources.GraftLocalFileSystem` (Hadoop's
  * `fs.file.impl`: Spark's file-source reads and writes) and
  * `sources.GraftLocalFs` (`fs.AbstractFileSystem.file.impl`: the
  * `FileContext` side, which streaming checkpoints and state stores
  * use). Without the native Hadoop library (`libhadoop.so`), Hadoop's
  * own local filesystem sets the mode of every file, checksum file and
  * directory it creates by forking a `chmod` process. A JFR recording
  * (`jdk.ProcessStart`) of one `epa_batch` run, a cold and a warm pass,
  * counted 1,540 of them (770 a pass: 944 from file creates, 596 from
  * mkdirs; the `daily` layer's 108-file write alone 343 a pass), and
  * a 3-micro-batch stateful stream 85, most through `FileContext`.
  * The graft classes set the same modes with a chmod(2) syscall and
  * fork none. Hadoop caches the first local `FileSystem` of a JVM user
  * whatever its configuration: a JVM that opened the local filesystem
  * before it built its first session keeps Hadoop's class, slower but
  * with the same modes, until that cache is closed (`FileContext` has
  * no such cache).
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime row-level filtering: let the optimizer inject a Bloom
      // filter from a selective build side into the probe-side scan
      // (the automatic sibling of the explicit BloomPrune operator;
      // pays off on fact⋈dim at scale, harmless locally)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // storage-partitioned joins: honor KeyGroupedPartitioning reported
      // by V2 scans (graftgen keyGrouped mode, Iceberg-style tables) so
      // co-partitioned joins/aggregations skip the shuffle entirely
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Hive-compatible (non-ANSI) semantics: null on divide-by-zero,
      // wrapping long arithmetic (the hash mixers rely on it). The
      // reference runs Spark 3.0 where this was the only behavior.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      .config("spark.ui.enabled", "false")
  }

  /** Local session for tests / CLI mains. */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    val spark = builder(appName).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
