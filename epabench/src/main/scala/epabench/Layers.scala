package epabench

/** Every per-layer metric, reported by every workload. A metric reads 0
  * only where the workload does not run that layer at all (its
  * `bypassed` set, listed in README.md); any other metric a workload
  * does not measure is an error.
  */
object Layers {
  val Lake: Seq[String] = Seq(
    "sources.lake_append_ms_p50",
    "sources.lake_append_driver_ms", "sources.lake_append_job_ms",
    "sources.lake_merge_ms_p50",
    "sources.lake_merge_driver_ms", "sources.lake_merge_job_ms",
    "sources.lake_merge_files_rewritten",
    "sources.lake_query_ms_p50",
    "sources.lake_query_driver_ms", "sources.lake_rows_read_per_row_out",
    "sources.lake_log_versions", "sources.lake_checkpoints", "sources.lake_log_mb",
    "sources.lake_live_files", "sources.lake_bytes_written_per_input_byte")
  val Sources: Seq[String] =
    Seq("sources.ingest_s", "sources.ingest_mb_per_s", "sources.hourly_mb") ++ Lake
  val Operators: Seq[String] = Seq(
    "operators.daily_s", "operators.monthly_s", "operators.annual_s",
    "operators.baselines_s", "operators.pyramid_mb")
  val Streaming: Seq[String] = Seq("streaming.export_s")

  /** Write the layer values `v`, 0 for the `bypassed` ones, the median
    * time of each Q01–Q10 call, and the Spark metrics from the tracer.
    */
  def write(v: Map[String, Double], bypassed: Set[String], t: Tracer, l: Loop, cores: Int,
            res: Result): Unit = {
    (Sources ++ Operators ++ Streaming).foreach { k =>
      require(v.contains(k) || bypassed(k), s"layer metric $k was not measured")
      res.num(k, v.getOrElse(k, 0.0))
    }
    // a traced loop runs whole rounds, so every query at least once
    BatchDag.QueryNames.foreach(n =>
      res.num(s"queries.${n}_ms", Stats.median(t.spansNamed(n).map(_.durMs))))
    Tracer.Phases.foreach(p => t.phaseMetrics(p, res))
    t.workloadMetrics(l, cores, res)
  }
}
