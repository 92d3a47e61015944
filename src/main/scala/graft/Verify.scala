package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `{name: sql, ...}` as JSON. Strings escape backslash, quote and
    * ALL control chars (<0x20) — a tab or CR in oracle SQL would
    * otherwise make a `json.load` of the file fail.
    */
  def oracleJson(oracles: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience: trailing args restrict the run (and the dumped
    // oracle json) to the named queries — the driver always passes 2 args
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-verify")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally QueryCaches.releaseAll() // no query's cache outlives its run
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) }))
    // Record which sf this output came from, so a later standalone
    // DumpOracles re-dump (the oracle-iteration loop) keys fixture
    // paths to THIS run's sf instead of the JVM default.
    Files.writeString(Paths.get(s"$outDir/fixture_tag.txt"),
      new java.io.File(sfDir).getName)
    spark.stop()
  }
}
