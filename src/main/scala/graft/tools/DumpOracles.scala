package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump SparkEntry.oracleSql as JSON without running Spark —
  * for fast local iteration on oracle SQL against an existing Verify
  * output directory (`python3 tools/check.py <sfDir> <outDir>` after
  * copying the json there).
  *
  * Fixture-path queries (q40/q46/q50/q51/q52) cite sf-keyed paths: the
  * tag comes from an explicit second argument (sfDir or bare tag) or,
  * absent that, the `fixture_tag.txt` Verify wrote next to the target —
  * so a re-dump against a sf0.1 Verify output names the fixture that
  * run actually produced, never a stale JVM-default path.
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    val sibling = Paths.get(out).toAbsolutePath.resolveSibling("fixture_tag.txt")
    args.drop(1).headOption
      .orElse(if (Files.exists(sibling)) Some(Files.readString(sibling).trim)
              else None)
      .foreach(graft.queries.IngestQueries.retag)
    Files.writeString(Paths.get(out), graft.Verify.oracleJson(graft.SparkEntry.oracleSql))
    println(s"wrote ${graft.SparkEntry.oracleSql.size} oracles to $out")
  }
}
