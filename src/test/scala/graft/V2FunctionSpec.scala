package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NativeExprs
import graft.sources.GraftFunctionCatalog

/** [[GraftFunctionCatalog]] — the V2 function-catalog plugin. Pins
  * (1) catalog-qualified resolution + value agreement with the native
  * mixers, (2) the MAGIC-METHOD plan shape (a direct `Invoke`, no UDF
  * application), (3) bind-time type checking surfacing as an analysis
  * error, (4) function listing.
  */
class V2FunctionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("v2-function-spec")
    s.conf.set("spark.sql.catalog.graft_fns", classOf[GraftFunctionCatalog].getName)
    s
  }

  test("mix64 and hash64 resolve through the catalog and match the native mixers") {
    val rows = spark.sql(
      """SELECT graft_fns.fns.mix64(id) AS m,
        |       graft_fns.fns.hash64(CAST(id AS STRING)) AS h, id
        |FROM range(500)""".stripMargin).collect()
    rows.foreach { r =>
      val i = r.getLong(2)
      assert(r.getLong(0) == NativeExprs.mix64(i))
      assert(r.getLong(1) == NativeExprs.hashUtf8(UTF8String.fromString(i.toString)))
    }
  }

  test("magic method binds as a direct Invoke (no UDF application node)") {
    val df = spark.sql("SELECT graft_fns.fns.mix64(id) AS m FROM range(10)")
    val optimized = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(optimized.contains("invoke"),
      s"expected the magic-method Invoke in the plan:\n$optimized")
    assert(!optimized.contains("applyfunctionexpression"),
      "must not fall back to row-boxed produceResult application")
    // and the value actually computed through that path is right
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 10L).map(NativeExprs.mix64))
  }

  test("bind rejects wrong argument types/arity as an analysis error") {
    val wrongType = intercept[Exception](
      spark.sql("SELECT graft_fns.fns.mix64('abc')").collect())
    assert(wrongType.getMessage != null)
    val wrongArity = intercept[Exception](
      spark.sql("SELECT graft_fns.fns.mix64(1L, 2L)").collect())
    assert(wrongArity.getMessage != null)
    // implicit integer widening still binds: int literal → bigint arg
    assert(spark.sql("SELECT graft_fns.fns.mix64(7)").collect().head.getLong(0) ==
      NativeExprs.mix64(7L))
  }

  test("catalog lists its functions") {
    val cat = new GraftFunctionCatalog
    cat.initialize("graft_fns", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    assert(cat.listFunctions(Array("fns")).map(_.name).toSeq == Seq("hash64", "mix64"))
    assert(cat.functionExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("fns"), "mix64")))
  }
}
