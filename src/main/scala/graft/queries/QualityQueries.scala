package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QueryCaches.CacheOps
import graft.operators.Quality
import graft.sources.Tables

/** Data-quality audit queries (dq-series): declarative constraint
  * checking over the warehouse tables via [[Quality]].
  */
object QualityQueries {

  /** dq01 — the audit a pipeline runs before trusting `orders` /
    * `lineitem`: domain checks, null checks, key uniqueness,
    * referential integrity. Deterministic corruption is PLANTED (every
    * 1000th order re-appended with negated custkey and price) so the
    * report exercises real violation counting, not just zeros: the
    * duplicate keys trip the uniqueness check, the negative custkeys
    * trip the FK check, the negative prices trip the range check — in
    * exactly countable numbers the oracle reproduces.
    */
  def dq01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val lineitem = Tables.load(spark, dir, "lineitem")
    val planted = orders.filter($"o_orderkey" % 1000 === 0)
      .withColumn("o_custkey", -$"o_custkey")
      .withColumn("o_totalprice", -$"o_totalprice")
    // three check families consume o2 (row checks, uniqueness, FK) —
    // one materialization instead of re-running the union + planted
    // filter per family
    val o2 = orders.unionByName(planted).persistScoped()
    Quality.report(Seq(
      Quality.rowChecks(o2, Seq(
        "orders_totalprice_positive" -> ($"o_totalprice" <= 0.0),
        "orders_orderdate_not_null" -> $"o_orderdate".isNull,
        "orders_priority_in_domain" -> !$"o_orderpriority".isin(
          "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))),
      Quality.uniqueCheck(o2, "orders_orderkey_unique", Seq($"o_orderkey")),
      Quality.fkCheck(o2, "orders_custkey_fk_customer", $"o_custkey",
        customer, $"c_custkey"),
      Quality.rowChecks(lineitem, Seq(
        "lineitem_quantity_range" -> ($"l_quantity" < 1.0 || $"l_quantity" > 50.0),
        "lineitem_discount_range" -> ($"l_discount" < 0.0 || $"l_discount" > 0.1))),
      Quality.fkCheck(lineitem, "lineitem_orderkey_fk_orders", $"l_orderkey",
        orders, $"o_orderkey")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq01_quality_audit" -> dq01
  )

  val oracles: Map[String, String] = Map(
    "dq01_quality_audit" ->
      """WITH o2 AS (
        |  SELECT * FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, -o_custkey, o_orderstatus, -o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        |r AS (
        |  SELECT 'orders_totalprice_positive' AS check_name,
        |    (SELECT count(*) FROM o2) AS n_rows,
        |    (SELECT count(*) FROM o2 WHERE o_totalprice <= 0.0) AS n_violations
        |  UNION ALL
        |  SELECT 'orders_orderdate_not_null',
        |    (SELECT count(*) FROM o2),
        |    (SELECT count(*) FROM o2 WHERE o_orderdate IS NULL)
        |  UNION ALL
        |  SELECT 'orders_priority_in_domain',
        |    (SELECT count(*) FROM o2),
        |    (SELECT count(*) FROM o2 WHERE o_orderpriority NOT IN
        |      ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'))
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique',
        |    (SELECT count(*) FROM o2),
        |    (SELECT coalesce(sum(c), 0) FROM
        |      (SELECT count(*) AS c FROM o2 GROUP BY o_orderkey HAVING count(*) > 1))
        |  UNION ALL
        |  SELECT 'orders_custkey_fk_customer',
        |    (SELECT count(*) FROM o2),
        |    (SELECT count(*) FROM o2 WHERE o_custkey NOT IN
        |      (SELECT c_custkey FROM customer))
        |  UNION ALL
        |  SELECT 'lineitem_quantity_range',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_quantity < 1.0 OR l_quantity > 50.0)
        |  UNION ALL
        |  SELECT 'lineitem_discount_range',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 0.1)
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_fk_orders',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |      (SELECT o_orderkey FROM orders)))
        |SELECT check_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS pass
        |FROM r ORDER BY check_name""".stripMargin
  )
}
