package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The operator suite's one registry: every slot declares its Spark query
  * and its DuckDB oracle together, and the oracle file Verify writes
  * carries every SQL text back unchanged. */
class SlotRegistrySpec extends AnyFunSuite {

  private def parsed(json: String): Map[String, String] = {
    implicit val formats: Formats = DefaultFormats
    parse(json).extract[Map[String, String]]
  }

  test("every slot has a query and a non-empty oracle, under one name") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.slots.map(_.name).toSet === SparkEntry.queries.keySet)
    assert(SparkEntry.slots.size === 107)
    assert(SparkEntry.queries.size === 107)
    SparkEntry.oracleSql.foreach { case (name, sql) => assert(sql.trim.nonEmpty, name) }
  }

  test("registering a repeated name throws") {
    val q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new UnsupportedOperationException
    val e = intercept[IllegalArgumentException] {
      SparkEntry.register(SparkEntry.Slot("a", q, "SELECT 1"),
        SparkEntry.Slot("b", q, "SELECT 2"), SparkEntry.Slot("a", q, "SELECT 3"))
    }
    assert(e.getMessage.endsWith("more than once: a"))
    assert(SparkEntry.register(SparkEntry.Slot("a", q, "SELECT 1"),
      SparkEntry.Slot("b", q, "SELECT 2")).map(_.name) === Seq("a", "b"))
  }

  test("oracle_sql.json parses back to the oracle map under both keys") {
    def bothKeys(m: Map[String, String]) =
      m.flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
    val awkward = Map(
      "quote" -> "SELECT '\"q\"' AS x",
      "backslash" -> "SELECT regexp_matches(s, '\\d{4}\\\\') AS y",
      "tab" -> "SELECT\t1\r\n",
      "control" -> "SELECT '\u0001\u001f' AS z")
    assert(parsed(Verify.oracleJson(awkward)) === bothKeys(awkward))
    assert(parsed(Verify.oracleJson(SparkEntry.oracleSql)) === bothKeys(SparkEntry.oracleSql))
  }
}
