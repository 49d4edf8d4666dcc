package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The query registry, checked without a Spark session: one record per
  * query, each with its oracle, and the oracle file Verify writes. */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.all.map(_.name)

  test("every query has a unique q_ name and a non-blank oracle") {
    assert(names.nonEmpty)
    assert(names.distinct == names, s"duplicates: ${names.diff(names.distinct)}")
    names.foreach(n => assert(n.matches("q_[a-z0-9_]+"), n))
    SparkEntry.all.foreach(q => assert(q.oracle.trim.nonEmpty, s"${q.name} has a blank oracle"))
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("Verify's oracle_sql.json holds exactly the registry's queries") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Verify.oracleJson(SparkEntry.all))
    val parsed = json.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq
    assert(parsed.map(_._1).sorted == names.sorted)
    assert(parsed.toMap == SparkEntry.all.map(q => q.name -> q.oracle).toMap)
  }
}
