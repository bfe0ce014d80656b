package graft

import graft.queries.Query
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** The one query registry: each name declared once, in exactly one
  * family, against a checked-in list of the driver contract's names; the
  * `SparkEntry` maps are derived from it. */
class QueryRegistrySpec extends AnyFunSuite {

  private val all = Query.families.flatten

  private val expected: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/query_names.txt")
    try Source.fromInputStream(in, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  test("every query name is declared once") {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("the registry holds exactly the checked-in query names") {
    val names = all.map(_.name).toSet
    assert(expected.size === 354)
    assert((expected -- names).isEmpty, s"missing: ${(expected -- names).toSeq.sorted}")
    assert((names -- expected).isEmpty, s"not in the list: ${(names -- expected).toSeq.sorted}")
  }

  test("every oracle is non-empty") {
    assert(all.filter(_.oracle.trim.isEmpty).map(_.name).isEmpty)
  }

  test("SparkEntry.queries and oracleSql are derived from the registry, one key set") {
    def diff(keys: Set[String]) = (expected -- keys, keys -- expected)
    assert(diff(SparkEntry.queries.keySet) === ((Set.empty, Set.empty)))
    assert(diff(SparkEntry.oracleSql.keySet) === ((Set.empty, Set.empty)))
    assert(all.forall(q => SparkEntry.oracleSql(q.name) == q.oracle))
  }

  test("building the registry fails on a duplicated name") {
    val e = intercept[IllegalArgumentException](Query.index(all :+ all.head))
    assert(e.getMessage.contains(all.head.name))
  }
}
