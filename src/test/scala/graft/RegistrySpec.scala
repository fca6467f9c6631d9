package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is one table: every name once, q01…q227 without a
  * gap, and a builder and a non-empty oracle SQL behind each name. */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.specs.map(_.name)

  test("the 227 query names are unique") {
    assert(names.size === 227)
    assert(names.distinct.size === names.size)
  }

  test("the numeric prefixes are q01 to q227, each exactly once") {
    val numbers = names.map(n => "^q(\\d+)_".r.findFirstMatchIn(n).get.group(1).toInt)
    assert(numbers.sorted === (1 to 227))
  }

  test("every oracle SQL is non-empty") {
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty)
  }

  test("queries and oracleSql register the same names") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("a name registered twice fails the registry check") {
    val q = SparkEntry.specs.head
    val e = intercept[IllegalArgumentException] {
      SparkEntry.unique(Seq(q, SparkEntry.specs(1), q))
    }
    assert(e.getMessage.contains(q.name))
  }

  test("selected narrows to the listed names, in name order") {
    assert(SparkEntry.selected(None).map(_.name) === names.sorted)
    val picked = SparkEntry.selected(Some(" q02_groupby_agg,,q01_scan_filter_project "))
    assert(picked.map(_.name) === Seq("q01_scan_filter_project", "q02_groupby_agg"))
  }

  test("selected fails on an unregistered name instead of selecting nothing") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selected(Some("q01_scan_filter_project,q12_day_bucket"))
    }
    assert(e.getMessage.contains("q12_day_bucket"))
  }
}
