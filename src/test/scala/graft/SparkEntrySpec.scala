package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registration sanity — guards the driver contract itself. */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracle entry points at a registered query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle SQL without a query: $dangling")
  }

  test("registered surface is non-trivial and mostly oracle-backed") {
    val n = SparkEntry.queries.size
    val o = SparkEntry.oracleSql.size
    assert(n >= 96, s"query count regressed: $n")
    assert(o >= 87, s"oracle count regressed: $o")
    assert(o * 10 >= n * 8, s"oracle share dropped below 80%: $o/$n")
  }

  test("no query name is registered by two families") {
    val names = SparkEntry.families.flatMap(_.keys)
    val dup = names.diff(names.distinct)
    assert(names.size == SparkEntry.queries.size, s"duplicate names: $dup")
  }

  test("oracle SQL is single-statement with no control characters") {
    for ((k, sql) <- SparkEntry.oracleSql) {
      assert(!sql.trim.endsWith(";"), s"$k: trailing semicolon")
      val bad = sql.filter(c => c < ' ' && c != '\n')
      assert(bad.isEmpty, s"$k: control chars ${bad.map(_.toInt)}")
    }
  }
}
