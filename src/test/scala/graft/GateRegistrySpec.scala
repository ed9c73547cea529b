package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.gates]] is the one place a gate is declared; `queries`,
  * `oracleSql` and PlanCheck's default explain list are derived from
  * it. These pin that a gate cannot lose its oracle, that a duplicate
  * name cannot silently shadow another, and that oracle text stays lazy.
  */
class GateRegistrySpec extends AnyFunSuite {

  private def noPlan(name: String, sql: => String) =
    SparkEntry.Gate(name, (s, _) => s.emptyDataFrame, sql)

  test("gate names are unique") {
    val names = SparkEntry.gates.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate gate names: $dups")
  }

  test("registry rejects a duplicate name when built") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(noPlan("qdup", "SELECT 1"), noPlan("qdup", "SELECT 2")))
    assert(e.getMessage.contains("qdup"))
  }

  test("every gate has an oracle: queries.keySet == oracleSql.keySet") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == SparkEntry.gates.size)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  test("oracle text is evaluated only on access, on every access") {
    var evals = 0
    val g = noPlan("qlazy", { evals += 1; "SELECT 1" })
    SparkEntry.registry(g)
    assert(evals == 0)
    assert(g.oracle == "SELECT 1" && g.oracle == "SELECT 1")
    assert(evals == 2)
  }
}
