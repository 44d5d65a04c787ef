package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the query registry (`SparkEntry.entries`) that no
  * single entry can check for itself.
  */
class RegistrySpec extends AnyFunSuite {
  private val entries = SparkEntry.entries

  test("entry names are unique") {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: ${dups.mkString(", ")}")
  }

  test("gate entries (q*) carry an oracle, bench-only twins (b*) do not") {
    val bad = entries.filterNot(e => e.oracle.isDefined == e.name.startsWith("q"))
    assert(bad.isEmpty, s"oracle/name mismatch: ${bad.map(_.name).mkString(", ")}")
    assert(entries.count(_.oracle.isDefined) == 246)
    assert(entries.count(_.oracle.isEmpty) == 17)
  }

  test("the by-name views hold exactly the gate entries") {
    val gates = entries.filter(_.oracle.isDefined)
    assert(SparkEntry.queries.keySet == gates.map(_.name).toSet)
    assert(SparkEntry.oracleSql == gates.map(e => e.name -> e.oracle.get).toMap)
    assert(gates.forall(e => SparkEntry.queries(e.name) eq e.build))
  }
}
