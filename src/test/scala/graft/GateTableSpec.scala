package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver gate table's wiring, checked without a Spark session: one
  * entry per name, and oracles and aux dumps that name each other. */
class GateTableSpec extends AnyFunSuite {
  private val gates = SparkEntry.gates

  test("gate names are unique and key both derived maps in one order") {
    val names = gates.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keys.toSeq == SparkEntry.queries.keys.toSeq)
  }

  test("every {AUX_DIR} read names an aux dump, and every aux dump is read") {
    val aux = SparkEntry.auxDumps.keySet
    for (g <- gates) {
      val reads = SparkEntry.auxReads(g.oracle)
      assert("\\{AUX_DIR\\}/\\w+".r.findAllMatchIn(g.oracle).size ==
        g.oracle.split("\\{AUX_DIR\\}", -1).length - 1,
        s"${g.name}: an {AUX_DIR} use that is not a /<name> read")
      assert((reads -- aux).isEmpty, s"${g.name} reads unknown aux dumps")
    }
    val read = gates.flatMap(g => SparkEntry.auxReads(g.oracle)).toSet
    assert((aux -- read).isEmpty, s"aux dumps no oracle reads: ${aux -- read}")
  }
}
