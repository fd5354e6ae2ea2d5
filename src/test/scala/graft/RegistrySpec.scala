package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the one query registry, `SparkEntry.declared`. */
class RegistrySpec extends AnyFunSuite {

  test("255 uniquely named queries, and every oracle names one of them") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.size == 255 && names.distinct.size == 255)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("only the two media queries are rows-only, each by an explicit None") {
    assert(SparkEntry.declared.filter(_.oracleSql.isEmpty).map(_.name).toSet ==
      Set("x_mm_audio_stats", "x_mm_phash_dedup"))
  }

  test("a name declared twice is rejected with the name in the error") {
    val d = SparkEntry.declared.head
    val e = intercept[IllegalArgumentException](SparkEntry.unique(Seq(d, d.copy(oracleSql = None))))
    assert(e.getMessage.contains(d.name), e.getMessage)
  }

  test("builders are the defining modules' own function values") {
    // perfbench attributes a query to a module by its builder's class name
    SparkEntry.declared.foreach { d =>
      val cls = d.build.getClass.getName
      assert(cls.startsWith("graft.") && !cls.startsWith("graft.SparkEntry"), s"${d.name}: $cls")
    }
  }
}
