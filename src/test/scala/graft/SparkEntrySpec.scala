package graft

/** The driver-contract maps are disjoint unions of the module maps: no
  * module's key may shadow another's. */
class SparkEntrySpec extends SparkSpec {

  test("query and oracle key counts add up across modules") {
    assert(SparkEntry.queries.size == SparkEntry.modules.map(_._1.size).sum)
    assert(SparkEntry.oracleSql.size == SparkEntry.modules.map(_._2.size).sum)
  }

  test("a key defined by two modules fails loudly instead of shadowing") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.disjointUnion(Seq(Map("a" -> 1, "b" -> 2), Map("b" -> 3)),
        "query")
    }
    assert(e.getMessage.contains("b"))
    assert(SparkEntry.disjointUnion(Seq(Map("a" -> 1), Map("b" -> 2)), "query")
      == Map("a" -> 1, "b" -> 2))
  }
}
