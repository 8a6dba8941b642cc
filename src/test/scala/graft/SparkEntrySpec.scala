package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver inventory is the union of the query groups: a name two
  * groups define would let the later group's entry silently replace the
  * earlier one, so that query and its oracle never run.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("no query or oracle name is defined by two groups") {
    def twice(maps: Seq[Set[String]]): Set[String] =
      maps.flatten.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }.toSet
    assert(twice(SparkEntry.groups.map(_._1.keySet)).isEmpty)
    assert(twice(SparkEntry.groups.map(_._2.keySet)).isEmpty)
    assert(SparkEntry.queries.size == SparkEntry.groups.map(_._1.size).sum)
    assert(SparkEntry.oracleSql.size == SparkEntry.groups.map(_._2.size).sum)
  }
}
