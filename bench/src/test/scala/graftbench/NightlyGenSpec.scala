package graftbench

import org.scalatest.funsuite.AnyFunSuite

class NightlyGenSpec extends AnyFunSuite {
  private val small = NightlyScale(clients = 50, accounts = 60, cards = 70, terminals = 12,
    transPerNight = 200, inserts = 2, updates = 3, deletes = 1, terminalChurn = 1,
    blacklistPerNight = 2, redrop = 0.1)

  private def nights(seed: Long, n: Int): Seq[NightInputs] = {
    val g = new NightlyGen(seed, small)
    (0 until n).map(_ => g.next())
  }

  test("the same seed gives byte-identical inputs") {
    val a = nights(7, 3)
    val b = nights(7, 3)
    assert(NightlyGen.digest(a) == NightlyGen.digest(b))
    a.zip(b).foreach { case (x, y) =>
      assert(x.files.map(_._1) == y.files.map(_._1))
      x.files.zip(y.files).foreach { case ((_, bx), (_, by)) => assert(bx.sameElements(by)) }
    }
  }

  test("another seed gives other inputs") {
    assert(NightlyGen.digest(nights(7, 2)) != NightlyGen.digest(nights(8, 2)))
  }

  test("drop files are named as the drop folder routes them") {
    val files = nights(1, 2).last.files.map(_._1)
    assert(files.map(graft.sources.DropFolder.route).forall(_.isDefined))
    assert(files.map(graft.sources.DropFolder.fileDate).toSet ==
      Set(java.time.LocalDate.of(2021, 3, 2)))
  }

  test("later nights re-drop a slice of yesterday's transactions") {
    val Seq(n0, n1) = nights(3, 2)
    val csv1 = new String(n1.files.find(_._1.startsWith("transactions")).get._2, "UTF-8")
    val ids1 = csv1.linesIterator.drop(1).map(_.takeWhile(_ != ';')).toSeq
    assert(ids1.count(n0.transIds.toSet) == (small.transPerNight * small.redrop).toInt)
    assert(n1.transIds.toSet.intersect(n0.transIds.toSet).isEmpty)
  }
}
