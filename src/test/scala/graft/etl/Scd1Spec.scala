package graft.etl

import java.sql.Timestamp
import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

class Scd1Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(rows: Seq[(String, Option[String], Option[Int])]): DataFrame =
    rows.toDF("k", "a", "b")

  test("insert / update / unchanged / delete classification") {
    val dim = df(Seq(
      ("k1", Some("x"), Some(1)),   // unchanged
      ("k2", Some("y"), Some(2)),   // updated (b changes)
      ("k3", Some("z"), Some(3)),   // deleted (absent from snapshot)
      ("k4", None, Some(4))))       // null -> value update
    val snap = df(Seq(
      ("k1", Some("x"), Some(1)),
      ("k2", Some("y"), Some(20)),
      ("k4", Some("w"), Some(4)),
      ("k5", Some("new"), None)))   // insert
    val out = Scd1.mergeTagged(dim, snap, Seq("k"), Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out == Map("k1" -> "unchanged", "k2" -> "update",
      "k4" -> "update", "k5" -> "insert"))
  }

  test("value -> null counts as a change (null-safe detection)") {
    val dim = df(Seq(("k1", Some("x"), Some(1))))
    val snap = df(Seq(("k1", None, Some(1))))
    val out = Scd1.mergeTagged(dim, snap, Seq("k"), Seq("a", "b")).collect()
    assert(out.head.getString(3) == "update")
    assert(out.head.isNullAt(1)) // snapshot value wins
  }

  test("a key-only dim (no compared columns) merges on presence alone") {
    val dim = Seq("k1", "k2").toDF("k")
    val snap = Seq("k2", "k3").toDF("k")
    val out = Scd1.mergeTagged(dim, snap, Seq("k"), Nil)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("k2" -> "unchanged", "k3" -> "insert"))
    val changed = Seq("k1", "k3").toDF("k")
      .select(Warehouse.bucketOf(Seq($"k"), 4)).distinct().collect().map(_.getInt(0)).sorted
    assert(Scd1.changedKeyBuckets(dim, snap, Seq("k"), Nil, 4, deletesVisible = true)
      .toSeq == changed.toSeq)
  }

  test("audit columns follow main.py semantics") {
    val t0 = Timestamp.valueOf("2021-03-01 00:00:00")
    val t1 = Timestamp.valueOf("2021-03-02 00:00:00")
    val run = Timestamp.valueOf("2021-03-02 23:55:00")
    val dim = Seq(
      ("k1", "v1", t0, null.asInstanceOf[Timestamp], t0),
      ("k2", "v2", t0, null.asInstanceOf[Timestamp], t0))
      .toDF("k", "a", "create_dt", "update_dt", "processed_dt")
    val snap = Seq(
      ("k1", "v1", t0, null.asInstanceOf[Timestamp]),  // unchanged
      ("k2", "v2x", t0, t1),                           // update
      ("k3", "v3", t1, null.asInstanceOf[Timestamp]))  // insert
      .toDF("k", "a", "create_dt", "update_dt")
    val out = Scd1.mergeAudit(dim, snap, Seq("k"), Seq("a"), run)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getTimestamp(2), r.getTimestamp(3), r.getTimestamp(4))).toMap
    // unchanged: dim row verbatim
    assert(out("k1") == ("v1", t0, null, t0))
    // update: attrs+update_dt from snapshot, create_dt kept, processed_dt=run
    assert(out("k2") == ("v2x", t0, t1, run))
    // insert: create_dt=coalesce(update,create), update_dt null, processed=run
    assert(out("k3") == ("v3", t1, null, run))
  }

  test("property: output keys == snapshot keys; merge is idempotent") {
    val rowGen = Gen.choose(0, 14).flatMap(k =>
      Gen.zip(Gen.const(s"k$k"), Gen.option(Gen.alphaStr.map(_.take(3))),
        Gen.option(Gen.choose(0, 3))))
    val tableGen = Gen.listOfN(12, rowGen).map(_.distinctBy(_._1))
    val prop = Prop.forAll(tableGen, tableGen) { (dimRows, snapRows) =>
      val dim = df(dimRows)
      val snap = df(snapRows)
      val merged = Scd1.merge(dim, snap, Seq("k"), Seq("a", "b"))
      val keysOk = merged.select("k").collect().map(_.getString(0)).sorted
        .sameElements(snapRows.map(_._1).sorted)
      val twice = Scd1.merge(merged, snap, Seq("k"), Seq("a", "b"))
      val idem = twice.collect().map(_.toSeq).toSet == merged.collect().map(_.toSeq).toSet
      keysOk && idem
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: incremental merge == snapshot merge plus retained deletions") {
    val run = Timestamp.valueOf("2021-03-05 23:55:00")
    def auditDf(rows: Seq[(String, Option[String], Option[Int])]): DataFrame =
      rows.map(r => (r._1, r._2, r._3,
          Timestamp.valueOf("2021-02-01 00:00:00"), None: Option[Timestamp],
          Timestamp.valueOf("2021-02-01 00:00:00")))
        .toDF("k", "a", "b", "create_dt", "update_dt", "processed_dt")
    def snapDf(rows: Seq[(String, Option[String], Option[Int])]): DataFrame =
      rows.map(r => (r._1, r._2, r._3,
          Timestamp.valueOf("2021-03-05 10:00:00"), None: Option[Timestamp]))
        .toDF("k", "a", "b", "create_dt", "update_dt")
    val rowGen = Gen.choose(0, 14).flatMap(k =>
      Gen.zip(Gen.const(s"k$k"), Gen.option(Gen.alphaStr.map(_.take(3))),
        Gen.option(Gen.choose(0, 3))))
    val tableGen = Gen.listOfN(12, rowGen).map(_.distinctBy(_._1))
    val prop = Prop.forAll(tableGen, tableGen) { (dimRows, deltaRows) =>
      val dim = auditDf(dimRows)
      val delta = snapDf(deltaRows)
      val inc = Scd1.mergeAudit(dim, delta, Seq("k"), Seq("a", "b"), run,
        deletesVisible = false)
        .collect().map(r => r.getString(0) -> r.toSeq).toMap
      val snapMerge = Scd1.mergeAudit(dim, delta, Seq("k"), Seq("a", "b"), run)
        .collect().map(r => r.getString(0) -> r.toSeq).toMap
      val deltaKeys = deltaRows.map(_._1).toSet
      val retained = auditDf(dimRows.filterNot(r => deltaKeys(r._1)))
        .collect().map(r => r.getString(0) -> r.toSeq).toMap
      // same rows as the full-snapshot merge for every delta key, plus
      // dim rows absent from the delta carried through verbatim
      inc == snapMerge ++ retained
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
