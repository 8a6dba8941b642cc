package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ChangeFeed.diff: Delta-CDF-style classification from one full-outer
  * key join — null-safe value compare, presence by marker (not
  * value-null), pre/post pair for updates, and the time-travel form
  * over committed warehouse versions.
  */
class ChangeFeedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def img(rows: Seq[(Long, Option[String], Option[Double])]) =
    rows.toDF("k", "name", "bal")

  test("insert / delete / update classification, null-safe") {
    val old = img(Seq(
      (1L, Some("a"), Some(1.0)), // unchanged
      (2L, Some("b"), Some(2.0)), // deleted
      (3L, Some("c"), Some(3.0)), // value change
      (4L, None, Some(4.0)), // null -> value (change)
      (5L, Some("e"), None))) // all-null-to-same (unchanged)
    val nw = img(Seq(
      (1L, Some("a"), Some(1.0)),
      (3L, Some("c"), Some(3.5)),
      (4L, Some("d"), Some(4.0)),
      (5L, Some("e"), None),
      (6L, Some("f"), Some(6.0)))) // inserted
    val out = ChangeFeed.diff(old, nw, Seq("k"))
      .orderBy("k", "change_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // NB: "update_post" sorts before "update_pre" lexicographically
    assert(out == Seq(
      ("delete", 2L),
      ("update_post", 3L), ("update_pre", 3L),
      ("update_post", 4L), ("update_pre", 4L),
      ("insert", 6L)))
    // the update pair carries pre and post values respectively
    val u3 = ChangeFeed.diff(old, nw, Seq("k"))
      .filter($"k" === 3L).orderBy("change_type")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(u3.toSeq == Seq(("update_post", 3.5), ("update_pre", 3.0)))
  }

  test("a row whose every value column is null is present, not deleted") {
    val old = img(Seq((1L, None, None)))
    val nw = img(Seq((1L, None, None)))
    assert(ChangeFeed.diff(old, nw, Seq("k")).isEmpty)
  }

  test("mismatched schemas, bad keys, and reserved column names are rejected") {
    val a = img(Seq((1L, Some("a"), Some(1.0))))
    intercept[IllegalArgumentException] {
      ChangeFeed.diff(a, a.withColumnRenamed("bal", "x"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      ChangeFeed.diff(a, a, Seq("nope"))
    }
    // a column named like the diff's own output would be silently
    // clobbered by the classification projection — refused loudly
    val b = a.withColumnRenamed("bal", "change_type")
    intercept[IllegalArgumentException] {
      ChangeFeed.diff(b, b, Seq("k"))
    }
  }

  test("key-only tables diff on presence: pure insert/delete feed") {
    import spark.implicits._
    val old = Seq(1L, 2L, 3L).toDF("k")
    val nw = Seq(2L, 3L, 4L).toDF("k")
    val out = ChangeFeed.diff(old, nw, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("delete", 1L), ("insert", 4L)))
    val rebuilt = ChangeFeed.applyChanges(old,
      ChangeFeed.diff(old, nw, Seq("k")), Seq("k"))
      .collect().map(_.getLong(0)).toSet
    assert(rebuilt == Set(2L, 3L, 4L))
  }

  test("tableChangesPruned: skips hard-linked (unchanged) bucket files, " +
      "same answer as the full diff, strictly fewer files scanned") {
    val base = img((1L to 64L).map(i => (i, Some(s"n$i"), Some(i.toDouble))))
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-cdfprune").toString,
      Map("t" -> base.schema), partitionSpec = Map.empty,
      bucketSpec = Map("t" -> ("k", 8)))
    val t0 = wh.begin(); t0.overwrite("t", base); t0.commit()
    val vA = wh.versions().last

    // churn: update k=5, delete k=7, insert k=900 — a few buckets touched
    val snapshot = img((1L to 64L).filter(_ != 7L)
      .map(i => (i, Some(s"n$i"), Some(if (i == 5L) 99.0 else i.toDouble)))
      :+ ((900L, Some("n900"), Some(900.0))))
    val touched = Scd1.changedKeyBuckets(wh.read("t"), snapshot, Seq("k"),
      Seq("name", "bal"), nBuckets = 8, deletesVisible = true)
    assert(touched.nonEmpty && touched.length < 8, "churn should touch a strict subset")
    val t1 = wh.begin()
    t1.overwriteBuckets("t",
      snapshot.filter(Warehouse.bucketOf(Seq(col("k")), 8).isin(touched.toSeq: _*)), touched.toSeq)
    t1.commit()
    val vB = wh.versions().last

    val full = ChangeFeed.tableChanges(wh, "t", vA, vB, Seq("k"))
    val pruned = ChangeFeed.tableChangesPruned(wh, "t", vA, vB, Seq("k"))
    assert(pruned.collect().map(_.toSeq).toSet == full.collect().map(_.toSeq).toSet)
    assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("update_pre", 5L), ("update_post", 5L), ("delete", 7L), ("insert", 900L)))
    val fullFiles = full.inputFiles.length
    val prunedFiles = pruned.inputFiles.length
    assert(prunedFiles < fullFiles,
      s"pruning should scan fewer files: $prunedFiles vs $fullFiles")

    // deletion vectors mask rows without changing files — the pruned
    // path must fall back to the full diff and still see the delete
    val t2 = wh.begin()
    t2.deleteVectored("t", $"k" === 2L)
    t2.commit()
    val vC = wh.versions().last
    val dvDiff = ChangeFeed.tableChangesPruned(wh, "t", vB, vC, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dvDiff == Set(("delete", 2L)))
  }

  test("tableChanges diffs two committed versions via time travel") {
    val base = img(Seq((1L, Some("a"), Some(1.0)), (2L, Some("b"), Some(2.0))))
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-cdfspec").toString,
      Map("t" -> base.schema), partitionSpec = Map.empty,
      bucketSpec = Map("t" -> ("k", 4)))
    val t0 = wh.begin(); t0.overwrite("t", base); t0.commit()
    val vA = wh.versions().last
    val t1 = wh.begin()
    t1.overwrite("t", img(Seq((1L, Some("a"), Some(9.0)), (3L, Some("c"), Some(3.0)))))
    t1.commit()
    val out = ChangeFeed.tableChanges(wh, "t", vA, wh.versions().last, Seq("k"))
      .orderBy("k", "change_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(
      ("update_post", 1L), ("update_pre", 1L),
      ("delete", 2L),
      ("insert", 3L)))
  }
}
