package graft.etl

import java.nio.file.Files
import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-writer semantics of `Txn.commit`: a CAS-retry MERGE over
  * the committed catalog. Disjoint-table commits both survive in any
  * interleaving; a commit whose guarded keys moved since `begin()`
  * fails loudly (first-committer-wins OCC) instead of silently
  * clobbering the other writer — and a table guards its deletion-vector
  * entry (and vice versa), because an overwrite committed over a
  * concurrent vectored delete would resurrect the deleted rows while
  * touching a different catalog KEY.
  */
class ConcurrentWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType)))

  private def freshWh() = new Warehouse(spark,
    Files.createTempDirectory("whconc").toString,
    Map("a" -> schema, "b" -> schema),
    partitionSpec = Map.empty, bucketSpec = Map.empty)

  test("interleaved commits to DISJOINT tables both survive") {
    val wh = freshWh()
    val ta = wh.begin()
    val tb = wh.begin()                       // begun BEFORE ta commits
    ta.append("a", Seq((1L, "a1")).toDF("id", "v"))
    tb.append("b", Seq((2L, "b1")).toDF("id", "v"))
    ta.commit()
    tb.commit()                               // last writer must MERGE, not reset
    assert(wh.read("a").count() == 1, "earlier disjoint commit must survive")
    assert(wh.read("b").count() == 1)
  }

  test("same-table conflict fails loudly; first committer wins") {
    val wh = freshWh()
    val t0 = wh.begin()
    t0.overwrite("a", Seq((1L, "base")).toDF("id", "v"))
    t0.commit()
    val t1 = wh.begin()
    val t2 = wh.begin()
    t1.overwrite("a", Seq((1L, "t1")).toDF("id", "v"))
    t2.overwrite("a", Seq((1L, "t2")).toDF("id", "v"))
    t1.commit()
    val e = intercept[java.util.ConcurrentModificationException](t2.commit())
    assert(e.getMessage.contains("a"))
    assert(wh.read("a").select("v").head().getString(0) == "t1",
      "first committer's image must stand")
  }

  test("overwrite over a concurrent vectored delete conflicts (no silent resurrection)") {
    val wh = freshWh()
    val t0 = wh.begin()
    t0.overwrite("a", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    t0.commit()
    // writer A snapshots, then a vectored delete commits
    val writer = wh.begin()
    val upd = writer.read("a").withColumn("v", concat(col("v"), lit("!")))
    val deleter = wh.begin()
    assert(deleter.deleteVectored("a", col("id") === 3L) == 1L)
    deleter.commit()
    // writer A's overwrite derives from its DV-free snapshot — were it
    // to commit, id=3 would resurrect though the catalog KEYS touched
    // ('a' vs '_dv_a') are different. The guard-set conflict stops it.
    writer.overwrite("a", upd)
    intercept[java.util.ConcurrentModificationException](writer.commit())
    assert(wh.read("a").count() == 9, "the delete must stand")
    // retry from a fresh snapshot sees the delete and commits cleanly
    val retry = wh.begin()
    retry.overwrite("a", retry.read("a").withColumn("v", concat(col("v"), lit("!"))))
    retry.commit()
    val got = wh.read("a").select("id").collect().map(_.getLong(0)).toSet
    assert(got == ((1L to 10L).toSet - 3L))
  }

  test("vectored delete over a concurrent overwrite conflicts too") {
    val wh = freshWh()
    val t0 = wh.begin()
    t0.overwrite("a", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"))
    t0.commit()
    val deleter = wh.begin()
    assert(deleter.deleteVectored("a", col("id") === 2L) == 1L)
    val writer = wh.begin()
    writer.overwrite("a", (1L to 5L).map(i => (i, s"w$i")).toDF("id", "v"))
    writer.commit()
    // deleter's tombstones name files the overwrite just retired —
    // committing them would delete NOTHING while claiming success
    intercept[java.util.ConcurrentModificationException](deleter.commit())
    assert(wh.read("a").count() == 5, "overwrite image intact, no phantom delete")
  }

  test("two txns that set the same transaction id: exactly one commits") {
    // disjoint tables: the id is the only key the two txns share
    val wh = freshWh()
    val t1 = wh.begin()
    val t2 = wh.begin()
    t1.append("a", Seq((1L, "a1")).toDF("id", "v")); t1.setTxnVersion("job", 1L)
    t2.append("b", Seq((2L, "b1")).toDF("id", "v")); t2.setTxnVersion("job", 1L)
    t1.commit()
    val e = intercept[java.util.ConcurrentModificationException](t2.commit())
    assert(e.getMessage.contains("job"))
    assert(wh.read("a").count() == 1 && wh.read("b").count() == 0)
    assert(wh.begin().txnVersion("job") == Some(1L))
    intercept[IllegalArgumentException](wh.begin().setTxnVersion("job", 1L))
  }

  test("simultaneous same-expected CAS: exactly one writer wins, even with a widened window") {
    // The lost-commit race MaintenanceChaosSpec caught as a flake,
    // made deterministic: two threads race commitCatalogIf from the
    // SAME expected catalog while the casBarrier seam widens the
    // compare→swap window to ~100 ms. Pre-fix (no per-root monitor)
    // both threads pass the compare and both write — the first
    // committer's entry is silently clobbered; with the monitor the
    // second compare sees the first swap and returns false.
    val dir = Files.createTempDirectory("whcas").toString
    class SlowCasWh extends Warehouse(spark, dir,
        Map("a" -> schema, "b" -> schema),
        partitionSpec = Map.empty, bucketSpec = Map.empty) {
      override protected def casBarrier(): Unit = Thread.sleep(100)
    }
    val wh = new SlowCasWh
    val expected = wh.readCatalogRaw()
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Seq("a" -> "dirA", "b" -> "dirB").map { case (tbl, d) =>
      new Thread(() => {
        if (wh.commitCatalogIf(expected, Map(tbl -> Seq(d)))) wins.incrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(wins.get() == 1,
      s"exactly one same-expected CAS may win, got ${wins.get()}")
    assert(wh.catalog().size == 1, "the loser's entries must not be visible")
  }
}
