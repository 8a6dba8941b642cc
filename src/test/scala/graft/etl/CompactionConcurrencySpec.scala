package graft.etl

import java.nio.file.Files
import graft.TestSpark
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Compaction vs concurrent vectored deletes. A `deleteVectored` is a
  * NORMAL writer (GDPR erasure), not the single maintenance writer the
  * compaction CAS's append-merge logic assumes — and its tombstones name
  * (file, position) pairs of the very dirs a racing compaction is about
  * to retire. If the compaction commits anyway, the tombstones match
  * nothing and the deleted rows RESURRECT in the merged dir. The CAS
  * loop therefore treats any DV-entry movement since the rewrite's
  * snapshot as staleness: the merged dir is abandoned (vacuum reclaims
  * it) and the rewrite re-runs against the current DV set.
  *
  * The race window is injected deterministically via the
  * `compactionBarrier()` test seam (between the rewrite write and the
  * CAS loop — exactly where a real concurrent commit would land).
  */
class CompactionConcurrencySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private class BarrierWarehouse(root: String, tables: Map[String, StructType])(
      hook: Warehouse => Unit)
    extends Warehouse(TestSpark.spark, root, schemas = tables,
      partitionSpec = Map.empty, bucketSpec = Map.empty) {
    var fired = 0
    override protected def compactionBarrier(): Unit =
      if (fired == 0) { fired += 1; hook(this) }
  }

  private val schemaT = new StructType().add("id", "long").add("v", "string")

  test("compactOldest re-runs when a vectored delete lands mid-merge (no resurrection)") {
    import spark.implicits._
    val wh = new BarrierWarehouse(
      Files.createTempDirectory("wh-cc-oldest").toString, Map("t" -> schemaT))({ w =>
      val t = w.begin()
      assert(t.deleteVectored("t", col("id") === 3L) == 1L)
      t.commit()
    })
    (1L to 6L).foreach { i =>
      val t = wh.begin()
      t.append("t", Seq((i, s"a$i")).toDF("id", "v"))
      t.commit()
    }
    wh.compactOldest("t", keep = 2)
    assert(wh.fired == 1, "the concurrent delete must have fired inside the race window")
    val got = wh.read("t").select("id").collect().map(_.getLong(0)).toSet
    assert(!got.contains(3L),
      "a delete committed during the merge must NOT resurrect in the merged dir")
    assert(got == ((1L to 6L).toSet - 3L))
    assert(wh.catalog()("t").length == 3, "merge must still land (1 merged + 2 kept)")
  }

  test("compactZOrdered abandons the stale rewrite and folds the concurrent delete in") {
    import spark.implicits._
    val schemaM = new StructType().add("a", "int").add("b", "int")
    val wh = new BarrierWarehouse(
      Files.createTempDirectory("wh-cc-zorder").toString, Map("m" -> schemaM))({ w =>
      val t = w.begin()
      assert(t.deleteVectored("m", col("a") === 5) == 1L)
      t.commit()
    })
    val t0 = wh.begin()
    t0.overwrite("m", (1 to 64).map(i => (i, i * 7 % 64)).toDF("a", "b"))
    t0.commit()
    wh.compactZOrdered("m", "a", "b", files = 4, bits = 8)
    assert(wh.fired == 1)
    val got = wh.read("m").select("a").collect().map(_.getInt(0)).toSet
    assert(!got.contains(5), "delete during z-order rewrite must survive the compaction")
    assert(got == ((1 to 64).toSet - 5))
    assert(wh.catalog()("m").length == 1, "z-order compaction must still land")
    assert(wh.catalog().getOrElse(Warehouse.dvKey("m"), Nil).isEmpty,
      "the re-run rewrite materializes the tombstones — DV entry consumed")
  }

  test("compactOldest abandons when a concurrent OVERWRITE retires the merged dirs") {
    // the non-DV staleness case: an overwrite (or deleteWhere full
    // rewrite) REPLACES the table's dirs during the merge write. The
    // former filterNot-only logic would have committed the merged dir
    // alongside the overwrite's image — resurrecting every replaced row
    // and double-counting the table. Any merged-away dir missing from
    // the re-read catalog must abandon the compaction instead.
    import spark.implicits._
    val wh = new BarrierWarehouse(
      Files.createTempDirectory("wh-cc-ovw").toString, Map("t" -> schemaT))({ w =>
      val t = w.begin()
      t.overwrite("t", Seq((100L, "fresh")).toDF("id", "v"))
      t.commit()
    })
    (1L to 6L).foreach { i =>
      val t = wh.begin()
      t.append("t", Seq((i, s"a$i")).toDF("id", "v"))
      t.commit()
    }
    wh.compactOldest("t", keep = 2)
    assert(wh.fired == 1, "the concurrent overwrite must have fired inside the race window")
    val got = wh.read("t").select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(100L),
      s"pre-overwrite rows must NOT resurrect from the abandoned merge dir: $got")
    assert(wh.catalog()("t").length == 1, "only the overwrite image stays referenced")
  }

  test("compactOldest still commits across a concurrent APPEND (append-tolerance kept)") {
    import spark.implicits._
    val wh = new BarrierWarehouse(
      Files.createTempDirectory("wh-cc-app").toString, Map("t" -> schemaT))({ w =>
      val t = w.begin()
      t.append("t", Seq((7L, "a7")).toDF("id", "v"))
      t.commit()
    })
    (1L to 6L).foreach { i =>
      val t = wh.begin()
      t.append("t", Seq((i, s"a$i")).toDF("id", "v"))
      t.commit()
    }
    wh.compactOldest("t", keep = 2)
    assert(wh.fired == 1)
    assert(wh.read("t").select("id").collect().map(_.getLong(0)).toSet == (1L to 7L).toSet,
      "appended dir survives AND the merge lands")
    assert(wh.catalog()("t").length == 4, "1 merged + 2 kept + 1 appended")
  }

  test("a DV compaction whose DV dirs a concurrent overwrite retired publishes nothing") {
    import spark.implicits._
    val wh = new BarrierWarehouse(
      Files.createTempDirectory("wh-cc-dv").toString, Map("t" -> schemaT))({ w =>
      val t = w.begin()
      t.overwrite("t", Seq((100L, "fresh")).toDF("id", "v"))
      t.commit()
    })
    val t0 = wh.begin()
    t0.overwrite("t", (1L to 6L).map(i => (i, s"a$i")).toDF("id", "v"))
    t0.commit()
    Seq(2L, 4L).foreach { i =>
      val t = wh.begin()
      assert(t.deleteVectored("t", col("id") === i) == 1L)
      t.commit()
    }
    assert(wh.catalog()(Warehouse.dvKey("t")).length == 2)
    wh.compactDvKey(Warehouse.dvKey("t"))
    assert(wh.fired == 1, "the concurrent overwrite must have fired inside the race window")
    assert(wh.catalog().getOrElse(Warehouse.dvKey("t"), Nil).isEmpty,
      "the overwrite cleared the tombstones; the merged DV dir must not re-publish them")
    assert(wh.read("t").as[(Long, String)].collect().toSet == Set((100L, "fresh")))
  }

  test("compactOldest(keep = 0) consumes the DV entry like compactZOrdered") {
    import spark.implicits._
    val wh = new BarrierWarehouse(
      Files.createTempDirectory("wh-cc-keep0").toString, Map("t" -> schemaT))(_ => ())
    (1L to 4L).foreach { i =>
      val t = wh.begin()
      t.append("t", Seq((i, s"a$i")).toDF("id", "v"))
      t.commit()
    }
    val t1 = wh.begin()
    assert(t1.deleteVectored("t", col("id") === 3L) == 1L)
    t1.commit()
    wh.compactOldest("t", keep = 0)
    assert(wh.fired == 1)
    assert(wh.catalog()("t").length == 1, "every dir merges into one")
    assert(wh.catalog().getOrElse(Warehouse.dvKey("t"), Nil).isEmpty,
      "the rewrite applied every tombstone — DV entry consumed")
    assert(wh.read("t").select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
  }

  test("without contention both compactions commit first pass (no behavior change)") {
    import spark.implicits._
    val wh = new BarrierWarehouse(
      Files.createTempDirectory("wh-cc-clean").toString, Map("t" -> schemaT))(_ => ())
    (1L to 5L).foreach { i =>
      val t = wh.begin()
      t.append("t", Seq((i, s"a$i")).toDF("id", "v"))
      t.commit()
    }
    wh.compactOldest("t", keep = 1)
    assert(wh.catalog()("t").length == 2)
    assert(wh.read("t").count() == 5)
  }
}
