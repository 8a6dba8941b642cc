package graft.etl

import java.nio.file.{Files, Paths}
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** RESTORE (roll back the whole warehouse to a retained version as a
  * NEW commit — pointer moves, history never rewinds) and zero-copy
  * CLONE (a table whose catalog entry shares the source's immutable
  * dirs; divergence is safe because commits only swap pointers).
  */
class WarehouseCloneRestoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def metaRow(s: String) =
    Seq((s, "t", None: Option[java.sql.Timestamp]))
      .toDF("schema_name", "table_name", "max_update_dt")

  private def schemaVals(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.getString(0)).toSeq.sorted

  test("restore re-commits an old catalog forward; rollback is itself versioned") {
    val wh = new Warehouse(spark, Files.createTempDirectory("whres").toString)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("good")); t1.commit()
    val t2 = wh.begin(); t2.overwrite("meta", metaRow("bad")); t2.commit()
    assert(schemaVals(wh.read("meta")) == Seq("bad"))

    wh.restore(1L)
    // the rollback is a NEW version (3), not a rewind of history
    assert(wh.versions() == Seq(1L, 2L, 3L))
    assert(schemaVals(wh.read("meta")) == Seq("good"))
    // the bad version stays auditable, and the restore is re-revertable
    assert(schemaVals(wh.readAsOf("meta", 2L)) == Seq("bad"))
    wh.restore(2L)
    assert(schemaVals(wh.read("meta")) == Seq("bad"))
  }

  test("clone shares dirs byte-for-byte; writes after the clone diverge") {
    val schemas = Schemas.tables +
      ("meta_clone" -> Schemas.tables("meta"))
    val wh = new Warehouse(spark, Files.createTempDirectory("whcl").toString,
      schemas = schemas)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("base")); t1.commit()

    wh.cloneTable("meta", "meta_clone")
    // zero-copy: the clone's catalog entry IS the source's dir list
    val cat = wh.catalog()
    assert(cat("meta_clone") == cat("meta"))
    assert(schemaVals(wh.read("meta_clone")) == Seq("base"))

    // divergence: append to the clone, overwrite the source — neither
    // sees the other's write, and the shared dir stays intact
    val t2 = wh.begin(); t2.append("meta_clone", metaRow("clone-only")); t2.commit()
    val t3 = wh.begin(); t3.overwrite("meta", metaRow("src-v2")); t3.commit()
    assert(schemaVals(wh.read("meta_clone")) == Seq("base", "clone-only"))
    assert(schemaVals(wh.read("meta")) == Seq("src-v2"))

    // vacuum counts references across tables: the original shared dir is
    // still referenced by the clone, so it survives the source overwrite
    wh.vacuum(graceMs = 0L)
    assert(schemaVals(wh.read("meta_clone")) == Seq("base", "clone-only"))
    assert(wh.catalog()("meta_clone").forall(d => Files.exists(Paths.get(d))))
  }

  test("restore rolls transaction ids back with the data; clone copies none") {
    val schemas = Schemas.tables + ("meta_clone" -> Schemas.tables("meta"))
    val wh = new Warehouse(spark, Files.createTempDirectory("whtxn").toString,
      schemas = schemas)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("v1")); t1.commit()
    Seq(1L, 2L).foreach { v =>
      val t = wh.begin(); t.overwrite("meta", metaRow(s"v${v + 1}")); t.setTxnVersion("job", v)
      t.commit()
    }
    assert(wh.begin().txnVersion("job") == Some(2L))

    wh.restore(2L)
    assert(schemaVals(wh.read("meta")) == Seq("v2"))
    assert(wh.begin().txnVersion("job") == Some(1L))
    wh.restore(1L)
    assert(schemaVals(wh.read("meta")) == Seq("v1"))
    assert(wh.begin().txnVersion("job").isEmpty)

    wh.restore(3L)
    val before = wh.catalog()
    wh.cloneTable("meta", "meta_clone")
    assert(wh.catalog().keySet -- before.keySet == Set("meta_clone", Warehouse.dvKey("meta_clone")))
    assert(wh.begin().txnVersion("job") == Some(2L))
  }

  test("clone destination must be registered with the source schema") {
    val wh = new Warehouse(spark, Files.createTempDirectory("whcl2").toString)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("x")); t1.commit()
    intercept[IllegalArgumentException](wh.cloneTable("meta", "nope"))
  }
}
