package graft.etl

import java.nio.file.Files
import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class WarehouseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshWh() =
    new Warehouse(spark, Files.createTempDirectory("wh").toString)

  test("uncommitted writes are invisible; commit is all-or-nothing") {
    val wh = freshWh()
    val txn = wh.begin()
    txn.overwrite("meta", Seq(("s", "t", None: Option[java.sql.Timestamp]))
      .toDF("schema_name", "table_name", "max_update_dt"))
    assert(wh.read("meta").count() == 0) // not visible yet
    assert(txn.read("meta").count() == 1) // txn sees its own write
    txn.commit()
    assert(wh.read("meta").count() == 1)
  }

  test("append never rewrites existing data dirs") {
    val wh = freshWh()
    val t1 = wh.begin()
    t1.append("rep_fraud", wh.emptyDf("rep_fraud").limit(0))
    t1.commit()
    val dirsBefore = wh.catalog()("rep_fraud")
    val t2 = wh.begin()
    t2.append("rep_fraud", wh.emptyDf("rep_fraud").limit(0))
    t2.commit()
    val dirsAfter = wh.catalog()("rep_fraud")
    assert(dirsAfter.startsWith(dirsBefore)) // old dirs untouched, one added
    assert(dirsAfter.length == dirsBefore.length + 1)
  }

  test("abandoned transaction leaves no visible state; vacuum reclaims its dirs") {
    val wh = freshWh()
    val t0 = wh.begin()
    t0.overwrite("meta", Seq(("keep", "t", None: Option[java.sql.Timestamp]))
      .toDF("schema_name", "table_name", "max_update_dt"))
    t0.commit()

    // a run that dies mid-way: data dirs written, commit never reached
    val crash = wh.begin()
    crash.overwrite("meta", Seq(("lost", "t", None: Option[java.sql.Timestamp]))
      .toDF("schema_name", "table_name", "max_update_dt"))
    crash.append("rep_fraud", wh.emptyDf("rep_fraud"))
    // no commit — the JVM "crashed" here

    assert(wh.read("meta").collect().map(_.getString(0)).toSeq == Seq("keep"),
      "uncommitted overwrite must stay invisible")
    assert(wh.read("rep_fraud").count() == 0)
    // the DEFAULT grace protects these same dirs: they are fresh, so an
    // in-flight writer about to commit them must not lose them — vacuum
    // skips anything younger than the window
    assert(wh.vacuum() == 0,
      "default grace must keep freshly-written unreferenced dirs (in-flight writers)")
    assert(wh.vacuum(graceMs = 0L) == 2, "both orphaned dirs reclaimed")
    // committed state still reads fine after the cleanup
    assert(wh.read("meta").head().getString(0) == "keep")
  }

  test("auto-compaction bounds append-dir growth, keeps recent dirs in place") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-ac").toString,
      autoCompactThreshold = 6) // auto keep = 6/4 = 1 recent dir
    def appendRow(i: Int): Unit = {
      val t = wh.begin()
      t.append("meta", Seq((s"s$i", s"t$i", None: Option[java.sql.Timestamp]))
        .toDF("schema_name", "table_name", "max_update_dt"))
      t.commit()
    }
    (1 to 6).foreach(appendRow)
    assert(wh.catalog()("meta").length == 6) // at threshold: untouched
    val lastBefore = wh.catalog()("meta").last
    appendRow(7) // crosses threshold -> oldest 6 dirs merge into one
    val dirs = wh.catalog()("meta")
    assert(dirs.length == 2, s"expected merged prefix + newest dir, got $dirs")
    // content survives the merge intact
    assert(wh.read("meta").collect().map(_.getString(0)).sorted.toSeq ==
      (1 to 7).map(i => s"s$i"))
    // the newest dir was referenced, not rewritten
    assert(dirs.last != lastBefore) // dir 7 is newer than the pre-append tail
    assert(wh.vacuum(graceMs = 0L) == 6) // the six merged dirs were retired
  }

  test("overwrite retires dirs; vacuum reclaims them") {
    val wh = freshWh()
    val t1 = wh.begin()
    t1.overwrite("meta", Seq(("a", "b", None: Option[java.sql.Timestamp]))
      .toDF("schema_name", "table_name", "max_update_dt"))
    t1.commit()
    val t2 = wh.begin()
    t2.overwrite("meta", Seq(("c", "d", None: Option[java.sql.Timestamp]))
      .toDF("schema_name", "table_name", "max_update_dt"))
    t2.commit()
    assert(wh.vacuum(graceMs = 0L) == 1) // the first meta dir was orphaned
    assert(wh.read("meta").head.getString(0) == "c") // survivor intact
  }

  test("transaction ids are no dirs: vacuum removes the same dir count with them") {
    def vacuumed(withIds: Boolean): Int = {
      val wh = freshWh()
      Seq("a", "c").zipWithIndex.foreach { case (v, i) =>
        val t = wh.begin()
        t.overwrite("meta", Seq((v, "b", None: Option[java.sql.Timestamp]))
          .toDF("schema_name", "table_name", "max_update_dt"))
        if (withIds) t.setTxnVersion("job", i.toLong)
        t.commit()
      }
      wh.vacuum(graceMs = 0L)
    }
    assert(vacuumed(withIds = true) == 1)
    assert(vacuumed(withIds = false) == 1)
  }

  test("fact appends land date-partitioned; date filters prune partitions") {
    val wh = freshWh()
    val txn = wh.begin()
    val rows = Seq(
      ("t1", java.sql.Timestamp.valueOf("2021-03-01 10:00:00"), BigDecimal(1), "c", "P", "S", "T1"),
      ("t2", java.sql.Timestamp.valueOf("2021-03-02 11:00:00"), BigDecimal(2), "c", "P", "S", "T1"))
      .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type", "oper_result", "terminal")
    txn.append("fact_transactions", rows)
    txn.commit()
    // physical layout: trans_dt=... partition dirs inside the data dir
    val dataDir = wh.catalog()("fact_transactions").head
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(dataDir))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("trans_dt=")).toSeq
    assert(parts.sorted == Seq("trans_dt=2021-03-01", "trans_dt=2021-03-02"))
    // declared-schema read drops the partition column
    assert(wh.read("fact_transactions").columns.toSeq ==
      graft.etl.Schemas.transactions.fieldNames.toSeq)
    // raw read exposes it and a date filter becomes a PartitionFilter
    val plan = wh.readRaw("fact_transactions")
      .filter(col("trans_dt") === "2021-03-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("trans_dt"))
    assert(wh.readRaw("fact_transactions")
      .filter(col("trans_dt") === "2021-03-01").count() == 1)
  }

  test("compact merges append dirs into one; data unchanged") {
    val wh = freshWh()
    (1 to 3).foreach { i =>
      val t = wh.begin()
      t.append("meta", Seq((s"s$i", s"t$i", None: Option[java.sql.Timestamp]))
        .toDF("schema_name", "table_name", "max_update_dt"))
      t.commit()
    }
    assert(wh.catalog()("meta").length == 3)
    val before = wh.read("meta").collect().map(_.toSeq).toSet
    wh.compact("meta")
    assert(wh.catalog()("meta").length == 1)
    assert(wh.read("meta").collect().map(_.toSeq).toSet == before)
    assert(wh.vacuum(graceMs = 0L) == 3) // the three retired append dirs
  }

  test("positional schema-fit renames and casts incoming columns") {
    val wh = freshWh()
    val txn = wh.begin()
    // wrong names, string timestamps — align() must fix both by position
    txn.overwrite("meta", Seq(("x", "y", "2021-03-01 00:00:00"))
      .toDF("c1", "c2", "c3"))
    txn.commit()
    val row = wh.read("meta").head
    assert(row.getString(0) == "x")
    assert(row.getTimestamp(2).toString == "2021-03-01 00:00:00.0")
  }
}
