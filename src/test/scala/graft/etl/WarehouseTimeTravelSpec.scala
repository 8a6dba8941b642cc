package graft.etl

import java.nio.file.Files
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Catalog version history: every commit leaves an immutable numbered
  * snapshot; readAsOf replays any retained version; vacuum's retention
  * horizon governs how far back travel works (the Delta/Iceberg
  * contract).
  */
class WarehouseTimeTravelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def metaRow(s: String) =
    Seq((s, "t", None: Option[java.sql.Timestamp]))
      .toDF("schema_name", "table_name", "max_update_dt")

  test("readAsOf replays each commit's image; versions are monotonic") {
    val wh = new Warehouse(spark, Files.createTempDirectory("whtt").toString)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("day1")); t1.commit()
    val t2 = wh.begin(); t2.overwrite("meta", metaRow("day2")); t2.commit()
    val t3 = wh.begin(); t3.overwrite("meta", metaRow("day3")); t3.commit()
    assert(wh.versions() == Seq(1L, 2L, 3L))
    def schemaAt(v: Long) =
      wh.readAsOf("meta", v).collect().map(_.getString(0)).toSeq
    assert(schemaAt(1L) == Seq("day1"))
    assert(schemaAt(2L) == Seq("day2"))
    assert(schemaAt(3L) == Seq("day3"))
    assert(wh.read("meta").collect().map(_.getString(0)).toSeq == Seq("day3"))
  }

  test("vacuum retention: retained versions stay readable, older ones reclaim") {
    val wh = new Warehouse(spark, Files.createTempDirectory("whtt2").toString)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("v1")); t1.commit()
    val t2 = wh.begin(); t2.overwrite("meta", metaRow("v2")); t2.commit()
    val t3 = wh.begin(); t3.overwrite("meta", metaRow("v3")); t3.commit()

    // keep one historical version: v2 survives, v1 reclaims
    wh.vacuum(retainVersions = 1, graceMs = 0L)
    assert(wh.versions() == Seq(2L, 3L))
    assert(wh.readAsOf("meta", 2L).collect().map(_.getString(0)).toSeq == Seq("v2"))
    intercept[IllegalArgumentException](wh.readAsOf("meta", 1L))

    // default vacuum: only the current image survives
    wh.vacuum(graceMs = 0L)
    assert(wh.versions() == Seq(3L))
    intercept[IllegalArgumentException](wh.readAsOf("meta", 2L))
    assert(wh.read("meta").collect().map(_.getString(0)).toSeq == Seq("v3"))
  }

  test("diffVersions: insert/update/delete between snapshots; bucketed dim diffs with zero Exchange") {
    import java.sql.{Date, Timestamp}
    val feb1 = Timestamp.valueOf("2021-02-01 00:00:00")
    def clientRow(i: Int, phone: String = "+7 000") =
      (f"C$i%03d", s"Last$i", s"First$i", Some(s"Pat$i"), Date.valueOf("1980-01-01"),
        f"$i%04d 000000", Some(Date.valueOf("2030-01-01")), phone, feb1,
        None: Option[Timestamp])
    def df(rows: Seq[(String, String, String, Option[String], Date,
        String, Option[Date], String, Timestamp, Option[Timestamp])]) =
      ReplayFixtures.clientsDf(spark, rows)
        .withColumn("processed_dt", org.apache.spark.sql.functions.lit(feb1))

    val wh = new Warehouse(spark, Files.createTempDirectory("whdiff").toString)
    val t1 = wh.begin()
    t1.overwrite("dim_clients", df((1 to 40).map(clientRow(_))))
    t1.commit()
    val t2 = wh.begin()
    t2.overwrite("dim_clients", df(
      (1 to 41).filter(_ != 3).map(i => clientRow(i, if (i == 7) "+7 999" else "+7 000"))))
    t2.commit()

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diff = wh.diffVersions("dim_clients", 1L, 2L, Seq("client_id"))
      val got = diff.collect()
        .map(r => r.getString(0) -> r.getAs[String]("change_type")).toMap
      assert(got == Map("C003" -> "delete", "C007" -> "update", "C041" -> "insert"))
      val plan = diff.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed version diff must move no data:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("retained-version data dirs survive vacuum; unreferenced ones go") {
    val wh = new Warehouse(spark, Files.createTempDirectory("whtt3").toString)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("old")); t1.commit()
    val oldDirs = wh.catalog()("meta")
    val t2 = wh.begin(); t2.overwrite("meta", metaRow("new")); t2.commit()

    wh.vacuum(retainVersions = 1, graceMs = 0L) // v1 retained → its dirs must survive
    assert(oldDirs.forall(d => Files.exists(java.nio.file.Paths.get(d))),
      "dirs of a retained version must not be reclaimed")
    val removed = wh.vacuum(graceMs = 0L) // drop history → old dirs now reclaimable
    assert(removed >= 1, s"expected the v1 dir reclaimed, removed=$removed")
    assert(oldDirs.forall(d => !Files.exists(java.nio.file.Paths.get(d))))
  }

  test("a copied root is a warehouse of its own once the original is gone") {
    import java.nio.file.{Path, Paths}
    val src = Files.createTempDirectory("whtt-src")
    val wh = new Warehouse(spark, src.toString)
    val facts = (1 to 30).map(i => (s"T$i", java.sql.Timestamp.valueOf(f"2021-03-0${1 + i % 2} 10:00:00"),
        BigDecimal(i), s"K$i", "PAY", "OK", s"A$i"))
      .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type", "oper_result", "terminal")
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("v1")); t1.append("fact_transactions", facts)
    t1.commit()
    val t2 = wh.begin(); t2.overwrite("meta", metaRow("v2")); t2.commit()
    val t3 = wh.begin(); t3.overwrite("meta", metaRow("v3")); t3.commit()
    assert(!Files.readString(src.resolve("_catalog.json")).contains(src.toString),
      "the catalog must name its dirs relative to the root")

    val dst = Files.createTempDirectory("whtt-dst").resolve("copy")
    def walk(p: Path): Seq[Path] = {
      val st = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; st.iterator().asScala.toSeq } finally st.close()
    }
    walk(src).foreach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    walk(src).reverse.foreach(Files.delete)

    val copy = new Warehouse(spark, dst.toString)
    assert(copy.catalog().values.flatten.forall(_.startsWith(dst.toString)))
    assert(copy.read("meta").collect().map(_.getString(0)).toSeq == Seq("v3"))
    assert(copy.readAsOf("meta", 2L).collect().map(_.getString(0)).toSeq == Seq("v2"))
    assert(copy.read("fact_transactions").count() == 30)
    // only the two retired meta dirs are unreferenced
    assert(copy.vacuum(graceMs = 0L) == 2)
    assert(copy.catalog().values.flatten.forall(d => Files.isDirectory(Paths.get(d))))
    assert(copy.read("meta").collect().map(_.getString(0)).toSeq == Seq("v3"))
    assert(copy.read("fact_transactions").count() == 30)
  }

  test("a catalog naming its dirs by absolute path still reads") {
    val root = Files.createTempDirectory("whtt-abs")
    val wh = new Warehouse(spark, root.toString)
    val t1 = wh.begin(); t1.overwrite("meta", metaRow("abs")); t1.commit()
    val dir = wh.catalog()("meta").head
    assert(dir.startsWith(root.toString))
    Files.writeString(root.resolve("_catalog.json"), s"""{\n  "meta": ["$dir"]\n}""")
    assert(wh.catalog() == Map("meta" -> Seq(dir)))
    assert(wh.read("meta").collect().map(_.getString(0)).toSeq == Seq("abs"))
    assert(wh.vacuum(graceMs = 0L) == 0)
    assert(wh.read("meta").collect().map(_.getString(0)).toSeq == Seq("abs"))
  }
}
