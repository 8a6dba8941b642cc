package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import graft.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A partitioned table with many append dirs (the fact table after a
  * few nights) reads as ONE file scan over all of them, with the same
  * rows as one scan per dir unioned, and keeps partition pruning.
  */
class WarehouseMultiDirReadSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val Fact = "fact_transactions"

  /** Rows `ids`, spread round-robin over the March `days`. */
  private def batch(ids: Range, days: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => (s"T$i", Timestamp.valueOf(f"2021-03-0${days(i % days.length)} 10:00:00"),
        BigDecimal(i), s"K$i", "PAY", "OK", s"A$i"))
      .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type",
        "oper_result", "terminal")
  }

  /** Three nightly appends: days {1,2}, {2,3}, {3} — 150 rows. */
  private def threeDirWh(root: String): Warehouse = {
    val wh = new Warehouse(spark, root)
    Seq((1 to 60, Seq(1, 2)), (61 to 120, Seq(2, 3)), (121 to 150, Seq(3))).foreach {
      case (ids, days) =>
        val t = wh.begin()
        t.append(Fact, batch(ids, days))
        t.commit()
    }
    assert(wh.catalog()(Fact).length == 3)
    wh
  }

  /** The reader this one scan replaces: one scan per dir, unioned. */
  private def perDirUnion(wh: Warehouse, dirs: Seq[String]): DataFrame = {
    val schema = wh.schemas(Fact)
    dirs.map(d => spark.read.schema(schema).parquet(d)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*))
      .reduce(_ unionByName _)
  }

  private def factScans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(s"/data/$Fact/")) => s
    }

  private def assertOneScan(df: DataFrame): Unit = {
    assert(factScans(df).size == 1, s"expected one fact scan:\n${df.queryExecution.sparkPlan}")
    assert(df.queryExecution.sparkPlan.collect { case u: UnionExec => u }.isEmpty,
      s"expected no union:\n${df.queryExecution.sparkPlan}")
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a 3-dir partitioned+bucketed fact reads as one file scan with the per-dir union's rows") {
    val wh = threeDirWh(Files.createTempDirectory("wh-multidir").toString)
    val dirs = wh.catalog()(Fact)
    val read = wh.read(Fact)
    assertOneScan(read)
    assert(factScans(read).head.relation.location.rootPaths.size == 3)
    assert(read.columns.toSeq == wh.schemas(Fact).fieldNames.toSeq)
    assertSameRows(read, perDirUnion(wh, dirs))
    assert(read.count() == 150)

    val raw = wh.readRaw(Fact)
    assertOneScan(raw)
    assert(raw.schema("trans_dt").dataType == org.apache.spark.sql.types.DateType)
    assertSameRows(raw.drop("trans_dt"), perDirUnion(wh, dirs))
    assert(raw.filter(col("trans_dt") =!= to_date(col("trans_date"))).isEmpty)
  }

  test("an empty append dir, with no partition subdirs, reads alongside the others") {
    val wh = threeDirWh(Files.createTempDirectory("wh-multidir-empty").toString)
    val t = wh.begin()
    t.append(Fact, wh.emptyDf(Fact))
    t.commit()
    val dirs = wh.catalog()(Fact)
    assert(dirs.length == 4)
    assert(Warehouse.listDir(Paths.get(dirs.last))
      .forall(!_.getFileName.toString.startsWith("trans_dt=")),
      "the empty append should leave no partition subdir")
    val read = wh.read(Fact)
    assertOneScan(read)
    assertSameRows(read, perDirUnion(wh, dirs.init))
    val raw = wh.readRaw(Fact)
    assertOneScan(raw)
    val day3 = lit("2021-03-03").cast("date")
    assert(raw.filter(col("trans_dt") === day3).count() ==
      perDirUnion(wh, dirs.init).filter(to_date(col("trans_date")) === day3).count())
  }

  test("a data dir missing from disk fails the read, naming the dir") {
    // the fact (partitioned) and a dim (unpartitioned): the root listing
    // of a missing dir is empty, which must not read as an empty table
    import spark.implicits._
    val wh = threeDirWh(Files.createTempDirectory("wh-multidir-missing").toString)
    val t = wh.begin()
    t.overwrite("dim_cards", Seq(("K1", "A1", Timestamp.valueOf("2021-02-01 00:00:00"),
        None: Option[Timestamp], Timestamp.valueOf("2021-03-01 00:00:00")))
      .toDF("card_num", "account_num", "create_dt", "update_dt", "processed_dt"))
    t.commit()
    Seq(Fact -> wh.catalog()(Fact)(1), "dim_cards" -> wh.catalog()("dim_cards").head).foreach {
      case (table, gone) =>
        Warehouse.deleteRecursively(Paths.get(gone))
        val e = intercept[IllegalArgumentException](wh.read(table).collect())
        assert(e.getMessage.contains(gone), e.getMessage)
    }
  }

  test("outstanding deletion vectors apply to the one multi-dir scan") {
    val wh = threeDirWh(Files.createTempDirectory("wh-multidir-dv").toString)
    val dirs = wh.catalog()(Fact)
    val gone = Seq("T5", "T70", "T130") // one row in each dir
    val t = wh.begin()
    assert(t.deleteVectored(Fact, col("trans_id").isin(gone: _*)) == 3L)
    t.commit()
    val want = perDirUnion(wh, dirs).filter(!col("trans_id").isin(gone: _*))
    val read = wh.read(Fact)
    assertOneScan(read)
    assertSameRows(read, want)
    val raw = wh.readRaw(Fact)
    assertOneScan(raw)
    assertSameRows(raw.drop("trans_dt"), want)
    // a further vectored delete reads through the same scan
    val t2 = wh.begin()
    assert(t2.deleteVectored(Fact, col("trans_id") === "T6") == 1L)
    t2.commit()
    assert(wh.read(Fact).count() == 146)
  }

  test("a copied root reads its own dirs as one scan, deletion vectors included") {
    val src = Files.createTempDirectory("wh-multidir-src")
    val wh = threeDirWh(src.toString)
    val t = wh.begin()
    assert(t.deleteVectored(Fact, col("trans_id").isin("T5", "T130")) == 2L)
    t.commit()
    val want = wh.read(Fact).collect().map(_.toSeq).toSeq

    val dst = Files.createTempDirectory("wh-multidir-dst").resolve("copy")
    def walk(p: Path): Seq[Path] = {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq finally st.close()
    }
    walk(src).foreach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    walk(src).reverse.foreach(Files.delete)

    val copy = new Warehouse(spark, dst.toString)
    val read = copy.read(Fact)
    assertOneScan(read)
    assert(factScans(read).head.relation.location.rootPaths
      .forall(_.toUri.getPath.startsWith(dst.toString)))
    assert(read.collect().map(_.toSeq).toSeq.sortBy(_.head.toString) ==
      want.sortBy(_.head.toString))
  }

  test("a trans_dt predicate stays a PartitionFilter and prunes every dir's subdirs") {
    val wh = threeDirWh(Files.createTempDirectory("wh-multidir-prune").toString)
    val day2 = wh.readRaw(Fact).filter(col("trans_dt") === lit("2021-03-02").cast("date"))
    assertOneScan(day2)
    val scan = factScans(day2).head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "trans_dt")),
      s"expected a trans_dt partition filter:\n${day2.queryExecution.sparkPlan}")
    assert("PartitionFilters: \\[[^\\]]*trans_dt".r
      .findFirstIn(day2.queryExecution.executedPlan.toString).nonEmpty)
    // day 2 lives in dirs 1 and 2: ids 1..60 odd, 61..120 even
    val rows = day2.collect().map(_.getAs[String]("trans_id")).toSet
    assert(rows == ((1 to 60).filter(_ % 2 == 1) ++ (61 to 120).filter(_ % 2 == 0))
      .map(i => s"T$i").toSet)
    // two of the five `trans_dt=` subdirs were read (the metric of the
    // plan `collect` just ran)
    val executed = day2.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(executed.map(_.metrics("numPartitions").value).sum == 2L)
  }
}
