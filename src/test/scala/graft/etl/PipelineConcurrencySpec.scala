package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import graft.TestSpark
import graft.sources.BankSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The nightly run's concurrent levels ([[Pipeline]]) and what they
  * rest on: one [[Txn]] written from several threads, concurrent first
  * reads of a bucketed dir with no session-catalog state behind them,
  * and the failure contract (first failure thrown after every write has
  * finished, nothing committed, nothing archived).
  */
class PipelineConcurrencySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val feb1 = Timestamp.valueOf("2021-02-01 00:00:00")
  private val mar1 = Timestamp.valueOf("2021-03-01 23:55:00")
  private val mar2 = Timestamp.valueOf("2021-03-02 23:55:00")

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  /** Session-catalog tables named like the warehouse's former per-dir
    * registrations and write tables (`graft_bkt_*`, `graft_tmp_*`).
    */
  private def warehouseTables: Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(n => n.startsWith("graft_bkt_") || n.startsWith("graft_tmp_"))

  /** Run `body(i)` on `n` threads released at once; the failures. */
  private def onThreads(n: Int)(body: Int => Unit): Seq[Throwable] = {
    val start = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map(i => new Thread(() =>
      try { start.await(); body(i) } catch { case t: Throwable => errors.add(t); () }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    errors.asScala.toSeq
  }

  private def bank(cardNums: Seq[String], cardsFail: Boolean = false): BankSource =
    new BankSource {
    def clients(s: SparkSession): DataFrame = ReplayFixtures.clientsDf(s, Seq(
      ("C1", "Last", "First", Some("Pat"), Date.valueOf("1980-01-01"), "1111 111111",
        Some(Date.valueOf("2030-01-01")), "+7 111", feb1, None: Option[Timestamp])))
    def accounts(s: SparkSession): DataFrame = ReplayFixtures.accountsDf(s,
      Seq(("A1", Date.valueOf("2030-01-01"), "C1", feb1, None: Option[Timestamp])))
    def cards(s: SparkSession): DataFrame = {
      val df = ReplayFixtures.cardsDf(s, cardNums.map(c => (c, "A1", feb1, None: Option[Timestamp])))
      if (cardsFail) df.withColumn("card_num", PipelineConcurrencySpec.boom(col("card_num")))
      else df
    }
  }

  /** A `transactions_<ddMMyyyy>.txt` drop file: `;`-separated, header
    * row, decimal-comma amounts, one row per id.
    */
  private def dropTransactions(drop: Path, date: String, ids: Seq[String]): Path = {
    val day = s"${date.substring(4)}-${date.substring(2, 4)}-${date.substring(0, 2)}"
    val lines = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal" +:
      ids.map(id => s"$id;$day 10:00:00;1,50;K1;PAYMENT;SUCCESS;T1")
    Files.write(drop.resolve(s"transactions_$date.txt"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  test("one Txn takes concurrent writes to distinct tables from many threads") {
    import spark.implicits._
    val schema = new StructType().add("id", "long").add("v", "string")
    val tables = (0 until 8).map(i => s"t$i")
    val wh = new Warehouse(spark, tmp("wh-txn-threads"), tables.map(_ -> schema).toMap,
      partitionSpec = Map.empty, bucketSpec = Map("t0" -> ("id", 4), "t1" -> ("id", 4)))
    val t0 = wh.begin()
    tables.foreach(t => t0.overwrite(t, Seq((0L, "old")).toDF("id", "v")))
    t0.commit()

    // even tables are overwritten once, odd tables take three appends
    val txn = wh.begin()
    val errors = onThreads(tables.length) { i =>
      val t = tables(i)
      def rows(from: Long) = (from until from + 10).map(k => (k, s"$t-$k")).toDF("id", "v")
      if (i % 2 == 0) txn.overwrite(t, rows(1))
      else (0 until 3).foreach(b => txn.append(t, rows(1 + 10 * b)))
    }
    assert(errors.isEmpty, errors.mkString("; "))
    txn.commit()
    tables.zipWithIndex.foreach { case (t, i) =>
      val ids = wh.read(t).collect().map(_.getLong(0)).sorted.toSeq
      if (i % 2 == 0) {
        assert(ids == (1L to 10L), t)
        assert(wh.catalog()(t).length == 1, t)
      } else {
        assert(ids == (0L to 30L), t)
        assert(wh.catalog()(t).length == 4, t)
      }
    }
  }

  test("concurrent first reads of a bucketed dir each read all of it") {
    import spark.implicits._
    // the fact layout (date-partitioned and bucketed): a reader that
    // missed a partition would read fewer than 90 rows
    val wh = new Warehouse(spark, tmp("wh-first-read"))
    val txn = wh.begin()
    txn.append("fact_transactions", (1 to 90).map(i =>
      (s"T$i", Timestamp.valueOf(f"2021-03-0${1 + i % 3} 10:00:00"), BigDecimal(i),
        s"K$i", "PAY", "OK", s"A$i"))
      .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type", "oper_result", "terminal"))
    txn.commit()

    val counts = new ConcurrentLinkedQueue[Long]()
    val errors = onThreads(8)(_ => counts.add(wh.read("fact_transactions").count()))
    assert(errors.isEmpty, errors.mkString("; "))
    assert(counts.asScala.toSeq == Seq.fill(8)(90L))
    assert(warehouseTables.isEmpty, warehouseTables)
  }

  test("nightly runs, a fact delete, compaction and vacuum leave no table in the " +
    "session catalog") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmp("wh-no-catalog"))
    val drop = Files.createTempDirectory("drop-no-catalog")
    dropTransactions(drop, "01032021", Seq("T1", "T2"))
    new Pipeline(spark, wh).run(bank(Seq("K1")), Some(drop.toString), mar1)
    dropTransactions(drop, "02032021", Seq("T2", "T3"))
    new Pipeline(spark, wh).run(bank(Seq("K1", "K2")), Some(drop.toString), mar2)
    assert(wh.catalog()("fact_transactions").length == 2)

    val txn = wh.begin()
    txn.deleteWhere("fact_transactions", col("trans_id") === "T1")
    txn.commit()
    wh.compact("fact_transactions")
    assert(wh.vacuum(graceMs = 0) > 0)
    assert(wh.read("fact_transactions").select("trans_id").as[String].collect().sorted
      .toSeq == Seq("T2", "T3"))
    assert(wh.read("dim_cards").count() == 2L)
    assert(warehouseTables.isEmpty, warehouseTables)
  }

  test("a failed write fails the run only after every write finished: nothing " +
    "committed, nothing archived") {
    // level 1: the bank's cards frame fails when the staging write runs
    // it; level 2: the dim_cards merge's write fails inside its job
    val failures: Seq[(String, String => Warehouse, BankSource)] = Seq(
      ("staging", root => new Warehouse(spark, root), bank(Seq("K1", "K2"), cardsFail = true)),
      ("dim merge", root => new PipelineConcurrencySpec.FailingCardsWarehouse(spark, root),
        bank(Seq("K1", "K2"))))
    failures.foreach { case (level, failingWh, failingBank) =>
      val root = tmp("wh-fail")
      val drop = Files.createTempDirectory("drop-fail")
      dropTransactions(drop, "01032021", Seq("T1", "T2"))
      new Pipeline(spark, new Warehouse(spark, root)).run(bank(Seq("K1")), Some(drop.toString), mar1)
      val before = new Warehouse(spark, root).catalog()

      val dropped = dropTransactions(drop, "02032021", Seq("T3"))
      val thrown = intercept[Throwable] {
        new Pipeline(spark, failingWh(root)).run(failingBank, Some(drop.toString), mar2)
      }
      assert(Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == PipelineConcurrencySpec.BoomMessage),
        s"$level: expected the failed write's own exception, got $thrown")
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        s"$level: jobs still running after run returned")
      assert(new Warehouse(spark, root).catalog() == before, s"$level: something was committed")
      assert(Files.exists(dropped), s"$level: the drop file was archived")
    }
  }

  test("concurrently rethrows the first failure, the rest suppressed, after every write") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalStateException("second")
    val thrown = intercept[IllegalStateException] {
      Pipeline.concurrently(Seq(
        "a" -> (() => throw first),
        "b" -> (() => { Thread.sleep(200); throw second }),
        "c" -> (() => { Thread.sleep(400); finished.set(true) })))
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
    assert(finished.get, "returned before every write finished")
  }

  test("each staging table is one write; the reports are one rep_fraud dir per night") {
    val drop = Files.createTempDirectory("drop-stage")
    // two transactions files in one night stage as their union
    dropTransactions(drop, "01032021", Seq("T1", "T2"))
    dropTransactions(drop, "02032021", Seq("T3"))
    val wh = new Warehouse(spark, tmp("wh-stage"))
    new Pipeline(spark, wh).run(bank(Seq("K1")), Some(drop.toString), mar2)
    val cat = wh.catalog()
    Seq("stg_clients", "stg_accounts", "stg_cards", "stg_terminals", "stg_transactions",
      "stg_blacklist", "rep_fraud").foreach(t => assert(cat(t).length == 1, t))
    assert(wh.read("stg_transactions").select("trans_id").collect().map(_.getString(0))
      .sorted.toSeq == Seq("T1", "T2", "T3"))
    assert(wh.read("stg_terminals").count() == 0 && wh.read("stg_blacklist").count() == 0)
    // Faithful report №1 flags every transaction
    assert(wh.read("rep_fraud").filter(col("event_type") === "1").count() == 3)
  }

  test("incremental meta keeps the previous watermark for an empty delta") {
    val wh = new Warehouse(spark, tmp("wh-meta"))
    val pipe = new Pipeline(spark, wh, Reports.Corrected, incremental = true)
    def meta(): Map[String, Timestamp] = wh.read("meta").collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Timestamp]("max_update_dt")).toMap
    pipe.run(bank(Seq("K1")), None, mar1)
    assert(meta() == Map("lapp_dwh_dim_clients" -> feb1, "lapp_dwh_dim_accounts" -> feb1,
      "lapp_dwh_dim_cards" -> feb1, "lapp_dwh_dim_terminals" -> null))

    // night 2: clients change (update_dt moves), the other deltas are empty
    val upd = Timestamp.valueOf("2021-03-02 10:00:00")
    val night2 = new BankSource {
      def clients(s: SparkSession): DataFrame = bank(Nil).clients(s)
        .withColumn("phone", lit("+7 999")).withColumn("update_dt", lit(upd))
      def accounts(s: SparkSession): DataFrame = bank(Nil).accounts(s)
      def cards(s: SparkSession): DataFrame = bank(Seq("K1")).cards(s)
    }
    pipe.run(night2, None, mar2)
    assert(meta() == Map("lapp_dwh_dim_clients" -> upd, "lapp_dwh_dim_accounts" -> feb1,
      "lapp_dwh_dim_cards" -> feb1, "lapp_dwh_dim_terminals" -> null))
    assert(wh.read("dim_clients").head().getAs[String]("phone") == "+7 999")
  }
}

object PipelineConcurrencySpec {
  val BoomMessage = "injected write failure"

  val boom: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => if (s ne BoomMessage) throw new IllegalStateException(BoomMessage); s }

  /** Fails the dim_cards merge's write inside its Spark job. */
  final class FailingCardsWarehouse(spark: SparkSession, root: String)
      extends Warehouse(spark, root) {
    override private[etl] def writeDataDir(table: String, df: DataFrame,
                                           carry: Option[(String, Set[Int])]): String =
      super.writeDataDir(table,
        if (table == "dim_cards") df.withColumn("card_num", boom(col("card_num"))) else df,
        carry)
  }
}
