package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import graft.TestSpark
import graft.sources.{BankSource, DropFolder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The nightly run crashes at each step boundary — staging, mid-merge,
  * between the commit and the archive, mid-archive — and is rerun with
  * the same `runTs`. Every case must end as a clean run does: every
  * table's rows equal, each night's reports appended once (one
  * `rep_fraud` dir per night), every drop file archived once, the drop
  * folder empty. The night's transaction id is what makes the two
  * post-commit reruns safe: without it they append the night's reports
  * again.
  */
class PipelineCrashRerunSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val feb1 = Timestamp.valueOf("2021-02-01 00:00:00")
  private val mar1 = Timestamp.valueOf("2021-03-01 23:55:00")
  private val mar2 = Timestamp.valueOf("2021-03-02 23:55:00")

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

  /** A `transactions_<tag>_<ddMMyyyy>.txt` drop file, one row per id. */
  private def dropTransactions(drop: Path, tag: String, date: String, ids: Seq[String]): Path = {
    val day = s"${date.substring(4)}-${date.substring(2, 4)}-${date.substring(0, 2)}"
    val lines = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal" +:
      ids.map(id => s"$id;$day 10:00:00;1,50;K1;PAYMENT;SUCCESS;T1")
    Files.write(drop.resolve(s"transactions_${tag}_$date.txt"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private def backupOf(name: String): String = name.split('.').head + ".backup"

  /** Every table's rows, as sorted strings. */
  private def image(wh: Warehouse): Map[String, Seq[String]] =
    Schemas.tables.keys.map(t => t -> wh.read(t).collect().map(_.toString).toSeq.sorted).toMap

  /** Night 1 committed and archived on a fresh warehouse; night 2's two
    * drop files left in the drop folder. The root, the drop folder,
    * night 2's files and every dropped file's name → bytes.
    */
  private def night2Pending(tag: String): (String, Path, Seq[Path], Map[String, Array[Byte]]) = {
    val root = Files.createTempDirectory(s"wh-$tag").toString
    val drop = Files.createTempDirectory(s"drop-$tag")
    val n1 = dropTransactions(drop, "a", "01032021", Seq("T1", "T2"))
    val dropped = Map(n1.getFileName.toString -> Files.readAllBytes(n1))
    new Pipeline(spark, new Warehouse(spark, root)).run(bank(Seq("K1")), Some(drop.toString), mar1)
    val n2 = Seq(dropTransactions(drop, "a", "02032021", Seq("T2", "T3")),
      dropTransactions(drop, "b", "02032021", Seq("T4", "T5")))
    (root, drop, n2, dropped ++ n2.map(f => f.getFileName.toString -> Files.readAllBytes(f)))
  }

  private val night2Bank = bank(Seq("K1", "K2"))

  /** The warehouse image of both nights run without a crash. */
  private lazy val cleanImage: Map[String, Seq[String]] = {
    val (root, drop, _, _) = night2Pending("clean")
    val wh = new Warehouse(spark, root)
    new Pipeline(spark, wh).run(night2Bank, Some(drop.toString), mar2)
    val img = image(wh)
    assert(img("rep_fraud").nonEmpty, "fixture: the clean run reports nothing")
    img
  }

  /** Run night 2 on `crashWh` with `crashBank`, with the archive target
    * of night 2's file `blocked` (if any) taken by a non-empty
    * directory; the run must throw. Then `afterCrash` checks the state
    * it left, the blocker goes, and the night is rerun with the same
    * `runTs`: the result must be the clean run's.
    */
  private def crashThenRerun(tag: String, crashWh: String => Warehouse = new Warehouse(spark, _),
                             crashBank: BankSource = night2Bank, blocked: Option[Int] = None)
                            (afterCrash: (Warehouse, Seq[Path]) => Unit): Unit = {
    val clean = cleanImage
    val (root, drop, files, dropped) = night2Pending(tag)
    val wh = new Warehouse(spark, root)
    val versionsBefore = wh.versions().length
    val blocker = blocked.map { i =>
      val d = drop.resolve("archive").resolve(backupOf(files(i).getFileName.toString))
      Files.createDirectories(d)
      Files.write(d.resolve("taken"), Array[Byte](1))
      d
    }
    intercept[Exception] {
      new Pipeline(spark, crashWh(root)).run(crashBank, Some(drop.toString), mar2)
    }
    afterCrash(wh, files)
    blocker.foreach(d => Warehouse.deleteRecursively(d))
    val versionsAfterCrash = wh.versions().length

    new Pipeline(spark, wh).run(night2Bank, Some(drop.toString), mar2)
    val img = image(wh)
    Schemas.tables.keys.foreach(t => assert(img(t) == clean(t), s"$tag: $t differs from a clean run"))
    assert(wh.catalog()("rep_fraud").length == 2, s"$tag: a night's reports were appended twice")
    assert(DropFolder.discover(drop.toString).isEmpty, s"$tag: drop files left behind")
    val archived = Warehouse.listDir(drop.resolve("archive")).map(p => p.getFileName.toString -> p).toMap
    assert(archived.keySet == dropped.keySet.map(backupOf),
      s"$tag: archived ${archived.keySet}")
    dropped.foreach { case (name, bytes) =>
      val a = archived(backupOf(name))
      assert(Files.isRegularFile(a) && Files.readAllBytes(a).sameElements(bytes),
        s"$tag: $name not archived as it was dropped")
    }
    if (versionsAfterCrash > versionsBefore)
      assert(wh.versions().length == versionsAfterCrash, s"$tag: the rerun of a committed night committed")
  }

  test("staging crash, same-runTs rerun ends as a clean run") {
    crashThenRerun("staging", crashBank = bank(Seq("K1", "K2"), cardsFail = true)) { (wh, files) =>
      assert(wh.read("dim_cards").count() == 1L, "staging crash: dim_cards moved")
      assert(files.forall(Files.exists(_)))
    }
  }

  test("mid-merge crash, same-runTs rerun ends as a clean run") {
    crashThenRerun("merge", crashWh = new PipelineConcurrencySpec.FailingCardsWarehouse(spark, _)) {
      (wh, files) =>
        assert(wh.read("dim_cards").count() == 1L, "merge crash: dim_cards moved")
        assert(files.forall(Files.exists(_)))
    }
  }

  test("crash between commit and archive, rerun ends as a clean run") {
    crashThenRerun("commit-archive", blocked = Some(0)) { (wh, files) =>
      assert(wh.read("dim_cards").count() == 2L, "the night was not committed")
      assert(files.forall(Files.exists(_)))
    }
  }

  test("mid-archive crash, same-runTs rerun ends as a clean run") {
    crashThenRerun("mid-archive", blocked = Some(1)) { (wh, files) =>
      assert(wh.read("dim_cards").count() == 2L, "the night was not committed")
      assert(!Files.exists(files(0)) && Files.exists(files(1)))
    }
  }

  test("an older night than the committed one throws and archives nothing") {
    val (root, drop, _, _) = night2Pending("older")
    val wh = new Warehouse(spark, root)
    new Pipeline(spark, wh).run(night2Bank, Some(drop.toString), mar2)
    val before = wh.catalog()
    val late = dropTransactions(drop, "c", "01032021", Seq("T6"))
    val e = intercept[IllegalStateException] {
      new Pipeline(spark, wh).run(bank(Seq("K1")), Some(drop.toString), mar1)
    }
    assert(e.getMessage.contains(mar1.toString) && e.getMessage.contains(mar2.toString),
      e.getMessage)
    assert(Files.exists(late), "the older night's drop file was archived")
    assert(wh.catalog() == before, "the older night committed")
  }
}
