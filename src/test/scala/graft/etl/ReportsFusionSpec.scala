package graft.etl

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The nightly run's report builder, [[Reports.fraudReports]], runs the
  * №1/№2 join chain once and tags each joined row with its reports. It
  * must produce exactly the rows of the three per-report frames, as a
  * multiset, in both modes, on a fixture built from the reference's
  * traps.
  */
class ReportsFusionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s"2021-03-01 $s")
  private def d(s: String) = Date.valueOf(s)
  private def audit = Seq(ts("00:00:00"), null, ts("00:00:00"))

  private lazy val fixtureDir = Files.createTempDirectory("reports-fusion").toString

  /** Each fixture table goes through parquet, as the warehouse's do. */
  private def table(name: String, schema: StructType, rows: Seq[Seq[Any]]): DataFrame = {
    val dir = s"$fixtureDir/$name"
    if (!Files.exists(java.nio.file.Paths.get(dir)))
      spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema).coalesce(1).write.parquet(dir)
    spark.read.schema(schema).parquet(dir)
  }

  private def clients = table("clients", Schemas.clients, Seq(
    // expired passport
    Seq("CL1", "Ivanov", "Ivan", "Ivanovich", d("1980-01-01"), "P1", d("2021-01-01"), "ph1"),
    // null patronymic: fio null-propagates
    Seq("CL2", "Petrov", "Petr", null, d("1981-01-01"), "P2", d("2030-01-01"), "ph2"),
    // null passport and validity (the blacklist's null entry must not match it)
    Seq("CL3", "Sidorov", "Sid", "Sidorovich", d("1982-01-01"), null, null, "ph3"),
    // valid but blacklisted passport
    Seq("CL4", "Orlov", "Oleg", "Olegovich", d("1983-01-01"), "P4", d("2030-01-01"), "ph4"))
    .map(_ ++ audit))

  private def accounts = table("accounts", Schemas.accounts, Seq(
    Seq("AC1", d("2021-02-01"), "CL1"), // inactive
    Seq("AC2", d("2030-01-01"), "CL2"),
    Seq("AC3", null, "CL3"), // null validity: neither active nor inactive
    Seq("AC4", d("2030-01-01"), "CL4"),
    Seq("AC5", d("2021-01-01"), "CLX")) // inactive, client missing
    .map(_ ++ audit))

  private def cards = table("cards", Schemas.cards, Seq(
    // two dim cards equal after trim: a trimmed fact card matches both
    Seq("1111 2222", "AC1"),
    Seq(" 1111 2222 ", "AC2"),
    // inner space: `trim` keeps it, `replace` strips it
    Seq("3333 4444", "AC3"),
    Seq("5555", "AC4"),
    Seq("6666", "AC5"))
    .map(_ ++ audit))

  private def terminals = table("terminals", Schemas.terminals, Seq(
    Seq("T1", "POS", "Moscow", "a1"),
    Seq("T2", "POS", "Kazan", "a2"),
    Seq("T3", "ATM", null, "a3")) // null city
    .map(_ ++ audit))

  private def blacklist = table("blacklist", Schemas.blacklist, Seq(
    Seq(ts("00:00:00"), "P4"),
    Seq(ts("00:00:00"), "P4"), // duplicate entry
    Seq(ts("00:00:00"), "P1"),
    Seq(ts("00:00:00"), null))) // styled-empty row: null passport

  private def fact = table("fact", Schemas.transactions, Seq(
    // same-second tie in different cities, then a null city, then hops
    Seq("F01", ts("10:00:00"), "5555", "T1"),
    Seq("F02", ts("10:00:00"), "5555", "T2"),
    Seq("F03", ts("10:30:00"), "5555", "T3"),
    Seq("F04", ts("10:40:00"), "5555", "T1"),
    Seq("F05", ts("10:50:00"), "5555", "T2"),
    // duplicate trans_id: №3 keeps IN semantics on the id
    Seq("F06", ts("11:00:00"), "1111 2222", "T1"),
    Seq("F06", ts("11:20:00"), " 1111 2222", "T2"),
    // null trans_ids
    Seq(null, ts("12:00:00"), "33334444", "T1"),
    Seq(null, ts("12:10:00"), "3333 4444", "T2"),
    // trim misses, replace matches (and the other way round)
    Seq("F07", ts("13:00:00"), "33334444", "T1"),
    Seq("F08", ts("13:30:00"), "3333 4444", "T2"),
    Seq("F09", ts("14:00:00"), "6666", "T1"),
    Seq("F10", ts("14:20:00"), "6666", "T2"),
    // no dim card, unknown terminal
    Seq("F11", ts("15:00:00"), "9999", "T9"),
    Seq("F12", ts("15:10:00"), "9999", "T1"))
    .map { case Seq(id, t, card, term) =>
      Seq(id, t, new java.math.BigDecimal("1.00000"), card, "PAY", "OK", term)
    })

  private def perReport(mode: Reports.Mode): DataFrame =
    Reports.fraudExpiredPassport(fact, cards, accounts, clients, blacklist, mode)
      .unionByName(Reports.fraudInactiveAccount(fact, cards, accounts, clients))
      .unionByName(Reports.fraudCityHopping(fact, cards, terminals, accounts, clients))

  private def fused(mode: Reports.Mode): DataFrame =
    Reports.fraudReports(fact, cards, accounts, clients, terminals, blacklist, mode)

  private def counts(df: DataFrame): Map[String, Long] =
    df.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  Seq(Reports.Faithful, Reports.Corrected).foreach { mode =>
    test(s"$mode: fraudReports equals the three per-report frames as a multiset") {
      val want = perReport(mode)
      val got = fused(mode)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.exceptAll(want).isEmpty, "fused rows missing from the per-report frames")
      assert(want.exceptAll(got).isEmpty, "per-report rows missing from the fused frame")
      val c = counts(want)
      assert(counts(got) == c)
      // the fixture exercises every report
      assert(Seq("1", "2", "3").forall(t => c.getOrElse(t, 0L) > 0L), s"counts: $c")
    }
  }

  test("Corrected №1 keeps only expired or blacklisted passports; null never matches") {
    val rep1 = fused(Reports.Corrected).filter(col("event_type") === "1")
    val passports = rep1.select("passport").distinct().collect().map(_.getString(0)).toSet
    assert(passports == Set("P1", "P4"), s"got $passports")
  }

  test("the fused builder scans the fact three times, the per-report union four") {
    def factScans(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith("/fact")) => s
    }.size
    assert(factScans(fused(Reports.Faithful)) == 3)
    assert(factScans(perReport(Reports.Faithful)) == 4)
  }
}
