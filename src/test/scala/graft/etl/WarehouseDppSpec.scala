package graft.etl

import java.nio.file.Files
import java.sql.Timestamp
import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dynamic partition pruning over the date-partitioned fact layout: a
  * join against a FILTERED calendar/dim on the partition column must
  * prune fact date directories at RUNTIME (the dim's qualifying dates
  * are only known after its filter runs). This is the mechanism that
  * lets "join facts to this month's campaign dims" read days, not the
  * 100 TB history — static PartitionFilters can't express it, so the
  * plan gate looks for Spark's `dynamicpruning` subquery marker in the
  * fact scan.
  */
class WarehouseDppSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("date-dim filter reaches the fact scan as a runtime partition filter") {
    import spark.implicits._
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-dpp").toString)
    def batch(ids: Range, day: Int) =
      ids.map(i => (s"T$i", Timestamp.valueOf(f"2021-03-0$day 10:00:00"),
          BigDecimal(i), s"K$i", "PAY", "OK", s"A$i"))
        .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type",
          "oper_result", "terminal")
    val t = wh.begin()
    t.append("fact_transactions", batch(1 to 40, 1))
    t.append("fact_transactions", batch(41 to 80, 2))
    t.append("fact_transactions", batch(81 to 99, 3))
    t.commit()
    // steady state: one dir, one scan — a union of per-dir scans would
    // hide the partition columns from the DPP rule
    wh.compact("fact_transactions")

    // calendar dim: which dates belong to the campaign is DATA, not a
    // literal — only a runtime subquery can prune the fact scan on it.
    // File-backed on purpose: an in-memory relation constant-folds its
    // filter away and the DPP rule no longer sees a selective predicate
    val calDir = Files.createTempDirectory("wh-dpp-cal").toString + "/calendar"
    Seq(
      (java.sql.Date.valueOf("2021-03-01"), "none"),
      (java.sql.Date.valueOf("2021-03-02"), "campaign"),
      (java.sql.Date.valueOf("2021-03-03"), "none"))
      .toDF("dt", "tag").write.parquet(calDir)
    val calendar = spark.read.parquet(calDir)

    val fact = wh.readRaw("fact_transactions")
    val joined = fact.join(calendar.filter(col("tag") === "campaign"),
      fact("trans_dt") === calendar("dt"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan should carry a runtime partition filter:\n${plan.take(2000)}")
    assert(joined.count() == 40, "only the campaign day's facts should survive")
  }

  test("the runtime partition filter reaches an uncompacted multi-dir fact scan") {
    import spark.implicits._
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-dpp-dirs").toString)
    def batch(ids: Range, day: Int) =
      ids.map(i => (s"T$i", Timestamp.valueOf(f"2021-03-0$day 10:00:00"),
          BigDecimal(i), s"K$i", "PAY", "OK", s"A$i"))
        .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type",
          "oper_result", "terminal")
    // three nightly appends, three dirs, read as they are: one scan
    // over all of them carries the partition column
    Seq((1 to 40, 1), (41 to 80, 2), (81 to 99, 3)).foreach { case (ids, day) =>
      val t = wh.begin()
      t.append("fact_transactions", batch(ids, day))
      t.commit()
    }
    assert(wh.catalog()("fact_transactions").length == 3)

    val calDir = Files.createTempDirectory("wh-dpp-dirs-cal").toString + "/calendar"
    Seq(
      (java.sql.Date.valueOf("2021-03-01"), "none"),
      (java.sql.Date.valueOf("2021-03-02"), "campaign"),
      (java.sql.Date.valueOf("2021-03-03"), "none"))
      .toDF("dt", "tag").write.parquet(calDir)
    val calendar = spark.read.parquet(calDir)

    val fact = wh.readRaw("fact_transactions")
    val joined = fact.join(calendar.filter(col("tag") === "campaign"),
      fact("trans_dt") === calendar("dt"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"the multi-dir fact scan should carry a runtime partition filter:\n${plan.take(2000)}")
    assert(joined.count() == 40, "only the campaign day's facts should survive")
  }
}
