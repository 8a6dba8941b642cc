package graft

import java.nio.file.Files
import graft.etl.{Pipeline, ReplayFixtures, Reports, Warehouse}

/** One-time fixture generator: runs the FAITHFUL three-day replay
  * (reference data files + ReplayFixtures bank) and freezes the final
  * warehouse state into committed parquet under
  * `src/test/resources/refwh/`. That state feeds the `q_rep_fraud`
  * driver-oracle query (graft.queries.RefQueries), putting the
  * reference's headline artifact — the fraud report of main.py:397-467 —
  * under the same DuckDB hash gate as every other operator.
  *
  * Run: `sbt "Test/runMain graft.RefWarehouseDump"`. Deterministic except
  * for the card-number draw in ReplayFixtures.cardNums, which the
  * committed parquet freezes.
  */
object RefWarehouseDump {
  val tables = Seq("dim_terminals", "dim_clients", "dim_accounts", "dim_cards",
    "fact_transactions", "fact_blacklist")

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/root/repo/src/test/resources/refwh"
    val spark = GraftSession.local("graft-refdump", 8)
    spark.sparkContext.setLogLevel("WARN")

    val whRoot = Files.createTempDirectory("wh-refdump")
    val drop = Files.createTempDirectory("drop-refdump")
    val wh = new Warehouse(spark, whRoot.toString)
    val pipe = new Pipeline(spark, wh, Reports.Faithful)
    (1 to 3).foreach { day =>
      ReplayFixtures.stageDay(drop, day)
      pipe.run(ReplayFixtures.bankFor(spark, day), Some(drop.toString),
        ReplayFixtures.dayTs(day))
    }
    tables.foreach { t =>
      wh.read(t).coalesce(1).write.mode("overwrite").parquet(s"$out/$t")
      println(s"[refdump] $t -> $out/$t (${wh.read(t).count()} rows)")
    }
    spark.stop()
  }
}
