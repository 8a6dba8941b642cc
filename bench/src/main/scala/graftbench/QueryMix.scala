package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.queries._

/** The read-side workload: one timed pass over a fixed mix of
  * `SparkEntry.queries`, one query at a time, each built after
  * `clearCache()` and forced by writing its result (which the DuckDB
  * oracle check then reads). An untimed warm-up pass over the same mix
  * runs first in the same JVM.
  */
final class QueryMix(spark: SparkSession, dataDir: String, work: Path, trace: Option[Trace]) {
  import QueryMix._

  def run(): Map[String, Any] = {
    val fns = SparkEntry.queries
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val out = work.resolve("results")

    // what the timed pass writes: the results, the queries' temp dirs
    // and the session warehouse
    val writeRoots = Seq(out, work.resolve("tmp"), work.resolve("spark-warehouse"))
    val failures = mutable.Map[String, String]()
    val heapBefore = BenchSession.oldGenAfterGc()
    val w0 = System.nanoTime()
    names.foreach { n =>
      spark.catalog.clearCache()
      try fns(n)(spark, dataDir).write.mode("overwrite")
        .parquet(work.resolve("warmup").resolve(n).toString)
      catch { case e: Exception => failures(n) = e.toString }
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val before = Inodes.snapshot(writeRoots)
    trace.foreach(_.register(spark))
    val steps = names.map { n =>
      spark.catalog.clearCache()
      val startMs = System.currentTimeMillis()
      val q0 = System.nanoTime()
      var built = q0
      try {
        val df = fns(n)(spark, dataDir)
        built = System.nanoTime()
        // the forcing action writes the result, which the DuckDB check reads
        df.write.mode("overwrite").parquet(out.resolve(n).toString)
      } catch { case e: Exception => failures(n) = e.toString }
      val s = (System.nanoTime() - q0) / 1e9
      Map("label" -> n, "group" -> groupOf(n), "start" -> startMs,
        "end" -> System.currentTimeMillis(), "s" -> s, "build_s" -> (built - q0) / 1e9)
    }
    trace.foreach(_.unregister(spark))
    val heapPeak = math.max(heapBefore, BenchSession.oldGenAfterGc())
    val end = Inodes.snapshot(writeRoots)
    Map("steps" -> steps, "warmup_s" -> warmS,
      "new_bytes" -> end.newSince(before)._2, "end_bytes" -> end.bytes,
      "heap_peak_mb" -> heapPeak / 1048576.0, "failures" -> failures.toMap,
      "results" -> out.toString,
      "oracles" -> names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap)
  }
}

object QueryMix {
  /** A query of every group (Ref, Core, Tpch, Misc, Stats, Text,
    * Similarity), including the nightly job's corrected fraud report and
    * SCD1 merge, and a stateful structured-streaming aggregation.
    */
  val names: Seq[String] = Seq(
    "q_rep_fraud_corrected", "q_scd1_merge", "q_tpch_q1", "q_tpch_q3", "q_corr_matrix",
    "q_stream_window", "text_curate", "ann_ivfpq")

  private val groups: Seq[(String, Map[String, _])] = Seq(
    "Core" -> CoreQueries.queries, "Tpch" -> TpchQueries.queries, "Ref" -> RefQueries.queries,
    "Misc" -> MiscQueries.queries, "Stats" -> StatsQueries.queries,
    "Text" -> TextQueries.queries, "Similarity" -> SimilarityQueries.queries,
    "Series" -> SeriesQueries.queries)

  def groupOf(name: String): String =
    groups.find(_._2.contains(name)).map(_._1).getOrElse("other")
}
