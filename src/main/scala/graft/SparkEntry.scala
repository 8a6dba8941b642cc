package graft

import graft.queries.{CoreQueries, MiscQueries, RefQueries, SeriesQueries, SimilarityQueries, StatsQueries, TextQueries, TpchQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 (plus the
  * training-data-pipeline extensions) to a DataFrame program over the
  * driver testdata; `oracleSql` gives the DuckDB-equivalent SQL the driver
  * hash-compares against at sf0.01.
  */
object SparkEntry {
  private[graft] val groups: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (CoreQueries.queries, CoreQueries.oracles),
      (TextQueries.queries, TextQueries.oracles),
      (SimilarityQueries.queries, SimilarityQueries.oracles),
      (MiscQueries.queries, MiscQueries.oracles),
      (StatsQueries.queries, StatsQueries.oracles),
      (SeriesQueries.queries, SeriesQueries.oracles),
      (TpchQueries.queries, TpchQueries.oracles),
      (RefQueries.queries, RefQueries.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("q_join_multihop")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(groups.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    merged(groups.map(_._2))

  /** The groups' union; a name two groups define fails, naming it,
    * instead of the later group silently shadowing the earlier one.
    */
  private def merged[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.reduce { (a, b) =>
      val dup = a.keySet.intersect(b.keySet)
      require(dup.isEmpty, s"defined by two query groups: ${dup.toSeq.sorted.mkString(", ")}")
      a ++ b
    }
}
