package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Output-convention guard (round-8 lesson, generalized round 9): the
    * external comparator reads engine parquet with pyarrow but oracles
    * through DuckDB's .df(), and the two readers only canonicalize the
    * SAME way for the dtype families that have been driver-green in
    * past rounds: STRING, INT/BIGINT, DOUBLE, BOOLEAN, DATE, TIMESTAMP.
    * Anything else is unproven against the gate — DECIMAL is *proven
    * hostile* (pyarrow Decimal objects vs DuckDB float64, 18 red rows
    * in round 8), and float32 / binary / nested arrays would each
    * gamble a round to find out. Exact wide sums leave as fixed-scale
    * STRING (TpchQueries.outStr) with a CAST(… AS VARCHAR) oracle.
    * Returns the offending `name: type` strings (empty = safe).
    */
  def driverUnsafeColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    val allowed: Set[DataType] =
      Set(StringType, IntegerType, LongType, DoubleType, BooleanType,
        DateType, TimestampType)
    schema.fields.collect {
      case f if !allowed.contains(f.dataType) =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq
  }

  /** Runs one entry and writes its result to `outDir/name`. The cache is
    * cleared afterwards, as Bench clears it between queries: an entry's
    * cached frames would otherwise outlive it, and the next entry over
    * the same corpus would persist an identical plan a second time
    * ("Asked to cache already cached data").
    */
  def dumpQuery(spark: SparkSession, sfDir: String, outDir: String,
                name: String): Unit =
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val badCols = driverUnsafeColumns(df.schema)
      require(badCols.isEmpty,
        s"output columns outside the driver-proven dtype allow-list " +
          s"[${badCols.mkString(", ")}] — decimals fail the driver hash " +
          "gate (round 8); other families are unproven. Cast to STRING " +
          "(exact) or DOUBLE/BIGINT before returning.")
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      // A failed query must not leave a PREVIOUS run's output behind:
      // when iterating into a reused outDir, a stale parquet would
      // make check.py compare old (possibly green) results and mask
      // the failure — delete so the comparator sees "no output".
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val st = java.nio.file.Files.list(p)
          try st.forEach(rm(_)) finally st.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(Paths.get(s"$outDir/$name"))
    } finally spark.catalog.clearCache()

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args = query-name subset (local iteration; the
    // driver passes none). Unknown names are an error, as in Bench.
    val subset = args.drop(2).toSet
    val unknown = subset -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected = if (subset.isEmpty) SparkEntry.queries
                   else SparkEntry.queries.view.filterKeys(subset).toMap
    // the bench's session profile: the correctness gate runs under the
    // same settings (cached-plan partitioning rule included) as the
    // timed path
    val spark = GraftSession.local("graft-verify", GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.keys.foreach(dumpQuery(spark, sfDir, outDir, _))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
