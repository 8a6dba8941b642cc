package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: every entry point (Bench, Verify, Profile,
  * the test session) builds its SparkSession here, so the correctness
  * gate, the timed path and the tests plan under the same settings.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` parsed to a positive core count; unset means
    * `min(32, nproc)`. Anything else is an error naming the variable —
    * a malformed value must never reach `local[...]` or the bench JSON.
    */
  def parseCpus(raw: Option[String], nproc: Int): Int = raw match {
    case None => math.min(32, nproc)
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"),
    Runtime.getRuntime.availableProcessors())

  def local(app: String, cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // let AQE size the partitions INSIDE cached plans too (upstream
      // default false): a cached frame otherwise materializes at the
      // static spark.sql.shuffle.partitions and every downstream read
      // of it scans that many blocks. r15 A/B (32c, sf0.1, recorded in
      // SCALING_r15 §4): dedup_pagerank tasks 378 → 68 and taskSec
      // 29.8 → 5.1 with "true"; q_stream_funnel taskSec 25.8 → 15.3.
      // Scale-neutral: caches store advisory-sized partitions at any
      // corpus size.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
