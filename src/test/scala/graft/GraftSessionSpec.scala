package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session profile: the tests run under the settings the
  * correctness gate and the bench run under, and a malformed core count
  * fails loudly instead of reaching `local[...]` or the bench JSON.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session runs the gate's profile at local[8]") {
    val spark = TestSpark.spark
    def conf(k: String) = spark.conf.get(k)
    assert(spark.sparkContext.master == "local[8]")
    assert(conf("spark.sql.shuffle.partitions") == "8")
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
  }

  test("SPARK_GRAFT_CPUS: unset defaults to min(32, nproc); a positive integer is taken") {
    assert(GraftSession.parseCpus(None, 4) == 4)
    assert(GraftSession.parseCpus(None, 64) == 32)
    assert(GraftSession.parseCpus(Some("6"), 4) == 6)
    assert(GraftSession.parseCpus(Some(" 12 "), 4) == 12)
  }

  test("SPARK_GRAFT_CPUS: anything but a positive integer is rejected, naming the variable") {
    for (bad <- Seq("", "four", "4c", "0", "-2", "2.5", "local[4]")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
