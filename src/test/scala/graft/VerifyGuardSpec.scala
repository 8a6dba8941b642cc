package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.CacheManager
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-output dtype allow-list (round-8 lesson, generalized):
  * every query output must stay inside the families the external
  * comparator has hashed symmetrically in past driver rounds. DECIMAL
  * is proven hostile (18 red rows in round 8); float32 / binary /
  * nested types are unproven and each would gamble a round to find
  * out. Verify refuses to write anything outside the list, so a
  * regression fails every local replay and driver run loudly. Verify's
  * per-entry loop also releases each entry's caches.
  */
class VerifyGuardSpec extends AnyFunSuite {

  private def cols(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  test("the driver-proven families pass") {
    assert(Verify.driverUnsafeColumns(cols(
      "s" -> StringType, "i" -> IntegerType, "l" -> LongType,
      "d" -> DoubleType, "b" -> BooleanType, "dt" -> DateType,
      "ts" -> TimestampType)).isEmpty)
  }

  test("decimal, float32, binary, and nested outputs are refused") {
    assert(Verify.driverUnsafeColumns(cols("x" -> DecimalType(38, 6)))
      == Seq("x: decimal(38,6)"))
    assert(Verify.driverUnsafeColumns(cols("f" -> FloatType)).nonEmpty)
    assert(Verify.driverUnsafeColumns(cols("bin" -> BinaryType)).nonEmpty)
    assert(Verify.driverUnsafeColumns(cols(
      "arr" -> ArrayType(DoubleType))).nonEmpty)
    assert(Verify.driverUnsafeColumns(cols(
      "st" -> StructType(Seq(StructField("y", LongType))))).nonEmpty)
    // a decimal hiding inside an array is as hostile as a top-level one
    assert(Verify.driverUnsafeColumns(cols(
      "ad" -> ArrayType(DecimalType(18, 2)))).nonEmpty)
  }

  test("consecutive entries over one corpus never re-persist a cached plan") {
    // dedup_minhash and dedup_eval cache the same band and candidate
    // frames over the same documents; ann_autotune persists its lazy
    // build. Each entry's caches must be gone before the next one runs.
    val spark = TestSpark.spark
    val warned = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("double-persist", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("already cached"))
          warned.incrementAndGet()
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[CacheManager].getName)
      .asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    val out = java.nio.file.Files.createTempDirectory("verify-dump").toString
    try {
      for (q <- Seq("dedup_minhash", "dedup_eval", "ann_autotune")) {
        Verify.dumpQuery(spark, "/root/testdata/sf0.001", out, q)
        assert(new java.io.File(s"$out/$q/_SUCCESS").isFile, q)
        assert(spark.sharedState.cacheManager.isEmpty, q)
      }
    } finally logger.removeAppender(appender)
    assert(warned.get == 0)
  }

  // The suite-wide sweep (every SparkEntry output schema inside the
  // allow-list) lives in SuiteAuditSpec, which constructs each query
  // once and audits schema + plan together.
}
