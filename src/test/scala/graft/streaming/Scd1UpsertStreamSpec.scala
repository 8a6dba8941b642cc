package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.TestSpark
import graft.etl.{Scd1, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class Scd1UpsertStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dimSchema = StructType(Seq(
    StructField("k", StringType),
    StructField("a", StringType),
    StructField("create_dt", TimestampType),
    StructField("update_dt", TimestampType),
    StructField("processed_dt", TimestampType)))
  private val srcSchema = StructType(dimSchema.fields.dropRight(1))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def delta(rows: (String, String, String, Option[String])*): DataFrame =
    rows.map(r => (r._1, r._2, ts(r._3), r._4.map(ts).orNull))
      .toDF("k", "a", "create_dt", "update_dt")

  /** Land a delta as ONE flat parquet file in the watched dir (the file
    * source does not recurse into write-output subdirectories).
    */
  private def drop(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("cdc-stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  test("streamed CDC upserts == sequential batch merges; restart is a no-op") {
    val whRoot = Files.createTempDirectory("wh-stream").toString
    val srcDir = Files.createTempDirectory("cdc-src").toString
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    val wh = new Warehouse(spark, whRoot, Map("dim_test" -> dimSchema))

    // batch 1: two inserts (one key appears TWICE in the batch — the
    // in-batch compaction must keep the later row)
    drop(delta(
      ("k1", "v1", "2021-02-01 00:00:00", None),
      ("k2", "stale", "2021-02-01 00:00:00", None),
      ("k2", "v2", "2021-02-01 00:00:00", Some("2021-02-02 00:00:00"))),
      srcDir, "b1")
    val q1 = StreamingOps.scd1UpsertStream(spark, wh, srcDir, srcSchema,
      "dim_test", Seq("k"), Seq("a"), ckpt)
    q1.awaitTermination()

    val after1 = wh.read("dim_test").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after1 == Map("k1" -> "v1", "k2" -> "v2"))

    // restart with NO new files: checkpoint makes it a no-op
    val catalogBefore = wh.catalog()
    val q2 = StreamingOps.scd1UpsertStream(spark, wh, srcDir, srcSchema,
      "dim_test", Seq("k"), Seq("a"), ckpt)
    q2.awaitTermination()
    assert(wh.catalog() == catalogBefore, "replay without new input must not commit")

    // batch 2: update k1, new k3; k2 untouched (incremental semantics:
    // absence means unchanged, never delete)
    drop(delta(
      ("k1", "v1x", "2021-02-01 00:00:00", Some("2021-02-10 00:00:00")),
      ("k3", "v3", "2021-02-10 00:00:00", None)),
      srcDir, "b2")
    val q3 = StreamingOps.scd1UpsertStream(spark, wh, srcDir, srcSchema,
      "dim_test", Seq("k"), Seq("a"), ckpt)
    q3.awaitTermination()

    val got = wh.read("dim_test").orderBy("k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(3))).toSeq

    // reference: the same deltas applied as sequential BATCH merges
    val m1 = Scd1.mergeAudit(
      wh.emptyDf("dim_test"),
      delta(("k1", "v1", "2021-02-01 00:00:00", None),
        ("k2", "v2", "2021-02-01 00:00:00", Some("2021-02-02 00:00:00"))),
      Seq("k"), Seq("a"), ts("2021-03-01 00:00:00"), deletesVisible = false)
    val m2 = Scd1.mergeAudit(m1,
      delta(("k1", "v1x", "2021-02-01 00:00:00", Some("2021-02-10 00:00:00")),
        ("k3", "v3", "2021-02-10 00:00:00", None)),
      Seq("k"), Seq("a"), ts("2021-03-01 00:00:02"), // batchId 2 under this ckpt
      deletesVisible = false)
    val want = m2.orderBy("k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(3))).toSeq

    assert(got == want)
  }
}
