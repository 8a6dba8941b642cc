package graft.streaming

import java.nio.file.Files
import graft.TestSpark
import graft.etl.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingestion into the transactional warehouse
  * (`StreamingOps.streamingFactIngest`): per-batch atomic append
  * commit, in-batch and against-table dedup, replay idempotence under
  * the same and under fresh checkpoints (the id anti-join catches what
  * a redelivery re-sends), and no commit for a batch with no fresh row.
  */
class StreamingFactIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val srcSchema = StructType(Seq(
    StructField("trans_id", StringType), StructField("amount", LongType)))

  private def drop(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("ing-stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  private def rows(wh: Warehouse): Map[String, Long] =
    wh.read("fact").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("batches append once each; duplicates drop in-batch, cross-batch, and on replay") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-ing").toString,
      Map("fact" -> srcSchema),
      partitionSpec = Map.empty,
      bucketSpec = Map("fact" -> ("trans_id", 4)))
    val srcDir = Files.createTempDirectory("ing-src").toString
    val ckpt = Files.createTempDirectory("ing-ckpt").toString
    def run(checkpoint: String): Unit =
      StreamingOps.streamingFactIngest(spark, wh, srcDir, srcSchema,
        "fact", "trans_id", checkpoint).awaitTermination()

    // batch 1: t2 duplicated IN the batch — deterministic first row
    // (min by remaining columns) survives
    drop(Seq(("t1", 10L), ("t2", 20L), ("t2", 99L)).toDF("trans_id", "amount"),
      srcDir, "b1")
    run(ckpt)
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L))

    // batch 2: t2 re-sent with a different amount — the table wins
    // (K8 semantics: fact ids are immutable); t3 is new
    drop(Seq(("t2", 555L), ("t3", 30L)).toDF("trans_id", "amount"), srcDir, "b2")
    run(ckpt)
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L, "t3" -> 30L))

    // restart with the SAME checkpoint and no new files: no-op commit-wise
    val cat = wh.catalog()
    run(ckpt)
    assert(wh.catalog() == cat, "no-input replay must not commit")

    // a NEW batch whose rows all dedup away commits no version
    val versions = wh.versions()
    drop(Seq(("t1", 1L), ("t3", 3L)).toDF("trans_id", "amount"), srcDir, "b2dup")
    run(ckpt)
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L, "t3" -> 30L))
    assert(wh.versions() == versions, "an all-duplicate batch must not commit")

    // a FRESH checkpoint redelivers everything as batch 0: the id
    // anti-join finds nothing fresh, so nothing commits
    val catBefore = wh.catalog()
    run(Files.createTempDirectory("ing-ckpt2").toString)
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L, "t3" -> 30L))
    assert(wh.catalog() == catBefore, "pure redelivery must not commit")

    // CHECKPOINT RESET with genuinely NEW data: batch ids restart at 0
    // but the batch carries a new file — a wholesale batch-id skip
    // would silently DROP t4. The dedup path must still run: t4 lands
    // and t1 does not duplicate.
    drop(Seq(("t4", 40L), ("t1", 777L)).toDF("trans_id", "amount"), srcDir, "b3")
    run(Files.createTempDirectory("ing-ckpt2b").toString)
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L, "t3" -> 30L, "t4" -> 40L),
      "checkpoint reset must not drop new data, nor duplicate old rows")

    // a third fresh checkpoint: the id anti-join still filters every
    // already-ingested row
    run(Files.createTempDirectory("ing-ckpt3").toString)
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L, "t3" -> 30L, "t4" -> 40L),
      "fresh-checkpoint replay must not duplicate rows")
  }

  test("torn batch — crash between append and commit — replays exactly-once") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-torn").toString,
      Map("fact" -> srcSchema),
      partitionSpec = Map.empty,
      bucketSpec = Map("fact" -> ("trans_id", 4)))
    val srcDir = Files.createTempDirectory("torn-src").toString
    drop(Seq(("t1", 10L), ("t2", 20L)).toDF("trans_id", "amount"), srcDir, "b1")

    // simulate the crash WINDOW the dedup guard covers:
    // the batch body ran txn.append (data dir ON DISK) but died before
    // txn.commit — the dir exists, the catalog never references it
    val torn = wh.begin()
    torn.append("fact", graft.etl.Pipeline.freshAgainstTable(torn, "fact",
      spark.read.schema(srcSchema).parquet(srcDir), "trans_id"))
    // (no commit — the process is gone)
    assert(wh.read("fact").count() == 0, "uncommitted append must be invisible")

    // restart: the stream redelivers the same files as a fresh batch
    StreamingOps.streamingFactIngest(spark, wh, srcDir, srcSchema,
      "fact", "trans_id",
      Files.createTempDirectory("torn-ckpt").toString).awaitTermination()
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L), "exactly-once after the torn run")

    // the torn attempt's orphan dir is unreferenced -> vacuum reclaims it
    assert(wh.vacuum(graceMs = 0L) >= 1, "torn append's dir must be vacuumable")
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L))

    // and a SECOND crash-replay over the now-committed table adds nothing
    drop(Seq(("t1", 10L), ("t3", 30L)).toDF("trans_id", "amount"), srcDir, "b2")
    val torn2 = wh.begin()
    torn2.append("fact", graft.etl.Pipeline.freshAgainstTable(torn2, "fact",
      spark.read.schema(srcSchema).parquet(srcDir), "trans_id"))
    // crash again; then the stream replays EVERYTHING from a reset
    // checkpoint (ids restart at 0): only t3 lands
    StreamingOps.streamingFactIngest(spark, wh, srcDir, srcSchema,
      "fact", "trans_id",
      Files.createTempDirectory("torn-ckpt2").toString).awaitTermination()
    assert(rows(wh) == Map("t1" -> 10L, "t2" -> 20L, "t3" -> 30L),
      "second torn run + checkpoint reset must stay exactly-once")
  }
}
