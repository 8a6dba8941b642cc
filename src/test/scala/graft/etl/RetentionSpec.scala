package graft.etl

import java.nio.file.{Files, Paths}
import graft.TestSpark
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `ChangeFeed.retention` — the policy driver that computes the safe
  * vacuum horizon as the MIN over consumer frontiers (group replicas'
  * transaction ids + streaming checkpoints' committed batches) instead of a
  * hand-passed `minConsumerApplied`. Pins:
  *
  *  - a stale consumer BLOCKS deletion (its future input is not
  *    garbage); an unstarted one pins the whole log;
  *  - the horizon advances as the slowest consumer catches up, and
  *    both consumer kinds still converge after each vacuum;
  *  - `CheckpointFrontier` reads the real Structured Streaming
  *    checkpoint ledgers (sources file log gated by commits/);
  *  - vacuumLog sweeps TORN dirs (crash-mid-vacuum leftovers) that
  *    `loggedVersions` no longer reports.
  */
class RetentionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("amt", LongType)))
  private val keys = Seq("id")

  private def img(rows: (Long, Long)*): DataFrame = rows.toDF("id", "amt")
  private val img1 = img((1L, 10L), (2L, 20L), (3L, 30L))
  private val img2 = img((1L, 10L), (2L, 21L), (4L, 40L)) // upd 2, del 3, ins 4
  private val img3 = img((1L, 11L), (2L, 21L), (4L, 40L), (5L, 50L))
  private val img4 = img((1L, 11L), (4L, 41L), (5L, 50L)) // del 2, upd 4

  private def mkWh(tag: String): Warehouse = {
    val schemas = Map("t" -> schema)
    new Warehouse(spark, Files.createTempDirectory(tag).toString, schemas,
      partitionSpec = Map.empty, bucketSpec = Map("t" -> ("id", 4)))
  }

  private def commit(wh: Warehouse, df: DataFrame): Unit = {
    val t = wh.begin(); t.overwrite("t", df); t.commit()
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Source with 4 committed images and a fully-materialized log. */
  private def sourceAndLog(): (Warehouse, String, Seq[Long]) = {
    val src = mkWh("ret-src")
    Seq(img1, img2, img3, img4).foreach(commit(src, _))
    val logDir = Files.createTempDirectory("ret-log").toString
    ChangeFeed.materializeLog(src, "t", keys, logDir)
    (src, logDir, src.versions())
  }

  test("retention stops at the slowest consumer and advances with it") {
    val (_, logDir, vs) = sourceAndLog()
    val Seq(_, v2, v3, v4) = vs

    // fast consumer: streaming replica drains the whole log
    val fast = mkWh("ret-fast")
    commit(fast, img1)
    val ckpt = Files.createTempDirectory("ret-ckpt").toString
    StreamingOps.changeFeedReplica(spark, fast, "t", keys, logDir, ckpt)
    assert(same(fast.read("t"), img4))
    assert(ChangeFeed.CheckpointFrontier(ckpt, logDir).frontier() == v4)

    // slow consumer: group replica capped at v2
    val slow = mkWh("ret-slow")
    commit(slow, img1)
    val group = Seq(ChangeFeed.GroupTable("t", keys, logDir))
    ChangeFeed.replicateGroup(slow, group, throughVersion = Some(v2))
    assert(ChangeFeed.ReplicaFrontier(slow, "t").frontier() == v2)

    val consumers = Seq(ChangeFeed.CheckpointFrontier(ckpt, logDir),
      ChangeFeed.ReplicaFrontier(slow, "t"))
    assert(ChangeFeed.retention(logDir, consumers) == Seq(v2),
      "horizon must stop at the SLOW consumer's watermark")
    assert(ChangeFeed.loggedVersions(logDir) == Seq(v3, v4))

    // the slow consumer still converges from what survived
    ChangeFeed.replicateGroup(slow, group)
    assert(same(slow.read("t"), img4))
    assert(ChangeFeed.ReplicaFrontier(slow, "t").frontier() == v4)

    // now everything through v3 is dead; v4 survives as high-water mark
    assert(ChangeFeed.retention(logDir, consumers) == Seq(v3))
    assert(ChangeFeed.loggedVersions(logDir) == Seq(v4))
    assert(ChangeFeed.retention(logDir, consumers).isEmpty) // idempotent
  }

  test("a consumer that applied nothing pins the whole log") {
    val (_, logDir, _) = sourceAndLog()
    val before = ChangeFeed.loggedVersions(logDir)

    // group replica that applied nothing: frontier unknown
    val idle = mkWh("ret-idle")
    assert(ChangeFeed.ReplicaFrontier(idle, "t").frontier() ==
      Long.MinValue)
    // streaming consumer whose checkpoint never committed a batch
    val ckpt = Files.createTempDirectory("ret-nockpt").toString
    assert(ChangeFeed.CheckpointFrontier(ckpt, logDir).frontier() ==
      Long.MinValue)

    assert(ChangeFeed.retention(logDir,
      Seq(ChangeFeed.ReplicaFrontier(idle, "t"),
        ChangeFeed.CheckpointFrontier(ckpt, logDir))).isEmpty)
    assert(ChangeFeed.loggedVersions(logDir) == before, "nothing deleted")
  }

  test("checkpoint frontier follows partial drains (prefix rule)") {
    val src = mkWh("ret-psrc")
    commit(src, img1); commit(src, img2)
    val Seq(_, v2) = src.versions()
    val logDir = Files.createTempDirectory("ret-plog").toString
    ChangeFeed.materializeLog(src, "t", keys, logDir)

    val rep = mkWh("ret-prep")
    commit(rep, img1)
    val ckpt = Files.createTempDirectory("ret-pckpt").toString
    StreamingOps.changeFeedReplica(spark, rep, "t", keys, logDir, ckpt)
    assert(ChangeFeed.CheckpointFrontier(ckpt, logDir).frontier() == v2)

    // two MORE transitions land after the drain: the frontier must hold
    // at v2 — the undrained tail is this consumer's future input
    commit(src, img3); commit(src, img4)
    ChangeFeed.materializeLog(src, "t", keys, logDir)
    val Seq(_, _, v3, v4) = src.versions()
    assert(ChangeFeed.CheckpointFrontier(ckpt, logDir).frontier() == v2)

    // drain the tail on the same checkpoint: frontier reaches the mark
    StreamingOps.changeFeedReplica(spark, rep, "t", keys, logDir, ckpt)
    assert(ChangeFeed.CheckpointFrontier(ckpt, logDir).frontier() == v4)
    assert(v3 > v2 && same(rep.read("t"), img4))
  }

  test("vacuumLog sweeps torn dirs a crash mid-vacuum left behind") {
    val (_, logDir, vs) = sourceAndLog()
    val Seq(_, v2, v3, _) = vs

    // simulate the crash: the marker (deleted FIRST by contract) is
    // gone, the part files survive — loggedVersions no longer reports
    // v2, but a markerless full-log drain would still glob its files
    Files.delete(Paths.get(logDir, s"t$v2", "_SUCCESS"))
    assert(ChangeFeed.loggedVersions(logDir) == Seq(v3, vs.last))
    assert(Files.isDirectory(Paths.get(logDir, s"t$v2")))

    // the re-run's horizon covers v3: the torn v2 dir sweeps with it
    assert(ChangeFeed.vacuumLog(logDir, v3, v3) == Seq(v3))
    assert(!Files.exists(Paths.get(logDir, s"t$v2")),
      "torn dir under the horizon must be swept")
    assert(!Files.exists(Paths.get(logDir, s"t$v3")))
    assert(ChangeFeed.loggedVersions(logDir) == Seq(vs.last))
  }

  test("an in-flight (unmarked) dir ABOVE the logged mark is never swept") {
    val (_, logDir, vs) = sourceAndLog()
    val inflight = Paths.get(logDir, s"t${vs.last + 1000}")
    Files.createDirectories(inflight)
    Files.write(inflight.resolve("part-00000.parquet"), Array[Byte](1, 2))
    ChangeFeed.vacuumLog(logDir, vs(2), vs(2))
    assert(Files.exists(inflight.resolve("part-00000.parquet")),
      "a catch-up's in-flight write must survive the vacuum")
  }

  test("checkpoint frontier reads THROUGH source-log compaction") {
    // r12: the frontier is read via Spark's own FileStreamSourceLog;
    // this pins the case the r11 regex parser was never proven on — a
    // ledger that has COMPACTED (a N.compact file restating all prior
    // entries, later deltas stacked on top), and a reader configured
    // with a DIFFERENT compact interval than the writer (the reader
    // must derive the writer's interval from the file names).
    val key = "spark.sql.streaming.fileSource.log.compactInterval"
    spark.conf.set(key, "3")
    try {
      val src = mkWh("ret-csrc")
      val rep = mkWh("ret-crep")
      val logDir = Files.createTempDirectory("ret-clog").toString
      val ckpt = Files.createTempDirectory("ret-cckpt").toString
      commit(src, img1)
      commit(rep, img1)
      // 6 one-transition drains → batches 0..5 → compacts at 2 and 5
      var last = img1
      (1 to 6).foreach { i =>
        last = img((1L, 10L + i), (2L, 20L + i), (6L, 60L + i))
        commit(src, last)
        ChangeFeed.materializeLog(src, "t", keys, logDir)
        StreamingOps.changeFeedReplica(spark, rep, "t", keys, logDir, ckpt)
      }
      val vs = src.versions()
      val ledger = Paths.get(ckpt, "sources", "0")
      val names = {
        val s = Files.list(ledger)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSet
        } finally s.close()
      }
      assert(names.exists(_.endsWith(".compact")),
        s"fixture must exercise a compacted ledger, got $names")
      assert(same(rep.read("t"), last))
      // read back under the DEFAULT interval (10): the writer used 3
      spark.conf.unset(key)
      assert(ChangeFeed.CheckpointFrontier(ckpt, logDir).frontier() ==
        vs.last)
      // retention through the compacted ledger: everything but the
      // newest transition is dead (the log holds transitions v2..v7 —
      // the seed commit v1 has no transition dir)
      assert(ChangeFeed.retention(logDir,
        Seq(ChangeFeed.CheckpointFrontier(ckpt, logDir))) == vs.tail.init)
      assert(ChangeFeed.loggedVersions(logDir) == Seq(vs.last))
    } finally spark.conf.unset(key)
  }

  test("retention demands a non-empty consumer set") {
    val (_, logDir, _) = sourceAndLog()
    intercept[IllegalArgumentException] {
      ChangeFeed.retention(logDir, Nil)
    }
  }
}
