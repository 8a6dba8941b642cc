package graft.streaming

import java.nio.file.Files
import graft.TestSpark
import graft.etl.{ChangeFeed, Warehouse}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** r14 (r13 verdict item 2): the band bucket-size census is MAINTAINED
  * store-side instead of recomputed over the full store per batch.
  * [[StreamingOps.changeFeedSignatureStoreCensus]] keeps per-bucket
  * counts (bucketed by `bkey`) and the size histogram in the same
  * transaction as the signature store; pins:
  *
  *  - after EVERY micro-batch (insert wave, delete wave, update wave)
  *    the maintained counts equal a cold census of the store and the
  *    maintained histogram equals the counts' size distribution;
  *  - the cap [[Dedup.capFromMaintainedCensus]] derives for a next
  *    incoming batch equals [[Dedup.autoBucketCap]]'s full recompute
  *    over the combined (store + incoming) bands — the bit-equality
  *    that lets [[Dedup.incrementalNearDupsStoredWithCap]] skip the
  *    full-store aggregation with IDENTICAL output;
  *  - full redelivery (fresh checkpoint, whole log) leaves the census
  *    tables unchanged — add/remove band deltas cancel exactly;
  *  - the signature store itself equals a cold
  *    [[Dedup.signatureStore]] of the final image, as the plain
  *    consumer's does.
  */
class MaintainedCensusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val countsSchema = StructType(Seq(
    StructField("bkey", StringType), StructField("cnt", LongType)))
  private val histSchema = StructType(Seq(
    StructField("bn", LongType), StructField("k", LongType)))

  // small vocabulary + seed%5 templates -> real band collisions (bucket
  // sizes up to the template multiplicity), so the census is non-trivial
  private def words(seed: Long, extra: String = ""): String =
    (0 until 8).map(i => s"w${(seed % 5 * 13 + i * 7) % 23}").mkString(" ") + extra
  private def img(ids: Seq[Long], bump: Set[Long] = Set.empty): DataFrame = {
    val rows = ids.map(i => Row(i,
      if (bump(i)) words(i, " changed text here") else words(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSchema)
  }

  private def coldCounts(store: DataFrame): Map[String, Long] =
    Dedup.storeBands(store).groupBy("bkey").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("maintained counts+histogram track the store exactly; derived cap " +
    "matches the full recompute; redelivery is a census no-op") {
    val v1Ids = 0L to 20L
    val v2Ids = (0L to 24L).filterNot(_ == 9L)
    val finalBump = Set(13L)
    val v3Ids = (0L to 26L).filterNot(_ == 9L)

    val src = new Warehouse(spark,
      Files.createTempDirectory("mc-src").toString,
      Map("docs" -> docSchema), partitionSpec = Map.empty,
      bucketSpec = Map("docs" -> ("doc_id", 4)))
    locally { val t = src.begin(); t.overwrite("docs", img(Nil)); t.commit() }
    val storeSchema = StructType(StructField("doc_id", LongType) +:
      (0 until 8).map(j => StructField(s"m$j", LongType)))
    val wh = new Warehouse(spark,
      Files.createTempDirectory("mc-idx").toString,
      Map("sigstore" -> storeSchema, "bandcounts" -> countsSchema,
        "bandhist" -> histSchema),
      partitionSpec = Map.empty,
      bucketSpec = Map("sigstore" -> ("doc_id", 4), "bandcounts" -> ("bkey", 4)))
    locally {
      val t = wh.begin()
      Seq("sigstore", "bandcounts", "bandhist").foreach(tb =>
        t.overwrite(tb, wh.emptyDf(tb)))
      t.commit()
    }
    val logDir = Files.createTempDirectory("mc-log").toString
    val ckpt = Files.createTempDirectory("mc-ck").toString
    def drain(ck: String): Unit =
      StreamingOps.changeFeedSignatureStoreCensus(spark, wh, "sigstore",
        "bandcounts", "bandhist", docSchema, n = 3, logDir, ck)

    def assertCensusExact(tag: String): Unit = {
      val cold = coldCounts(wh.read("sigstore"))
      val maintained = wh.read("bandcounts")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(maintained == cold, s"$tag: counts diverged from cold census")
      val coldHist = cold.values.groupBy(identity).map { case (bn, xs) =>
        bn -> xs.size.toLong }
      val hist = wh.read("bandhist")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hist == coldHist, s"$tag: histogram diverged ($hist vs $coldHist)")
    }

    Seq(("insert wave", img(v1Ids)), ("delete wave", img(v2Ids)),
        ("update wave", img(v3Ids, finalBump))).foreach { case (tag, d) =>
      val t = src.begin(); t.overwrite("docs", d); t.commit()
      ChangeFeed.materializeLog(src, "docs", Seq("doc_id"), logDir)
      drain(ckpt)
      assertCensusExact(tag)
    }
    // the store the census rides on is the plain consumer's: a cold
    // signature store of the final image, row for row
    def assertStoreIsCold(tag: String): Unit = {
      val streamed = wh.read("sigstore").collect().map(_.toString).sorted.toSeq
      val cold = Dedup.signatureStore(img(v3Ids, finalBump), n = 3)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed.nonEmpty && streamed == cold, s"$tag: store != cold rebuild")
    }
    assertStoreIsCold("final image")

    // derived cap == full recompute for a NEXT incoming batch, and the
    // cap-supplied incremental run matches the recomputing one exactly
    val existing = img(v3Ids, finalBump)
    val incoming = img(100L to 112L)
    val store = wh.read("sigstore")
    val incomingBands = Dedup.storeBands(
      Dedup.signatureStore(incoming, 3)).select("bkey")
    val hist = wh.read("bandhist")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cap = Dedup.capFromMaintainedCensus(hist, wh.read("bandcounts"),
      incomingBands, perDocBudget = Dedup.DefaultCandidateBudget.get)
    val combined = store.unionByName(Dedup.signatureStore(incoming, 3))
    val recomputed = Dedup.autoBucketCap(Dedup.storeBands(combined),
      Seq("bkey"), Dedup.DefaultCandidateBudget.get, bandsPerDoc = 4)
    assert(cap == recomputed, s"maintained cap $cap != recomputed $recomputed")
    // ... and at a LOW budget too, where the census actually tightens
    val capLow = Dedup.capFromMaintainedCensus(hist, wh.read("bandcounts"),
      incomingBands, perDocBudget = 1)
    val recomputedLow = Dedup.autoBucketCap(Dedup.storeBands(combined),
      Seq("bkey"), 1, bandsPerDoc = 4)
    assert(capLow == recomputedLow && capLow < 256,
      s"low-budget cap $capLow != recomputed $recomputedLow (or never tightened)")

    val viaCap = Dedup.incrementalNearDupsStoredWithCap(store, existing,
        incoming, cap)
      .collect().map(_.toString).sorted.toSeq
    val viaCensus = Dedup.incrementalNearDupsStored(store, existing, incoming)
      .collect().map(_.toString).sorted.toSeq
    assert(viaCap.nonEmpty && viaCap == viaCensus,
      "cap-supplied incremental != census-recomputing incremental")

    // full redelivery: fresh checkpoint, whole log, census unchanged
    val before = (wh.read("bandcounts").collect().map(_.toString).sorted.toSeq,
      wh.read("bandhist").collect().map(_.toString).sorted.toSeq)
    drain(Files.createTempDirectory("mc-ck2").toString)
    assertCensusExact("redelivery")
    assertStoreIsCold("redelivery")
    val after = (wh.read("bandcounts").collect().map(_.toString).sorted.toSeq,
      wh.read("bandhist").collect().map(_.toString).sorted.toSeq)
    assert(after == before, "redelivery moved the census")
  }
}
