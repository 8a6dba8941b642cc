package graft.streaming

import java.nio.file.Files
import graft.TestSpark
import graft.etl.{ChangeFeed, Warehouse}
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** r14: the MULTIMODAL twin of [[MaintainedCensusSpec]] — the image
  * aHash store's band census is maintained store-side by
  * [[StreamingOps.changeFeedImageHashStoreCensus]] instead of being
  * re-aggregated from the stored bands per call. Pins:
  *
  *  - after EVERY micro-batch (insert wave, delete wave, payload
  *    update wave) the maintained per-bucket counts equal a cold
  *    census of [[Multimodal.hashBands]] over the store, and the
  *    maintained histogram equals the counts' size distribution;
  *  - the cap [[Dedup.capFromMaintainedCensus]] derives from the
  *    maintained tables equals [[Dedup.autoBucketCap]]'s full
  *    recompute over the store's bands, and
  *    [[Multimodal.imageHashPairsWithCap]] at that cap returns
  *    EXACTLY the pairs of the recomputing [[Multimodal.imageHashPairs]]
  *    default (the bit-equality that lets image near-dup ingestion
  *    skip the full-store aggregation);
  *  - full redelivery (fresh checkpoint, whole log) leaves the census
  *    tables unchanged — add/remove band deltas cancel exactly;
  *  - the aHash store itself equals a cold [[Multimodal.imageAHash]] of
  *    the final image, as the plain consumer's does.
  */
class MaintainedImageCensusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val countsSchema = StructType(Seq(
    StructField("bkey", StringType), StructField("cnt", LongType)))
  private val histSchema = StructType(Seq(
    StructField("bn", LongType), StructField("k", LongType)))

  // media payloads derive deterministically from a SOURCE id; an UPDATE
  // re-sources a doc's payload from src = id+3 (≡ 0 mod 3: fmt stable,
  // never wav) and a PLANTED DUP re-ids doc 0's payload as 100 — a
  // guaranteed Hamming-0 pair, so the pairs-equality pin is non-trivial
  private def media(ids: Seq[Long], resourced: Set[Long] = Set.empty,
                    plantDup: Boolean = false): DataFrame = {
    import spark.implicits._
    val base = Multimodal.attachMediaPayload(
      ids.filterNot(resourced).toDF("doc_id"))
    val withUpd =
      if (resourced.isEmpty) base
      else base.unionByName(Multimodal.attachMediaPayload(
          resourced.toSeq.map(_ + 3).toDF("doc_id"))
        .select((col("doc_id") - 3).as("doc_id"), col("fmt"), col("payload")))
    if (!plantDup) withUpd
    else withUpd.unionByName(Multimodal.attachMediaPayload(
        Seq(0L).toDF("doc_id"))
      .select((col("doc_id") + 100L).as("doc_id"), col("fmt"), col("payload")))
  }

  private def coldCounts(store: DataFrame): Map[String, Long] =
    Multimodal.hashBands(store).groupBy("bkey").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The store the census rides on is the plain consumer's: a cold
    * [[Multimodal.imageAHash]] of the final image's non-wav media.
    */
  private def assertStoreIsCold(wh: Warehouse, finalImg: DataFrame, tag: String): Unit = {
    val streamed = wh.read("hashstore").collect().map(_.toString).sorted.toSeq
    val cold = Multimodal.imageAHash(finalImg.filter(col("fmt") =!= "wav"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == cold, s"$tag: store != cold rebuild")
  }

  test("maintained image-band counts+histogram track the store exactly; " +
    "derived cap matches the recompute and the cap-supplied pairs match; " +
    "redelivery is a census no-op") {
    val mediaSchema = media(Seq(0L)).schema
    val v1Ids = 0L to 20L
    val v2Ids = (0L to 24L).filterNot(_ == 9L)
    val v3Ids = (0L to 26L).filterNot(_ == 9L)
    val bump = Set(12L)

    val src = new Warehouse(spark,
      Files.createTempDirectory("mic-src").toString,
      Map("media" -> mediaSchema), partitionSpec = Map.empty,
      bucketSpec = Map("media" -> ("doc_id", 4)))
    Seq(media(Nil), media(v1Ids), media(v2Ids),
        media(v3Ids, bump, plantDup = true))
      .foreach { d => val t = src.begin(); t.overwrite("media", d); t.commit() }
    val logDir = Files.createTempDirectory("mic-log").toString
    ChangeFeed.materializeLog(src, "media", Seq("doc_id"), logDir)

    val storeSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fmt", StringType),
      StructField("width", LongType), StructField("height", LongType)) ++
      (0 until 4).map(j => StructField(s"b$j", LongType)))
    val wh = new Warehouse(spark,
      Files.createTempDirectory("mic-idx").toString,
      Map("hashstore" -> storeSchema, "bandcounts" -> countsSchema,
        "bandhist" -> histSchema),
      partitionSpec = Map.empty,
      bucketSpec = Map("hashstore" -> ("doc_id", 4),
        "bandcounts" -> ("bkey", 4)))
    locally {
      val t = wh.begin()
      Seq("hashstore", "bandcounts", "bandhist").foreach(tb =>
        t.overwrite(tb, wh.emptyDf(tb)))
      t.commit()
    }
    val ckpt = Files.createTempDirectory("mic-ck").toString
    def drain(ck: String): Unit =
      StreamingOps.changeFeedImageHashStoreCensus(spark, wh, "hashstore",
        "bandcounts", "bandhist", mediaSchema, logDir, ck)

    def assertCensusExact(tag: String): Unit = {
      val cold = coldCounts(wh.read("hashstore"))
      val maintained = wh.read("bandcounts")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(maintained == cold, s"$tag: counts diverged from cold census")
      val coldHist = cold.values.groupBy(identity).map { case (bn, xs) =>
        bn -> xs.size.toLong }
      val hist = wh.read("bandhist")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hist == coldHist, s"$tag: histogram diverged ($hist vs $coldHist)")
    }

    // the log folds to one micro-batch per drain on a shared durable
    // checkpoint; interleave commits were already materialized above,
    // so drain everything and then pin census == cold at the final
    // image, plus per-wave via a fresh source replay below
    drain(ckpt)
    assertCensusExact("full drain")
    assertStoreIsCold(wh, media(v3Ids, bump, plantDup = true), "full drain")
    val store = wh.read("hashstore")
    assert(store.filter(col("fmt") === "wav").isEmpty, "wav payload hashed")
    assert(store.filter(col("doc_id") === 100L).count() == 1L,
      "planted dup image missing from store")

    // derived cap == full recompute over the store's bands, and the
    // cap-supplied pairs == the recomputing default's pairs exactly
    val hist = wh.read("bandhist")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val noIncoming = Multimodal.hashBands(store).select("bkey").limit(0)
    for (budget <- Seq(Dedup.DefaultCandidateBudget.get, 1)) {
      val cap = Dedup.capFromMaintainedCensus(hist, wh.read("bandcounts"),
        noIncoming, perDocBudget = budget)
      val recomputed = Dedup.autoBucketCap(Multimodal.hashBands(store),
        Seq("bkey"), budget, bandsPerDoc = 4)
      assert(cap == recomputed,
        s"budget $budget: maintained cap $cap != recomputed $recomputed")
    }
    val cap = Dedup.capFromMaintainedCensus(hist, wh.read("bandcounts"),
      noIncoming, perDocBudget = Dedup.DefaultCandidateBudget.get)
    val viaCap = Multimodal.imageHashPairsWithCap(store, cap)
      .collect().map(_.toString).sorted.toSeq
    val viaCensus = Multimodal.imageHashPairs(store)
      .collect().map(_.toString).sorted.toSeq
    assert(viaCap.nonEmpty && viaCap == viaCensus,
      "cap-supplied image pairs != census-recomputing pairs")
    assert(viaCap.exists(_.startsWith("[0,100,")),
      "planted Hamming-0 pair not found")

    // full redelivery: fresh checkpoint, whole log, census unchanged
    val before = (wh.read("bandcounts").collect().map(_.toString).sorted.toSeq,
      wh.read("bandhist").collect().map(_.toString).sorted.toSeq)
    drain(Files.createTempDirectory("mic-ck2").toString)
    assertCensusExact("redelivery")
    assertStoreIsCold(wh, media(v3Ids, bump, plantDup = true), "redelivery")
    val after = (wh.read("bandcounts").collect().map(_.toString).sorted.toSeq,
      wh.read("bandhist").collect().map(_.toString).sorted.toSeq)
    assert(after == before, "redelivery moved the census")
  }

  test("per-wave census exactness: interleaved commit->materialize->drain " +
    "keeps maintained == cold at every micro-batch") {
    val mediaSchema = media(Seq(0L)).schema
    val src = new Warehouse(spark,
      Files.createTempDirectory("micw-src").toString,
      Map("media" -> mediaSchema), partitionSpec = Map.empty,
      bucketSpec = Map("media" -> ("doc_id", 4)))
    locally { val t = src.begin(); t.overwrite("media", media(Nil)); t.commit() }
    val storeSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fmt", StringType),
      StructField("width", LongType), StructField("height", LongType)) ++
      (0 until 4).map(j => StructField(s"b$j", LongType)))
    val wh = new Warehouse(spark,
      Files.createTempDirectory("micw-idx").toString,
      Map("hashstore" -> storeSchema, "bandcounts" -> countsSchema,
        "bandhist" -> histSchema),
      partitionSpec = Map.empty,
      bucketSpec = Map("hashstore" -> ("doc_id", 4),
        "bandcounts" -> ("bkey", 4)))
    locally {
      val t = wh.begin()
      Seq("hashstore", "bandcounts", "bandhist").foreach(tb =>
        t.overwrite(tb, wh.emptyDf(tb)))
      t.commit()
    }
    val logDir = Files.createTempDirectory("micw-log").toString
    val ckpt = Files.createTempDirectory("micw-ck").toString

    def assertCensusExact(tag: String): Unit = {
      val cold = coldCounts(wh.read("hashstore"))
      val maintained = wh.read("bandcounts")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(maintained == cold, s"$tag: counts diverged from cold census")
      val coldHist = cold.values.groupBy(identity).map { case (bn, xs) =>
        bn -> xs.size.toLong }
      val hist = wh.read("bandhist")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hist == coldHist, s"$tag: histogram diverged")
    }

    Seq(("insert wave", media(0L to 20L)),
        ("delete wave", media((0L to 24L).filterNot(_ == 9L))),
        ("update wave", media((0L to 26L).filterNot(_ == 9L), Set(12L))))
      .foreach { case (tag, d) =>
        val t = src.begin(); t.overwrite("media", d); t.commit()
        ChangeFeed.materializeLog(src, "media", Seq("doc_id"), logDir)
        StreamingOps.changeFeedImageHashStoreCensus(spark, wh, "hashstore",
          "bandcounts", "bandhist", mediaSchema, logDir, ckpt)
        assertCensusExact(tag)
      }
    assertStoreIsCold(wh, media((0L to 26L).filterNot(_ == 9L), Set(12L)), "update wave")
  }
}
