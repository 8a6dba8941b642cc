package graft.streaming

import java.nio.file.{Files, Path, Paths}
import graft.TestSpark
import graft.etl.{ChangeFeed, Scd1, Warehouse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** r14: the CDC store consumers' WRITE path is churn-sized, not
  * store-sized. Until r13 every micro-batch ended in a full-store
  * `txn.overwrite` — correct, invisible at test scale, fatal at 100 TB
  * (write bytes per batch ∝ store). Now the stores register in the
  * warehouse `bucketSpec` and each batch rewrites ONLY the key-hash
  * buckets its net delta touches ([[graft.etl.Txn.pruneAppendKeyed]]);
  * untouched buckets hard-link byte-identically into the fresh dir.
  * Pins:
  *
  *  - the streamed signature store still equals the cold rebuild when
  *    the store is BUCKETED (the gates hash this at sf0.01/sf1; here
  *    it's pinned at fixture scale with per-batch dir inspection);
  *  - across each micro-batch, every carried file is (a) a hard link
  *    of the previous dir's file (same filesystem fileKey), (b) byte-
  *    identical, and (c) in a bucket the batch's net delta did NOT
  *    touch — and every touched bucket's file is fresh;
  *  - the primitive honors gone/arrived independently (delete-only
  *    batches rewrite only the deleted keys' buckets);
  *  - the streamed SCD1 dim upsert writes NOTHING for a batch that
  *    changes no compared value (at-least-once replay of an applied
  *    delta), and hard-links untouched buckets otherwise.
  */
class StreamingChurnWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fileKey(p: Path): AnyRef =
    Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      .fileKey()

  private def dataFiles(dir: String): Map[String, Path] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => p.getFileName.toString -> p).toMap
  }

  private val bucketRe = """.*_(\d+)(?:\..*)?$""".r
  private def bucketOf(name: String): Int =
    name match { case bucketRe(b) => b.toInt }

  private def bucketsOf(keys: Seq[Long], n: Int): Set[Int] =
    keys.map(k =>
      spark.range(1).select(pmod(hash(lit(k)), lit(n))).head.getInt(0)).toSet

  /** Assert the transition oldDir -> newDir rewrote exactly `touched`:
    * carried files are hard-linked, byte-identical, and untouched;
    * touched buckets never carry.
    */
  private def assertChurnSized(oldDir: String, newDir: String,
                               touched: Set[Int], tag: String): Unit = {
    val before = dataFiles(oldDir)
    val after = dataFiles(newDir)
    val carried = after.filter { case (name, _) => before.contains(name) }
    carried.foreach { case (name, p) =>
      assert(!touched.contains(bucketOf(name)),
        s"$tag: touched bucket ${bucketOf(name)} was carried ($name)")
      assert(fileKey(p) == fileKey(before(name)),
        s"$tag: carried $name is a copy, not a hard link")
      assert(Files.mismatch(p, before(name)) == -1L,
        s"$tag: carried $name not byte-identical")
    }
    val untouchedBefore = before.keySet.filterNot(n => touched.contains(bucketOf(n)))
    assert(untouchedBefore.subsetOf(carried.keySet),
      s"$tag: untouched buckets ${untouchedBefore -- carried.keySet} were rewritten")
    val fresh = after.keySet -- carried.keySet
    assert(fresh.forall(n => touched.contains(bucketOf(n))),
      s"$tag: fresh file outside the touched set")
    // bounded multi-file buckets: a streaming-derived write may elide
    // the pre-write exchange and emit one file per union branch
    // (carried ∪ appended) for a touched bucket — never more
    fresh.groupBy(bucketOf).foreach { case (b, fs) =>
      assert(fs.size <= 2, s"$tag: touched bucket $b has ${fs.size} files ($fs)")
    }
  }

  test("changeFeedSignatureStore on a bucketed store: cold-rebuild equality " +
    "holds and each micro-batch hard-links every untouched bucket") {
    import graft.operators.Dedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def words(seed: Long, extra: String = ""): String =
      (0 until 8).map(i => s"w${(seed * 13 + i * 7) % 23}").mkString(" ") + extra
    def img(ids: Seq[Long], bump: Set[Long] = Set.empty): DataFrame = {
      val rows = ids.map(i => Row(i,
        if (bump(i)) words(i, " changed text here") else words(i)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSchema)
    }
    val v1Ids = 0L to 20L
    val v2Ids = (0L to 24L).filterNot(_ == 9L) // ins 21-24, del 9
    val finalBump = Set(13L)                   // upd 13 in v3
    val v3Ids = (0L to 26L).filterNot(_ == 9L) // ins 25-26
    val src = new Warehouse(spark,
      Files.createTempDirectory("churn-src").toString,
      Map("docs" -> docSchema), partitionSpec = Map.empty,
      bucketSpec = Map("docs" -> ("doc_id", 4)))
    locally { val t = src.begin(); t.overwrite("docs", img(Nil)); t.commit() }
    val logDir = Files.createTempDirectory("churn-log").toString
    val storeSchema = StructType(StructField("doc_id", LongType) +:
      (0 until 8).map(j => StructField(s"m$j", LongType)))
    val nBuckets = 4
    val storeWh = new Warehouse(spark,
      Files.createTempDirectory("churn-idx").toString,
      Map("sigstore" -> storeSchema), partitionSpec = Map.empty,
      bucketSpec = Map("sigstore" -> ("doc_id", nBuckets)))
    locally {
      val t = storeWh.begin()
      t.overwrite("sigstore", storeWh.emptyDf("sigstore")); t.commit()
    }
    // drain transition by transition on ONE durable checkpoint — the
    // continuous-consumer shape, so each transition is its own
    // micro-batch and its own store commit (AvailableNow over the
    // whole log would fold all three into one batch)
    val ckpt = Files.createTempDirectory("churn-ck").toString
    Seq(img(v1Ids), img(v2Ids), img(v3Ids, finalBump)).foreach { d =>
      val t = src.begin(); t.overwrite("docs", d); t.commit()
      ChangeFeed.materializeLog(src, "docs", Seq("doc_id"), logDir)
      StreamingOps.changeFeedSignatureStore(spark, storeWh, "sigstore",
        docSchema, n = 3, logDir, ckpt)
    }

    // correctness unchanged under the bucketed layout
    val streamed = storeWh.read("sigstore")
      .collect().map(_.toString).sorted.toSeq
    val cold = Dedup.signatureStore(img(v3Ids, finalBump), n = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == cold,
      "bucketed streamed store != cold rebuild")

    // one store commit per non-empty batch: seed + 3 transitions
    val vs = storeWh.versions()
    assert(vs.length == 4, s"expected 4 store versions, got $vs")
    def dirOf(v: Long): String = storeWh.catalogAsOf(v)("sigstore").head

    // batch 2 (v1->v2): del 9, ins 21-24 -> touched = buckets of those keys
    assertChurnSized(dirOf(vs(1)), dirOf(vs(2)),
      bucketsOf(Seq(9L, 21L, 22L, 23L, 24L), nBuckets), "batch v1->v2")
    // batch 3 (v2->v3): upd 13, ins 25-26
    val touched3 = bucketsOf(Seq(13L, 25L, 26L), nBuckets)
    assert(touched3.size < nBuckets,
      "fixture degenerate: batch 3 touches every bucket, nothing to carry")
    assertChurnSized(dirOf(vs(2)), dirOf(vs(3)), touched3, "batch v2->v3")
  }

  test("a bucketed store's batch whose net delta is empty touches no bucket: " +
    "the consumer discards its txn and commits no version") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def img(ids: Seq[Long]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, s"w$i w${i + 1} w${i + 2} w${i + 3}")), 2),
      docSchema)
    val src = new Warehouse(spark,
      Files.createTempDirectory("churn-empty-src").toString,
      Map("docs" -> docSchema), partitionSpec = Map.empty,
      bucketSpec = Map("docs" -> ("doc_id", 4)))
    locally { val t = src.begin(); t.overwrite("docs", img(Nil)); t.commit() }
    val storeSchema = StructType(StructField("doc_id", LongType) +:
      (0 until 8).map(j => StructField(s"m$j", LongType)))
    val storeWh = new Warehouse(spark,
      Files.createTempDirectory("churn-empty-idx").toString,
      Map("sigstore" -> storeSchema), partitionSpec = Map.empty,
      bucketSpec = Map("sigstore" -> ("doc_id", 4)))
    locally {
      val t = storeWh.begin()
      t.overwrite("sigstore", storeWh.emptyDf("sigstore")); t.commit()
    }
    val logDir = Files.createTempDirectory("churn-empty-log").toString
    val ckpt = Files.createTempDirectory("churn-empty-ck").toString
    def drain(): Unit = {
      ChangeFeed.materializeLog(src, "docs", Seq("doc_id"), logDir)
      StreamingOps.changeFeedSignatureStore(spark, storeWh, "sigstore",
        docSchema, n = 3, logDir, ckpt)
    }
    locally { val t = src.begin(); t.overwrite("docs", img(0L to 5L)); t.commit() }
    drain()
    val versions = storeWh.versions()
    val stored = storeWh.read("sigstore").collect().map(_.toString).sorted.toSeq
    assert(stored.size == 6)
    // doc 6 arrives and leaves inside the next drain's one micro-batch:
    // its net change is nothing, so no bucket is touched
    Seq(img(0L to 6L), img(0L to 5L)).foreach { d =>
      val t = src.begin(); t.overwrite("docs", d); t.commit()
    }
    drain()
    assert(storeWh.versions() == versions, "an empty slice must commit no version")
    assert(storeWh.read("sigstore").collect().map(_.toString).sorted.toSeq == stored)
  }

  test("pruneAppendKeyed: delete-only delta rewrites only the deleted keys' " +
    "buckets; unbucketed table falls back to a full overwrite") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    val wh = new Warehouse(spark,
      Files.createTempDirectory("churn-pak").toString,
      Map("t" -> schema, "u" -> schema), partitionSpec = Map.empty,
      bucketSpec = Map("t" -> ("id", 4)))
    val base = (0L until 32L).map(i => (i, i * 10L)).toDF("id", "v")
    locally {
      val t = wh.begin(); t.overwrite("t", base); t.overwrite("u", base)
      t.commit()
    }
    val oldDir = wh.catalog()("t").head
    val gone = Seq(7L).toDF("id")
    locally {
      val t = wh.begin()
      t.pruneAppendKeyed("t", "id", gone, base.limit(0))(identity)
      t.pruneAppendKeyed("u", "id", gone, base.limit(0))(identity)
      t.commit()
    }
    assert(wh.read("t").count() == 31L &&
      wh.read("t").filter(col("id") === 7L).isEmpty)
    assertChurnSized(oldDir, wh.catalog()("t").head,
      bucketsOf(Seq(7L), 4), "delete-only")
    // the unbucketed twin got the same rows through a full rewrite
    assert(wh.read("u").exceptAll(wh.read("t")).isEmpty &&
      wh.read("t").exceptAll(wh.read("u")).isEmpty)
  }

  test("the streamed SCD1 upsert's write path (Scd1.mergeAuditWarehouse) " +
    "on a bucketed dim: changed buckets rewrite, the rest hard-link, and a " +
    "no-change replay batch writes nothing") {
    val dimSchema = StructType(Seq(
      StructField("k", LongType), StructField("a", StringType),
      StructField("create_dt", TimestampType),
      StructField("update_dt", TimestampType),
      StructField("processed_dt", TimestampType)))
    val ts0 = java.sql.Timestamp.valueOf("2021-02-01 00:00:00")
    def delta(rows: (Long, String)*): DataFrame =
      rows.map(r => (r._1, r._2, ts0, null: java.sql.Timestamp))
        .toDF("k", "a", "create_dt", "update_dt")
    val nBuckets = 4
    val wh = new Warehouse(spark,
      Files.createTempDirectory("churn-scd1").toString,
      Map("dim_test" -> dimSchema), partitionSpec = Map.empty,
      bucketSpec = Map("dim_test" -> ("k", nBuckets)))
    val runTs = java.sql.Timestamp.valueOf("2021-03-01 00:00:00")
    def apply(d: DataFrame): Unit = {
      val t = wh.begin()
      Scd1.mergeAuditWarehouse(t, "dim_test", d, Seq("k"), Seq("a"), runTs,
        deletesVisible = false)
      t.commit()
    }
    apply(delta((0L until 16L).map(i => (i, s"v$i")): _*)) // seed inserts
    val seededDir = wh.catalog()("dim_test").head

    apply(delta((3L, "v3x"))) // one update
    val afterUpd = wh.catalog()("dim_test").head
    assert(afterUpd != seededDir, "update must commit a fresh dir")
    assertChurnSized(seededDir, afterUpd, bucketsOf(Seq(3L), nBuckets), "scd1 upd")
    assert(wh.read("dim_test").filter(col("k") === 3L)
      .head().getString(1) == "v3x")

    // replay of the already-applied delta: no compared value changes ->
    // changedKeyBuckets is empty -> NO write at all (same dir carried)
    apply(delta((3L, "v3x")))
    assert(wh.catalog()("dim_test").head == afterUpd,
      "no-change replay must not rewrite the dim")
  }
}
