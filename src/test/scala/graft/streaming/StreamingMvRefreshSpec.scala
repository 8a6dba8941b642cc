package graft.streaming

import java.nio.file.Files
import graft.TestSpark
import graft.etl.Warehouse
import graft.operators.MaterializedAgg
import graft.operators.MaterializedAgg._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StreamingMvRefreshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val srcSchema = StructType(Seq(
    StructField("g", StringType), StructField("v", LongType)))
  private val viewSchema = StructType(Seq(
    StructField("g", StringType), StructField("n", LongType),
    StructField("s", LongType), StructField("lo", LongType),
    StructField("hi", LongType)))

  private val measures = Seq(
    Measure("n", lit(1), Count), Measure("s", col("v"), Sum),
    Measure("lo", col("v"), Min), Measure("hi", col("v"), Max))

  private def drop(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("mv-stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  private def viewRows(wh: Warehouse) =
    wh.read("mv_view").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  private def expect(df: DataFrame) =
    MaterializedAgg.aggregate(df, Seq("g"), measures).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  test("streamed MV == batch aggregate; redelivered batches are skipped") {
    val whRoot = Files.createTempDirectory("wh-mv").toString
    val srcDir = Files.createTempDirectory("mv-src").toString
    val ckpt = Files.createTempDirectory("mv-ckpt").toString
    val wh = new Warehouse(spark, whRoot,
      Map("mv_view" -> viewSchema))

    def run(checkpoint: String): Unit = {
      val q = StreamingOps.streamingMvRefresh(spark, wh, srcDir, srcSchema,
        "mv_view", Seq("g"), measures, checkpoint)
      q.awaitTermination()
    }

    val b1 = Seq(("a", 1L), ("a", 5L), ("b", 2L)).toDF("g", "v")
    drop(b1, srcDir, "b1")
    run(ckpt)
    assert(viewRows(wh) == expect(b1))

    // restart, no new files: checkpoint makes it a no-op
    val catalogAfter1 = wh.catalog()
    run(ckpt)
    assert(wh.catalog() == catalogAfter1, "no-input replay must not commit")

    // second delta refreshes incrementally
    val b2 = Seq(("a", -3L), ("c", 7L)).toDF("g", "v")
    drop(b2, srcDir, "b2")
    run(ckpt)
    assert(viewRows(wh) == expect(b1.unionAll(b2)))

    // a FRESH checkpoint redelivers everything as batch 0 — the view's
    // transaction id (0 <= last applied id) must skip it, not double-count
    run(Files.createTempDirectory("mv-ckpt2").toString)
    assert(viewRows(wh) == expect(b1.unionAll(b2)),
      "redelivered batch must not be re-applied")
  }

  test("streaming upkeep of a QUANTILE view: streamed buckets == batch histogram") {
    val whRoot = Files.createTempDirectory("wh-qmv").toString
    val srcDir = Files.createTempDirectory("qmv-src").toString
    val ckpt = Files.createTempDirectory("qmv-ckpt").toString
    val qviewSchema = StructType(Seq(
      StructField("g", StringType), StructField("bucket", LongType),
      StructField("n", LongType)))
    val wh = new Warehouse(spark, whRoot,
      Map("q_view" -> qviewSchema))
    val cnt = Seq(Measure("n", lit(1), Count))
    val width = 10L

    def run(): Unit = {
      val q = StreamingOps.streamingMvRefresh(spark, wh, srcDir, srcSchema,
        "q_view", Seq("g", "bucket"), cnt, ckpt,
        prepare = b => b.withColumn("bucket",
          MaterializedAgg.bucketize(col("v"), width)))
      q.awaitTermination()
    }

    val b1 = (1L to 50L).map(i => ("a", i)).toDF("g", "v")
    drop(b1, srcDir, "b1")
    run()
    val b2 = (51L to 100L).map(i => ("a", i)).toDF("g", "v")
    drop(b2, srcDir, "b2")
    run()

    val streamed = MaterializedAgg.readQuantiles(wh.read("q_view"),
        Seq("g"), Seq(0.5, 0.9)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = MaterializedAgg.readQuantiles(
        MaterializedAgg.quantileView(b1.unionAll(b2), Seq("g"), "v", width),
        Seq("g"), Seq(0.5, 0.9)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == direct, "streamed histogram must equal the batch build")
    assert(streamed == Set(("a", 50L, 90L)))
  }

  test("bucketed view: a delta rewrites only the buckets its keys hash to; " +
    "untouched buckets hard-link byte-identically") {
    import java.nio.file.{Files => JFiles, Path, Paths}
    def fileKey(p: Path): AnyRef =
      JFiles.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    def dataFiles(dir: String): Map[String, Path] = {
      import scala.jdk.CollectionConverters._
      JFiles.list(Paths.get(dir)).iterator().asScala
        .filter(p => JFiles.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("_"))
        .map(p => p.getFileName.toString -> p).toMap
    }
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    def bucketOf(name: String): Int =
      name match { case bucketRe(b) => b.toInt }

    val nBuckets = 4
    val whRoot = Files.createTempDirectory("wh-bmv").toString
    val srcDir = Files.createTempDirectory("bmv-src").toString
    val ckpt = Files.createTempDirectory("bmv-ckpt").toString
    val wh = new Warehouse(spark, whRoot,
      Map("mv_view" -> viewSchema),
      partitionSpec = Map.empty,
      bucketSpec = Map("mv_view" -> ("g", nBuckets)))

    def run(): Unit = {
      val q = StreamingOps.streamingMvRefresh(spark, wh, srcDir, srcSchema,
        "mv_view", Seq("g"), measures, ckpt)
      q.awaitTermination()
    }

    // wave 1: 8 groups spread over the buckets
    val b1 = (0 until 8).flatMap(i =>
      Seq((s"g$i", i.toLong), (s"g$i", i + 10L))).toDF("g", "v")
    drop(b1, srcDir, "b1")
    run()
    assert(viewRows(wh) == expect(b1))
    val dirAfter1 = wh.catalog()("mv_view").head

    // wave 2: a delta touching TWO keys only (one existing, one new)
    val b2 = Seq(("g0", 100L), ("zz", 7L)).toDF("g", "v")
    drop(b2, srcDir, "b2")
    run()
    assert(viewRows(wh) == expect(b1.unionAll(b2)),
      "bucketed refresh changed the view's content")
    val dirAfter2 = wh.catalog()("mv_view").head
    assert(dirAfter2 != dirAfter1, "second refresh committed no view dir")

    val touched = Seq("g0", "zz").map(k =>
      spark.range(1).select(pmod(hash(lit(k)), lit(nBuckets))).head.getInt(0))
      .toSet
    val before = dataFiles(dirAfter1)
    val after = dataFiles(dirAfter2)
    val carried = after.filter { case (name, _) => before.contains(name) }
    carried.foreach { case (name, p) =>
      assert(!touched.contains(bucketOf(name)),
        s"touched bucket ${bucketOf(name)} was carried ($name)")
      assert(fileKey(p) == fileKey(before(name)),
        s"carried $name is a copy, not a hard link")
      assert(JFiles.mismatch(p, before(name)) == -1L,
        s"carried $name not byte-identical")
    }
    val untouchedBefore =
      before.keySet.filterNot(n => touched.contains(bucketOf(n)))
    assert(untouchedBefore.nonEmpty, "fixture degenerate: no untouched bucket")
    assert(untouchedBefore.subsetOf(carried.keySet),
      s"untouched buckets ${untouchedBefore -- carried.keySet} were rewritten")
    assert((after.keySet -- carried.keySet)
        .forall(n => touched.contains(bucketOf(n))),
      "fresh file outside the touched set")
  }
}
