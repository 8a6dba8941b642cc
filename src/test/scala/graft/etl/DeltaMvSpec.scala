package graft.etl

import java.nio.file.Files
import graft.TestSpark
import graft.operators.MaterializedAgg.{Count => MCount, Measure, Sum => MSum}
import graft.plans.MvRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Partial MVs with delta-aware refresh/routing: refresh folds only
  * uncovered dirs, routed queries merge stored rows with delta
  * partials and never re-read covered dirs, retired coverage falls
  * back to recompute.
  */
class DeltaMvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(StructField("g", StringType),
    StructField("v", LongType)))
  private val mvSchema = StructType(Seq(StructField("g", StringType),
    StructField("n", LongType), StructField("s", LongType)))
  private val keys = Seq("g")
  private val measures = Seq(Measure("n", lit(1), MCount),
    Measure("s", col("v"), MSum))

  private def freshWh() = new Warehouse(spark,
    Files.createTempDirectory("deltamv").toString,
    Map("t" -> schema, "mv" -> mvSchema),
    partitionSpec = Map.empty, bucketSpec = Map.empty)

  private def append(wh: Warehouse, rows: Seq[(String, Long)]): Unit = {
    val t = wh.begin(); t.append("t", rows.toDF("g", "v")); t.commit()
  }

  private def doRefresh(wh: Warehouse): Unit = {
    val t = wh.begin(); DeltaMv.refresh(wh, t, "t", "mv", keys, measures); t.commit()
  }

  private def scanned(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten.toSet

  private def viewRows(wh: Warehouse): Map[String, (Long, Long)] =
    wh.read("mv").collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("refresh folds only the delta; coverage tracks the base catalog") {
    val wh = freshWh()
    append(wh, Seq(("a", 1L), ("b", 10L)))
    doRefresh(wh)
    assert(viewRows(wh) == Map("a" -> (1L, 1L), "b" -> (1L, 10L)))
    val covered1 = DeltaMv.coverage(wh, "mv")
    assert(covered1 == wh.catalog()("t").toSet)

    append(wh, Seq(("a", 2L), ("c", 100L)))
    val deltaDir = (wh.catalog()("t").toSet -- covered1).head
    // between refreshes, the routed image is exactly current and its
    // plan scans the view + the delta dir — NOT the covered dir
    val img = DeltaMv.currentImage(wh, "t", "mv", keys, measures)
    val paths = scanned(img)
    assert(paths.contains(deltaDir), s"delta dir must be scanned: $paths")
    assert(covered1.intersect(paths).isEmpty,
      s"covered dirs must not be re-read: $paths")

    doRefresh(wh)
    assert(viewRows(wh) == Map("a" -> (2L, 3L), "b" -> (1L, 10L), "c" -> (1L, 100L)))
    assert(DeltaMv.coverage(wh, "mv") == wh.catalog()("t").toSet)
    // already current: refresh is a no-op (catalog unchanged)
    val before = wh.catalog()("mv")
    doRefresh(wh)
    assert(wh.catalog()("mv") == before, "no-op refresh must not rewrite the view")
  }

  test("routing merges stored rows with delta partials at exact and coarser grain") {
    val wh = freshWh()
    append(wh, (1 to 60).map(i => (s"g${i % 3}", i.toLong)))
    doRefresh(wh)
    append(wh, (61 to 90).map(i => (s"g${i % 3}", i.toLong)))
    val covered = DeltaMv.coverage(wh, "mv")
    MvRewrite.registerWarehouseDelta(wh, "t", "mv", keys,
      Seq(MvRewrite.MeasureSig("n", "count", None),
        MvRewrite.MeasureSig("s", "sum", Some("v"))), measures)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ MvRewrite
    try {
      // exact grain (partial ⇒ must MERGE, not project)
      val q = wh.read("t").groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val paths = scanned(q)
      assert(covered.intersect(paths).isEmpty,
        s"routed plan must not scan covered base dirs: $paths")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = (1 to 90).groupBy(i => s"g${i % 3}")
        .map { case (g, is) => (g, is.size.toLong, is.map(_.toLong).sum) }.toSet
      assert(got == want, "routed answer must include the un-refreshed delta")

      // coarser grain (global) with a key filter
      val q2 = wh.read("t").filter(col("g") =!= "g0")
        .agg(sum(col("v")).as("s"))
      assert(covered.intersect(scanned(q2)).isEmpty)
      assert(q2.collect().head.getLong(0) ==
        (1 to 90).filter(i => i % 3 != 0).map(_.toLong).sum)
    } finally {
      spark.experimental.extraOptimizations = prev
      MvRewrite.clear()
    }
  }

  test("routing converges: re-applying the rule to its own output is a no-op") {
    // pre-refresh, currentImage FALLS BACK to a full recompute whose
    // shape matches the registry by construction (same base paths, same
    // keys/measures). Without the routed tag, every FixedPoint iteration
    // of the extraOptimizations batch re-rewrote that fallback into a
    // FRESH provider plan (canonically equal, instance-distinct), so the
    // batch never converged and burned maxIterations per query.
    val wh = freshWh()
    append(wh, Seq(("a", 1L), ("b", 2L)))
    MvRewrite.registerWarehouseDelta(wh, "t", "mv", keys,
      Seq(MvRewrite.MeasureSig("n", "count", None),
        MvRewrite.MeasureSig("s", "sum", Some("v"))), measures)
    try {
      val q = wh.read("t").groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val p0 = q.queryExecution.optimizedPlan // rule NOT registered here
      val p1 = MvRewrite(p0)
      assert(!p1.fastEquals(p0), "the covered aggregate must route")
      val p2 = MvRewrite(p1)
      assert(p2.fastEquals(p1),
        "the rule's own output must be a fixpoint, not a fresh rewrite")
    } finally MvRewrite.clear()
  }

  test("retired coverage falls back to recompute, then refresh rebuilds") {
    val wh = freshWh()
    append(wh, Seq(("a", 1L), ("b", 10L)))
    doRefresh(wh)
    // overwrite retires the covered dir: the view is no longer a
    // trustworthy partial of the current image
    val t = wh.begin(); t.overwrite("t", Seq(("a", 5L)).toDF("g", "v")); t.commit()
    val img = DeltaMv.currentImage(wh, "t", "mv", keys, measures)
      .groupBy("g").agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    assert(img.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      == Set(("a", 1L, 5L)), "fallback must answer from the current base image")
    doRefresh(wh)
    assert(viewRows(wh) == Map("a" -> (1L, 5L)))
    assert(DeltaMv.coverage(wh, "mv") == wh.catalog()("t").toSet)
  }

  test("a copied root keeps its coverage: refresh folds only the delta") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    def walk(p: Path): Seq[Path] = {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq finally st.close()
    }
    def fileKeys(dir: String): Set[AnyRef] =
      walk(Paths.get(dir)).filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => Files.readAttributes(p,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
    def bucketedWh(root: String) = new Warehouse(spark, root,
      Map("t" -> schema, "mv" -> mvSchema), partitionSpec = Map.empty,
      bucketSpec = Map("mv" -> ("g", 4)))

    val src = Files.createTempDirectory("deltamv-copy-src")
    val wh = bucketedWh(src.toString)
    append(wh, (0 until 8).map(i => (s"g$i", i.toLong)))
    doRefresh(wh)
    val dst = Files.createTempDirectory("deltamv-copy-dst").resolve("copy")
    walk(src).foreach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    walk(src).reverse.foreach(Files.delete)

    val copy = bucketedWh(dst.toString)
    assert(DeltaMv.coverage(copy, "mv").subsetOf(copy.catalog()("t").toSet),
      s"coverage must name the copy's base dirs: ${DeltaMv.coverage(copy, "mv")}")
    append(copy, Seq(("g0", 100L)))
    val viewBefore = fileKeys(copy.catalog()("mv").head)
    doRefresh(copy)
    assert(viewRows(copy) == (0 until 8).map(i =>
      s"g$i" -> (if (i == 0) (2L, 100L) else (1L, i.toLong))).toMap)
    // a delta fold rewrites only g0's bucket and hard-links the rest; a
    // full recompute would rewrite every bucket
    assert(fileKeys(copy.catalog()("mv").head).intersect(viewBefore).nonEmpty,
      "untouched view buckets must carry over from the covered view")
    assert(DeltaMv.coverage(copy, "mv") == copy.catalog()("t").toSet)
  }

  test("bucketed view: a delta refresh rewrites only the buckets its keys " +
    "hash to; untouched buckets hard-link byte-identically") {
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
    val wh = new Warehouse(spark,
      Files.createTempDirectory("deltamv-b").toString,
      Map("t" -> schema, "mv" -> mvSchema),
      partitionSpec = Map.empty,
      bucketSpec = Map("mv" -> ("g", nBuckets)))
    append(wh, (0 until 8).flatMap(i =>
      Seq((s"g$i", i.toLong), (s"g$i", i + 10L))))
    doRefresh(wh) // first refresh: full aggregate, seeds every bucket
    val dirAfter1 = wh.catalog()("mv").head

    append(wh, Seq(("g0", 100L), ("zz", 7L)))
    doRefresh(wh)
    val exp = (0 until 8).map(i =>
      s"g$i" -> (2L + (if (i == 0) 1L else 0L),
        2L * i + 10L + (if (i == 0) 100L else 0L))).toMap +
      ("zz" -> (1L, 7L))
    assert(viewRows(wh) == exp, "bucketed delta refresh changed the content")
    assert(DeltaMv.coverage(wh, "mv") == wh.catalog()("t").toSet,
      "coverage must advance through the bucket-pruned write")

    val dirAfter2 = wh.catalog()("mv").head
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

    // no-op refresh still writes nothing
    val catBefore = wh.catalog()("mv")
    doRefresh(wh)
    assert(wh.catalog()("mv") == catBefore,
      "no-op refresh must not rewrite the bucketed view")
  }
}
