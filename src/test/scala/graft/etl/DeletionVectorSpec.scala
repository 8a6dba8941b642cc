package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}
import graft.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** DELETION VECTORS (merge-on-read logical deletes): `Txn.deleteVectored`
  * tombstones (full file path, row position) pairs into delete-sized DV
  * dirs; every read entry point applies them as a broadcast anti-join;
  * overwrites/compaction MATERIALIZE them. The Delta/Iceberg trade: a
  * 100 TB table absorbs a point delete by writing O(deleted) tombstones
  * instead of rewriting data files.
  */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val feb1 = Timestamp.valueOf("2021-02-01 00:00:00")
  private val mar2 = Timestamp.valueOf("2021-03-02 23:55:00")

  private def clientRow(i: Int, phone: String = "+7 000") =
    (f"C$i%03d", s"Last$i", s"First$i", Some(s"Pat$i"), Date.valueOf("1980-01-01"),
      f"$i%04d 000000", Some(Date.valueOf("2030-01-01")), phone, feb1,
      None: Option[Timestamp])

  private def clients(is: Seq[Int]): DataFrame =
    ReplayFixtures.clientsDf(spark, is.map(clientRow(_)))
      .withColumn("processed_dt", lit(mar2))

  private def parquetFiles(dir: String): Map[String, Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> p).toMap

  private def freshWh(prefix: String, seed: Seq[Int] = 1 to 40): Warehouse = {
    val wh = new Warehouse(spark, Files.createTempDirectory(prefix).toString)
    val t = wh.begin()
    t.overwrite("dim_clients", clients(seed))
    t.commit()
    wh
  }

  private def ids(df: DataFrame): Set[String] =
    df.select("client_id").collect().map(_.getString(0)).toSet

  test("deleteVectored removes rows from every read path without touching data files") {
    val wh = freshWh("wh-dv-basic")
    val dataDir = wh.catalog()("dim_clients").head
    val before = parquetFiles(dataDir).map { case (n, p) =>
      n -> Files.getLastModifiedTime(p)
    }

    val t = wh.begin()
    val n = t.deleteVectored("dim_clients",
      substring(col("client_id"), 2, 3).cast("int") % 10 === 0)
    // txn's own read sees the pending delete; other readers do not yet
    assert(n == 4L, s"C010/C020/C030/C040 should tombstone, got $n")
    assert(ids(t.read("dim_clients")) ==
      (1 to 40).filter(_ % 10 != 0).map(i => f"C$i%03d").toSet)
    assert(ids(wh.read("dim_clients")).size == 40, "uncommitted DV must be invisible")
    t.commit()

    val expect = (1 to 40).filter(_ % 10 != 0).map(i => f"C$i%03d").toSet
    assert(ids(wh.read("dim_clients")) == expect, "read")
    assert(ids(wh.readRaw("dim_clients")) == expect, "readRaw")
    assert(ids(wh.readSkipping("dim_clients")._1) == expect, "readSkipping")
    assert(ids(wh.begin().read("dim_clients")) == expect, "Txn.read")

    // merge-on-read: the data dir and its files are untouched
    assert(wh.catalog()("dim_clients").head == dataDir)
    parquetFiles(dataDir).foreach { case (name, p) =>
      assert(Files.getLastModifiedTime(p) == before(name), s"$name was rewritten")
    }
    // and the DV side stays a BROADCAST anti-join over the bucketed
    // scan — the zero-Exchange property survives logical deletes
    val agg = wh.read("dim_clients").groupBy("client_id").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV application should be a broadcast left-anti:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucket-key aggregation must still need no exchange:\n$plan")
  }

  test("time travel sees the DV set as of the version; restore un-deletes") {
    val wh = freshWh("wh-dv-tt")
    val v1 = wh.versions().last
    val t = wh.begin()
    t.deleteVectored("dim_clients", col("client_id") === "C005")
    t.commit()
    val v2 = wh.versions().last
    assert(ids(wh.readAsOf("dim_clients", v1)).contains("C005"))
    assert(!ids(wh.readAsOf("dim_clients", v2)).contains("C005"))
    wh.restore(v1)
    assert(ids(wh.read("dim_clients")).contains("C005"), "restore must un-delete")
  }

  test("deleting the same predicate twice adds no tombstones; null predicate keeps") {
    val wh = freshWh("wh-dv-idem")
    val t1 = wh.begin()
    assert(t1.deleteVectored("dim_clients", col("client_id") === "C003") == 1L)
    t1.commit()
    val dvDirs1 = wh.catalog()(Warehouse.dvKey("dim_clients"))
    val t2 = wh.begin()
    assert(t2.deleteVectored("dim_clients", col("client_id") === "C003") == 0L,
      "already-tombstoned rows must not re-tombstone")
    // NULL predicate rows keep (SQL DELETE semantics)
    assert(t2.deleteVectored("dim_clients",
      when(col("client_id") === "C004", lit(null).cast("boolean"))
        .otherwise(col("client_id") === "C004")) == 0L)
    t2.commit()
    assert(wh.catalog()(Warehouse.dvKey("dim_clients")) == dvDirs1,
      "empty tombstone sets must not register DV dirs")
    assert(ids(wh.read("dim_clients")).contains("C004"))
  }

  test("partial bucket overwrite remaps surviving tombstones to the hard-linked files") {
    val wh = freshWh("wh-dv-remap")
    val keys = Seq("client_id")
    val cmp = Schemas.dimCompareCols("dim_clients")
    val nBuckets = wh.bucketSpec("dim_clients")._2

    // C013 is vector-deleted...
    val t0 = wh.begin()
    assert(t0.deleteVectored("dim_clients", col("client_id") === "C013") == 1L)
    t0.commit()

    // ...then a merge touches OTHER buckets only (C007's phone changes;
    // the snapshot agrees C013 is gone, so its bucket has no change)
    val snap = ReplayFixtures.clientsDf(spark,
        (1 to 40).filter(_ != 13)
          .map(i => clientRow(i, if (i == 7) "+7 999" else "+7 000")))
      .withColumn("processed_dt", lit(mar2))
    val txn = wh.begin()
    val touched = Scd1.changedKeyBuckets(txn.read("dim_clients"), snap,
      keys, cmp, nBuckets, deletesVisible = true)
    val bucket13 = spark.range(1).select(
      pmod(hash(lit("C013")), lit(nBuckets))).head().getInt(0)
    assume(!touched.contains(bucket13), "recipe must leave C013's bucket untouched")
    val inT = Warehouse.bucketOf(keys.map(col), nBuckets).isin(touched.toIndexedSeq: _*)
    txn.overwriteBuckets("dim_clients",
      Scd1.mergeAudit(txn.read("dim_clients").filter(inT), snap.filter(inT),
        keys, cmp, mar2),
      touched.toIndexedSeq)
    txn.commit()

    // C013 stays deleted even though its bucket's file was hard-linked
    // into a NEW dir (new full path — the remap is what keeps this true)
    val got = wh.read("dim_clients")
    assert(!ids(got).contains("C013"), "hard-linked bucket must keep its tombstone")
    assert(ids(got).size == 39)
    assert(got.filter(col("client_id") === "C007")
      .select("phone").head().getString(0) == "+7 999")
  }

  test("remap keys on dir-relative path: partitioned+bucketed tables don't fan tombstones to sibling partitions") {
    // Spark's bucketed writer emits the SAME part-file basename into
    // every dt= subdir a task touches (name = split + job UUID + bucket
    // id — no partition component). A basename-keyed remap would fan
    // one tombstone out to every same-named sibling file, deleting the
    // same row POSITION in other partitions. The remap must key on the
    // dir-RELATIVE path instead.
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string").add("ts", "timestamp")
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-dv-part").toString,
      schemas = Map("t" -> schema),
      partitionSpec = Map("t" -> ("dt", to_date(col("ts")))),
      bucketSpec = Map("t" -> ("id", 2)))
    import spark.implicits._
    val d1 = Timestamp.valueOf("2021-01-01 10:00:00")
    val d2 = Timestamp.valueOf("2021-01-02 10:00:00")
    val rows = for { i <- 1L to 8L; (d, tag) <- Seq((d1, "d1"), (d2, "d2")) }
      yield (i, s"a$i-$tag", d)
    val t0 = wh.begin()
    t0.overwrite("t", rows.toDF("id", "v", "ts"))
    t0.commit()

    // precondition: the layout really repeats basenames across dt= dirs
    val dataDir = wh.catalog()("t").head
    val byBase = Files.walk(Paths.get(dataDir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getFileName.toString)
    assume(byBase.values.exists(_.length > 1),
      "test requires same-basename files in sibling partitions")

    // victim: id=1's d1 row only (id=1's bucket stays untouched below)
    val nBuckets = 2
    val b1 = spark.range(1).select(pmod(hash(lit(1L)), lit(nBuckets))).head().getInt(0)
    val t1 = wh.begin()
    assert(t1.deleteVectored("t", col("id") === 1L && col("v") === "a1-d1") == 1L)
    t1.commit()

    // partial overwrite touching ONLY the other bucket
    val other = (0 until nBuckets).filter(_ != b1)
    val txn = wh.begin()
    val inT = Warehouse.bucketOf(Seq(col("id")), nBuckets).isin(other: _*)
    txn.overwriteBuckets("t",
      txn.read("t").filter(inT).withColumn("v", concat(col("v"), lit("!"))),
      other.toIndexedSeq)
    txn.commit()

    val got = wh.read("t").select("v").collect().map(_.getString(0)).toSet
    assert(!got.contains("a1-d1"), "hard-linked file must keep its tombstone")
    assert(got.contains("a1-d2"),
      "same position in the sibling partition's same-basename file must SURVIVE")
    assert(got.size == 15, s"exactly one row deleted, got ${got.size}: $got")
    val untouched = (1L to 8L).filter(i =>
      spark.range(1).select(pmod(hash(lit(i)), lit(nBuckets))).head().getInt(0) == b1)
    untouched.foreach { i =>
      if (i != 1L) assert(got.contains(s"a$i-d1") && got.contains(s"a$i-d2")) }
  }

  test("full overwrite and compact materialize DVs and clear the DV entry") {
    val wh = freshWh("wh-dv-compact")
    val t0 = wh.begin()
    t0.deleteVectored("dim_clients", col("client_id") === "C009")
    t0.commit()
    assert(wh.catalog().contains(Warehouse.dvKey("dim_clients")))

    wh.compact("dim_clients")
    assert(wh.catalog().getOrElse(Warehouse.dvKey("dim_clients"), Nil).isEmpty,
      "compaction must clear the DV entry")
    assert(!ids(wh.read("dim_clients")).contains("C009"),
      "materialized delete must hold after compaction")
    assert(ids(wh.read("dim_clients")).size == 39)
    // vacuum reclaims the retired DV dirs along with retired data dirs
    assert(wh.vacuum(graceMs = 0L) > 0)
    assert(!ids(wh.read("dim_clients")).contains("C009"))
  }

  test("appends after a DV are unaffected; DV composes with multi-dir facts") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string")
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-dv-app").toString,
      schemas = Map("t" -> schema),
      partitionSpec = Map.empty, bucketSpec = Map.empty)
    import spark.implicits._
    val t0 = wh.begin()
    t0.append("t", (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v"))
    t0.commit()
    val t1 = wh.begin()
    assert(t1.deleteVectored("t", col("id") <= 3L) == 3L)
    t1.append("t", (11L to 15L).map(i => (i, s"b$i")).toDF("id", "v"))
    t1.commit()
    assert(wh.read("t").select("id").collect().map(_.getLong(0)).toSet ==
      ((4L to 15L).toSet))
    // second DV batch over BOTH dirs
    val t2 = wh.begin()
    assert(t2.deleteVectored("t", col("id") % 2L === 0L) == 6L)
    t2.commit()
    assert(wh.read("t").select("id").collect().map(_.getLong(0)).toSet ==
      Set(5L, 7L, 9L, 11L, 13L, 15L))
  }

  private def twoRowWh(root: Path): Warehouse = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string")
    new Warehouse(spark, root.toString, schemas = Map("t" -> schema),
      partitionSpec = Map.empty, bucketSpec = Map.empty)
  }

  test("vector deletes stay deleted on a copied root once the original is gone") {
    import spark.implicits._
    val src = Files.createTempDirectory("wh-dv-copy-src")
    val wh = twoRowWh(src)
    val t0 = wh.begin(); t0.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t0.commit()
    val dims = new Warehouse(spark, src.toString) // bucketed dim path, same root
    val t1 = dims.begin(); t1.overwrite("dim_clients", clients(1 to 8)); t1.commit()
    val t2 = wh.begin()
    assert(t2.deleteVectored("t", col("id") === 1L) == 1L)
    t2.commit()
    val t2d = dims.begin()
    assert(t2d.deleteVectored("dim_clients", col("client_id") === "C005") == 1L)
    t2d.commit()

    val dst = Files.createTempDirectory("wh-dv-copy-dst").resolve("copy")
    def walk(p: Path): Seq[Path] = {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq finally st.close()
    }
    walk(src).foreach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    walk(src).reverse.foreach(Files.delete)

    val copy = twoRowWh(dst)
    assert(copy.read("t").select("id").collect().map(_.getLong(0)).toSeq == Seq(2L),
      "the copy must keep the vector delete")
    assert(ids(new Warehouse(spark, dst.toString).read("dim_clients")) ==
      (1 to 8).filter(_ != 5).map(i => f"C$i%03d").toSet)
    // a further delete on the copy composes with the copied tombstones
    val t3 = copy.begin()
    assert(t3.deleteVectored("t", col("id") >= 1L) == 1L)
    t3.commit()
    assert(copy.read("t").isEmpty)
  }

  test("a DV dir naming its files by absolute URI still deletes its rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh-dv-abs")
    val wh = twoRowWh(root)
    val t0 = wh.begin(); t0.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v")); t0.commit()
    // the tombstone form written before keys were relative to the root
    val tomb = spark.read.parquet(wh.catalog()("t").head).filter(col("id") === 1L)
      .select(col("_metadata.file_path").as(Warehouse.DvFile),
        col("_metadata.row_index").as(Warehouse.DvPos))
    assert(tomb.collect().forall(_.getString(0).startsWith("file:")))
    val dvDir = wh.newDataDir(Warehouse.dvKey("t"))
    tomb.write.parquet(dvDir)
    wh.commitCatalog(wh.catalog() + (Warehouse.dvKey("t") -> Seq(dvDir)))

    assert(wh.read("t").select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(wh.readRaw("t").select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    val t1 = wh.begin()
    assert(t1.read("t").count() == 1L)
    assert(t1.deleteVectored("t", col("id") === 1L) == 0L, "already deleted")
    assert(t1.deleteVectored("t", col("id") === 2L) == 1L)
    t1.commit()
    assert(wh.read("t").isEmpty)
  }
}
