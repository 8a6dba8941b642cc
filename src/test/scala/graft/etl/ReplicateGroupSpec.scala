package graft.etl

import java.nio.file.Files
import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `ChangeFeed.replicateGroup` — multi-table CDC replication with
  * cross-table transactional consistency. Pins:
  *
  *  - both tables replicate to the source images, and the foreign-key
  *    invariant (every order's customer exists) holds at EVERY
  *    observation point — the boundary independent per-table replicas
  *    lose;
  *  - exactly-once via the replica's transaction ids: a second catch-up
  *    with nothing new returns empty and commits nothing;
  *  - incremental: a later catch-up applies only the new transitions;
  *  - `throughVersion` caps the frontier for BOTH tables at once.
  */
class ReplicateGroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val custSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val ordSchema = StructType(Seq(
    StructField("oid", LongType), StructField("cust_id", LongType),
    StructField("amt", LongType)))

  private def cust(rows: (Long, String)*): DataFrame = rows.toDF("id", "name")
  private def ord(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("oid", "cust_id", "amt")

  // v2: delete cust 2 WITH its order 11 (the coordinated pair), rename
  // cust 1, add order 13; v3: insert cust 4 with order 14, update amt 12
  private val cust1 = cust((1L, "a"), (2L, "b"), (3L, "c"))
  private val ord1 = ord((10L, 1L, 100L), (11L, 2L, 200L), (12L, 3L, 300L))
  private val cust2 = cust((1L, "a2"), (3L, "c"))
  private val ord2 = ord((10L, 1L, 100L), (12L, 3L, 300L), (13L, 3L, 330L))
  private val cust3 = cust((1L, "a2"), (3L, "c"), (4L, "d"))
  private val ord3 = ord((10L, 1L, 100L), (12L, 3L, 301L), (13L, 3L, 330L),
    (14L, 4L, 400L))

  private def mkWh(tag: String): Warehouse = {
    val schemas = Map("cust" -> custSchema, "ord" -> ordSchema)
    new Warehouse(spark, Files.createTempDirectory(tag).toString, schemas,
      partitionSpec = Map.empty,
      bucketSpec = Map("cust" -> ("id", 4), "ord" -> ("oid", 4)))
  }

  private def commitBoth(wh: Warehouse, c: DataFrame, o: DataFrame): Unit = {
    val t = wh.begin(); t.overwrite("cust", c); t.overwrite("ord", o); t.commit()
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def noOrphans(wh: Warehouse): Boolean =
    wh.read("ord").join(wh.read("cust"),
      col("cust_id") === col("id"), "left_anti").isEmpty

  test("group catch-up replicates both tables atomically; FK holds at every observation") {
    val src = mkWh("rg-src")
    commitBoth(src, cust1, ord1); commitBoth(src, cust2, ord2)
    val custLog = Files.createTempDirectory("rg-clog").toString
    val ordLog = Files.createTempDirectory("rg-olog").toString
    ChangeFeed.materializeLog(src, "cust", Seq("id"), custLog)
    ChangeFeed.materializeLog(src, "ord", Seq("oid"), ordLog)

    val replica = mkWh("rg-dst")
    commitBoth(replica, cust1, ord1)
    val group = Seq(ChangeFeed.GroupTable("cust", Seq("id"), custLog),
      ChangeFeed.GroupTable("ord", Seq("oid"), ordLog))

    val applied = ChangeFeed.replicateGroup(replica, group)
    assert(applied.keySet == Set("cust", "ord") &&
      applied.values.forall(_.length == 1))
    assert(same(replica.read("cust"), cust2) && same(replica.read("ord"), ord2))
    assert(noOrphans(replica)) // cust 2 and order 11 left TOGETHER

    // exactly-once: nothing new → empty result, no commit
    val nCommits = replica.versions().length
    assert(ChangeFeed.replicateGroup(replica, group).isEmpty)
    assert(replica.versions().length == nCommits)

    // incremental: only the v3 transitions apply
    commitBoth(src, cust3, ord3)
    ChangeFeed.materializeLog(src, "cust", Seq("id"), custLog)
    ChangeFeed.materializeLog(src, "ord", Seq("oid"), ordLog)
    val applied2 = ChangeFeed.replicateGroup(replica, group)
    assert(applied2.values.forall(_.length == 1))
    assert(same(replica.read("cust"), cust3) && same(replica.read("ord"), ord3))
    assert(noOrphans(replica))
  }

  test("throughVersion caps the frontier for the whole group") {
    val src = mkWh("rg-src")
    commitBoth(src, cust1, ord1)
    val v1 = src.versions().last
    commitBoth(src, cust2, ord2)
    val v2 = src.versions().last
    commitBoth(src, cust3, ord3)
    val custLog = Files.createTempDirectory("rg-clog").toString
    val ordLog = Files.createTempDirectory("rg-olog").toString
    ChangeFeed.materializeLog(src, "cust", Seq("id"), custLog)
    ChangeFeed.materializeLog(src, "ord", Seq("oid"), ordLog)

    val replica = mkWh("rg-dst")
    commitBoth(replica, cust1, ord1)
    val group = Seq(ChangeFeed.GroupTable("cust", Seq("id"), custLog),
      ChangeFeed.GroupTable("ord", Seq("oid"), ordLog))

    // cap at v2: BOTH tables stop at the v2 images — a consistent
    // frontier even though both logs already hold v3
    ChangeFeed.replicateGroup(replica, group, throughVersion = Some(v2))
    assert(same(replica.read("cust"), cust2) && same(replica.read("ord"), ord2))
    assert(noOrphans(replica))
    assert(v1 < v2) // fixture sanity

    // lifting the cap finishes the catch-up from the applied versions
    ChangeFeed.replicateGroup(replica, group)
    assert(same(replica.read("cust"), cust3) && same(replica.read("ord"), ord3))
    assert(noOrphans(replica))
  }
}
