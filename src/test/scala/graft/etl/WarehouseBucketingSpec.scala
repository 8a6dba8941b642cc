package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}
import graft.TestSpark
import graft.sources.BankSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bucketed dim layout, wired into the Warehouse (SURVEY §4 scale
  * note; the promise at Scd1.scala): the SCD1 merge plans with NO
  * dim-side Exchange, and the nightly overwrite rewrites ONLY the
  * buckets containing changed keys — untouched buckets' files carry
  * into the new immutable dir byte-identical.
  */
class WarehouseBucketingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val feb1 = Timestamp.valueOf("2021-02-01 00:00:00")
  private val mar1 = Timestamp.valueOf("2021-03-01 23:55:00")
  private val mar2 = Timestamp.valueOf("2021-03-02 23:55:00")

  private def clientRow(i: Int, phone: String = "+7 000") =
    (f"C$i%03d", s"Last$i", s"First$i", Some(s"Pat$i"), Date.valueOf("1980-01-01"),
      f"$i%04d 000000", Some(Date.valueOf("2030-01-01")), phone, feb1,
      None: Option[Timestamp])

  private def clientsDf(rows: Seq[(String, String, String, Option[String], Date,
    String, Option[Date], String, Timestamp, Option[Timestamp])]): DataFrame =
    ReplayFixtures.clientsDf(spark, rows)

  private def snapshotWithProcessed(df: DataFrame): DataFrame =
    df.withColumn("processed_dt", lit(mar2))

  private def parquetFiles(dir: String): Map[String, Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> p).toMap

  test("SCD1 merge against a bucketed dim plans with zero dim-side Exchange") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-plan").toString)
    val txn = wh.begin()
    txn.overwrite("dim_clients",
      snapshotWithProcessed(clientsDf((1 to 40).map(clientRow(_)))))
    txn.commit()

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at scale neither side broadcasts — that is the case the layout
    // exists for (locally the tiny snapshot would broadcast and hide
    // the shuffle this gate checks)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val snap = snapshotWithProcessed(clientsDf(
        (1 to 40).map(i => clientRow(i, if (i == 7) "+7 999" else "+7 000"))))
      val merged = Scd1.mergeAudit(wh.read("dim_clients"), snap,
        Seq("client_id"), Schemas.dimCompareCols("dim_clients"), mar2)
      val plan = merged.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"dim side should be a bucketed scan:\n$plan")
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"expected exactly ONE exchange (snapshot side only):\n$plan")

      // the other keyed-diff joins of a merge: the keyed diff joins the
      // source on the left, so its join's right child is the dim side,
      // which must be a bucketed scan with no Exchange beneath it
      val (keys, cmp) = (Seq("client_id"), Schemas.dimCompareCols("dim_clients"))
      def dimSides(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => dimSides(a.executedPlan)
        case q: QueryStageExec => dimSides(q.plan)
        case j: SortMergeJoinExec => Seq(j.right)
        case j: ShuffledHashJoinExec => Seq(j.right)
        case other => other.children.flatMap(dimSides)
      }
      def assertDimSideBucketed(what: String, plan: SparkPlan): Unit = {
        val sides = dimSides(plan).map(_.toString)
        assert(sides.size == 1, s"$what: expected one shuffled join:\n$plan")
        assert(sides.head.contains("SelectedBucketsCount") && !sides.head.contains("Exchange"),
          s"$what: dim side should be a bucketed scan with no Exchange:\n$plan")
      }
      assertDimSideBucketed("mergeAudit, full snapshot", merged.queryExecution.executedPlan)
      assertDimSideBucketed("mergeAudit, delta", Scd1.mergeAudit(wh.read("dim_clients"), snap,
        keys, cmp, mar2, deletesVisible = false).queryExecution.executedPlan)
      // changedKeyBuckets collects inside: read its join off the listener
      for (deletesVisible <- Seq(true, false)) {
        val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
        val listener = new QueryExecutionListener {
          def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
            if (funcName == "collect") plans.add(qe.executedPlan)
          def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          assert(Scd1.changedKeyBuckets(wh.read("dim_clients"), snap, keys, cmp, 16,
            deletesVisible).nonEmpty)
          val plan = plans.poll(30, java.util.concurrent.TimeUnit.SECONDS)
          assert(plan != null, "no plan reached the listener")
          assertDimSideBucketed(s"changedKeyBuckets(deletesVisible = $deletesVisible)", plan)
        } finally spark.listenerManager.unregister(listener)
      }

      // aggregation on the merge key rides the same layout
      val agg = wh.read("dim_clients").groupBy("client_id").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "groupBy on the bucket key should need no exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact repairs a pre-bucketSpec dir into the bucketed layout") {
    val root = Files.createTempDirectory("wh-bkt-migrate").toString
    // a warehouse written BEFORE the table had a bucketSpec: plain files
    val legacy = new Warehouse(spark, root, bucketSpec = Map.empty)
    val t0 = legacy.begin()
    t0.overwrite("dim_clients", snapshotWithProcessed(clientsDf((1 to 40).map(clientRow(_)))))
    t0.commit()
    val expected = legacy.read("dim_clients").collect().map(_.toSeq).toSet

    // reopened with today's bucketSpec: the documented repair route
    val wh = new Warehouse(spark, root)
    wh.compact("dim_clients")
    val got = wh.read("dim_clients")
    assert(got.collect().map(_.toSeq).toSet == expected, "repair must not change data")
    // the layout pays off where it matters: a bucket-key aggregation
    // plans with no Exchange (a bare scan "disables" bucketed reading
    // because nothing needs the partitioning — assert on the plan that
    // does)
    val agg = got.groupBy("client_id").count()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "post-repair bucket-key aggregation must need no exchange")
  }

  test("partial overwrite rewrites only touched buckets; the rest carry over byte-identical") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-part").toString)
    val seed = clientsDf((1 to 40).map(clientRow(_)))
    val t0 = wh.begin()
    t0.overwrite("dim_clients", snapshotWithProcessed(seed))
    t0.commit()
    val oldDir = wh.catalog()("dim_clients").head
    val oldFiles = parquetFiles(oldDir)
    val n = wh.bucketSpec("dim_clients")._2

    // day 2: update C007's phone, delete C013, insert C041
    val snap = clientsDf((1 to 41).filter(_ != 13)
      .map(i => clientRow(i, if (i == 7) "+7 999" else "+7 000")))
    val keys = Seq("client_id")
    val cmp = Schemas.dimCompareCols("dim_clients")
    val expected = Scd1.mergeAudit(wh.read("dim_clients"),
      snapshotWithProcessed(snap), keys, cmp, mar2)
      .collect().map(_.toSeq).toSet

    val txn = wh.begin()
    val touched = Scd1.changedKeyBuckets(txn.read("dim_clients"),
      snapshotWithProcessed(snap), keys, cmp, n, deletesVisible = true)
    assert(touched.nonEmpty && touched.length <= 3,
      s"3 changed keys must touch at most 3 of $n buckets, got ${touched.toSeq}")
    val inT = Warehouse.bucketOf(keys.map(col), n).isin(touched.toIndexedSeq: _*)
    txn.overwriteBuckets("dim_clients",
      Scd1.mergeAudit(txn.read("dim_clients").filter(inT),
        snapshotWithProcessed(snap).filter(inT), keys, cmp, mar2),
      touched.toIndexedSeq)
    txn.commit()

    // content: identical to the full (unpruned) merge
    val newDir = wh.catalog()("dim_clients").head
    assert(newDir != oldDir, "overwrite must land in a fresh immutable dir")
    assert(wh.read("dim_clients").collect().map(_.toSeq).toSet == expected)

    // layout: every untouched bucket's file is the SAME file (name and
    // bytes); only touched buckets got new files
    val newFiles = parquetFiles(newDir)
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    def bucketOf(name: String): Int = name match { case bucketRe(b) => b.toInt }
    val carried = newFiles.filter { case (name, _) => oldFiles.contains(name) }
    assert(carried.nonEmpty, "expected untouched bucket files to carry over")
    carried.foreach { case (name, p) =>
      assert(!touched.contains(bucketOf(name)), s"touched bucket $name was carried")
      assert(Files.mismatch(p, oldFiles(name)) == -1L, s"$name not byte-identical")
    }
    newFiles.keys.filterNot(oldFiles.contains).foreach { name =>
      assert(touched.contains(bucketOf(name)), s"untouched bucket $name was rewritten")
    }
    // every old untouched bucket is accounted for
    oldFiles.keys.filterNot(n => touched.contains(bucketOf(n))).foreach { name =>
      assert(newFiles.contains(name), s"untouched bucket file $name missing from new dir")
    }
  }

  test("a pipeline run with no dim changes writes nothing for that dim") {
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-skip").toString)
    val pipe = new Pipeline(spark, wh, Reports.Corrected)
    val bank = new BankSource {
      def clients(s: SparkSession): DataFrame = clientsDf((1 to 10).map(clientRow(_)))
      def accounts(s: SparkSession): DataFrame = ReplayFixtures.accountsDf(s,
        Seq(("A1", Date.valueOf("2030-01-01"), "C001", feb1, None: Option[Timestamp])))
      def cards(s: SparkSession): DataFrame = ReplayFixtures.cardsDf(s,
        Seq(("K1", "A1", feb1, None: Option[Timestamp])))
    }
    pipe.run(bank, None, mar1)
    val dirsAfter1 = wh.catalog()("dim_clients")
    pipe.run(bank, None, mar2) // identical snapshot: zero inserts/updates/deletes
    assert(wh.catalog()("dim_clients") == dirsAfter1,
      "an all-unchanged merge must not rewrite the dim")
    assert(wh.read("dim_clients").count() == 10)
    // the changed-bucket detection still catches the NEXT real change
    val bank3 = new BankSource {
      def clients(s: SparkSession): DataFrame =
        clientsDf((1 to 10).map(i => clientRow(i, if (i == 3) "+7 777" else "+7 000")))
      def accounts(s: SparkSession): DataFrame = bank.accounts(s)
      def cards(s: SparkSession): DataFrame = bank.cards(s)
    }
    pipe.run(bank3, None, Timestamp.valueOf("2021-03-03 23:55:00"))
    assert(wh.catalog()("dim_clients") != dirsAfter1)
    assert(wh.read("dim_clients").filter(col("client_id") === "C003")
      .head().getAs[String]("phone") == "+7 777")
  }

  test("fact compaction preserves the partitioned+bucketed layout") {
    // compact() routes through the same writeDataDir as appends, so the
    // merged dir must carry BOTH layout halves: date subdirs (pruning)
    // and bucket-id file names (the single-dir bucketed read path +
    // future co-located appends).
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-fact-compact").toString)
    import spark.implicits._
    def batch(ids: Range, day: Int): org.apache.spark.sql.DataFrame =
      ids.map(i => (s"T$i", Timestamp.valueOf(f"2021-03-0$day 10:00:00"),
          BigDecimal(i), s"K$i", "PAY", "OK", s"A$i"))
        .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type",
          "oper_result", "terminal")
    val t1 = wh.begin(); t1.append("fact_transactions", batch(1 to 50, 1)); t1.commit()
    val t2 = wh.begin(); t2.append("fact_transactions", batch(51 to 90, 2)); t2.commit()
    assert(wh.catalog()("fact_transactions").length == 2)

    wh.compact("fact_transactions")
    val dirs = wh.catalog()("fact_transactions")
    assert(dirs.length == 1)

    // both layout halves present in the merged dir
    val partDirs = Files.list(Paths.get(dirs.head)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq
    assert(partDirs.count(_.startsWith("trans_dt=")) == 2,
      s"expected two date partitions, got $partDirs")

    // single-dir steady state: the bucketed read satisfies a groupBy on
    // the dedup key with no Exchange, and rows survived intact
    assert(wh.read("fact_transactions").count() == 90)
    val agg = wh.read("fact_transactions").groupBy("trans_id").count()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      "groupBy on the bucket key should need no exchange after compaction")
  }

  test("a table bucketed by a column other than the merge key takes the whole-table path") {
    // Txn.keyedSlice prunes only when the bucket key IS the merge key:
    // touched buckets are computed in the merge key's hash space, the
    // carried-over files encode the bucket column's. Each keyed writer
    // runs once on a table bucketed by a NON-key column and once
    // unbucketed; the resulting rows must agree.
    import spark.implicits._
    val n = 4
    def tmp(tag: String): String = Files.createTempDirectory(tag).toString

    def nightly(spec: Map[String, (String, Int)]): DataFrame = {
      val wh = new Warehouse(spark, tmp("wh-guard-pipe"), bucketSpec = spec)
      val pipe = new Pipeline(spark, wh, Reports.Corrected)
      def bank(ids: Seq[Int], phone: Int => String) = new BankSource {
        def clients(s: SparkSession): DataFrame = clientsDf(ids.map(i => clientRow(i, phone(i))))
        def accounts(s: SparkSession): DataFrame = ReplayFixtures.accountsDf(s,
          Seq(("A1", Date.valueOf("2030-01-01"), "C001", feb1, None: Option[Timestamp])))
        def cards(s: SparkSession): DataFrame = ReplayFixtures.cardsDf(s,
          Seq(("K1", "A1", feb1, None: Option[Timestamp])))
      }
      pipe.run(bank(1 to 40, i => s"+7 00${i % 5}"), None, mar1)
      // night 2: update C007's phone, delete C013, insert C041
      pipe.run(bank((1 to 41).filter(_ != 13),
        i => if (i == 7) "+7 999" else s"+7 00${i % 5}"), None, mar2)
      wh.read("dim_clients")
    }

    val mergeSchema = new StructType().add("id", "long").add("v", "string")
    def mergeInto(spec: Map[String, (String, Int)]): DataFrame = {
      val wh = new Warehouse(spark, tmp("wh-guard-merge"), Map("t" -> mergeSchema),
        partitionSpec = Map.empty, bucketSpec = spec)
      val t0 = wh.begin()
      t0.overwrite("t", (1L to 12L).map(i => (i, s"v$i")).toDF("id", "v"))
      t0.commit()
      val txn = wh.begin()
      // one update, one insert: two keys leave most buckets untouched
      Merge.into(txn, "t", Seq((10L, "s10"), (13L, "s13")).toDF("id", "v"), Seq("id"),
        whenMatched = Seq(Merge.UpdateAll()), whenNotMatched = Seq(Merge.Insert()))
      txn.commit()
      wh.read("t")
    }

    val curSchema = new StructType().add("k", "string").add("a", "string")
      .add("valid_from", "timestamp")
    def scd2(spec: Map[String, (String, Int)]): DataFrame = {
      val wh = new Warehouse(spark, tmp("wh-guard-scd2"),
        Map("cur" -> curSchema, "closed" -> curSchema.add("valid_to", "timestamp")),
        partitionSpec = Map.empty, bucketSpec = spec)
      def load(rows: Seq[(String, String)], at: Timestamp): Unit =
        Scd2.mergeWarehouse(wh, "cur", "closed", rows.toDF("k", "a"), Seq("k"), Seq("a"), at)
      load((1 to 12).map(i => (s"k$i", s"a${i % 3}")), mar1)
      load((1 to 13).filter(_ != 5).map(i => (s"k$i", if (i == 7) "a9" else s"a${i % 3}")), mar2)
      Scd2.readHistory(wh, "cur", "closed")
    }

    val cases: Seq[(String, Map[String, (String, Int)], Map[String, (String, Int)],
        Map[String, (String, Int)] => DataFrame)] = Seq(
      ("Pipeline.run", Warehouse.defaultBuckets + ("dim_clients" -> ("phone", n)),
        Warehouse.defaultBuckets - "dim_clients", nightly),
      ("Merge.into", Map("t" -> ("v", n)), Map.empty, mergeInto),
      ("Scd2.mergeWarehouse", Map("cur" -> ("a", n)), Map.empty, scd2))
    // a multiset: a wrongly carried-over bucket shows up as duplicates
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val differing = cases.collect {
      case (name, mismatched, unbucketed, run) if rows(run(mismatched)) != rows(run(unbucketed)) =>
        name
    }
    assert(differing.isEmpty, "bucketed by a non-key column, these writers got other rows " +
      s"than on the unbucketed table: ${differing.mkString(", ")}")
  }

  test("a partial rewrite writes one stats sidecar that covers the whole dir") {
    import spark.implicits._
    def sidecar(dir: String): Seq[String] =
      Files.readAllLines(Paths.get(dir, "_graft_stats.tsv")).asScala.toSeq.sorted
    def assertWholeDir(dir: String): Unit = {
      val written = sidecar(dir)
      assert(written.map(_.split("\t")(0)).distinct.length ==
        parquetFilesDeep(dir).length, s"sidecar of $dir misses files")
      graft.sources.DataSkipping.writeSidecar(spark, dir)
      assert(written == sidecar(dir), s"sidecar of $dir differs from a fresh one")
    }
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-sidecar").toString)
    // the single-dir path (Txn.overwriteBuckets), one dim key changed
    val t1 = wh.begin()
    t1.overwrite("dim_clients", snapshotWithProcessed(clientsDf((1 to 40).map(clientRow(_)))))
    t1.commit()
    val t2 = wh.begin()
    Scd1.mergeAuditWarehouse(t2, "dim_clients", snapshotWithProcessed(clientsDf(
      (1 to 40).map(i => clientRow(i, if (i == 7) "+7 999" else "+7 000")))),
      Seq("client_id"), Schemas.dimCompareCols("dim_clients"), mar2, deletesVisible = true)
    t2.commit()
    assertWholeDir(wh.catalog()("dim_clients").head)

    // the multi-dir path (Txn.deleteWhere on the fact layout)
    def batch(ids: Range, day: Int): DataFrame =
      ids.map(i => (s"T$i", Timestamp.valueOf(f"2021-03-0$day 10:00:00"),
          BigDecimal(i), s"K$i", "PAY", "OK", s"A$i"))
        .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type",
          "oper_result", "terminal")
    val t3 = wh.begin(); t3.append("fact_transactions", batch(1 to 50, 1)); t3.commit()
    val t4 = wh.begin(); t4.append("fact_transactions", batch(51 to 90, 2)); t4.commit()
    val before = wh.catalog()("fact_transactions")
    val t5 = wh.begin(); t5.deleteWhere("fact_transactions", col("trans_id") === "T5"); t5.commit()
    val rewritten = wh.catalog()("fact_transactions").filterNot(before.contains)
    assert(rewritten.length == 1)
    assertWholeDir(rewritten.head)
  }

  test("a 3-bucket rewrite writes 3 bucket files in at most 3 tasks; 13 buckets hard-link") {
    import spark.implicits._
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-bkt-tasks").toString)
    val n = wh.bucketSpec("dim_clients")._2
    val t0 = wh.begin()
    t0.overwrite("dim_clients", snapshotWithProcessed(clientsDf((1 to 200).map(clientRow(_)))))
    t0.commit()
    val oldDir = wh.catalog()("dim_clients").head
    val oldFiles = parquetFiles(oldDir)
    assert(oldFiles.size == n, s"200 keys should fill all $n buckets")

    // three changed keys in three different buckets
    val bucketOfId = (1 to 200).map(i => f"C$i%03d").toDF("client_id")
      .select(col("client_id"), Warehouse.bucketOf(Seq(col("client_id")), n))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val changed = bucketOfId.groupBy(_._2).values.map(_.head).take(3).toMap
    assert(changed.size == 3)
    val snap = clientsDf((1 to 200).map(i =>
      clientRow(i, if (changed.contains(f"C$i%03d")) "+7 999" else "+7 000")))

    val writeStages = stagesOf {
      val txn = wh.begin()
      Scd1.mergeAuditWarehouse(txn, "dim_clients", snapshotWithProcessed(snap),
        Seq("client_id"), Schemas.dimCompareCols("dim_clients"), mar2, deletesVisible = true)
      txn.commit()
    }.filter(_._2 > 0L)
    assert(writeStages.nonEmpty && writeStages.forall(_._1 <= 3),
      s"the rewrite's write stage should run at most 3 tasks: $writeStages (tasks, records)")

    val newDir = wh.catalog()("dim_clients").head
    val newFiles = parquetFiles(newDir)
    val (linked, written) = newFiles.partition { case (name, p) =>
      oldFiles.get(name).exists(Files.isSameFile(p, _))
    }
    assert(written.size == 3 && linked.size == 13,
      s"expected 3 written bucket files and 13 hard links, got ${written.keys} / ${linked.size}")
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    assert(written.keys.map { case bucketRe(b) => b.toInt }.toSet == changed.values.toSet)
    assert(wh.read("dim_clients").filter(col("phone") === "+7 999")
      .select("client_id").as[String].collect().toSet == changed.keySet)
  }

  /** Fact rows `ids` on 2021-03-0`day`, cards K1..K4 and terminals
    * T1..T3 round-robin.
    */
  private def factBatch(ids: Seq[Int], day: Int): DataFrame = {
    import spark.implicits._
    ids.map(i => (f"T$i%03d", Timestamp.valueOf(f"2021-03-0$day ${10 + i % 10}:00:00"),
        BigDecimal(i), s"K${1 + i % 4}", "PAY", "OK", s"T${1 + i % 3}"))
      .toDF("trans_id", "trans_date", "amt", "card_num", "oper_type", "oper_result", "terminal")
  }

  /** The physical operators of a finished query, AQE stages included. */
  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The file scans of `plan` over `table`'s data dirs. */
  private def scansOf(plan: SparkPlan, table: String): Seq[FileSourceScanExec] =
    Plans.collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath.contains(s"/data/$table/")) => s
    }

  private def rootsOf(scan: FileSourceScanExec): Set[String] =
    scan.relation.location.rootPaths.map(p => Paths.get(p.toUri).toString).toSet

  test("fact dedup: zero fact-side shuffle in BOTH Bloom regimes, one bucketed scan " +
    "over every fact dir") {
    // Small delta (the common night): the Bloom prune below the join
    // shrinks the fact id set to delta size and it broadcasts — zero
    // shuffle anywhere. Big delta (broadcasts off — what the Bloom
    // auto-sizer declining on a huge batch leaves): a sort-merge anti
    // join against ONE bucketed scan of both fact dirs, whose
    // HashPartitioning(trans_id, n) comes from the files, so only the
    // staged batch exchanges, once.
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-fact-dedup").toString)
    val t1 = wh.begin(); t1.append("fact_transactions", factBatch(1 to 60, 1)); t1.commit()
    val t2 = wh.begin(); t2.append("fact_transactions", factBatch(61 to 120, 2)); t2.commit()
    val factDirs = wh.catalog()("fact_transactions").toSet
    assert(factDirs.size == 2)

    val txn = wh.begin()
    txn.overwrite("stg_transactions", factBatch(111 to 130, 3))   // 10 known, 10 fresh
    val pipe = new Pipeline(spark, wh)
    def freshPlan(): (Long, SparkPlan, String) = {
      val fresh = pipe.freshFactRows(txn, "fact_transactions", "stg_transactions", "trans_id")
      // collect() runs THIS frame's QueryExecution, so its adaptive plan
      // is the final one; the "Initial Plan" section is not what ran
      val n = fresh.collect().length.toLong
      val plan = fresh.queryExecution.executedPlan
      (n, plan, plan.toString.split("== Initial Plan ==")(0))
    }

    val (n1, _, p1) = freshPlan()
    assert(n1 == 10L)
    assert(p1.contains("BroadcastHashJoin") && p1.contains("LeftAnti"),
      s"pruned fact ids should broadcast into the anti join:\n$p1")
    assert(p1.contains("graft_bloom_might_contain"), s"Bloom prune missing below the join:\n$p1")
    assert(!p1.contains("Exchange hashpartitioning"),
      s"small-delta dedup must plan with no shuffle at all:\n$p1")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (n2, plan2, p2) = freshPlan()
      assert(n2 == 10L)
      assert(p2.contains("SortMergeJoin"), s"expected the SMJ fallback:\n$p2")
      assert("Exchange hashpartitioning".r.findAllIn(p2).size == 1,
        s"only the staged batch may shuffle (once):\n$p2")
      val scans = scansOf(plan2, "fact_transactions")
      assert(scans.size == 1 && scans.head.bucketedScan && rootsOf(scans.head) == factDirs,
        s"expected ONE bucketed fact scan over both dirs:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fact dedup sees the fact's deletion vectors: a vector-deleted id is fresh again") {
    // the dedup reads the fact through Txn.read, as every other reader
    // does, so a logically deleted row no longer blocks its id
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-fact-dedup-dv").toString)
    val t1 = wh.begin(); t1.append("fact_transactions", factBatch(1 to 60, 1)); t1.commit()
    val t2 = wh.begin(); t2.append("fact_transactions", factBatch(61 to 120, 2)); t2.commit()
    val t3 = wh.begin()
    assert(t3.deleteVectored("fact_transactions", col("trans_id").isin("T005", "T100")) == 2L)
    t3.commit()

    val txn = wh.begin()
    txn.overwrite("stg_transactions", factBatch((1 to 10) ++ (95 to 125), 3))
    val fresh = new Pipeline(spark, wh)
      .freshFactRows(txn, "fact_transactions", "stg_transactions", "trans_id")
    import spark.implicits._
    assert(fresh.select("trans_id").as[String].collect().sorted.toSeq ==
      Seq("T005", "T100", "T121", "T122", "T123", "T124", "T125"))
  }

  test("the report level broadcasts every dim into a plain, file-packed fact scan") {
    import spark.implicits._
    // two nights of a bucketed warehouse: four single-dir bucketed dims,
    // two bucketed fact dirs
    val wh = new Warehouse(spark, Files.createTempDirectory("wh-report-plan").toString)
    val t1 = wh.begin()
    t1.overwrite("dim_clients", snapshotWithProcessed(clientsDf((1 to 4).map(clientRow(_)))))
    t1.overwrite("dim_accounts", snapshotWithProcessed(ReplayFixtures.accountsDf(spark,
      (1 to 4).map(i => (s"A$i", Date.valueOf(if (i == 2) "2020-01-01" else "2030-01-01"),
        f"C$i%03d", feb1, None: Option[Timestamp])))))
    t1.overwrite("dim_cards", snapshotWithProcessed(ReplayFixtures.cardsDf(spark,
      (1 to 4).map(i => (s"K$i", s"A$i", feb1, None: Option[Timestamp])))))
    t1.overwrite("dim_terminals", snapshotWithProcessed((1 to 3).map(i =>
        (s"T$i", "POS", s"City$i", s"Street $i", feb1, None: Option[Timestamp]))
      .toDF("terminal_id", "terminal_type", "terminal_city", "terminal_address",
        "create_dt", "update_dt")))
    t1.append("fact_blacklist", Seq((feb1, "0001 000000")).toDF("entry_dt", "passport_num"))
    t1.append("fact_transactions", factBatch(1 to 60, 1))
    t1.commit()
    val t2 = wh.begin(); t2.append("fact_transactions", factBatch(61 to 120, 2)); t2.commit()
    val factDirs = wh.catalog()("fact_transactions").toSet
    assert(factDirs.size == 2)

    Seq(Reports.Faithful, Reports.Corrected).foreach { mode =>
      val rows = new Pipeline(spark, wh, mode).reportRows(wh.begin())
      assert(rows.collect().nonEmpty, mode)
      val plan = rows.queryExecution.executedPlan
      val text = plan.toString.split("== Initial Plan ==")(0)
      assert(Plans.collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, s"$mode:\n$text")
      assert(Plans.collect(plan) {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }.isEmpty, s"$mode: every report join should broadcast:\n$text")
      val broadcastScans = Plans.collect(plan) { case b: BroadcastExchangeLike =>
        Plans.collect(b) { case s: FileSourceScanExec => s } }.flatten
      Seq("dim_cards", "dim_accounts", "dim_clients", "dim_terminals").foreach { dim =>
        val scans = scansOf(plan, dim)
        assert(scans.nonEmpty && scans.forall(s => broadcastScans.exists(_ eq s)),
          s"$mode: $dim should enter only through a broadcast:\n$text")
      }
      val facts = scansOf(plan, "fact_transactions")
      assert(facts.nonEmpty && facts.forall(s => !s.bucketedScan && rootsOf(s) == factDirs),
        s"$mode: the fact should be read as plain scans over both dirs:\n$text")
      assert(!text.contains("SelectedBucketsCount"), s"$mode: no report read needs buckets:\n$text")
    }
  }

  /** (tasks, records written) of every stage `body` completes, read
    * through a SparkListener. A marker job after `body` flushes the
    * listener queue: its end arrives after every earlier event.
    */
  private def stagesOf(body: => Unit): Seq[(Int, Long)] = {
    import org.apache.spark.scheduler._
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val marker = "graft-stages-marker-" + java.util.UUID.randomUUID()
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) flushed.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.numTasks, e.stageInfo.taskMetrics.outputMetrics.recordsWritten))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "flush the listener queue")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never flushed")
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSeq
  }

  private def parquetFilesDeep(dir: String): Seq[Path] = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally st.close()
  }
}
