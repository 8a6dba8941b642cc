package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSource, FileIndex, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col, hash, lit, pmod, substring_index, to_date}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Parquet-backed warehouse with snapshot-manifest semantics.
  *
  * The reference wraps its whole nightly run in ONE Postgres transaction
  * (`main.py:18`, single commit at `main.py:472`) — every table mutates or
  * none does. Vanilla Spark has no cross-table transaction, so the
  * warehouse uses the standard lakehouse trick: immutable data directories
  * plus a single atomically-swapped catalog file.
  *
  * Layout under `root/`:
  * {{{
  *   _catalog.json                      // table -> list of data dirs (the
  *                                      // ONLY mutable file; swapped via
  *                                      // ATOMIC_MOVE => all-or-nothing runs)
  *                                      // _txn_<appId> -> [its last version]
  *   data/<table>/<uuid>/part-*.parquet // immutable, write-once
  * }}}
  * The catalog and its `_versions/` snapshots name data dirs RELATIVE to
  * `root`, so a copied or moved root is a complete warehouse of its own;
  * every reader resolves them against `root` (absolute entries, as older
  * catalogs hold, read as they are).
  *
  * TRANSACTION IDS (Delta's `appId -> version`): a writer that applies
  * each batch exactly once stages the batch's version
  * ([[Txn.setTxnVersion]]) to commit in the same swap as its data, and
  * skips what [[Txn.txnVersion]] says is applied. An id is no dir,
  * guards only itself, rolls back with [[restore]] and is never cloned.
  *
  * Scale notes (100 TB): commits are O(1) metadata, appends never rewrite
  * existing data (a new data dir is referenced alongside the old ones —
  * daily fact batches land as their own directories, giving date-aligned
  * pruning for free), and overwrites retire directories logically
  * (`vacuum()` reclaims them). Readers always see the catalog as of their
  * `begin()`, i.e. snapshot isolation for the duration of a run. Every
  * commit also leaves an immutable numbered catalog snapshot under
  * `_versions/` — [[readAsOf]] replays any retained version (TIME
  * TRAVEL), and `vacuum(retainVersions)` sets the retention horizon.
  *
  * Dims additionally use a BUCKETED layout (`bucketSpec`: table → SCD1
  * key + bucket count): data dirs are written with Spark's bucketed
  * writer (one file per key-hash bucket) and read back through a
  * relation carrying the same bucket spec ([[scanDirs]]: the files plus
  * this warehouse's own specs, no session-catalog table), so the
  * nightly SCD1 merge (a) plans with NO dim-side Exchange — the scan's
  * HashPartitioning satisfies the join's distribution from the files
  * themselves — and
  * (b) rewrites ONLY the buckets containing changed keys, hard-linking
  * the untouched buckets' files byte-identically into the new immutable
  * dir. Every keyed writer (SCD1/SCD2 merges, MERGE INTO, view refresh,
  * the CDC store consumers, targeted delete) asks [[Txn.keyedSlice]]
  * which buckets it may rewrite — the one owner of the soundness guard
  * — and writes through [[Txn.overwriteSlice]]. At a 100 TB dim with ~1%
  * daily churn that turns the run's dominant cost (full dim shuffle +
  * full rewrite) into a delta-sized merge + delta-sized write.
  *
  * The big fact table combines BOTH layouts: date partitions inside
  * each append dir (IO pruning) and key-hash buckets within each
  * partition (join co-location). Every read of a table, however many
  * dirs it has, is ONE relation over one [[Warehouse.DirsFileIndex]]:
  * the nightly dedup (`Pipeline.freshAgainstTable`) anti-joins ONE
  * bucketed scan of all fact dirs, so no fact row or id crosses an
  * Exchange, while the reports read the whole fact history as one
  * plain scan (scan tasks packed across all dirs, date pruning static
  * and dynamic), not a union of one scan per dir.
  * Note the layouts are not retro-fitted: a dir written
  * before its table had a `bucketSpec` entry must be rewritten
  * (`compact()`) before bucketed reads of it are sound.
  *
  * Catalog writes have two owners. [[swapCatalog]] is the only
  * compare-and-swap retry loop: it maps the committed catalog to the
  * next one and swaps it in iff the file still holds what it read,
  * re-deriving on a lost race up to [[Warehouse.SwapAttempts]] times;
  * [[Txn.commit]], [[cloneTable]], [[restore]] and the rewrite round
  * call it. [[rewriteRound]] is the only compaction: it picks dirs from
  * a catalog snapshot, rewrites them into one new dir and swaps that in
  * for them. Compaction is one maintenance writer racing normal ones,
  * so the round is STALE — abandoned (the orphan dir is vacuumed later)
  * and re-run from a fresh snapshot, up to [[Warehouse.RewriteRounds]]
  * times — when the table's deletion-vector entry moved (new tombstones
  * name files of the merged dirs, which committing would resurrect) or
  * any merged dir left the catalog (an overwrite retired it, which
  * committing would fold back in). Dirs appended meanwhile stay
  * referenced. Compare and swap run under one per-root JVM monitor, so
  * in-process writers never both win; across processes there is no
  * file CAS, so two compactions of one table still assume one
  * maintenance writer per warehouse, like every file-based table format
  * without a lock service.
  */
class Warehouse(val spark: SparkSession, val root: String,
                val schemas: Map[String, StructType] = Schemas.tables,
                val partitionSpec: Map[String, (String, Column)] = Warehouse.defaultPartitions,
                val autoCompactThreshold: Int = 64,
                val bucketSpec: Map[String, (String, Int)] = Warehouse.defaultBuckets) {

  private val rootPath: Path = Paths.get(root)
  private val catalogPath: Path = Paths.get(root, "_catalog.json")
  private val versionsDir: Path = Paths.get(root, "_versions")
  // per-root, JVM-wide (instances over one root share it): serializes
  // commitCatalogIf's compare+swap and commitCatalog's version numbering
  private val commitLock: Object = Warehouse.commitLockFor(root)
  import Warehouse.{deleteRecursively, listDir}
  Files.createDirectories(Paths.get(root, "data"))

  def emptyDf(table: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemas(table))

  /** Committed catalog: table → data dirs, in append order. */
  def catalog(): Map[String, Seq[String]] = parseCatalogRaw(readCatalogRaw())

  /** Raw catalog file content ("" = absent) — the token
    * [[commitCatalogIf]] compares.
    */
  private[etl] def readCatalogRaw(): String =
    if (Files.exists(catalogPath)) Files.readString(catalogPath) else ""

  /** Parse catalog file content, resolving its root-relative dirs. */
  private[etl] def parseCatalogRaw(raw: String): Map[String, Seq[String]] =
    if (raw.isEmpty) Map.empty
    else mapDirs(CatalogJson.parse(raw), resolveDir)

  private def renderCatalog(entries: Map[String, Seq[String]]): String =
    CatalogJson.render(mapDirs(entries, relativeDir))

  private def mapDirs(cat: Map[String, Seq[String]], f: String => String) =
    cat.map { case (k, ds) => k -> (if (Warehouse.isTxnKey(k)) ds else ds.map(f)) }

  /** A dir as stored metadata names it: relative to `root` when under
    * it, so a copied or moved root stays whole.
    */
  private[etl] def relativeDir(dir: String): String = {
    val p = Paths.get(dir)
    if (p.startsWith(rootPath)) rootPath.relativize(p).toString else dir
  }

  /** A stored dir resolved against `root`; an absolute one resolves to
    * itself.
    */
  private[etl] def resolveDir(stored: String): String = rootPath.resolve(stored).toString

  /** Read the committed image of a table (partition columns dropped —
    * the declared schema is the contract; also robust to all-empty data
    * dirs, where inference would fail). Outstanding deletion vectors
    * are applied (see [[Txn.deleteVectored]]).
    */
  def read(table: String): DataFrame = {
    val cat = catalog()
    readDirs(table, cat.getOrElse(table, Nil),
      cat.getOrElse(Warehouse.dvKey(table), Nil))
  }

  private[etl] def readDirs(table: String, dirs: Seq[String], dvDirs: Seq[String] = Nil,
                            bucketed: Boolean = true): DataFrame = {
    val fields = schemas(table).fieldNames.toIndexedSeq
    if (dirs.isEmpty) emptyDf(table)
    // DELETION VECTORS outstanding: read with the row-provenance
    // columns, anti-join the (file path, row position) tombstone set,
    // then project back to the declared schema. The DV side is
    // delete-sized, so it BROADCASTS — and a broadcast left-anti
    // preserves the streamed side's outputPartitioning, which keeps the
    // bucketed scan's HashPartitioning (the zero-Exchange merge
    // property survives logical deletes).
    else if (dvDirs.nonEmpty)
      applyDv(readWithProvenance(table, dirs, bucketed), dvDirs).select(fields.map(col): _*)
    else scanDirs(table, dirs, bucketed).select(fields.map(col): _*)
  }

  /** Read `table`'s dirs with the row-provenance columns
    * ([[Warehouse.DvFile]] = the file's [[Warehouse.dvFileKey]],
    * [[Warehouse.DvPos]] = row position within the file) riding after
    * the declared columns — the identity a deletion-vector tombstone
    * names.
    */
  private[etl] def readWithProvenance(table: String, dirs: Seq[String],
                                      bucketed: Boolean = true): DataFrame =
    scanDirs(table, dirs, bucketed)
      .select(schemas(table).fieldNames.toIndexedSeq.map(col) ++ provCols: _*)

  /** ONE parquet scan over any number of `dirs`, the declared columns
    * first: a [[Warehouse.DirsFileIndex]] under a relation built from
    * the warehouse's own specs, with no session-catalog table. A
    * partitioned table's partition column rides along after the
    * declared ones, typed by [[partitionField]], and static and dynamic
    * partition filters prune every dir's `<col>=` subdirs. A bucketed
    * table's relation carries its bucket spec, so a join or aggregation
    * on the key reads it as a bucketed scan — HashPartitioning(key, n)
    * from the files' bucket ids, across all dirs — and needs no Exchange
    * on this side. Every other read of it (no operator needs the key
    * partitioning) is a plain scan with tasks packed across files:
    * Spark's DisableUnnecessaryBucketedScan drops the bucketing there,
    * except below an operator that needs some other partitioning
    * across a join (a window above broadcast joins): such a read passes
    * `bucketed = false` ([[Txn.readPlain]]).
    */
  private def scanDirs(table: String, dirs: Seq[String], bucketed: Boolean = true): DataFrame = {
    val schema = schemas(table)
    val parts = StructType(partitionField(table).toSeq)
    val buckets = bucketSpec.get(table).filter(_ => bucketed)
      .map { case (key, n) => BucketSpec(n, Seq(key), Seq(key)) }
    val idx = new Warehouse.DirsFileIndex(spark, schema, parts, dirs)
    spark.baseRelationToDataFrame(
      HadoopFsRelation(idx, parts, schema, buckets, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The partition column of a partitioned table, typed by what its
    * partition expression yields over the declared schema: the type
    * [[writeDataDir]] writes, whatever inference would read back.
    */
  private def partitionField(table: String): Option[StructField] =
    partitionSpec.get(table).map { case (p, derive) =>
      emptyDf(table).withColumn(p, derive).schema(p)
    }

  /** Anti-join `base` (which must carry [[Warehouse.DvFile]]/
    * [[Warehouse.DvPos]]) against the tombstones in `dvDirs`.
    */
  private[etl] def applyDv(base: DataFrame, dvDirs: Seq[String]): DataFrame = {
    val dv = broadcast(readDvDirs(dvDirs))
    base.join(dv, Seq(Warehouse.DvFile, Warehouse.DvPos), "left_anti")
  }

  /** Apply tombstones to an arbitrary scan that already carries the
    * [[provCols]] provenance columns (callers attach them per
    * UNDERLYING scan — the hidden `_metadata` struct is not resolvable
    * after a union), dropping the provenance afterwards. No-op with no
    * DV dirs.
    */
  private[etl] def applyDvTo(df: DataFrame, dvDirs: Seq[String]): DataFrame =
    if (dvDirs.isEmpty) df
    else applyDv(df, dvDirs).drop(Warehouse.DvFile, Warehouse.DvPos)

  /** The provenance columns for a single file-source scan. */
  private[etl] def provCols: Seq[Column] =
    Seq(Warehouse.dvFileKey(col("_metadata.file_path")).as(Warehouse.DvFile),
      col("_metadata.row_index").as(Warehouse.DvPos))

  /** The tombstones in `dvDirs`, each naming its file by
    * [[Warehouse.dvFileKey]] (tombstones written as absolute URIs,
    * before the key was relative, are normalized on read).
    */
  private[etl] def readDvDirs(dvDirs: Seq[String]): DataFrame =
    if (dvDirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Warehouse.dvSchema)
    else spark.read.schema(Warehouse.dvSchema).parquet(dvDirs: _*)
      .select(Warehouse.dvFileKey(col(Warehouse.DvFile)).as(Warehouse.DvFile),
        col(Warehouse.DvPos))

  /** Read keeping the physical partition column (when the table has one)
    * so date filters prune at the directory level —
    * `PartitionFilters: [trans_dt = ...]` in explain, one scan over all
    * dirs ([[scanDirs]]).
    */
  def readRaw(table: String, dirsIn: Seq[String] = Nil): DataFrame = {
    val cat = catalog()
    val dirs = if (dirsIn.nonEmpty) dirsIn else cat.getOrElse(table, Nil)
    val dv = cat.getOrElse(Warehouse.dvKey(table), Nil)
    if (dirs.isEmpty) emptyDf(table)
    else if (dv.isEmpty) scanDirs(table, dirs)
    else applyDvTo(scanDirs(table, dirs).select(col("*") +: provCols: _*), dv)
  }

  def begin(): Txn = new Txn(this)

  /** Compact a table's many append dirs into one freshly-written dir
    * (single catalog swap). At scale this is the periodic maintenance
    * job that bounds read amplification from daily appends; readers are
    * unaffected (snapshot isolation), and the retired dirs are
    * reclaimed by the next `vacuum()`.
    *
    * Also the LAYOUT-REPAIR route: a single-dir table whose dir predates
    * its `bucketSpec` entry (files without bucket naming) cannot be read
    * as a bucketed scan, so compacting a single-dir bucketed table reads
    * the dir as a PLAIN scan and rewrites it through the bucketed writer
    * — after which bucketed reads are sound. (Re-compacting an
    * already-bucketed dir is a harmless rewrite.)
    */
  def compact(table: String): Unit = {
    val cat = catalog()
    val dirs = cat.getOrElse(table, Nil)
    val dv = cat.getOrElse(Warehouse.dvKey(table), Nil)
    if (dirs.length > 1 || (dv.nonEmpty && dirs.nonEmpty)) {
      // txn.read applies outstanding deletion vectors, so the rewrite
      // MATERIALIZES them; overwrite() clears the table's DV entry
      val txn = begin()
      txn.overwrite(table, txn.read(table))
      txn.commit()
    } else if (dirs.length == 1 && bucketSpec.contains(table)) {
      val plain = scanDirs(table, dirs, bucketed = false)
        .select(schemas(table).fieldNames.toIndexedSeq.map(col): _*)
      val txn = begin()
      txn.overwrite(table, plain)
      txn.commit()
    }
  }

  /** OPTIMIZE ZORDER — compact a flat-layout table into ONE data dir
    * z-ordered on two columns ([[graft.operators.Layout]]), so range
    * predicates on EITHER column prune files through the skipping
    * index ([[readSkipping]]; the sidecar is written as part of the
    * compaction). The Delta/Iceberg table-maintenance job: one
    * range-partitioned sort at write time, amortized over every
    * subsequent scan. One [[rewriteRound]] over all the table's dirs.
    */
  def compactZOrdered(table: String, aCol: String, bCol: String,
                      files: Int, bits: Int = 16): Unit = {
    require(!bucketSpec.contains(table) && !partitionSpec.contains(table),
      s"z-order compaction applies to flat layouts; $table has a bucket/partition spec")
    rewriteRound(table)(identity) { (old, dv) =>
      val dir = newDataDir(table)
      val schema = schemas(table)
      graft.operators.Layout.writeZOrdered(
        readDirs(table, old, dv).select(schema.fieldNames.toIndexedSeq.map(col): _*),
        dir, aCol, bCol, files, bits)
      graft.sources.DataSkipping.writeSidecar(spark, dir)
      dir
    }
  }

  /** Incremental compaction: merge the OLDEST data dirs of `table` into
    * one, leaving the most recent `keep` dirs untouched. Bounds the
    * read-side cost of daily appends (every dir is one more root to
    * list and at least one more file per bucket and partition in
    * [[readDirs]]) without a full-table rewrite each time — recent
    * hot dirs never move; the cold prefix is re-merged only when the
    * dir count crosses the threshold again (tiered-merge write
    * amplification, the usual LSM trade).
    * [[Txn.commit]] invokes this automatically for any written table
    * past `autoCompactThreshold` dirs. One [[rewriteRound]]; the merge
    * read applies outstanding deletion vectors, and tombstones naming
    * merged files are dead afterwards (dropped at the next full
    * overwrite or DV compaction, or here when `keep = 0`).
    */
  def compactOldest(table: String, keep: Int = 16): Unit =
    rewriteRound(table)(dirs => if (dirs.length <= keep + 1) Nil else dirs.dropRight(keep)) {
      (old, dv) => writeDataDir(table, readDirs(table, old, dv))
    }

  /** The one compaction round. `pick` chooses, from a catalog
    * snapshot's dirs of `key`, the dirs to merge (none = nothing to
    * do); `rewrite(dirs, dvDirs)` writes them, with the snapshot's
    * deletion vectors applied, into one new dir it returns. The swap
    * puts that dir in place of the merged ones, or abandons the round
    * as stale (see the class doc) and re-runs it. When the rewrite
    * consumed every dir the table had and a non-empty DV entry, the
    * swap clears that entry: every tombstone was applied.
    */
  private def rewriteRound(key: String)(pick: Seq[String] => Seq[String])(
      rewrite: (Seq[String], Seq[String]) => String): Unit = {
    val dvKey = Warehouse.dvKey(key)
    var round = 0
    while (round < Warehouse.RewriteRounds) {
      val snap = catalog()
      val dirs = snap.getOrElse(key, Nil)
      val old = pick(dirs)
      if (old.isEmpty) return
      val dv = snap.getOrElse(dvKey, Nil)
      val merged = rewrite(old, dv)
      compactionBarrier()
      val clearDv = dv.nonEmpty && dirs.forall(old.contains)
      val swapped = swapCatalog { cat =>
        val cur = cat.getOrElse(key, Nil)
        if (cat.getOrElse(dvKey, Nil) != dv || !old.forall(cur.contains)) None
        else {
          val next = cat + (key -> (merged +: cur.filterNot(old.toSet)))
          Some(if (clearDv) next + (dvKey -> Nil) else next)
        }
      }
      if (swapped.isDefined) return
      round += 1
    }
  }

  /** Reclaim data dirs referenced by neither the current catalog nor the
    * newest `retainVersions` historical versions, and prune version
    * files past that horizon (the newest version file — the current
    * state's mirror — always survives). `retainVersions = 0` (default)
    * keeps today's behavior: only current data survives, time travel
    * resets. Returns the number of data dirs removed.
    */
  def vacuum(retainVersions: Int = 0,
             graceMs: Long = Warehouse.DefaultVacuumGraceMs): Int = {
    val vfs = versionFiles()
    val keptVersions = vfs.takeRight(math.max(1, retainVersions + 1))
    vfs.dropRight(math.max(1, retainVersions + 1))
      .foreach { case (_, p) => Files.deleteIfExists(p) }
    val live = (Warehouse.dirsOf(catalog()) ++
        keptVersions.flatMap { case (v, _) => Warehouse.dirsOf(catalogAsOf(v)) })
      .map(Paths.get(_).toAbsolutePath.toString).toSet
    val dataRoot = Paths.get(root, "data")
    // GRACE: an unreferenced dir younger than `graceMs` may belong to an
    // IN-FLIGHT transaction or compaction — its writer has materialized
    // the files but not yet swapped the catalog, and liveness computed
    // from committed catalogs alone cannot see it. Deleting it would let
    // the writer commit a pointer to vanished paths (permanent table
    // corruption, no error at commit time). Retired-dir reclamation is
    // only deferred by one grace window.
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    if (Files.exists(dataRoot)) {
      listDir(dataRoot).foreach { tableDir =>
        if (Files.isDirectory(tableDir))
          listDir(tableDir).foreach { d =>
            if (Files.isDirectory(d) && !live.contains(d.toAbsolutePath.toString) &&
                Files.getLastModifiedTime(d).toMillis < cutoff) {
              deleteRecursively(d); removed += 1
            }
          }
      }
    }
    removed
  }

  private[etl] def newDataDir(table: String): String =
    Paths.get(root, "data", table, UUID.randomUUID().toString).toString

  /** Write one immutable data dir, applying the table's partition spec.
    * Facts partition by event date: daily appends become one (or a few)
    * `dt=`-style directories each, so date-filtered scans prune whole
    * days and a 100 TB fact table never rewrites history. Tables with a
    * `bucketSpec` entry write through the bucketed path instead.
    *
    * `carry = Some((fromDir, touched))` completes a PARTIAL rewrite:
    * `df` holds the new rows of the `touched` buckets only, and every
    * other bucket's files are hard-linked in from `fromDir`
    * ([[copyUntouchedBuckets]]) before the sidecar pass, so the one
    * sidecar covers the whole dir.
    */
  private[etl] def writeDataDir(table: String, df: DataFrame,
                                carry: Option[(String, Set[Int])] = None): String = {
    val dir = newDataDir(table)
    val touched = carry.map(_._2.size)
    (partitionSpec.get(table), bucketSpec.get(table)) match {
      case (Some((name, derive)), Some(_)) =>
        // the production fact layout: date partitions prune IO, key-hash
        // buckets kill the join shuffle — each `dt=` dir holds one file
        // per (bucket × date) and the scan still carries
        // HashPartitioning(key, n) (bucket id is per-row, not per-dir)
        writeBucketedDir(table, df.withColumn(name, derive), dir, Some(name), touched)
      case (Some((name, derive)), None) =>
        df.withColumn(name, derive).write.partitionBy(name).parquet(dir)
      case (None, Some(_)) =>
        writeBucketedDir(table, df, dir, None, touched)
      case _ =>
        df.write.parquet(dir)
    }
    carry.foreach { case (fromDir, touched) => copyUntouchedBuckets(fromDir, dir, touched) }
    // every data dir gets a file-stats sidecar at WRITE time (footers
    // are hot in the page cache right now; partition subdirs walked
    // recursively), so [[readSkipping]] prunes with zero per-file
    // metadata I/O forever after — the dir is immutable.
    graft.sources.DataSkipping.writeSidecar(spark, dir)
    dir
  }

  /** Build per-file BLOOM sidecars over `cols` in every current data
    * dir of `table` — the point-lookup complement to the min/max stats
    * sidecar: on a column the layout does not cluster (ids probed by
    * value), every file's range spans the domain and stats prune
    * nothing, while the bloom refutes the non-containing files at
    * planning time ([[readSkipping]] consults both automatically).
    * A maintenance action like [[compactZOrdered]]: run it once per
    * table; dirs committed AFTER it lack the sidecar and simply don't
    * prune until the next run (conservative, never wrong). One
    * distributed pass per (dir, col); the driver holds
    * files × mBits/8 bytes — bucket-bounded, never data-sized.
    */
  def indexBloom(table: String, cols: Seq[String],
                 mBits: Long = 1L << 17, k: Int = 5): Unit =
    catalog().getOrElse(table, Nil).foreach { d =>
      graft.sources.DataSkipping.writeBloomSidecar(spark, d, cols, mBits, k)
    }

  /** Read `table` through the FILE-SKIPPING index
    * ([[graft.sources.DataSkipping]]): pushed point/range predicates
    * are resolved at planning time against the per-file min/max stats
    * persisted in each data dir's commit-time sidecar, so files that
    * provably hold no matching row never become scan tasks. The
    * filter-heavy lookup path — a key probe into an append-only table
    * whose batches are naturally range-clustered (time, sequence ids)
    * touches the one file that can match instead of all of them.
    *
    * Date-partitioned tables compose BOTH pruning levers: a partition-
    * column predicate drops whole `dt=` subdirs (Spark partition
    * pruning, per dir), a data-column predicate drops FILES inside the
    * surviving subdirs (the stats); the partition column rides along
    * after the declared columns, like [[readRaw]]. A bucketed table
    * reads fine but as a PLAIN scan — merges should keep using
    * [[read]] for its HashPartitioning. Returns one index per data dir
    * (sum their counters for table-level pruning numbers), which is why
    * a partitioned table is still one skip-scan per dir, unioned: each
    * [[graft.sources.DataSkipping.StatsFileIndex]] discovers one root's
    * partitions, where [[readDirs]] reads all roots through one
    * [[Warehouse.DirsFileIndex]].
    */
  def readSkipping(table: String): (DataFrame, Seq[graft.sources.DataSkipping.StatsFileIndex]) = {
    val cat = catalog()
    val dirs = cat.getOrElse(table, Nil)
    if (dirs.isEmpty) return (emptyDf(table), Nil)
    val dv = cat.getOrElse(Warehouse.dvKey(table), Nil)
    val schema = schemas(table)
    // with DVs outstanding, provenance is attached per UNDERLYING scan
    // (hidden `_metadata` does not survive a union) and the broadcast
    // anti-join lands ON TOP of the skip-scan — pushed data predicates
    // still reach the stats index below the join
    def one(d: Seq[String]) = {
      val (df, idx) = graft.sources.DataSkipping.readWithIndex(spark, schema, d)
      (if (dv.isEmpty) df else df.select(col("*") +: provCols: _*), idx)
    }
    if (!partitionSpec.contains(table)) {
      val (df, idx) = one(dirs)
      (applyDvTo(df, dv), Seq(idx))
    } else {
      // one index, and so one partition discovery, per root
      val parts = dirs.map(d => one(Seq(d)))
      (applyDvTo(parts.map(_._1).reduce(_ unionByName _), dv), parts.map(_._2))
    }
  }

  /** Bucketed write: Spark's bucketed file writer (which encodes the
    * bucket id in each file name, the contract [[scanDirs]]' bucketed
    * scan and [[copyUntouchedBuckets]] rely on), run as one write
    * command over `dir` — no session-catalog table. The
    * `repartition(n, key)` uses the SAME hash (`Murmur3` mod n) as the
    * bucket assignment, so every task holds exactly one bucket's rows →
    * exactly one file per non-empty bucket (which also keeps Spark
    * trusting the SORTED BY order on read).
    *
    * A partial rewrite passes `touched` = the number of buckets its rows
    * fall in: the n hash partitions, all but `touched` of them empty,
    * coalesce to that many write tasks. Each task still holds whole
    * buckets and the writer sorts by bucket id, so there is still one
    * file per written bucket, and 1 touched bucket of 16 runs 1 write
    * task, not 16.
    */
  private def writeBucketedDir(table: String, df: DataFrame, dir: String,
                               partitionCol: Option[String],
                               touched: Option[Int]): Unit = {
    val (key, n) = bucketSpec(table)
    val byBucket = df.repartition(n, col(key))
    val rows = touched.filter(_ < n).fold(byBucket)(byBucket.coalesce)
    val write = DataSource(spark, "parquet", partitionColumns = partitionCol.toSeq,
      bucketSpec = Some(BucketSpec(n, Seq(key), Seq(key))), options = Map("path" -> dir))
      .planForWriting(SaveMode.ErrorIfExists, rows.queryExecution.analyzed)
    Bridge.ofRows(spark, write)   // a command plan runs as it is built
  }

  /** Hard-link (fall back: copy — byte-identical either way) the files
    * of every bucket NOT in `touched` from `fromDir` into `toDir`.
    * Bucket ids are parsed from Spark's bucketed file naming
    * (`part-…_<bucketId>.c000….parquet`), the same convention the
    * bucketed scan uses. The walk is RECURSIVE with relative paths
    * preserved — a partitioned+bucketed table (the fact layout) keeps
    * its files inside `dt=`-style subdirs, and a flat listing would
    * silently carry nothing.
    */
  private def copyUntouchedBuckets(fromDir: String, toDir: String,
                                   touched: Set[Int]): Unit = {
    val bucketRe = """.*_(\d+)(?:\..*)?$""".r
    val from = Paths.get(fromDir)
    Files.createDirectories(Paths.get(toDir))
    def walk(d: Path): Unit =
      listDir(d).foreach { f =>
        val fname = f.getFileName.toString
        if (Files.isDirectory(f)) walk(f)
        else if (Files.isRegularFile(f) && fname.endsWith(".parquet")) fname match {
          case bucketRe(b) if !touched.contains(b.toInt) =>
            val dst = Paths.get(toDir).resolve(from.relativize(f))
            Files.createDirectories(dst.getParent)
            try Files.createLink(dst, f)
            catch { case _: Exception => Files.copy(f, dst) }
          case _ => ()
        }
      }
    walk(from)
  }

  private[etl] def commitCatalog(entries: Map[String, Seq[String]]): Unit =
    commitLock.synchronized {
    val bytes = renderCatalog(entries).getBytes(StandardCharsets.UTF_8)
    // TIME TRAVEL: an immutable numbered copy per commit, written BEFORE
    // the pointer swap so the history is always a superset of pointer
    // states (a version file whose swap lost a race is a version that
    // was superseded instantly — harmless; ordering of history numbers
    // shares the documented single-maintenance-writer assumption).
    // Version files are metadata-sized; vacuum() prunes them.
    Files.createDirectories(versionsDir)
    // tmp + ATOMIC_MOVE like the pointer itself: the tolerant regex
    // parser would accept a TORN version file as a partial catalog, and
    // vacuum computes liveness from retained versions — a half-written
    // snapshot must never be observable
    val vtmp = Paths.get(root, s"_version.${UUID.randomUUID()}.tmp")
    Files.write(vtmp, bytes)
    Files.move(vtmp, versionsDir.resolve(f"v${nextVersion()}%08d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val tmp = Paths.get(root, s"_catalog.${UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, catalogPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    }

  private def versionFiles(): Seq[(Long, Path)] =
    if (!Files.exists(versionsDir)) Nil
    else listDir(versionsDir).iterator
      .filter(p => p.getFileName.toString.matches("v\\d{8}\\.json"))
      .map(p => p.getFileName.toString.drop(1).take(8).toLong -> p)
      .toSeq.sortBy(_._1)

  private def nextVersion(): Long =
    versionFiles().lastOption.map(_._1 + 1).getOrElse(1L)

  /** Committed versions, oldest first. */
  def versions(): Seq[Long] = versionFiles().map(_._1)

  /** The catalog as of a committed `version` (see [[versions]]). */
  def catalogAsOf(version: Long): Map[String, Seq[String]] = {
    val p = versionsDir.resolve(f"v$version%08d.json")
    require(Files.exists(p), s"version $version not found (vacuumed?)")
    parseCatalogRaw(Files.readString(p))
  }

  /** TIME TRAVEL read: the committed image of `table` as of `version`.
    * Works until a `vacuum()` whose `retainVersions` horizon has passed
    * that version reclaims its data dirs — the Delta/Iceberg retention
    * contract: history is free until storage is reclaimed.
    */
  def readAsOf(table: String, version: Long): DataFrame = {
    val cat = catalogAsOf(version)
    readDirs(table, cat.getOrElse(table, Nil),
      cat.getOrElse(Warehouse.dvKey(table), Nil))
  }

  /** RESTORE — roll the whole warehouse back to `version` AS A NEW
    * COMMIT (Delta's RESTORE semantics): the old catalog content is
    * re-committed forward, so the rollback is itself versioned,
    * auditable, and re-revertable — history never rewinds, the pointer
    * does. Zero data movement: the old dirs are still on disk as long
    * as no `vacuum()` horizon has passed them (the [[readAsOf]]
    * retention contract; this is why vacuum keeps dirs referenced by
    * RETAINED versions, not just the current catalog).
    */
  def restore(version: Long): Unit = {
    val target = catalogAsOf(version)
    swapCatalog(_ => Some(target)).getOrElse(throw new java.util.ConcurrentModificationException(
      s"restore($version): catalog kept moving; retry"))
  }

  /** ZERO-COPY CLONE: `dst` becomes a table whose catalog entry points
    * at `src`'s CURRENT data dirs — no bytes move (Delta's SHALLOW
    * CLONE). Because dirs are immutable and commits only swap
    * pointers, the clone and the source diverge safely from here:
    * writes to either land in fresh dirs; shared dirs survive until no
    * catalog or retained version references them (`vacuum()` counts
    * references across ALL tables). The dev/test copy of a 100 TB
    * table costs one metadata write.
    *
    * `dst` must be registered in `schemas` (same shape as `src`) —
    * the read path resolves columns from the registry. Tables with a
    * `bucketSpec`/`partitionSpec` keep their layout properties only if
    * `dst` carries equivalent entries (same maps, same key).
    */
  def cloneTable(src: String, dst: String): Unit = {
    require(schemas.contains(dst),
      s"clone destination '$dst' must be registered in schemas")
    require(schemas(dst) == schemas(src),
      s"clone destination '$dst' must share '$src' schema")
    swapCatalog(cat => Some(cat + (dst -> cat.getOrElse(src, Nil)) +
        (Warehouse.dvKey(dst) -> cat.getOrElse(Warehouse.dvKey(src), Nil))))
      .getOrElse(throw new java.util.ConcurrentModificationException(
        s"cloneTable($src, $dst): catalog kept moving; retry"))
  }

  /** SNAPSHOT DIFF — CDC extraction between two committed versions:
    * one row per key whose image changed, with
    * `change_type ∈ {insert, delete, update}` and the full before/after
    * value structs (null on the absent side). The downstream consumer
    * of a nightly SCD1 warehouse that needs "what changed since
    * yesterday" gets it from two retained versions, without the source
    * system's cooperation.
    *
    * Plan shape: ONE full-outer join on the key. For a table with a
    * `bucketSpec` (the dims) BOTH version reads carry
    * HashPartitioning(key) from the bucketed layout, so the join plans
    * with ZERO Exchange (spec-gated) — the diff of a 100 TB dim moves
    * no data across the cluster. Value comparison is one null-safe
    * struct equality (`<=>`), codegen'd.
    */
  def diffVersions(table: String, fromVersion: Long, toVersion: Long,
                   keys: Seq[String]): DataFrame =
    ChangeFeed.diffStruct(readAsOf(table, fromVersion),
      readAsOf(table, toVersion), keys)

  /** Merge a DV key's many delete-sized dirs into one
    * ([[rewriteRound]]; a DV key has no DV entry of its own, so only a
    * merged dir leaving the catalog — an overwrite of the table clearing
    * its tombstones — makes the round stale). Dead tombstones — paths
    * naming files no catalog references anymore — survive the merge as
    * harmless non-matching rows; full overwrites clear them wholesale.
    * Invoked by [[Txn.commit]] when a table's DV dir count crosses the
    * auto-compact threshold.
    */
  private[etl] def compactDvKey(key: String): Unit =
    rewriteRound(key)(dirs => if (dirs.length > 1) dirs else Nil) { (dirs, _) =>
      val merged = newDataDir(key)
      readDvDirs(dirs).distinct().write.parquet(merged)
      merged
    }

  /** Test seam: invoked between a compaction's (long) rewrite and its
    * swap — the exact window where a concurrent writer's commit races
    * the maintenance job. Production no-op.
    */
  protected def compactionBarrier(): Unit = ()

  /** Test seam: invoked INSIDE [[commitCatalogIf]]'s critical section,
    * between the compare read and the swap — widening this window (a
    * spec override sleeps here) must still never let two same-expected
    * writers both win. Production no-op.
    */
  protected def casBarrier(): Unit = ()

  /** Conditional catalog swap: only commit if the file still holds
    * `expected` (empty string = file absent). Returns false — without
    * writing — on mismatch. Compare and swap run under the per-root JVM
    * monitor ([[Warehouse.commitLockFor]], shared by every instance over
    * the same root), so in-process concurrent writers can never both
    * pass the compare (MaintenanceChaosSpec races them).
    */
  private[etl] def commitCatalogIf(expected: String,
                                   entries: Map[String, Seq[String]]): Boolean =
    commitLock.synchronized {
      val current = readCatalogRaw()
      if (current != expected) false
      else { casBarrier(); commitCatalog(entries); true }
    }

  /** The one compare-and-swap retry loop (see the class doc): read the
    * committed catalog, map it through `update`, swap the result in iff
    * the file is unchanged, else re-read and re-derive, at most
    * [[Warehouse.SwapAttempts]] times. `update` returns None to abandon
    * and may throw to fail the writer. Returns the catalog swapped in;
    * None when abandoned or out of attempts.
    */
  private[etl] def swapCatalog(update: Map[String, Seq[String]] => Option[Map[String, Seq[String]]])
      : Option[Map[String, Seq[String]]] = {
    var attempt = 0
    while (attempt < Warehouse.SwapAttempts) {
      val expected = readCatalogRaw()
      update(parseCatalogRaw(expected)) match {
        case None => return None
        case Some(next) => if (commitCatalogIf(expected, next)) return Some(next)
      }
      attempt += 1
    }
    None
  }
}

/** One run's transaction: reads see committed state plus this txn's own
  * writes; nothing becomes visible to other readers until `commit()`
  * swaps the catalog (K11).
  *
  * THREAD SAFETY: several threads may read and write through one txn at
  * once as long as each writes DISTINCT tables (the nightly run's
  * concurrent levels, [[Pipeline]]); every read and update of the
  * pending writes is atomic. Two threads writing the SAME table race
  * (an append may be lost), and `commit()` must follow every write.
  */
class Txn private[etl] (private[etl] val wh: Warehouse) {
  private val snapshot: Map[String, Seq[String]] = wh.catalog()
  // guarded by `this`
  private val pending = mutable.LinkedHashMap[String, Seq[String]]()
  private var committed = false

  private def setPending(key: String, dirs: Seq[String]): Unit =
    synchronized { pending(key) = dirs }

  /** Abandon the transaction without committing. begin() is a pure
    * in-memory catalog snapshot today, so this only clears the pending
    * map — but callers that open a txn and then discover nothing to do
    * MUST route through here, so that if Txn ever acquires external
    * state (locks, staged files) the release has one place to live.
    */
  def discard(): Unit = synchronized { pending.clear() }

  /** The last version writer `appId` committed as of this txn's
    * snapshot, if any. Runs no Spark job. */
  def txnVersion(appId: String): Option[Long] =
    snapshot.get(Warehouse.txnKey(appId)).flatMap(_.headOption).map(_.toLong)

  /** Stage version `v` (above [[txnVersion]]) of writer `appId` to
    * commit in this txn's catalog swap. */
  def setTxnVersion(appId: String, v: Long): Unit = {
    txnVersion(appId).foreach(cur =>
      require(v > cur, s"transaction id $appId: version $v is not above the committed $cur"))
    setPending(Warehouse.txnKey(appId), Seq(v.toString))
  }

  def read(table: String): DataFrame =
    wh.readDirs(table, currentDirs(table), currentDvDirs(table))

  /** [[read]] as a plain, file-packed scan even where `table` is
    * bucketed: for a read no join or aggregation on the key uses, whose
    * bucketed scan Spark would keep anyway (report №3's window above
    * broadcast joins) at one task per bucket.
    */
  private[etl] def readPlain(table: String): DataFrame =
    wh.readDirs(table, currentDirs(table), currentDvDirs(table), bucketed = false)

  /** The data dirs this txn currently sees for `table` (pending write,
    * else committed snapshot).
    */
  private[etl] def currentDirs(table: String): Seq[String] =
    synchronized { pending.getOrElse(table, snapshot.getOrElse(table, Nil)) }

  /** The deletion-vector dirs this txn currently sees for `table`. */
  private[etl] def currentDvDirs(table: String): Seq[String] =
    currentDirs(Warehouse.dvKey(table))

  /** Replace the table image (staging truncate-and-load K1/K2, dim merge
    * result K4+K6+K7). Data lands in a fresh immutable dir; old dirs are
    * retired at commit. Callers derive `df` from [[read]] (which
    * applies outstanding deletion vectors), so the fresh image
    * MATERIALIZES the deletes — the table's DV entry clears with the
    * same commit.
    */
  def overwrite(table: String, df: DataFrame): Unit = {
    setPending(table, Seq(wh.writeDataDir(table, align(table, df))))
    if (currentDvDirs(table).nonEmpty) setPending(Warehouse.dvKey(table), Nil)
  }

  /** PARTIAL overwrite of a bucketed table: `touchedDf` must hold the
    * new image of exactly the buckets in `touched` (every row's
    * [[Warehouse.bucketOf]] ∈ touched — the caller filters); every other
    * bucket's files are hard-linked byte-identically from the current
    * dir into the fresh one. The commit is still a whole-dir swap
    * (immutability and snapshot isolation unchanged) — what shrinks to
    * delta size is the WRITE, not the catalog semantics. Keyed writers
    * reach it only through [[overwriteSlice]], behind [[keyedSlice]]'s
    * soundness guard.
    */
  private[etl] def overwriteBuckets(table: String, touchedDf: DataFrame,
                                    touched: Seq[Int]): Unit = {
    require(wh.bucketSpec.contains(table), s"$table has no bucket spec")
    val current = currentDirs(table)
    require(current.length == 1,
      s"partial bucket overwrite needs exactly one current dir for $table, got ${current.length}")
    val dir = wh.writeDataDir(table, align(table, touchedDf), Some((current.head, touched.toSet)))
    setPending(table, Seq(dir))
    remapDv(table, current.head, dir)
  }

  /** After a PARTIAL overwrite, outstanding tombstones split two ways:
    * those naming rewritten (touched-bucket) files were materialized by
    * the rewrite (the caller's frame derives from [[read]], DVs
    * applied) and die with their files; those naming hard-linked files
    * survive under a NEW key — same dir-RELATIVE path, new dir.
    * Remap the survivors by the path BELOW the (unique, UUID-named) dir
    * segment, NOT the basename: Spark writes the SAME part-file
    * basename into every partition subdir a task touches, so on a
    * partitioned+bucketed layout a basename key would fan one tombstone
    * out to sibling partitions' same-named files — tombstoning the same
    * row position in the WRONG files. The relative path is unique
    * within a dir and hard links preserve it
    * ([[Warehouse.copyUntouchedBuckets]] resolves destinations via
    * `relativize`); anything unmatched was rewritten and drops out.
    */
  private def remapDv(table: String, oldDir: String, newDir: String): Unit = {
    val dvDirs = currentDvDirs(table)
    if (dvDirs.isEmpty) return
    val oldSeg = "/" + Paths.get(oldDir).getFileName.toString + "/"
    val newSeg = "/" + Paths.get(newDir).getFileName.toString + "/"
    // relative path → new key, derived from a scan of the new dir so
    // the path STRING FORM matches what `_metadata.file_path` yields at
    // read time exactly (it is a URI — a filesystem-listing path would
    // silently never match). One row per file after the distinct.
    val mapDf = wh.spark.read.schema(wh.schemas(table)).parquet(newDir)
      .select(
        substring_index(org.apache.spark.sql.functions.col("_metadata.file_path"), newSeg, -1)
          .as("_graft_rel"),
        Warehouse.dvFileKey(org.apache.spark.sql.functions.col("_metadata.file_path"))
          .as("_graft_path"))
      .distinct()
    val remapped = wh.readDvDirs(dvDirs)
      .join(broadcast(mapDf),
        substring_index(org.apache.spark.sql.functions.col(Warehouse.DvFile), oldSeg, -1)
          === org.apache.spark.sql.functions.col("_graft_rel"))
      .select(org.apache.spark.sql.functions.col("_graft_path").as(Warehouse.DvFile),
        org.apache.spark.sql.functions.col(Warehouse.DvPos))
    val dvDir = wh.newDataDir(Warehouse.dvKey(table))
    remapped.write.parquet(dvDir)
    val n = wh.spark.read.schema(Warehouse.dvSchema).parquet(dvDir).count()
    if (n == 0L) {
      Warehouse.deleteRecursively(Paths.get(dvDir))
      setPending(Warehouse.dvKey(table), Nil)
    } else setPending(Warehouse.dvKey(table), Seq(dvDir))
  }

  /** Which part of `table` a write keyed by `keys` has to rewrite: the
    * one place the bucket-pruned rewrite policy lives. The touched
    * key-hash buckets are returned only when the pruned path is sound:
    *  - `table` is bucketed by exactly `keys`. Touched buckets are
    *    computed in the hash space of `keys`, carried-over files encode
    *    the hash of the bucket key; in different hash spaces a changed
    *    row would be BOTH carried over (old version) and rewritten (new
    *    version).
    *  - `table` has exactly one current dir (the steady state every
    *    overwrite leaves; [[overwriteBuckets]] hard-links from it).
    * Only then is `buckets(n)` called — a caller passes its own
    * detection (e.g. [[Scd1.changedKeyBuckets]], or
    * [[Warehouse.bucketsOf]] over a delta's keys), so the driver-side
    * collect runs only when its answer is used. Every other table
    * (initial load, unbucketed, multi-dir, a bucket key that is not
    * the write key) gets the whole-table slice. Write the result with
    * [[overwriteSlice]].
    */
  def keyedSlice(table: String, keys: Seq[String])(buckets: Int => Seq[Int]): KeyedSlice =
    wh.bucketSpec.get(table) match {
      case Some((bucketKey, n)) if keys == Seq(bucketKey) &&
          currentDirs(table).length == 1 =>
        val touched = buckets(n).sorted.toIndexedSeq
        new KeyedSlice(Some(touched), Warehouse.bucketOf(keys.map(col), n).isin(touched: _*))
      case _ => KeyedSlice.Whole
    }

  /** Write `image` — the new rows of exactly `slice` — as `table`'s new
    * content: an empty bucket slice writes nothing (the table is already
    * exact), a bucket slice rewrites only its buckets (the rest
    * hard-link, [[overwriteBuckets]]), the whole-table slice overwrites.
    * `image` is only built when something is written.
    */
  def overwriteSlice(table: String, slice: KeyedSlice, image: => DataFrame): Unit =
    slice.touched match {
      case Some(touched) => if (touched.nonEmpty) overwriteBuckets(table, image, touched)
      case None => overwrite(table, image)
    }

  /** CHURN-SIZED keyed upsert — the one prune-and-append write of a
    * keyed store (the CDC store consumers' signature store, image-hash
    * store and ANN index): drop the `gone` keys' rows and append
    * `encode`'s rows for the `arrived` rows whose key is not stored
    * after the prune (the idempotence guard: a redelivered arrival
    * cannot duplicate a row), rewriting ONLY the key-hash buckets the
    * delta touches when the table is bucketed by `key`
    * ([[keyedSlice]]). Per call, write bytes are proportional to the
    * delta's bucket footprint, not the table. The delta-sized
    * `gone ∪ arrived` key set derives the touched buckets; guarding
    * against the table pruned to those buckets is exact because every
    * arrived key hashes into a touched bucket by construction, and
    * `encode` must keep each row's key. There an empty delta touches no
    * bucket: nothing is written and the result is `None`. Any other
    * table gets the whole-table slice and is rewritten whole (same
    * rows, table-sized write) — also for an empty delta.
    *
    * Returns the rows the write removed (the stored rows of the `gone`
    * keys) and appended, as lazy frames: a caller that folds them into
    * a census (in the same txn) caches what it reads twice — the
    * appended rows inside `encode`, before the write computes them —
    * and a caller that ignores them runs no extra job.
    *
    * File-count note: when the write executes inside a streaming
    * foreachBatch-derived plan, the optimizer has been observed to
    * elide the pre-write exchange and keep only the required bucket
    * sort, so a TOUCHED bucket's rows may land in one file per union
    * branch of the written image (2 here: carried ∪ appended) instead
    * of exactly one. Bounded (branch count, not data), rewritten
    * wholesale on the bucket's next touch, and handled by every
    * reader (a bucketed scan groups a bucket's files into one
    * partition) and by bucket maintenance
    * ([[Warehouse.copyUntouchedBuckets]] walks all files) — the only
    * cost is Spark not trusting SORTED BY metadata for multi-file
    * buckets. Spec-pinned in StreamingChurnWriteSpec.
    */
  def pruneAppendKeyed(table: String, key: String, gone: DataFrame,
                       arrived: DataFrame)
                      (encode: DataFrame => DataFrame): Option[(DataFrame, DataFrame)] = {
    val keys = gone.select(col(key)).unionByName(arrived.select(col(key)))
    val slice = keyedSlice(table, Seq(key))(Warehouse.bucketsOf(keys, Seq(key), _))
    if (slice.isEmpty) return None
    val cur = slice.of(read(table))
    val pruned = cur.join(gone, Seq(key), "left_anti")
    val appended = encode(arrived.join(pruned.select(key), Seq(key), "left_anti"))
    overwriteSlice(table, slice, pruned.unionByName(appended))
    Some((cur.join(gone, Seq(key), "left_semi"), appended))
  }

  /** Targeted DELETE (GDPR erasure, bad-batch retraction): remove the
    * rows matching `predicate`, keeping everything else — including
    * rows where the predicate is NULL (SQL DELETE semantics: only
    * TRUE deletes).
    *
    * On the bucketed layout this costs what it deletes, not what the
    * table holds — for ANY dir count: per dir, one scan finds the
    * buckets containing matching rows (driver result bounded by the
    * bucket count per dir), the rewrite and its input prune to those
    * buckets, untouched buckets hard-link byte-identically — and a dir
    * with NO matching row keeps its catalog entry verbatim, moving
    * zero bytes. A 100 TB append-only fact absorbs an erasure request
    * at the cost of the few (dir × bucket) cells the victim rows live
    * in. A match-less predicate writes nothing at all.
    *
    * Unbucketed tables — and bucketed tables carrying outstanding
    * deletion vectors, where the per-dir carry-over can't hold
    * tombstone identity across multiple rewritten dirs — fall back to
    * a filtered full overwrite (which also MATERIALIZES the DVs).
    */
  def deleteWhere(table: String, predicate: Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce => cl, lit => l, not}
    val keep = not(cl(predicate, l(false)))
    wh.bucketSpec.get(table) match {
      case Some((key, _)) if currentDirs(table).length == 1 =>
        // a match-less predicate touches no bucket: nothing is written
        val cur = read(table)
        val slice = keyedSlice(table, Seq(key))(
          Warehouse.bucketsOf(cur.filter(predicate), Seq(key), _))
        overwriteSlice(table, slice, slice.of(cur).filter(keep))
      case Some((key, n)) if currentDvDirs(table).isEmpty =>
        // multi-dir (the append-only fact shape): replace ONLY dirs
        // holding matching rows, each rewritten bucket-pruned
        val newDirs = currentDirs(table).map { d =>
          val part = wh.readDirs(table, Seq(d))
          val touched = Warehouse.bucketsOf(part.filter(predicate), Seq(key), n)
          if (touched.isEmpty) d // untouched dir: zero bytes move
          else {
            val inT = Warehouse.bucketOf(Seq(col(key)), n).isin(touched: _*)
            wh.writeDataDir(table, align(table, part.filter(inT && keep)), Some((d, touched.toSet)))
          }
        }
        if (newDirs != currentDirs(table)) setPending(table, newDirs)
      case _ =>
        overwrite(table, read(table).filter(keep))
    }
  }

  /** LOGICAL delete — the O(deleted-rows) counterpart of
    * [[deleteWhere]]: rows matching `predicate` (TRUE only — NULL
    * keeps, SQL DELETE semantics) are tombstoned by (file key
    * [[Warehouse.dvFileKey]], row position) into a delete-sized DV dir;
    * NO data file is read back or rewritten beyond the one scan that
    * finds the matches.
    * Every read entry point ([[Warehouse.read]], [[Txn.read]], time
    * travel, skip-scan, raw) applies the tombstones as a broadcast
    * anti-join; compaction and the next overwrite MATERIALIZE them.
    * The Delta/Iceberg merge-on-read trade: a 100 TB table absorbs a
    * point delete at the cost of writing the tombstones, paying a
    * delete-sized broadcast per read until maintenance folds it in.
    * Already-tombstoned rows never re-tombstone (the scan applies
    * outstanding DVs first), so repeated deletes stay delete-sized.
    * Returns the number of rows tombstoned.
    */
  def deleteVectored(table: String, predicate: Column): Long = {
    import org.apache.spark.sql.functions.{coalesce => cl, lit => l}
    val dirs = currentDirs(table)
    if (dirs.isEmpty) return 0L
    val dvd = currentDvDirs(table)
    val withProv = wh.readWithProvenance(table, dirs)
    val alive = if (dvd.isEmpty) withProv else wh.applyDv(withProv, dvd)
    val tomb = alive.filter(cl(predicate, l(false)))
      .select(org.apache.spark.sql.functions.col(Warehouse.DvFile),
        org.apache.spark.sql.functions.col(Warehouse.DvPos))
    val dir = wh.newDataDir(Warehouse.dvKey(table))
    tomb.write.parquet(dir)
    val n = wh.spark.read.schema(Warehouse.dvSchema).parquet(dir).count()
    if (n == 0L) Warehouse.deleteRecursively(Paths.get(dir))   // match-less: no-op
    else setPending(Warehouse.dvKey(table), dvd :+ dir)
    n
  }

  /** Append a batch (facts K8, report rows K10). No existing file is
    * touched — the new dir is referenced alongside the old ones.
    */
  def append(table: String, df: DataFrame): Unit = {
    val dir = wh.writeDataDir(table, align(table, df))
    synchronized { setPending(table, currentDirs(table) :+ dir) }
  }

  /** Append with COMMIT-TIME CONSTRAINTS: the batch is audited against
    * the declarative rules first and REJECTED (with per-rule counts,
    * table untouched) on any violation — the NOT NULL / CHECK /
    * UNIQUE / FK enforcement the reference's Postgres DDL provides
    * (`main.ddl` column constraints) and a parquet lake silently
    * loses. One aggregation pass over the BATCH plus an anti-join per
    * FK; a `Unique` rule checks the batch against ITSELF plus the
    * table's current image (cross-batch duplicates must reject too).
    */
  def appendChecked(table: String, df: DataFrame,
                    rules: Seq[graft.operators.DataQuality.Rule]): Unit = {
    import graft.operators.DataQuality
    val aligned = align(table, df)
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    val rowAndFk = rules.filterNot(_.isInstanceOf[DataQuality.Unique])
    if (rowAndFk.nonEmpty)
      DataQuality.audit(aligned, rowAndFk)
        .filter(org.apache.spark.sql.functions.col("n_violations") > 0)
        .collect().foreach(r => bad += s"${r.getString(0)}=${r.getLong(1)}")
    // batch-internal + batch-vs-table uniqueness, ONE pass per rule: a
    // source flag rides the union, so the same grouped aggregate yields
    // the violation count WITH the batch (over cnt) and WITHOUT it
    // (over the old-rows count) — the former two-job form scanned the
    // table image twice per rule. Pre-existing table duplicates are not
    // this batch's fault: reject only when the batch ADDS violations.
    rules.collect { case u: DataQuality.Unique => u }.foreach { u =>
      import org.apache.spark.sql.functions._
      val ucols = u.columns.map(col)
      val flagged = aligned.select(ucols: _*).withColumn("__new", lit(1L))
        .unionAll(read(table).select(ucols: _*).withColumn("__new", lit(0L)))
      val r = flagged.groupBy(ucols: _*)
        .agg(count(lit(1)).as("cnt"),
          sum(lit(1L) - col("__new")).as("old"))
        .agg(
          coalesce(sum(greatest(col("cnt") - 1, lit(0L))), lit(0L)).as("after"),
          coalesce(sum(greatest(col("old") - 1, lit(0L))), lit(0L)).as("before"))
        .head()
      val added = r.getLong(0) - r.getLong(1)
      if (added > 0) bad += s"${u.name}=$added"
    }
    if (bad.nonEmpty) {
      // diagnostic sample, HARD-BOUNDED by limit(): a fully-violating
      // 100 TB batch collects a handful of rows to the driver, never
      // the batch — the limit sits in the PLAN, upstream of collect
      val rowRules = rules.collect {
        case r @ (_: DataQuality.NotNull | _: DataQuality.Check) => r }
      val sample = if (rowRules.isEmpty) Array.empty[String] else
        DataQuality.quarantine(aligned, rowRules)
          .filter(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.col("failed_rules")) > 0)
          .limit(Txn.ViolationSampleRows)
          .collect().map(_.toString)
      throw new IllegalArgumentException(
        s"append to '$table' rejected by constraints: ${bad.mkString(", ")}" +
          (if (sample.isEmpty) ""
           else s"; sample rows (up to ${Txn.ViolationSampleRows}): ${sample.mkString("; ")}"))
    }
    append(table, aligned)
  }

  /** Schema-fit before write. When the incoming frame already carries the
    * declared column names (in any order — Spark's using-column joins move
    * keys to the front), align BY NAME. Otherwise apply the reference's
    * staging contract (main.py:61-62): rename BY POSITION. Both paths
    * then cast to the declared types.
    */
  private def align(table: String, df: DataFrame): DataFrame = {
    val schema = wh.schemas(table)
    require(df.columns.length == schema.length,
      s"$table expects ${schema.length} columns, got ${df.columns.length}")
    val renamed =
      if (df.columns.toSet == schema.fieldNames.toSet) df
      else df.toDF(schema.fieldNames.toIndexedSeq: _*)
    renamed.select(schema.fields.toIndexedSeq.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Atomic all-tables commit — the Spark counterpart of the single
    * `conn_edu.commit()` at main.py:472. After the O(1) catalog swap,
    * any written table whose dir count crossed the warehouse's
    * auto-compact threshold gets its oldest dirs merged (amortized
    * maintenance — runs of ordinary length never pay it).
    *
    * CONCURRENT WRITERS: the [[Warehouse.swapCatalog]] update is a
    * MERGE over the current committed catalog — `cat ++ pending`, not
    * `snapshot ++ pending` — so two transactions committing DISJOINT
    * table sets both survive in any interleaving (the later commit
    * carries the earlier one's entries forward instead of resetting
    * them to its own begin-snapshot). A commit whose pending keys were
    * moved by another writer since `begin()` fails LOUDLY
    * (`ConcurrentModificationException`) rather than silently
    * clobbering — first-committer-wins OCC, the Delta/Iceberg
    * discipline. Conflict detection is per GUARD SET, not per pending
    * key alone: a table and its deletion-vector entry guard each
    * other, because a vectored delete names (file, position) pairs of
    * the data dirs it saw — committing an overwrite over a concurrent
    * delete (or vice versa) would silently resurrect the deleted rows
    * even though the two txns touched different catalog KEYS. A
    * transaction id guards only itself (first committer wins).
    * Cross-table read-write skew remains accepted (snapshot-isolation
    * class, not serializable), same as every file-format OCC.
    */
  def commit(): Unit = {
    require(!committed, "transaction already committed")
    val written = synchronized(pending.toSeq)
    val guarded: Set[String] = written.map(_._1).flatMap { k =>
      if (Warehouse.isTxnKey(k)) Seq(k)
      else if (k.startsWith(Warehouse.DvPrefix))
        Seq(k, k.stripPrefix(Warehouse.DvPrefix))
      else Seq(k, Warehouse.dvKey(k))
    }.toSet
    val after = wh.swapCatalog { cat =>
      val conflicts = guarded.filter(k =>
        cat.getOrElse(k, Nil) != snapshot.getOrElse(k, Nil))
      if (conflicts.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"commit conflict: ${conflicts.toSeq.sorted.mkString(", ")} " +
            "moved since this transaction began (first committer wins; " +
            "retry the transaction from a fresh begin())")
      Some(cat ++ written)
    }.getOrElse(throw new java.util.ConcurrentModificationException(
      "commit contention: catalog kept moving under unrelated commits; retry"))
    committed = true
    // the commit above is durable at this point: a compaction failure is a
    // maintenance problem (stale dir layout), never a commit failure
    written.foreach { case (t, _) =>
      if (after.getOrElse(t, Nil).length > wh.autoCompactThreshold)
        try {
          if (t.startsWith(Warehouse.DvPrefix)) wh.compactDvKey(t)
          else wh.compactOldest(t, keep = math.max(1, wh.autoCompactThreshold / 4))
        } catch {
          case e: Exception => System.err.println(
            s"[graft] post-commit compaction of '$t' failed (commit is durable): $e")
        }
    }
  }
}

object Txn {
  /** Max violating rows surfaced in a constraint-rejection message —
    * the driver-side bound on [[Txn.appendChecked]] diagnostics.
    */
  val ViolationSampleRows = 5
}

object Warehouse {
  /** Default [[Warehouse.vacuum]] grace: unreferenced dirs younger than
    * this may be an in-flight writer's not-yet-committed output.
    */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  /** Compare-and-swap attempts of [[Warehouse.swapCatalog]] before it
    * gives up on a catalog that keeps moving.
    */
  private[etl] val SwapAttempts = 8

  /** Rewrite rounds of [[Warehouse.rewriteRound]] before a compaction
    * that keeps going stale is abandoned.
    */
  private[etl] val RewriteRounds = 3

  /** Per-root commit monitors: every Warehouse instance over the same
    * (normalized) root shares one, so in-process concurrent writers'
    * compare-and-swap is genuinely atomic (see [[Warehouse.commitCatalogIf]]).
    * The map only ever holds one small object per distinct warehouse
    * root opened by this JVM.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[etl] def commitLockFor(root: String): Object =
    commitLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)

  /** Snapshot a directory listing, CLOSING the underlying stream —
    * `Files.list` holds an open fd until closed, and the recursive
    * walks (vacuum over thousands of retired dirs) would otherwise
    * leak one fd per directory visited until GC.
    */
  private[etl] def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  private[etl] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Default physical partitioning: fact tables by event date. Dims and
    * staging stay unpartitioned (full-snapshot semantics).
    */
  val defaultPartitions: Map[String, (String, Column)] = Map(
    "fact_transactions" -> ("trans_dt", to_date(col("trans_date"))),
    "rep_fraud" -> ("rep_dt", to_date(col("report_dt"))))

  /** Default bucketed layout: every SCD1 dim, bucketed by its merge key.
    * The count is the FIXED parallelism of the merge shuffle being
    * avoided — size it for the target cluster (a 100 TB dim wants
    * thousands), not the current data; resizing is a one-off rewrite.
    * 16 keeps test/bench file counts sane at local scale.
    */
  val defaultBuckets: Map[String, (String, Int)] =
    Schemas.dimKeys.map { case (t, k) => t -> (k, 16) } ++
      // the 100 TB fact table is bucketed by its dedup key ON TOP of its
      // date partitioning: the nightly append anti-join then reads every
      // fact dir as a bucketed scan and plans with ZERO fact-side
      // Exchange (Pipeline.appendFact), where an unbucketed layout
      // shuffles the full fact id set whenever the Bloom auto-sizer
      // declines (exactly the big-delta regime where it hurts most).
      // fact_blacklist stays unbucketed: dozens of rows, broadcast-sized.
      Map("fact_transactions" -> ("trans_id", 16))

  /** The bucket of a row keyed by `cols` in an `n`-bucket layout —
    * Spark's own bucket assignment (`HashPartitioning.partitionIdExpression`:
    * Murmur3 mod n), so these ids line up with the bucketed writer's file
    * naming. The one hash every bucket-pruned read and rewrite uses.
    */
  def bucketOf(cols: Seq[Column], n: Int): Column = pmod(hash(cols: _*), lit(n))

  /** The distinct buckets the rows of `keysDf` (keyed by `keys`) fall
    * in, sorted: a driver result bounded by `n`, never by the data.
    */
  def bucketsOf(keysDf: DataFrame, keys: Seq[String], n: Int): IndexedSeq[Int] =
    keysDf.select(bucketOf(keys.map(col), n).as("b"))
      .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq

  /** DELETION VECTORS: a table's outstanding tombstones live in
    * delete-sized parquet dirs under `data/_dv_<table>/` referenced by
    * the catalog key `_dv_<table>` — the same snapshot/commit/vacuum
    * machinery covers them (a DV becomes visible atomically with its
    * txn's commit; vacuum reclaims retired DV dirs; time travel sees
    * the DV set as of the version). Tombstone identity is the file's
    * [[dvFileKey]] plus row position.
    */
  private[etl] val DvPrefix = "_dv_"
  private[etl] def dvKey(table: String): String = DvPrefix + table
  private[etl] val DvFile = "_graft_dv_file"
  private[etl] val DvPos = "_graft_dv_pos"
  private[etl] val dvSchema: StructType = StructType(Seq(
    StructField(DvFile, StringType, nullable = false),
    StructField(DvPos, LongType, nullable = false)))

  /** Writer `appId`'s transaction id is the entry `_txn_<appId>`. */
  private val TxnPrefix = "_txn_"
  private[etl] def txnKey(appId: String): String = TxnPrefix + appId
  private[etl] def isTxnKey(key: String): Boolean = key.startsWith(TxnPrefix)

  /** Every data dir a catalog names (all entries but transaction ids). */
  private[etl] def dirsOf(cat: Map[String, Seq[String]]): Iterable[String] =
    cat.collect { case (k, dirs) if !isTxnKey(k) => dirs }.flatten

  /** A data file's tombstone key: its path below the warehouse's
    * `data/` dir (`<table>/<dir uuid>/<path in dir>`), so tombstones
    * still name their files on a copied or moved root. The uuid dir
    * keeps it unique — a basename would repeat across dirs (hard-linked
    * bucket carry-over, shallow clones share whole dirs) and suppress
    * rows in a DIFFERENT dir's same-named file. Idempotent, so an
    * absolute URI and its key map to the same key.
    */
  private[etl] def dvFileKey(path: Column): Column = substring_index(path, "/data/", -1)

  /** ONE file index over any number of a table's data dirs, so a
    * multi-dir read is one relation: one scan node, scan tasks packed
    * across all dirs' files (or grouped by bucket id, for a bucketed
    * scan), and static and dynamic partition pruning over every dir. A
    * multi-root `spark.read.parquet` cannot read partitioned dirs: it
    * unifies the partition structure across roots and fails with
    * CONFLICTING_DIRECTORY_STRUCTURES for any two partitioned roots. So
    * each root keeps its own [[InMemoryFileIndex]] discovery and the
    * listings are concatenated. An unpartitioned table's root lists its
    * files as one value-less directory; a partitioned table's empty
    * append dir, which has no `<col>=` subdirs, lists nothing. Every
    * root's discovery is handed the declared `partitionSchema`, so the
    * roots can never disagree on the partition column's type, whatever
    * inference would say. A missing dir fails the read: an
    * [[InMemoryFileIndex]] over a missing root lists nothing, which
    * would read as an empty table. Listings share the session's
    * file-status cache, as `spark.read` does; data dirs are immutable.
    */
  private[etl] final class DirsFileIndex(spark: SparkSession, dataSchema: StructType,
                                         override val partitionSchema: StructType,
                                         dirs: Seq[String]) extends FileIndex {
    private val roots: Seq[InMemoryFileIndex] = {
      val conf = spark.sessionState.newHadoopConf()
      val cache = FileStatusCache.getOrCreate(spark)
      dirs.map { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        require(fs.exists(p), s"data dir $d does not exist (vacuumed?)")
        new InMemoryFileIndex(spark, Seq(fs.makeQualified(p)),
          Map.empty[String, String], Some(StructType(dataSchema ++ partitionSchema)), cache)
      }
    }

    override def rootPaths: Seq[org.apache.hadoop.fs.Path] = roots.flatMap(_.rootPaths)
    override def inputFiles: Array[String] = roots.flatMap(_.inputFiles).toArray
    override def refresh(): Unit = roots.foreach(_.refresh())
    override def sizeInBytes: Long = roots.map(_.sizeInBytes).sum

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      roots.flatMap { r =>
        val listed = r.listFiles(partitionFilters, dataFilters)
        if (r.partitionSchema.nonEmpty || partitionSchema.isEmpty) listed
        else {
          // no partition subdirs: an empty append dir, which lists as
          // one value-less directory
          require(listed.forall(_.files.isEmpty),
            s"${r.rootPaths.mkString} holds data files outside any partition dir")
          Nil
        }
      }

    // identity = the dirs scanned, as for InMemoryFileIndex: two reads
    // of the same immutable dirs are the same relation
    override def equals(other: Any): Boolean = other match {
      case o: DirsFileIndex => rootPaths == o.rootPaths && partitionSchema == o.partitionSchema
      case _ => false
    }
    override def hashCode(): Int = rootPaths.hashCode()
  }
}

/** The part of a table a keyed write rewrites: `touched` holds the
  * key-hash buckets of a bucket-pruned rewrite (empty: nothing to
  * write), `None` the whole table; `rows` selects the slice's rows.
  * Only [[Txn.keyedSlice]] builds a bucket slice, so no caller outside
  * `etl` can hand [[Txn.overwriteSlice]] buckets the guard did not
  * grant.
  */
final class KeyedSlice private[etl] (val touched: Option[IndexedSeq[Int]], rows: Column) {
  def isEmpty: Boolean = touched.exists(_.isEmpty)

  /** `df` restricted to the slice (unfiltered for the whole table). */
  def of(df: DataFrame): DataFrame = if (touched.isDefined) df.filter(rows) else df
}

object KeyedSlice {
  private[etl] val Whole: KeyedSlice = new KeyedSlice(None, lit(true))
}

/** Minimal JSON for `Map[String, Seq[String]]` — no external deps in the
  * offline build; keys and paths are engine-generated (no exotic chars
  * beyond what's escaped here).
  */
private[etl] object CatalogJson {
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(m: Map[String, Seq[String]]): String =
    m.toSeq.sortBy(_._1).map { case (k, vs) =>
      s""""${esc(k)}": [${vs.map(v => s""""${esc(v)}"""").mkString(", ")}]"""
    }.mkString("{\n  ", ",\n  ", "\n}")

  // Tolerant hand-rolled parser for exactly the shape `render` emits.
  def parse(s: String): Map[String, Seq[String]] = {
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*\[([^\]]*)\]""".r
    val str = """"((?:[^"\\]|\\.)*)"""".r
    entry.findAllMatchIn(s).map { m =>
      val key = unesc(m.group(1))
      val vals = str.findAllMatchIn(m.group(2)).map(v => unesc(v.group(1))).toSeq
      key -> vals
    }.toMap
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
