package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.MaterializedAgg
import graft.operators.MaterializedAgg.Measure

/** PARTIAL materialized views with delta-aware refresh and routing —
  * the lazy-refresh operating mode the strict contract
  * ("`MaterializedAgg.refresh` in the same `Txn` as the fact append")
  * deliberately excludes. Here the view is refreshed on ITS OWN
  * schedule (nightly, hourly) while the base table keeps appending,
  * and queries stay exactly correct in between because routing unions
  * the stored rows with per-grain partials of just the UNCOVERED dirs.
  *
  * The mechanism is the warehouse's own immutability: a base table
  * only ever changes by adding or retiring whole data dirs, so "what
  * the view has seen" is precisely a SET OF DIR PATHS — recorded in a
  * `_mv_coverage` file inside the view's data dir (underscore-prefixed
  * ⇒ invisible to parquet scans), written before the commit that
  * publishes the dir, so view rows and their provenance are atomic.
  * It names the dirs as the catalog does (relative to the warehouse
  * root), so a copied or moved root keeps its coverage.
  *
  * At 100 TB this is the difference between a nightly view rebuild
  * costing a full fact scan and costing one pass over the day's
  * appends: [[refresh]] reads ONLY delta dirs (covered dirs are never
  * re-read), and between refreshes a routed query scans the view plus
  * the handful of dirs that arrived since — never the covered ones.
  *
  * Soundness guard: if a COVERED dir is no longer in the base catalog
  * (the base was overwritten, or compaction merged old dirs), the
  * stored rows can include data the current image no longer holds —
  * the view is unusable as a partial, and both [[refresh]] and
  * [[currentImage]] fall back to a full recompute (correct, just not
  * cheap). Compaction of a delta-viewed base is the caller's signal to
  * refresh.
  */
object DeltaMv {

  private def coverageFile(dir: String): Path = Paths.get(dir, "_mv_coverage")

  private def writeCoverage(wh: Warehouse, dir: String, baseDirs: Seq[String]): Unit =
    Files.write(coverageFile(dir),
      baseDirs.map(wh.relativeDir).sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def coverageIn(wh: Warehouse, mvDirs: Seq[String]): Set[String] =
    mvDirs.flatMap { d =>
      val f = coverageFile(d)
      if (Files.exists(f))
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
          .split("\n").filter(_.nonEmpty).toSeq.map(wh.resolveDir)
      else Nil
    }.toSet

  /** Base dirs the committed view image incorporates. */
  def coverage(wh: Warehouse, mvTable: String): Set[String] =
    coverageIn(wh, wh.catalog().getOrElse(mvTable, Nil))

  /** Fold every base dir the view doesn't yet cover into it, inside
    * `txn` — cost tracks the DELTA. No-op when already current; full
    * rebuild when a covered dir was retired (see the class doc).
    */
  def refresh(wh: Warehouse, txn: Txn, baseTable: String, mvTable: String,
              keys: Seq[String], measures: Seq[Measure]): Unit = {
    val baseDirs = txn.currentDirs(baseTable)
    val covered = coverageIn(wh, txn.currentDirs(mvTable))
    if (covered.isEmpty || (covered -- baseDirs.toSet).nonEmpty)
      txn.overwrite(mvTable,
        MaterializedAgg.aggregate(txn.read(baseTable), keys, measures))
    else {
      val delta = baseDirs.filterNot(covered)
      if (delta.isEmpty) return
      val deltaRows = wh.readDirs(baseTable, delta)
      // the refresh algebra is strictly per-key, so on a view bucketed
      // by keys.head the delta can only move rows in the buckets its
      // own keys hash to — slice those, merge into the slice, rewrite
      // only them (untouched buckets hard-link). The write then costs
      // the delta's KEY SPREAD, not the view size. A zero-row delta dir
      // set takes the whole-table slice: the view content is unchanged
      // either way, but coverage still has to advance through a
      // committed write.
      val keyed = txn.keyedSlice(mvTable, keys.take(1))(
        Warehouse.bucketsOf(deltaRows, keys.take(1), _))
      val slice = if (keyed.isEmpty) KeyedSlice.Whole else keyed
      txn.overwriteSlice(mvTable, slice, MaterializedAgg.refresh(
        slice.of(txn.read(mvTable)), deltaRows, keys, measures))
    }
    writeCoverage(wh, txn.currentDirs(mvTable).head, baseDirs)
  }

  /** The exactly-current logical image of the base aggregate: stored
    * view rows ∪ per-grain partials of the uncovered dirs. May hold
    * MULTIPLE rows per key (one stored + one per-delta) — consumers
    * must merge, which is why delta routing always re-aggregates
    * ([[graft.plans.MvRewrite.registerWarehouseDelta]] sets
    * `partial = true`).
    */
  def currentImage(wh: Warehouse, baseTable: String, mvTable: String,
                   keys: Seq[String], measures: Seq[Measure]): DataFrame = {
    val baseDirs = wh.catalog().getOrElse(baseTable, Nil)
    val covered = coverage(wh, mvTable)
    if (covered.isEmpty || (covered -- baseDirs.toSet).nonEmpty)
      return MaterializedAgg.aggregate(wh.read(baseTable), keys, measures)
    val cols = (keys ++ measures.map(_.name)).map(col)
    val view = wh.read(mvTable).select(cols: _*)
    val delta = baseDirs.filterNot(covered)
    if (delta.isEmpty) view
    else view.unionAll(
      MaterializedAgg.aggregate(wh.readDirs(baseTable, delta), keys, measures)
        .select(cols: _*))
  }
}
