package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** QUERY RESULT CACHE with table-granular invalidation — the
  * serving-side complement of the MV family: an MV answers a DECLARED
  * aggregate shape; the result cache answers the exact query it saw
  * before, for the dashboard/report workload that re-issues identical
  * queries many times between warehouse loads.
  *
  * Soundness comes from the warehouse's own storage contract: data
  * dirs are immutable, so a deterministic plan's result is a pure
  * function of (canonical plan, the exact set of file paths it scans).
  * That pair is the key — no clock, no version counter:
  *
  *  - a commit to a table the plan READS gives the next `wh.read` a
  *    different dir set ⇒ different key ⇒ miss + recompute (exact
  *    invalidation, by construction);
  *  - a commit to an UNRELATED table leaves the plan's paths unchanged
  *    ⇒ the entry keeps hitting (table-granular, unlike a global
  *    version key);
  *  - hash collisions are closed by comparing the stored canonical
  *    plan text; a mismatch recomputes and takes over the slot;
  *  - a plan containing a nondeterministic expression (rand(), uuid(),
  *    current_timestamp) BYPASSES the cache entirely — replaying a
  *    stored sample as a fresh one would be a lie.
  *
  * Entries live under `root/_cache/` as parquet, so a cached result
  * streams back distributed (no driver materialization, any size).
  * [[prune]] reclaims entries referencing paths no longer live in the
  * catalog (i.e. whose source dirs were retired by later commits).
  */
object ResultCache {
  import Warehouse.{deleteRecursively, listDir}

  private def canonical(df: DataFrame) = df.queryExecution.analyzed.canonicalized

  /** The file-source root paths the plan scans, sorted — with the plan
    * hash, the full identity of a deterministic result.
    */
  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.distinct.sorted

  private def deterministic(df: DataFrame): Boolean =
    !df.queryExecution.analyzed.exists(_.expressions.exists(e =>
      e.exists(!_.deterministic)))

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_))
      .mkString.take(16)

  private def entryDir(wh: Warehouse, df: DataFrame): Path = {
    val plan = canonical(df)
    Paths.get(wh.root, "_cache",
      f"${plan.semanticHash()}%08x_${digest(scannedPaths(df).mkString("\n"))}")
  }

  private def isHit(dir: Path, planText: String): Boolean = {
    val planFile = dir.resolve("plan.txt")
    Files.exists(planFile) &&
      new String(Files.readAllBytes(planFile), StandardCharsets.UTF_8) == planText &&
      Files.exists(dir.resolve("data").resolve("_SUCCESS"))
  }

  /** Entry cap for [[through]]'s default: a long-lived serving process
    * re-keying on every commit would otherwise grow `_cache/`
    * unboundedly ([[prune]] only reclaims entries whose SOURCE dirs
    * retired — distinct queries over live dirs accumulate forever).
    */
  val DefaultMaxEntries = 256

  /** Eviction grace: entries touched (stored or hit) within this window
    * are never LRU-evicted, even over the cap. [[through]] hands back a
    * LAZY frame over the entry's parquet; without the grace, a burst of
    * distinct queries could delete the files BEFORE the caller's
    * action runs them, failing the scan mid-flight. The cap can
    * transiently overshoot by the burst arriving inside one window —
    * bounded, and reclaimed at the next store past the window. A
    * consumer that parks an unconsumed cached frame LONGER than the
    * grace and then races an eviction re-runs its query — the
    * documented contract for lazily-held results.
    */
  val DefaultEvictionGraceMs: Long = 10L * 60 * 1000

  /** HARD entry ceiling (vs `maxEntries`, the soft LRU target): the
    * eviction grace makes the soft cap advisory — a burst of distinct
    * deterministic queries inside one grace window stores entries the
    * LRU pass may not delete yet. At `hardMaxEntries` [[through]] stops
    * STORING and hands the caller its own (uncached) frame instead:
    * correctness unchanged, the burst just doesn't cache, and `_cache/`
    * on disk is bounded by the hard cap in every window.
    */
  val DefaultHardMaxEntries: Int = DefaultMaxEntries * 2

  private def entryCount(wh: Warehouse): Int = {
    val root = Paths.get(wh.root, "_cache")
    if (!Files.exists(root)) 0
    else listDir(root).count(Files.isDirectory(_))
  }

  /** Run `df` through the cache of `wh`: return the stored result when
    * the same canonical plan over the same scanned paths was already
    * evaluated, else evaluate, store, and read back. Build the frame
    * from CURRENT reads (`wh.read(...)`) right before calling — a
    * frame captured before a commit reads the old dirs, which is
    * exactly what its key says it reads. Past `maxEntries` the
    * least-recently-USED entries are evicted at store time (recency =
    * last hit or store, tracked per entry); at `hardMaxEntries` new
    * results BYPASS the store entirely (uncached passthrough), so the
    * on-disk footprint is bounded even when the grace window protects
    * every LRU candidate.
    */
  def through(wh: Warehouse, df: DataFrame,
              maxEntries: Int = DefaultMaxEntries,
              evictionGraceMs: Long = DefaultEvictionGraceMs,
              hardMaxEntries: Int = DefaultHardMaxEntries): DataFrame = {
    if (!deterministic(df)) return df
    val text = canonical(df).toString
    val dir = entryDir(wh, df)
    val dataDir = dir.resolve("data")
    if (!isHit(dir, text)) {
      // effective ceiling scales with the caller's soft cap (a caller
      // passing maxEntries >= the default hard cap must not freeze the
      // cache), and an ALREADY-EXISTING entry dir (plan-hash-collision
      // takeover, or a crashed store without _SUCCESS) is always
      // rewritable — replacing it grows nothing.
      val ceiling = math.max(hardMaxEntries, 2 * maxEntries)
      if (!Files.exists(dir) && entryCount(wh) >= ceiling) {
        // grace-protected entries have pinned the disk at the hard cap:
        // serve this one uncached rather than grow further
        evictOver(wh, maxEntries, evictionGraceMs)
        return df
      }
      df.write.mode("overwrite").parquet(dataDir.toString)
      Files.createDirectories(dir)
      Files.write(dir.resolve("plan.txt"), text.getBytes(StandardCharsets.UTF_8))
      Files.write(dir.resolve("paths.txt"),
        scannedPaths(df).mkString("\n").getBytes(StandardCharsets.UTF_8))
      evictOver(wh, maxEntries, evictionGraceMs)
    }
    touch(dir)
    wh.spark.read.schema(df.schema).parquet(dataDir.toString)
  }

  private def touch(dir: Path): Unit =
    try Files.setLastModifiedTime(dir,
      java.nio.file.attribute.FileTime.from(java.time.Instant.now()))
    catch { case _: java.io.IOException => () }

  /** Delete least-recently-used entries beyond `maxEntries` (recency =
    * the entry dir's mtime, refreshed by [[touch]] on every hit/store;
    * name-tiebroken for determinism).
    */
  private def evictOver(wh: Warehouse, maxEntries: Int, graceMs: Long): Unit = {
    val root = Paths.get(wh.root, "_cache")
    if (!Files.exists(root)) return
    val entries = listDir(root).iterator
      .filter(Files.isDirectory(_)).toSeq
      .map(d => (Files.getLastModifiedTime(d).toMillis, d.getFileName.toString, d))
      .sortBy { case (t, n, _) => (t, n) }
    val cutoff = System.currentTimeMillis() - graceMs
    if (entries.length > maxEntries)
      entries.dropRight(maxEntries)
        .filter { case (t, _, _) => t < cutoff }  // inside-grace entries survive
        .foreach { case (_, _, d) => deleteRecursively(d) }
  }

  /** True iff [[through]] would hit for this frame right now (test and
    * monitoring hook — the decision logic, shared verbatim).
    */
  def wouldHit(wh: Warehouse, df: DataFrame): Boolean =
    deterministic(df) && isHit(entryDir(wh, df), canonical(df).toString)

  /** Reclaim entries whose recorded source paths are no longer all
    * live in the catalog — their dirs were retired by later commits,
    * so no current read can ever produce their key again. Returns the
    * number of entries removed.
    */
  def prune(wh: Warehouse): Int = {
    val root = Paths.get(wh.root, "_cache")
    if (!Files.exists(root)) return 0
    val live = Warehouse.dirsOf(wh.catalog()).toSet
    val stale = listDir(root).iterator.filter { d =>
      val pf = d.resolve("paths.txt")
      !Files.exists(pf) ||
        new String(Files.readAllBytes(pf), StandardCharsets.UTF_8)
          .split("\n").filter(_.nonEmpty)
          .exists(p => !live.contains(stripScheme(p)))
    }.toSeq
    stale.foreach(deleteRecursively)
    stale.size
  }

  // catalog paths are plain; plan rootPaths carry the fs scheme
  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
}
