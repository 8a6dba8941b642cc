package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{BankSource, DropFolder, FileSources}

/** The daily run (`main.py` top to bottom) as a pure function over a
  * [[Warehouse]]: stage → SCD1-merge dims, meta watermarks, append facts
  * → build reports → ONE atomic commit → archive input files.
  *
  * The reference runs its statements one after another inside one
  * Postgres transaction (main.py:18, commit at main.py:472). Their
  * writes form a fixed dependency graph of three levels, and each
  * level's writes run concurrently, one thread per write, inside the
  * one [[Txn]]:
  *  1. staging: the six `stg_*` tables, from the inputs alone;
  *  2. the four dim merges, the meta watermarks and the two fact
  *     appends: each reads only staging and the table it writes;
  *  3. the reports: ONE `rep_fraud` append of the three reports
  *     ([[Reports.fraudReports]]), which read the merged dims and the
  *     appended facts.
  * No write is visible outside the txn before the single commit, so
  * running a level's statements concurrently cannot be observed: the
  * committed image is the one the reference's order produces.
  *
  * One deliberate fix to the reference's order: files are archived
  * AFTER the commit, where the reference renames them mid-run
  * (main.py:70) and loses them if the transaction later rolls back.
  * The commit carries the night's transaction id (the truncated `runTs`
  * in epoch seconds), so a rerun of a night that died after its commit
  * only archives the drop files still left.
  *
  * `incremental = true` enables the corrected-mode improvement the
  * reference's own meta table begs for: the recorded watermark
  * (main.py:360-366, write-only there) is read back and the bank dims
  * are extracted as DELTAS (`coalesce(update_dt, create_dt) > watermark`)
  * merged without a delete path — at 100 TB a full-snapshot extract of
  * every dim every night doesn't fly. Deletes then require a periodic
  * full-snapshot (incremental = false) reconciliation run; file-fed
  * terminals stay full-snapshot either way.
  */
class Pipeline(spark: SparkSession, wh: Warehouse,
               mode: Reports.Mode = Reports.Faithful,
               incremental: Boolean = false) {

  /** One nightly run. `runTs` is captured once and truncated to whole
    * seconds — PG `now()` is statement-stable and TIMESTAMP(0) rounds to
    * seconds (SURVEY §2.8). Throws the first failed write of a level
    * (see [[Pipeline.concurrently]]); then nothing is committed and no
    * input file is archived. A committed night only archives its
    * remaining drop files; an older night throws and archives nothing.
    */
  def run(bank: BankSource, dropDir: Option[String], runTs: Timestamp): Unit = {
    val ts = new Timestamp(runTs.getTime / 1000 * 1000)
    val night = ts.getTime / 1000
    val txn = wh.begin()
    val files = dropDir.map(DropFolder.discover).getOrElse(Nil)
    txn.txnVersion(Pipeline.AppId) match {
      case Some(done) if done > night => throw new IllegalStateException(s"night $ts is older " +
        s"than the last committed night ${new Timestamp(done * 1000)}; nothing was run or archived")
      case Some(done) if done == night =>
        txn.discard()
        files.foreach(DropFolder.archive)
        return
      case _ =>
    }
    val dims = Schemas.dimKeys.keys.toSeq.sorted
    def stgOf(dim: String): String = "stg_" + dim.stripPrefix("dim_")

    // previous watermarks, ONE driver read of the (dims-sized) meta
    // table per run — not one lookup per dim: at a 1,000-table warehouse
    // per-dim lookups are 1,000 driver round trips for the same rows
    val watermarks: Map[String, Option[Timestamp]] =
      if (!incremental) Map.empty
      else txn.read("meta").select("table_name", "max_update_dt").collect()
        .map(r => r.getString(0) -> Option(r.getTimestamp(1))).toMap
    def wmFor(dim: String): Option[Timestamp] =
      watermarks.getOrElse("lapp_dwh_" + dim, None)

    // incremental bank extract: only rows changed since the watermark
    def extract(df: DataFrame, dim: String): DataFrame = wmFor(dim) match {
      case Some(wm) => df.filter(coalesce(col("update_dt"), col("create_dt")) > lit(wm))
      case None => df
    }

    // ---- level 1, staging: truncate (K1) happens implicitly — each stg
    // table is rebuilt from scratch this run with ONE write. File-fed
    // tables (S4-S7) stage the union of their kind's drop files in
    // discovery order, or nothing when none was dropped.
    def fromFiles(kind: DropFolder.Kind, table: String)
                 (parse: DropFolder.DropFile => DataFrame): DataFrame =
      files.filter(_.kind == kind).map(parse).reduceOption(_ unionByName _)
        .getOrElse(wh.emptyDf(table))
    def fromBank(dim: String, source: SparkSession => DataFrame): DataFrame =
      extract(source(spark), dim).withColumn("processed_dt", lit(ts))
    val staging: Seq[(String, () => DataFrame)] = Seq(
      "stg_clients" -> (() => fromBank("dim_clients", bank.clients)),
      "stg_accounts" -> (() => fromBank("dim_accounts", bank.accounts)),
      "stg_cards" -> (() => fromBank("dim_cards", bank.cards)),
      "stg_terminals" -> (() => fromFiles(DropFolder.Terminals, "stg_terminals")(f =>
        FileSources.terminalsXlsx(spark, f.path.toString,
          Timestamp.valueOf(f.fileDate.atStartOfDay), ts))),
      "stg_transactions" -> (() => fromFiles(DropFolder.Transactions, "stg_transactions")(f =>
        FileSources.transactionsCsv(spark, f.path.toString))),
      "stg_blacklist" -> { () =>
        val df = fromFiles(DropFolder.Blacklist, "stg_blacklist")(f =>
          FileSources.blacklistXlsx(spark, f.path.toString))
        mode match {
          case Reports.Faithful => df // keep styled-empty (all-null) rows
          case Reports.Corrected =>
            df.filter(col("entry_dt").isNotNull || col("passport_num").isNotNull)
        }
      })
    Pipeline.concurrently(staging.map { case (t, df) => t -> (() => txn.overwrite(t, df())) })

    // ---- level 2, SCD1 merge, one per dim (K4+K6+K7 via Scd1.mergeAudit),
    // bucket-pruned on a bucketed dim (Scd1.mergeAuditWarehouse).
    // Incremental mode: bank dims merge their delta with no delete path;
    // terminals are file-fed full snapshots either way.
    val merges = dims.map { dim =>
      dim -> (() => Scd1.mergeAuditWarehouse(txn, dim, txn.read(stgOf(dim)),
        Seq(Schemas.dimKeys(dim)), Schemas.dimCompareCols(dim), ts,
        deletesVisible = !incremental || dim == "dim_terminals"))
    }

    // ---- level 2, meta watermarks (K9): the reference seeds 1900-01-01
    // for a missing row (main.py:350-357) but the unconditional UPDATE
    // right after (main.py:359-366) overwrites it with the staging
    // scalar — which is NULL when staging is empty. Net effect each run:
    // the row exists and holds coalesce(max(update_dt), max(create_dt))
    // or NULL. All four scalars come from ONE action over the union of
    // the staging tables.
    def metaImage(): DataFrame = {
      val stgWm: Map[String, Option[Timestamp]] = dims
        .map(d => txn.read(stgOf(d)).select(lit(d).as("dim"), col("update_dt"), col("create_dt")))
        .reduce(_ unionByName _)
        .groupBy("dim").agg(coalesce(max("update_dt"), max("create_dt")))
        .collect().map(r => r.getString(0) -> Option(r.getTimestamp(1))).toMap
      val metaRows = dims.map { dim =>
        val wm = stgWm.getOrElse(dim, None)
        // incremental: an empty delta means "no change" — keep the previous
        // watermark instead of faithfully overwriting it with NULL
        val kept = if (incremental) wm.orElse(wmFor(dim)) else wm
        ("deaian", "lapp_dwh_" + dim, kept)
      }
      import spark.implicits._
      val metaNew = metaRows.toDF("schema_name", "table_name", "max_update_dt")
      val metaKept = txn.read("meta").alias("m")
        .join(metaNew.select(col("schema_name").as("s"), col("table_name").as("t")),
          col("m.schema_name") === col("s") && col("m.table_name") === col("t"), "left_anti")
      metaKept.unionByName(metaNew)
    }

    // ---- level 2, facts (K8): anti-join dedup append. Two fact-side
    // defenses compose:
    //  - Bloom prune BELOW the join (graft.operators.BloomJoin): one
    //    filter built from the day's staging keys (ONE small-side
    //    action), so fact ids that cannot match die in the scan stage.
    //    Identical results — no false negatives (replay-verified).
    //  - bucketed layout (Warehouse.defaultBuckets): fact dirs are
    //    bucketed by the dedup key, and all of them are read as ONE
    //    bucketed scan carrying HashPartitioning(key, n), so the plan
    //    has ZERO fact-side ShuffleExchange (spec-gated); only the delta
    //    exchanges, once, into the bucket layout. This is what keeps the
    //    big-delta regime safe: when the Bloom auto-sizer declines (too
    //    many staging keys to filter profitably), an unbucketed plan
    //    would shuffle the FULL 100 TB fact id set.
    def appendFact(fact: String, stg: String, id: String): (String, () => Unit) =
      fact -> (() => txn.append(fact, freshFactRows(txn, fact, stg, id)))
    Pipeline.concurrently(merges ++ Seq(
      "meta" -> (() => txn.overwrite("meta", metaImage())),
      appendFact("fact_blacklist", "stg_blacklist", "passport_num"),
      appendFact("fact_transactions", "stg_transactions", "trans_id")))

    // ---- level 3, reports (K10): the three reports appended as ONE
    // write, no dedup: the night's transaction id is what keeps a rerun
    // of a committed night from appending them again
    txn.append("rep_fraud", reportRows(txn))

    // ---- K11: one atomic commit, with the night's id, then (and only
    // then) archive inputs
    txn.setTxnVersion(Pipeline.AppId, night)
    txn.commit()
    files.foreach(DropFolder.archive)
  }

  /** The staging rows NOT already in `fact` — the dedup side of the K8
    * append (see the comment block at the call site for the two
    * fact-side defenses this plan composes). Exposed at class level so
    * the plan-shape spec can gate the runtime plan directly.
    */
  private[etl] def freshFactRows(txn: Txn, fact: String, stg: String,
                                 id: String): DataFrame =
    Pipeline.freshAgainstTable(txn, fact, txn.read(stg), id)

  /** The level-3 rows: the three fraud reports ([[Reports.fraudReports]])
    * over the dims and facts this txn sees, each read as a plain,
    * file-packed scan: no report joins on a bucket key, and report №3's
    * window above broadcast joins would otherwise keep bucketed scans of
    * the fact and of two dims, at one task per bucket. Exposed at class
    * level so the plan-shape spec can gate the runtime plan directly.
    */
  private[etl] def reportRows(txn: Txn): DataFrame =
    Reports.fraudReports(txn.readPlain("fact_transactions"), txn.readPlain("dim_cards"),
      txn.readPlain("dim_accounts"), txn.readPlain("dim_clients"),
      txn.readPlain("dim_terminals"), txn.readPlain("fact_blacklist"), mode)
}

object Pipeline {
  private val AppId = "nightly" // the nightly run's transaction id

  /** Run `writes` (table → the write) concurrently, one thread per
    * write, started by the calling thread so that each inherits its
    * Spark local properties. Returns only once EVERY write has finished;
    * if any failed, throws the first failure, the others added to it as
    * suppressed exceptions.
    */
  private[etl] def concurrently(writes: Seq[(String, () => Unit)]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writes.map { case (table, write) =>
      new Thread(() => try write() catch { case t: Throwable => failures.add(t) },
        s"graft-pipeline-$table")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
  }

  /** The rows of `batch` whose `id` is NOT already in `fact` — the K8
    * dedup plan, reusable against any incoming frame (nightly staging
    * or a streaming micro-batch): ONE anti-join against ONE scan of all
    * of `fact`'s dirs, whose id column a batch-sized Bloom filter
    * prunes BELOW the join. A fact bucketed by `id` reads as one
    * bucketed scan, so it contributes zero fact-side Exchange.
    */
  private[graft] def freshAgainstTable(txn: Txn, fact: String,
                                       batch: DataFrame, id: String): DataFrame = {
    val bloom = graft.operators.BloomJoin.keyFilter(batch, id)
    val ids = txn.read(fact).select(col(id)).filter(col(id).isNotNull)
    batch.join(bloom.fold(ids)(b => ids.filter(b.mightContain(col(id)))), Seq(id), "left_anti")
  }
}
