package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{BankSource, DropFolder, FileSources}

/** The daily run (`main.py` top to bottom) as a pure function over a
  * [[Warehouse]]: stage → SCD1-merge dims → meta watermarks → append
  * facts → build reports → ONE atomic commit → archive input files.
  *
  * Ordering is the reference's (SURVEY §3 entry point 1), with one
  * deliberate fix: files are archived AFTER the commit, where the
  * reference renames them mid-run (main.py:70) and loses them if the
  * transaction later rolls back.
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
    * seconds (SURVEY §2.8).
    */
  def run(bank: BankSource, dropDir: Option[String], runTs: Timestamp): Unit = {
    val ts = new Timestamp(runTs.getTime / 1000 * 1000)
    val txn = wh.begin()

    // ---- staging: truncate (K1) happens implicitly — each stg table is
    // rebuilt from scratch this run.
    val processed = lit(ts)

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

    txn.overwrite("stg_clients",
      extract(bank.clients(spark), "dim_clients").withColumn("processed_dt", processed))
    txn.overwrite("stg_accounts",
      extract(bank.accounts(spark), "dim_accounts").withColumn("processed_dt", processed))
    txn.overwrite("stg_cards",
      extract(bank.cards(spark), "dim_cards").withColumn("processed_dt", processed))
    txn.overwrite("stg_terminals", wh.emptyDf("stg_terminals"))
    txn.overwrite("stg_transactions", wh.emptyDf("stg_transactions"))
    txn.overwrite("stg_blacklist", wh.emptyDf("stg_blacklist"))

    // ---- file ingestion (S4-S7): route, parse, append to staging
    val files = dropDir.map(DropFolder.discover).getOrElse(Nil)
    files.foreach { f =>
      val path = f.path.toString
      f.kind match {
        case DropFolder.Transactions =>
          txn.append("stg_transactions", FileSources.transactionsCsv(spark, path))
        case DropFolder.Terminals =>
          txn.append("stg_terminals", FileSources.terminalsXlsx(spark, path,
            Timestamp.valueOf(f.fileDate.atStartOfDay), ts))
        case DropFolder.Blacklist =>
          val df = FileSources.blacklistXlsx(spark, path)
          val staged = mode match {
            case Reports.Faithful => df // keep styled-empty (all-null) rows
            case Reports.Corrected =>
              df.filter(col("entry_dt").isNotNull || col("passport_num").isNotNull)
          }
          txn.append("stg_blacklist", staged)
      }
    }

    // ---- SCD1 merge, one per dim (K4+K6+K7 via Scd1.mergeAudit),
    // bucket-pruned on a bucketed dim (Scd1.mergeAuditWarehouse).
    // Incremental mode: bank dims merge their delta with no delete path;
    // terminals are file-fed full snapshots either way.
    Schemas.dimKeys.keys.toSeq.sorted.foreach { dim =>
      Scd1.mergeAuditWarehouse(txn, dim, txn.read("stg_" + dim.stripPrefix("dim_")),
        Seq(Schemas.dimKeys(dim)), Schemas.dimCompareCols(dim), ts,
        deletesVisible = !incremental || dim == "dim_terminals")
    }

    // ---- meta watermarks (K9): the reference seeds 1900-01-01 for a
    // missing row (main.py:350-357) but the unconditional UPDATE right
    // after (main.py:359-366) overwrites it with the staging scalar —
    // which is NULL when staging is empty. Net effect each run: the row
    // exists and holds coalesce(max(update_dt), max(create_dt)) or NULL.
    val metaRows = Schemas.dimKeys.keys.toSeq.sorted.map { dim =>
      val stg = txn.read("stg_" + dim.stripPrefix("dim_"))
      val wm = stg.agg(coalesce(max("update_dt"), max("create_dt"))).head().get(0)
      val stgWm = Option(wm).map(_.asInstanceOf[Timestamp])
      // incremental: an empty delta means "no change" — keep the previous
      // watermark instead of faithfully overwriting it with NULL
      val kept = if (incremental) stgWm.orElse(wmFor(dim)) else stgWm
      ("deaian", "lapp_dwh_" + dim, kept)
    }
    import spark.implicits._
    val metaNew = metaRows.toDF("schema_name", "table_name", "max_update_dt")
    val metaKept = txn.read("meta").alias("m")
      .join(metaNew.select(col("schema_name").as("s"), col("table_name").as("t")),
        col("m.schema_name") === col("s") && col("m.table_name") === col("t"), "left_anti")
    txn.overwrite("meta", metaKept.unionByName(metaNew))

    // ---- facts (K8): anti-join dedup append, blacklist first
    // (main.py:390-391). Two fact-side defenses compose:
    //  - Bloom prune BELOW the join (graft.operators.BloomJoin): one
    //    filter built from the day's staging keys (ONE small-side
    //    action, reused across every fact dir), so fact ids that cannot
    //    match die in the scan stage. Identical results — no false
    //    negatives (replay-verified).
    //  - bucketed layout (Warehouse.defaultBuckets): fact dirs are
    //    bucketed by the dedup key, and `stg ANTI (d₁ ∪ d₂ ∪ …)` is
    //    rewritten as the cascade `((stg ANTI d₁) ANTI d₂) …` — each
    //    dir is its own bucketed scan carrying HashPartitioning(key, n),
    //    so the plan has ZERO fact-side ShuffleExchange (spec-gated);
    //    the delta exchanges once into the bucket layout and its
    //    partitioning is preserved through the whole cascade. This is
    //    what keeps the big-delta regime safe: when the Bloom auto-sizer
    //    declines (too many staging keys to filter profitably), an
    //    unbucketed plan would shuffle the FULL 100 TB fact id set.
    def appendFact(fact: String, stg: String, id: String): Unit =
      txn.append(fact, freshFactRows(txn, fact, stg, id))
    appendFact("fact_blacklist", "stg_blacklist", "passport_num")
    appendFact("fact_transactions", "stg_transactions", "trans_id")

    // ---- reports (K10): three appends, no dedup (reruns duplicate rows,
    // as in the reference)
    val fact = txn.read("fact_transactions")
    val cards = txn.read("dim_cards")
    val accounts = txn.read("dim_accounts")
    val clients = txn.read("dim_clients")
    val terminals = txn.read("dim_terminals")
    val blacklist = txn.read("fact_blacklist")
    txn.append("rep_fraud",
      Reports.fraudExpiredPassport(fact, cards, accounts, clients, blacklist, mode))
    txn.append("rep_fraud",
      Reports.fraudInactiveAccount(fact, cards, accounts, clients))
    txn.append("rep_fraud",
      Reports.fraudCityHopping(fact, cards, terminals, accounts, clients))

    // ---- K11: one atomic commit, then (and only then) archive inputs
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
}

object Pipeline {
  /** The rows of `batch` whose `id` is NOT already in `fact` — the K8
    * dedup plan, reusable against any incoming frame (nightly staging
    * or a streaming micro-batch): a batch-sized Bloom filter prunes
    * each fact dir's id scan BELOW the anti-join, and the anti-joins
    * chain PER DIR so a bucketed fact contributes zero fact-side
    * Exchange.
    */
  private[graft] def freshAgainstTable(txn: Txn, fact: String,
                                       batch: DataFrame, id: String): DataFrame = {
    val bloom = graft.operators.BloomJoin.keyFilter(batch, id)
    def pruned(part: DataFrame): DataFrame = {
      val keys = part.select(col(id)).filter(col(id).isNotNull)
      bloom.fold(keys)(b => keys.filter(b.mightContain(col(id))))
    }
    val factParts =
      if (txn.wh.bucketSpec.contains(fact)) txn.readBucketedParts(fact)
      else Seq(txn.read(fact))
    factParts.foldLeft(batch) { (acc, part) =>
      acc.join(pruned(part), Seq(id), "left_anti")
    }
  }
}
