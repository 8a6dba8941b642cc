package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD Type-1 snapshot merge.
  *
  * Reference semantics (`/root/reference/main.py`): insert new keys via
  * left-anti join (main.py:153-155), update rows whose compared columns
  * differ null-safely (inner join + per-column 3-clause disjunction,
  * main.py:183-212), delete keys absent from today's full snapshot
  * (main.py:329-343). The reference runs these as three separate SQL DML
  * statements against a mutable Postgres table.
  *
  * Here the whole merge is ONE left outer join with the snapshot on the
  * left: the snapshot drives the output (output keys == snapshot keys, so
  * deletes are implicit — K7), and the dim side classifies each row as
  * insert / update / unchanged (K4 / K6). One shuffle instead of three
  * passes; at 100 TB both sides hash-partition on the key, and a dim
  * stored bucketed by the key merges with no dim-side shuffle at all.
  *
  * That join is [[diff]], the one keyed diff every SCD variant ([[Scd2]],
  * [[Scd3]]) and the change feed ([[ChangeFeed.diffStruct]]) classify
  * their rows through.
  */
object Scd1 {

  /** What a source row's absence means to [[diff]]. */
  private[etl] sealed trait DiffKind
  /** A full snapshot: a dim key absent from it is deleted. */
  private[etl] case object FullSnapshot extends DiffKind
  /** An incremental delta: absence leaves the dim row unchanged. */
  private[etl] case object Delta extends DiffKind
  /** Change rows ([[ChangeFeed.diff]]'s convention, a `change_type`
    * column): `change_type = 'delete'` deletes, absence leaves the dim
    * row unchanged. */
  private[etl] case object ChangeRows extends DiffKind

  /** The keyed diff: `source` (aliased `s`) joined to `dim` (aliased
    * `d`) on `keys` with join type `how`, every row tagged with its
    * [[action]] — 'insert' (no dim row), 'delete' (by `kind`), 'update'
    * (a compared column differs) or 'unchanged'. Both sides keep all
    * their columns, read back as `s.<col>` / `d.<col>`; [[inDim]] tells
    * whether a row has a dim side. An empty `compareCols` diffs on
    * presence alone.
    *
    * The change test is Spark's native null-safe equality `<=>`
    * (Catalyst `EqualNullSafe`): null→value and value→null both count
    * as changes (main.py:201-209), replacing the reference's
    * `a <> b OR (a IS NULL AND b IS NOT NULL) OR ...` pattern verbatim.
    */
  private[etl] def diff(dim: DataFrame, source: DataFrame, keys: Seq[String],
                        compareCols: Seq[String], kind: DiffKind,
                        how: String): DataFrame = {
    val d = dim.withColumn("__dexists", lit(1)).alias("d")
    val s = source.withColumn("__sexists", lit(1)).alias("s")
    val on = keys.map(k => col(s"s.$k") === col(s"d.$k")).reduce(_ && _)
    val anyChanged = compareCols.map(c => !(col(s"s.$c") <=> col(s"d.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val absent = when(!inSource,
      lit(if (kind == FullSnapshot) "delete" else "unchanged"))
    val byRow =
      if (kind == ChangeRows) absent.when(col("s.change_type") === "delete", lit("delete"))
      else absent
    s.join(d, on, how).withColumn("__action", byRow
      .when(!inDim, lit("insert"))
      .when(anyChanged, lit("update"))
      .otherwise(lit("unchanged")))
  }

  /** On a [[diff]] row: its action, and whether it has a dim side / a
    * source side. */
  private[etl] val action: Column = col("__action")
  private[etl] val inDim: Column = col("d.__dexists").isNotNull
  private val inSource: Column = col("s.__sexists").isNotNull

  /** Merge and tag every output row with its action:
    * 'insert' | 'update' | 'unchanged'. Output columns = snapshot's
    * (keys ++ compareCols) plus `action`. Deleted dim keys simply do not
    * appear (snapshot semantics).
    */
  def mergeTagged(dim: DataFrame, snapshot: DataFrame,
                  keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    val attrs = keys ++ compareCols
    diff(dim.select(attrs.map(col): _*), snapshot, keys, compareCols, FullSnapshot, "left")
      .select(attrs.map(c => col(s"s.$c").as(c)) :+ action.as("action"): _*)
  }

  /** The key-hash buckets containing at least one insert / update /
    * delete — the ONLY buckets an SCD1 merge against a bucketed dim
    * needs to rewrite (an untouched bucket's merge output is its dim
    * content verbatim, so its files carry over byte-identical). Returned
    * as a driver array: cardinality is bounded by `nBuckets`, never by
    * the data — the one collect the partial-rewrite path performs.
    *
    * `deletesVisible = false` is the incremental-delta mode: absence
    * from the snapshot means "unchanged", not "deleted", so dim-only
    * rows (the whole point of a delta: almost all of them) never mark a
    * bucket and the detection join is delta-sized on one side.
    *
    * Bucket ids are [[Warehouse.bucketOf]], the bucketed writer's own
    * assignment.
    */
  def changedKeyBuckets(dim: DataFrame, snapshot: DataFrame, keys: Seq[String],
                        compareCols: Seq[String], nBuckets: Int,
                        deletesVisible: Boolean): Array[Int] = {
    val attrs = (keys ++ compareCols).map(col)
    val (kind, how) = if (deletesVisible) (FullSnapshot, "full") else (Delta, "left")
    val keyExprs = keys.map(k => coalesce(col(s"s.$k"), col(s"d.$k")))
    diff(dim.select(attrs: _*), snapshot.select(attrs: _*), keys, compareCols, kind, how)
      .filter(action =!= "unchanged")
      .select(Warehouse.bucketOf(keyExprs, nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
  }

  /** The plain merged dim image (no tag). */
  def merge(dim: DataFrame, snapshot: DataFrame,
            keys: Seq[String], compareCols: Seq[String]): DataFrame =
    mergeTagged(dim, snapshot, keys, compareCols).drop("action")

  /** Full-fidelity merge for warehouse dims carrying the reference's audit
    * columns. The source must provide `create_dt` and `update_dt`; the
    * dim additionally has `processed_dt`.
    *
    *  - insert (main.py:147-156): attrs from source,
    *    `create_dt = coalesce(update_dt, create_dt)`, `update_dt = NULL`,
    *    `processed_dt = runTs`.
    *  - update (main.py:183-212): attrs + `update_dt` from source,
    *    `create_dt` kept from dim, `processed_dt = runTs`.
    *  - unchanged: dim audit columns verbatim.
    *  - `deletesVisible` (a full snapshot, main.py:329-343): dim keys
    *    absent from the source are dropped — one left join with the
    *    snapshot driving the output. Otherwise the source is an
    *    INCREMENTAL delta (rows changed since the last watermark):
    *    absence means "unchanged", the join is full outer and dim-only
    *    rows pass through verbatim; there is NO delete path (a full
    *    snapshot is the only safe delete signal). Same single key
    *    shuffle at scale, but the delta side is watermark-small.
    *
    * `runTs` is passed in, not `current_timestamp()`: Postgres `now()` is
    * statement-stable, so one timestamp per run keeps outputs
    * deterministic (SURVEY §2.8).
    */
  def mergeAudit(dim: DataFrame, source: DataFrame, keys: Seq[String],
                 compareCols: Seq[String], runTs: java.sql.Timestamp,
                 deletesVisible: Boolean = true): DataFrame = {
    val attrs = keys ++ compareCols
    val d = dim.select((attrs ++ Seq("create_dt", "update_dt", "processed_dt")).map(col): _*)
    val (kind, how) = if (deletesVisible) (FullSnapshot, "left") else (Delta, "full")
    val (isInsert, isUpdate) = (action === "insert", action === "update")
    // a snapshot drives every output row (its columns keep their own
    // types and nullability); a delta's dim-only rows keep their dim image
    def attr(c: String) =
      if (deletesVisible) col(s"s.$c") else when(inSource, col(s"s.$c")).otherwise(col(s"d.$c"))
    diff(d, source, keys, compareCols, kind, how).select(
      attrs.map(c => attr(c).as(c)) ++ Seq(
        when(isInsert, coalesce(col("s.update_dt"), col("s.create_dt")))
          .otherwise(col("d.create_dt")).as("create_dt"),
        when(isInsert, lit(null).cast("timestamp"))
          .when(isUpdate, col("s.update_dt"))
          .otherwise(col("d.update_dt")).as("update_dt"),
        when(isInsert || isUpdate, lit(runTs))
          .otherwise(col("d.processed_dt")).as("processed_dt")): _*)
  }

  /** The SCD1 merge of `snapshot` into warehouse dim `table`, inside
    * the caller's transaction — the nightly run's per-dim step and the
    * streamed CDC upsert's per-batch write. `deletesVisible` picks the
    * [[mergeAudit]] mode: a full snapshot (absent keys are deleted) or
    * an incremental delta (absence means "unchanged"). On a dim
    * bucketed by its key ([[Txn.keyedSlice]]),
    * [[changedKeyBuckets]] finds the buckets holding any insert /
    * update / delete, BOTH merge inputs prune to them — the dim side
    * reads as a bucketed scan, so neither the detection join nor the
    * merge exchanges dim rows — and only their files rewrite; the rest
    * hard-link byte-identically. A snapshot or delta that changes
    * nothing (e.g. an at-least-once replay of an applied batch) writes
    * nothing; the initial load and an unbucketed dim overwrite the
    * whole image. At a 100 TB dim with ~1% daily churn both the merge
    * shuffle and the write shrink ~100×.
    */
  def mergeAuditWarehouse(txn: Txn, table: String, snapshot: DataFrame,
                          keys: Seq[String], compareCols: Seq[String],
                          runTs: java.sql.Timestamp,
                          deletesVisible: Boolean): Unit = {
    val dim = txn.read(table)
    val slice = txn.keyedSlice(table, keys)(
      changedKeyBuckets(dim, snapshot, keys, compareCols, _, deletesVisible))
    val (d, s) = (slice.of(dim), slice.of(snapshot))
    txn.overwriteSlice(table, slice,
      mergeAudit(d, s, keys, compareCols, runTs, deletesVisible))
  }
}
