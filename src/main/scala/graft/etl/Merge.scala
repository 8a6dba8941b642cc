package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic MERGE INTO — the lakehouse upsert surface (Delta/Iceberg
  * `MERGE INTO target USING source ON keys WHEN MATCHED ... WHEN NOT
  * MATCHED ... WHEN NOT MATCHED BY SOURCE ...`), generalizing the
  * engine's SCD1/SCD2 merges (which are fixed clause combinations of
  * this operator: SCD1 = matched-update + not-matched-insert +
  * by-source-delete).
  *
  * Plan shape: ONE full-outer join on the key, then a row-wise clause
  * dispatch (all codegen'd CASE/WHEN — no UDFs). Against a bucketed
  * single-dir table with no BY SOURCE clause, the rewrite prunes to the
  * buckets containing source keys: every other bucket's merge output is
  * its current content verbatim, so its files hard-link into the fresh
  * dir byte-identically and the join inputs prune to the touched
  * buckets too — a delta-sized merge against a 100 TB table. A BY
  * SOURCE clause inspects every target row by definition, so it always
  * costs a full pass (Delta has the same asymmetry).
  *
  * Source key uniqueness is ENFORCED (one aggregate over the
  * delta-sized source): two source rows matching one target row make
  * the merge result order-dependent, which Delta also rejects
  * ([DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW]).
  */
object Merge {

  /** A WHEN clause action. `condition` (over the joined row: target
    * columns as `t.<c>`, source columns as `s.<c>`) gates the action;
    * unmatched-by-condition rows fall through to the next clause of the
    * same kind, then to keep (matched / by-source) or drop (insert).
    */
  sealed trait Action { def condition: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ... (exprs see
    * `t.`/`s.` columns; unlisted columns keep their target value). */
  final case class Update(set: Map[String, Column],
                          condition: Option[Column] = None) extends Action
  /** WHEN MATCHED [AND cond] THEN UPDATE SET * (all columns from source). */
  final case class UpdateAll(condition: Option[Column] = None) extends Action
  /** WHEN [NOT MATCHED BY SOURCE /] MATCHED [AND cond] THEN DELETE. */
  final case class Delete(condition: Option[Column] = None) extends Action
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (columns from source;
    * `set` overrides individual columns, e.g. audit stamps). */
  final case class Insert(set: Map[String, Column] = Map.empty,
                          condition: Option[Column] = None) extends Action

  /** Execute the merge inside `txn` (visible at commit, like every
    * write). `keys` name the join columns (same names both sides).
    * Clause lists are ordered — first matching condition wins.
    * Returns the number of touched buckets when the bucket-pruned path
    * ran, -1 for a full rewrite.
    */
  def into(txn: Txn, table: String, source: DataFrame, keys: Seq[String],
           whenMatched: Seq[Action] = Nil,
           whenNotMatched: Seq[Action] = Nil,
           whenNotMatchedBySource: Seq[Action] = Nil): Int = {
    require(whenMatched.forall(a => !a.isInstanceOf[Insert]),
      "WHEN MATCHED supports UPDATE/DELETE, not INSERT")
    require(whenNotMatched.forall(_.isInstanceOf[Insert]),
      "WHEN NOT MATCHED supports INSERT only")
    require(whenNotMatchedBySource.forall(a =>
        a.isInstanceOf[Delete] || a.isInstanceOf[Update]),
      "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE (no source columns exist)")
    val wh = txn.wh
    val cols = wh.schemas(table).fieldNames.toIndexedSeq
    require(keys.forall(cols.contains), s"keys must be declared columns of $table")
    // merge keys are identity, not data: updating one would MOVE the row
    // (and break bucket-pruned rewrites, whose pruning assumes rows stay
    // in their key bucket) — Delta-style foot-gun, rejected here
    val updatedCols = (whenMatched ++ whenNotMatchedBySource).flatMap {
      case Update(set, _) => set.keys
      case _ => Nil
    }
    require(!updatedCols.exists(keys.contains),
      "UPDATE SET may not modify a merge key column")
    // same identity rule for INSERT overrides: an inserted row whose key
    // differs from its source key lands in a bucket the pruned rewrite
    // never touched — two files in one bucket, breaking the
    // one-file-per-bucket contract later bucket-pruned merges trust
    val insertedCols = whenNotMatched.flatMap {
      case Insert(set, _) => set.keys
      case _ => Nil
    }
    require(!insertedCols.exists(keys.contains),
      "INSERT set may not override a merge key column (the key comes from the source row)")

    // reject ambiguous sources: >1 source row per key makes WHEN MATCHED
    // order-dependent (one aggregate over the delta-sized source)
    val dup = source.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count()
    require(dup == 0L, s"source has multiple rows for one merge key of $table")

    // a BY SOURCE clause reaches target rows in every bucket
    val slice =
      if (whenNotMatchedBySource.nonEmpty) KeyedSlice.Whole
      else txn.keyedSlice(table, keys)(Warehouse.bucketsOf(source, keys, _))
    if (slice.isEmpty) return 0 // empty source: nothing to do
    val merged = apply(slice.of(txn.read(table)), slice.of(source), keys, cols,
      whenMatched, whenNotMatched, whenNotMatchedBySource)
    txn.overwriteSlice(table, slice, merged)
    slice.touched.fold(-1)(_.length)
  }

  /** The pure merge frame (no warehouse): target/source full-outer
    * joined on `keys`, clauses dispatched per row. Exposed for tests
    * and for callers composing their own write path.
    */
  def apply(target: DataFrame, source: DataFrame, keys: Seq[String],
            cols: Seq[String],
            whenMatched: Seq[Action], whenNotMatched: Seq[Action],
            whenNotMatchedBySource: Seq[Action]): DataFrame = {
    val t = target.select(cols.map(col): _*)
      .withColumn("__texists", lit(1)).alias("t")
    val s = source.withColumn("__sexists", lit(1)).alias("s")
    val on = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, on, "full_outer")

    val matched = col("t.__texists").isNotNull && col("s.__sexists").isNotNull
    val notMatched = col("t.__texists").isNull
    val bySource = col("s.__sexists").isNull

    // per-row: which ordered clause fires (first condition that holds;
    // -1 = none). Encoded once, shared by the keep-predicate and every
    // column expression — stays one codegen'd projection.
    def clauseIdx(clauses: Seq[Action]): Column =
      clauses.zipWithIndex.foldRight(lit(-1): Column) { case ((a, i), el) =>
        when(a.condition.getOrElse(lit(true)), lit(i)).otherwise(el)
      }
    val mIdx = clauseIdx(whenMatched)
    val nIdx = clauseIdx(whenNotMatched)
    val bIdx = clauseIdx(whenNotMatchedBySource)

    def isDelete(a: Action) = a.isInstanceOf[Delete]
    def deleteIdxs(clauses: Seq[Action]) =
      clauses.zipWithIndex.collect { case (a, i) if isDelete(a) => i }

    // a row survives unless its firing clause is DELETE; unmatched
    // inserts survive only when a clause fires
    val mDel = deleteIdxs(whenMatched)
    val bDel = deleteIdxs(whenNotMatchedBySource)
    val keep =
      when(matched, if (mDel.isEmpty) lit(true) else !mIdx.isin(mDel: _*))
        .when(notMatched, nIdx =!= -1)
        .otherwise(if (bDel.isEmpty) lit(true) else !bIdx.isin(bDel: _*))

    def valueOf(c: String): Column = {
      // the fold default only ever evaluates on rows the keep-predicate
      // drops (idx = -1) — `t.<c>` is always resolvable, so use it and
      // never force the source to carry columns no clause reads
      def fromClauses(clauses: Seq[Action], idx: Column): Column =
        clauses.zipWithIndex.foldRight(col(s"t.$c")) { case ((a, i), el) =>
          val v: Column = a match {
            case Update(set, _) => set.getOrElse(c, col(s"t.$c"))
            case UpdateAll(_) => col(s"s.$c")
            case Insert(set, _) => set.getOrElse(c, col(s"s.$c"))
            case Delete(_) => col(s"t.$c") // deleted rows are filtered; value moot
          }
          when(idx === i, v).otherwise(el)
        }
      when(matched, fromClauses(whenMatched, mIdx))
        .when(notMatched, fromClauses(whenNotMatched, nIdx))
        .otherwise(fromClauses(whenNotMatchedBySource, bIdx))
        .as(c)
    }
    joined.filter(keep).select(cols.map(valueOf): _*)
  }
}
