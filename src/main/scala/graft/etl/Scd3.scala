package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD Type-3 snapshot merge: the dimension keeps, for every tracked
  * column, its CURRENT value plus one `prev_<col>` column holding the
  * value it had before the most recent change — the "limited history"
  * variant between Type 1 (overwrite, [[Scd1]]) and Type 2 (full row
  * history, [[Scd2]]). The reference ships only Type 1; Type 3 is the
  * same single-join shape with a per-column carry rule, so it completes
  * the family at no extra plan cost.
  *
  * Merge rules per tracked column, against the snapshot (which drives
  * the output — deletes are implicit, the snapshot semantics of the
  * keyed diff [[Scd1.diff]] it classifies through):
  *  - changed (null-safe `<=>` negation): current ← snapshot value,
  *    prev ← the dim's outgoing current value;
  *  - unchanged: prev carries over from the dim row;
  *  - insert (key absent from dim): prev ← null.
  *
  * Scale shape: identical to SCD1 — ONE left outer join with both sides
  * hash-partitioned on the key (bucketed dims merge with no dim-side
  * shuffle); the carry rule is pure per-row projection, so nothing
  * beyond the single exchange.
  */
object Scd3 {

  /** Merge and tag each row 'insert' | 'update' | 'unchanged'. `dim`
    * must carry `keys ++ tracked ++ tracked.map("prev_" + _)`; output
    * has the same shape plus `action`.
    */
  def merge(dim: DataFrame, snapshot: DataFrame, keys: Seq[String],
            tracked: Seq[String]): DataFrame = {
    val isInsert = Scd1.action === "insert"
    Scd1.diff(dim.select((keys ++ tracked ++ tracked.map("prev_" + _)).map(col): _*),
        snapshot, keys, tracked, Scd1.FullSnapshot, "left")
      .select(keys.map(k => col(s"s.$k").as(k)) ++
        tracked.map(c => col(s"s.$c").as(c)) ++
        tracked.map { c =>
          when(isInsert, lit(null))
            .when(!(col(s"s.$c") <=> col(s"d.$c")), col(s"d.$c"))
            .otherwise(col(s"d.prev_$c"))
            .as(s"prev_$c")
        } :+ Scd1.action.as("action"): _*)
  }
}
