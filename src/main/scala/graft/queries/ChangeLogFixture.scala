package graft.queries

import java.nio.file.Files
import graft.etl.{ChangeFeed, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The change-log fixture the streamed keyed-store queries drain: a
  * source table `table` (bucketed by `key`) committed through `images`
  * in order, its change log materialized, and a store warehouse whose
  * `store` tables are committed empty (bucketed as `buckets` says; an
  * entry for a table the store lacks is unused).
  * Temp dirs are named `graft-<tag>-{src,log,idx,ckpt}`, so every query
  * keeps its own. Returns the log dir, the store warehouse and a fresh
  * checkpoint dir.
  */
private[queries] object ChangeLogFixture {
  def apply(s: SparkSession, tag: String, table: String, key: String,
            images: Seq[DataFrame], store: Seq[(String, StructType)],
            buckets: Map[String, (String, Int)]): (String, Warehouse, String) = {
    def tmp(kind: String) = Files.createTempDirectory(s"graft-$tag-$kind").toString
    val src = new Warehouse(s, tmp("src"), Map(table -> images.head.schema),
      partitionSpec = Map.empty, bucketSpec = Map(table -> (key, 8)))
    images.foreach { img => val t = src.begin(); t.overwrite(table, img); t.commit() }
    val logDir = tmp("log")
    ChangeFeed.materializeLog(src, table, Seq(key), logDir)
    val storeWh = new Warehouse(s, tmp("idx"), store.toMap, partitionSpec = Map.empty,
      bucketSpec = buckets)
    val t = storeWh.begin()
    store.foreach { case (tb, _) => t.overwrite(tb, storeWh.emptyDf(tb)) }
    t.commit()
    (logDir, storeWh, tmp("ckpt"))
  }
}
