package graft.streaming

import java.util.UUID
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured-Streaming operators over the events table.
  *
  * The reference is batch-only (SURVEY §2.9), but its drop-folder pattern
  * maps naturally onto a file-source stream with `Trigger.AvailableNow`.
  * This module provides that path: a real `readStream` → windowed
  * aggregation → sink pipeline that, driven to completion, produces the
  * same result a batch query would — which is exactly what the DuckDB
  * oracle checks.
  *
  * Two sinks, two roles:
  *  - [[hourlyEventStatsAppend]] is the PRODUCTION path: append mode to a
  *    parquet sink — each window is emitted exactly once when the
  *    watermark expires it, state stays bounded by the watermark, and
  *    nothing accumulates on the driver. At scale this runs unchanged as
  *    a continuous job discovering new daily drops.
  *  - [[hourlyEventStats]] (complete mode + memory sink) is the ORACLE
  *    harness: complete mode re-materializes the whole aggregate so the
  *    result includes the still-unexpired trailing windows the batch
  *    query also sees — the right shape for an equality check, the wrong
  *    one for production (driver-resident state, watermark ignored).
  */
object StreamingOps {

  private def eventsSchema(tsType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Streaming source over the events fixture, robust to the fixture's
    * physical timestamp unit (generator versions have shipped BOTH
    * TIMESTAMP(NANOS) — unreadable by the vectorized reader, so raw
    * nanos-as-long truncated to micros, matching DuckDB's floor — and
    * plain micro timestamps). One batch-side footer sniff picks the
    * schema; the stream then reads every file uniformly.
    *
    * SIDE EFFECT: `spark.sql.legacy.parquet.nanosAsLong` is set on the
    * SESSION and stays set — it must hold for the stream's whole
    * lifetime (micro-batches read files long after this function
    * returns), so it cannot be try/finally-restored here. Any later
    * batch read of a DIFFERENT nanos-timestamp parquet in the same
    * session will surface those columns as BIGINT nanos; `graft.Tables`
    * sets the same flag for its own reads, so inside this engine the
    * behavior is uniform.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanos = spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == LongType
    val raw = spark.readStream
      .schema(eventsSchema(if (nanos) LongType
        else org.apache.spark.sql.types.TimestampType))
      .option("pathGlobFilter", "events.parquet") // the sf dir holds all tables
      .parquet(dir)
    // `div` = integral division; `/` would go through DOUBLE and lose
    // precision above 2^53 (epoch-ns values are ~1.7e18)
    if (nanos) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** The shared streaming plan: file source → 1-hour tumbling windowed
    * counts/sums per event type, 1-hour watermark.
    */
  private def hourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("bucket"), col("window.end").as("bucket_end"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Run a streaming query with `spark.sql.shuffle.partitions` pinned to
    * `statePartitions` for its lifetime (restored after): a stateful
    * stream instantiates one state store per shuffle partition per
    * stateful operator, so state parallelism should track KEY
    * cardinality (event types, users), not CPU count — 32 stores for a
    * handful of keys is pure fixed cost. Partition count does not affect
    * results (oracle-verified); on a large cluster raise it with the key
    * space.
    */
  private def withStatePartitions[T](spark: SparkSession, statePartitions: Int)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Oracle harness: the windowed aggregation driven to completion with
    * AvailableNow in COMPLETE mode to a memory sink. Test/oracle use
    * only — see the object doc.
    */
  def hourlyEventStats(spark: SparkSession, dir: String,
                       statePartitions: Int = 8): DataFrame = {
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = hourlyAgg(spark, dir).writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .select(col("bucket"), col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Production sink: the same aggregation in APPEND mode to a parquet
    * directory. A window is written exactly once, when the watermark
    * passes its end; windows still inside the watermark horizon when the
    * AvailableNow run drains remain in (checkpointed) state for the next
    * run — so output is append-only, state is watermark-bounded, and no
    * aggregate ever lives on the driver. Returns the sink contents.
    */
  def hourlyEventStatsAppend(spark: SparkSession, dir: String,
                             sinkDir: String, checkpointDir: String): DataFrame = {
    val q = hourlyAgg(spark, dir)
      .select(col("bucket"), col("event_type"), col("n_events"), col("sum_value"))
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // explicit schema: a run whose windows all sit inside the watermark
    // horizon writes no data files, and schema inference on the empty
    // sink would throw instead of returning the (statically known) shape
    val sinkSchema = StructType(Seq(
      StructField("bucket", TimestampType),
      StructField("event_type", StringType),
      StructField("n_events", LongType),
      StructField("sum_value", DoubleType)))
    spark.read.schema(sinkSchema).parquet(sinkDir)
  }

  /** Stream-STATIC join: enrich the click stream with a per-user
    * profile computed once from purchase history — the dimension-
    * enrichment shape, and the cheapest streaming join there is: the
    * static side re-plans per micro-batch (broadcast when stats
    * allow), the join is STATELESS (no watermark, no state store —
    * `stateOperators` empty, spec-pinned), so an unbounded run carries
    * zero join state. LEFT join: a click from a user with no purchase
    * history keeps its row with zeroed profile columns — dropping it
    * would corrupt any downstream aggregate.
    */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val profile = graft.Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("total_purchase_value"))
    val name = "enrich_" + UUID.randomUUID().toString.replace("-", "")
    val q = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select("event_id", "user_id")
      .join(profile, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("total_purchase_value"), lit(0.0))
          .as("total_purchase_value"))
      .writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      "stream-static join must be stateless")
    spark.table(name)
  }

  /** Stream-STREAM inner join: every click joined to the same user's
    * purchases in the preceding hour. Both sides are real streams with
    * event-time watermarks and a time-range join condition — the
    * combination that lets Spark expire join state (a side's rows free
    * once the other side's watermark passes their reach), so state is
    * bounded on an unbounded run. Driven to completion with
    * AvailableNow, the inner join emits exactly the batch-join result —
    * which is what the DuckDB oracle checks.
    */
  def clickPurchaseStreamJoin(spark: SparkSession, dir: String,
                              statePartitions: Int = 4): DataFrame =
    clickPurchaseJoin(spark, dir, "inner", "1 hour", statePartitions)

  /** The shared click↔purchase stream-join plan — ONE definition of the
    * source shapes and the time-range condition for the inner and
    * left-outer entry points (they differ ONLY in join type and
    * watermark delay; a condition edit here edits both).
    */
  private def clickPurchaseJoin(spark: SparkSession, dir: String,
                                joinType: String, watermarkDelay: String,
                                statePartitions: Int): DataFrame = {
    def src = eventsStream(spark, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermarkDelay)
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"), joinType)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = joined.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** Stream-stream LEFT OUTER join with the same time-range condition
    * as [[clickPurchaseStreamJoin]]: matches emit as they form; a
    * click with NO qualifying purchase emits null-padded once the
    * watermark proves no future purchase can match it. With the
    * condition `purchase_ts <= click_ts`, a click is closed once the
    * PURCHASE-side watermark passes its timestamp — under AvailableNow
    * with 0-delay watermarks that is the min of the two sides' final
    * max event times (each side's watermark derives from its own
    * events, millisecond-truncated; exact emission boundary pinned in
    * StreamingOuterJoinSpec on crafted data). Unmatched purchases are
    * right-side rows of a left join: never emitted.
    *
    * Scale shape: state = in-horizon clicks + purchases per user hash
    * partition, watermark-bounded on both sides; the outer emission is
    * the state eviction itself, so there is no second pass.
    */
  def clickPurchaseStreamOuterJoin(spark: SparkSession, dir: String,
                                   statePartitions: Int = 4): DataFrame =
    clickPurchaseJoin(spark, dir, "leftOuter", "0 seconds", statePartitions)

  /** STREAMING DEDUP: first occurrence per (user_id, event_type) key,
    * with `dropDuplicatesWithinWatermark` state — the ingestion-side
    * exact dedup a training pipeline runs before anything else touches
    * the data. State for a key is released once the event-time watermark
    * passes its last-seen timestamp + the watermark delay, so an
    * unbounded run holds a bounded key horizon; the price is that a key
    * recurring AFTER its state expired is emitted again (exactly the
    * semantics batch windowed dedup [[graft.operators.Dedup.exactWithin]]
    * has across windows). Only the KEY columns are returned: which
    * duplicate arrives first is partition-order-dependent, so emitting
    * payload columns would be nondeterministic — keys are not. Driven
    * with AvailableNow over one file the watermark never advances
    * mid-run, so the result equals batch DISTINCT (the oracle).
    */
  def streamingDedupKeys(spark: SparkSession, dir: String,
                         statePartitions: Int = 4): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = deduped.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** Streaming CDC upsert into the transactional warehouse: a file
    * stream of dimension deltas drives the SAME SCD1 merge the nightly
    * pipeline runs, one warehouse transaction per micro-batch —
    * streaming at the ingestion edge, the all-or-nothing catalog swap
    * (and reader snapshot isolation) preserved underneath.
    *
    * Exactly-once effect from at-least-once foreachBatch: the audit
    * stamp is a pure function of `batchId` and the merge is idempotent
    * for identical input (re-running a replayed batch rewrites the same
    * rows to the same values), so a crash between sink write and
    * checkpoint advance cannot duplicate or fork state. In-batch
    * compaction keeps only each key's LATEST delta row (by
    * update_dt/create_dt, then a deterministic tiebreak) before the
    * merge, so multi-file batches behave like their sequential replay.
    *
    * Scale shape: per batch, one key-shuffle of (dim ⋈ watermark-small
    * delta) plus an O(1)-metadata commit — the incremental path the
    * reference's write-only meta table begs for, continuous instead of
    * nightly.
    */
  def scd1UpsertStream(spark: SparkSession, wh: graft.etl.Warehouse,
                       sourceDir: String, srcSchema: StructType, table: String,
                       keys: Seq[String], compareCols: Seq[String],
                       checkpointDir: String,
                       runTsFor: Long => java.sql.Timestamp = b =>
                         new java.sql.Timestamp(
                           java.sql.Timestamp.valueOf("2021-03-01 00:00:00").getTime
                             + b * 1000L))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    spark.readStream.schema(srcSchema).parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ord = coalesce(col("update_dt"), col("create_dt")).desc +:
          compareCols.map(c => col(c).desc_nulls_last)
        val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
        val compacted = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val txn = wh.begin()
        // the nightly run's bucket-pruned dim merge, in delta mode: per
        // batch the write is churn-sized, not dim-sized, and a batch
        // that changes nothing writes nothing at all
        graft.etl.Scd1.mergeAuditWarehouse(txn, table, compacted,
          keys, compareCols, runTsFor(batchId), deletesVisible = false)
        txn.commit()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** STREAMING near-dup filter: documents arrive as a stream and each is
    * checked against everything already ingested — the online form of
    * [[graft.operators.Dedup.simhashNearDups]], with the band index kept
    * as STREAMING STATE instead of a shuffle. Each doc's 64-bit SimHash
    * (the native one-pass expression) splits into 4 × 16-bit bands; a
    * `flatMapGroupsWithState` keyed by band value holds the
    * (doc_id, hi, lo) members seen per bucket and emits a pair the
    * moment a new arrival sits within `maxHamming` of a stored member —
    * pigeonhole-exact at Hamming ≤ 3, like the batch path, regardless
    * of how the corpus is split across micro-batches (a ≤3-Hamming pair
    * shares at least one exact band, so it meets in that band's bucket).
    *
    * Determinism: arrivals are processed in doc_id order within each
    * micro-batch, and pairs are emitted (min, max), so the DISTINCT
    * pair set equals the batch result for any batch split (spec-
    * asserted). State discipline: bucket membership is capped at
    * `maxBucket` (over-cap arrivals still CHECK against the stored
    * members — only pairs among the overflow are lost, the batch path's
    * anchor-diversion trade); production runs add a
    * `GroupStateTimeout`/watermark eviction for unbounded streams —
    * with AvailableNow drains, state dies with the query. The trailing
    * `dropDuplicates` collapses multi-band hits; its state is one row
    * per emitted PAIR (duplicate density, not corpus size).
    *
    * Unbounded runs should back the bucket index with the RocksDB
    * state store (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`): state then lives off-heap
    * and spills to executor-local disk with changelog checkpointing,
    * so the index is bounded by disk, not heap. The operator is
    * provider-agnostic — identical output under either provider is
    * spec-asserted.
    */
  def streamingNearDupFilter(docs: DataFrame, maxHamming: Int = 3,
                             maxBucket: Int = 256): DataFrame =
    nearDupFilter(docs, None, maxHamming, maxBucket)

  /** [[streamingNearDupFilter]] with EVENT-TIME STATE EVICTION — the
    * unbounded-stream form. Input must carry an event-time `ts` column;
    * a band bucket's members are retained only `ttlMs` past the latest
    * watermark that touched the bucket, then the group times out and
    * its state drops. The dedup horizon becomes "within ttl", exactly
    * the windowed-dedup trade the batch side makes in
    * [[graft.operators.Dedup.exactWithin]]: a duplicate arriving after
    * its original's state expired is NOT flagged (spec-asserted, both
    * directions). Watermark delay is the caller's lateness budget,
    * separate from the retention ttl.
    */
  def streamingNearDupFilterTtl(docs: DataFrame, ttlMs: Long,
                                lateness: String = "1 second",
                                maxHamming: Int = 3,
                                maxBucket: Int = 256): DataFrame =
    nearDupFilter(docs, Some((ttlMs, lateness)), maxHamming, maxBucket)

  /** Both near-dup filters: SimHash each doc, split it into `hi`/`lo`
    * and 4 band values, and fold each band bucket's members in state.
    * `ttl = Some((ttlMs, lateness))` reads the docs' `ts`, watermarks it
    * and times buckets out; without it `ts` is null and state never
    * times out.
    */
  private def nearDupFilter(docs: DataFrame, ttl: Option[(Long, String)],
                            maxHamming: Int, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = docs.sparkSession
    import sp.implicits._
    val ts = if (ttl.isDefined) col("ts") else lit(null).cast("timestamp")
    val sig = docs
      .filter(size(filter(split(lower(col("text")), "\\s+"), w => w =!= "")) > 0)
      .select(col("doc_id"), ts.as("ts"),
        graft.functions.QSimHash.sigCol(lower(col("text"))).as("simhash"))
      .withColumn("hi", expr("CAST(conv(substring(simhash, 1, 32), 2, 10) AS BIGINT)"))
      .withColumn("lo", expr("CAST(conv(substring(simhash, 33, 32), 2, 10) AS BIGINT)"))
    // bands keyed by VALUE alone (no position), mirroring the batch
    // path: cross-position collisions only add candidates, and a
    // ≤3-Hamming pair that collides anywhere must be found to match
    // the batch pair set exactly
    val bands = sig.select(col("doc_id"), col("hi"), col("lo"), col("ts"),
      explode(array((0 until 4).map(k =>
        substring(col("simhash"), 1 + 16 * k, 16)): _*)).as("band"))
    ttl.fold(bands) { case (_, lateness) => bands.withWatermark("ts", lateness) }
      .as[(Long, Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._5)
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], (Long, Long, Int)](
        OutputMode.Append(),
        if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout())(
        StreamingOps.nearDupBucketFn(maxHamming, maxBucket, ttl.map(_._1)))
      .toDF("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Per-bucket state fold of [[nearDupFilter]] — static so the closure
    * serializes without capturing the enclosing session. With `ttlMs`,
    * a timed-out bucket drops its state and a live one is retained
    * `ttlMs` past its newest event.
    */
  private[streaming] def nearDupBucketFn(maxHamming: Int, maxBucket: Int, ttlMs: Option[Long]):
      (String, Iterator[(Long, Long, Long, java.sql.Timestamp, String)],
       org.apache.spark.sql.streaming.GroupState[Seq[(Long, Long, Long)]])
        => Iterator[(Long, Long, Int)] = {
    (_, it, state) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var seen = state.getOption.getOrElse(Seq.empty)
        val rows = it.toSeq
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        rows.sortBy(_._1).foreach { case (id, hi, lo, _, _) =>
          seen.foreach { case (sid, shi, slo) =>
            if (sid != id) {
              val d = java.lang.Long.bitCount(hi ^ shi) +
                java.lang.Long.bitCount(lo ^ slo)
              if (d <= maxHamming)
                out += ((math.min(sid, id), math.max(sid, id), d))
            }
          }
          // membership check: a doc whose signature repeats a band value
          // hits this group twice — storing it twice would waste bucket
          // capacity and double-emit its matches
          if (seen.size < maxBucket && !seen.exists(_._1 == id))
            seen = seen :+ ((id, hi, lo))
        }
        state.update(seen)
        // retain until ttl past this batch's newest event in the bucket,
        // clamped past the watermark: a bucket fed only LATE rows (the
        // engine delivers them to the state fn regardless) would
        // otherwise compute a timeout the API rejects and kill the query
        ttlMs.foreach { t =>
          val maxTs = rows.map(_._4.getTime).max
          state.setTimeoutTimestamp(math.max(maxTs + t, state.getCurrentWatermarkMs() + 1))
        }
        out.iterator
      }
  }

  /** STREAMING funnel progression — the continuous twin of
    * [[graft.operators.EventAnalytics.funnelUsers]]: per-user state
    * holds the earliest QUALIFIED timestamp per stage; each
    * micro-batch folds its (ts-sorted) events through the same
    * strictly-after chaining the batch windows express, emitting the
    * user's stage vector whenever it improves. The returned frame is
    * the FINAL per-user image (latest emission per user), directly
    * comparable to the batch operator.
    *
    * Equivalence contract (spec-asserted): identical to the batch
    * funnel whenever arrival order respects event time across
    * micro-batches (within a batch any order is fine — events are
    * sorted before folding, and the strict `>` makes same-timestamp
    * ties land exactly like the batch RANGE frames). Late data is
    * ADMIT-FORWARD-ONLY: a late stage-k event can still qualify
    * against recorded earlier stages, but already-seen stage-k+1
    * events are not re-examined — the standard trade of an
    * unbounded-state-free streaming funnel.
    */
  def streamingFunnelUsers(events: DataFrame, stages: Seq[String]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(stages.size >= 2, "a funnel needs at least two stages")
    val sp = events.sparkSession
    import sp.implicits._
    val out = events
      .select(col("user_id").cast(LongType), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[Long], Long), (Long, Seq[Long], Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        StreamingOps.funnelFoldFn(stages))
      .toDF("user_id", "stages", "seq")
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val q = out.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("seq").desc)
    sp.table(name)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("user_id") +: stages.indices.map(i =>
        when(element_at(col("stages"), i + 1) =!= -1L,
          element_at(col("stages"), i + 1)).as(s"u$i")): _*)
  }

  /** The driver-gated form of [[streamingFunnelUsers]]: the per-user
    * stage frame from the stateful fold, counted through the batch
    * operator's own [[graft.operators.EventAnalytics.funnelTotals]]
    * tail (shared code AND shared oracle — the sf parquet arrives as
    * one in-order batch, so the equivalence contract holds exactly).
    */
  def streamingFunnel(spark: SparkSession, dir: String,
                      stages: Seq[String]): DataFrame =
    graft.operators.EventAnalytics.funnelTotals(
      streamingFunnelUsers(eventsStream(spark, dir), stages), stages)

  /** The per-user fold behind [[streamingFunnelUsers]]: state =
    * (earliest qualified ts per stage, -1 unset; emission seq). Events
    * fold in ts order; stage 0 takes its running min, stage k
    * qualifies strictly after stage k-1's recorded time.
    */
  private[streaming] def funnelFoldFn(stages: Seq[String]):
      (Long, Iterator[(Long, Long, String)],
       org.apache.spark.sql.streaming.GroupState[(Seq[Long], Long)]) =>
        Iterator[(Long, Seq[Long], Long)] = {
    (user, rows, state) =>
      val prev = state.getOption.getOrElse((Seq.fill(stages.size)(-1L), 0L))
      val arr = prev._1.toArray
      var changed = false
      rows.toSeq.sortBy(_._2).foreach { case (_, tsu, et) =>
        val k = stages.indexOf(et)
        if (k == 0) {
          if (arr(0) == -1L || tsu < arr(0)) { arr(0) = tsu; changed = true }
        } else if (k > 0) {
          val p = arr(k - 1)
          if (p != -1L && tsu > p && (arr(k) == -1L || tsu < arr(k))) {
            arr(k) = tsu; changed = true
          }
        }
      }
      if (changed) {
        val seq = prev._2 + 1
        state.update((arr.toSeq, seq))
        Iterator.single((user, arr.toSeq, seq))
      } else Iterator.empty
  }

  /** STREAMING transition matrix — the continuous twin of
    * [[graft.operators.EventAnalytics.transitionMatrix]]: per-user
    * state holds the LAST SEEN event ((ts, id, type) — the (ts, id)
    * pair is the same total order the batch lead window sorts by);
    * each micro-batch folds its events through it in that order,
    * emitting one (from, to) pair per consecutive step, including the
    * bridge pair from the stored last event into the batch's first.
    * The drained pair stream then runs through the batch operator's
    * own aggregation tail, so count + basis-point math is shared, not
    * duplicated.
    *
    * Equivalence contract (spec-asserted, same as the streaming
    * funnel): identical to the batch operator whenever arrival order
    * respects event time across micro-batches — within a batch any
    * order is fine, events sort before folding. An event arriving
    * BEHIND the stored last event chains forward from it anyway
    * (admit-forward-only); re-splicing history would need unbounded
    * per-user state.
    *
    * Scale shape: state is ONE row per active user; each micro-batch
    * shuffles only its own events on the user key; pair emission is
    * linear in batch size.
    */
  def streamingTransitions(spark: SparkSession, dir: String,
                           statePartitions: Int = 8): DataFrame =
    streamingTransitionsFrom(eventsStream(spark, dir), statePartitions)

  /** [[streamingTransitions]] over a caller-built events stream (the
    * spec entry point — boundary tests feed a multi-file source with
    * maxFilesPerTrigger to force state to carry across batches).
    */
  def streamingTransitionsFrom(events: DataFrame,
                               statePartitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val pairs = events
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(transitionFoldFn)
      .toDF("from_type", "to_type")
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = pairs.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.operators.EventAnalytics.transitionAgg(spark.table(name))
  }

  /** Streaming twin of [[graft.operators.EventAnalytics.dailyAnomaly]]:
    * the data-sized pass — collapsing the event stream to (day, type)
    * counts — runs as a stateful streaming aggregation (complete mode,
    * so late files for an already-seen day merge into its count), and
    * the trailing-median tail runs over the drained daily frame via the
    * shared [[graft.operators.EventAnalytics.anomalyTail]]. Because the
    * state is the daily-count table itself, the result after ANY batch
    * split equals the batch operator — the contract the spec pins.
    *
    * Scale shape: state is one row per (day, type) — calendar-bounded,
    * not data-sized; the tail's window never sees the event log.
    */
  def streamingDailyAnomaly(spark: SparkSession, dir: String,
                            statePartitions: Int = 8): DataFrame =
    streamingDailyAnomalyFrom(eventsStream(spark, dir), statePartitions)

  /** [[streamingDailyAnomaly]] over a caller-built events stream (the
    * spec entry point — multi-file sources with maxFilesPerTrigger
    * force counts to accumulate across batches).
    */
  def streamingDailyAnomalyFrom(events: DataFrame,
                                statePartitions: Int = 8): DataFrame = {
    val spark = events.sparkSession
    val daily = events
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = daily.writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.operators.EventAnalytics.anomalyTail(spark.table(name))
  }

  /** STREAMING TOP-K heavy hitters: per-user event counts maintained as
    * complete-mode streaming state (late batches merge into the same
    * user row), ranked under the total (n desc, user) order on the
    * drained table — the "top users right now" dashboard feed. Because
    * the state IS the count table, any batch split yields exactly the
    * batch group-by, which is the equivalence the spec pins.
    *
    * Scale shape: state is one row per user (entity-bounded);
    * the rank+limit runs on the drained aggregate, never the log.
    */
  def streamingTopK(spark: SparkSession, dir: String, k: Int = 50,
                    statePartitions: Int = 8): DataFrame =
    streamingTopKFrom(eventsStream(spark, dir), k, statePartitions)

  /** [[streamingTopK]] over a caller-built events stream. */
  def streamingTopKFrom(events: DataFrame, k: Int = 50,
                        statePartitions: Int = 8): DataFrame = {
    val spark = events.sparkSession
    val counts = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = counts.writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .orderBy(col("n").desc, col("user_id")).limit(k)
  }

  /** The per-user fold behind [[streamingTransitions]]: state =
    * (last tsu, last event_id, last type); batch events fold in
    * (tsu, id) order, each emitting the pair from its predecessor.
    */
  private[streaming] def transitionFoldFn:
      (Long, Iterator[(Long, Long, Long, String)],
       org.apache.spark.sql.streaming.GroupState[(Long, Long, String)]) =>
        Iterator[(String, String)] = {
    (_, rows, state) =>
      var last = state.getOption.getOrElse((-1L, -1L, null: String))
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, tsu, id, et) =>
        if (last._3 != null) out += ((last._3, et))
        last = (tsu, id, et)
      }
      if (last._3 != null) state.update(last)
      out.iterator
  }

  /** NATIVE session-window streaming aggregation: Spark's
    * `session_window(ts, gap)` merges each user's events into dynamic
    * [first_ts, last_ts + gap) windows inside the streaming state
    * store — the engine-managed form of the [[sessionize]] fold, and
    * boundary-compatible with it: per-event windows coalesce when they
    * overlap OR touch, so a new session starts only when the
    * inter-event gap strictly EXCEEDS `gapMinutes` (the fold's strict
    * `>`; pinned on crafted exactly-gap data in
    * StreamingSessionWindowSpec). Append mode + watermark is the only
    * supported shape for session windows, which gives the operator its
    * streaming semantics: a session is EMITTED (and its state dropped)
    * once the watermark reaches its end (`end <= watermark`), so with a
    * 0-delay watermark an AvailableNow drain emits every session whose
    * `last_ts + gap` is at or before the stream's max event time
    * truncated to the MILLISECOND (Spark's EventTimeStats tracks event
    * time in ms, so a session ending inside the final partial
    * millisecond is held — also spec-pinned) — any session still
    * inside the gap horizon at drain stays in state for the next run
    * (exactly the [[hourlyEventStatsAppend]] contract,
    * session-shaped). The emitted set is deterministic, so the oracle
    * mirrors it with the batch gap-fold plus the same
    * `end <= ms_floor(max_ts)` emission filter.
    *
    * Scale shape: state is one (user, open-session) entry per active
    * user, partitioned by user hash; watermark bounds both state size
    * and emission latency. `statePartitions` tracks user-key
    * cardinality on a real cluster (see [[withStatePartitions]]).
    */
  def sessionWindowStats(spark: SparkSession, dir: String, gapMinutes: Int,
                         statePartitions: Int = 8): DataFrame = {
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = sessionAgg(spark, dir, gapMinutes).writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** The shared session-window streaming plan behind the memory-sink
    * oracle harness ([[sessionWindowStats]]) and the production parquet
    * sink ([[sessionWindowStatsAppend]]).
    */
  private def sessionAgg(spark: SparkSession, dir: String,
                         gapMinutes: Int): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Production sink for the session windows: append mode to a parquet
    * directory with a durable checkpoint — a session is written exactly
    * once, when the watermark passes its end; sessions still open at an
    * AvailableNow drain stay in (checkpointed) state for the next run,
    * exactly the [[hourlyEventStatsAppend]] contract. Returns the sink
    * contents (explicit schema: a run emitting nothing writes no files,
    * and inference on the empty sink would throw).
    */
  def sessionWindowStatsAppend(spark: SparkSession, dir: String,
                               gapMinutes: Int, sinkDir: String,
                               checkpointDir: String,
                               statePartitions: Int = 8): DataFrame = {
    withStatePartitions(spark, statePartitions) {
      val q = sessionAgg(spark, dir, gapMinutes).writeStream
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val sinkSchema = StructType(Seq(
      StructField("session_start", TimestampType),
      StructField("session_end", TimestampType),
      StructField("user_id", LongType),
      StructField("n_events", LongType),
      StructField("sum_value", DoubleType)))
    spark.read.schema(sinkSchema).parquet(sinkDir)
  }

  /** Sessionization via stateful streaming: gaps > `gapMinutes` split a
    * user's events into sessions. Implemented with the batch-equivalent
    * window expression here (deterministic, oracle-checkable); the
    * streaming form is `groupByKey(user).flatMapGroupsWithState` with a
    * processing-time timeout carrying the same fold.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_seq",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("event_id"), col("user_id"), col("ts"), col("session_seq"))
  }

  /** STREAMING INGESTION into the transactional warehouse — the
    * continuous form of the nightly K8 fact append. Each micro-batch
    * lands as ONE atomic catalog swap containing: in-batch exact dedup
    * on the id (deterministic first row per key, so replayed batches
    * compact identically regardless of partition order),
    * the against-table dedup (the K8 plan: ONE anti-join against ONE
    * scan of all fact dirs, its id column pruned by a batch-sized Bloom
    * filter below the join — a bucketed fact reads as one bucketed scan
    * and contributes zero fact-side Exchange) and the append.
    *
    * Exactly-once effect over at-least-once `foreachBatch` needs no
    * transaction id: the id-level anti-join is the guard. A torn run
    * committed its append or nothing; a redelivered batch, under the
    * same checkpoint or after a checkpoint reset (batch ids restart at
    * 0, so a batch id cannot tell redelivery from fresh files), runs
    * the same dedup, and the rows already appended filter out. Fresh
    * rows land; a batch with none commits no version.
    *
    * Scale shape: per batch, one Bloom build over the batch (bounded),
    * one pruned anti-join (no full fact scan — the Bloom prunes at the
    * id column), one delta-sized write, O(1) commit. Runs unchanged
    * as a continuous job discovering daily drops at 100 TB.
    */
  def streamingFactIngest(spark: SparkSession, wh: graft.etl.Warehouse,
                          sourceDir: String, srcSchema: StructType,
                          table: String, id: String,
                          checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream.schema(srcSchema).parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val txn = wh.begin()
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col(id))
          .orderBy(batch.columns.filter(_ != id).map(c => col(c).asc_nulls_last)
            .toIndexedSeq: _*)
        val compacted = batch.filter(col(id).isNotNull)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // persisted so the emptiness probe and the append share ONE
        // evaluation of the dedup (Bloom build + anti-join), the most
        // expensive stage of the batch on a large fact
        val fresh = graft.etl.Pipeline.freshAgainstTable(txn, table, compacted, id).persist()
        try {
          if (fresh.isEmpty) txn.discard()
          else {
            txn.append(table, fresh)
            txn.commit()
          }
        } finally fresh.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** STREAMING upkeep of an aggregate materialized view: each
    * micro-batch refreshes the warehouse-stored view with just that
    * batch ([[graft.operators.MaterializedAgg.refresh]]) — the
    * continuous form of the delta-sized MV refresh, with the base
    * stream never rescanned.
    *
    * `foreachBatch` is at-least-once, and an aggregate refresh (unlike
    * the SCD1 merge) is NOT naturally idempotent — re-applying a batch
    * double-counts. Exactly-once effect therefore comes from the
    * view's transaction id ([[graft.etl.Txn.setTxnVersion]], one per
    * `viewTable`): the batch id commits IN THE SAME catalog swap as the
    * refreshed view, so a redelivered batch (id ≤ the committed one)
    * is skipped. A torn run can't diverge: either the view and its id
    * committed — and replay skips — or neither did, and replay
    * re-applies.
    *
    * STABLE-CHECKPOINT REQUIREMENT: unlike [[streamingFactIngest]]
    * (whose id-level anti-join makes redelivered ROWS idempotent, so a
    * checkpoint reset only costs a re-dedup), an aggregate refresh has
    * no row identity to dedup on — the batch id is the ONLY guard.
    * After a checkpoint reset, batch ids restart at 0 and fresh
    * source files arriving in those low-numbered batches are skipped
    * (a warning is logged); re-applying instead would double-count
    * every replayed row. Recovery from a reset is therefore a rebuild:
    * `restore` the warehouse to a version before the view's first
    * refresh (the id rolls back with the view), or refresh into a new
    * view table, then restart the stream.
    *
    * CHURN-SIZED WRITES: register `viewTable` in the warehouse's
    * `bucketSpec` on `keys.head` and each refresh rewrites ONLY the
    * buckets the batch's keys hash to (the per-key merge algebra
    * cannot move any other row; untouched buckets hard-link
    * byte-identically) — the view of a large fact is itself large, and
    * an unbucketed refresh writes all of it per micro-batch.
    * Spec-pinned in StreamingMvRefreshSpec's bucketed case.
    */
  def streamingMvRefresh(spark: SparkSession, wh: graft.etl.Warehouse,
                         sourceDir: String, srcSchema: StructType,
                         viewTable: String,
                         keys: Seq[String],
                         measures: Seq[graft.operators.MaterializedAgg.Measure],
                         checkpointDir: String,
                         prepare: DataFrame => DataFrame = identity)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = "mv:" + viewTable
    spark.readStream.schema(srcSchema).parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val txn = wh.begin()
        txn.txnVersion(appId).filter(batchId <= _) match {
          case Some(applied) =>
            // see the scaladoc's stable-checkpoint requirement: this skip
            // is exact for REDELIVERED batches and lossy after a
            // checkpoint reset — make the conflation visible
            txn.discard()
            System.err.println(
              s"[streamingMvRefresh] skipping batch $batchId (applied through $applied); " +
                "if the checkpoint was reset, rebuild the view")
          case None =>
            // `prepare` derives view-grain columns the raw stream lacks
            // (e.g. the value bucket of an incremental QUANTILE view) —
            // a map-side projection, applied before the delta refresh
            val prepared = prepare(batch)
            // refresh is strictly per-key (groupBy keys, per-key merge
            // algebra), so on a view bucketed by keys.head the batch can
            // only move rows in the buckets its own keys hash to — slice
            // those, merge the delta into the slice, rewrite only them
            // (untouched buckets hard-link). The write is then sized by
            // the batch's KEY SPREAD, not the view: the view of a 100 TB
            // fact is itself large, and rewriting it whole per
            // micro-batch is the same store-sized write the CDC store
            // consumers shed. Unbucketed views keep the full overwrite;
            // an empty batch leaves the view untouched.
            val slice = txn.keyedSlice(viewTable, keys.take(1))(
              graft.etl.Warehouse.bucketsOf(prepared, keys.take(1), _))
            txn.overwriteSlice(viewTable, slice, graft.operators.MaterializedAgg.refresh(
              slice.of(txn.read(viewTable)), prepared, keys, measures))
            txn.setTxnVersion(appId, batchId)
            txn.commit()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming CDC tail of a warehouse table's materialized change log
    * ([[graft.etl.ChangeFeed.materializeLog]]): a plain file-source
    * stream over the churn-sized log parquet. Source offsets live in
    * the checkpoint, so successive `AvailableNow` drains see each
    * logged transition exactly once — the Delta CDF `readChangeFeed`
    * shape, built on the battle-tested file source instead of a
    * bespoke DSv2 scan (the log IS files; a custom source would
    * re-implement exactly this tracking).
    */
  def changeFeedStream(spark: SparkSession, logDir: String,
                       logSchema: StructType): DataFrame =
    spark.readStream.schema(logSchema)
      .parquet(graft.etl.ChangeFeed.logGlob(logDir))

  /** The scaffolding every log consumer shares: tail the log, hand
    * each micro-batch to `applyBatch` persisted (consumers read it
    * more than once), drain with `AvailableNow` on the durable
    * checkpoint, block until done.
    *
    * Cross-batch ordering: the file source processes files oldest-
    * modification-first, and [[graft.etl.ChangeFeed.materializeLog]]
    * writes transition dirs sequentially in version order, so a
    * version never lands in an EARLIER batch than its predecessor.
    * Within a batch no ordering is assumed — both consumers below are
    * order-free in-batch (a net fold; a per-version ascending loop).
    */
  private def drainLog(spark: SparkSession, logDir: String,
                       logSchema: StructType, checkpointDir: String)
                      (applyBatch: DataFrame => Unit): Unit = {
    val q = changeFeedStream(spark, logDir, logSchema)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try applyBatch(batch) finally batch.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Consumer harness: fold the streamed change rows into per-group
    * DELTAS — `groupCols` grouping, caller-built signed aggregates
    * (`q_cdf_apply`'s base ⊕ delta algebra, streaming form). Complete
    * mode + memory sink (the oracle-harness convention, see the object
    * doc) with a DURABLE checkpoint: a later drain after the log grew
    * reads only the new transitions, and the checkpointed aggregation
    * state re-emits the updated totals — churn-cost incremental view
    * maintenance driven by the stream.
    */
  def changeFeedDeltas(spark: SparkSession, logDir: String,
                       logSchema: StructType, groupCols: Seq[String],
                       aggExprs: Seq[Column], checkpointDir: String,
                       statePartitions: Int = 8): DataFrame = {
    val name = "cdf_" + UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, statePartitions) {
      val q = changeFeedStream(spark, logDir, logSchema)
        .groupBy(groupCols.map(col): _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
        .writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** PRODUCTION CDC consumer: maintain a downstream REPLICA of the
    * source table at churn cost. Each micro-batch FOLDS its logged
    * transitions into the per-key net delta
    * ([[graft.etl.ChangeFeed.netChanges]] — one hash aggregation, no
    * join) and applies ONE bucket-pruned MERGE in one warehouse
    * transaction: net `insert`/`update_post` rows upsert the final
    * after-image, net `delete` rows drop the key, keys that
    * round-tripped inside the batch never touch the table at all. A
    * catch-up batch covering N versions thus costs one write, not N —
    * and a nightly delta touching `c` of `B` buckets rewrites ~`c/B`
    * of the replica regardless of its size.
    *
    * Exactly-once EFFECT without a ledger: net-merge application is
    * CONVERGENT — the net of a batch applied to any state that
    * already includes some or all of it degenerates to
    * upsert-same-value / delete-absent-key no-ops, so foreachBatch's
    * at-least-once redelivery, and even a full checkpoint reset,
    * re-converge instead of corrupting (spec-pinned). This is why the
    * replica needs none of [[streamingMvRefresh]]'s transaction id.
    * (The fold leans on [[graft.etl.ChangeFeed.diff]] co-locating a
    * key's `update_pre`/`update_post` pair — both rows come off one
    * exploded join row, so a file split can never strand half a pair
    * in another batch.)
    */
  def changeFeedReplica(spark: SparkSession, wh: graft.etl.Warehouse,
                        table: String, keys: Seq[String], logDir: String,
                        checkpointDir: String): Unit = {
    import graft.etl.ChangeFeed
    val logSch = ChangeFeed.logSchema(wh.schemas(table), keys)
    drainLog(spark, logDir, logSch, checkpointDir) { batch =>
      if (!batch.isEmpty) {
        val txn = wh.begin()
        if (ChangeFeed.applyNetBatch(txn, table, keys, batch)) txn.commit()
      }
    }
  }

  /** [[changeFeedReplica]] with CONTINUOUS log GC: after every applied
    * micro-batch — and once more when the drain finishes — the log's
    * dead prefix is vacuumed through [[graft.etl.ChangeFeed.retention]]
    * using this stream's OWN checkpoint frontier plus any registered
    * `peers`, making retention part of the consume loop instead of a
    * separate operational ritual. Safety is inherited, not re-argued:
    * the in-batch frontier counts only COMMITTED batches, so the
    * in-flight batch's input files are always above the horizon, and
    * one slow peer (or this stream's own lag) pins the prefix exactly
    * as in manual [[graft.etl.ChangeFeed.retention]]. The final pass
    * after `awaitTermination` reclaims the last batch's prefix (its
    * commit marker lands only after its foreachBatch returns).
    * Returns the log versions vacuumed across the drain, ascending.
    */
  def changeFeedReplicaRetained(spark: SparkSession, wh: graft.etl.Warehouse,
                                table: String, keys: Seq[String],
                                logDir: String, checkpointDir: String,
                                peers: Seq[graft.etl.ChangeFeed.LogConsumer] = Nil)
      : Seq[Long] = {
    import graft.etl.ChangeFeed
    val logSch = ChangeFeed.logSchema(wh.schemas(table), keys)
    val self = ChangeFeed.CheckpointFrontier(checkpointDir, logDir)
    val vacuumed = scala.collection.mutable.ArrayBuffer[Long]()
    drainLog(spark, logDir, logSch, checkpointDir) { batch =>
      if (!batch.isEmpty) {
        val txn = wh.begin()
        if (ChangeFeed.applyNetBatch(txn, table, keys, batch)) txn.commit()
        else txn.discard()
        vacuumed ++= ChangeFeed.retention(logDir, self +: peers)
      }
    }
    vacuumed ++= ChangeFeed.retention(logDir, self +: peers)
    vacuumed.toSeq
  }

  /** The one body of the keyed-store CDC consumers below. Per
    * micro-batch the logged transitions fold to per-`key` net changes
    * ([[graft.etl.ChangeFeed.netChanges]]): net-deleted and net-updated
    * keys are `gone` (an edited row must re-encode — a stale row would
    * keep answering with its old encoding), net inserts and
    * after-images, shaped by `arrived`, are the arrivals.
    * [[graft.etl.Txn.pruneAppendKeyed]] drops the gone keys' rows and
    * appends `encode`'s rows for the arrivals not already stored;
    * `census`, when given, folds EXACTLY the rows that write removed
    * and appended into its own tables in the same transaction. The txn
    * commits, or is discarded when the batch touched no bucket.
    *
    * Exactly-once EFFECT by CONVERGENCE, like [[changeFeedReplica]]: a
    * redelivered delete drops an absent key (no-op), a redelivered
    * insert is anti-joined away by the append's idempotence guard, a
    * redelivered update drops-then-re-encodes the identical row — so
    * at-least-once redelivery and even a checkpoint reset re-converge,
    * and a census's removed/appended deltas of such a batch cancel to
    * zero (spec-pinned).
    */
  private def drainKeyedStore(spark: SparkSession, wh: graft.etl.Warehouse,
                              table: String, key: String, sourceSchema: StructType,
                              logDir: String, checkpointDir: String)
                             (arrived: DataFrame => DataFrame,
                              encode: DataFrame => DataFrame,
                              census: Option[(graft.etl.Txn, DataFrame, DataFrame) => Unit] = None)
      : Unit = {
    import graft.etl.ChangeFeed
    drainLog(spark, logDir, ChangeFeed.logSchema(sourceSchema, Seq(key)), checkpointDir) { batch =>
      if (!batch.isEmpty) {
        val net = ChangeFeed.netChanges(batch, Seq(key)).persist()
        // a census reads the removed and appended rows more than once;
        // the appended rows are cached before the store write computes them
        val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
        def keep(df: DataFrame): DataFrame =
          if (census.isEmpty) df else { cached += df.persist(); df }
        try {
          val gone = net.filter(col("change_type").isin("delete", "update_post")).select(key)
          val txn = wh.begin()
          txn.pruneAppendKeyed(table, key, gone,
              arrived(net.filter(col("change_type").isin("insert", "update_post"))))(
              rows => keep(encode(rows))) match {
            case Some((removed, appended)) =>
              census.foreach(_(txn, keep(removed), appended))
              txn.commit()
            case None => txn.discard()
          }
        } finally { cached.foreach(_.unpersist()); net.unpersist() }
      }
    }
  }

  /** PRODUCTION CDC consumer #4: maintain a stored MinHash
    * [[graft.operators.Dedup.signatureStore]] from a document table's
    * change log — the ingestion path for INCREMENTAL near-dup
    * detection ([[graft.operators.Dedup.incrementalNearDupsStored]]
    * probes this store per batch): document arrivals sign once at
    * ingest and land at churn cost, never re-signing the corpus
    * ([[drainKeyedStore]] applies each micro-batch). A document that
    * shrinks below the n-gram floor simply contributes no new row (same
    * as the cold builder).
    *
    * The streamed store is row-equal to a cold
    * [[graft.operators.Dedup.signatureStore]] of the final image
    * (spec-pinned in StreamingChurnWriteSpec and MaintainedCensusSpec).
    */
  def changeFeedSignatureStore(spark: SparkSession, wh: graft.etl.Warehouse,
                               storeTable: String, docSchema: StructType,
                               n: Int, logDir: String,
                               checkpointDir: String): Unit =
    drainKeyedStore(spark, wh, storeTable, "doc_id", docSchema, logDir, checkpointDir)(
      _.select("doc_id", "text"), graft.operators.Dedup.signatureStore(_, n))

  /** [[changeFeedSignatureStore]] WITH the band census maintained
    * store-side (r13 verdict item 2): alongside the signature store,
    * the same transaction keeps `countsTable` — per band-bucket counts
    * (`bkey`, `cnt`), bucketed by `bkey` so lookups and rewrites prune
    * to the batch's buckets — and `histTable`, the bucket-size
    * histogram (`bn`, `k`; one row per DISTINCT bucket size, tiny).
    * [[graft.operators.Dedup.capFromMaintainedCensus]] then derives the
    * batch's banding cap from these tables at batch-sized cost and
    * [[graft.operators.Dedup.incrementalNearDupsStoredWithCap]] runs
    * the probe — no per-batch aggregation over the stored bands ever
    * happens (the full-census recompute the plain
    * `incrementalNearDupsStored` performs, fine at fixture scale, a
    * full store scan per micro-batch at 100 TB).
    *
    * Maintenance is exact, not approximate: band deltas derive from
    * exactly the rows the batch removes (store rows of net-deleted /
    * net-updated keys) and appends, so maintained counts == a cold
    * census of the store at every commit, and the histogram moves by
    * (old size leaves, new size enters) per touched bucket —
    * spec-pinned equal to recomputes through inserts, updates,
    * deletes, and redelivery (where add/remove deltas cancel exactly).
    * The store itself is the plain consumer's, row for row.
    */
  def changeFeedSignatureStoreCensus(spark: SparkSession,
                                     wh: graft.etl.Warehouse,
                                     storeTable: String, countsTable: String,
                                     histTable: String,
                                     docSchema: StructType, n: Int,
                                     logDir: String, checkpointDir: String,
                                     bandSize: Int = 2): Unit =
    drainKeyedStore(spark, wh, storeTable, "doc_id", docSchema, logDir, checkpointDir)(
      _.select("doc_id", "text"), graft.operators.Dedup.signatureStore(_, n),
      Some(bandCensus(countsTable, histTable,
        graft.operators.Dedup.storeBands(_, bandSize)) _))

  /** A batch's net per-`key` count change: −1 per removed row, +1 per
    * appended row, keys whose changes cancel dropped — the one signed
    * delta every maintained census folds (`key`, `d`).
    */
  private def signedDelta(key: String, removed: DataFrame,
                          appended: DataFrame): DataFrame =
    removed.select(col(key), lit(-1L).as("d"))
      .unionByName(appended.select(col(key), lit(1L).as("d")))
      .groupBy(key).agg(sum(col("d")).as("d"))
      .filter(col("d") =!= 0L)

  /** Merge a [[signedDelta]] into a small count table (`key`, `cnt`) by
    * a full-outer join, dropping keys whose count reaches 0, and
    * rewrite it whole — the table is code-sized, so that IS the
    * churn-sized move (bucketing it would only add fixed costs).
    */
  private def foldCounts(txn: graft.etl.Txn, table: String, key: String,
                         cnt: String, delta: DataFrame): Unit =
    txn.overwrite(table, txn.read(table).join(delta, Seq(key), "full")
      .select(col(key),
        (coalesce(col(cnt), lit(0L)) + coalesce(col("d"), lit(0L))).as(cnt))
      .filter(col(cnt) > 0))

  /** The band census: fold the band keys (`bands`) of a batch's
    * removed and appended store rows into the per-bucket counts —
    * rewritten bucket-pruned (the counts table is bucketed by `bkey`)
    * — and the size histogram. All inputs are batch-sized; the counts
    * table contributes only the touched buckets' files.
    */
  private def bandCensus(countsTable: String, histTable: String,
                         bands: DataFrame => DataFrame)
                        (txn: graft.etl.Txn, removed: DataFrame,
                         appended: DataFrame): Unit = {
    val delta = signedDelta("bkey", bands(removed), bands(appended))
    val slice = txn.keyedSlice(countsTable, Seq("bkey"))(
      graft.etl.Warehouse.bucketsOf(delta, Seq("bkey"), _))
    if (slice.isEmpty) return // no net band movement
    val cur = slice.of(txn.read(countsTable))
    val joined = delta.join(cur, Seq("bkey"), "left")
      .select(col("bkey"), coalesce(col("cnt"), lit(0L)).as("oldc"),
        (coalesce(col("cnt"), lit(0L)) + col("d")).as("newc"))
      .persist()
    try {
      val newCounts = joined.filter(col("newc") > 0)
        .select(col("bkey"), col("newc").as("cnt"))
      val pruned = cur.join(joined.select("bkey"), Seq("bkey"), "left_anti")
      txn.overwriteSlice(countsTable, slice, pruned.unionByName(newCounts))
      foldCounts(txn, histTable, "bn", "k", signedDelta("bn",
        joined.select(col("oldc").as("bn")).filter(col("bn") > 0),
        joined.select(col("newc").as("bn")).filter(col("bn") > 0)))
    } finally joined.unpersist()
  }

  /** PRODUCTION CDC consumer #5: maintain a stored
    * [[graft.operators.Multimodal.imageAHash]] table from a media
    * table's change log — the MULTIMODAL twin of
    * [[changeFeedSignatureStore]]: at 100 TB, new images must hash at
    * INGEST (per-batch churn cost), never via corpus re-scans
    * ([[drainKeyedStore]] applies each micro-batch; an edited image
    * re-hashes — a stale aHash would band it into its OLD near-dup
    * buckets). Non-image payloads (wav) contribute no row — the same
    * exclusion the batch mm_imagehash gate applies. The stored table
    * feeds [[graft.operators.Multimodal.imageHashPairs]] exactly like
    * the signature store feeds incremental text dedup.
    *
    * The streamed store is row-equal to a cold [[Multimodal.imageAHash]]
    * of the final image (spec-pinned, and the `q_stream_mm` driver
    * gate hashes it).
    */
  def changeFeedImageHashStore(spark: SparkSession, wh: graft.etl.Warehouse,
                               storeTable: String, mediaSchema: StructType,
                               logDir: String,
                               checkpointDir: String): Unit =
    drainKeyedStore(spark, wh, storeTable, "doc_id", mediaSchema, logDir, checkpointDir)(
      imageArrivals, graft.operators.Multimodal.imageAHash)

  /** The image consumers' arrivals: media rows minus non-image (wav)
    * payloads, which contribute no row.
    */
  private def imageArrivals(rows: DataFrame): DataFrame =
    rows.select("doc_id", "fmt", "payload").filter(col("fmt") =!= "wav")

  /** [[changeFeedImageHashStore]] WITH the band census maintained
    * store-side — the MULTIMODAL twin of
    * [[changeFeedSignatureStoreCensus]]: the same transaction that
    * prunes/appends aHash rows folds their band deltas into the
    * per-bucket counts table (bucketed by `bkey`) and the bucket-size
    * histogram, so
    * [[graft.operators.Multimodal.imageHashPairsWithCap]] +
    * [[graft.operators.Dedup.capFromMaintainedCensus]] run image
    * near-dup ingestion without EVER re-aggregating the stored bands.
    * Same exactness contract: maintained census == cold census at
    * every commit, redelivery cancels to zero deltas (spec-pinned).
    */
  def changeFeedImageHashStoreCensus(spark: SparkSession,
                                     wh: graft.etl.Warehouse,
                                     storeTable: String, countsTable: String,
                                     histTable: String,
                                     mediaSchema: StructType, logDir: String,
                                     checkpointDir: String): Unit =
    drainKeyedStore(spark, wh, storeTable, "doc_id", mediaSchema, logDir, checkpointDir)(
      imageArrivals, graft.operators.Multimodal.imageAHash,
      Some(bandCensus(countsTable, histTable, graft.operators.Multimodal.hashBands) _))

  /** PRODUCTION CDC consumer #3: maintain a stored
    * [[graft.operators.Similarity.ivfpqIndex]] from an embedding
    * table's change log — the ingestion path for a vector-search
    * service: nightly/streaming embedding arrivals encode against the
    * FIXED codebooks and land in the index at churn cost, never
    * re-encoding the stored corpus ([[drainKeyedStore]] applies each
    * micro-batch — one warehouse transaction per batch).
    *
    * `seedEmbeddings` must contain every vector `coarsePred`/`pqPred`
    * select over the corpus, FIXED for the index's lifetime (the
    * [[graft.operators.Similarity.ivfpqIndexAppend]] batch-stability
    * contract — mutate a seed and the codebooks shift under the stored
    * codes). Under that contract the streamed index is bit-equal to a
    * cold [[graft.operators.Similarity.ivfpqIndex]] rebuild of the
    * final image — the `q_stream_ann` driver gate hashes exactly that.
    */
  def changeFeedAnnIndex(spark: SparkSession, wh: graft.etl.Warehouse,
                         indexTable: String, embSchema: StructType,
                         seedEmbeddings: DataFrame, coarsePred: Column,
                         pqPred: Column, m: Int, logDir: String,
                         checkpointDir: String): Unit =
    drainKeyedStore(spark, wh, indexTable, "vec_id", embSchema, logDir, checkpointDir)(
      _.select("vec_id", "embedding"),
      graft.operators.Similarity.ivfpqEncode(seedEmbeddings, _, coarsePred, pqPred, m))

  /** [[changeFeedAnnIndex]] WITH the per-list occupancy census
    * maintained store-side — the ANN member of the maintained-census
    * family ([[changeFeedSignatureStoreCensus]] /
    * [[changeFeedImageHashStoreCensus]]): the transaction that
    * prunes/appends index rows folds their `co_id` deltas into
    * `listCountsTable`, so
    * [[graft.operators.Similarity.indexBalanceReport]] (the rebuild
    * decision for an index whose frozen centroids drift away from the
    * corpus) reads an nlist-sized table instead of aggregating the
    * corpus-sized index. Unlike the band censuses the counts table is
    * CODE-sized (one row per non-empty list), so it is merged and
    * rewritten whole ([[foldCounts]]) — no bucketing needed. Same
    * exactness contract: maintained counts == a cold
    * [[Similarity.indexListCounts]] of the stored index at every
    * commit; redelivery cancels to zero deltas (spec-pinned).
    */
  def changeFeedAnnIndexCensus(spark: SparkSession, wh: graft.etl.Warehouse,
                               indexTable: String, listCountsTable: String,
                               embSchema: StructType,
                               seedEmbeddings: DataFrame, coarsePred: Column,
                               pqPred: Column, m: Int, logDir: String,
                               checkpointDir: String): Unit =
    drainKeyedStore(spark, wh, indexTable, "vec_id", embSchema, logDir, checkpointDir)(
      _.select("vec_id", "embedding"),
      graft.operators.Similarity.ivfpqEncode(seedEmbeddings, _, coarsePred, pqPred, m),
      Some((txn, removed, appended) =>
        foldCounts(txn, listCountsTable, "co_id", "cnt",
          signedDelta("co_id", removed, appended))))

  /** PRODUCTION CDC consumer #2: fold the change stream into an SCD2
    * HISTORY — the replica keeps only the latest image; this keeps
    * every version with its validity interval, maintained at churn
    * cost via [[graft.etl.Scd2.applyChangesWarehouse]] (the current
    * slice rewrites only the buckets the delta touches; closed
    * versions are append-only). `asOfForVersion` maps each logged
    * `_commit_version` to its load timestamp and MUST be strictly
    * increasing in the version — the history's own timestamps then
    * double as the applied-version high-water mark.
    *
    * Exactly-once EFFECT, but by a DIFFERENT argument than the
    * replica's: SCD2 application is NOT convergent (re-applying an old
    * delta onto a newer history would close and reopen rows), so
    * instead each batch derives the high-water mark from the history
    * itself — max(valid_from / valid_to) over both tables — and skips
    * every version whose asOf is BEFORE it. A version AT the mark
    * re-applies: already-applied rows of it are no-ops (the
    * [[graft.etl.Scd2.applyChanges]] fixpoint, spec-pinned), which
    * both absorbs redelivery and HEALS a version whose log files were
    * split across two micro-batches — the first partial apply stamps
    * the mark, the remainder still lands. Redelivered batches and
    * full checkpoint resets re-derive the mark and skip everything
    * strictly older; a crash between the warehouse commit and the
    * checkpoint ack redelivers a batch whose re-application is pure
    * no-ops. The mark needs no side ledger because every applied
    * transition stamps its asOf into the rows it opens or closes, and
    * a zero-change transition leaves no stamp but is a no-op to
    * reapply.
    */
  def changeFeedScd2(spark: SparkSession, wh: graft.etl.Warehouse,
                     currentTable: String, closedTable: String,
                     sourceSchema: StructType, keys: Seq[String],
                     compareCols: Seq[String], logDir: String,
                     asOfForVersion: Long => java.sql.Timestamp,
                     checkpointDir: String): Unit = {
    import graft.etl.{ChangeFeed, Scd2}
    val logSch = ChangeFeed.logSchema(sourceSchema, keys)
    drainLog(spark, logDir, logSch, checkpointDir) { batch =>
      val versions = batch.select(col("_commit_version")).distinct()
        .collect().map(_.getLong(0)).sorted
      if (versions.nonEmpty) {
        val txn = wh.begin()
        val hwm = txn.read(currentTable)
          .agg(max(col("valid_from")).as("m"))
          .unionAll(txn.read(closedTable)
            .agg(max(col("valid_to")).as("m")))
          .agg(max(col("m"))).head() match {
            case r if r.isNullAt(0) => None
            case r => Some(r.getTimestamp(0))
          }
        versions.foreach { v =>
          val at = asOfForVersion(v)
          if (hwm.forall(h => !at.before(h))) {
            Scd2.applyChangesWarehouse(txn, currentTable, closedTable,
              batch.filter(col("_commit_version") === v)
                .drop("_commit_version"),
              keys, compareCols, at)
          }
        }
        txn.commit() // the batch's surviving versions land atomically
      }
    }
  }
}
