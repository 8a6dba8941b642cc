package graft.queries

import graft.Tables
import graft.etl.Schemas
import graft.operators.{AsOfJoin, Dedup, MaterializedAgg, RangeJoin, Resample}
import graft.plans.TopK
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming, semi-structured, OLAP-grouping and catalog operators —
  * engine-completeness beyond the reference surface.
  */
object MiscQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Structured Streaming windowed aggregation, driven to completion via
    // Trigger.AvailableNow — result equals the batch tumbling-window agg.
    "q_stream_window" -> ((s, dir) =>
      StreamingOps.hourlyEventStats(s, dir)
        .orderBy("bucket", "event_type")),

    // Stream-stream inner join with watermarks + time-range condition
    // (bounded state); AvailableNow completion == the batch join
    "q_stream_join" -> ((s, dir) =>
      StreamingOps.clickPurchaseStreamJoin(s, dir)
        .orderBy("click_id", "purchase_id")),

    // Stream-stream LEFT OUTER join: matches emit as they form; an
    // unmatched click emits null-padded once the purchase-side
    // watermark passes the click's own timestamp (ms-truncated min of
    // the two sides' watermarks — edges pinned in
    // StreamingOuterJoinSpec); unmatched purchases never emit
    "q_stream_outer_join" -> ((s, dir) =>
      StreamingOps.clickPurchaseStreamOuterJoin(s, dir)
        .orderBy("click_id", "purchase_id")),

    // Streaming ingestion dedup: dropDuplicatesWithinWatermark over the
    // event stream; single-batch AvailableNow completion == batch DISTINCT
    "q_stream_dedup" -> ((s, dir) =>
      StreamingOps.streamingDedupKeys(s, dir)
        .orderBy("user_id", "event_type")),

    // Stream-STATIC join: the click stream enriched with a per-user
    // purchase profile — stateless (no watermark, no state store; the
    // entry requires stateOperators empty), static side broadcast per
    // micro-batch, left join keeps profile-less users with zeroes
    "q_stream_enrich" -> ((s, dir) =>
      StreamingOps.streamStaticEnrich(s, dir)
        .orderBy("event_id")),

    // Gap-based sessionization (the stateful-streaming fold, batch form)
    "q_sessionize" -> ((s, dir) =>
      StreamingOps.sessionize(Tables(s, dir, "events"), gapMinutes = 30)
        .orderBy("event_id")),

    // NATIVE session windows: `session_window(ts, gap)` in a streaming
    // aggregation — the state store merges each user's events into
    // dynamic sessions and append mode emits a session once the
    // watermark passes its end (0-delay watermark ⇒ every session
    // closed by the stream's max event time; open sessions stay in
    // state — see StreamingOps.sessionWindowStats for the contract)
    "q_stream_session" -> ((s, dir) =>
      StreamingOps.sessionWindowStats(s, dir, gapMinutes = 30)
        .orderBy("user_id", "session_start")),

    // Bucketed co-located join: both sides land bucketed+sorted by the
    // join key (the write-once partitioning a 100 TB fact table pays
    // instead of a shuffle per join); the join itself then plans with
    // ZERO Exchange nodes — require()d on the executed plan, with the
    // broadcast path disabled so the assertion can't pass vacuously on
    // the small side. Materializes driver-side (group-cardinality rows)
    // so the bucket tables can be dropped before returning.
    "q_bucket_join" -> ((s, dir) => {
      import graft.operators.Bucketing
      val li = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val ord = Tables(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // setup sits INSIDE the try: a failure mid-write must still drop
      // the qbj database, or the next run's IF NOT EXISTS would reuse a
      // stale registration pointing at a dead temp LOCATION
      try {
        // a dedicated database with an explicit temp LOCATION:
        // saveAsTable must not depend on the session's default
        // warehouse dir (= the harness's cwd, not guaranteed writable)
        val loc = java.nio.file.Files.createTempDirectory("graft-qbj").toString
        s.sql(s"CREATE DATABASE IF NOT EXISTS qbj LOCATION '$loc'")
        Bucketing.writeBucketed(li, "qbj.lineitem_b", "l_orderkey", 8)
        Bucketing.writeBucketed(ord, "qbj.orders_b", "l_orderkey", 8)
        val joined = Bucketing.colocatedJoin(s, "qbj.lineitem_b",
          "qbj.orders_b", "l_orderkey")
        require(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
          "bucketed join must not shuffle either side")
        val out = joined.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
                (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2)))
              .cast(DecimalType(38, 6)).cast(StringType).as("revenue"))
          .orderBy("o_orderstatus")
        s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        s.sql("DROP DATABASE IF EXISTS qbj CASCADE")
      }
    }),

    // String aggregation: deterministic listagg (sorted distinct set,
    // joined) — the report-formatting aggregate SQL calls string_agg
    "q_listagg" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("types_csv"))
        .orderBy("user_id")),

    // UNPIVOT/melt: wide numeric columns to (metric, value) rows, then
    // one exact-decimal sum per metric — the inverse of q_pivot
    "q_unpivot" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .select(expr(
          "stack(4, 'l_quantity', CAST(l_quantity AS DECIMAL(18,4))," +
            " 'l_extendedprice', CAST(l_extendedprice AS DECIMAL(18,4))," +
            " 'l_discount', CAST(l_discount AS DECIMAL(18,4))," +
            " 'l_tax', CAST(l_tax AS DECIMAL(18,4))) AS (metric, v)"))
        .groupBy("metric")
        .agg(sum(col("v")).cast(DecimalType(38, 4)).cast(StringType).as("total"))
        .orderBy("metric")),

    // Ordered funnel: users reaching view -> click -> purchase, each
    // stage strictly after the previous (one exchange, stacked windows)
    "q_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(Tables(s, dir, "events"),
          Seq("view", "click", "purchase"), "user_id", "ts", "event_type")
        .orderBy("stage")),

    // Streaming funnel twin: the stateful per-user fold's stage frame
    // through the batch operator's counting tail (shared oracle)
    "q_stream_funnel" -> ((s, dir) =>
      StreamingOps.streamingFunnel(s, dir, Seq("view", "click", "purchase"))
        .orderBy("stage")),

    // Session-scoped funnel: the same ordered chain, but it must
    // complete inside one 30-min-gap session — sessions reaching each
    // stage ("did the visit convert", not "did the user ever convert")
    "q_funnel_session" -> ((s, dir) =>
      graft.operators.EventAnalytics.sessionFunnel(Tables(s, dir, "events"),
          Seq("view", "click", "purchase"), gapMinutes = 30)
        .orderBy("stage")),

    // Per-user funnel frame: earliest qualified timestamp per stage
    // (the row-level view behind q_funnel's counts)
    "q_funnel_users" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnelUsers(Tables(s, dir, "events"),
          Seq("view", "click", "purchase"), "user_id", "ts", "event_type")
        .filter(col("u0").isNotNull)
        .orderBy("user_id")),

    // Conversion-lag report: per funnel transition, converters + mean
    // and median time-to-convert — ONE aggregation over the per-user
    // frame, two rows via array-explode (the corrMatrix shape)
    "q_funnel_lag" -> ((s, dir) => {
      val fu = graft.operators.EventAnalytics.funnelUsers(
        Tables(s, dir, "events"), Seq("view", "click", "purchase"),
        "user_id", "ts", "event_type")
      val agg = fu.agg(
        count(col("u1")).as("n1"),
        round(avg(col("u1") - col("u0")), 6).as("avg1"),
        expr("percentile(u1 - u0, 0.5)").as("p501"),
        count(col("u2")).as("n2"),
        round(avg(col("u2") - col("u1")), 6).as("avg2"),
        expr("percentile(u2 - u1, 0.5)").as("p502"))
      agg.select(explode(array(
          struct(lit("view->click").as("transition"), col("n1").as("n"),
            col("avg1").as("avg_lag_us"), col("p501").as("p50_lag_us")),
          struct(lit("click->purchase").as("transition"), col("n2").as("n"),
            col("avg2").as("avg_lag_us"), col("p502").as("p50_lag_us")))).as("r"))
        .select(col("r.transition"), col("r.n"), col("r.avg_lag_us"),
          col("r.p50_lag_us"))
        .orderBy("transition")
    }),

    // Cohort retention triangle: first-event week x active week
    "q_cohort" -> ((s, dir) =>
      graft.operators.EventAnalytics.cohortRetention(
          Tables(s, dir, "events"), "user_id", "ts", period = "week")
        .orderBy("cohort", "period")),

    // Time-weighted average value per user (irregular sampling; each
    // observation holds until the next)
    "q_twap" -> ((s, dir) =>
      graft.operators.EventAnalytics.timeWeightedAvg(
          Tables(s, dir, "events"), "user_id", "ts", "value",
          tieBreakCols = Seq("event_id"))
        .orderBy("user_id")),

    // Multi-touch attribution: purchase value credited to the
    // preceding view/click/signup touches within 7 days under
    // first-touch / last-touch / linear, in exact integer cents
    "q_attribution" -> ((s, dir) =>
      graft.operators.EventAnalytics.attribution(Tables(s, dir, "events"),
          Seq("click", "signup", "view"), "purchase")
        .orderBy("touch_type")),

    // First-order transition matrix over user event sequences: count +
    // row-normalized probability in exact basis points
    "q_transitions" -> ((s, dir) =>
      graft.operators.EventAnalytics.transitionMatrix(Tables(s, dir, "events"))
        .orderBy("from_type", "to_type")),

    // Top 3-step journeys across users: stacked leads over one user
    // window, counted, top 50 under a total (n desc, path) order
    "q_paths" -> ((s, dir) =>
      graft.operators.EventAnalytics.pathMining(Tables(s, dir, "events"))
        .orderBy(org.apache.spark.sql.functions.desc("n"),
          org.apache.spark.sql.functions.col("path"))
        .limit(50)),

    // Streaming twin: per-user last-event state, drained with
    // AvailableNow; pair-for-pair the batch lead window
    "q_stream_transitions" -> ((s, dir) =>
      StreamingOps.streamingTransitions(s, dir)
        .orderBy("from_type", "to_type")),

    // Daily volume vs trailing-median baseline per event type, exact
    // basis-point deviation + spike/drop flags
    "q_anomaly" -> ((s, dir) =>
      graft.operators.EventAnalytics.dailyAnomaly(Tables(s, dir, "events"))
        .orderBy("event_type", "day")),

    // Streaming twin: stateful (day, type) counting in complete mode,
    // the shared trailing-median tail over the drained state
    "q_stream_anomaly" -> ((s, dir) =>
      StreamingOps.streamingDailyAnomaly(s, dir)
        .orderBy("event_type", "day")),

    // Streaming heavy hitters: complete-mode per-user counts, top 50
    // under the total (n desc, user) order on the drained state
    "q_stream_topk" -> ((s, dir) =>
      StreamingOps.streamingTopK(s, dir, k = 50)),

    // Distribution drift, two-sample exact KS: max ECDF gap between the
    // first and second half of the time range, per type, on the cent
    // histogram — D in exact basis points
    "q_ks" -> ((s, dir) =>
      graft.operators.DataQuality.ksDrift(Tables(s, dir, "events"))
        .orderBy("event_type")),

    // Population-mix drift: exact half-vs-half shares in bp + the
    // per-type PSI contribution at round(., 6)
    "q_drift" -> ((s, dir) =>
      graft.operators.DataQuality.psiDrift(Tables(s, dir, "events"))
        .orderBy("event_type")),

    // Wasserstein-1 drift: the exact area between the two halves'
    // ECDFs over the cent histogram — total displaced mass where KS
    // reports only the worst point
    "q_wasserstein" -> ((s, dir) =>
      graft.operators.DataQuality.wassersteinDrift(Tables(s, dir, "events"))
        .orderBy("event_type")),

    // A/B readout: parity-split variants, conversion = >= 13 purchases,
    // 2x2 chi-square in exact micro units
    "q_abtest" -> ((s, dir) =>
      graft.operators.EventAnalytics.abTest(
        Tables(s, dir, "events"), "purchase", minEvents = 13L)),

    // Market-basket association pairs over lineitem: co-occurrence
    // support + lift vs independence in exact basis points
    "q_basket" -> ((s, dir) =>
      graft.operators.RetailAnalytics
        .pairAssociations(Tables(s, dir, "lineitem"), minSupport = 2L)
        .orderBy(org.apache.spark.sql.functions.desc("support"),
          org.apache.spark.sql.functions.col("item_a"),
          org.apache.spark.sql.functions.col("item_b"))
        .limit(200)),

    // RFM segmentation grid: equal-frequency quintiles on recency /
    // frequency / monetary, customer count + exact cents per cell
    "q_rfm" -> ((s, dir) =>
      graft.operators.RetailAnalytics.rfm(Tables(s, dir, "orders"))
        .orderBy("r", "f", "m")),

    // Semi-structured: JSON field extraction from the props column
    "q_json_extract" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
        .orderBy("event_id")),

    // ORC source/sink roundtrip: the second columnar lake format (built
    // into spark-sql — predicate pushdown, column pruning and
    // vectorized reads all apply as with parquet). The fact slice is
    // written to ORC, read back, and aggregated; the oracle recomputes
    // the aggregate from the parquet base table, so the hash gate
    // verifies the roundtrip preserved every value exactly. DECIMAL
    // and TIMESTAMP survive with their logical types — the lossy
    // surprises live in the CSV/XLSX family, not here.
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-orc")
        .toString + "/lineitem_orc"
      Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_shipdate")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast(StringType).as("sum_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .orderBy("l_returnflag")
    }),

    // Line-delimited JSON source/sink roundtrip (the interchange format
    // every ingestion pipeline meets). Written from the events slice
    // and read back under an EXPLICIT schema — schema inference over
    // JSON is a full extra pass at 100 TB and type-unstable (a column
    // of integral samples infers LONG even if doubles appear later),
    // so production readers pin the schema; the roundtrip is then
    // hash-gated against the parquet-derived oracle.
    "q_json_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-json")
        .toString + "/events_json"
      Tables(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").json(out)
      s.read.schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType))))
        .json(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 6)))
            .cast(DecimalType(38, 6)).cast(StringType).as("sum_value"))
        .orderBy("event_type")
    }),

    // OLAP rollup (hierarchical subtotals + grand total)
    "q_rollup" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast(StringType).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // As-of join: each click enriched with the user's latest
    // at-or-before purchase (composed operator; DuckDB's native ASOF
    // JOIN is the oracle)
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "tus", "value")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "tus").agg(max("value").as("purchase_value"))
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "tus", "tus",
          Seq("purchase_value"))
        .orderBy("event_id")
    }),

    // Custom physical operator: per-key top-k via TopKPerKeyExec
    // (map-side bounded heaps -> k rows/key/partition over the shuffle)
    "q_topk_perkey" -> ((s, dir) =>
      TopK.perKey(
          Tables(s, dir, "orders").select("o_orderstatus", "o_orderkey", "o_totalprice"),
          Seq("o_orderstatus"),
          Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .orderBy(col("o_orderstatus"), col("o_totalprice").desc, col("o_orderkey"))),

    // Engine catalog: the schema registry as a relation (S2/S3)
    "q_catalog" -> ((s, dir) => {
      import s.implicits._
      Schemas.tables.toSeq.map { case (t, sch) => (t, sch.length) }
        .sortBy(_._1).toDF("table_name", "n_columns")
    }),

    // Daily resample + last-observation-carried-forward per user
    "q_resample_locf" -> ((s, dir) =>
      Resample.dailyLocf(Tables(s, dir, "events"))
        .orderBy("user_id", "day")),

    // Ranking-window family over one window spec
    "q_window_rank" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          rank().over(Window.partitionBy("o_orderstatus")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("rnk"),
          dense_rank().over(Window.partitionBy("o_orderstatus")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("drnk"),
          ntile(4).over(Window.partitionBy("o_orderstatus")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("quartile"),
          cume_dist().over(Window.partitionBy("o_orderstatus")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("cdist"))
        .orderBy("o_orderkey")),

    // FULL OUTER join with unmatched rows on both sides
    "q_outer_join" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"))
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    }),

    // Range join as a hash join: sampled order dates counted against
    // lineitem shipping intervals [shipdate, shipdate + (7*linenumber)%30
    // days] covering them — bucketized equi-join, no nested loop (see
    // graft.operators.RangeJoin)
    "q_range_join" -> ((s, dir) => {
      val pts = Tables(s, dir, "orders").filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
      val ivs = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("l_shipdate"),
          date_add(col("l_shipdate").cast("date"),
            (col("l_linenumber") * 7 % 30).cast("int")).as("l_enddate"))
      val covered = RangeJoin.pointInInterval(pts, ivs,
          "o_orderdate", "l_shipdate", "l_enddate")
        .groupBy("o_orderkey", "o_orderdate").agg(count(lit(1)).as("n_cover"))
      pts.join(covered, Seq("o_orderkey", "o_orderdate"), "left")
        .select(col("o_orderkey"), col("o_orderdate"),
          coalesce(col("n_cover"), lit(0L)).as("n_cover"))
        .orderBy("o_orderkey")
    }),

    // Interval-overlap join (two interval sets) on the same bucketized
    // hash-join scheme — each overlapping pair meets exactly once, in
    // the bucket of its overlap start
    "q_interval_overlap" -> ((s, dir) => {
      val a = Tables(s, dir, "orders").filter(col("o_orderkey") % 499 === 0)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_start"),
          date_add(col("o_orderdate").cast("date"), 14).as("o_end"))
      val b = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("l_start"),
          date_add(col("l_shipdate").cast("date"),
            (col("l_linenumber") * 7 % 30).cast("int")).as("l_end"))
      val overlaps = RangeJoin.intervalOverlap(a, b,
          "o_start", "o_end", "l_start", "l_end")
        .groupBy("o_orderkey", "o_start").agg(count(lit(1)).as("n_overlap"))
      a.join(overlaps, Seq("o_orderkey", "o_start"), "left")
        .select(col("o_orderkey"), col("o_start"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
        .orderBy("o_orderkey")
    }),

    // OLAP grouping sets (explicit set list, vs rollup/cube elsewhere)
    "q_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS STRING) AS qty
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }),

    // Windowed (per-day) exact dedup over events, with planted
    // duplicates — bounded-state dedup for pipelines where a payload
    // reappearing in a later window is a new sample
    "dedup_window" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("props"))
      val aug = e.unionAll(e.filter(col("event_id") % 101 === 0)
        .select((col("event_id") + 10000000).as("event_id"),
          col("ts"), col("event_type"), col("props")))
      Dedup.exactWithin(aug.withColumn("day", to_date(col("ts"))),
          Seq("day"), concat(col("event_type"), lit("|"), col("props")))
        .orderBy("event_id")
    }),

    // Z-order layout statistics: (partkey, suppkey) rank-binned to 9 bits
    // each (the max+1 comes from a single-row broadcast — the lazy-N
    // idiom), interleaved, and rolled up into 64 z-prefix cells, each
    // reporting its bounding rectangle — the file-skipping property a
    // z-ordered rewrite buys. Entirely map-side + one aggregation.
    "q_zorder" -> ((s, dir) => {
      import graft.operators.Layout
      val li = Tables(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      val mx = li.agg((max("l_partkey") + 1).cast("double").as("pmx"),
        (max("l_suppkey") + 1).cast("double").as("smx"))
      val binned = li.crossJoin(broadcast(mx)).select(
        Layout.rankBin(col("l_partkey"), col("pmx"), 9).as("p_bin"),
        Layout.rankBin(col("l_suppkey"), col("smx"), 9).as("s_bin"))
      Layout.zorderStats(binned, "p_bin", "s_bin", cellPow = 3, bits = 9)
        .orderBy("cell")
    }),

    // Column-level profile (nulls / exact distinct / min / max) in ONE
    // aggregation pass over the fact table, unpivoted via stack
    "q_profile" -> ((s, dir) =>
      graft.operators.Profiler.profile(Tables(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
            "l_linestatus", "l_shipdate"))
        .orderBy("col_name")),

    // The routine-monitoring profile: approx_count_distinct folds the
    // distinct branch into the codegen'd scalar pass — no Expand, fully
    // partial-combining. Raw HLL estimates aren't engine-portable, so
    // the gate-able form emits the EXACT stats plus a bounded-relative-
    // error boolean over the estimate (deterministic for fixed data, so
    // it hashes; DuckDB reproduces it as literal true) — the estimate
    // machinery stays exercised AND under the hash gate.
    "q_profile_approx" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_linestatus", "l_shipdate")
      val li = Tables(s, dir, "lineitem")
      val approx = graft.operators.Profiler.profileApprox(li, cols, rsd = 0.02)
        .select(col("col_name"), col("n_distinct").as("nd_approx"))
      graft.operators.Profiler.profile(li, cols)
        .join(approx, Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"),
          // 10% = 5 sigma at rsd 0.02: far above any plausible estimate
          // tail on regenerated data, far below any broken-merge error
          (abs(col("nd_approx").cast("double") - col("n_distinct"))
            / col("n_distinct") <= lit(0.10)).as("approx_ok"))
        .orderBy("col_name")
    }),

    // Incremental MV maintenance: build the aggregate on pre-1997
    // lineitem, refresh with the 1997+ delta — the base is never
    // rescanned; the oracle recomputes the full aggregate, so the
    // refresh identity is under the hash gate.
    "q_mv_refresh" -> ((s, dir) => {
      import MaterializedAgg._
      val li = Tables(s, dir, "lineitem")
      val keys = Seq("l_returnflag", "l_linestatus")
      val ms = Seq(
        Measure("n_rows", lit(1), Count),
        Measure("sum_qty", col("l_quantity").cast(DecimalType(18, 2)), Sum),
        Measure("min_ship", col("l_shipdate"), Min),
        Measure("max_ship", col("l_shipdate"), Max))
      val cut = lit("1997-01-01 00:00:00").cast(TimestampType)
      val mv = aggregate(li.filter(col("l_shipdate") < cut), keys, ms)
      refresh(mv, li.filter(col("l_shipdate") >= cut), keys, ms)
        .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
          col("sum_qty").cast(DecimalType(38, 2)).cast(StringType).as("sum_qty"),
          col("min_ship"), col("max_ship"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // MV with a DISTINCT-COUNT measure: the HLL-sketch column rides the
    // same delta-sized build/merge algebra as the exact sums (register
    // max is algebraic); estimates read out at the view boundary.
    // DuckDB's HLL is a different sketch, so the gate-able output is
    // the exact distinct plus a bounded-relative-error boolean over the
    // sketch estimate (deterministic for fixed data → hashable; the
    // oracle reproduces it as literal true). The build→refresh→read
    // sketch path stays fully exercised: a broken merge flips the
    // boolean and the hash.
    "q_mv_approx" -> ((s, dir) => {
      import MaterializedAgg._
      val ev = Tables(s, dir, "events")
      val keys = Seq("event_type")
      val ms = Seq(
        Measure("n_rows", lit(1), Count),
        Measure("approx_users", col("user_id"), ApproxDistinct))
      val cut = lit("2024-03-01 00:00:00").cast(TimestampType)
      val mv = aggregate(ev.filter(col("ts") < cut), keys, ms)
      val view = readView(refresh(mv, ev.filter(col("ts") >= cut), keys, ms),
        keys, ms)
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"))
      view.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_rows"), col("n_users"),
          // 10% ~ 6 sigma for the lgK=12 DataSketches HLL (~1.6% rse):
          // regeneration-proof, still flips on any real merge defect
          (abs(col("approx_users").cast("double") - col("n_users"))
            / col("n_users") <= lit(0.10)).as("approx_ok"))
        .orderBy("event_type")
    }),

    // Transparent MV routing EXECUTED end to end: the query is written
    // against the base lineitem table; with the view registered and the
    // optimizer rule active it executes as a scan of the stored view —
    // never the base (the helper REQUIRES the base is absent from the
    // executed plan, so this entry fails outright if routing breaks).
    // The DuckDB oracle recomputes from the base, hash-gating the routed
    // execution: count(*), count(col), exact BIGINT sum, max, and the
    // derived avg (stored sum/count substituted into Average's own
    // result expression).
    "q_mv_route" -> ((s, dir) => mvRouted(s, dir) { base =>
      base.groupBy("l_returnflag", "l_linestatus").agg(
          count(lit(1)).as("n_rows"),
          count(col("l_orderkey")).as("n_ok"),
          sum(col("l_orderkey")).as("sum_ok"),
          max(col("l_shipdate")).as("max_ship"),
          avg(col("l_orderkey")).as("avg_ok"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // The roll-up face of the same registration: a coarser grain plus a
    // key-only filter re-aggregates the stored view with the partial-
    // state merge algebra — counts/sums re-sum, max re-maximizes, avg
    // re-derives from re-summed sum/count — still never touching the
    // base table.
    "q_mv_rollup" -> ((s, dir) => mvRouted(s, dir) { base =>
      base.filter(col("l_linestatus") === "F").groupBy("l_returnflag").agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).as("sum_ok"),
          max(col("l_shipdate")).as("max_ship"),
          avg(col("l_orderkey")).as("avg_ok"))
        .orderBy("l_returnflag")
    }),

    // Classic TPC-H Q3 (shipping priority), adapted to the testdata's
    // 1995-2001 date range — the canonical selective-dims 3-way join +
    // top-k-by-revenue shape: filters land before the joins, revenue
    // in exact DECIMAL, top 10 via heap (TakeOrderedAndProject)
    "q_tpch_q3" -> ((s, dir) => {
      val cut = lit("1997-06-01 00:00:00").cast(TimestampType)
      Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(Tables(s, dir, "orders").filter(col("o_orderdate") < cut),
          col("c_custkey") === col("o_custkey"))
        .join(Tables(s, dir, "lineitem").filter(col("l_shipdate") > cut),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 4)).as("rev_exact"))
        .orderBy(col("rev_exact").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("rev_exact").cast(StringType).as("revenue"))
    }),

    // Classic TPC-H Q5 (local supplier volume): the 6-way join with
    // the customer-nation == supplier-nation residual — dims
    // broadcast, the fact side carries one shuffle into the aggregate
    "q_tpch_q5" -> ((s, dir) => {
      val lo = lit("1996-01-01 00:00:00").cast(TimestampType)
      val hi = lit("1998-01-01 00:00:00").cast(TimestampType)
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders")
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("c_custkey") === col("o_custkey"))
        .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(Tables(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 4)).as("rev_exact"))
        .orderBy(col("rev_exact").desc, col("n_name"))
        .select(col("n_name"), col("rev_exact").cast(StringType).as("revenue"))
    }),

    // Classic TPC-H Q10 (returned-item reporting): which customers
    // returned goods in a quarter — 3 dims broadcast into one fact
    // scan, revenue summed in exact DECIMAL (the top-20 order must not
    // depend on float summation order), top 20 via heap
    "q_tpch_q10" -> ((s, dir) => {
      val lo = lit("1997-01-01 00:00:00").cast(TimestampType)
      val hi = lit("1997-04-01 00:00:00").cast(TimestampType)
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders")
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("c_custkey") === col("o_custkey"))
        .join(Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2)))
          .as("rev_exact"))
        .orderBy(col("rev_exact").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"),
          col("rev_exact").cast(DecimalType(38, 4)).cast(StringType).as("revenue"),
          col("c_acctbal"), col("n_name"))
    }),

    // Classic TPC-H Q17 (small-quantity-order revenue), widened to one
    // row per brand: lineitems below 20% of their part's average
    // quantity. The correlated scalar subquery decorrelates into one
    // per-part aggregate joined back to the fact — and the float-free
    // trick makes the threshold EXACT: qty < 0.2 * avg(qty)  ⇔
    // 5 * qty * n < sum(qty) in DECIMAL, so no engine's division
    // rounding can flip a boundary row (the libm-ulp lesson).
    "q_tpch_q17" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val th = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty_sum"),
          count(lit(1)).as("qty_n"))
      li.join(th, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity").cast(DecimalType(18, 2)) * lit(5) * col("qty_n")
          < col("qty_sum"))
        .join(Tables(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand")
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) / lit(7.0))
          .cast(DoubleType).as("avg_yearly"),
          count(lit(1)).as("n_small"))
        .orderBy("p_brand")
    }),

    // Classic TPC-H Q18 (large-volume customers): orders whose total
    // quantity exceeds the cutoff — the IN-subquery over a grouped
    // HAVING becomes one aggregate + semi join; quantity compared in
    // exact DECIMAL; top 100 via heap
    "q_tpch_q18" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey").as("b_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("b_qty"))
        .filter(col("b_qty") > 200)
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("b_orderkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q4 SHAPE (order-priority checking): orders in a quarter
    // having at least one problem line — the correlated EXISTS
    // decorrelates into a LEFT SEMI join on the order key (this schema
    // has no commit/receipt dates, so "problem line" is the returned
    // flag). The semi join keeps the probe side at one row per order
    // regardless of how many lines match — no fan-out, then a
    // tiny-cardinality aggregate.
    "q_tpch_q4" -> ((s, dir) => {
      val lo = lit("1997-01-01 00:00:00").cast(TimestampType)
      val hi = lit("1997-04-01 00:00:00").cast(TimestampType)
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .join(Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
            .select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q21 SHAPE (suppliers who kept orders waiting): the classic
    // EXISTS + NOT EXISTS correlated pair with MULTI-CONDITION
    // self-joins — l2/l3 correlate on the order key AND a supplier
    // inequality, so they cannot collapse to a plain key semi join.
    // Decorrelation: EXISTS → LEFT SEMI with the compound condition,
    // NOT EXISTS → LEFT ANTI with the compound condition, both over the
    // same (bucketable) l_orderkey shuffle key; the inequality rides as
    // a join residual, never a fan-out. Supplier+nation broadcast.
    "q_tpch_q21" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
      val late = li.filter(col("l_returnflag") === "R")
      val l2 = li.select(col("l_orderkey").as("l2_orderkey"),
        col("l_suppkey").as("l2_suppkey"))
      val l3 = late.select(col("l_orderkey").as("l3_orderkey"),
        col("l_suppkey").as("l3_suppkey"))
      late
        .join(Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(l2, col("l2_orderkey") === col("l_orderkey") &&
          col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l3_orderkey") === col("l_orderkey") &&
          col("l3_suppkey") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(Tables(s, dir, "supplier")
            .join(broadcast(Tables(s, dir, "nation")
                .filter(col("n_name") === "NATION_9")),
              col("s_nationkey") === col("n_nationkey"))
            .select("s_suppkey", "s_name")),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // Incremental QUANTILES: a histogram view at (key × price bucket)
    // is a plain count MV — built on pre-1997 orders, refreshed with
    // the 1997+ delta (base never rescanned), p50/p90/p99 read out of
    // the stored buckets. Exact at bucket resolution, deterministic;
    // the oracle recomputes from the whole table, so the refresh
    // identity AND the rank arithmetic sit under the hash gate.
    "q_mv_quantile" -> ((s, dir) => {
      import MaterializedAgg._
      val o = Tables(s, dir, "orders")
      val keys = Seq("o_orderstatus")
      val width = 10000L
      val cut = lit("1997-01-01 00:00:00").cast(TimestampType)
      val ms = Seq(Measure("n", lit(1), Count))
      val mv = quantileView(o.filter(col("o_orderdate") < cut), keys,
        "o_totalprice", width)
      val refreshed = refresh(mv,
        o.filter(col("o_orderdate") >= cut)
          .withColumn("bucket", bucketize(col("o_totalprice"), width)),
        keys :+ "bucket", ms)
      readQuantiles(refreshed, keys, Seq(0.5, 0.9, 0.99))
        .orderBy("o_orderstatus")
    }),

    // k-anonymity / l-diversity release audit over orders: QI =
    // (customer band, order month, status), sensitive = order priority.
    // One aggregation pass; both guarantee verdicts per QI group.
    "q_privacy" -> ((s, dir) => {
      import graft.operators.Privacy
      val o = Tables(s, dir, "orders").select(
        Privacy.band(col("o_custkey"), 100L).as("cust_band"),
        date_trunc("month", col("o_orderdate")).as("order_month"),
        col("o_orderstatus"), col("o_orderpriority"))
      Privacy.anonymityAudit(o, Seq("cust_band", "order_month", "o_orderstatus"),
          "o_orderpriority", k = 5, l = 2)
        .orderBy("cust_band", "order_month", "o_orderstatus")
    }),

    // The enforcement face: suppression keeps only rows whose QI group
    // clears BOTH guarantees — one window over the QI key
    "q_anonymize" -> ((s, dir) => {
      import graft.operators.Privacy
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey"),
        Privacy.band(col("o_custkey"), 100L).as("cust_band"),
        date_trunc("month", col("o_orderdate")).as("order_month"),
        col("o_orderstatus"), col("o_orderpriority"))
      Privacy.anonymize(o, Seq("cust_band", "order_month", "o_orderstatus"),
          "o_orderpriority", k = 5, l = 2)
        .select("o_orderkey", "cust_band", "order_month", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // Record linkage end to end: supplier records keyed by a synthetic
    // identifier-bearing name (a hex fingerprint — realistic for
    // system-generated ids, and trigram blocking stays near-linear on
    // it: no stop-grams), plus seeded one-deletion variants (two per
    // ninth supplier, so some entities have three members grouped only
    // transitively). resolve() = fuzzy pairs -> connected components ->
    // golden record; the oracle mirrors the whole construction
    // relationally (trigram block, levenshtein, recursive-CTE
    // components, window golden pick).
    "q_linkage" -> ((s, dir) => {
      val base = Tables(s, dir, "supplier").select(
        col("s_suppkey").as("id"),
        expr("substring(md5(cast(s_suppkey as string)), 1, 16)").as("name"))
      def variant(offset: Long, posMod: Int, everyNth: Int) =
        base.filter(col("id") % everyNth === 0).select(
          (col("id") + offset).as("id"),
          expr(s"""concat(substring(name, 1, cast(id % $posMod as int)),
                   substring(name, cast(id % $posMod as int) + 2, 100))""")
            .as("name"))
      val recs = base
        .unionAll(variant(100000L, 10, 3))
        .unionAll(variant(200000L, 7, 9))
      graft.operators.RecordLinkage.resolve(recs, "id", "name", maxDist = 2)
        .orderBy("id")
    }),

    // Z-order layout + file-skipping scan, the write-side and read-side
    // halves of the data-skipping story executed together: lineitem
    // z-ordered on (l_partkey, l_suppkey) into 16 files; the range
    // predicate on both dimensions is resolved at PLANNING time against
    // the commit-time stats sidecar, so non-matching files never become
    // tasks. The entry REQUIRES files were pruned (fails outright if
    // skipping breaks); the DuckDB oracle recomputes from the raw
    // table, hash-gating the pruned scan's correctness.
    "q_skip_scan" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val out = java.nio.file.Files.createTempDirectory("graft-zorder")
        .toString + "/lineitem"
      graft.operators.Layout.writeZOrdered(
        li.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_returnflag"),
        out, "l_partkey", "l_suppkey", files = 16, bits = 15)
      graft.sources.DataSkipping.writeSidecar(s, out)
      val (skip, idx) = graft.sources.DataSkipping.readWithIndex(
        s, s.read.parquet(out).schema, Seq(out))
      val res = skip
        .filter(col("l_partkey") <= 120L && col("l_suppkey") <= 8L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .orderBy("l_returnflag")
      val rowsArr = res.collect()
      require(idx.lastSelected < idx.lastTotal,
        s"file skipping did not prune: ${idx.lastSelected}/${idx.lastTotal}")
      s.createDataFrame(java.util.Arrays.asList(rowsArr: _*), res.schema)
    }),

    // Parquet AGGREGATE pushdown — COUNT/MIN/MAX answered from footer
    // metadata through the DSv2 scan: zero data pages read, so the
    // cost at 100 TB is one footer per file instead of a full scan.
    // The entry REQUIRES the plan carries PushedAggregation (fails
    // loudly if the pushdown regresses into a real scan); configs are
    // scoped and restored. The oracle recomputes the aggregates the
    // ordinary way — footer stats lying about data would flip the hash.
    "q_meta_agg" -> ((s, dir) => {
      val prevV1 = s.conf.get("spark.sql.sources.useV1SourceList")
      val prevPd = s.conf.get("spark.sql.parquet.aggregatePushdown", "false")
      s.conf.set("spark.sql.sources.useV1SourceList", "")
      s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      try {
        val df = s.read.parquet(s"$dir/lineitem.parquet")
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
            min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("PushedAggregation"),
          "parquet aggregate pushdown did not engage:\n" + plan)
        val rowsArr = df.collect()
        s.createDataFrame(java.util.Arrays.asList(rowsArr: _*), df.schema)
      } finally {
        s.conf.set("spark.sql.sources.useV1SourceList", prevV1)
        s.conf.set("spark.sql.parquet.aggregatePushdown", prevPd)
      }
    }),

    // Bloom-filter file skipping — the point-lookup regime where
    // min/max stats are powerless: customer hash-scattered into 16
    // files on c_name, so every file's [c_custkey min, max] spans
    // nearly the whole key domain and a key lookup keeps all of them.
    // The per-file Bloom sidecar (deterministic md5 geometry, no false
    // negatives) refutes the non-containing files at PLANNING time.
    // The entry REQUIRES the bloom index pruned strictly more files
    // than the stats-only control on the same predicate; the DuckDB
    // oracle recomputes from the raw table, hash-gating the pruned
    // read's correctness.
    "q_bloom_skip" -> ((s, dir) => {
      import graft.sources.DataSkipping
      val out = java.nio.file.Files.createTempDirectory("graft-bloomskip")
        .toString + "/customer"
      Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .repartition(16, col("c_name"))
        .write.parquet(out)
      DataSkipping.writeSidecar(s, out)
      val schema = s.read.parquet(out).schema
      val keys = Seq(7L, 42L, 101L, 999999937L) // last absent at every SF
      val pred = col("c_custkey").isin(keys: _*)
      val (statsOnly, statsIdx) = DataSkipping.readWithIndex(s, schema, Seq(out))
      statsOnly.filter(pred).collect()
      DataSkipping.writeBloomSidecar(s, out, Seq("c_custkey"))
      val (skip, idx) = DataSkipping.readWithIndex(s, schema, Seq(out))
      val res = skip.filter(pred).orderBy("c_custkey")
      val rowsArr = res.collect()
      require(idx.lastSelected < statsIdx.lastSelected,
        s"bloom skipping did not beat stats: ${idx.lastSelected} vs " +
          s"${statsIdx.lastSelected} of ${idx.lastTotal} files")
      s.createDataFrame(java.util.Arrays.asList(rowsArr: _*), res.schema)
    }),

    // Declarative data-quality audit over orders with seeded violations
    // (dup keys, null FKs, negative prices, dangling FKs) — row rules in
    // one aggregation pass, unique via groupBy, FK via left-anti
    "q_dq_audit" -> ((s, dir) => {
      import graft.operators.DataQuality._
      val o = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val aug = o
        .unionAll(o.filter(col("o_orderkey") % 97 === 0))
        .unionAll(o.filter(col("o_orderkey") % 89 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit(null).cast(LongType).as("o_custkey"),
            col("o_totalprice"), col("o_orderdate")))
        .unionAll(o.filter(col("o_orderkey") % 83 === 0)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            col("o_custkey"), (-col("o_totalprice")).as("o_totalprice"),
            col("o_orderdate")))
        .unionAll(o.filter(col("o_orderkey") % 79 === 0)
          .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
            (col("o_custkey") + 9000000L).as("o_custkey"),
            col("o_totalprice"), col("o_orderdate")))
      audit(aug, Seq(
          Unique("orderkey_unique", Seq("o_orderkey")),
          NotNull("custkey_not_null", "o_custkey"),
          Check("price_non_negative", col("o_totalprice") >= 0),
          ForeignKey("custkey_fk", Seq("o_custkey"),
            Tables(s, dir, "customer"), Seq("c_custkey"))))
        .orderBy("rule_name")
    }),

    // Trigram-blocked fuzzy join: supplier names with a deterministic
    // one-character deletion (%3 keys, position keyed by %10) matched
    // back to the originals at edit distance <= 2
    "q_fuzzy_join" -> ((s, dir) => {
      val sup = Tables(s, dir, "supplier")
      val typo = sup.select(col("s_suppkey").as("l_id"),
        when(col("s_suppkey") % 3 === 0,
          expr("""concat(substring(s_name, 1, CAST(s_suppkey % 10 AS INT)),
                         substring(s_name, CAST(s_suppkey % 10 AS INT) + 2, 100))"""))
          .otherwise(col("s_name")).as("l_name"))
      val orig = sup.select(col("s_suppkey").as("r_id"), col("s_name").as("r_name"))
      graft.operators.FuzzyJoin.trigramBlocked(
          typo, orig, "l_id", "l_name", "r_id", "r_name", maxDist = 2)
        .orderBy("l_id", "r_id")
    }),

    // Same match under the STOP-GRAM cap: supplier names share the hot
    // "Supplier#0…" head, whose grams have df ≈ 2N and generate almost
    // all candidate volume; capping df ≤ 40 drops them and the match
    // rides the distinguishing digit-tail grams. The oracle replays the
    // cap relationally, so the pruned candidate set itself is verified.
    "q_serving" -> ((s, dir) => servingStack(s, dir)),

    "q_mv_delta" -> ((s, dir) => mvDelta(s, dir)),

    "q_fuzzy_cap" -> ((s, dir) => {
      val sup = Tables(s, dir, "supplier")
      val typo = sup.select(col("s_suppkey").as("l_id"),
        when(col("s_suppkey") % 3 === 0,
          expr("""concat(substring(s_name, 1, CAST(s_suppkey % 10 AS INT)),
                         substring(s_name, CAST(s_suppkey % 10 AS INT) + 2, 100))"""))
          .otherwise(col("s_name")).as("l_name"))
      val orig = sup.select(col("s_suppkey").as("r_id"), col("s_name").as("r_name"))
      graft.operators.FuzzyJoin.trigramBlocked(
          typo, orig, "l_id", "l_name", "r_id", "r_name", maxDist = 2,
          maxGramDf = Some(40))
        .orderBy("l_id", "r_id")
    }),

    // DELETION VECTORS under the hash gate: customer lands in a
    // throwaway warehouse, a vectored delete tombstones ~10% of keys —
    // REQUIRE'd to leave the data dir untouched (merge-on-read, no
    // rewrite) — and the readback goes through the broadcast anti-join
    // every entry point applies. The oracle recomputes the survivors
    // from raw customer, so the tombstone identity (full file path +
    // row position) and its application are what the hash certifies.
    "q_dv_delete" -> ((s, dir) => {
      import graft.etl.Warehouse
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val wh = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-dv").toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val t0 = wh.begin(); t0.overwrite("cust", c); t0.commit()
      val dataDir = wh.catalog()("cust").head
      val t1 = wh.begin()
      t1.deleteVectored("cust", col("c_custkey") % 10 === 3)
      t1.commit()
      require(wh.catalog()("cust").head == dataDir,
        "vectored delete must not rewrite the data dir")
      wh.read("cust").orderBy("c_custkey")
    }),

    // Generic MERGE INTO under the hash gate: ordered matched clauses
    // (conditional DELETE, then UPDATE), insert-with-override, driven
    // through the BUCKET-PRUNED path (REQUIRE'd) against a throwaway
    // bucketed warehouse. The oracle reconstructs the clause dispatch
    // relationally, so clause ordering, the delete filter, and the
    // bucket-pruned rewrite's content all sit under the hash.
    "q_merge_into" -> ((s, dir) => {
      import graft.etl.{Merge, Warehouse}
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val wh = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-merge").toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val t0 = wh.begin(); t0.overwrite("cust", c); t0.commit()
      val src = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"))
        .unionAll(c.filter(col("c_custkey") % 5 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
            col("c_acctbal"), col("c_mktsegment")))
      val t1 = wh.begin()
      val touched = Merge.into(t1, "cust", src, Seq("c_custkey"),
        whenMatched = Seq(
          Merge.Delete(condition = Some(col("t.c_mktsegment") === "BUILDING")),
          Merge.Update(Map("c_acctbal" -> col("s.c_acctbal")))),
        whenNotMatched = Seq(
          Merge.Insert(set = Map("c_mktsegment" -> lit("NEW")))))
      t1.commit()
      require(touched >= 0, "expected the bucket-pruned merge path")
      wh.read("cust").orderBy("c_custkey")
    }),

    // Deletion vectors × TIME TRAVEL under the hash gate: after a
    // vectored delete commits, the PRE-delete version must read whole
    // (its catalog carries no DV entry) while the current version reads
    // the survivors — both images emitted, version-tagged, from the
    // same warehouse. Certifies the DV set is part of the snapshot, not
    // session state.
    "q_dv_asof" -> ((s, dir) => {
      import graft.etl.Warehouse
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val wh = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-dvtt").toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val t0 = wh.begin(); t0.overwrite("cust", c); t0.commit()
      val v1 = wh.versions().last
      val t1 = wh.begin()
      t1.deleteVectored("cust", col("c_custkey") % 10 === 3)
      t1.commit()
      wh.readAsOf("cust", v1).withColumn("ver", lit("v1"))
        .unionAll(wh.read("cust").withColumn("ver", lit("v2")))
        .orderBy("ver", "c_custkey")
    }),

    // Change-data-feed read between two committed versions: v2 deletes
    // custkey%10==3, bumps acctbal for %7==0, and inserts key-shifted
    // copies of %13==0 — the diff classifies each key as insert /
    // delete / update_pre+update_post from ONE full-outer key join
    // over the two time-travel reads (see etl.ChangeFeed). The oracle
    // recomputes both images and the same classification relationally.
    "q_table_diff" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val wh = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-cdf").toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val t0 = wh.begin(); t0.overwrite("cust", c); t0.commit()
      val vA = wh.versions().last
      val t1 = wh.begin(); t1.overwrite("cust", v2); t1.commit()
      val vB = wh.versions().last
      ChangeFeed.tableChanges(wh, "cust", vA, vB, Seq("c_custkey"))
        .orderBy("c_custkey", "change_type")
    }),

    // The CDF CONSUMER pattern: maintain a downstream aggregate from
    // the change feed instead of re-scanning the snapshot — the pre/
    // post pair subtracts the old contribution and adds the new one
    // (exact: DECIMAL sums), inserts add, deletes subtract; a segment
    // move nets out naturally (pre row debits the old segment, post row
    // credits the new). The oracle recomputes the aggregate DIRECTLY
    // from the v2 image, so the hash gate certifies base ⊕ delta ==
    // recompute — the whole point of a change feed at 100 TB.
    "q_cdf_apply" -> ((s, dir) => {
      import graft.etl.ChangeFeed
      val D = DecimalType(18, 2)
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val changes = ChangeFeed.diff(c, cdfV2(c), Seq("c_custkey"))
      val sign = when(col("change_type").isin("insert", "update_post"),
        lit(1)).otherwise(lit(-1))
      val base = c.groupBy("c_mktsegment").agg(
        count(lit(1)).as("dn"),
        sum(col("c_acctbal").cast(D)).cast(DecimalType(38, 2)).as("db"))
      val delta = changes.groupBy("c_mktsegment").agg(
        sum(sign).as("dn"),
        sum(col("c_acctbal").cast(D) * sign).cast(DecimalType(38, 2)).as("db"))
      base.unionByName(delta)
        .groupBy("c_mktsegment")
        .agg(sum(col("dn")).cast(LongType).as("n_cust"),
          sum(col("db")).cast(DecimalType(38, 2)).cast(StringType)
            .as("total_bal"))
        // a segment whose every customer was deleted nets to an
        // n_cust=0 row here but has NO group in the direct recompute —
        // drop it to match the recompute semantics
        .filter(col("n_cust") =!= 0)
        .orderBy("c_mktsegment")
    }),

    // Streaming ingestion end-to-end under the hash gate: the events
    // stream lands in a bucketed fact table via per-batch atomic
    // append commits (in-batch dedup, Bloom-pruned against-table
    // anti-join), then the stream is driven AGAIN with a fresh
    // checkpoint — the redelivery every at-least-once source will
    // eventually produce. The oracle is plain events, so any duplicate
    // or loss from either run breaks the hash.
    "q_stream_ingest" -> ((s, dir) => {
      import graft.etl.Warehouse
      import graft.streaming.StreamingOps
      val ev = Tables(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val wh = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-ing").toString,
        Map("fact" -> ev.schema),
        partitionSpec = Map.empty,
        bucketSpec = Map("fact" -> ("event_id", 8)))
      val srcDir = java.nio.file.Files.createTempDirectory("graft-ing-src").toString
      ev.coalesce(1).write.mode("overwrite").parquet(srcDir)
      def run(): Unit = StreamingOps.streamingFactIngest(s, wh, srcDir,
        ev.schema, "fact", "event_id",
        java.nio.file.Files.createTempDirectory("graft-ing-ckpt").toString)
        .awaitTermination()
      run(); run() // second run = full redelivery (fresh checkpoint)
      wh.read("fact").orderBy("event_id")
    }),

    // STREAMING CDC tail, consumer-harness form: three committed
    // versions of the customer dim, the change log materialized once
    // (ChangeFeed.materializeLog — churn-sized parquet, one batch of
    // rows per transition), then a STREAMING aggregation over the log
    // folds the feed into signed per-segment deltas; the result is
    // base ⊕ deltas. The oracle recomputes the aggregate directly from
    // the FINAL (v3) image, so the hash gate certifies the whole
    // chain: commit-time log materialization, file-source tail,
    // streaming delta algebra across TWO transitions.
    "q_stream_cdf" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      import graft.streaming.StreamingOps
      val D = DecimalType(18, 2)
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val v3 = cdfV3(v2)
      val wh = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-scdf").toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      Seq(c, v2, v3).foreach { img =>
        val t = wh.begin(); t.overwrite("cust", img); t.commit()
      }
      val logDir =
        java.nio.file.Files.createTempDirectory("graft-scdf-log").toString
      ChangeFeed.materializeLog(wh, "cust", Seq("c_custkey"), logDir)
      val sign = when(col("change_type").isin("insert", "update_post"),
        lit(1)).otherwise(lit(-1))
      val deltas = StreamingOps.changeFeedDeltas(s, logDir,
        ChangeFeed.logSchema(c.schema, Seq("c_custkey")),
        Seq("c_mktsegment"),
        Seq(sum(sign).as("dn"),
          sum(col("c_acctbal").cast(D) * sign).cast(DecimalType(38, 2)).as("db")),
        java.nio.file.Files.createTempDirectory("graft-scdf-ckpt").toString)
      val base = c.groupBy("c_mktsegment").agg(
        count(lit(1)).as("dn"),
        sum(col("c_acctbal").cast(D)).cast(DecimalType(38, 2)).as("db"))
      base.unionByName(deltas)
        .groupBy("c_mktsegment")
        .agg(sum(col("dn")).cast(LongType).as("n_cust"),
          sum(col("db")).cast(DecimalType(38, 2)).cast(StringType)
            .as("total_bal"))
        .filter(col("n_cust") =!= 0)
        .orderBy("c_mktsegment")
    }),

    // STREAMING CDC, production-replica form: the same 3-version
    // source feeds StreamingOps.changeFeedReplica — per micro-batch,
    // per logged version, one bucket-pruned MERGE into a SECOND
    // warehouse seeded with the v1 image, all of a batch's versions in
    // one atomic commit. Output is the replica's final image; the
    // oracle recomputes that image from raw customer, so the hash
    // certifies churn-cost streamed replication end to end.
    "q_stream_replica" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      import graft.streaming.StreamingOps
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val v3 = cdfV3(v2)
      def mkWh(tag: String) = new Warehouse(s,
        java.nio.file.Files.createTempDirectory(tag).toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val src = mkWh("graft-srep-src")
      Seq(c, v2, v3).foreach { img =>
        val t = src.begin(); t.overwrite("cust", img); t.commit()
      }
      val logDir =
        java.nio.file.Files.createTempDirectory("graft-srep-log").toString
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      val replica = mkWh("graft-srep-dst")
      val t0 = replica.begin(); t0.overwrite("cust", c); t0.commit()
      StreamingOps.changeFeedReplica(s, replica, "cust", Seq("c_custkey"),
        logDir,
        java.nio.file.Files.createTempDirectory("graft-srep-ckpt").toString)
      replica.read("cust").orderBy("c_custkey")
    }),

    // CDC RETENTION, e2e: the replica drains the 2-transition log,
    // vacuumLog reclaims the applied prefix in place (the high-water
    // transition survives; asserted in-entry), then a FOURTH commit
    // restores the original customer image and an incremental catch-up
    // + drain on the SAME checkpoint folds only the new transition.
    // Output is the replica's final image; the oracle is the raw
    // customer table — the hash certifies that vacuuming dead history
    // perturbs nothing the consumer still needs.
    "q_cdf_vacuum" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      import graft.streaming.StreamingOps
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val v3 = cdfV3(v2)
      def mkWh(tag: String) = new Warehouse(s,
        java.nio.file.Files.createTempDirectory(tag).toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val src = mkWh("graft-vac-src")
      Seq(c, v2, v3).foreach { img =>
        val t = src.begin(); t.overwrite("cust", img); t.commit()
      }
      val logDir =
        java.nio.file.Files.createTempDirectory("graft-vac-log").toString
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      val replica = mkWh("graft-vac-dst")
      locally { val t = replica.begin(); t.overwrite("cust", c); t.commit() }
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-vac-ckpt").toString
      StreamingOps.changeFeedReplica(s, replica, "cust", Seq("c_custkey"),
        logDir, ckpt) // replica = v3; consumer watermark = the log max
      val vs = ChangeFeed.loggedVersions(logDir)
      val deleted = ChangeFeed.vacuumLog(logDir, vs.head,
        minConsumerApplied = vs.last)
      require(deleted == Seq(vs.head) &&
        ChangeFeed.loggedVersions(logDir) == Seq(vs.last),
        "vacuum must reclaim exactly the applied prefix")
      // full circle: restore the original image, log it, drain it
      locally { val t = src.begin(); t.overwrite("cust", c); t.commit() }
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      StreamingOps.changeFeedReplica(s, replica, "cust", Seq("c_custkey"),
        logDir, ckpt)
      replica.read("cust").orderBy("c_custkey")
    }),

    // CDC RETENTION POLICY, e2e: TWO consumers at different frontiers
    // — a streaming replica that drained the whole 2-transition log
    // (checkpoint frontier = v3) and a group replica capped at v2
    // (transaction id = v2). ChangeFeed.retention computes the safe
    // horizon from what each committed (commits/ + sources file log;
    // the replica's transaction id) as min(v3, v2): the first pass
    // reclaims exactly the v2 transition and the slow consumer still
    // converges from what survived; with both at v3 the second pass
    // reclaims nothing (the high-water transition always survives).
    // Output is the previously-slow replica's final image; the oracle
    // recomputes the v3 image directly — the hash certifies
    // frontier-driven retention never outran its slowest consumer.
    "q_cdf_retention" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      import graft.streaming.StreamingOps
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val v3 = cdfV3(v2)
      def mkWh(tag: String) = new Warehouse(s,
        java.nio.file.Files.createTempDirectory(tag).toString,
        Map("cust" -> c.schema),
        partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val src = mkWh("graft-ret-src")
      Seq(c, v2, v3).foreach { img =>
        val t = src.begin(); t.overwrite("cust", img); t.commit()
      }
      val logDir =
        java.nio.file.Files.createTempDirectory("graft-ret-log").toString
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      val Seq(_, ver2, ver3) = src.versions()
      // fast consumer: streaming replica, drains everything
      val fast = mkWh("graft-ret-fast")
      locally { val t = fast.begin(); t.overwrite("cust", c); t.commit() }
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-ret-ckpt").toString
      StreamingOps.changeFeedReplica(s, fast, "cust", Seq("c_custkey"),
        logDir, ckpt)
      // slow consumer: group replica capped at v2
      val slow = mkWh("graft-ret-slow")
      locally { val t = slow.begin(); t.overwrite("cust", c); t.commit() }
      val group = Seq(ChangeFeed.GroupTable("cust", Seq("c_custkey"), logDir))
      ChangeFeed.replicateGroup(slow, group, throughVersion = Some(ver2))
      val consumers = Seq(ChangeFeed.CheckpointFrontier(ckpt, logDir),
        ChangeFeed.ReplicaFrontier(slow, "cust"))
      require(ChangeFeed.CheckpointFrontier(ckpt, logDir).frontier() == ver3 &&
        ChangeFeed.ReplicaFrontier(slow, "cust").frontier() == ver2,
        "frontiers must read v3 (drained checkpoint) and v2 (capped replica)")
      require(ChangeFeed.retention(logDir, consumers) == Seq(ver2),
        "retention must reclaim exactly the prefix below the slow consumer")
      require(ChangeFeed.loggedVersions(logDir) == Seq(ver3),
        "the undrained tail and high-water transition must survive")
      ChangeFeed.replicateGroup(slow, group) // catch up from survivors
      require(ChangeFeed.retention(logDir, consumers).isEmpty,
        "with every frontier at the mark, only the immortal high-water dir remains")
      slow.read("cust").orderBy("c_custkey")
    }),

    // RETENTION IN THE CONSUME LOOP (r12): changeFeedReplicaRetained
    // vacuums the log's dead prefix after every applied micro-batch —
    // GC is continuous, not an operational ritual. The replay is
    // multi-commit (v1→v2→v3→back-to-v1) across two drain calls on one
    // checkpoint, with a GROUP-REPLICA PEER registered: drain 1 reclaims
    // the v2 transition (peer's transaction id proves it applied), drain
    // 2 reclaims v3 WHILE draining v4 — the log shrinks under the live
    // stream and the replica still converges. Output is the replica's
    // final image; the oracle is the raw customer table (the
    // full-circle v4 image) — the hash certifies in-loop GC never ate a
    // consumer's future input.
    "q_stream_retention" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      import graft.streaming.StreamingOps
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val v3 = cdfV3(v2)
      def mkWh(tag: String) = new Warehouse(s,
        java.nio.file.Files.createTempDirectory(tag).toString,
        Map("cust" -> c.schema),
        partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      val src = mkWh("graft-sret-src")
      Seq(c, v2, v3).foreach { img =>
        val t = src.begin(); t.overwrite("cust", img); t.commit()
      }
      val logDir =
        java.nio.file.Files.createTempDirectory("graft-sret-log").toString
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      val Seq(_, ver2, ver3) = src.versions()
      // group-replica peer, caught up through v2 before the stream starts
      val peerWh = mkWh("graft-sret-peer")
      locally { val t = peerWh.begin(); t.overwrite("cust", c); t.commit() }
      val group = Seq(ChangeFeed.GroupTable("cust", Seq("c_custkey"), logDir))
      ChangeFeed.replicateGroup(peerWh, group, throughVersion = Some(ver2))
      val peer = ChangeFeed.ReplicaFrontier(peerWh, "cust")
      // streaming replica, retention wired into its loop
      val rep = mkWh("graft-sret-rep")
      locally { val t = rep.begin(); t.overwrite("cust", c); t.commit() }
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-sret-ckpt").toString
      val gc1 = StreamingOps.changeFeedReplicaRetained(s, rep, "cust",
        Seq("c_custkey"), logDir, ckpt, Seq(peer))
      require(gc1 == Seq(ver2) &&
          ChangeFeed.loggedVersions(logDir) == Seq(ver3),
        s"drain 1 must GC exactly the peer-applied v2 prefix, got $gc1")
      // full circle: restore the original image, catch the peer up from
      // the GC'd log, then drain again — the in-batch retention pass
      // reclaims v3 while the stream applies v4
      locally { val t = src.begin(); t.overwrite("cust", c); t.commit() }
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      val ver4 = src.versions().last
      ChangeFeed.replicateGroup(peerWh, group)
      val gc2 = StreamingOps.changeFeedReplicaRetained(s, rep, "cust",
        Seq("c_custkey"), logDir, ckpt, Seq(peer))
      require(gc2 == Seq(ver3) &&
          ChangeFeed.loggedVersions(logDir) == Seq(ver4),
        s"drain 2 must GC v3 while draining v4, got $gc2")
      rep.read("cust").orderBy("c_custkey")
    }),

    // STREAMING CDC, historized form: the same 3-version source feeds
    // StreamingOps.changeFeedScd2 — per logged version, one
    // bucket-pruned delta-apply (Scd2.applyChangesWarehouse) into a
    // two-table SCD2 history seeded from the v1 image, versions
    // timestamped t1<t2<t3. The oracle recomputes the history as two
    // full-snapshot SCD2 merges, so the hash certifies the
    // delta-apply ≡ snapshot-merge equivalence riding the streamed
    // change log end to end.
    "q_stream_scd2" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Scd2, Warehouse}
      import graft.streaming.StreamingOps
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val v3 = cdfV3(v2)
      val src = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-s2-src").toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      Seq(c, v2, v3).foreach { img =>
        val t = src.begin(); t.overwrite("cust", img); t.commit()
      }
      val logDir =
        java.nio.file.Files.createTempDirectory("graft-s2-log").toString
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      val ts = (1 to 3).map(d =>
        java.sql.Timestamp.valueOf(s"2024-01-0$d 00:00:00"))
      val verTs: Map[Long, java.sql.Timestamp] =
        src.versions().sorted.zip(ts).toMap
      val curSchema = StructType(c.schema.fields :+
        StructField("valid_from", TimestampType))
      val cloSchema = StructType(curSchema.fields :+
        StructField("valid_to", TimestampType))
      val hist = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-s2-hist").toString,
        Map("cur" -> curSchema, "clo" -> cloSchema),
        partitionSpec = Map.empty,
        bucketSpec = Map("cur" -> ("c_custkey", 8)))
      val t0 = hist.begin()
      t0.overwrite("cur", c.withColumn("valid_from", lit(ts.head)))
      t0.commit()
      StreamingOps.changeFeedScd2(s, hist, "cur", "clo", c.schema,
        Seq("c_custkey"), Seq("c_name", "c_acctbal", "c_mktsegment"),
        logDir, verTs,
        java.nio.file.Files.createTempDirectory("graft-s2-ckpt").toString)
      Scd2.readHistory(hist, "cur", "clo")
        .orderBy("c_custkey", "valid_from")
    }),

    // CDC LOG COMPACTION: the 3-version change log folded into ONE
    // net transition (ChangeFeed.netChanges — one hash aggregation,
    // no join) written as a new-consumer bootstrap log. The oracle
    // recomputes the net diff directly from the first and final
    // images, so the hash certifies the fold algebra: chained updates
    // collapse, insert-then-update collapses to one insert,
    // round-tripped values vanish entirely.
    "q_cdf_compact" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = cdfV2(c)
      val v3 = cdfV3(v2)
      val src = new Warehouse(s,
        java.nio.file.Files.createTempDirectory("graft-cpt-src").toString,
        Map("cust" -> c.schema), partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8)))
      Seq(c, v2, v3).foreach { img =>
        val t = src.begin(); t.overwrite("cust", img); t.commit()
      }
      val logDir =
        java.nio.file.Files.createTempDirectory("graft-cpt-log").toString
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), logDir)
      val sch = ChangeFeed.logSchema(c.schema, Seq("c_custkey"))
      val compDir = java.nio.file.Files
        .createTempDirectory("graft-cpt-out").toString + "/log"
      ChangeFeed.compactLog(s, logDir, compDir, sch, Seq("c_custkey"),
        src.versions().max)
      s.read.schema(sch).parquet(ChangeFeed.logGlob(compDir))
        .drop("_commit_version")
        .orderBy("c_custkey", "change_type")
    }),

    // MULTI-TABLE consistent replication: customer + orders mutate
    // together across three commits (a customer leaves WITH its
    // orders; new customers arrive WITH theirs), both change logs
    // replicate through ChangeFeed.replicateGroup — every table's net
    // delta plus its applied log version in ONE replica
    // transaction. Output is the replica-side orders LEFT JOIN
    // customers: an orphaned foreign key (the thing independent
    // per-table replicas can leak) would surface as a null-padded row
    // and fail the hash against the oracle's consistent v3 recompute.
    "q_replica_group" -> ((s, dir) => {
      import graft.etl.{ChangeFeed, Warehouse}
      val c0 = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val o0 = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 5 === 0)
      val c2 = c0.filter(col("c_custkey") % 10 =!= 3)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      val o2 = o0.join(c2.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      val c3 = c2.unionAll(c0.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + 30000000L))
      val o3 = o2.withColumn("o_totalprice",
          when(col("o_orderkey") % 9 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionAll(o0
          .filter(col("o_custkey") % 13 === 0 && col("o_orderkey") % 3 === 0)
          .select((col("o_orderkey") + 60000000L).as("o_orderkey"),
            (col("o_custkey") + 30000000L).as("o_custkey"),
            col("o_totalprice")))
      def mkWh(tag: String) = new Warehouse(s,
        java.nio.file.Files.createTempDirectory(tag).toString,
        Map("cust" -> c0.schema, "ord" -> o0.schema),
        partitionSpec = Map.empty,
        bucketSpec = Map("cust" -> ("c_custkey", 8),
          "ord" -> ("o_orderkey", 8)))
      val src = mkWh("graft-rg-src")
      Seq((c0, o0), (c2, o2), (c3, o3)).foreach { case (c, o) =>
        val t = src.begin()
        t.overwrite("cust", c); t.overwrite("ord", o); t.commit()
      }
      val cLog = java.nio.file.Files.createTempDirectory("graft-rg-cl").toString
      val oLog = java.nio.file.Files.createTempDirectory("graft-rg-ol").toString
      ChangeFeed.materializeLog(src, "cust", Seq("c_custkey"), cLog)
      ChangeFeed.materializeLog(src, "ord", Seq("o_orderkey"), oLog)
      val replica = mkWh("graft-rg-dst")
      locally {
        val t = replica.begin()
        t.overwrite("cust", c0); t.overwrite("ord", o0); t.commit()
      }
      ChangeFeed.replicateGroup(replica,
        Seq(ChangeFeed.GroupTable("cust", Seq("c_custkey"), cLog),
          ChangeFeed.GroupTable("ord", Seq("o_orderkey"), oLog)))
      replica.read("ord").join(replica.read("cust"),
          col("o_custkey") === col("c_custkey"), "left")
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "c_name", "c_acctbal")
        .orderBy("o_orderkey")
    }))

  /** Register a (l_returnflag, l_linestatus) MV over lineitem, run the
    * query with [[graft.plans.MvRewrite]] active, REQUIRE that the
    * executed plan never scanned the base table, and materialize the
    * routed result (group-cardinality rows — driver-safe by design)
    * before restoring the session's optimizer state.
    */
  /** The full serving stack in one driver entry: lineitem loaded into
    * a throwaway warehouse, an MV registered, then the SAME covered
    * aggregate asked twice through [[graft.etl.Serving.read]]. The
    * first evaluation must ROUTE (required on the optimized plan — no
    * base-dir scan) and ADMIT (required via `wouldHit`); the second
    * must HIT. The DuckDB oracle recomputes the aggregate from raw
    * lineitem, so the routed-and-cached answer is hash-gated end to
    * end.
    */
  private def servingStack(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.{ResultCache, Serving, Warehouse}
    import graft.plans.MvRewrite
    import MaterializedAgg._
    val li = Tables(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_orderkey")
    val whRoot = java.nio.file.Files.createTempDirectory("graft-serving").toString
    val wh = new Warehouse(s, whRoot,
      Map("li" -> li.schema,
        "li_mv" -> new org.apache.spark.sql.types.StructType()
          .add("l_returnflag", "string").add("l_linestatus", "string")
          .add("n", "long").add("sum_ok", "long")),
      partitionSpec = Map.empty, bucketSpec = Map.empty)
    val keys = Seq("l_returnflag", "l_linestatus")
    val t = wh.begin()
    t.append("li", li)
    t.overwrite("li_mv", aggregate(li, keys, Seq(
      Measure("n", lit(1), Count), Measure("sum_ok", col("l_orderkey"), Sum))))
    t.commit()
    MvRewrite.registerWarehouse(wh, "li", "li_mv", keys, Seq(
      MvRewrite.MeasureSig("n", "count", None),
      MvRewrite.MeasureSig("sum_ok", "sum", Some("l_orderkey"))))
    def frame(read: String => DataFrame) =
      read("li").filter(col("l_returnflag") === "R")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_ok"))
        .orderBy("l_returnflag", "l_linestatus")
    val prev = s.experimental.extraOptimizations
    try {
      s.experimental.extraOptimizations = prev :+ MvRewrite
      val probe = frame(tb => wh.readSkipping(tb)._1)
      require(!probe.queryExecution.optimizedPlan.toString.contains("data/li/"),
        "MV routing did not fire under the serving stack")
      s.experimental.extraOptimizations = prev
      val first = Serving.read(wh)(frame)
      val rows = first.collect()
      require(ResultCache.wouldHit(wh, frame(tb => wh.readSkipping(tb)._1)),
        "first serving read did not admit to the result cache")
      val second = Serving.read(wh)(frame).collect()
      require(second.toSeq == rows.toSeq, "cache hit must equal first answer")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), first.schema)
    } finally {
      s.experimental.extraOptimizations = prev
      MvRewrite.clear()
    }
  }

  /** Partial-MV delta routing under the hash gate: lineitem lands in
    * TWO appends, the view refreshes after the first only, and the
    * registered delta routing answers a coarser-grain aggregate by
    * merging stored rows with partials of just the second dir. The
    * entry REQUIRES the covered dir absent from the routed plan and
    * the view + delta dirs present; the oracle recomputes from raw
    * lineitem, so exact currency of the merged answer is what the
    * hash certifies.
    */
  private def mvDelta(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.{DeltaMv, Warehouse}
    import graft.plans.MvRewrite
    import MaterializedAgg._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val li = Tables(s, dir, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_orderkey")
    val wh = new Warehouse(s,
      java.nio.file.Files.createTempDirectory("graft-deltamv").toString,
      Map("li" -> li.schema,
        "li_mv" -> new org.apache.spark.sql.types.StructType()
          .add("l_returnflag", "string").add("l_linestatus", "string")
          .add("n", "long").add("sum_ok", "long")),
      partitionSpec = Map.empty, bucketSpec = Map.empty)
    val keys = Seq("l_returnflag", "l_linestatus")
    val ms = Seq(Measure("n", lit(1), Count),
      Measure("sum_ok", col("l_orderkey"), Sum))
    val t1 = wh.begin()
    t1.append("li", li.filter(col("l_orderkey") % 2 === 0))
    DeltaMv.refresh(wh, t1, "li", "li_mv", keys, ms)
    t1.commit()
    val covered = DeltaMv.coverage(wh, "li_mv")
    val t2 = wh.begin()
    t2.append("li", li.filter(col("l_orderkey") % 2 =!= 0))
    t2.commit()
    MvRewrite.registerWarehouseDelta(wh, "li", "li_mv", keys, Seq(
      MvRewrite.MeasureSig("n", "count", None),
      MvRewrite.MeasureSig("sum_ok", "sum", Some("l_orderkey"))), ms)
    val prev = s.experimental.extraOptimizations
    try {
      s.experimental.extraOptimizations = prev :+ MvRewrite
      val q = wh.read("li").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_ok"))
        .orderBy("l_returnflag")
      val scanned = q.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      }.flatten.toSet
      require(covered.intersect(scanned).isEmpty,
        "delta routing must not re-read covered base dirs")
      require(wh.catalog()("li_mv").exists(scanned.contains),
        "delta routing must scan the stored view")
      val rows = q.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally {
      s.experimental.extraOptimizations = prev
      MvRewrite.clear()
    }
  }

  /** The CDF test mutation, shared by `q_table_diff` and `q_cdf_apply`
    * (their oracles' `v2` CTEs mirror it): delete custkey%10==3, bump
    * acctbal +100 for %7==0, insert key-shifted copies of %13==0. One
    * definition — the apply query's hash certification is only
    * meaningful against the SAME change set the diff query exhibits.
    */
  private def cdfV2(c: DataFrame): DataFrame =
    c.filter(col("c_custkey") % 10 =!= 3)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
      .unionAll(c.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000L))

  /** The oracle-side mirror of [[cdfV2]], as a WITH-clause body. */
  /** Shared by q_transitions and q_stream_transitions: the drained
    * streaming fold is pair-for-pair the batch lead window.
    */
  private val transitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS tus, event_type
      |  FROM events),
      |p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY tus, event_id) AS to_type
      |  FROM e),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  (10000 * n) // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
      |    AS p_bp
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Shared by q_funnel and q_stream_funnel: the stateful funnel fold
    * drained in event-time order == the batch stacked windows.
    */
  private val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts)//1000 AS tus FROM events),
      |s1 AS (
      |  SELECT user_id, event_type, tus,
      |    min(CASE WHEN event_type = 'view' THEN tus END)
      |      OVER (PARTITION BY user_id ORDER BY tus) AS m0
      |  FROM e),
      |s2 AS (
      |  SELECT *, CASE WHEN event_type = 'click' AND m0 IS NOT NULL
      |                   AND tus > m0 THEN tus END AS q1
      |  FROM s1),
      |s2m AS (
      |  SELECT *, min(q1) OVER (PARTITION BY user_id ORDER BY tus) AS m1
      |  FROM s2),
      |s3 AS (
      |  SELECT *, CASE WHEN event_type = 'purchase' AND m1 IS NOT NULL
      |                   AND tus > m1 THEN tus END AS q2
      |  FROM s2m),
      |u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN tus END) AS u0,
      |    min(q1) AS u1, min(q2) AS u2
      |  FROM s3 GROUP BY 1)
      |SELECT 1 AS stage, 'view' AS event_type, count(u0) AS users FROM u
      |UNION ALL
      |SELECT 2, 'click', count(u1) FROM u
      |UNION ALL
      |SELECT 3, 'purchase', count(u2) FROM u
      |ORDER BY stage""".stripMargin

  /** Shared by q_anomaly and q_stream_anomaly: the streaming twin's
    * complete-mode daily-count state drained to the end IS the batch
    * daily frame, and both run the same trailing-median tail.
    */
  private val anomalySql: String =
    """WITH d AS (
      |  SELECT CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE) AS day,
      |    event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT day, event_type, n,
      |    list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS trail
      |  FROM d),
      |x AS (
      |  SELECT day, event_type, n,
      |    trail[CAST((len(trail)-1)//2 + 1 AS INT)] +
      |    trail[CAST(len(trail)//2 + 1 AS INT)] AS med2
      |  FROM m WHERE len(trail) > 0)
      |SELECT day, event_type, n, med2, (20000*n)//med2 AS dev_bp,
      |  CASE WHEN (20000*n)//med2 >= 15000 THEN 'spike'
      |       WHEN (20000*n)//med2 <= 6000 THEN 'drop'
      |       ELSE 'normal' END AS flag
      |FROM x ORDER BY event_type, day""".stripMargin

  private val cdfV2Sql: String =
    """v2 AS (
      |  SELECT c_custkey, c_name,
      |    c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END
      |      AS c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 10 <> 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_name, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 13 = 0)""".stripMargin

  /** A SECOND deterministic mutation, applied to the [[cdfV2]] image —
    * what gives the streaming CDC queries a multi-transition log:
    * delete custkey%11==5, debit acctbal 50 for %9==0, insert
    * key-shifted copies of %17==0. Shared by `q_stream_cdf` and
    * `q_stream_replica` (their oracles' `v3` CTEs mirror it).
    */
  private def cdfV3(v2: DataFrame): DataFrame =
    v2.filter(col("c_custkey") % 11 =!= 5)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 9 === 0, col("c_acctbal") - 50.0)
          .otherwise(col("c_acctbal")))
      .unionAll(v2.filter(col("c_custkey") % 17 === 0)
        .withColumn("c_custkey", col("c_custkey") + 20000000L))

  /** The oracle-side mirror of [[cdfV3]] (composes over [[cdfV2Sql]]'s
    * `v2` CTE). `x + (-50.0)` equals `x - 50.0` exactly under IEEE-754,
    * so the CASE-addition form matches the engine's subtraction.
    */
  private val cdfV3Sql: String =
    """v3 AS (
      |  SELECT c_custkey, c_name,
      |    c_acctbal + CASE WHEN c_custkey % 9 = 0 THEN -50.0 ELSE 0.0 END
      |      AS c_acctbal,
      |    c_mktsegment
      |  FROM v2 WHERE c_custkey % 11 <> 5
      |  UNION ALL
      |  SELECT c_custkey + 20000000, c_name, c_acctbal, c_mktsegment
      |  FROM v2 WHERE c_custkey % 17 = 0)""".stripMargin

  private def mvRouted(s: SparkSession, dir: String)
                      (q: DataFrame => DataFrame): DataFrame = {
    import MaterializedAgg._
    import graft.plans.MvRewrite
    val base = Tables(s, dir, "lineitem")
    val keys = Seq("l_returnflag", "l_linestatus")
    val ms = Seq(
      Measure("mv_n", lit(1), Count),
      Measure("mv_n_ok", col("l_orderkey"), Count),
      Measure("mv_sum_ok", col("l_orderkey"), Sum),
      Measure("mv_max_ship", col("l_shipdate"), Max))
    val mvDir = java.nio.file.Files.createTempDirectory("graft-mv").toString
    aggregate(base, keys, ms).write.mode("overwrite").parquet(mvDir)
    val mv = s.read.parquet(mvDir)
    val prev = s.experimental.extraOptimizations
    MvRewrite.register(base, mv, keys, Seq(
      MvRewrite.MeasureSig("mv_n", "count", None),
      MvRewrite.MeasureSig("mv_n_ok", "count", Some("l_orderkey")),
      MvRewrite.MeasureSig("mv_sum_ok", "sum", Some("l_orderkey")),
      MvRewrite.MeasureSig("mv_max_ship", "max", Some("l_shipdate"))))
    try {
      s.experimental.extraOptimizations = prev :+ MvRewrite
      val routed = q(base)
      val rows = routed.collect()
      val plan = routed.queryExecution.executedPlan.toString
      require(!plan.contains("lineitem.parquet"),
        "MV routing did not fire — base table present in the executed plan")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), routed.schema)
    } finally {
      s.experimental.extraOptimizations = prev
      MvRewrite.clear()
    }
  }

  val oracles: Map[String, String] = Map(
    "q_dv_delete" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 10 <> 3
        |ORDER BY c_custkey""".stripMargin,

    "q_dv_asof" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 'v1' AS ver
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 'v2'
        |FROM customer WHERE c_custkey % 10 <> 3
        |ORDER BY ver, c_custkey""".stripMargin,

    "q_table_diff" ->
      s"""WITH v1 AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |$cdfV2Sql,
        |j AS (
        |  SELECT coalesce(v1.c_custkey, v2.c_custkey) AS k,
        |    v1.c_custkey IS NOT NULL AS op, v2.c_custkey IS NOT NULL AS np,
        |    v1.c_name AS on1, v1.c_acctbal AS ob, v1.c_mktsegment AS om,
        |    v2.c_name AS nn, v2.c_acctbal AS nb, v2.c_mktsegment AS nm
        |  FROM v1 FULL JOIN v2 ON v1.c_custkey = v2.c_custkey),
        |c AS (
        |  SELECT j.*,
        |    (on1 IS DISTINCT FROM nn) OR (ob IS DISTINCT FROM nb)
        |      OR (om IS DISTINCT FROM nm) AS chg
        |  FROM j)
        |SELECT 'insert' AS change_type, k AS c_custkey, nn AS c_name,
        |  nb AS c_acctbal, nm AS c_mktsegment FROM c WHERE np AND NOT op
        |UNION ALL
        |SELECT 'delete', k, on1, ob, om FROM c WHERE op AND NOT np
        |UNION ALL
        |SELECT 'update_pre', k, on1, ob, om FROM c WHERE op AND np AND chg
        |UNION ALL
        |SELECT 'update_post', k, nn, nb, nm FROM c WHERE op AND np AND chg
        |ORDER BY c_custkey, change_type""".stripMargin,

    // direct recompute of the v2 aggregate — hash-certifies the
    // engine's base ⊕ change-feed incremental maintenance
    "q_cdf_apply" ->
      s"""WITH $cdfV2Sql
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS VARCHAR) AS total_bal
        |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_ingest" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // after the full-circle fourth commit the replica must equal the
    // ORIGINAL customer image — vacuuming applied history changes nothing
    "q_cdf_vacuum" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // direct recompute of the FINAL (v3) aggregate — hash-certifies the
    // streamed base ⊕ delta maintenance across two logged transitions
    "q_stream_cdf" ->
      s"""WITH $cdfV2Sql,
        |$cdfV3Sql
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS VARCHAR) AS total_bal
        |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the full-circle v4 image IS the raw customer table — the streamed
    // replica must land there despite its own drain loop GC'ing the log
    // underneath it (continuous retention, r12)
    "q_stream_retention" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // direct recompute of the FINAL (v3) image — the slow replica must
    // land there despite two interleaved frontier-driven vacuums
    "q_cdf_retention" ->
      s"""WITH $cdfV2Sql,
        |$cdfV3Sql
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM v3 ORDER BY c_custkey""".stripMargin,

    // direct recompute of the FINAL (v3) image — hash-certifies the
    // streamed merge-applied replica
    "q_stream_replica" ->
      s"""WITH $cdfV2Sql,
        |$cdfV3Sql
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM v3 ORDER BY c_custkey""".stripMargin,

    // direct recompute of the history as two full-snapshot SCD2 merges
    // (v1⊕v2 at t2, then ⊕v3 at t3) — hash-certifies the streamed
    // delta-apply path producing the identical Type-2 history
    "q_stream_scd2" ->
      s"""WITH $cdfV2Sql,
        |$cdfV3Sql,
        |v1 AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |j1 AS (
        |  SELECT coalesce(s.c_custkey, d.c_custkey) AS k,
        |    d.c_custkey IS NULL AS ins, s.c_custkey IS NULL AS del,
        |    (d.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL AND (
        |      s.c_name IS DISTINCT FROM d.c_name
        |      OR s.c_acctbal IS DISTINCT FROM d.c_acctbal
        |      OR s.c_mktsegment IS DISTINCT FROM d.c_mktsegment)) AS chg,
        |    s.c_name AS sn, s.c_acctbal AS sa, s.c_mktsegment AS sm,
        |    d.c_name AS dn, d.c_acctbal AS da, d.c_mktsegment AS dm
        |  FROM v2 s FULL JOIN v1 d ON s.c_custkey = d.c_custkey),
        |h2closed AS (
        |  SELECT k AS c_custkey, dn AS c_name, da AS c_acctbal,
        |    dm AS c_mktsegment,
        |    TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |    TIMESTAMP '2024-01-02 00:00:00' AS valid_to
        |  FROM j1 WHERE del OR chg),
        |cur2 AS (
        |  SELECT k AS c_custkey, dn AS c_name, da AS c_acctbal,
        |    dm AS c_mktsegment,
        |    TIMESTAMP '2024-01-01 00:00:00' AS valid_from
        |  FROM j1 WHERE NOT ins AND NOT del AND NOT chg
        |  UNION ALL
        |  SELECT k, sn, sa, sm, TIMESTAMP '2024-01-02 00:00:00'
        |  FROM j1 WHERE ins OR chg),
        |j2 AS (
        |  SELECT coalesce(s.c_custkey, d.c_custkey) AS k,
        |    d.c_custkey IS NULL AS ins, s.c_custkey IS NULL AS del,
        |    (d.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL AND (
        |      s.c_name IS DISTINCT FROM d.c_name
        |      OR s.c_acctbal IS DISTINCT FROM d.c_acctbal
        |      OR s.c_mktsegment IS DISTINCT FROM d.c_mktsegment)) AS chg,
        |    s.c_name AS sn, s.c_acctbal AS sa, s.c_mktsegment AS sm,
        |    d.c_name AS dn, d.c_acctbal AS da, d.c_mktsegment AS dm,
        |    d.valid_from AS dvf
        |  FROM v3 s FULL JOIN cur2 d ON s.c_custkey = d.c_custkey)
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |  valid_from, valid_to, is_current
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, valid_from,
        |    valid_to, false AS is_current FROM h2closed
        |  UNION ALL
        |  SELECT k, dn, da, dm, dvf,
        |    TIMESTAMP '2024-01-03 00:00:00', false
        |  FROM j2 WHERE del OR chg
        |  UNION ALL
        |  SELECT k, dn, da, dm, dvf, CAST(NULL AS TIMESTAMP), true
        |  FROM j2 WHERE NOT ins AND NOT del AND NOT chg
        |  UNION ALL
        |  SELECT k, sn, sa, sm, TIMESTAMP '2024-01-03 00:00:00',
        |    CAST(NULL AS TIMESTAMP), true
        |  FROM j2 WHERE ins OR chg)
        |ORDER BY c_custkey, valid_from""".stripMargin,

    // direct net diff of the first and final images — hash-certifies
    // the log fold (netChanges) riding the compacted bootstrap log
    "q_cdf_compact" ->
      s"""WITH $cdfV2Sql,
        |$cdfV3Sql,
        |j AS (
        |  SELECT coalesce(b.c_custkey, a.c_custkey) AS k,
        |    b.c_custkey IS NULL AS ins, a.c_custkey IS NULL AS del,
        |    (b.c_custkey IS NOT NULL AND a.c_custkey IS NOT NULL AND (
        |      b.c_name IS DISTINCT FROM a.c_name
        |      OR b.c_acctbal IS DISTINCT FROM a.c_acctbal
        |      OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment)) AS chg,
        |    b.c_name AS bn, b.c_acctbal AS ba, b.c_mktsegment AS bm,
        |    a.c_name AS an, a.c_acctbal AS aa, a.c_mktsegment AS am
        |  FROM customer b FULL JOIN v3 a ON b.c_custkey = a.c_custkey)
        |SELECT change_type, c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM (
        |  SELECT 'insert' AS change_type, k AS c_custkey, an AS c_name,
        |    aa AS c_acctbal, am AS c_mktsegment FROM j WHERE ins
        |  UNION ALL
        |  SELECT 'delete', k, bn, ba, bm FROM j WHERE del
        |  UNION ALL
        |  SELECT 'update_pre', k, bn, ba, bm FROM j WHERE chg
        |  UNION ALL
        |  SELECT 'update_post', k, an, aa, am FROM j WHERE chg)
        |ORDER BY c_custkey, change_type""".stripMargin,

    // direct recompute of the consistent v3 pair — any replica-side
    // foreign-key orphan or missed delta breaks the join hash
    "q_replica_group" ->
      """WITH c0 AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |o0 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 5 = 0),
        |c2 AS (
        |  SELECT c_custkey, c_name,
        |    c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END
        |      AS c_acctbal
        |  FROM c0 WHERE c_custkey % 10 <> 3),
        |o2 AS (
        |  SELECT * FROM o0
        |  WHERE o_custkey IN (SELECT c_custkey FROM c2)),
        |c3 AS (
        |  SELECT * FROM c2
        |  UNION ALL
        |  SELECT c_custkey + 30000000, c_name, c_acctbal
        |  FROM c0 WHERE c_custkey % 13 = 0),
        |o3 AS (
        |  SELECT o_orderkey, o_custkey,
        |    o_totalprice + CASE WHEN o_orderkey % 9 = 0 THEN 1.0 ELSE 0.0 END
        |      AS o_totalprice
        |  FROM o2
        |  UNION ALL
        |  SELECT o_orderkey + 60000000, o_custkey + 30000000, o_totalprice
        |  FROM o0 WHERE o_custkey % 13 = 0 AND o_orderkey % 3 = 0)
        |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
        |  c.c_name, c.c_acctbal
        |FROM o3 o LEFT JOIN c3 c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_merge_into" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer
        |  WHERE NOT (c_custkey % 3 = 0 AND c_mktsegment = 'BUILDING')
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_acctbal, 'NEW'
        |  FROM customer WHERE c_custkey % 5 = 0
        |) ORDER BY c_custkey""".stripMargin,

    "q_profile" ->
      """SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |  count(*) - count(l_orderkey) AS n_nulls,
        |  count(DISTINCT l_orderkey) AS n_distinct,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_s,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM lineitem
        |UNION ALL
        |SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
        |  count(DISTINCT l_linenumber),
        |  CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |  count(DISTINCT l_quantity),
        |  CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |  count(DISTINCT l_returnflag),
        |  CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
        |  count(DISTINCT l_linestatus),
        |  CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
        |  count(DISTINCT l_shipdate),
        |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')
        |FROM lineitem
        |ORDER BY col_name""".stripMargin,

    "q_profile_approx" ->
      """SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |  count(*) - count(l_orderkey) AS n_nulls,
        |  count(DISTINCT l_orderkey) AS n_distinct,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_s,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_s,
        |  true AS approx_ok FROM lineitem
        |UNION ALL
        |SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
        |  count(DISTINCT l_linenumber),
        |  CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR),
        |  true FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |  count(DISTINCT l_quantity),
        |  CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR),
        |  true FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |  count(DISTINCT l_returnflag),
        |  CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR),
        |  true FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
        |  count(DISTINCT l_linestatus),
        |  CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR),
        |  true FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
        |  count(DISTINCT l_shipdate),
        |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S'),
        |  true FROM lineitem
        |ORDER BY col_name""".stripMargin,

    "q_mv_approx" ->
      """SELECT event_type, count(*) AS n_rows,
        | count(DISTINCT user_id) AS n_users, true AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv_refresh" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
        | min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_tpch_q3" ->
      """SELECT o_orderkey, o_orderdate,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY 1, 2
        |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(1.0 - l_discount AS DECIMAL(18,2))) DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(1.0 - l_discount AS DECIMAL(18,2))) DESC, n_name""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
        | c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |   * CAST(1.0 - l_discount AS DECIMAL(18,2))) DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q_tpch_q17" ->
      """WITH th AS (
        |  SELECT l_partkey AS t_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
        |    count(*) AS qty_n
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0 AS DOUBLE)
        |    AS avg_yearly,
        |  count(*) AS n_small
        |FROM lineitem
        |JOIN th ON l_partkey = t_partkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_n < qty_sum
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_9'
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "q_mv_quantile" ->
      """WITH b AS (
        | SELECT o_orderstatus,
        |   CAST(floor(o_totalprice / 10000) * 10000 AS BIGINT) AS bucket,
        |   count(*) AS n
        | FROM orders GROUP BY 1, 2),
        |c AS (
        | SELECT *,
        |   CAST(sum(n) OVER (PARTITION BY o_orderstatus ORDER BY bucket) AS BIGINT) AS cum,
        |   CAST(sum(n) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS total
        | FROM b)
        |SELECT o_orderstatus,
        | min(CASE WHEN cum >= CAST(ceil(0.5 * total) AS BIGINT) THEN bucket END) AS p50,
        | min(CASE WHEN cum >= CAST(ceil(0.9 * total) AS BIGINT) THEN bucket END) AS p90,
        | min(CASE WHEN cum >= CAST(ceil(0.99 * total) AS BIGINT) THEN bucket END) AS p99
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_privacy" ->
      """SELECT CAST((o_custkey // 100) * 100 AS BIGINT) AS cust_band,
        | date_trunc('month', o_orderdate) AS order_month,
        | o_orderstatus,
        | count(*) AS n_rows,
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_sensitive,
        | count(*) >= 5 AS k_anonymous,
        | count(DISTINCT o_orderpriority) >= 2 AS l_diverse
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_anonymize" ->
      """WITH t AS (
        | SELECT o_orderkey,
        |   CAST((o_custkey // 100) * 100 AS BIGINT) AS cust_band,
        |   date_trunc('month', o_orderdate) AS order_month,
        |   o_orderstatus, o_orderpriority
        | FROM orders),
        |a AS (
        | SELECT cust_band, order_month, o_orderstatus
        | FROM t GROUP BY 1, 2, 3
        | HAVING count(*) >= 5 AND count(DISTINCT o_orderpriority) >= 2)
        |SELECT t.o_orderkey, t.cust_band, t.order_month, t.o_orderstatus
        |FROM t JOIN a USING (cust_band, order_month, o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin,

    "q_linkage" ->
      """WITH RECURSIVE base AS (
        | SELECT s_suppkey AS id,
        |   substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 16) AS name
        | FROM supplier),
        |v1 AS (
        | SELECT id + 100000 AS id,
        |   substr(name, 1, CAST(id % 10 AS INT))
        |     || substr(name, CAST(id % 10 AS INT) + 2, 100) AS name
        | FROM base WHERE id % 3 = 0),
        |v2 AS (
        | SELECT id + 200000 AS id,
        |   substr(name, 1, CAST(id % 7 AS INT))
        |     || substr(name, CAST(id % 7 AS INT) + 2, 100) AS name
        | FROM base WHERE id % 9 = 0),
        |recs AS (SELECT * FROM base UNION ALL SELECT * FROM v1
        |         UNION ALL SELECT * FROM v2),
        |g AS (
        | SELECT DISTINCT id, substr(name, t.g, 3) AS g
        | FROM recs, unnest(generate_series(1, greatest(len(name) - 2, 1))) AS t(g)),
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, b.id AS id_b
        | FROM g a JOIN g b USING (g) WHERE a.id < b.id),
        |pairs AS (
        | SELECT id_a, id_b FROM cand
        | JOIN recs ra ON ra.id = cand.id_a
        | JOIN recs rb ON rb.id = cand.id_b
        | WHERE levenshtein(ra.name, rb.name) <= 2),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        | SELECT id, id AS lbl FROM recs
        | UNION
        | SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
        |lab AS (SELECT id, min(lbl) AS entity_id FROM reach GROUP BY 1),
        |rk AS (
        | SELECT l.id, l.entity_id,
        |   row_number() OVER (PARTITION BY l.entity_id
        |     ORDER BY len(r.name) DESC, l.id) AS rk
        | FROM lab l JOIN recs r ON r.id = l.id),
        |can AS (
        | SELECT entity_id, min(CASE WHEN rk = 1 THEN id END) AS canonical_id,
        |   CAST(count(*) AS BIGINT) AS n_members
        | FROM rk GROUP BY 1)
        |SELECT k.id, k.entity_id, c.canonical_id, (k.rk = 1) AS is_canonical,
        | c.n_members
        |FROM rk k JOIN can c USING (entity_id) ORDER BY k.id""".stripMargin,

    "q_meta_agg" ->
      """SELECT count(*) AS n_rows,
        | min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,

    "q_bloom_skip" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (7, 42, 101, 999999937)
        |ORDER BY c_custkey""".stripMargin,

    "q_skip_scan" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_partkey <= 120 AND l_suppkey <= 8
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mv_route" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        | count(l_orderkey) AS n_ok,
        | CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        | max(l_shipdate) AS max_ship,
        | CAST(sum(l_orderkey) AS DOUBLE) / count(l_orderkey) AS avg_ok
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_mv_rollup" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        | max(l_shipdate) AS max_ship,
        | CAST(sum(l_orderkey) AS DOUBLE) / count(l_orderkey) AS avg_ok
        |FROM lineitem WHERE l_linestatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dq_audit" ->
      """WITH o AS (
        | SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders),
        |aug AS (
        | SELECT * FROM o
        | UNION ALL SELECT * FROM o WHERE o_orderkey % 97 = 0
        | UNION ALL SELECT o_orderkey + 10000000, NULL, o_totalprice, o_orderdate
        |   FROM o WHERE o_orderkey % 89 = 0
        | UNION ALL SELECT o_orderkey + 20000000, o_custkey, -o_totalprice, o_orderdate
        |   FROM o WHERE o_orderkey % 83 = 0
        | UNION ALL SELECT o_orderkey + 30000000, o_custkey + 9000000, o_totalprice, o_orderdate
        |   FROM o WHERE o_orderkey % 79 = 0)
        |SELECT 'orderkey_unique' AS rule_name,
        | CAST(coalesce(sum(cnt - 1), 0) AS BIGINT) AS n_violations
        |FROM (SELECT count(*) AS cnt FROM aug GROUP BY o_orderkey) WHERE cnt > 1
        |UNION ALL
        |SELECT 'custkey_not_null',
        | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM aug
        |UNION ALL
        |SELECT 'price_non_negative',
        | CAST(sum(CASE WHEN NOT coalesce(o_totalprice >= 0, false) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM aug
        |UNION ALL
        |SELECT 'custkey_fk', CAST(count(*) AS BIGINT) FROM aug
        |WHERE o_custkey IS NOT NULL
        |  AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        |ORDER BY rule_name""".stripMargin,

    "q_fuzzy_join" ->
      """WITH l AS (
        | SELECT s_suppkey AS l_id,
        |  CASE WHEN s_suppkey % 3 = 0
        |       THEN substr(s_name, 1, CAST(s_suppkey % 10 AS INT))
        |         || substr(s_name, CAST(s_suppkey % 10 AS INT) + 2, 100)
        |       ELSE s_name END AS l_name
        | FROM supplier),
        |r AS (SELECT s_suppkey AS r_id, s_name AS r_name FROM supplier),
        |lg AS (
        | SELECT DISTINCT l_id, substr(l_name, t.g, 3) AS g
        | FROM l, unnest(generate_series(1, greatest(len(l_name) - 2, 1))) AS t(g)),
        |rg AS (
        | SELECT DISTINCT r_id, substr(r_name, t.g, 3) AS g
        | FROM r, unnest(generate_series(1, greatest(len(r_name) - 2, 1))) AS t(g)),
        |cand AS (SELECT DISTINCT l_id, r_id FROM lg JOIN rg USING (g))
        |SELECT c.l_id, c.r_id,
        | CAST(levenshtein(l.l_name, r.r_name) AS BIGINT) AS dist
        |FROM cand c JOIN l USING (l_id) JOIN r USING (r_id)
        |WHERE levenshtein(l.l_name, r.r_name) <= 2
        |ORDER BY l_id, r_id""".stripMargin,

    "q_mv_delta" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_serving" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_fuzzy_cap" ->
      """WITH l AS (
        | SELECT s_suppkey AS l_id,
        |  CASE WHEN s_suppkey % 3 = 0
        |       THEN substr(s_name, 1, CAST(s_suppkey % 10 AS INT))
        |         || substr(s_name, CAST(s_suppkey % 10 AS INT) + 2, 100)
        |       ELSE s_name END AS l_name
        | FROM supplier),
        |r AS (SELECT s_suppkey AS r_id, s_name AS r_name FROM supplier),
        |lg AS (
        | SELECT DISTINCT l_id, substr(l_name, t.g, 3) AS g
        | FROM l, unnest(generate_series(1, greatest(len(l_name) - 2, 1))) AS t(g)),
        |rg AS (
        | SELECT DISTINCT r_id, substr(r_name, t.g, 3) AS g
        | FROM r, unnest(generate_series(1, greatest(len(r_name) - 2, 1))) AS t(g)),
        |keep AS (
        | SELECT g FROM (SELECT g FROM lg UNION ALL SELECT g FROM rg)
        | GROUP BY g HAVING count(*) <= 40),
        |cand AS (
        | SELECT DISTINCT l_id, r_id
        | FROM lg JOIN keep USING (g) JOIN rg USING (g))
        |SELECT c.l_id, c.r_id,
        | CAST(levenshtein(l.l_name, r.r_name) AS BIGINT) AS dist
        |FROM cand c JOIN l USING (l_id) JOIN r USING (r_id)
        |WHERE levenshtein(l.l_name, r.r_name) <= 2
        |ORDER BY l_id, r_id""".stripMargin,

    "q_stream_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS tus, value
        |  FROM events),
        |clicks AS (
        |  SELECT event_id AS click_id, user_id, tus AS click_us
        |  FROM ev WHERE event_type = 'click'),
        |purch AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, tus AS purchase_us,
        |    value AS purchase_value
        |  FROM ev WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id, make_timestamp(c.click_us) AS click_ts,
        |  p.purchase_id, make_timestamp(p.purchase_us) AS purchase_ts,
        |  p.purchase_value
        |FROM clicks c JOIN purch p
        |  ON c.user_id = p.p_user
        | AND p.purchase_us >= c.click_us - 3600000000
        | AND p.purchase_us <= c.click_us
        |ORDER BY click_id, purchase_id""".stripMargin,

    // mirrors clickPurchaseStreamOuterJoin: the batch left join plus the
    // watermark gate on outer rows — a click emits null-padded iff its
    // timestamp is strictly behind the min of the two sides'
    // ms-truncated max event times (the final watermark; edges pinned
    // in StreamingOuterJoinSpec). coalesce(…, 0): a side with ZERO
    // events never advances its watermark in Spark (stays epoch 0), so
    // the oracle must pin that side to 0 too — DuckDB's least() would
    // otherwise IGNORE the NULL max and wrongly emit every outer row
    "q_stream_outer_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS tus, value
        |  FROM events),
        |clicks AS (
        |  SELECT event_id AS click_id, user_id, tus AS click_us
        |  FROM ev WHERE event_type = 'click'),
        |purch AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, tus AS purchase_us,
        |    value AS purchase_value
        |  FROM ev WHERE event_type = 'purchase'),
        |wm AS (SELECT least(
        |  coalesce((SELECT (max(tus) // 1000) * 1000 FROM ev WHERE event_type = 'click'), 0),
        |  coalesce((SELECT (max(tus) // 1000) * 1000 FROM ev WHERE event_type = 'purchase'), 0)) AS w),
        |j AS (
        |  SELECT c.click_id, c.user_id, c.click_us,
        |    p.purchase_id, p.purchase_us, p.purchase_value
        |  FROM clicks c LEFT JOIN purch p
        |    ON c.user_id = p.p_user
        |   AND p.purchase_us >= c.click_us - 3600000000
        |   AND p.purchase_us <= c.click_us)
        |SELECT click_id, user_id, make_timestamp(click_us) AS click_ts,
        |  purchase_id, make_timestamp(purchase_us) AS purchase_ts,
        |  purchase_value
        |FROM j
        |WHERE purchase_id IS NOT NULL OR click_us < (SELECT w FROM wm)
        |ORDER BY click_id, purchase_id""".stripMargin,

    // the streaming dedup completes in one batch (single source file), so
    // no state expires mid-run and the emitted keys are exactly DISTINCT
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // the stateless stream-static join emits exactly the batch left
    // join of clicks against the purchase profile
    "q_stream_enrich" ->
      """WITH p AS (
        |  SELECT user_id, count(*) AS n_purchases,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT e.event_id, e.user_id,
        |  coalesce(p.n_purchases, 0) AS n_purchases,
        |  coalesce(p.total_purchase_value, 0.0) AS total_purchase_value
        |FROM events e LEFT JOIN p USING (user_id)
        |WHERE e.event_type = 'click'
        |ORDER BY e.event_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS us FROM events),
        |g AS (
        |  SELECT event_id, user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT event_id, user_id, make_timestamp(us) AS ts,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM g ORDER BY event_id""".stripMargin,

    // mirrors sessionWindowStats: Spark's session_window coalesces
    // per-event [ts, ts+gap) windows when they overlap OR touch, so a
    // NEW session starts only when the inter-event gap strictly exceeds
    // the gap duration (the same strict-> rule as q_sessionize), and
    // append mode emits exactly the sessions whose end <= the final
    // watermark — which Spark tracks at MILLISECOND granularity
    // (EventTimeStats), so the emission cutoff is max event time
    // truncated to the millisecond, not the raw microsecond value —
    // all three edges pinned by StreamingSessionWindowSpec on crafted
    // boundary data
    "q_stream_session" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts)//1000 AS us, value FROM events),
        |g AS (
        |  SELECT user_id, us, value,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (
        |  SELECT user_id, us, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |agg AS (
        |  SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT make_timestamp(start_us) AS session_start,
        |  make_timestamp(end_us) AS session_end,
        |  user_id, n_events, sum_value
        |FROM agg
        |WHERE end_us <= (SELECT (max(us) // 1000) * 1000 FROM e)
        |ORDER BY user_id, start_us""".stripMargin,

    "q_bucket_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |   * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    // the roundtrip oracles recompute from the PARQUET base tables —
    // a value changed by the ORC/JSON write+read flips the hash
    "q_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
        | min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT event_type, count(*) AS n_rows,
        | count(DISTINCT user_id) AS n_users,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_listagg" ->
      """SELECT user_id,
        | string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_unpivot" ->
      """WITH m AS (
        | SELECT 'l_quantity' AS metric, CAST(l_quantity AS DECIMAL(30,4)) AS v FROM lineitem
        | UNION ALL
        | SELECT 'l_extendedprice', CAST(l_extendedprice AS DECIMAL(30,4)) FROM lineitem
        | UNION ALL
        | SELECT 'l_discount', CAST(l_discount AS DECIMAL(30,4)) FROM lineitem
        | UNION ALL
        | SELECT 'l_tax', CAST(l_tax AS DECIMAL(30,4)) FROM lineitem)
        |SELECT metric, CAST(CAST(sum(v) AS DECIMAL(38,4)) AS VARCHAR) AS total
        |FROM m GROUP BY metric ORDER BY metric""".stripMargin,

    // mirrors EventAnalytics.funnel: running-min chain per stage over
    // the default RANGE frame (tie semantics identical in both engines)
    "q_funnel" -> funnelSql,

    // the streamed fold drained in event-time order builds the same
    // per-user stage frame, and the counting tail is shared code
    "q_stream_funnel" -> funnelSql,

    // the q_funnel staged mins inside (user, session) partitions; the
    // session fold is the q_sessionize strict-gap rule
    "q_funnel_session" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts)//1000 AS tus
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |      OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END
        |    AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (
        |  SELECT user_id, event_type, tus,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |s1 AS (
        |  SELECT user_id, sess, event_type, tus,
        |    min(CASE WHEN event_type = 'view' THEN tus END)
        |      OVER (PARTITION BY user_id, sess ORDER BY tus) AS m0
        |  FROM s),
        |s2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND m0 IS NOT NULL
        |                   AND tus > m0 THEN tus END AS q1
        |  FROM s1),
        |s2m AS (
        |  SELECT *, min(q1) OVER (PARTITION BY user_id, sess ORDER BY tus)
        |    AS m1
        |  FROM s2),
        |s3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND m1 IS NOT NULL
        |                   AND tus > m1 THEN tus END AS q2
        |  FROM s2m),
        |u AS (
        |  SELECT user_id, sess,
        |    min(CASE WHEN event_type = 'view' THEN tus END) AS u0,
        |    min(q1) AS u1, min(q2) AS u2
        |  FROM s3 GROUP BY 1, 2)
        |SELECT 1 AS stage, 'view' AS event_type, count(u0) AS sessions FROM u
        |UNION ALL
        |SELECT 2, 'click', count(u1) FROM u
        |UNION ALL
        |SELECT 3, 'purchase', count(u2) FROM u
        |ORDER BY stage""".stripMargin,

    "q_funnel_users" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts)//1000 AS tus FROM events),
        |s1 AS (
        |  SELECT user_id, event_type, tus,
        |    min(CASE WHEN event_type = 'view' THEN tus END)
        |      OVER (PARTITION BY user_id ORDER BY tus) AS m0
        |  FROM e),
        |s2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND m0 IS NOT NULL
        |                   AND tus > m0 THEN tus END AS q1
        |  FROM s1),
        |s2m AS (
        |  SELECT *, min(q1) OVER (PARTITION BY user_id ORDER BY tus) AS m1
        |  FROM s2),
        |s3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND m1 IS NOT NULL
        |                   AND tus > m1 THEN tus END AS q2
        |  FROM s2m)
        |SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN tus END) AS u0,
        |  min(q1) AS u1, min(q2) AS u2
        |FROM s3 GROUP BY 1
        |HAVING min(CASE WHEN event_type = 'view' THEN tus END) IS NOT NULL
        |ORDER BY user_id""".stripMargin,

    "q_funnel_lag" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts)//1000 AS tus FROM events),
        |s1 AS (
        |  SELECT user_id, event_type, tus,
        |    min(CASE WHEN event_type = 'view' THEN tus END)
        |      OVER (PARTITION BY user_id ORDER BY tus) AS m0
        |  FROM e),
        |s2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND m0 IS NOT NULL
        |                   AND tus > m0 THEN tus END AS q1
        |  FROM s1),
        |s2m AS (
        |  SELECT *, min(q1) OVER (PARTITION BY user_id ORDER BY tus) AS m1
        |  FROM s2),
        |s3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND m1 IS NOT NULL
        |                   AND tus > m1 THEN tus END AS q2
        |  FROM s2m),
        |u AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN tus END) AS u0,
        |    min(q1) AS u1, min(q2) AS u2
        |  FROM s3 GROUP BY 1)
        |SELECT 'view->click' AS transition, count(u1) AS n,
        |  round(CAST(sum(u1 - u0) AS DOUBLE) / count(u1), 6) AS avg_lag_us,
        |  quantile_cont(u1 - u0, 0.5) AS p50_lag_us
        |FROM u
        |UNION ALL
        |SELECT 'click->purchase', count(u2),
        |  round(CAST(sum(u2 - u1) AS DOUBLE) / count(u2), 6) AS avg_lag_us,
        |  quantile_cont(u2 - u1, 0.5)
        |FROM u
        |ORDER BY transition""".stripMargin,

    "q_cohort" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', make_timestamp(epoch_ns(ts)//1000)) AS DATE) AS period
        |  FROM events),
        |f AS (SELECT user_id, min(period) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, period FROM e)
        |SELECT f.cohort, a.period, count(DISTINCT a.user_id) AS active_users
        |FROM f JOIN a USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // each observation holds until the user's next one; zero-duration
    // tie rows drop out; exact decimal weighted sum, quotient in double
    "q_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS tus, value FROM events),
        |d AS (
        |  SELECT user_id, value,
        |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS dur
        |  FROM e)
        |SELECT user_id,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,6)) * CAST(dur AS DECIMAL(30,0))) AS DOUBLE)
        |    / CAST(sum(dur) AS DOUBLE), 6) AS twa,
        |  CAST(sum(dur) AS BIGINT) AS observed_micros
        |FROM d WHERE dur IS NOT NULL AND dur > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // next-conversion via reverse running-min over (ts, id) DESC with an
    // explicit ROWS frame (tie semantics identical to Spark's); linear
    // credit by integer division, same-ts conversions collapse to min id
    "q_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS tus, event_type,
        |    value
        |  FROM events),
        |tagged AS (
        |  SELECT user_id, event_id, tus, event_type,
        |    min(CASE WHEN event_type = 'purchase' THEN tus END)
        |      OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_tus
        |  FROM e),
        |touches AS (
        |  SELECT user_id, conv_tus, event_type,
        |    count(*) OVER (PARTITION BY user_id, conv_tus) AS n_t,
        |    row_number() OVER (PARTITION BY user_id, conv_tus
        |      ORDER BY tus, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, conv_tus
        |      ORDER BY tus DESC, event_id DESC) AS rn_d
        |  FROM tagged
        |  WHERE event_type IN ('click', 'signup', 'view')
        |    AND conv_tus IS NOT NULL
        |    AND conv_tus <= tus + 604800000000),
        |convs AS (
        |  SELECT user_id, tus AS conv_tus,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM (SELECT user_id, tus, value,
        |          row_number() OVER (PARTITION BY user_id, tus
        |            ORDER BY event_id) AS rn
        |        FROM e WHERE event_type = 'purchase')
        |  WHERE rn = 1)
        |SELECT t.event_type AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(CASE WHEN rn_a = 1 THEN cents ELSE 0 END) AS BIGINT) AS first_cents,
        |  CAST(sum(CASE WHEN rn_d = 1 THEN cents ELSE 0 END) AS BIGINT) AS last_cents,
        |  CAST(sum(cents // n_t) AS BIGINT) AS linear_cents
        |FROM touches t
        |JOIN convs c ON c.user_id = t.user_id AND c.conv_tus = t.conv_tus
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // consecutive event pairs per user (integral-micros order, id
    // tie-break); probabilities row-normalized in exact basis points
    "q_transitions" -> transitionsSql,

    // the streaming fold drained to completion is pair-for-pair the
    // batch operator, so it shares the oracle
    "q_stream_transitions" -> transitionsSql,

    // every 3 consecutive events per user -> one a>b>c path; the
    // (n DESC, path) order is total, so LIMIT is deterministic
    "q_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000 AS tus, event_type
        |  FROM events),
        |p AS (
        |  SELECT event_type || '>' || lead(event_type, 1) OVER w
        |    || '>' || lead(event_type, 2) OVER w AS path,
        |    lead(event_type, 2) OVER w AS l2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id))
        |SELECT path, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE l2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 50""".stripMargin,

    // trailing-median baseline: med2 = sum of the two middle order
    // stats of the <=7 trailing daily counts (exact 2*median)
    "q_anomaly" -> anomalySql,

    // the complete-mode streaming state drained to the end is the
    // batch daily frame, so the twin shares the oracle
    "q_stream_anomaly" -> anomalySql,

    // drained complete-mode counts == the batch group-by; the
    // (n desc, user) order is total, so LIMIT is deterministic
    "q_stream_topk" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1
        |ORDER BY n DESC, user_id LIMIT 50""".stripMargin,

    // exact binned KS: cumulative counts over the per-type cent
    // histogram; D*1e4 = (1e4 * max|c1*N2 - c2*N1|) // (N1*N2)
    "q_ks" ->
      """WITH sp AS (
        |  SELECT min(CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS d0,
        |         max(CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS d1
        |  FROM events),
        |h AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |    CASE WHEN 2 * date_diff('day', d0,
        |        CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE))
        |      <= date_diff('day', d0, d1) THEN 0 ELSE 1 END AS half
        |  FROM events CROSS JOIN sp),
        |g AS (
        |  SELECT event_type, v,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h2
        |  FROM h GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type,
        |    CAST(sum(h1) OVER w AS BIGINT) AS c1,
        |    CAST(sum(h2) OVER w AS BIGINT) AS c2,
        |    CAST(sum(h1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
        |    CAST(sum(h2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT event_type, n1, n2,
        |    max(abs(c1::HUGEINT * n2 - c2::HUGEINT * n1)) AS mx
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT event_type, n1, n2,
        |  CAST((10000::HUGEINT * mx) // (n1::HUGEINT * n2) AS BIGINT) AS ks_bp
        |FROM m WHERE n1 > 0 AND n2 > 0 ORDER BY event_type""".stripMargin,

    // exact W1: area between ECDFs = sum |c1*N2 - c2*N1| * gap-to-next
    // over the cent histogram, scaled to hundredths of a cent
    "q_wasserstein" ->
      """WITH sp AS (
        |  SELECT min(CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS d0,
        |         max(CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS d1
        |  FROM events),
        |h AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |    CASE WHEN 2 * date_diff('day', d0,
        |        CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE))
        |      <= date_diff('day', d0, d1) THEN 0 ELSE 1 END AS half
        |  FROM events CROSS JOIN sp),
        |g AS (
        |  SELECT event_type, v,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h2
        |  FROM h GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type,
        |    CAST(sum(h1) OVER w AS BIGINT) AS c1,
        |    CAST(sum(h2) OVER w AS BIGINT) AS c2,
        |    lead(v) OVER w2 - v AS dv,
        |    CAST(sum(h1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
        |    CAST(sum(h2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
        |  FROM g WINDOW
        |    w AS (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w2 AS (PARTITION BY event_type ORDER BY v)),
        |m AS (
        |  SELECT event_type, n1, n2,
        |    sum(abs(c1::HUGEINT * n2 - c2::HUGEINT * n1) *
        |        coalesce(dv, 0)) AS area
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT event_type, n1, n2,
        |  CAST((100::HUGEINT * area) // (n1::HUGEINT * n2) AS BIGINT)
        |    AS w1_centi_cents
        |FROM m WHERE n1 > 0 AND n2 > 0 ORDER BY event_type""".stripMargin,

    // PSI terms: exact bp shares; the one libm ln rounds at 6dp
    "q_drift" ->
      """WITH sp AS (
        |  SELECT min(CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS d0,
        |         max(CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS d1
        |  FROM events),
        |h AS (
        |  SELECT event_type,
        |    CASE WHEN 2 * date_diff('day', d0,
        |        CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE))
        |      <= date_diff('day', d0, d1) THEN 0 ELSE 1 END AS half
        |  FROM events CROSS JOIN sp),
        |g AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM h GROUP BY 1),
        |t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
        |             CAST(sum(n2) AS BIGINT) AS t2 FROM g)
        |SELECT event_type, n1, n2,
        |  (10000 * n1) // t1 AS share1_bp,
        |  (10000 * n2) // t2 AS share2_bp,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    round((CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE) -
        |           CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE)) *
        |      ln((CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)) /
        |         (CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE))), 6) END AS psi_term
        |FROM g CROSS JOIN t ORDER BY event_type""".stripMargin,

    // 2x2 chi-square in micro units; wide product in HUGEINT mirrors
    // the engine's DECIMAL(38,0) headroom
    "q_abtest" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS variant,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 13 THEN 1 ELSE 0 END AS converted
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS users_a,
        |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS users_b,
        |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
        |      AS BIGINT) AS conv_b
        |  FROM u)
        |SELECT users_a, conv_a, users_b, conv_b,
        |  (10000 * conv_a) // users_a AS cr_a_bp,
        |  (10000 * conv_b) // users_b AS cr_b_bp,
        |  CAST((1000000::HUGEINT * (users_a + users_b) *
        |        (conv_a * (users_b - conv_b) -
        |         conv_b * (users_a - conv_a))::HUGEINT *
        |        (conv_a * (users_b - conv_b) -
        |         conv_b * (users_a - conv_a))::HUGEINT)
        |       // (users_a::HUGEINT * users_b * (conv_a + conv_b) *
        |           (users_a + users_b - conv_a - conv_b)) AS BIGINT)
        |    AS chi2_micro
        |FROM s""".stripMargin,

    // basket pairs: support counts DISTINCT orders containing both
    // items; lift_bp = floor(10000 * support * n_orders / (c_a * c_b))
    "q_basket" ->
      """WITH i AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM i),
        |cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM i GROUP BY 1),
        |p AS (
        |  SELECT a.pk AS item_a, b.pk AS item_b,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM i a JOIN i b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, support,
        |  (10000 * support * n_orders) // (ca.c * cb.c) AS lift_bp
        |FROM p CROSS JOIN n
        |JOIN cnt ca ON ca.pk = p.item_a
        |JOIN cnt cb ON cb.pk = p.item_b
        |ORDER BY support DESC, item_a, item_b LIMIT 200""".stripMargin,

    // RFM: equal-frequency buckets via strict-rank over the value
    // histogram (ties share a bucket); r flipped so 5 = most recent;
    // monetary bucketed on whole dollars, reported in exact cents
    "q_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey AS cust, max(CAST(o_orderdate AS DATE)) AS last_d,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor_d FROM orders),
        |base AS (
        |  SELECT cust, date_diff('day', last_d, anchor_d) AS rec, freq,
        |    cents, cents // 100 AS dollars
        |  FROM per CROSS JOIN a),
        |br AS (SELECT v, least(5, 1 + (5 * coalesce(sum(n) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) //
        |    sum(n) OVER ()) AS b
        |  FROM (SELECT rec AS v, count(*) AS n FROM base GROUP BY 1)),
        |bf AS (SELECT v, least(5, 1 + (5 * coalesce(sum(n) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) //
        |    sum(n) OVER ()) AS b
        |  FROM (SELECT freq AS v, count(*) AS n FROM base GROUP BY 1)),
        |bd AS (SELECT v, least(5, 1 + (5 * coalesce(sum(n) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) //
        |    sum(n) OVER ()) AS b
        |  FROM (SELECT dollars AS v, count(*) AS n FROM base GROUP BY 1))
        |SELECT CAST(6 - br.b AS INTEGER) AS r, CAST(bf.b AS INTEGER) AS f,
        |  CAST(bd.b AS INTEGER) AS m, CAST(count(*) AS BIGINT) AS customers,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM base
        |JOIN br ON br.v = base.rec
        |JOIN bf ON bf.v = base.freq
        |JOIN bd ON bd.v = base.dollars
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS tus, event_type, value
        |  FROM events),
        |clicks AS (
        |  SELECT event_id, user_id, tus, value FROM ev WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, tus, max(value) AS purchase_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.user_id, c.event_id, c.tus, c.value,
        |  p.purchase_value AS asof_purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.tus >= p.tus
        |ORDER BY c.event_id""".stripMargin,

    "q_topk_perkey" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey""".stripMargin,

    "q_catalog" -> {
      val rows = Schemas.tables.toSeq.map { case (t, sch) => s"('$t', ${sch.length})" }
        .sorted.mkString(",\n  ")
      s"""SELECT * FROM (VALUES
         |  $rows) AS t(table_name, n_columns) ORDER BY table_name""".stripMargin
    },

    "q_resample_locf" ->
      """WITH us AS (
        |  SELECT user_id, epoch_ns(ts)//1000 AS tus, event_id, value FROM events),
        |bounds AS (
        |  SELECT user_id, min(tus) // 86400000000 AS d0, max(tus) // 86400000000 AS d1
        |  FROM us GROUP BY 1),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM bounds),
        |obs AS (
        |  SELECT user_id, day, value AS obs_value FROM (
        |    SELECT user_id, tus // 86400000000 AS day, value,
        |      row_number() OVER (PARTITION BY user_id, tus // 86400000000
        |        ORDER BY tus DESC, event_id DESC) AS rn
        |    FROM us) WHERE rn = 1)
        |SELECT s.user_id, s.day, o.obs_value,
        |  last_value(o.obs_value IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        |FROM spine s LEFT JOIN obs o USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_outer_join" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0),
        |o AS (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, c.c_name,
        |  coalesce(o.n_orders, 0) AS n_orders
        |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin,

    "q_range_join" ->
      """WITH iv AS (
        |  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS l_shipdate,
        |    CAST(l_shipdate AS DATE) + CAST((l_linenumber * 7) % 30 AS INTEGER) AS l_enddate
        |  FROM lineitem),
        |pt AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate
        |  FROM orders WHERE o_orderkey % 997 = 0)
        |SELECT o.o_orderkey, o.o_orderdate, count(l.l_orderkey) AS n_cover
        |FROM pt o LEFT JOIN iv l
        |  ON o.o_orderdate BETWEEN l.l_shipdate AND l.l_enddate
        |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin,

    "q_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_start,
        |    CAST(o_orderdate AS DATE) + 14 AS o_end
        |  FROM orders WHERE o_orderkey % 499 = 0),
        |b AS (
        |  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS l_start,
        |    CAST(l_shipdate AS DATE) + CAST((l_linenumber * 7) % 30 AS INTEGER) AS l_end
        |  FROM lineitem)
        |SELECT a.o_orderkey, a.o_start, count(b.l_orderkey) AS n_overlap
        |FROM a LEFT JOIN b
        |  ON a.o_start <= b.l_end AND b.l_start <= a.o_end
        |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "dedup_window" ->
      """WITH ev AS (
        |  SELECT event_id, ts, event_type, props FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, ts, event_type, props FROM events
        |  WHERE event_id % 101 = 0),
        |k AS (
        |  SELECT event_id, CAST(ts AS DATE) AS day,
        |    md5(event_type || '|' || props) AS payload_hash
        |  FROM ev)
        |SELECT event_id, day, payload_hash,
        |  min(event_id) OVER w AS canonical_id,
        |  count(*) OVER w AS n_copies,
        |  event_id = min(event_id) OVER w AS is_canonical
        |FROM k
        |WINDOW w AS (PARTITION BY day, payload_hash)
        |ORDER BY event_id""".stripMargin,

    "q_zorder" -> {
      val zTerms = (0 until 9).flatMap(i => Seq(
        s"(((p_bin >> $i) & 1) << ${2 * i})",
        s"(((s_bin >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH mx AS (
         |  SELECT CAST(max(l_partkey) + 1 AS DOUBLE) AS pmx,
         |         CAST(max(l_suppkey) + 1 AS DOUBLE) AS smx
         |  FROM lineitem),
         |binned AS (
         |  SELECT
         |    CAST(floor(CAST(l_partkey AS DOUBLE) * 512.0 / pmx) AS BIGINT) AS p_bin,
         |    CAST(floor(CAST(l_suppkey AS DOUBLE) * 512.0 / smx) AS BIGINT) AS s_bin
         |  FROM lineitem, mx),
         |z AS (SELECT p_bin, s_bin, $zTerms AS zv FROM binned)
         |SELECT zv >> 12 AS cell, count(*) AS n_rows,
         |  min(p_bin) AS a_min, max(p_bin) AS a_max,
         |  min(s_bin) AS b_min, max(s_bin) AS b_max
         |FROM z GROUP BY 1 ORDER BY cell""".stripMargin
    })
}
