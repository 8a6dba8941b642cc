package graft.queries

import graft.Tables
import graft.etl.Warehouse
import graft.operators.{Dedup, Multimodal, TextAnalysis}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Training-data text operators over the `documents` table: dedup family,
  * text analysis, multimodal metadata. Each query runs the corresponding
  * graft.operators module and carries a DuckDB oracle.
  *
  * The corpus has no exact duplicates, so dedup queries run over an
  * AUGMENTED corpus — deterministic synthetic copies (doc_id + 2·off)
  * and near-copies (doc_id + off, one appended token) built identically
  * in both engines, with `off` derived from max(doc_id) so planted ids
  * never collide with real documents at any corpus size — guaranteeing
  * every dedup path has real work to do.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Planted-id base offset: the smallest multiple of 100000 strictly
    * above max(doc_id), so planted ids (k·off + doc_id, k = 1..5) can
    * NEVER collide with real documents at any corpus size. A fixed
    * +100000 collided on any >100k-doc corpus (sf3 = 150k docs: 3,069
    * collisions, 1.6× pair inflation — SCALING_r11); at driver SFs
    * max(doc_id) ≪ 100000 so the derived offset reproduces the historic
    * constant and every oracle hash is unchanged. One single-row
    * max-aggregate per sfDir, memoized.
    */
  private val plantOffMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def plantOff(s: SparkSession, dir: String): Long =
    plantOffMemo.computeIfAbsent(dir, _ =>
      (Tables(s, dir, "documents").agg(max("doc_id")).head.getLong(0)
        / 100000L + 1L) * 100000L).longValue

  /** SQL form of [[plantOff]] — a scalar subquery DuckDB folds once. */
  private val offSql = "(SELECT (max(doc_id) // 100000 + 1) * 100000 FROM documents)"

  /** The relational aHash chain (mm_imagehash's body), shared with the
    * mm_dedup gate so the two cannot drift: expects an
    * `img(doc_id, src, fmt, w, h)` CTE in scope — pixel formulas run on
    * `src`, so a planted duplicate id reuses its source image's pixels —
    * and ends in `ah(doc_id, fmt, w, h, b0, b1, b2, b3)`.
    */
  private val aHashChainSql =
    """px AS (
      |  SELECT i.doc_id, i.fmt, i.w, i.h,
      |    CASE WHEN i.fmt = 'png'
      |         THEN (i.src * 53 + ys.y * i.w + xs.x) % 256
      |         ELSE ((i.src * 31 + ys.y * 3 * i.w + 3 * xs.x) % 256
      |             + (i.src * 31 + ys.y * 3 * i.w + 3 * xs.x + 1) % 256
      |             + (i.src * 31 + ys.y * 3 * i.w + 3 * xs.x + 2) % 256)
      |    END AS v,
      |    ((8 * ys.y) // i.h) * 8 + (8 * xs.x) // i.w AS p
      |  FROM img i,
      |       unnest(generate_series(0, i.w - 1)) AS xs(x),
      |       unnest(generate_series(0, i.h - 1)) AS ys(y)),
      |cells AS (
      |  SELECT doc_id, fmt, w, h, p,
      |    CAST(sum(v) AS BIGINT) AS cs, count(*) AS cc
      |  FROM px GROUP BY 1, 2, 3, 4, 5),
      |tot AS (
      |  SELECT doc_id, CAST(sum(cs) AS BIGINT) AS ts,
      |    CAST(sum(cc) AS BIGINT) AS tc
      |  FROM cells GROUP BY 1),
      |bits AS (
      |  SELECT c.doc_id, c.fmt, c.w, c.h, c.p // 16 AS j,
      |    CASE WHEN c.cs * t.tc > t.ts * c.cc
      |         THEN (1 << (c.p % 16)) ELSE 0 END AS contrib
      |  FROM cells c JOIN tot t USING (doc_id)),
      |bnd AS (
      |  SELECT doc_id, fmt, w, h, j, CAST(sum(contrib) AS BIGINT) AS bv
      |  FROM bits GROUP BY 1, 2, 3, 4, 5),
      |ah AS (
      |  SELECT doc_id, fmt, w, h,
      |    coalesce(max(CASE WHEN j = 0 THEN bv END), 0) AS b0,
      |    coalesce(max(CASE WHEN j = 1 THEN bv END), 0) AS b1,
      |    coalesce(max(CASE WHEN j = 2 THEN bv END), 0) AS b2,
      |    coalesce(max(CASE WHEN j = 3 THEN bv END), 0) AS b3
      |  FROM bnd GROUP BY 1, 2, 3, 4)""".stripMargin

  private def docsAug(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    val off = plantOff(s, dir)
    d.unionAll(
        d.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + off).as("doc_id"),
            concat(col("text"), lit(" neardup extra")).as("text")))
      .unionAll(
        d.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 2 * off).as("doc_id"), col("text").as("text")))
  }

  /** Per-bucket band counts (bucketed by `bkey`) and the bucket-size
    * histogram — the tables a maintained band census keeps.
    */
  private val bandCensusTables = Seq(
    "bandcounts" -> StructType(Seq(
      StructField("bkey", StringType), StructField("cnt", LongType))),
    "bandhist" -> StructType(Seq(
      StructField("bn", LongType), StructField("k", LongType))))

  /** The change log `q_stream_census` drains: documents arrive across
    * 3 commits (insert wave, delete wave, a text UPDATE on the %5==2
    * slice); the store warehouse holds the signature store `sigstore`
    * — bucketed by the store key (r14): per micro-batch the consumer
    * rewrites only the buckets the churn touches — plus the band census
    * tables. Returns the document schema, the log dir, the store
    * warehouse and a checkpoint dir.
    */
  private def docsChangeLog(s: SparkSession, dir: String,
                            tag: String): (StructType, String, Warehouse, String) = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    val finalImg = d.withColumn("text",
      when(col("doc_id") % 5 === 2, concat(col("text"), lit(" changed v3")))
        .otherwise(col("text")))
    val v1 = d.filter(col("doc_id") % 3 === 0)
    val v2 = d.filter(col("doc_id") % 3 <= 1 && !(col("doc_id") % 9 === 0))
    val storeSchema = StructType(StructField("doc_id", LongType) +:
      (0 until 8).map(j => StructField(s"m$j", LongType)))
    val (logDir, storeWh, ckpt) = ChangeLogFixture(s, tag, "docs", "doc_id",
      Seq(d.limit(0), v1, v2, finalImg),
      ("sigstore" -> storeSchema) +: bandCensusTables,
      Map("sigstore" -> ("doc_id", 8), "bandcounts" -> ("bkey", 8)))
    (d.schema, logDir, storeWh, ckpt)
  }

  /** The change log `q_stream_mm` and `q_stream_mm_census` drain: the
    * image docs' media evolve across 3 commits (insert wave, delete
    * wave, a payload UPDATE on the %5==2 slice re-sourced from
    * doc_id + 3 — ≡ 0 mod 3, so the fmt is stable and never lands on
    * wav); the store warehouse holds the aHash store `hashstore`
    * (bucketed by the store key) plus, for a `census`, the band census
    * tables. Returns the media schema, the log dir, the store warehouse
    * and a checkpoint dir.
    */
  private def mediaChangeLog(s: SparkSession, dir: String, tag: String,
                             census: Boolean): (StructType, String, Warehouse, String) = {
    val ids = Tables(s, dir, "documents").select("doc_id")
      .filter(col("doc_id") % 3 =!= 1) // image docs only (no wav)
    val media = Multimodal.attachMediaPayload(ids)
    val updated = Multimodal.attachMediaPayload(
        ids.filter(col("doc_id") % 5 === 2)
          .select((col("doc_id") + 3).as("doc_id")))
      .select((col("doc_id") - 3).as("doc_id"), col("fmt"), col("payload"))
    val finalImg = media.filter(col("doc_id") % 5 =!= 2).unionByName(updated)
    val v1 = media.filter(col("doc_id") % 3 === 0)
    val v2 = media.filter(!(col("doc_id") % 9 === 0))
    val storeSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fmt", StringType),
      StructField("width", LongType), StructField("height", LongType)) ++
      (0 until 4).map(j => StructField(s"b$j", LongType)))
    val (logDir, storeWh, ckpt) = ChangeLogFixture(s, tag, "media", "doc_id",
      Seq(media.limit(0), v1, v2, finalImg),
      ("hashstore" -> storeSchema) +: (if (census) bandCensusTables else Nil),
      Map("hashstore" -> ("doc_id", 8), "bandcounts" -> ("bkey", 8)))
    (media.schema, logDir, storeWh, ckpt)
  }

  private val augSql =
    s"""docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $offSql, text || ' neardup extra' FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * $offSql, text FROM documents WHERE doc_id % 23 = 0)""".stripMargin

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docsAug(s, dir)).orderBy("doc_id")),

    "dedup_minhash" -> ((s, dir) =>
      // polynomial-family signature (round-5): ~n integer mults per gram
      // instead of three md5s; its own relational oracle below. The md5
      // family (wordGramNearDups) stays spec-covered as the bit-identity
      // yardstick against the composed pipeline.
      Dedup.wordGramNearDupsPoly(docsAug(s, dir), threshold = 0.5)
        .orderBy("doc_a", "doc_b")),

    "dedup_ngram" -> ((s, dir) =>
      // same-language text has a high baseline char-5-gram Jaccard ->
      // wide bands for candidate precision; signature stage is the
      // native one-pass QCharGrams expression (no explode/shuffle/md5)
      Dedup.charGramNearDups(docsAug(s, dir), 0.6, n = 5, bandSize = 4)
        .orderBy("doc_a", "doc_b")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(docsAug(s, dir), maxHamming = 3)
        .orderBy("doc_a", "doc_b")),

    // near-dup pairs -> connected components: cluster_id = min doc id
    // transitively reachable (iterative min-label propagation; the
    // DuckDB oracle walks the same graph with a recursive CTE). Pairs
    // come from the polynomial word-gram family (round-5). Naive
    // propagation stays the default: LSH near-dup graphs are shallow
    // (pairs, triangles, anchor stars ⇒ 2-3 rounds) and the doubling
    // variant's extra join per round measured SLOWER here — it pays off
    // only past ~10-round diameters (clusterLabelsDoubling, spec-covered).
    "dedup_clusters" -> ((s, dir) => {
      // cached: the corpus feeds TWO plan branches — the signature
      // pipeline and the isolated-nodes attach — and without the cache
      // each re-runs the parquet scan + augment union (measured ~1s of
      // the query at sf0.1). At cluster scale prefer
      // recompute-or-checkpoint over caching a 100 TB frame (the
      // caching-contract note on graft.operators.Dedup).
      val aug = docsAug(s, dir).cache()
      Dedup.clusterLabels(Dedup.wordGramNearDupsPoly(aug, threshold = 0.5),
          aug.select("doc_id"))
        .orderBy("doc_id")
    }),

    // clusters -> LEAKAGE-FREE split: the train/val/test bucket hashes
    // the CLUSTER id, so a planted near-dup can never straddle the
    // train/eval boundary (the contamination channel text_split's
    // per-doc hash leaves open); singleton clusters reproduce the
    // per-doc split exactly
    "dedup_split" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      Dedup.leakageFreeSplit(
          Dedup.clusterLabels(Dedup.wordGramNearDupsPoly(aug, threshold = 0.5),
            aug.select("doc_id")))
        .orderBy("doc_id")
    }),

    // clusters -> the dedup IMPACT report: per cluster size, cluster /
    // doc counts and the exact text bytes longest-survivor keep drops —
    // the artifact a curation run publishes
    "dedup_report" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      Dedup.dedupReport(
          Dedup.clusterLabels(Dedup.wordGramNearDupsPoly(aug, threshold = 0.5),
            aug.select("doc_id")),
          aug)
        .orderBy("cluster_size")
    }),

    // clusters -> one survivor per cluster (longest text, ties lowest
    // id) — the decision the curation pipeline actually applies
    "dedup_keep" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      Dedup.keepCanonical(aug,
          Dedup.clusterLabels(Dedup.wordGramNearDupsPoly(aug, threshold = 0.5),
            aug.select("doc_id")))
        .orderBy("doc_id")
    }),

    // centrality keep: exact integer PageRank over the near-dup graph;
    // the survivor is the cluster's HUB (max rank, ties lowest id) —
    // the anchor of a star of derived copies, where longest-text keep
    // would pick whichever variant happens to be padded longest
    "dedup_pagerank" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      val pairs = Dedup.wordGramNearDupsPoly(aug, threshold = 0.5).cache()
      val nodes = aug.select("doc_id")
      Dedup.keepCanonicalByRank(
          Dedup.clusterLabels(pairs, nodes),
          graft.operators.GraphMetrics.pageRankMicro(pairs, nodes, iters = 3))
        .orderBy("doc_id")
    }),

    // similarity-WEIGHTED centrality keep: edge weight = jaccard in
    // basis points, so a 0.9-similar neighbor pulls 1.8× the mass of a
    // 0.5-similar one — the hub of the TIGHTEST star wins its cluster
    "dedup_pagerank_w" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      val pairsW = Dedup.wordGramNearDupsPoly(aug, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"),
          floor(col("jaccard") * 10000).as("w")).cache()
      val nodes = aug.select("doc_id")
      Dedup.keepCanonicalByRank(
          Dedup.clusterLabels(pairsW.select("doc_a", "doc_b"), nodes),
          graft.operators.GraphMetrics.pageRankMicroWeighted(pairsW, nodes, iters = 3))
        .orderBy("doc_id")
    }),

    // PageRank CONVERGENCE trace at iters=10: per-iteration total rank
    // movement in exact micro-units — the stop-when-settled number that
    // replaces a guessed iteration constant; every intermediate rank
    // vector is localCheckpoint'ed (the >10-iteration lineage story)
    "dedup_pagerank_conv" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      graft.operators.GraphMetrics.pageRankConvergence(
          Dedup.wordGramNearDupsPoly(aug, threshold = 0.5).cache(),
          aug.select("doc_id"), iters = 10)
        .orderBy("iter")
    }),

    // Near-dup GRAPH DENSITY diagnostics: per-node triangle counts over
    // the polynomial word-gram pair graph — cliques (template spam) and
    // stars (one anchor, orbiting variants) separate here where
    // component labels alone cannot. Two equi self-joins over the
    // oriented (a<b) edge list enumerate each triangle exactly once.
    "dedup_triangles" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      graft.operators.GraphMetrics.trianglesPerNode(
          Dedup.wordGramNearDupsPoly(aug, threshold = 0.5))
        .orderBy("doc_id")
    }),

    // Same diagnostic through the DEGREE-oriented enumeration — the
    // skewed-graph (anchor-star) scale path — under the SAME oracle:
    // orientation changes join fan-out, never the triangle set.
    "dedup_triangles_deg" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      graft.operators.GraphMetrics.trianglesPerNode(
          Dedup.wordGramNearDupsPoly(aug, threshold = 0.5), byDegree = true)
        .orderBy("doc_id")
    }),

    // Contamination blast radius: BFS distances from flagged seed docs
    // (every 97th id) through the near-dup graph, out to 4 hops — one
    // leaked doc taints its whole paraphrase neighborhood
    "dedup_reach" -> ((s, dir) => {
      val aug = docsAug(s, dir).cache()
      graft.operators.GraphMetrics.reachWithin(
          Dedup.wordGramNearDupsPoly(aug, threshold = 0.5),
          aug.select("doc_id").filter(col("doc_id") % 97 === 0),
          maxHops = 4)
        .orderBy("doc_id")
    }),

    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables(s, dir, "documents")).orderBy("doc_id")),

    // One BPE merge round: corpus-weighted adjacent char-pair counts
    // over the word vocabulary, top-50 — the tokenizer-training
    // primitive. Pair explosion runs over DISTINCT words only.
    "text_bpe" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables(s, dir, "documents"))),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables(s, dir, "documents")).orderBy("doc_id")),

    "text_quantile" -> ((s, dir) =>
      TextAnalysis.qualityPercentileFilter(Tables(s, dir, "documents"),
          keepFrac = 0.3)
        .orderBy("doc_id")),

    // budget ≈ 40% of the sf0.001 corpus's ~58k tokens: a real cut
    "text_budget" -> ((s, dir) =>
      TextAnalysis.tokenBudgetSelect(Tables(s, dir, "documents"),
          budgetTokens = 24000L)
        .orderBy("doc_id")),

    "text_lenstats" -> ((s, dir) =>
      TextAnalysis.lengthStats(Tables(s, dir, "documents"))
        .orderBy("metric")),

    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunkDocs(Tables(s, dir, "documents"),
          chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")),

    "text_sweep" -> ((s, dir) =>
      TextAnalysis.thresholdSweep(Tables(s, dir, "documents"),
          Seq(-50000L, 0L, 50000L, 100000L, 150000L))
        .orderBy("tau")),

    // tokenizer fertility (subwords per word) by language — the
    // per-language cost report that decides tokenizer vocab allocation;
    // exact integer sums, one double division at the end
    "text_fertility" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      TextAnalysis.tokenCounts(d)
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tok_total"),
          sum("n_subwords").as("subword_total"),
          (sum("n_subwords").cast("double") / sum("n_tokens").cast("double"))
            .as("fertility"))
        .orderBy("lang")
    }),

    // rebalance to an en-heavy 4-language mix of 200 docs; zh has no
    // share (dropped), de's 30% quota (60) exceeds demand on some SFs —
    // both the cap and the drop paths execute
    "text_rebalance" -> ((s, dir) =>
      TextAnalysis.rebalanceMixture(Tables(s, dir, "documents"), col("lang"),
          Seq("en" -> 400000L, "de" -> 300000L, "es" -> 200000L, "fr" -> 100000L),
          totalOut = 200L)
        .orderBy("doc_id")),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(Tables(s, dir, "documents")).orderBy("doc_id")),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables(s, dir, "documents")).orderBy("doc_id")),

    "text_topterms" -> ((s, dir) =>
      TextAnalysis.topTerms(Tables(s, dir, "documents"), k = 3)
        .orderBy("doc_id", "rnk")),

    "text_split" -> ((s, dir) =>
      TextAnalysis.assignSplit(Tables(s, dir, "documents").select("doc_id"))
        .orderBy("doc_id")),

    "text_normalize" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm_text"),
          md5(TextAnalysis.normalize(col("text")).cast("binary")).as("norm_hash"))
        .orderBy("doc_id")),

    "mm_metadata" -> ((s, dir) =>
      Multimodal.metadata(Tables(s, dir, "documents")).orderBy("doc_id")),

    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Tables(s, dir, "documents"))
        .orderBy("doc_id", "frame_idx")),

    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeMediaFeatures(
          Multimodal.attachMediaPayload(Tables(s, dir, "documents")))
        .orderBy("doc_id")),

    "text_pack" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables(s, dir, "documents"),
          capacity = 256, shards = 8)
        .orderBy("doc_id")),

    // synthetic PII is appended deterministically (the corpus has none),
    // identically in engine and oracle, so counts/redaction are non-vacuous
    "text_pii" -> ((s, dir) => {
      val aug = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 tel +1415555"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
      TextAnalysis.piiScan(aug).orderBy("doc_id")
    }),

    "text_sample" -> ((s, dir) => {
      val cls = pmod(col("doc_id"), lit(3))
      val rateBp = when(cls === 0, 10000).when(cls === 1, 5000).otherwise(1000)
      TextAnalysis.stratifiedSample(Tables(s, dir, "documents").select("doc_id"),
          rateBp)
        .withColumn("strat_class", cls)
        .orderBy("doc_id")
    }),

    "text_sample_perkey" -> ((s, dir) =>
      TextAnalysis.samplePerKey(Tables(s, dir, "documents").select("doc_id"),
          pmod(col("doc_id"), lit(7)), n = 10)
        .orderBy("smp_key", "smp_rank")),

    // benchmark = every 100th doc (stand-in eval set); benchmark members
    // flag themselves by construction, which non-vacuously exercises the
    // whole overlap path
    "text_decontam" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      TextAnalysis.decontaminate(docs, docs.filter(col("doc_id") % 100 === 0), n = 8)
        .orderBy("doc_id")
    }),

    "text_mixture" -> ((s, dir) =>
      TextAnalysis.mixtureReport(Tables(s, dir, "documents"))
        .orderBy("source", "lang")),

    "text_modelscore" -> ((s, dir) =>
      TextAnalysis.hashedModelScore(Tables(s, dir, "documents"))
        .orderBy("doc_id")),

    // cross-doc verbatim spans over the augmented corpus (the exact
    // copies guarantee true positives; natural text contributes its own
    // shared boilerplate)
    "text_longdup" -> ((s, dir) =>
      TextAnalysis.duplicatedSpans(docsAug(s, dir))
        .orderBy("span")),

    // end-to-end curation pipeline: the operators composed the way a
    // real pretraining-data job chains them — exact dedup (keep
    // canonical) → token-count quality gate → benchmark decontamination
    // → deterministic split assignment. Every stage is an
    // independently-oracled operator; this entry proves they compose.
    "text_curate" -> ((s, dir) => {
      val aug = docsAug(s, dir)
      val bench = Tables(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 100 === 0)
      val canon = Dedup.exact(aug).filter(col("is_canonical")).select("doc_id")
      // cached: the dedup+gate survivor frame feeds THREE plan branches
      // (decontam gram scan, decontam totals, the final semi-join) and
      // would re-run the exact-dedup window per branch otherwise
      val counted = aug.join(canon, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
        .filter(col("n_tokens") >= 5)
        .cache()
      val clean = TextAnalysis.decontaminate(
          counted.select("doc_id", "text"), bench, n = 8)
        .filter(!col("contaminated")).select("doc_id")
      TextAnalysis.assignSplit(
          counted.join(clean, Seq("doc_id"), "left_semi")
            .select("doc_id", "n_tokens"))
        .orderBy("doc_id")
    }),

    // every 19th doc also appears self-concatenated (id+300000): those
    // copies have ~every bigram duplicated, so the repetition filters
    // have true positives to separate from natural text
    "text_repetition" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      val aug = d.unionAll(d.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 3 * plantOff(s, dir)).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")))
      TextAnalysis.repetitionScore(aug).orderBy("doc_id")
    }),

    // containment positives: 12-word snippets (prefix inclusion — high
    // containment, LOW Jaccard, the case the operator exists for) plus
    // exact copies (containment 1 both ways)
    "dedup_containment" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      val off = plantOff(s, dir)
      val aug = d
        .unionAll(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 3 * off).as("doc_id"),
            concat_ws(" ", slice(split(col("text"), " ", -1), 1, 12)).as("text")))
        .unionAll(d.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 2 * off).as("doc_id"), col("text")))
      // budgeted cap: the bucket cap is DERIVED from the corpus's band
      // census (≤64 candidates/doc) — since r13 that's the library-wide
      // DEFAULT; the oracle mirrors the same ladder derivation
      Dedup.wordGramContainment(aug, threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    }),

    // the corpus is single-line prose, so the boilerplate cases are
    // injected deterministically (the text_pii playbook): js/cookie/brace
    // docs that must be dropped, multi-line punctuated docs that must
    // survive with frac_punct_lines = 1
    "text_boilerplate" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      val off = plantOff(s, dir)
      val aug = d
        .unionAll(d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 4 * off).as("doc_id"),
            concat(lit("please enable javascript to continue\n{ \"consent\": true }\nwe use cookies on this site\n"),
              col("text")).as("text")))
        .unionAll(d.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 5 * off).as("doc_id"),
            concat(lit("the quick brown fox jumps over the lazy dog.\n"),
              col("text"), lit(" and that is the end of it.")).as("text")))
      TextAnalysis.boilerplateFilter(aug).orderBy("doc_id")
    }),

    // lang is the skewed domain (en ≈ 3.4× fr at sf0.01); source is
    // uniform by construction and would make the reweighting vacuous
    "text_tempsample" -> ((s, dir) =>
      TextAnalysis.temperatureResample(Tables(s, dir, "documents"), col("lang"))
        .orderBy("doc_id")),

    // batch = the synthetic augment rows (ids ≥ off), corpus = the
    // raw table: the batch is probed against the corpus band index +
    // itself; oracle = the full-corpus pair set restricted to pairs
    // touching the batch
    "dedup_incremental" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      val off = plantOff(s, dir)
      val incoming = d.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(" neardup extra")).as("text"))
        .unionAll(d.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 2 * off).as("doc_id"), col("text").as("text")))
      Dedup.incrementalNearDups(d, incoming, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // MAINTAINED band census, e2e (r14): a 3-commit document
    // evolution (insert wave, delete wave, a text UPDATE on the %5==2
    // slice) drives StreamingOps.changeFeedSignatureStoreCensus,
    // which keeps the per-bucket band counts (bucketed by bkey) and the
    // bucket-size histogram in the SAME txn as the signature store —
    // the cap derivation for incremental near-dup then never aggregates
    // the stored bands (Dedup.capFromMaintainedCensus). The oracle
    // recomputes the histogram COLD from the final image's signatures,
    // so the hash certifies maintained-census ≡ cold-census through
    // inserts, deletes, and updates.
    "q_stream_census" -> ((s, dir) => {
      val (docSchema, logDir, storeWh, ckpt) = docsChangeLog(s, dir, "scn")
      StreamingOps.changeFeedSignatureStoreCensus(s, storeWh, "sigstore",
        "bandcounts", "bandhist", docSchema, n = 3, logDir, ckpt)
      storeWh.read("bandhist").orderBy("bn")
    }),

    "text_shard" -> ((s, dir) =>
      TextAnalysis.corpusShard(Tables(s, dir, "documents").select("doc_id"),
          nShards = 16)
        .orderBy("doc_id")),

    // three mid-frequency terms from the synthetic vocabulary; global
    // top-10 with deterministic (score, id) tiebreak
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Search(Tables(s, dir, "documents"),
        Seq("merge", "window", "stream"), k = 10)),

    "text_perplexity" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(Tables(s, dir, "documents"))
        .orderBy("doc_id")),

    "text_oov" -> ((s, dir) =>
      TextAnalysis.oovScore(Tables(s, dir, "documents"), minDf = 3)
        .orderBy("doc_id")),

    // recall of the poly near-dup pass against the planted dup pairs —
    // end-to-end (banding AND threshold losses both count as missed)
    "dedup_eval" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select("doc_id")
      val off = plantOff(s, dir)
      val planted = d.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + off).as("doc_b"),
          lit("near").as("kind"))
        .unionAll(d.filter(col("doc_id") % 23 === 0)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 2 * off).as("doc_b"),
            lit("exact").as("kind")))
      Dedup.nearDupRecallReport(
          Dedup.wordGramNearDupsPoly(docsAug(s, dir), threshold = 0.5), planted)
        .orderBy("kind")
    }),

    // decode-then-pool on the real bytes; the oracle recomputes the
    // parametric pixel formulas, so a defect anywhere in the codec or
    // pooling breaks the hash
    "mm_patches" -> ((s, dir) =>
      Multimodal.imagePatchFeatures(
        Multimodal.attachMediaPayload(Tables(s, dir, "documents"))
          .filter(col("fmt") =!= "wav"))
        .orderBy("doc_id")),

    // perceptual aHash over the real decoded pixels: 8x8 integer
    // average-pool grid, bit = cell-vs-image mean cross-multiplication,
    // emitted as four 16-bit band values (the Hamming-join index); the
    // oracle recomputes every bit from the parametric pixel formulas
    "mm_imagehash" -> ((s, dir) =>
      Multimodal.imageAHash(
        Multimodal.attachMediaPayload(Tables(s, dir, "documents"))
          .filter(col("fmt") =!= "wav"))
        .orderBy("doc_id")),

    // STREAMED image-hash store maintenance, e2e (r13): the media table
    // evolves across 3 warehouse commits (insert wave, delete wave, a
    // payload UPDATE on the %5==2 slice re-sourced from doc_id+3 — same
    // fmt, different pixels), the change log drives
    // StreamingOps.changeFeedImageHashStore — deletes/updates drop
    // store rows, arrivals decode + aHash and append. The oracle
    // recomputes the aHash table COLD from the final image's
    // closed-form pixel formulas, so the hash certifies
    // streamed-maintenance ≡ cold-rebuild (and that updates re-hash).
    "q_stream_mm" -> ((s, dir) => {
      val (mediaSchema, logDir, storeWh, ckpt) = mediaChangeLog(s, dir, "smm", census = false)
      StreamingOps.changeFeedImageHashStore(s, storeWh, "hashstore",
        mediaSchema, logDir, ckpt)
      storeWh.read("hashstore").orderBy("doc_id")
    }),

    // MAINTAINED image-band census, e2e (r14): the same 3-commit media
    // evolution drives StreamingOps.changeFeedImageHashStoreCensus —
    // the multimodal twin of q_stream_census: the txn that prunes and
    // appends aHash rows folds their band deltas into the per-bucket
    // counts (bucketed by bkey) and the size histogram, so image
    // near-dup ingestion (Multimodal.imageHashPairsWithCap +
    // Dedup.capFromMaintainedCensus) never re-aggregates the stored
    // bands. The oracle recomputes the histogram COLD from the final
    // image's closed-form aHash bands, so the hash certifies
    // maintained-census ≡ cold-census through inserts, deletes, and
    // payload updates.
    "q_stream_mm_census" -> ((s, dir) => {
      val (mediaSchema, logDir, storeWh, ckpt) = mediaChangeLog(s, dir, "smc", census = true)
      StreamingOps.changeFeedImageHashStoreCensus(s, storeWh, "hashstore",
        "bandcounts", "bandhist", mediaSchema, logDir, ckpt)
      storeWh.read("bandhist").orderBy("bn")
    }),

    // image near-dup over the aHash: planted exact-duplicate payloads
    // (every 25th image re-id'd at a derived collision-free offset),
    // banded capped candidates, exact 64-bit Hamming <= 3 — the
    // multimodal member of the dedup family (text/embedding/image all
    // block-then-verify, never all-pairs)
    "mm_dedup" -> ((s, dir) => {
      val media = Multimodal.attachMediaPayload(Tables(s, dir, "documents"))
        .filter(col("fmt") =!= "wav")
      val off = plantOff(s, dir)
      val aug = media.unionAll(media.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + lit(off)))
      Multimodal.imageHashPairs(Multimodal.imageAHash(aug))
        .orderBy("doc_a", "doc_b")
    }),

    // frame-level energy / peak / zero-crossings over the real decoded
    // waveform; the oracle regenerates the parametric samples, so the
    // whole codec + framing + aggregation path is under the hash gate
    "mm_audio_frames" -> ((s, dir) =>
      Multimodal.audioFrameFeatures(
          Multimodal.attachMediaPayload(Tables(s, dir, "documents")))
        .orderBy("doc_id", "frame_id")))

  /** Oracle for the NATIVE char-gram path (Dedup.charGramNearDups /
    * QCharGrams): the same polynomial gram hash computed relationally —
    * h = fold((h·131 + ord(char)) mod 1000000007) over each 5-gram's
    * code points, family j = ((37+101j)·h + (17+89j)) mod 1000000007.
    * Every intermediate is < 2^41, so DuckDB BIGINT arithmetic is exact
    * and bit-identical to the engine's. Tail (bands → capped candidates
    * → exact Jaccard) mirrors lshPairsCte with ':'-separated numeric
    * bands.
    */
  /** Relational mirror of the QCharGrams polynomial: fold over the n
    * code points starting at `i` (seed cast to BIGINT — ord() is INT32
    * and the fold would overflow).
    */
  private def polyFoldSql(n: Int): String =
    (1 until n).foldLeft(s"CAST(ord(substr(t, CAST(i AS INT), 1)) AS BIGINT)") {
      (acc, k) => s"((($acc) * 131 + ord(substr(t, CAST(i + $k AS INT), 1))) % 1000000007)"
    }

  private def charGramSql(threshold: Double, n: Int = 5, bandSize: Int = 4) = {
    val p = "1000000007"
    val gramHash = polyFoldSql(n)
    val sigMins = (0 until 8).map { j =>
      s"min(((${37 + 101 * j} * h) + ${17 + 89 * j}) % $p) AS m$j"
    }.mkString(",\n       |    ")
    val bandSelects = (0 until 8 / bandSize).map { b =>
      val cat = (b * bandSize until (b + 1) * bandSize)
        .map(j => s"CAST(m$j AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band_id, $cat AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""base AS (SELECT doc_id, lower(text) AS t FROM docs
       |          WHERE length(lower(text)) >= $n),
       |grams AS (
       |  SELECT doc_id, $gramHash AS h
       |  FROM base, unnest(generate_series(1, length(t) - ${n - 1})) AS g(i)),
       |hashes AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM grams),
       |sig AS (
       |  SELECT doc_id,
       |    $sigMins
       |  FROM grams GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bandSelects),
       |bsize AS MATERIALIZED (SELECT band_id, band, count(*) AS bn, min(doc_id) AS anchor
       |          FROM bands GROUP BY 1, 2),
       |${capvCtesSql(64, 8 / bandSize)}cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM bands a
       |    JOIN bands b ON a.band_id = b.band_id AND a.band = b.band
       |                AND a.doc_id < b.doc_id
       |    JOIN bsize s ON s.band_id = a.band_id AND s.band = a.band
       |                AND s.bn <= (SELECT cap FROM capv)
       |    UNION ALL
       |    SELECT s.anchor AS doc_a, a.doc_id AS doc_b
       |    FROM bands a
       |    JOIN bsize s ON s.band_id = a.band_id AND s.band = a.band
       |    WHERE s.bn > (SELECT cap FROM capv) AND a.doc_id > s.anchor)),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN hashes sa ON sa.doc_id = c.doc_a
       |  JOIN hashes sb ON sb.doc_id = c.doc_b AND sa.h = sb.h
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM hashes GROUP BY 1),
       |pairs AS (
       |  SELECT i.doc_a, i.doc_b,
       |    CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
       |  FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
       |               JOIN sizes zb ON zb.doc_id = i.doc_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= $threshold)
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Oracle for the POLYNOMIAL word-gram path
    * (Dedup.wordGramNearDupsPoly / QWordGrams poly): gram = n
    * consecutive words single-space joined, h = fold((h·131 +
    * ord(codepoint)) mod 1000000007) over the gram string (DuckDB
    * list_reduce — seeded by the first element, identical to a 0-seeded
    * fold), family j = ((37+101j)·h + (17+89j)) mod 1e9+7. All
    * intermediates < 2^41: BIGINT-exact in both engines. Tail (bands of
    * ':'-joined family minima → capped candidates → exact Jaccard)
    * mirrors charGramSql.
    */
  /** Shared candidate scaffold (grams → hashes → signature → bands →
    * capped candidates → per-pair intersection + sizes); the Jaccard and
    * containment oracles differ only in the final `pairs` measure.
    */
  /** The gram-hash + 8-permutation MinHash SIGNATURE oracle chain
    * (toks → rolling-hash word grams → per-permutation mins), ending
    * in `sig(doc_id, m0..m7)` — exactly the
    * [[graft.operators.Dedup.signatureStore]] artifact, shared by the
    * banded-candidate chain below and q_stream_census's cold census
    * oracle so the stored-census gate and the pair gates cannot drift.
    */
  private def wordGramSigCte(n: Int = 3): String = {
    val p = "1000000007"
    val sigMins = (0 until 8).map { j =>
      s"min(((${37 + 101 * j} * h) + ${17 + 89 * j}) % $p) AS m$j"
    }.mkString(",\n       |    ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS toks
       |  FROM docs),
       |grams AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_transform(range(1, length(g) + 1),
       |        pp -> CAST(ord(substr(g, CAST(pp AS INT), 1)) AS BIGINT)),
       |      (h, c) -> (h * 131 + c) % $p) AS h
       |  FROM (
       |    SELECT doc_id,
       |      array_to_string(toks[CAST(i AS INT):CAST(i + ${n - 1} AS INT)], ' ') AS g
       |    FROM toks, unnest(generate_series(1, len(toks) - ${n - 1})) AS gi(i)
       |    WHERE len(toks) >= $n)),
       |sig AS (
       |  SELECT doc_id,
       |    $sigMins
       |  FROM grams GROUP BY doc_id)""".stripMargin
  }

  /** The budgeted-cap mirror of Dedup.autoBucketCap, shared by every
    * banded oracle (word-gram, char-gram, simhash, image-hash):
    * bucket-size census over a `bsize(… , bn)` CTE → worst-case
    * candidate volume per ladder rung → the largest rung within
    * perDoc × nDocs (nDocs = Σ bn·k / bands-per-doc). Band-key columns
    * don't matter here — the census collapses to sizes — so one body
    * serves all families; only `bandsPerDoc` varies. The empty-census
    * fallback `coalesce(max(c), 8)` is the exact mirror of
    * Dedup.capFromHistogram's empty-histogram branch (ladder's smallest
    * rung) — aligned in r14 so the derivation-mirror invariant holds
    * for ALL inputs, not just non-empty corpora.
    */
  private def capvCtesSql(perDoc: Int, bandsPerDoc: Int): String =
    s"""census AS MATERIALIZED (SELECT bn, count(*) AS k FROM bsize GROUP BY 1),
       |capv AS MATERIALIZED (
       |  SELECT coalesce(max(c), 8) AS cap FROM (
       |    SELECT l.c AS c,
       |      sum(CASE WHEN n.bn <= l.c THEN n.bn * (n.bn - 1) // 2
       |               ELSE n.bn - 1 END * n.k) AS v
       |    FROM (VALUES (8), (16), (32), (64), (128), (256)) l(c), census n
       |    GROUP BY 1) vols
       |  WHERE vols.v <= $perDoc * (SELECT sum(bn * k) // $bandsPerDoc
       |                             FROM census)),
       |""".stripMargin

  /** r13: the engine's banded pipelines default to the budget-derived
    * cap (Dedup.DefaultCandidateBudget = 64/doc), so the oracle default
    * mirrors the same derivation; pass None only for an entry that
    * explicitly pins the fixed-cap escape hatch.
    */
  private def wordGramPolyCandCte(n: Int = 3, bandSize: Int = 2,
                                  autoCapPerDoc: Option[Int] = Some(64)) = {
    val bandSelects = (0 until 8 / bandSize).map { b =>
      val cat = (b * bandSize until (b + 1) * bandSize)
        .map(j => s"CAST(m$j AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band_id, $cat AS band FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    // the budgeted-cap mirror of Dedup.autoBucketCap: bucket-size
    // census → worst-case candidate volume per ladder rung → largest
    // rung within perDoc × nDocs (nDocs = Σ bn·k / bands-per-doc)
    val capCtes = autoCapPerDoc.map(capvCtesSql(_, 8 / bandSize)).getOrElse("")
    val capSql =
      if (autoCapPerDoc.isDefined) "(SELECT cap FROM capv)" else "256"
    s"""${wordGramSigCte(n)},
       |hashes AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM grams),
       |bands AS MATERIALIZED (
       |  $bandSelects),
       |bsize AS MATERIALIZED (SELECT band_id, band, count(*) AS bn, min(doc_id) AS anchor
       |          FROM bands GROUP BY 1, 2),
       |${capCtes}cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM bands a
       |    JOIN bands b ON a.band_id = b.band_id AND a.band = b.band
       |                AND a.doc_id < b.doc_id
       |    JOIN bsize s ON s.band_id = a.band_id AND s.band = a.band AND s.bn <= $capSql
       |    UNION ALL
       |    SELECT s.anchor AS doc_a, a.doc_id AS doc_b
       |    FROM bands a
       |    JOIN bsize s ON s.band_id = a.band_id AND s.band = a.band
       |    WHERE s.bn > $capSql AND a.doc_id > s.anchor)),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN hashes sa ON sa.doc_id = c.doc_a
       |  JOIN hashes sb ON sb.doc_id = c.doc_b AND sa.h = sb.h
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM hashes GROUP BY 1)""".stripMargin
  }

  /** One unrolled integer-PageRank iteration for the dedup_pagerank
    * oracle: r<i> from r<i-1> — ONE body, generated per iteration, so
    * the contribution term cannot drift between copies (it must stay in
    * lockstep with GraphMetrics.pageRankMicro).
    */
  /** The whole dedup_pagerank(_w) oracle from ONE body: recursive-CTE
    * labels, (weighted) degree, 3 generated PR iterations, and the
    * shared rank/keep tail — the weighted and unweighted gates cannot
    * drift apart (same reason trianglesOracleSql is shared).
    */
  private def prOracleSql(weighted: Boolean): String = {
    // MATERIALIZED fences throughout: edges/deg/r_i are each referenced
    // by several later CTEs, and DuckDB's per-reference inlining would
    // otherwise re-run the whole gram pipeline per reference — measured
    // ~30× on the oracle wall time (43 s → under 2 s at sf0.01), same
    // rows/hash (the fence is purely an evaluation strategy)
    val edgeCtes =
      if (weighted)
        """ew AS MATERIALIZED (SELECT doc_a, doc_b,
          |         CAST(floor(jaccard * 10000) AS BIGINT) AS w FROM pairs),
          |edges AS MATERIALIZED (
          |  SELECT doc_a AS src, doc_b AS dst, w FROM ew
          |  UNION ALL
          |  SELECT doc_b AS src, doc_a AS dst, w FROM ew),""".stripMargin
      else
        """edges AS MATERIALIZED (
          |  SELECT doc_a AS src, doc_b AS dst FROM pairs
          |  UNION ALL
          |  SELECT doc_b AS src, doc_a AS dst FROM pairs),""".stripMargin
    val degCte =
      if (weighted)
        "deg AS MATERIALIZED (SELECT src AS doc_id, CAST(sum(w) AS BIGINT) AS wsum FROM edges GROUP BY 1)"
      else "deg AS MATERIALIZED (SELECT src AS doc_id, count(*) AS deg FROM edges GROUP BY 1)"
    s"""WITH RECURSIVE $augSql,
       |${wordGramPolyPairsCte(0.5)},
       |$edgeCtes
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS lbl FROM docs
       |  UNION
       |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
       |lab AS MATERIALIZED (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1),
       |$degCte,
       |r0 AS MATERIALIZED (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM docs),
       |${(1 to 3).map(prIterSql(_, weighted, materialized = true)).mkString(",\n")},
       |rk AS (
       |  SELECT l.doc_id, l.cluster_id, r.r AS rank_micro,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY r.r DESC, l.doc_id) AS rk
       |  FROM lab l JOIN r3 r USING (doc_id)),
       |can AS (SELECT cluster_id,
       |          min(CASE WHEN rk = 1 THEN doc_id END) AS canonical_id
       |        FROM rk GROUP BY 1)
       |SELECT k.doc_id, k.cluster_id, k.rank_micro, (k.rk = 1) AS keep,
       |  c.canonical_id
       |FROM rk k JOIN can c USING (cluster_id)
       |ORDER BY k.doc_id""".stripMargin
  }

  /** The dedup_pagerank_conv oracle: the same generated unweighted PR
    * iterations as [[prOracleSql]] (one body — the trace cannot drift
    * from the rank gate), 10 deep, then per-iteration Σ|Δr| in exact
    * micro-units. `sum` casts back to BIGINT (DuckDB widens BIGINT sums
    * to HUGEINT, which the comparator renders differently).
    */
  private def prConvOracleSql(iters: Int): String = {
    val deltas = (1 to iters).map { i =>
      s"""SELECT $i AS iter, CAST(sum(abs(a.r - b.r)) AS BIGINT) AS delta_micro
         |  FROM r$i a JOIN r${i - 1} b USING (doc_id)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $augSql,
       |${wordGramPolyPairsCte(0.5)},
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
       |r0 AS MATERIALIZED (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM docs),
       |${(1 to iters).map(prIterSql(_, materialized = true)).mkString(",\n")},
       |deltas AS (
       |  $deltas)
       |SELECT iter, delta_micro FROM deltas ORDER BY iter""".stripMargin
  }

  private def prIterSql(i: Int, weighted: Boolean = false,
                        materialized: Boolean = false): String = {
    val numer = if (weighted) "(r.r * 850 * e.w)" else "(r.r * 850)"
    val denom = if (weighted) "(g.wsum * 1000)" else "(g.deg * 1000)"
    // MATERIALIZED stops DuckDB inlining a CTE per reference: the
    // convergence oracle references every r_i TWICE (next iteration +
    // its delta row), and 10 inlined levels double per level — an
    // exponential plan that exhausts file handles re-opening the
    // corpus parquet. The 3-iteration rank oracles stay on the default.
    s"""r$i AS ${if (materialized) "MATERIALIZED " else ""}(
       |  SELECT d.doc_id,
       |    CAST(150000 + COALESCE(sum($numer // $denom), 0) AS BIGINT) AS r
       |  FROM docs d
       |  LEFT JOIN edges e ON e.dst = d.doc_id
       |  LEFT JOIN r${i - 1} r ON r.doc_id = e.src
       |  LEFT JOIN deg g ON g.doc_id = e.src
       |  GROUP BY 1)""".stripMargin
  }

  private def wordGramPolyPairsCte(threshold: Double, n: Int = 3,
                                   bandSize: Int = 2) =
    s"""${wordGramPolyCandCte(n, bandSize)},
       |pairs AS MATERIALIZED (
       |  SELECT i.doc_a, i.doc_b,
       |    CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
       |  FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
       |               JOIN sizes zb ON zb.doc_id = i.doc_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= $threshold)""".stripMargin

  private def wordGramPolySql(threshold: Double, n: Int = 3, bandSize: Int = 2) =
    s"""${wordGramPolyPairsCte(threshold, n, bandSize)}
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  // shared by dedup_triangles and dedup_triangles_deg: orientation is a
  // fan-out strategy, not semantics, so one enumeration oracles both
  private lazy val trianglesOracleSql =
    s"""WITH $augSql,
       |${wordGramPolyPairsCte(0.5)},
       |e AS (
       |  SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
       |  FROM pairs WHERE doc_a <> doc_b),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM (SELECT x AS doc_id FROM tri UNION ALL SELECT y FROM tri
       |      UNION ALL SELECT z FROM tri)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH $augSql
         |SELECT doc_id, md5(text) AS text_hash,
         |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         |  count(*) OVER (PARTITION BY md5(text)) AS n_copies,
         |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
         |FROM docs ORDER BY doc_id""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $augSql,
         |${wordGramPolySql(0.5)}""".stripMargin,

    "dedup_ngram" ->
      s"""WITH $augSql,
         |${charGramSql(0.6, n = 5, bandSize = 4)}""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $augSql,
         |${wordGramPolyPairsCte(0.5)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM docs
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id)
         |SELECT id AS doc_id, min(lbl) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // same recursive component walk -> per-size impact rollup; chars
    // dropped = cluster total minus its longest member
    "dedup_report" ->
      s"""WITH RECURSIVE $augSql,
         |${wordGramPolyPairsCte(0.5)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM docs
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
         |lab AS (
         |  SELECT id AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY 1),
         |cl AS (
         |  SELECT l.cluster_id, count(*) AS sz,
         |    sum(length(d.text)) AS chars, max(length(d.text)) AS kept
         |  FROM lab l JOIN docs d ON d.doc_id = l.doc_id
         |  GROUP BY 1)
         |SELECT sz AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(sum(chars) AS BIGINT) AS chars_total,
         |  CAST(sum(chars - kept) AS BIGINT) AS chars_dropped
         |FROM cl GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    // same recursive component walk, split hashed on the CLUSTER id —
    // the text_split bucket idiom applied to min-label components
    "dedup_split" ->
      s"""WITH RECURSIVE $augSql,
         |${wordGramPolyPairsCte(0.5)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM docs
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
         |lab AS (
         |  SELECT id AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY 1),
         |b AS (
         |  SELECT doc_id, cluster_id,
         |    ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100
         |      AS bucket
         |  FROM lab)
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    // clusters (same recursive walk) -> survivor per cluster: longest
    // text, ties to the lowest id; every row carries its canonical
    "dedup_keep" ->
      s"""WITH RECURSIVE $augSql,
         |${wordGramPolyPairsCte(0.5)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM docs
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
         |lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1),
         |len AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM docs),
         |rk AS (
         |  SELECT l.doc_id, l.cluster_id, n.n_chars,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |      ORDER BY n.n_chars DESC, l.doc_id) AS rk
         |  FROM lab l JOIN len n USING (doc_id)),
         |can AS (SELECT cluster_id,
         |          min(CASE WHEN rk = 1 THEN doc_id END) AS canonical_id
         |        FROM rk GROUP BY 1)
         |SELECT r.doc_id, r.cluster_id, r.n_chars, (r.rk = 1) AS keep, c.canonical_id
         |FROM rk r JOIN can c USING (cluster_id)
         |ORDER BY r.doc_id""".stripMargin,

    // labels via the recursive walk; 3 PageRank iterations unrolled in
    // exact integer micro-units — `//` (DuckDB) and `div` (Spark) agree
    // on positive BIGINTs, so the ranks hash identically
    "dedup_pagerank" -> prOracleSql(weighted = false),

    // weighted variant: w = floor(jaccard * 10000) (the jaccard double
    // is already cross-engine exact); weighted degree replaces count
    "dedup_pagerank_w" -> prOracleSql(weighted = true),

    // convergence trace: same generated iteration body, 10 deep,
    // per-iteration Σ|Δrank| in exact micro-units
    "dedup_pagerank_conv" -> prConvOracleSql(10),

    // bounded recursive walk: min distance within 4 hops; the UNION
    // (not UNION ALL) recursion dedups (id, d) states so dense
    // clusters don't multiply paths
    "dedup_reach" ->
      s"""WITH RECURSIVE $augSql,
         |${wordGramPolyPairsCte(0.5)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE doc_a <> doc_b
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE doc_a <> doc_b),
         |walk AS (
         |  SELECT doc_id AS id, 0 AS d FROM docs WHERE doc_id % 97 = 0
         |  UNION
         |  SELECT e.dst AS id, w.d + 1 AS d FROM walk w
         |  JOIN edges e ON e.src = w.id WHERE w.d < 4)
         |SELECT id AS doc_id, CAST(min(d) AS BIGINT) AS dist
         |FROM walk GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "dedup_triangles" -> trianglesOracleSql,
    // degree orientation is fan-out strategy, not semantics: the exact
    // same relational triangle enumeration is the oracle for both
    "dedup_triangles_deg" -> trianglesOracleSql,

    "dedup_simhash" ->
      s"""WITH $augSql,
         |words AS (
         |  SELECT DISTINCT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w FROM docs)
         |  WHERE w <> ''),
         |wh AS (SELECT DISTINCT doc_id, md5(w) AS h FROM words),
         |bits AS (
         |  SELECT doc_id, p.p, b.b,
         |    CASE WHEN (CAST(instr('0123456789abcdef', substr(h, CAST(p.p AS INT), 1)) - 1 AS INT)
         |               // CAST(power(2, b.b) AS INT)) % 2 = 1
         |         THEN 1 ELSE -1 END AS v
         |  FROM wh, (SELECT unnest(generate_series(1, 16)) AS p) p,
         |       (SELECT unnest(generate_series(0, 3)) AS b) b),
         |sums AS (SELECT doc_id, p, b, sum(v) AS s FROM bits GROUP BY 1, 2, 3),
         |sig AS (
         |  SELECT doc_id,
         |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p, b) AS simhash
         |  FROM sums GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, simhash, substr(simhash, CAST(1 + 16 * k.k AS INT), 16) AS band
         |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS k) k),
         |bsize AS MATERIALIZED (SELECT band, count(*) AS bn, min(doc_id) AS anchor
         |          FROM bands GROUP BY band),
         |${capvCtesSql(64, 4)}cand AS (
         |  SELECT DISTINCT doc_a, sig_a, doc_b, sig_b FROM (
         |    SELECT a.doc_id AS doc_a, a.simhash AS sig_a,
         |           b.doc_id AS doc_b, b.simhash AS sig_b
         |    FROM bands a
         |    JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |    JOIN bsize s ON s.band = a.band AND s.bn <= (SELECT cap FROM capv)
         |    UNION ALL
         |    SELECT s.anchor AS doc_a, sa.simhash AS sig_a,
         |           a.doc_id AS doc_b, a.simhash AS sig_b
         |    FROM bands a
         |    JOIN bsize s ON s.band = a.band
         |    JOIN sig sa ON sa.doc_id = s.anchor
         |    WHERE s.bn > (SELECT cap FROM capv) AND a.doc_id > s.anchor)),
         |ham AS (
         |  SELECT doc_a, doc_b,
         |    (SELECT count(*) FROM unnest(generate_series(1, 64)) AS t(p)
         |     WHERE substr(sig_a, CAST(t.p AS INT), 1) <> substr(sig_b, CAST(t.p AS INT), 1)) AS hamming
         |  FROM cand)
         |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS n_tokens,
        |  CAST(list_sum(list_transform(
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), p -> p <> ''),
        |    p -> (length(p) + 3) // 4)) AS BIGINT) AS n_subwords,
        |  length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_bpe" ->
      """WITH wrd AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), p -> p <> '')) AS w
        |  FROM documents),
        |v AS (SELECT w, count(*) AS freq FROM wrd GROUP BY 1),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |  FROM v, unnest(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |    / length(text) AS digit_ratio,
        |  CAST(len(list_filter(toks, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE)
        |    / len(toks) AS stopword_ratio,
        |  CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) AS mean_word_len
        |FROM t ORDER BY doc_id""".stripMargin,

    // exact percentile cutoff over the integer quality score: histogram
    // → desc cumulative → max score with cum ≥ ceil(n·0.3), ties kept
    "text_quantile" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_c,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_c,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> list_contains(['the','a','of','and','to','in','is'], w))) AS BIGINT) AS stop_c
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    stop_c * 1000000 // n_tokens - punct_c * 1000000 // n_chars
        |      - digit_c * 1000000 // n_chars AS score_q
        |  FROM t WHERE n_tokens > 0),
        |h AS (SELECT score_q, count(*) AS cnt FROM s GROUP BY 1),
        |c AS (SELECT score_q, sum(cnt) OVER (ORDER BY score_q DESC) AS cum FROM h),
        |n AS (SELECT sum(cnt) AS n_total FROM h),
        |cut AS (SELECT max(score_q) AS cutoff FROM c, n
        |        WHERE cum * 1000000 >= n_total * 300000)
        |SELECT s.doc_id, s.score_q FROM s, cut WHERE s.score_q >= cut.cutoff
        |ORDER BY s.doc_id""".stripMargin,

    // token-budget selection: same score CTEs, histogram of token sums,
    // cutoff = max score whose desc cumulative crosses the budget
    "text_budget" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_c,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_c,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> list_contains(['the','a','of','and','to','in','is'], w))) AS BIGINT) AS stop_c
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    stop_c * 1000000 // n_tokens - punct_c * 1000000 // n_chars
        |      - digit_c * 1000000 // n_chars AS score_q
        |  FROM t WHERE n_tokens > 0),
        |h AS (SELECT score_q, sum(n_tokens) AS tok FROM s GROUP BY 1),
        |c AS (SELECT score_q, sum(tok) OVER (ORDER BY score_q DESC) AS cum FROM h),
        |cut AS (SELECT coalesce(max(score_q), -9223372036854775808) AS cutoff
        |        FROM c WHERE cum >= 24000)
        |SELECT s.doc_id, s.n_tokens, s.score_q FROM s, cut
        |WHERE s.score_q >= cut.cutoff
        |ORDER BY s.doc_id""".stripMargin,

    // exact length percentiles off the bounded histogram (quantile_disc
    // semantics written out relationally so the definition is pinned)
    "text_lenstats" ->
      """WITH t AS (
        |  SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |h AS (SELECT n_tokens, count(*) AS cnt FROM t GROUP BY 1),
        |c AS (SELECT n_tokens, sum(cnt) OVER (ORDER BY n_tokens) AS cum FROM h),
        |tot AS (SELECT sum(cnt) AS n_docs, sum(n_tokens * cnt) AS tok_total,
        |               min(n_tokens) AS mn, max(n_tokens) AS mx FROM h),
        |p AS (SELECT 'p' || pv AS metric, CAST(min(n_tokens) AS DOUBLE) AS value
        |      FROM c, tot, (SELECT unnest([50, 90, 99]) AS pv) ps
        |      WHERE cum * 100 >= n_docs * pv GROUP BY pv)
        |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM tot
        |UNION ALL SELECT 'tok_total', CAST(tok_total AS DOUBLE) FROM tot
        |UNION ALL SELECT 'mean', CAST(tok_total AS DOUBLE) / n_docs FROM tot
        |UNION ALL SELECT 'min', CAST(mn AS DOUBLE) FROM tot
        |UNION ALL SELECT 'max', CAST(mx AS DOUBLE) FROM tot
        |UNION ALL SELECT metric, value FROM p
        |ORDER BY metric""".stripMargin,

    "text_fertility" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w <> '')) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), p -> p <> ''),
        |      p -> (length(p) + 3) // 4)) AS BIGINT) AS n_subwords
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_total,
        |  CAST(sum(n_subwords) AS BIGINT) AS subword_total,
        |  CAST(sum(n_subwords) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS fertility
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    // mixture rebalance: quota = share·200 div 1e6 per lang, md5-rank
    // selection within each lang, quota-capped
    "text_rebalance" ->
      """WITH q AS (
        |  SELECT * FROM (VALUES ('en', 400000 * 200 // 1000000),
        |                        ('de', 300000 * 200 // 1000000),
        |                        ('es', 200000 * 200 // 1000000),
        |                        ('fr', 100000 * 200 // 1000000)) AS v(grp, quota)),
        |r AS (
        |  SELECT d.doc_id, d.lang AS grp, q.quota,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':rebal'), d.doc_id) AS rb_rank
        |  FROM documents d JOIN q ON q.grp = d.lang)
        |SELECT doc_id, grp, rb_rank FROM r WHERE rb_rank <= quota
        |ORDER BY doc_id""".stripMargin,

    // fixed-window chunking with overlap: stride 48, chunk i covers
    // tokens [i*48, i*48+64), last chunk shorter; hash stands for text
    "text_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, n, unnest(generate_series(0, (n - 1) // 48)) AS chunk_id
        |  FROM n),
        |ck AS (
        |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    list_slice(toks, chunk_id * 48 + 1, least(chunk_id * 48 + 64, n)) AS w
        |  FROM c)
        |SELECT doc_id, chunk_id, CAST(len(w) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(w, ' ')) AS chunk_hash
        |FROM ck ORDER BY doc_id, chunk_id""".stripMargin,

    // threshold sweep off the same score CTEs as text_quantile:
    // survivors per tau as counts and exact ppm rates
    "text_sweep" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_c,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_c,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> list_contains(['the','a','of','and','to','in','is'], w))) AS BIGINT) AS stop_c
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    stop_c * 1000000 // n_tokens - punct_c * 1000000 // n_chars
        |      - digit_c * 1000000 // n_chars AS score_q
        |  FROM t WHERE n_tokens > 0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM s),
        |taus AS (SELECT unnest([-50000, 0, 50000, 100000, 150000]) AS tau),
        |k AS (
        |  SELECT taus.tau, CAST(count(*) AS BIGINT) AS keep_docs,
        |    CAST(sum(s.n_tokens) AS BIGINT) AS keep_tokens
        |  FROM taus JOIN s ON s.score_q >= taus.tau
        |  GROUP BY taus.tau)
        |SELECT CAST(k.tau AS BIGINT) AS tau, k.keep_docs, k.keep_tokens,
        |  k.keep_docs * 1000000 // tot.n_docs AS doc_rate_ppm,
        |  k.keep_tokens * 1000000 // tot.n_tokens AS token_rate_ppm
        |FROM k, tot ORDER BY tau""".stripMargin,

    "text_langid" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, w -> list_contains(['der','die','das','und','nicht','ist'], w))) AS s_de,
        |    len(list_filter(toks, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS s_en,
        |    len(list_filter(toks, w -> list_contains(['el','los','las','una','y','es'], w))) AS s_es,
        |    len(list_filter(toks, w -> list_contains(['le','les','et','est','une','dans'], w))) AS s_fr
        |  FROM t)
        |SELECT doc_id, s_de, s_en, s_es, s_fr,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    "text_split" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
        |       THEN 'val' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, md5(norm_text) AS norm_hash
        |FROM n ORDER BY doc_id""".stripMargin,

    "text_topterms" ->
      """WITH words AS (
        |  SELECT doc_id, w AS term FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |    FROM documents)
        |  WHERE w <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * (nn.n + 1.0) / (df.df + 1.0) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN nn),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, tf, df, score, rnk FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> ''))), ' ')) AS bag_fingerprint,
        |  md5(trim(lower(text))) AS text_fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_metadata" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum,
        |  CAST(octet_length(encode(text)) % 640 AS INT) AS width,
        |  CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id, n_frames, CAST(t.f AS INT) AS frame_idx
        |FROM v, unnest(generate_series(0, n_frames - 1,
        |  greatest(1, (n_frames + 3) // 4))) AS t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // analytic model of the BMP/WAV/PNG render+decode roundtrip: the
    // engine parses real file bytes (incl. zlib-inflating the PNG IDAT
    // and verifying chunk CRCs); the oracle recomputes the parametric
    // pixel/sample formulas the renderer used — any header/padding/
    // endianness/compression defect in encode OR decode breaks the hash
    "mm_decode" ->
      """WITH par AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'png' END AS fmt,
        |    CASE WHEN doc_id % 3 = 1 THEN 0 ELSE doc_id % 16 + 4 END AS width,
        |    CASE WHEN doc_id % 3 = 1 THEN 0 ELSE doc_id % 9 + 3 END AS height,
        |    CASE WHEN doc_id % 3 = 1 THEN 8000 ELSE 0 END AS sample_rate,
        |    CASE doc_id % 3
        |      WHEN 0 THEN (doc_id % 16 + 4) * (doc_id % 9 + 3) * 3
        |      WHEN 1 THEN doc_id % 50 + 10
        |      ELSE (doc_id % 16 + 4) * (doc_id % 9 + 3) END AS n_units
        |  FROM documents),
        |vals AS (
        |  SELECT doc_id,
        |    CASE fmt WHEN 'bmp' THEN (doc_id * 31 + k) % 256
        |             WHEN 'png' THEN (doc_id * 53 + k) % 256
        |             ELSE (doc_id * 131 + k * 17) % 65536 - 32768 END AS v
        |  FROM (SELECT doc_id, fmt,
        |          unnest(generate_series(0, n_units - 1)) AS k FROM par)),
        |agg AS (
        |  SELECT doc_id, CAST(sum(v) AS DOUBLE) / count(*) AS mean_val,
        |         min(v) AS min_val, max(v) AS max_val
        |  FROM vals GROUP BY 1)
        |SELECT p.doc_id, p.fmt, p.width, p.height, p.sample_rate, p.n_units,
        |       a.mean_val, a.min_val, a.max_val
        |FROM par p JOIN agg a USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,

    "text_pack" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, shard, n_tokens,
        |    -- DuckDB SUM(BIGINT) is HUGEINT; pin back to BIGINT
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
        |  FROM tok)
        |SELECT doc_id, shard, n_tokens,
        |  tokens_before // 256 AS bin,
        |  tokens_before % 256 AS offset_in_bin
        |FROM packed ORDER BY doc_id""".stripMargin,

    "text_pii" ->
      """WITH aug AS (
        |  SELECT doc_id, lower(text || ' contact user' || doc_id ||
        |    '@example.com from 10.0.' || (doc_id % 256) || '.7 tel +1415555' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t, '\+[0-9]{7,15}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+[0-9]{7,15}', '<PHONE>', 'g')) AS redacted_hash
        |FROM aug ORDER BY doc_id""".stripMargin,

    "text_sample" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 8))::BIGINT % 10000 AS sample_bucket,
        |    doc_id % 3 AS strat_class
        |  FROM documents)
        |SELECT doc_id, sample_bucket, strat_class FROM b
        |WHERE sample_bucket < CASE strat_class WHEN 0 THEN 10000
        |                                       WHEN 1 THEN 5000 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,

    "text_decontam" ->
      """WITH words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w,
        |           generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
        |    FROM documents) WHERE w <> ''),
        |sh AS (
        |  SELECT doc_id,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' ||
        |    lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win || ' ' ||
        |    lead(w, 5) OVER win || ' ' || lead(w, 6) OVER win || ' ' ||
        |    lead(w, 7) OVER win AS shingle
        |  FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |hashes AS (
        |  SELECT doc_id, substr(md5(shingle), 1, 16) AS h
        |  FROM sh WHERE shingle IS NOT NULL),
        |bench AS (SELECT DISTINCT h FROM hashes WHERE doc_id % 100 = 0),
        |matched AS (
        |  SELECT DISTINCT d.doc_id, d.h FROM hashes d JOIN bench b USING (h)),
        |overlap AS (SELECT doc_id, count(*) AS n_overlap FROM matched GROUP BY 1),
        |totals AS (
        |  SELECT doc_id,
        |    greatest(0, CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w <> '')) AS BIGINT) - 7) AS n_grams
        |  FROM documents)
        |SELECT t.doc_id, t.n_grams,
        |  COALESCE(o.n_overlap, 0) AS n_overlap,
        |  COALESCE(o.n_overlap, 0) > 0 AS contaminated
        |FROM totals t LEFT JOIN overlap o ON o.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "text_curate" ->
      s"""WITH $augSql,
         |canon AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS can
         |    FROM docs) WHERE can),
         |counted AS (
         |  SELECT d.doc_id, d.text,
         |    CAST(len(list_filter(string_split_regex(lower(d.text), '\\s+'),
         |      w -> w <> '')) AS BIGINT) AS n_tokens
         |  FROM docs d JOIN canon USING (doc_id)),
         |q AS (SELECT * FROM counted WHERE n_tokens >= 5),
         |qwords AS (
         |  SELECT doc_id, w, i FROM (
         |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w,
         |           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS i
         |    FROM q) WHERE w <> ''),
         |qsh AS (
         |  SELECT doc_id,
         |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' ||
         |    lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win || ' ' ||
         |    lead(w, 5) OVER win || ' ' || lead(w, 6) OVER win || ' ' ||
         |    lead(w, 7) OVER win AS shingle
         |  FROM qwords WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
         |qh AS (SELECT doc_id, substr(md5(shingle), 1, 16) AS h
         |       FROM qsh WHERE shingle IS NOT NULL),
         |bwords AS (
         |  SELECT doc_id, w, i FROM (
         |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w,
         |           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS i
         |    FROM documents WHERE doc_id % 100 = 0) WHERE w <> ''),
         |bsh AS (
         |  SELECT doc_id,
         |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' ||
         |    lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win || ' ' ||
         |    lead(w, 5) OVER win || ' ' || lead(w, 6) OVER win || ' ' ||
         |    lead(w, 7) OVER win AS shingle
         |  FROM bwords WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
         |bh AS (SELECT DISTINCT substr(md5(shingle), 1, 16) AS h
         |       FROM bsh WHERE shingle IS NOT NULL),
         |contaminated AS (SELECT DISTINCT d.doc_id FROM qh d JOIN bh USING (h)),
         |clean AS (
         |  SELECT q.doc_id, q.n_tokens FROM q
         |  LEFT JOIN contaminated c ON c.doc_id = q.doc_id
         |  WHERE c.doc_id IS NULL)
         |SELECT doc_id, n_tokens,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
         |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
         |       THEN 'train'
         |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
         |       THEN 'val' ELSE 'test' END AS split
         |FROM clean ORDER BY doc_id""".stripMargin,

    "text_mixture" ->
      """WITH per AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w <> ''))) AS BIGINT) AS n_tokens,
        |    CAST(sum(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang, n_docs, n_tokens, n_chars,
        |  CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share,
        |  CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share
        |FROM per ORDER BY source, lang""".stripMargin,

    "text_modelscore" ->
      """WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |    FROM documents) WHERE w <> ''),
        |b AS (SELECT doc_id,
        |        ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS bk
        |      FROM words),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum((bk * 2654435761) % 1000 - 500) AS BIGINT) AS logit_milli
        |  FROM b GROUP BY 1)
        |SELECT doc_id, n_tokens, logit_milli,
        |  CAST(logit_milli AS DOUBLE) / 1000.0 AS logit,
        |  CAST(logit_milli AS DOUBLE) / 1000.0 >= 0 AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    "text_longdup" ->
      s"""WITH $augSql,
         |base AS (SELECT doc_id, lower(text) AS t FROM docs
         |         WHERE length(lower(text)) >= 32),
         |pos AS (
         |  SELECT doc_id, t, g.i, ${polyFoldSql(8)} AS h
         |  FROM base, unnest(generate_series(1, length(t) - 7)) AS g(i)),
         |spans AS (
         |  SELECT doc_id, substr(t, CAST(i AS INT), 32) AS span
         |  FROM pos WHERE h % 16 = 0 AND i <= length(t) - 31)
         |SELECT span, count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_occurrences, min(doc_id) AS first_doc_id
         |FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY span""".stripMargin,

    "text_repetition" ->
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3 * $offSql, text || ' ' || text FROM documents
        |  WHERE doc_id % 19 = 0),
        |words AS (
        |  SELECT doc_id, w, i FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w,
        |           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS i
        |    FROM docs) WHERE w <> ''),
        |g AS (
        |  SELECT doc_id,
        |    w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS shingle
        |  FROM words),
        |gc AS (SELECT doc_id, shingle, count(*) AS cnt FROM g
        |       WHERE shingle IS NOT NULL GROUP BY 1, 2),
        |ga AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams2,
        |              max(cnt) AS top2_cnt,
        |              CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup2_cnt
        |       FROM gc GROUP BY 1),
        |wc AS (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY 1, 2),
        |wa AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
        |              max(cnt) AS topw_cnt
        |       FROM wc GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(wa.n_words, 0) AS n_words,
        |  CASE WHEN wa.n_words > 0
        |       THEN CAST(wa.topw_cnt AS DOUBLE) / CAST(wa.n_words AS DOUBLE) END AS top_word_frac,
        |  COALESCE(ga.n_grams2, 0) AS n_grams2,
        |  CASE WHEN ga.n_grams2 > 0
        |       THEN CAST(ga.top2_cnt AS DOUBLE) / CAST(ga.n_grams2 AS DOUBLE) END AS top_bigram_frac,
        |  CASE WHEN ga.n_grams2 > 0
        |       THEN CAST(ga.dup2_cnt AS DOUBLE) / CAST(ga.n_grams2 AS DOUBLE) END AS dup_bigram_frac
        |FROM docs d LEFT JOIN wa ON wa.doc_id = d.doc_id
        |            LEFT JOIN ga ON ga.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_sample_perkey" ->
      """WITH r AS (
        |  SELECT doc_id, doc_id % 7 AS smp_key,
        |    md5(CAST(doc_id AS VARCHAR) || ':perkey') AS smp_h,
        |    row_number() OVER (PARTITION BY doc_id % 7
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':perkey'), doc_id) AS smp_rank
        |  FROM documents)
        |SELECT doc_id, smp_key, smp_h, smp_rank FROM r WHERE smp_rank <= 10
        |ORDER BY smp_key, smp_rank""".stripMargin,

    // same poly-gram scaffold as dedup_minhash, bandSize 1, overlap
    // coefficient (÷ smaller set) instead of Jaccard; bucket cap
    // derived from the band census at ≤64 candidates/doc (r12)
    "dedup_containment" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3 * $offSql,
         |    array_to_string((string_split(text, ' '))[1:12], ' ')
         |  FROM documents WHERE doc_id % 11 = 0
         |  UNION ALL
         |  SELECT doc_id + 2 * $offSql, text FROM documents WHERE doc_id % 23 = 0),
         |${wordGramPolyCandCte(3, 1, autoCapPerDoc = Some(64))},
         |pairs AS (
         |  SELECT i.doc_a, i.doc_b,
         |    CAST(i.n_inter AS DOUBLE) / CAST(least(za.n, zb.n) AS DOUBLE) AS overlap
         |  FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
         |               JOIN sizes zb ON zb.doc_id = i.doc_b
         |  WHERE CAST(i.n_inter AS DOUBLE) / CAST(least(za.n, zb.n) AS DOUBLE) >= 0.9)
         |SELECT doc_a, doc_b, overlap FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    "text_boilerplate" ->
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4 * $offSql,
        |    'please enable javascript to continue' || chr(10) ||
        |    '{ "consent": true }' || chr(10) ||
        |    'we use cookies on this site' || chr(10) || text
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 5 * $offSql,
        |    'the quick brown fox jumps over the lazy dog.' || chr(10) ||
        |    text || ' and that is the end of it.'
        |  FROM documents WHERE doc_id % 31 = 0),
        |b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      l -> substr(l, length(l), 1) IN ('.', '!', '?'))) AS BIGINT) AS n_punct_lines,
        |    (contains(text, '{') OR contains(text, '}')) AS has_brace,
        |    (contains(lower(text), 'javascript') OR contains(lower(text), 'cookie')
        |      OR contains(lower(text), 'privacy policy')
        |      OR contains(lower(text), 'terms of use')) AS has_boilerplate
        |  FROM docs)
        |SELECT doc_id, n_lines, n_words, n_punct_lines, has_brace, has_boilerplate,
        |  CAST(n_words AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mean_words_per_line,
        |  CAST(n_punct_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS frac_punct_lines,
        |  (NOT has_brace AND NOT has_boilerplate
        |    AND CAST(n_words AS DOUBLE) / CAST(n_lines AS DOUBLE) >= 4.0) AS keep
        |FROM b ORDER BY doc_id""".stripMargin,

    // α = 0.5 temperature reweighting over lang: s_d = floor(sqrt(n_d)·1e6)
    // quantized BEFORE the cross-domain sum (integer sum ⇒ order-free),
    // rate = one fixed parenthesized double sequence, md5 gate per doc
    "text_tempsample" ->
      """WITH c AS (SELECT lang AS domain, count(*) AS n_domain
        |           FROM documents GROUP BY 1),
        |s AS (SELECT domain, n_domain,
        |        CAST(floor(sqrt(CAST(n_domain AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_d
        |      FROM c),
        |t AS (SELECT sum(s_d) AS s_tot, sum(n_domain) AS n_tot FROM s),
        |r AS (SELECT domain, n_domain,
        |        least(10000, CAST(floor(CAST(s_d AS DOUBLE) / CAST(s_tot AS DOUBLE)
        |          * 0.5 * CAST(n_tot AS DOUBLE)
        |          / CAST(n_domain AS DOUBLE) * 10000.0) AS BIGINT)) AS rate_bp
        |      FROM s, t)
        |SELECT d.doc_id, d.lang AS domain, r.n_domain, r.rate_bp
        |FROM documents d JOIN r ON r.domain = d.lang
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':temp'), 1, 8))::BIGINT % 10000
        |      < r.rate_bp
        |ORDER BY d.doc_id""".stripMargin,

    // cold band-census histogram over the final image's signature
    // store: 4 bands per doc (bkey = band_id | m2b : m2b+1), bucket
    // sizes, then size histogram — the streamed, incrementally
    // maintained bandhist table must land exactly here
    "q_stream_census" -> {
      val bands = (0 until 4).map(b =>
        s"""SELECT doc_id, '$b|' || CAST(m${2 * b} AS VARCHAR) || ':' ||
           |  CAST(m${2 * b + 1} AS VARCHAR) AS bkey FROM sig""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 5 = 2 THEN ' changed v3' ELSE '' END AS text
         |  FROM documents),
         |${wordGramSigCte(3)},
         |bands AS (
         |  $bands),
         |bsize AS (SELECT bkey, CAST(count(*) AS BIGINT) AS bn
         |          FROM bands GROUP BY 1)
         |SELECT bn, CAST(count(*) AS BIGINT) AS k
         |FROM bsize GROUP BY 1 ORDER BY bn""".stripMargin
    },

    // the full-corpus poly pair set restricted to pairs touching the
    // incoming batch (ids ≥ off) — band index, caps, and verify are
    // population-identical between the incremental probe and the full
    // self-join, so the restriction IS the incremental result
    "dedup_incremental" ->
      s"""WITH $augSql,
         |${wordGramPolyPairsCte(0.5)}
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE doc_a >= $offSql OR doc_b >= $offSql
         |ORDER BY doc_a, doc_b""".stripMargin,

    // deterministic shuffle: shard = h % 16, pos = rank on (h, id)
    // within shard — one fixed permutation, engine-independent
    "text_shard" ->
      """WITH h AS (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 12))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 16 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,

    // BM25 with the linear (log-free) rarity weight, denominators
    // cleared so every (doc, term) contribution is one exact BIGINT
    // floor division (k1 = 1.2, b = 0.75, ×10^4 fixed point)
    "text_bm25" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
        |      FROM base WHERE len(toks) > 0),
        |t AS (SELECT sum(dl) AS s_tot, count(*) AS n_docs FROM b),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b)
        |       WHERE term IN ('merge', 'window', 'stream') GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT tf.doc_id,
        |        (10000 * 22 * t.s_tot * tf.tf * (2 * t.n_docs - 2 * df.df + 1))
        |        // ((2 * df.df + 1)
        |           * (10 * t.s_tot * tf.tf + 3 * t.s_tot + 9 * tf.dl * t.n_docs)) AS q
        |      FROM tf JOIN df USING (term), t)
        |SELECT doc_id, CAST(sum(q) AS BIGINT) AS score_q,
        |  count(*) AS n_terms_hit,
        |  CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / 10000.0 AS score
        |FROM q GROUP BY doc_id
        |ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin,

    // vocab = words in ≥3 docs; OOV = token occurrences outside it
    "text_oov" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS toks
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(toks) AS w FROM base),
        |vocab AS (
        |  SELECT w FROM (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY 1)
        |  WHERE df >= 3),
        |j AS (SELECT words.doc_id, words.w, (v.w IS NOT NULL) AS in_vocab
        |      FROM words LEFT JOIN vocab v ON v.w = words.w)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  CAST(CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // planted-pair recall of the poly near-dup pass, in basis points
    "dedup_eval" ->
      s"""WITH $augSql,
         |${wordGramPolyPairsCte(0.5)},
         |planted AS (
         |  SELECT doc_id AS doc_a, doc_id + $offSql AS doc_b, 'near' AS kind
         |  FROM documents WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id AS doc_a, doc_id + 2 * $offSql AS doc_b, 'exact' AS kind
         |  FROM documents WHERE doc_id % 23 = 0),
         |hits AS (
         |  SELECT p.kind, p.doc_a, p.doc_b,
         |    CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM planted p LEFT JOIN pairs f
         |    ON f.doc_a = p.doc_a AND f.doc_b = p.doc_b)
         |SELECT kind, count(*) AS n_planted,
         |  CAST(sum(hit) AS BIGINT) AS n_found,
         |  (10000 * CAST(sum(hit) AS BIGINT)) // count(*) AS recall_bp
         |FROM hits GROUP BY kind ORDER BY kind""".stripMargin,

    // 2×2 average-pool over the engine's REAL decoded pixels vs the
    // closed-form pixel values (PNG: (id·53+k)%256 row-major; BMP:
    // 3-channel sum of (id·31+k)%256, storage order); patch =
    // ((2x)//w, (2y)//h), value = sum // count — all integer
    "mm_patches" ->
      """WITH img AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
        |    doc_id % 16 + 4 AS w, doc_id % 9 + 3 AS h
        |  FROM documents WHERE doc_id % 3 <> 1),
        |px AS (
        |  SELECT i.doc_id, i.fmt, i.w, i.h,
        |    CASE WHEN i.fmt = 'png'
        |         THEN (i.doc_id * 53 + ys.y * i.w + xs.x) % 256
        |         ELSE ((i.doc_id * 31 + ys.y * 3 * i.w + 3 * xs.x) % 256
        |             + (i.doc_id * 31 + ys.y * 3 * i.w + 3 * xs.x + 1) % 256
        |             + (i.doc_id * 31 + ys.y * 3 * i.w + 3 * xs.x + 2) % 256)
        |    END AS v,
        |    (2 * xs.x) // i.w AS gx, (2 * ys.y) // i.h AS gy
        |  FROM img i,
        |       unnest(generate_series(0, i.w - 1)) AS xs(x),
        |       unnest(generate_series(0, i.h - 1)) AS ys(y)),
        |pat AS (
        |  SELECT doc_id, fmt, w, h, gy * 2 + gx AS p,
        |    CAST(sum(v) AS BIGINT) // count(*) AS q
        |  FROM px GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, fmt, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  max(CASE WHEN p = 0 THEN q END) AS q00,
        |  max(CASE WHEN p = 1 THEN q END) AS q01,
        |  max(CASE WHEN p = 2 THEN q END) AS q10,
        |  max(CASE WHEN p = 3 THEN q END) AS q11
        |FROM pat GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,

    // every aHash bit recomputed relationally: same pixel CTE as
    // mm_patches, 8x8 grid, cross-multiplied cell-vs-image comparison,
    // bits packed per 16-bit band (1 << (p % 16) stays tiny — exact)
    "mm_imagehash" ->
      s"""WITH img AS (
        |  SELECT doc_id, doc_id AS src,
        |    CASE WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
        |    doc_id % 16 + 4 AS w, doc_id % 9 + 3 AS h
        |  FROM documents WHERE doc_id % 3 <> 1),
        |$aHashChainSql
        |SELECT doc_id, fmt, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, b0, b1, b2, b3
        |FROM ah ORDER BY doc_id""".stripMargin,

    // cold rebuild of the aHash table over the FINAL media image (the
    // %5==2 slice re-sourced from doc_id+3) — the streamed store's
    // maintenance must land exactly here
    "q_stream_mm" ->
      s"""WITH img AS (
        |  SELECT doc_id, src,
        |    CASE WHEN src % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
        |    src % 16 + 4 AS w, src % 9 + 3 AS h
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 5 = 2 THEN doc_id + 3 ELSE doc_id END AS src
        |    FROM documents WHERE doc_id % 3 <> 1) b),
        |$aHashChainSql
        |SELECT doc_id, fmt, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, b0, b1, b2, b3
        |FROM ah ORDER BY doc_id""".stripMargin,

    // cold band-census histogram over the final media image's aHash
    // table (same img CTE as q_stream_mm): 4 bands per doc, bucket
    // sizes, then size histogram — the streamed, incrementally
    // maintained bandhist table must land exactly here
    "q_stream_mm_census" ->
      s"""WITH img AS (
        |  SELECT doc_id, src,
        |    CASE WHEN src % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
        |    src % 16 + 4 AS w, src % 9 + 3 AS h
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 5 = 2 THEN doc_id + 3 ELSE doc_id END AS src
        |    FROM documents WHERE doc_id % 3 <> 1) b),
        |$aHashChainSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band_id, b0 AS band FROM ah
        |  UNION ALL SELECT doc_id, 1, b1 FROM ah
        |  UNION ALL SELECT doc_id, 2, b2 FROM ah
        |  UNION ALL SELECT doc_id, 3, b3 FROM ah),
        |bsize AS (SELECT band_id, band, CAST(count(*) AS BIGINT) AS bn
        |          FROM bands GROUP BY 1, 2)
        |SELECT bn, CAST(count(*) AS BIGINT) AS k
        |FROM bsize GROUP BY 1 ORDER BY bn""".stripMargin,

    // image near-dup: the SAME aHash chain over a corpus with planted
    // exact-duplicate images (payload of every 25th image under a
    // derived collision-free id), candidates via the capped band
    // buckets, exact 64-bit Hamming <= 3 on the survivors
    "mm_dedup" ->
      s"""WITH img AS (
        |  SELECT b.doc_id, b.src,
        |    CASE WHEN b.src % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
        |    b.src % 16 + 4 AS w, b.src % 9 + 3 AS h
        |  FROM (
        |    SELECT doc_id, doc_id AS src FROM documents WHERE doc_id % 3 <> 1
        |    UNION ALL
        |    SELECT doc_id + $offSql, doc_id FROM documents
        |    WHERE doc_id % 3 <> 1 AND doc_id % 25 = 0) b),
        |$aHashChainSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band_id, b0 AS band FROM ah
        |  UNION ALL SELECT doc_id, 1, b1 FROM ah
        |  UNION ALL SELECT doc_id, 2, b2 FROM ah
        |  UNION ALL SELECT doc_id, 3, b3 FROM ah),
        |bsize AS MATERIALIZED (SELECT band_id, band, count(*) AS bn, min(doc_id) AS anchor
        |          FROM bands GROUP BY 1, 2),
        |${capvCtesSql(64, 4)}cand AS (
        |  SELECT DISTINCT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |    FROM bands a
        |    JOIN bands b ON a.band_id = b.band_id AND a.band = b.band
        |                AND a.doc_id < b.doc_id
        |    JOIN bsize s ON s.band_id = a.band_id AND s.band = a.band
        |                AND s.bn <= (SELECT cap FROM capv)
        |    UNION ALL
        |    SELECT s.anchor AS doc_a, a.doc_id AS doc_b
        |    FROM bands a
        |    JOIN bsize s ON s.band_id = a.band_id AND s.band = a.band
        |    WHERE s.bn > (SELECT cap FROM capv) AND a.doc_id > s.anchor))
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
        |       + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
        |      AS BIGINT) AS hamming
        |  FROM cand c JOIN ah x ON x.doc_id = c.doc_a
        |              JOIN ah y ON y.doc_id = c.doc_b)
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,

    // per-frame waveform features vs the closed-form samples
    // (id·131 + k·17) % 65536 − 32768, frames of 16; zero crossings =
    // sign changes between consecutive in-frame samples
    "mm_audio_frames" ->
      """WITH wav AS (
        |  SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
        |  WHERE doc_id % 3 = 1),
        |samp AS (
        |  SELECT doc_id, k, k // 16 AS frame_id,
        |    (doc_id * 131 + k * 17) % 65536 - 32768 AS v
        |  FROM (SELECT doc_id, unnest(generate_series(0, n - 1)) AS k FROM wav)),
        |x AS (
        |  SELECT doc_id, frame_id, k, v,
        |    CASE WHEN v < 0 THEN 1 ELSE 0 END AS s,
        |    lag(CASE WHEN v < 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id, frame_id ORDER BY k) AS ps
        |  FROM samp)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, frame_id,
        |  count(*) AS n,
        |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(sum(CASE WHEN ps IS NOT NULL AND s <> ps THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        |FROM x GROUP BY doc_id, frame_id
        |ORDER BY doc_id, frame_id""".stripMargin,

    // add-one-smoothed bigram LM: mean inverse bigram probability,
    // each (c1+V)/(c12+1) quantized to BIGINT (·1e6, exact integer
    // division) before the order-free per-doc sum
    "text_perplexity" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |       FROM b),
        |uni AS (SELECT w, count(*) AS c1
        |        FROM (SELECT unnest(toks) AS w FROM b) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |m AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
        |m2 AS (SELECT m.bg, m.c12, u.c1
        |       FROM m JOIN uni u ON u.w = split_part(m.bg, ' ', 1)),
        |q AS (SELECT bg.doc_id,
        |        (1000000 * (m2.c1 + v.v)) // (m2.c12 + 1) AS invp_q
        |      FROM bg JOIN m2 USING (bg), v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(invp_q) AS BIGINT) AS sum_q,
        |  CAST(CAST(sum(invp_q) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS lm_score
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
