package graft.queries

import graft.Tables
import graft.etl.Warehouse
import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Similarity-search operators over the `embeddings` table
  * (array<float> × 64). All arithmetic integer-quantized (see
  * graft.operators.Similarity) so cosines agree with DuckDB bit for bit.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  /** embeddings plus exact duplicates of every 29th vector — guarantees
    * the near-dup operator has positives (built identically in the
    * oracle).
    */
  private def embAug(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionAll(e.filter(col("vec_id") % 29 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  private val augSql =
    """emb AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 29 = 0)""".stripMargin

  /** Deterministic CLUSTERED corpus derived from the embeddings table:
    * N/12 centers (rows 0..N/12-1), member i = center(i % (N/12)) +
    * own/16 — all DOUBLE arithmetic in the same operation order as the
    * oracle's `clustered` CTE (one exact-by-exponent-shift division,
    * one rounded addition), so quantization agrees bit for bit.
    * Intra-cluster spacing is ~||a-b||/16 of a raw pair vs ~the full
    * inter-center distance: tight, well-separated clusters — the
    * corpus shape SCALING_r12 §1 argues real embedding data has, here
    * made driver-gateable. The cluster COUNT scales with the corpus
    * (~12 members each at any SF — corpora grow in topics, not only in
    * dups per topic), which keeps the true top-5 inside the rerank
    * overscan at every scale; fixed-count clusters would grow past the
    * candidate budget and re-enter §1's code-saturation regime.
    */
  private val nClustersMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def nClusters(s: SparkSession, dir: String): Long =
    nClustersMemo.computeIfAbsent(dir, _ =>
      math.max(Tables(s, dir, "embeddings").count() / 12L, 1L)).longValue

  private def clusteredEmb(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    val nc = nClusters(s, dir)
    val centers = e.filter(col("vec_id") < nc)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    e.withColumn("c_id", col("vec_id") % nc)
      .join(broadcast(centers), Seq("c_id"))
      .select(col("vec_id"),
        zip_with(col("c_emb"), col("embedding"),
          (c, o) => c.cast("double") + o.cast("double") / lit(16.0))
          .as("embedding"))
  }

  /** SQL form of [[nClusters]], hoisted into a CTE and CROSS JOINed so
    * the cluster key is a PLAIN COLUMN before it reaches the join. The
    * previous inline form — `ON c.vec_id = e.vec_id % (SELECT …)` — hid
    * the key behind a scalar subquery, DuckDB could not hash-partition
    * on it, and the center join degenerated to a nested loop: eflat ×
    * eflat = 1.6e12 comparisons at sf1 (measured: >16 CPU-hours,
    * unfinished; the hoisted form builds the same corpus in ~1 s).
    * Invisible at sf0.01 (1.6e10 comparisons) — a pure corpus-scaling
    * trap in the ORACLE, not the engine.
    */
  private val clusteredSql =
    s"""nck AS (SELECT greatest(count(*) // 12, 1) AS nc FROM embeddings),
      |eflat AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |ecent AS (
      |  SELECT e.vec_id, e.i, e.x, e.vec_id % nck.nc AS cid
      |  FROM eflat e CROSS JOIN nck),
      |clustered AS MATERIALIZED (
      |  SELECT e.vec_id,
      |    list(CAST(c.x AS DOUBLE) + CAST(e.x AS DOUBLE) / 16.0 ORDER BY e.i)
      |      AS embedding
      |  FROM ecent e JOIN eflat c ON c.vec_id = e.cid AND c.i = e.i
      |  GROUP BY e.vec_id)""".stripMargin

  // coarse and PQ codebook seeds of the streamed ANN-index queries
  private val annCoPred = col("vec_id") % 125 === 11
  private val annPqPred = col("vec_id") % 40 === 3 && col("vec_id") < 2560

  /** The change log `q_stream_ann` and `q_stream_ann_census` drain:
    * embeddings arrive across 3 commits — v1 holds every codebook seed
    * (the fixed-seed contract), v2 deletes a non-seed slice while
    * adding the second wave, v3 is the full corpus (re-inserting the
    * deleted slice); an empty v0 makes the v1 arrivals themselves a
    * logged transition (the log records TRANSITIONS between commits),
    * so the index warehouse seeds empty. It holds `annidx`, bucketed by
    * the index key (r14: churn-sized micro-batch writes), plus, for a
    * `census`, the list-occupancy table. Returns the embeddings, the
    * seed vectors, the log dir, the index warehouse and a checkpoint
    * dir.
    */
  private def embChangeLog(s: SparkSession, dir: String, tag: String, census: Boolean)
      : (DataFrame, DataFrame, String, Warehouse, String) = {
    val emb = Tables(s, dir, "embeddings").select("vec_id", "embedding")
    val seedPred = annCoPred || annPqPred
    val v1 = emb.filter(col("vec_id") % 3 === 0 || seedPred)
    val v2 = emb.filter((col("vec_id") % 3 <= 1 &&
      !(col("vec_id") % 9 === 0 && !seedPred)) || seedPred)
    val idxSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("co_id", LongType),
      StructField("codes", ArrayType(LongType))))
    val lcSchema = StructType(Seq(
      StructField("co_id", LongType), StructField("cnt", LongType)))
    val (logDir, idxWh, ckpt) = ChangeLogFixture(s, tag, "emb", "vec_id",
      Seq(emb.limit(0), v1, v2, emb),
      ("annidx" -> idxSchema) +: (if (census) Seq("listcounts" -> lcSchema) else Nil),
      Map("annidx" -> ("vec_id", 8)))
    (emb, emb.filter(seedPred), logDir, idxWh, ckpt)
  }

  /** Quantized oracle scaffold: `qv` keeps each vector as a BIGINT list
    * (dot products via `list_dot_product` — the per-dimension-join
    * formulation materialized |A|·|B|·dims rows and spilled DuckDB over
    * the sf1 disk; the list form computes the same exact integer dots
    * vectorized, row count |A|·|B|); `flat` unnests it for the few
    * oracles that genuinely need per-dimension rows (hyperplane
    * projections, centroid means). All products and partial sums stay
    * below 2^53 (|q| ≤ 1e6, 64 dims → |dot| ≤ 6.4e13), so DuckDB's
    * DOUBLE list arithmetic is integer-exact and hash-identical to the
    * BIGINT sums it replaces.
    */
  private def flatSql(src: String) =
    s"""qv AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM $src),
       |flat AS MATERIALIZED (
       |  SELECT vec_id, unnest(qv) AS q, generate_subscripts(qv, 1) AS i
       |  FROM qv),
       |norms AS MATERIALIZED (SELECT vec_id, list_dot_product(qv, qv) AS nrm FROM qv)""".stripMargin

  /** The coarse book every IVF oracle routes through, and its form
    * pinned to the sf0.1 id range (the stored-index gates: nlist is an
    * index property there, not a corpus-coupled one). Defined before
    * the maps that read them.
    */
  private val CoarsePred = "vec_id % 125 = 11"
  private val PinnedCoarsePred = s"$CoarsePred AND vec_id < 2000"

  val queries: Map[String, Q] = Map(
    "ann_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables(s, dir, "embeddings"),
          col("vec_id") % 50 === 0, k = 5)
        .orderBy("query_id", "rnk")),

    // centroid set PINNED to the sf0.1 id range (a no-op at sf ≤ 0.1):
    // nlist ∝ N makes the flat nearest-centroid ASSIGNMENT N²/50 work —
    // the exact index-BUILD superlinearity the r14 decoupled-α control
    // cell root-caused (α 1.23 → 0.36 with the pin). nlist is an index
    // property, not a corpus property; the oracle pins identically.
    "ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Tables(s, dir, "embeddings"),
          col("vec_id") % 50 === 0,
          col("vec_id") % 50 === 7 && col("vec_id") < 2000, k = 5, nprobe = 2)
        .orderBy("query_id", "rnk")),

    "ann_ivf_learned" -> ((s, dir) =>
      Similarity.ivfTopKLearned(Tables(s, dir, "embeddings"),
          col("vec_id") % 50 === 0,
          col("vec_id") % 50 === 7 && col("vec_id") < 2000, k = 5, nprobe = 2,
          lloydIters = 1)
        .orderBy("query_id", "rnk")),

    // product quantization: vectors stored as m=8 codes, queries scan
    // codes via broadcast ADC tables — exact integer L2² end to end
    "ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(Tables(s, dir, "embeddings"),
          col("vec_id") % 250 === 7,
          col("vec_id") % 40 === 3 && col("vec_id") < 2560, m = 8, k = 5)
        .orderBy("query_id", "rnk")),

    // learned PQ: one Lloyd step per subspace refines the seed cells
    // (floor-mean, exact BIGINT), then the ann_pq ADC recipe
    "ann_pq_learned" -> ((s, dir) =>
      Similarity.pqTopKLearned(Tables(s, dir, "embeddings"),
          col("vec_id") % 250 === 7,
          col("vec_id") % 40 === 3 && col("vec_id") < 2560, m = 8, k = 5)
        .orderBy("query_id", "rnk")),

    // IVF-PQ: coarse L2² routing + residual PQ codes + per-list ADC —
    // ~125-vector lists at any SF, nprobe 2, m=8 codes per vector
    "ann_ivfpq" -> ((s, dir) =>
      Similarity.ivfpqTopK(Tables(s, dir, "embeddings"),
          col("vec_id") % 250 === 7,
          col("vec_id") % 125 === 11,
          col("vec_id") % 40 === 3 && col("vec_id") < 2560,
          m = 8, k = 5, nprobe = 2)
        .orderBy("query_id", "rnk")),

    // IVF-PQ with the production exact-re-rank tail: ADC keeps top-20
    // per query, exact integer L2² re-ranks to top-5 — output distances
    // are EXACT, so a code-quantization demotion inside the candidate
    // set is corrected
    "ann_ivfpq_rerank" -> ((s, dir) =>
      Similarity.ivfpqTopKReranked(Tables(s, dir, "embeddings"),
          col("vec_id") % 250 === 7,
          col("vec_id") % 125 === 11,
          col("vec_id") % 40 === 3 && col("vec_id") < 2560,
          m = 8, k = 5, nprobe = 2, overscan = 4)
        .orderBy("query_id", "rnk")),

    // IVF-PQ at PRODUCTION knobs: per-subspace LEARNED codebooks (seed
    // cells refined by one exact floor-mean Lloyd step over the corpus
    // RESIDUALS — ~N/78 cells per subspace, 256 at sf1), coarse routing,
    // ADC overscan, exact re-rank — the full quality stack the fixture-
    // codebook gates approximate
    "ann_ivfpq_prod" -> ((s, dir) =>
      Similarity.ivfpqTopKLearnedReranked(Tables(s, dir, "embeddings"),
          col("vec_id") % 250 === 7,
          col("vec_id") % 125 === 11,
          col("vec_id") % 78 === 5,
          m = 8, k = 5, nprobe = 2, overscan = 4)
        .orderBy("query_id", "rnk")),

    // recall@5 of the PRODUCTION chain (learned codebooks + rerank) on
    // a CLUSTERED corpus — the driver-gated form of SCALING_r12 §1's
    // probe claim: routing keeps tight clusters together and the exact
    // re-rank orders the cluster-mates, so recall is high at a partial
    // scan. Corpus, chain, ground truth, and the recall join are all
    // mirrored exactly in the oracle (basis points, integer div).
    "ann_recall_clustered" -> ((s, dir) => {
      val emb = clusteredEmb(s, dir)
      Similarity.annRecallReport(
          Similarity.ivfpqTopKLearnedReranked(emb,
            col("vec_id") % 50 === 7, col("vec_id") % 125 === 11,
            col("vec_id") % 78 === 5, m = 8, k = 5, nprobe = 2, overscan = 4),
          Similarity.bruteForceTopKL2(emb, col("vec_id") % 50 === 7, k = 5))
        .orderBy("query_id")
    }),

    // recall-targeted nprobe autotuning (r13): the recall-vs-nprobe
    // ladder measured on held-out sample queries, the smallest rung
    // meeting the 90% target chosen relationally, and the choice scored
    // on a DISJOINT eval query set — SCALING_r12 §1's hand-computed
    // table institutionalized as a hash-gated artifact. Clustered
    // fixture: routing structure exists, so a small rung can clear the
    // target and the ladder is a real decision.
    "ann_autotune" -> ((s, dir) =>
      Similarity.autotuneReport(clusteredEmb(s, dir),
          samplePred = col("vec_id") % 50 === 7,
          evalPred = col("vec_id") % 50 === 19,
          coarsePred = col("vec_id") % 125 === 11,
          seedPred = col("vec_id") % 78 === 5,
          m = 8, k = 5, targetBp = 9000)
        .orderBy("nprobe")),

    // autotune over the STORED index with an NLIST-RELATIVE ladder
    // (r14): the codebooks + code table are built once and passed in —
    // the production tuner tunes the index the CDC consumer already
    // maintains, never rebuilding — and the rungs are fractions of
    // nlist (12.5% / 25% / 50% of lists, deduplicated after the
    // max(1, nlist·f div 10000) conversion), so "probe 1/8th of the
    // lists" means the same thing at every corpus scale where an
    // absolute Seq(1,2,4) silently shrinks to a vanishing scan
    // fraction. The oracle derives the SAME rungs from its own nlist
    // count (scalar subqueries), so the hash gates the rung
    // derivation, the searches, and the decision end to end.
    "ann_autotune_stored" -> ((s, dir) => {
      val emb = clusteredEmb(s, dir)
      // the coarse book is PINNED to the sf0.1 id range (a no-op below
      // sf1): a stored index's nlist is an INDEX property under the
      // changeFeedAnnIndex fixed-seed contract, not a corpus-coupled
      // one — and the decoupled-alpha probe showed nlist ∝ N is
      // exactly what makes flat assignment superlinear (the r14 sf1
      // replay's one engine+oracle blowup before this pin)
      val coarse = col("vec_id") % 125 === 11 && col("vec_id") < 2000
      // one shared coarse-assignment pass builds both artifacts (r15);
      // bit-identical to the separate codebooks+index builds
      val (cw, idx) = Similarity.ivfpqLearnedArtifacts(emb, coarse,
        col("vec_id") % 78 === 5, m = 8)
      Similarity.autotuneReportStored(emb, idx, cw,
          samplePred = col("vec_id") % 50 === 7,
          evalPred = col("vec_id") % 50 === 19,
          coarsePred = coarse, m = 8, k = 5, targetBp = 9000)
        .orderBy("nprobe")
    }),

    // the production SEARCH at a recall target over the same persisted
    // artifacts: ladder walk on the held-out sample (nlist-relative
    // rungs), then the real query batch at the chosen rung — the
    // oracle re-derives the rungs from its own nlist, re-runs the
    // ladder decision, and searches at the SQL-chosen rung via a
    // scalar subquery, so the whole decision→search composition is
    // under one hash
    "ann_search_stored" -> ((s, dir) => {
      val emb = clusteredEmb(s, dir)
      val coarse = col("vec_id") % 125 === 11 && col("vec_id") < 2000
      val (cw, idx) = Similarity.ivfpqLearnedArtifacts(emb, coarse,
        col("vec_id") % 78 === 5, m = 8)
      Similarity.searchWithRecallTargetStored(emb, idx, cw,
          queryPred = col("vec_id") % 50 === 33,
          samplePred = col("vec_id") % 50 === 7,
          coarsePred = coarse, m = 8, k = 5, targetBp = 9000)
        .orderBy("query_id", "rnk")
    }),

    // the same autotune on the near-uniform NOISE corpus — the fixture
    // where plain routing recall is information-theoretically capped by
    // scan fraction, so the ladder typically exhausts and falls back to
    // its top rung: the fallback path is part of the contract
    "ann_autotune_noise" -> ((s, dir) =>
      Similarity.autotuneReport(
          Tables(s, dir, "embeddings").select("vec_id", "embedding"),
          samplePred = col("vec_id") % 50 === 7,
          evalPred = col("vec_id") % 50 === 19,
          coarsePred = col("vec_id") % 125 === 11,
          seedPred = col("vec_id") % 78 === 5,
          m = 8, k = 5, targetBp = 9000)
        .orderBy("nprobe")),

    // measured recall@5 of plain IVF-PQ vs the exact integer-L2² ground
    // truth — the quality number the "recall < 1 by construction"
    // scaladocs now quantify, hash-gated per query in basis points
    "ann_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.annRecallReport(
          Similarity.ivfpqTopK(emb,
            col("vec_id") % 250 === 7, col("vec_id") % 125 === 11,
            col("vec_id") % 40 === 3 && col("vec_id") < 2560,
            m = 8, k = 5, nprobe = 2),
          Similarity.bruteForceTopKL2(emb, col("vec_id") % 250 === 7, k = 5))
        .orderBy("query_id")
    }),

    // STREAMED ANN-index maintenance, e2e: embeddings arrive across 3
    // warehouse commits (with a delete-then-reinsert wave in the
    // middle), the change log drives StreamingOps.changeFeedAnnIndex —
    // per batch, net deletes drop index rows and net arrivals
    // append-encode against the FIXED codebooks. The oracle recomputes
    // the index COLD from the final image, so the hash certifies
    // streamed-maintenance ≡ cold-rebuild end to end.
    "q_stream_ann" -> ((s, dir) => {
      val (emb, seeds, logDir, idxWh, ckpt) = embChangeLog(s, dir, "sann", census = false)
      StreamingOps.changeFeedAnnIndex(s, idxWh, "annidx", emb.schema,
        seeds, annCoPred, annPqPred, m = 8, logDir, ckpt)
      idxWh.read("annidx")
        .select(col("vec_id"), col("co_id"),
          array_join(col("codes"), ",").as("codes"))
        .orderBy("vec_id")
    }),

    // MAINTAINED IVF list-occupancy census, e2e (r14): the same
    // 3-commit embedding evolution drives
    // StreamingOps.changeFeedAnnIndexCensus — the ANN member of the
    // maintained-census family: the txn that prunes/appends index rows
    // folds their co_id deltas into the nlist-sized counts table, so
    // the rebuild decision (Similarity.indexBalanceReport) never
    // aggregates the corpus-sized index. The oracle recomputes the
    // occupancy COLD from the final image's coarse assignment, so the
    // hash certifies maintained ≡ cold through inserts, the
    // delete-then-reinsert wave, and updates.
    "q_stream_ann_census" -> ((s, dir) => {
      val (emb, seeds, logDir, idxWh, ckpt) = embChangeLog(s, dir, "sac", census = true)
      StreamingOps.changeFeedAnnIndexCensus(s, idxWh, "annidx", "listcounts",
        emb.schema, seeds, annCoPred, annPqPred, m = 8, logDir, ckpt)
      idxWh.read("listcounts").orderBy("co_id")
    }),

    // IVF index balance report — the rebuild decision as a one-row
    // relation: frozen-centroid CDC maintenance turns corpus drift
    // into list imbalance, and every column here is integral (bp via
    // `div`) so the decision itself is under the hash gate. nlist is
    // the CONFIGURED coarse-book size (empty lists count), derived
    // driver-side from the seed predicate (seed-sized count).
    "ann_balance" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // coarse book PINNED to the sf0.1 id range (a no-op at sf ≤ 0.1),
      // like ann_autotune_stored: a stored index's nlist is an INDEX
      // property, and nlist ∝ N makes the timed per-call build N²/125
      // (r14 ALPHA flagged exactly this gate as build-coupled)
      val coPred = col("vec_id") % 125 === 11 && col("vec_id") < 2000
      val idx = Similarity.ivfpqIndex(emb, coPred,
        col("vec_id") % 40 === 3 && col("vec_id") < 2560, m = 8)
      val nlist = emb.filter(coPred).count()
      Similarity.indexBalanceReport(Similarity.indexListCounts(idx), nlist,
        imbalanceThresholdBp = 15000L)
    }),

    "dedup_embed" -> ((s, dir) =>
      Similarity.nearDupPairs(embAug(s, dir), threshold = 0.35)
        .orderBy("vec_a", "vec_b")),

    "dedup_embed_lsh" -> ((s, dir) =>
      Similarity.nearDupCandidates(embAug(s, dir))
        .orderBy("vec_a", "vec_b")),

    // multi-probe at HALF the hash tables (16 planes vs 32): primary +
    // 1 lowest-margin bit-flip probe per band against a primary-only
    // index — the recall-per-band trade measured in MultiProbeLshSpec
    "dedup_embed_lsh_mp" -> ((s, dir) =>
      Similarity.nearDupCandidatesMultiProbe(embAug(s, dir),
          planes = 16, bandBits = 8, flips = 1)
        .orderBy("vec_a", "vec_b")),

    // measured planted-pair recall of the multi-probe pass — exact
    // copies (every band identical: must always hit) and NEAR copies
    // (one component nudged +0.05 in DOUBLE, so low-margin sign bits
    // genuinely flip) — the embedding-space twin of dedup_eval, in
    // exact basis points
    "dedup_embed_eval" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").select("vec_id", "embedding")
      val dbl = transform(col("embedding"), x => x.cast("double"))
      val base = emb.select(col("vec_id"), dbl.as("embedding"))
      val exactC = emb.filter(col("vec_id") % 29 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), dbl.as("embedding"))
      val nearC = emb.filter(col("vec_id") % 31 === 0)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x.cast("double") + lit(0.05))
              .otherwise(x.cast("double"))).as("embedding"))
      val planted = emb.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("doc_a"),
          (col("vec_id") + 100000).as("doc_b"), lit("exact").as("kind"))
        .unionAll(emb.filter(col("vec_id") % 31 === 0)
          .select(col("vec_id").as("doc_a"),
            (col("vec_id") + 200000).as("doc_b"), lit("near").as("kind")))
      val found = Similarity.nearDupCandidatesMultiProbe(
          base.unionAll(exactC).unionAll(nearC),
          planes = 16, bandBits = 8, flips = 1)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.nearDupRecallReport(found, planted).orderBy("kind")
    }),

    "q_vec_centroid" -> ((s, dir) =>
      Similarity.centroids(Tables(s, dir, "embeddings"), col("vec_id") % 10)
        .orderBy("grp", "i")),

    "q_vec_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables(s, dir, "embeddings"))
        .orderBy("vec_id")),

    "ann_int8" -> ((s, dir) =>
      Similarity.int8RerankTopK(Tables(s, dir, "embeddings"),
          col("vec_id") % 50 === 0, k = 5, overscan = 4)
        .orderBy("query_id", "rnk")),

    // 20-ish fine centroids routed through 5-ish coarse ones; probe 2
    "ann_assign2" -> ((s, dir) =>
      Similarity.assignTwoLevel(Tables(s, dir, "embeddings"),
          col("vec_id") % 25 === 7, col("vec_id") % 100 === 3, nprobeCoarse = 2)
        .orderBy("vec_id")),

    // augmented corpus (exact copies at +100000) so the dup flag has
    // positives; 1 Lloyd refinement exercises the learned codebook
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(embAug(s, dir), col("vec_id") % 50 === 7,
          threshold = 0.9, lloydIters = 1)
        .orderBy("vec_id")),

    // SemDeDup over the two-level (large-codebook) assignment: same
    // fine/coarse split as ann_assign2, augmented corpus for positives
    "dedup_semantic2" -> ((s, dir) =>
      Similarity.semanticDedupTwoLevel(embAug(s, dir),
          col("vec_id") % 25 === 7, col("vec_id") % 100 === 3,
          nprobeCoarse = 2, threshold = 0.9)
        .orderBy("vec_id")),

    // embedding-space benchmark decontamination: bench = the %29
    // originals, corpus = everything else incl. their exact copies at
    // +100000 (guaranteed cross-set positives at cosine 1)
    "dedup_crossset" -> ((s, dir) => {
      val aug = embAug(s, dir)
      val isBench = col("vec_id") % 29 === 0 && col("vec_id") < 100000
      Similarity.crossSetMatches(aug.filter(!isBench), aug.filter(isBench),
          threshold = 0.35)
        .orderBy("bench_id", "vec_id")
    }))

  val oracles: Map[String, String] = Map(
    "ann_brute" ->
      s"""WITH ${flatSql("embeddings")},
         |qf AS (SELECT * FROM qv WHERE vec_id % 50 = 0),
         |dots AS (
         |  SELECT qf.vec_id AS query_id, a.vec_id AS hit_id,
         |    list_dot_product(qf.qv, a.qv) AS dot
         |  FROM qf JOIN qv a ON qf.vec_id <> a.vec_id),
         |scored AS (
         |  SELECT d.query_id, d.hit_id,
         |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE)) / sqrt(CAST(na.nrm AS DOUBLE)) AS cosine
         |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
         |              JOIN norms na ON na.vec_id = d.hit_id),
         |ranked AS (
         |  SELECT query_id, hit_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, hit_id) AS rnk
         |  FROM scored)
         |SELECT query_id, hit_id, cosine, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "ann_pq" ->
      s"""WITH ${flatSql("embeddings")},
         |-- codebook = the seeds' own subvectors; subspace s = (i-1)//8
         |-- (D=64, m=8 — mirrors pqTopK's size(q)/m)
         |cents AS (
         |  SELECT vec_id AS cent_id, i, q FROM flat
         |  WHERE vec_id % 40 = 3 AND vec_id < 2560),
         |sd AS (
         |  SELECT f.vec_id, c.cent_id, (f.i - 1) // 8 AS s,
         |    sum((f.q - c.q) * (f.q - c.q)) AS d
         |  FROM flat f JOIN cents c ON c.i = f.i
         |  GROUP BY 1, 2, 3),
         |codes AS (
         |  SELECT vec_id, s, cent_id AS code FROM (
         |    SELECT vec_id, s, cent_id,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cent_id) AS r
         |    FROM sd) WHERE r = 1),
         |dt AS (SELECT vec_id AS query_id, cent_id, s, d FROM sd
         |       WHERE vec_id % 250 = 7),
         |approx AS (
         |  SELECT t.query_id, c.vec_id AS hit_id,
         |    CAST(sum(t.d) AS BIGINT) AS adist
         |  FROM codes c JOIN dt t ON t.s = c.s AND t.cent_id = c.code
         |  WHERE c.vec_id <> t.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, hit_id, adist, rnk FROM (
         |  SELECT query_id, hit_id, adist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adist, hit_id) AS rnk
         |  FROM approx) WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // learned PQ: seed encode → per-cell floor-mean → re-encode → ADC,
    // each stage mirrored term for term (subspace s = (i-1)//8, within-
    // subspace order = global dim order, matching the slice layout)
    "ann_pq_learned" ->
      s"""WITH ${flatSql("embeddings")},
         |cents AS (
         |  SELECT vec_id AS cw_id, i, q FROM flat
         |  WHERE vec_id % 40 = 3 AND vec_id < 2560),
         |sd0 AS (
         |  SELECT f.vec_id, c.cw_id, (f.i - 1) // 8 AS s,
         |    sum((f.q - c.q) * (f.q - c.q)) AS d
         |  FROM flat f JOIN cents c ON c.i = f.i
         |  GROUP BY 1, 2, 3),
         |codes0 AS (
         |  SELECT vec_id, s, cw_id AS code FROM (
         |    SELECT vec_id, s, cw_id,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS r
         |    FROM sd0) WHERE r = 1),
         |-- refined cells: element-wise floor-mean of each cell's members
         |cw1 AS (
         |  SELECT c.code AS cw_id, c.s, f.i,
         |    CAST(floor(CAST(sum(f.q) AS DOUBLE) / count(*)) AS BIGINT) AS q
         |  FROM codes0 c JOIN flat f
         |    ON f.vec_id = c.vec_id AND (f.i - 1) // 8 = c.s
         |  GROUP BY 1, 2, 3),
         |sd1 AS (
         |  SELECT f.vec_id, w.cw_id, w.s, sum((f.q - w.q) * (f.q - w.q)) AS d
         |  FROM flat f JOIN cw1 w ON w.i = f.i
         |  GROUP BY 1, 2, 3),
         |codes1 AS (
         |  SELECT vec_id, s, cw_id AS code FROM (
         |    SELECT vec_id, s, cw_id,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS r
         |    FROM sd1) WHERE r = 1),
         |dt AS (SELECT vec_id AS query_id, cw_id, s, d FROM sd1
         |       WHERE vec_id % 250 = 7),
         |approx AS (
         |  SELECT t.query_id, c.vec_id AS hit_id,
         |    CAST(sum(t.d) AS BIGINT) AS adist
         |  FROM codes1 c JOIN dt t ON t.s = c.s AND t.cw_id = c.code
         |  WHERE c.vec_id <> t.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, hit_id, adist, rnk FROM (
         |  SELECT query_id, hit_id, adist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adist, hit_id) AS rnk
         |  FROM approx) WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // IVF-PQ: coarse assignment + residual encode + per-list ADC — every
    // stage mirrors ivfpqTopK term for term in exact integer arithmetic
    "ann_ivfpq" ->
      s"""WITH ${flatSql("embeddings")},
         |$ivfpqApproxCte
         |SELECT query_id, hit_id, adist, rnk FROM (
         |  SELECT query_id, hit_id, adist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adist, hit_id) AS rnk
         |  FROM approx) WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // IVF-PQ + exact re-rank: the same ADC chain keeps top-20
    // (k·overscan) per query; the survivors re-score with the EXACT
    // integer L2² (nrm_a + nrm_b − 2·dot — BIGINT-exact, all terms
    // < 2^53) and re-rank to top-5
    "ann_ivfpq_rerank" ->
      s"""WITH ${flatSql("embeddings")},
         |$ivfpqApproxCte,
         |cand AS (
         |  SELECT query_id, hit_id FROM (
         |    SELECT query_id, hit_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adist, hit_id) AS r
         |    FROM approx) WHERE r <= 20),
         |rr AS (
         |  SELECT c.query_id, c.hit_id,
         |    CAST(nq.nrm + nh.nrm - 2 * list_dot_product(fq.qv, fh.qv) AS BIGINT) AS dist
         |  FROM cand c
         |  JOIN qv fq ON fq.vec_id = c.query_id
         |  JOIN qv fh ON fh.vec_id = c.hit_id
         |  JOIN norms nq ON nq.vec_id = c.query_id
         |  JOIN norms nh ON nh.vec_id = c.hit_id)
         |SELECT query_id, hit_id, dist, rnk FROM (
         |  SELECT query_id, hit_id, dist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist, hit_id) AS rnk
         |  FROM rr) WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // production IVF-PQ: the ivfpq encode chain with the codebook
    // REPLACED by learned per-subspace cells (seed residuals % 78 = 5,
    // one floor-mean Lloyd step over all corpus residuals), then the
    // overscan-20 ADC scan and the exact re-rank — every stage mirrored
    // term for term in exact integer arithmetic
    "ann_ivfpq_prod" ->
      s"""WITH ${flatSql("embeddings")},
         |${ivfpqResidualCte(CoarsePred)},
         |${ivfpqLearnedFoundCte("vec_id % 250 = 7")}
         |SELECT query_id, hit_id, dist, rnk FROM found
         |ORDER BY query_id, rnk""".stripMargin,

    // clustered-corpus recall of the production chain: the SAME learned
    // chain over the `clustered` CTE (center + own/16, double-exact),
    // exact ground truth over the same corpus, recall in basis points
    "ann_autotune" -> autotuneOracleSql(clustered = true),
    "ann_autotune_noise" -> autotuneOracleSql(clustered = false),
    "ann_autotune_stored" -> autotuneStoredOracleSql,
    "ann_search_stored" -> searchStoredOracleSql,

    "ann_recall_clustered" ->
      s"""WITH $clusteredSql,
         |${flatSql("clustered")},
         |${ivfpqResidualCte(CoarsePred)},
         |${ivfpqLearnedFoundCte("vec_id % 50 = 7")},
         |exd AS (
         |  SELECT qf.vec_id AS query_id, a.vec_id AS hit_id,
         |    CAST(nq.nrm + na.nrm - 2 * list_dot_product(qf.qv, a.qv) AS BIGINT) AS dist
         |  FROM qv qf JOIN qv a ON a.vec_id <> qf.vec_id
         |  JOIN norms nq ON nq.vec_id = qf.vec_id
         |  JOIN norms na ON na.vec_id = a.vec_id
         |  WHERE qf.vec_id % 50 = 7),
         |exact AS (
         |  SELECT query_id, hit_id FROM (
         |    SELECT query_id, hit_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, hit_id) AS r
         |    FROM exd) WHERE r <= 5)
         |SELECT e.query_id,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN f.hit_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  (10000 * CAST(sum(CASE WHEN f.hit_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS recall_bp
         |FROM exact e LEFT JOIN (SELECT DISTINCT query_id, hit_id FROM found) f
         |  ON f.query_id = e.query_id AND f.hit_id = e.hit_id
         |GROUP BY 1 ORDER BY e.query_id""".stripMargin,

    // measured recall@5 of plain IVF-PQ against the exact integer-L2²
    // ground truth, per query, in exact basis points
    "ann_recall" ->
      s"""WITH ${flatSql("embeddings")},
         |$ivfpqApproxCte,
         |annk AS (
         |  SELECT query_id, hit_id FROM (
         |    SELECT query_id, hit_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adist, hit_id) AS r
         |    FROM approx) WHERE r <= 5),
         |exd AS (
         |  SELECT qf.vec_id AS query_id, a.vec_id AS hit_id,
         |    CAST(nq.nrm + na.nrm - 2 * list_dot_product(qf.qv, a.qv) AS BIGINT) AS dist
         |  FROM qv qf JOIN qv a ON a.vec_id <> qf.vec_id
         |  JOIN norms nq ON nq.vec_id = qf.vec_id
         |  JOIN norms na ON na.vec_id = a.vec_id
         |  WHERE qf.vec_id % 250 = 7),
         |exact AS (
         |  SELECT query_id, hit_id FROM (
         |    SELECT query_id, hit_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, hit_id) AS r
         |    FROM exd) WHERE r <= 5)
         |SELECT e.query_id,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN f.hit_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  (10000 * CAST(sum(CASE WHEN f.hit_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS recall_bp
         |FROM exact e LEFT JOIN annk f
         |  ON f.query_id = e.query_id AND f.hit_id = e.hit_id
         |GROUP BY 1 ORDER BY e.query_id""".stripMargin,

    // cold rebuild of the IVF-PQ index over the FINAL image — the
    // streamed maintenance must land exactly here
    "q_stream_ann" ->
      s"""WITH ${flatSql("embeddings")},
         |$ivfpqEncodeCte
         |SELECT vec_id, co_id,
         |  array_to_string(list(code ORDER BY s), ',') AS codes
         |FROM codes GROUP BY 1, 2 ORDER BY vec_id""".stripMargin,

    // cold per-list occupancy of the final image's coarse assignment —
    // the streamed, incrementally maintained listcounts table must land
    // exactly here
    "q_stream_ann_census" ->
      s"""WITH ${flatSql("embeddings")},
         |${ivfpqResidualCte(CoarsePred)}
         |SELECT co_id, CAST(count(*) AS BIGINT) AS cnt
         |FROM assigned GROUP BY 1 ORDER BY co_id""".stripMargin,

    // the balance report recomputed relationally: occupancy from the
    // cold coarse assignment, nlist from the seed predicate's own
    // count, every bp column the same integer division the engine runs
    "ann_balance" ->
      s"""WITH ${flatSql("embeddings")},
         |${ivfpqResidualCte(PinnedCoarsePred)},
         |lc AS (SELECT co_id, CAST(count(*) AS BIGINT) AS cnt
         |       FROM assigned GROUP BY 1),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lists
         |       FROM qv WHERE $PinnedCoarsePred),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_lists_used,
         |          CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_vectors,
         |          CAST(coalesce(max(cnt), 0) AS BIGINT) AS max_list
         |        FROM lc)
         |SELECT nl.n_lists, agg.n_lists_used,
         |  nl.n_lists - agg.n_lists_used AS n_lists_empty,
         |  agg.n_vectors, agg.max_list,
         |  CASE WHEN agg.n_vectors > 0
         |       THEN (10000 * agg.max_list) // agg.n_vectors END AS max_frac_bp,
         |  CASE WHEN agg.n_vectors > 0
         |       THEN (10000 * agg.max_list * nl.n_lists) // agg.n_vectors
         |       END AS imbalance_bp,
         |  CASE WHEN agg.n_vectors > 0
         |       THEN ((10000 * agg.max_list * nl.n_lists) // agg.n_vectors) > 15000
         |       END AS rebuild_recommended
         |FROM agg, nl""".stripMargin,

    "ann_ivf" ->
      s"""WITH ${flatSql("embeddings")},
         |cents AS (SELECT vec_id AS cent_id, qv FROM qv
         |          WHERE vec_id % 50 = 7 AND vec_id < 2000),
         |cnorm AS (SELECT vec_id AS cent_id, nrm FROM norms
         |          WHERE vec_id % 50 = 7 AND vec_id < 2000),
         |$ivfTailSql
         |SELECT query_id, hit_id, cosine, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "ann_ivf_learned" ->
      s"""WITH ${flatSql("embeddings")},
         |cents0 AS (SELECT vec_id AS cent_id, qv FROM qv
         |           WHERE vec_id % 50 = 7 AND vec_id < 2000),
         |cnorm0 AS (SELECT vec_id AS cent_id, nrm FROM norms
         |           WHERE vec_id % 50 = 7 AND vec_id < 2000),
         |-- Lloyd iteration 1: cosine assignment to the seed codebook
         |adots0 AS (
         |  SELECT f.vec_id, c.cent_id, list_dot_product(f.qv, c.qv) AS dot
         |  FROM qv f CROSS JOIN cents0 c),
         |assigned0 AS (
         |  SELECT vec_id, cent_id AS bucket FROM (
         |    SELECT a.vec_id, a.cent_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(a.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
         |        a.cent_id) AS r
         |    FROM adots0 a JOIN norms n ON n.vec_id = a.vec_id
         |                  JOIN cnorm0 cn ON cn.cent_id = a.cent_id)
         |  WHERE r = 1),
         |-- learned codebook: element-wise floor-mean of each bucket
         |-- (per-dimension by necessity, reassembled into list form)
         |cents_dim AS (
         |  SELECT a.bucket AS cent_id, f.i,
         |    CAST(floor(CAST(sum(f.q) AS DOUBLE) / count(*)) AS BIGINT) AS q
         |  FROM assigned0 a JOIN flat f ON f.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         |cents AS (SELECT cent_id, list(q ORDER BY i) AS qv
         |  FROM cents_dim GROUP BY 1),
         |cnorm AS (SELECT cent_id, list_dot_product(qv, qv) AS nrm FROM cents),
         |$ivfTailSql
         |SELECT query_id, hit_id, cosine, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "dedup_embed" ->
      s"""WITH $augSql,
         |${flatSql("emb")},
         |$lshSql
         |SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dedup_embed_lsh" ->
      s"""WITH $augSql,
         |${flatSql("emb")},
         |$lshSql
         |SELECT vec_a, vec_b, bands_shared, cosine FROM scored
         |ORDER BY vec_a, vec_b""".stripMargin,

    // 16-plane multi-probe: per band rank planes by (|dot|, j); probe
    // set = primary + primary XOR lowest-margin bit; candidates = probe
    // hits on the primary index, either direction, distinct bands
    "dedup_embed_lsh_mp" ->
      s"""WITH $augSql,
         |${flatSql("emb")},
         |$mpCandSql
         |SELECT c.vec_a, c.vec_b, c.bands_hit,
         |  CAST(list_dot_product(fa.qv, fb.qv) AS DOUBLE)
         |    / sqrt(CAST(na.nrm AS DOUBLE)) / sqrt(CAST(nb.nrm AS DOUBLE)) AS cosine
         |FROM cand c
         |JOIN qv fa ON fa.vec_id = c.vec_a
         |JOIN qv fb ON fb.vec_id = c.vec_b
         |JOIN norms na ON na.vec_id = c.vec_a
         |JOIN norms nb ON nb.vec_id = c.vec_b
         |ORDER BY vec_a, vec_b""".stripMargin,

    // multi-probe recall on planted exact (+100000) and one-component-
    // nudged near (+200000) copies; the nudge is applied in DOUBLE on
    // both engines (float->double widening is exact) so the quantized
    // corpora are bit-identical
    "dedup_embed_eval" ->
      s"""WITH emb AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE))
         |  FROM embeddings WHERE vec_id % 29 = 0
         |  UNION ALL
         |  SELECT vec_id + 200000,
         |    list_concat([CAST(embedding[1] AS DOUBLE) + 0.05],
         |      list_transform(embedding[2:], x -> CAST(x AS DOUBLE)))
         |  FROM embeddings WHERE vec_id % 31 = 0),
         |${flatSql("emb")},
         |$mpCandSql,
         |planted AS (
         |  SELECT vec_id AS doc_a, vec_id + 100000 AS doc_b, 'exact' AS kind
         |  FROM embeddings WHERE vec_id % 29 = 0
         |  UNION ALL
         |  SELECT vec_id AS doc_a, vec_id + 200000 AS doc_b, 'near' AS kind
         |  FROM embeddings WHERE vec_id % 31 = 0),
         |ph AS (
         |  SELECT p.kind,
         |    CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM planted p LEFT JOIN cand c
         |    ON c.vec_a = p.doc_a AND c.vec_b = p.doc_b)
         |SELECT kind, count(*) AS n_planted,
         |  CAST(sum(hit) AS BIGINT) AS n_found,
         |  (10000 * CAST(sum(hit) AS BIGINT)) // count(*) AS recall_bp
         |FROM ph GROUP BY kind ORDER BY kind""".stripMargin,

    "q_vec_centroid" ->
      """WITH flat AS (
        |  SELECT vec_id % 10 AS grp,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q,
        |    generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings)
        |SELECT grp, i,
        |  CAST(sum(q) AS DOUBLE) / count(*) / 1000000.0 AS mean_val
        |FROM flat GROUP BY 1, 2 ORDER BY grp, i""".stripMargin,

    "q_vec_quantize" ->
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims, amax,
        |    CASE WHEN amax = 0
        |         THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor((CAST(x AS DOUBLE) * 127.0) / amax) AS BIGINT))
        |    END AS qv
        |  FROM a)
        |SELECT vec_id, n_dims, amax,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(len(list_filter(qv, x -> abs(x) >= 127)) AS BIGINT) AS n_sat,
        |  md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')) AS q_checksum
        |FROM q ORDER BY vec_id""".stripMargin,

    // int8 coarse top-20 (k·overscan) per query, full-precision rerank
    // to top-5 — same quantization formulas as q_vec_quantize
    "ann_int8" ->
      s"""WITH ${flatSql("embeddings")},
         |a8 AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |q8v AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor((CAST(x AS DOUBLE) * 127.0) / amax) AS BIGINT)) AS qv
         |  FROM a8 WHERE amax > 0),
         |n8 AS (SELECT vec_id, list_dot_product(qv, qv) AS n8 FROM q8v),
         |qf8 AS (SELECT * FROM q8v WHERE vec_id % 50 = 0),
         |dots8 AS (
         |  SELECT qf8.vec_id AS query_id, c.vec_id AS hit_id,
         |    list_dot_product(qf8.qv, c.qv) AS dot
         |  FROM qf8 JOIN q8v c ON qf8.vec_id <> c.vec_id),
         |coarse AS (
         |  SELECT query_id, hit_id FROM (
         |    SELECT d.query_id, d.hit_id,
         |      row_number() OVER (PARTITION BY d.query_id ORDER BY
         |        CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.n8 AS DOUBLE)) / sqrt(CAST(na.n8 AS DOUBLE)) DESC,
         |        d.hit_id) AS r8
         |    FROM dots8 d JOIN n8 nq ON nq.vec_id = d.query_id
         |                 JOIN n8 na ON na.vec_id = d.hit_id)
         |  WHERE r8 <= 20),
         |rdots AS (
         |  SELECT c.query_id, c.hit_id, list_dot_product(fq.qv, fa.qv) AS dot
         |  FROM coarse c
         |  JOIN qv fq ON fq.vec_id = c.query_id
         |  JOIN qv fa ON fa.vec_id = c.hit_id),
         |ranked AS (
         |  SELECT r.query_id, r.hit_id,
         |    CAST(r.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE)) / sqrt(CAST(na.nrm AS DOUBLE)) AS cosine,
         |    row_number() OVER (PARTITION BY r.query_id ORDER BY
         |      CAST(r.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE)) / sqrt(CAST(na.nrm AS DOUBLE)) DESC,
         |      r.hit_id) AS rnk
         |  FROM rdots r JOIN norms nq ON nq.vec_id = r.query_id
         |               JOIN norms na ON na.vec_id = r.hit_id)
         |SELECT query_id, hit_id, cosine, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // two-level assignment: fine→coarse routing, vector probes 2
    // coarse buckets, scores only the fine centroids registered there
    "ann_assign2" ->
      s"""WITH ${flatSql("embeddings")},
         |$assign2Sql
         |SELECT vec_id, bucket FROM assigned ORDER BY vec_id""".stripMargin,

    // SemDeDup: 1-Lloyd learned codebook (the ann_ivf_learned build),
    // within-cluster pairwise cosine, dup = has a lower-id neighbor ≥ τ
    "dedup_semantic" ->
      s"""WITH $augSql,
         |${flatSql("emb")},
         |cents0 AS (SELECT vec_id AS cent_id, qv FROM qv WHERE vec_id % 50 = 7),
         |cnorm0 AS (SELECT vec_id AS cent_id, nrm FROM norms WHERE vec_id % 50 = 7),
         |adots0 AS (
         |  SELECT f.vec_id, c.cent_id, list_dot_product(f.qv, c.qv) AS dot
         |  FROM qv f CROSS JOIN cents0 c),
         |assigned0 AS (
         |  SELECT vec_id, cent_id AS bucket FROM (
         |    SELECT a.vec_id, a.cent_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(a.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
         |        a.cent_id) AS r
         |    FROM adots0 a JOIN norms n ON n.vec_id = a.vec_id
         |                  JOIN cnorm0 cn ON cn.cent_id = a.cent_id)
         |  WHERE r = 1),
         |cents_dim AS (
         |  SELECT a.bucket AS cent_id, f.i,
         |    CAST(floor(CAST(sum(f.q) AS DOUBLE) / count(*)) AS BIGINT) AS q
         |  FROM assigned0 a JOIN flat f ON f.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         |cents AS (SELECT cent_id, list(q ORDER BY i) AS qv
         |  FROM cents_dim GROUP BY 1),
         |cnorm AS (SELECT cent_id, list_dot_product(qv, qv) AS nrm FROM cents),
         |adots AS (
         |  SELECT f.vec_id, c.cent_id, list_dot_product(f.qv, c.qv) AS dot
         |  FROM qv f CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, cent_id AS bucket FROM (
         |    SELECT a.vec_id, a.cent_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(a.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
         |        a.cent_id) AS r
         |    FROM adots a JOIN norms n ON n.vec_id = a.vec_id
         |                 JOIN cnorm cn ON cn.cent_id = a.cent_id)
         |  WHERE r = 1),
         |$semDupTailSql""".stripMargin,

    // SemDeDup over the two-level assignment: the ann_assign2 routing
    // chain on the augmented corpus, then the shared dup tail
    "dedup_semantic2" ->
      s"""WITH $augSql,
         |${flatSql("emb")},
         |$assign2Sql,
         |$semDupTailSql""".stripMargin,

    // cross-set decontamination: bands over the full augmented corpus,
    // candidates = bench×corpus band collisions, exact cosine ≥ 0.35
    "dedup_crossset" ->
      s"""WITH $augSql,
         |${flatSql("emb")},
         |$lshBandsSql,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS bench_id, b.vec_id
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_val = b.band_val
         |  WHERE a.vec_id % 29 = 0 AND a.vec_id < 100000
         |    AND NOT (b.vec_id % 29 = 0 AND b.vec_id < 100000)),
         |cdot AS (
         |  SELECT c.bench_id, c.vec_id, list_dot_product(fa.qv, fb.qv) AS dot
         |  FROM cand c
         |  JOIN qv fa ON fa.vec_id = c.bench_id
         |  JOIN qv fb ON fb.vec_id = c.vec_id)
         |SELECT d.bench_id, d.vec_id,
         |  CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE)) / sqrt(CAST(nb.nrm AS DOUBLE)) AS cosine
         |FROM cdot d JOIN norms na ON na.vec_id = d.bench_id
         |            JOIN norms nb ON nb.vec_id = d.vec_id
         |WHERE CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE))
         |      / sqrt(CAST(nb.nrm AS DOUBLE)) >= 0.35
         |ORDER BY d.bench_id, d.vec_id""".stripMargin)

  /** The IVF-PQ oracle chain (coarse assignment → residual encode →
    * per-list ADC), term-for-term the ivfpqTopK build, ending in
    * `approx(query_id, hit_id, adist)` — shared by ann_ivfpq (top-5),
    * ann_ivfpq_rerank (top-20 then exact re-rank) and ann_recall
    * (top-5 vs the exact ground truth), so the three gates cannot
    * drift apart.
    */
  private def ivfpqApproxCte: String = s"""$ivfpqEncodeCte,
      |probes AS (SELECT vec_id AS query_id, co_id FROM ar
      |           WHERE vec_id % 250 = 7 AND r <= 2),
      |qres AS (
      |  SELECT p.query_id, p.co_id, f.i, f.q - c.q AS rq
      |  FROM probes p JOIN flat f ON f.vec_id = p.query_id
      |                JOIN co c ON c.co_id = p.co_id AND c.i = f.i),
      |dt AS (
      |  SELECT e.query_id, e.co_id, w.cw_id, (e.i - 1) // 8 AS s,
      |    sum((e.rq - w.rq) * (e.rq - w.rq)) AS d
      |  FROM qres e JOIN cw w ON w.i = e.i
      |  GROUP BY 1, 2, 3, 4),
      |approx AS (
      |  SELECT t.query_id, c.vec_id AS hit_id, CAST(sum(t.d) AS BIGINT) AS adist
      |  FROM codes c JOIN dt t
      |    ON t.co_id = c.co_id AND t.s = c.s AND t.cw_id = c.code
      |  WHERE c.vec_id <> t.query_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The ENCODE half of the IVF-PQ oracle chain (coarse assignment →
    * residual PQ encode), ending in `codes(vec_id, co_id, s, code)` —
    * exactly the stored-index artifact, so q_stream_ann's cold-rebuild
    * oracle and the three search gates share one body.
    */
  /** Coarse assignment + per-vector residuals — the head every IVF-PQ
    * oracle shares: `co` (the % 125 = 11 coarse book), `ar` (ranked
    * assignments, reused for query probing) and `res(vec_id, co_id, i,
    * rq)`. Factored so the fixture-codebook chain and the learned-
    * codebook (ann_ivfpq_prod) chain cannot drift on routing.
    */
  /** The learned-codebook production chain (ann_ivfpq_prod's body),
    * parameterized over the query predicate so the plain-corpus gate
    * and the clustered-corpus recall gate share one text: seed
    * residuals % 78 = 5 refined by one exact floor-mean Lloyd step,
    * residual PQ encode, nprobe-2 probing, overscan-20 ADC scan, exact
    * integer-L2² re-rank. Expects `flat`/`qv`/`norms` (from
    * [[flatSql]]) and `res`/`ar`/`co` (from [[ivfpqResidualCte]]) in
    * scope; ends in `found(query_id, hit_id, dist, rnk)`, rnk ≤ 5.
    */
  /** The ann_autotune oracle: six suffixed search chains (3 ladder
    * rungs × sample/eval query sets) over ONE materialized learned
    * index, two brute-force ground truths, per-rung micro recall,
    * the relational rung choice (min qualifying, top fallback), and
    * eval recall surfaced on the chosen rung only — the exact mirror
    * of Similarity.autotuneReport at (m=8, k=5, overscan=4,
    * ladder 1/2/4, target 9000 bp).
    */
  private def autotuneOracleSql(clustered: Boolean): String =
    autotuneOracleBody(clustered,
      rungSpecs = Seq(1, 2, 4).map(r => (r.toString, r.toString)),
      extraCtes = "", dedupRungs = false)

  /** The ann_autotune_stored oracle: the SAME decision body, but the
    * rung nprobes are DERIVED from nlist in SQL (scalar subqueries
    * over a `rungv` CTE mirroring `max(1, nlist·frac div 10000)`), and
    * the rung rows are deduplicated after the conversion exactly like
    * the engine's `.distinct` — so the hash gates the nlist-relative
    * rung derivation itself, not just searches at fixed knobs.
    */
  private def autotuneStoredOracleSql: String = {
    val fracs = Seq(1250, 2500, 5000)
    val rungCtes =
      s"""nlistv AS (SELECT CAST(count(DISTINCT co_id) AS BIGINT) AS nl FROM co),
         |rungv AS (SELECT
         |  ${fracs.zipWithIndex.map { case (f, i) =>
               s"greatest(1, nl * $f // 10000) AS np${i + 1}" }
             .mkString(",\n  ")}
         |  FROM nlistv),
         |""".stripMargin
    autotuneOracleBody(clustered = true,
      rungSpecs = fracs.indices.map(i =>
        (s"f${i + 1}", s"(SELECT np${i + 1} FROM rungv)")),
      extraCtes = rungCtes, dedupRungs = true,
      // the pinned coarse book (see the gate comment): nlist stays an
      // index property instead of growing with the corpus
      residualCte = ivfpqResidualCte(PinnedCoarsePred))
  }

  /** The ann_search_stored oracle: re-derive the nlist-relative rungs
    * (same `rungv` mirror as the stored autotune), walk the ladder's
    * sample recalls relationally, pick the smallest qualifying rung
    * (top-rung fallback, `target_met`), then run the QUERY batch's
    * full search chain at the chosen rung via a scalar-subquery nprobe
    * — decision and search hashed as one composition.
    */
  private def searchStoredOracleSql: String = {
    val fracs = Seq(1250, 2500, 5000)
    val rungCtes =
      s"""nlistv AS (SELECT CAST(count(DISTINCT co_id) AS BIGINT) AS nl FROM co),
         |rungv AS (SELECT
         |  ${fracs.zipWithIndex.map { case (f, i) =>
               s"greatest(1, nl * $f // 10000) AS np${i + 1}" }
             .mkString(",\n  ")}
         |  FROM nlistv),
         |""".stripMargin
    val rungSpecs = fracs.indices.map(i =>
      (s"f${i + 1}", s"(SELECT np${i + 1} FROM rungv)"))
    val searches = rungSpecs.map { case (sfx, np) =>
      ivfpqLearnedSearchCte(s"_s$sfx", "vec_id % 50 = 7", nprobe = np,
        candK = 20, k = 5)
    }.mkString(",\n")
    val recUnion = rungSpecs.map { case (sfx, _) =>
      s"SELECT * FROM rec_s$sfx" }.mkString("\n  UNION ALL ")
    val recs = rungSpecs.map { case (sfx, np) =>
      s"""rec_s$sfx AS (
         |  SELECT $np AS nprobe, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(CASE WHEN f.hit_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_found
         |  FROM exact_s e
         |  LEFT JOIN (SELECT DISTINCT query_id, hit_id FROM found_s$sfx) f
         |    ON f.query_id = e.query_id AND f.hit_id = e.hit_id)""".stripMargin
    }.mkString(",\n") +
      s",\nrec_s AS (SELECT DISTINCT * FROM ($recUnion))"
    s"""WITH $clusteredSql,
       |${flatSql("clustered")},
       |${ivfpqResidualCte(PinnedCoarsePred)},
       |$ivfpqLearnedIndexCte,
       |$rungCtes$searches,
       |exd_s AS (
       |  SELECT qf.vec_id AS query_id, a.vec_id AS hit_id,
       |    CAST(nq.nrm + na.nrm - 2 * list_dot_product(qf.qv, a.qv) AS BIGINT) AS dist
       |  FROM qv qf JOIN qv a ON a.vec_id <> qf.vec_id
       |  JOIN norms nq ON nq.vec_id = qf.vec_id
       |  JOIN norms na ON na.vec_id = a.vec_id
       |  WHERE qf.vec_id % 50 = 7),
       |exact_s AS MATERIALIZED (
       |  SELECT query_id, hit_id FROM (
       |    SELECT query_id, hit_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist, hit_id) AS r
       |    FROM exd_s) WHERE r <= 5),
       |$recs,
       |pick AS (
       |  SELECT coalesce(qual, top) AS chosen_np, qual IS NOT NULL AS target_met
       |  FROM (SELECT
       |    min(CASE WHEN (10000 * n_found) // n_exact >= 9000 THEN nprobe END)
       |      AS qual,
       |    max(nprobe) AS top
       |  FROM rec_s)),
       |${ivfpqLearnedSearchCte("_q", "vec_id % 50 = 33",
           nprobe = "(SELECT chosen_np FROM pick)", candK = 20, k = 5)}
       |SELECT f.query_id, f.hit_id, f.dist, f.rnk,
       |  p.chosen_np AS nprobe,
       |  (SELECT (10000 * n_found) // n_exact FROM rec_s
       |   WHERE nprobe = p.chosen_np) AS sample_recall_bp,
       |  p.target_met AS target_met
       |FROM found_q f, pick p
       |ORDER BY f.query_id, f.rnk""".stripMargin
  }

  /** Shared autotune-oracle body: one materialized learned index,
    * one suffixed search chain per (rung, query set), two brute-force
    * ground truths, per-rung micro recall, the relational decision
    * (min qualifying rung, top fallback, `target_met`). `rungSpecs`
    * maps CTE suffix → the rung's nprobe as an SQL expression (a
    * literal for the absolute ladder, a scalar subquery for the
    * nlist-relative one); `dedupRungs` collapses rungs that convert
    * to the same nprobe, mirroring the engine's `.distinct`.
    */
  private def autotuneOracleBody(clustered: Boolean,
                                 rungSpecs: Seq[(String, String)],
                                 extraCtes: String,
                                 dedupRungs: Boolean,
                                 residualCte: String = ivfpqResidualCte(CoarsePred))
      : String = {
    val src = if (clustered) "clustered" else "embeddings"
    val pre = if (clustered) s"$clusteredSql,\n" else ""
    val searches = (for ((sfx, np) <- rungSpecs; (set, filt) <- Seq(
        "s" -> "vec_id % 50 = 7", "e" -> "vec_id % 50 = 19")) yield
      ivfpqLearnedSearchCte(s"_$set$sfx", filt, nprobe = np, candK = 20, k = 5))
      .mkString(",\n")
    def exactCtes(set: String, filt: String) =
      s"""exd_$set AS (
         |  SELECT qf.vec_id AS query_id, a.vec_id AS hit_id,
         |    CAST(nq.nrm + na.nrm - 2 * list_dot_product(qf.qv, a.qv) AS BIGINT) AS dist
         |  FROM qv qf JOIN qv a ON a.vec_id <> qf.vec_id
         |  JOIN norms nq ON nq.vec_id = qf.vec_id
         |  JOIN norms na ON na.vec_id = a.vec_id
         |  WHERE qf.$filt),
         |exact_$set AS MATERIALIZED (
         |  SELECT query_id, hit_id FROM (
         |    SELECT query_id, hit_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, hit_id) AS r
         |    FROM exd_$set) WHERE r <= 5)""".stripMargin
    def recCtes(set: String) = rungSpecs.map { case (sfx, np) =>
      s"""rec_$set$sfx AS (
         |  SELECT $np AS nprobe, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(CASE WHEN f.hit_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_found
         |  FROM exact_$set e
         |  LEFT JOIN (SELECT DISTINCT query_id, hit_id FROM found_$set$sfx) f
         |    ON f.query_id = e.query_id AND f.hit_id = e.hit_id)""".stripMargin
    }.mkString(",\n") + {
      val union = rungSpecs.map { case (sfx, _) => s"SELECT * FROM rec_$set$sfx" }
        .mkString("\n  UNION ALL ")
      if (dedupRungs) s",\nrec_$set AS (SELECT DISTINCT * FROM ($union))"
      else s",\nrec_$set AS ($union)"
    }
    s"""WITH $pre${flatSql(src)},
       |$residualCte,
       |$ivfpqLearnedIndexCte,
       |$extraCtes$searches,
       |${exactCtes("s", "vec_id % 50 = 7")},
       |${exactCtes("e", "vec_id % 50 = 19")},
       |${recCtes("s")},
       |${recCtes("e")},
       |pick AS (
       |  SELECT coalesce(qual, top) AS chosen_np, qual IS NOT NULL AS target_met
       |  FROM (SELECT
       |    min(CASE WHEN (10000 * n_found) // n_exact >= 9000 THEN nprobe END)
       |      AS qual,
       |    max(nprobe) AS top
       |  FROM rec_s))
       |SELECT s.nprobe, s.n_exact, s.n_found,
       |  (10000 * s.n_found) // s.n_exact AS sample_recall_bp,
       |  s.nprobe = p.chosen_np AS chosen,
       |  CASE WHEN s.nprobe = p.chosen_np
       |       THEN (10000 * e.n_found) // e.n_exact END AS eval_recall_bp,
       |  p.target_met AS target_met
       |FROM rec_s s JOIN rec_e e ON e.nprobe = s.nprobe, pick p
       |ORDER BY s.nprobe""".stripMargin
  }

  private def ivfpqLearnedFoundCte(queryFilter: String): String =
    s"""$ivfpqLearnedIndexCte,
       |${ivfpqLearnedSearchCte("", queryFilter, nprobe = "2", candK = 20, k = 5)}""".stripMargin

  /** Rung-independent half of the learned-codebook chain (seed cells →
    * one floor-mean Lloyd step → corpus codes) — MATERIALIZED so a
    * multi-rung oracle (the ann_autotune nprobe ladder) trains and
    * encodes once, not once per searched rung.
    */
  private def ivfpqLearnedIndexCte: String =
    """cw0 AS (SELECT vec_id AS cw_id, i, rq FROM res WHERE vec_id % 78 = 5),
      |sd0 AS (
      |  SELECT e.vec_id, w.cw_id, (e.i - 1) // 8 AS s,
      |    sum((e.rq - w.rq) * (e.rq - w.rq)) AS d
      |  FROM res e JOIN cw0 w ON w.i = e.i
      |  GROUP BY 1, 2, 3),
      |asg0 AS (
      |  SELECT vec_id, s, cw_id FROM (
      |    SELECT vec_id, s, cw_id,
      |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS r
      |    FROM sd0) WHERE r = 1),
      |cw1 AS MATERIALIZED (
      |  SELECT a.cw_id, e.i,
      |    CAST(floor(CAST(sum(e.rq) AS DOUBLE) / count(*)) AS BIGINT) AS rq
      |  FROM asg0 a JOIN res e
      |    ON e.vec_id = a.vec_id AND (e.i - 1) // 8 = a.s
      |  GROUP BY 1, 2),
      |sd1 AS (
      |  SELECT e.vec_id, e.co_id, w.cw_id, (e.i - 1) // 8 AS s,
      |    sum((e.rq - w.rq) * (e.rq - w.rq)) AS d
      |  FROM res e JOIN cw1 w ON w.i = e.i
      |  GROUP BY 1, 2, 3, 4),
      |codes AS MATERIALIZED (
      |  SELECT vec_id, co_id, s, cw_id AS code FROM (
      |    SELECT vec_id, co_id, s, cw_id,
      |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS r
      |    FROM sd1) WHERE r = 1)""".stripMargin

  /** The searched half, parameterized by probe width and candidate
    * depth and SUFFIXED so several rungs coexist in one oracle: emits
    * `found$sfx(query_id, hit_id, dist, rnk ≤ $k)` over the shared
    * [[ivfpqLearnedIndexCte]] artifacts — exactly
    * Similarity.ivfpqSearchStoredLearned + exactRerank at
    * (nprobe, candK = k·overscan).
    */
  private def ivfpqLearnedSearchCte(sfx: String, queryFilter: String,
                                    nprobe: String, candK: Int, k: Int): String =
    s"""probes$sfx AS (SELECT vec_id AS query_id, co_id FROM ar
       |           WHERE $queryFilter AND r <= $nprobe),
       |qres$sfx AS (
       |  SELECT p.query_id, p.co_id, f.i, f.q - c.q AS rq
       |  FROM probes$sfx p JOIN flat f ON f.vec_id = p.query_id
       |                JOIN co c ON c.co_id = p.co_id AND c.i = f.i),
       |dt$sfx AS (
       |  SELECT e.query_id, e.co_id, w.cw_id, (e.i - 1) // 8 AS s,
       |    sum((e.rq - w.rq) * (e.rq - w.rq)) AS d
       |  FROM qres$sfx e JOIN cw1 w ON w.i = e.i
       |  GROUP BY 1, 2, 3, 4),
       |approx$sfx AS (
       |  SELECT t.query_id, c.vec_id AS hit_id, CAST(sum(t.d) AS BIGINT) AS adist
       |  FROM codes c JOIN dt$sfx t
       |    ON t.co_id = c.co_id AND t.s = c.s AND t.cw_id = c.code
       |  WHERE c.vec_id <> t.query_id
       |  GROUP BY 1, 2),
       |cand$sfx AS (
       |  SELECT query_id, hit_id FROM (
       |    SELECT query_id, hit_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist, hit_id) AS r
       |    FROM approx$sfx) WHERE r <= $candK),
       |rr$sfx AS (
       |  SELECT c.query_id, c.hit_id,
       |    CAST(nq.nrm + nh.nrm - 2 * list_dot_product(fq.qv, fh.qv) AS BIGINT) AS dist
       |  FROM cand$sfx c
       |  JOIN qv fq ON fq.vec_id = c.query_id
       |  JOIN qv fh ON fh.vec_id = c.hit_id
       |  JOIN norms nq ON nq.vec_id = c.query_id
       |  JOIN norms nh ON nh.vec_id = c.hit_id),
       |found$sfx AS (
       |  SELECT query_id, hit_id, dist, rnk FROM (
       |    SELECT query_id, hit_id, dist,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist, hit_id) AS rnk
       |    FROM rr$sfx) WHERE rnk <= $k)""".stripMargin

  private def ivfpqResidualCte(coarsePred: String): String =
    s"""co AS (SELECT vec_id AS co_id, i, q FROM flat WHERE $coarsePred),
      |ad AS (
      |  SELECT f.vec_id, c.co_id, sum((f.q - c.q) * (f.q - c.q)) AS d
      |  FROM flat f JOIN co c ON c.i = f.i
      |  GROUP BY 1, 2),
      |ar AS MATERIALIZED (
      |  SELECT vec_id, co_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, co_id) AS r
      |  FROM ad),
      |assigned AS (SELECT vec_id, co_id FROM ar WHERE r = 1),
      |res AS MATERIALIZED (
      |  SELECT f.vec_id, a.co_id, f.i, f.q - c.q AS rq
      |  FROM flat f JOIN assigned a ON a.vec_id = f.vec_id
      |              JOIN co c ON c.co_id = a.co_id AND c.i = f.i)""".stripMargin

  private def ivfpqEncodeCte: String =
    s"""${ivfpqResidualCte(CoarsePred)},
      |cw AS (SELECT vec_id AS cw_id, i, rq FROM res
      |       WHERE vec_id % 40 = 3 AND vec_id < 2560),
      |sd AS (
      |  SELECT e.vec_id, e.co_id, w.cw_id, (e.i - 1) // 8 AS s,
      |    sum((e.rq - w.rq) * (e.rq - w.rq)) AS d
      |  FROM res e JOIN cw w ON w.i = e.i
      |  GROUP BY 1, 2, 3, 4),
      |codes AS (
      |  SELECT vec_id, co_id, s, cw_id AS code FROM (
      |    SELECT vec_id, co_id, s, cw_id,
      |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cw_id) AS r
      |    FROM sd) WHERE r = 1)""".stripMargin

  /** Shared IVF oracle tail: assignment / nprobe=2 probing / in-bucket
    * top-5 search against whatever `cents`(cent_id, i, q) / `cnorm`
    * codebook the preceding CTEs define (seed vectors for ann_ivf, the
    * floor-mean Lloyd refinement for ann_ivf_learned).
    */
  private def ivfTailSql: String =
    """-- assignment: nearest centroid per vector
      |adots AS (
      |  SELECT f.vec_id, c.cent_id, list_dot_product(f.qv, c.qv) AS dot
      |  FROM qv f CROSS JOIN cents c),
      |assigned AS (
      |  SELECT vec_id, cent_id AS bucket FROM (
      |    SELECT a.vec_id, a.cent_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        CAST(a.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
      |        a.cent_id) AS r
      |    FROM adots a JOIN norms n ON n.vec_id = a.vec_id
      |                 JOIN cnorm cn ON cn.cent_id = a.cent_id)
      |  WHERE r = 1),
      |-- probes: 2 nearest centroids per query
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id AS bucket FROM (
      |    SELECT a.vec_id, a.cent_id,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        CAST(a.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
      |        a.cent_id) AS r
      |    FROM adots a JOIN norms n ON n.vec_id = a.vec_id
      |                 JOIN cnorm cn ON cn.cent_id = a.cent_id
      |    WHERE a.vec_id % 50 = 0)
      |  WHERE r <= 2),
      |-- search only probed buckets
      |pairs AS (
      |  SELECT p.query_id, s.vec_id AS hit_id
      |  FROM probes p JOIN assigned s ON s.bucket = p.bucket
      |  WHERE s.vec_id <> p.query_id),
      |dots AS (
      |  SELECT pr.query_id, pr.hit_id, list_dot_product(fq.qv, fa.qv) AS dot
      |  FROM pairs pr
      |  JOIN qv fq ON fq.vec_id = pr.query_id
      |  JOIN qv fa ON fa.vec_id = pr.hit_id),
      |ranked AS (
      |  SELECT d.query_id, d.hit_id,
      |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE)) / sqrt(CAST(na.nrm AS DOUBLE)) AS cosine,
      |    row_number() OVER (PARTITION BY d.query_id ORDER BY
      |      CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE)) / sqrt(CAST(na.nrm AS DOUBLE)) DESC,
      |      d.hit_id) AS rnk
      |  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
      |              JOIN norms na ON na.vec_id = d.hit_id)""".stripMargin

  /** Two-level assignment oracle chain (the ann_assign2 routing): fine
    * centroids (`vec_id % 25 = 7`) register under their nearest coarse
    * centroid (`vec_id % 100 = 3`); each vector probes its 2 nearest
    * coarse buckets and rank-1s only the fine centroids registered
    * there. Ends in `assigned(vec_id, bucket)` — shared by ann_assign2
    * and dedup_semantic2 (whose `flat` comes from the augmented corpus).
    */
  private def assign2Sql: String =
    """cf AS (SELECT vec_id AS cent_id, qv FROM qv WHERE vec_id % 25 = 7),
      |cfn AS (SELECT vec_id AS cent_id, nrm FROM norms WHERE vec_id % 25 = 7),
      |co AS (SELECT vec_id AS co_id, qv FROM qv WHERE vec_id % 100 = 3),
      |con AS (SELECT vec_id AS co_id, nrm FROM norms WHERE vec_id % 100 = 3),
      |f2cd AS (SELECT cf.cent_id, co.co_id, list_dot_product(cf.qv, co.qv) AS dot
      |         FROM cf CROSS JOIN co),
      |f2c AS (SELECT cent_id, co_id FROM (
      |  SELECT d.cent_id, d.co_id, row_number() OVER (PARTITION BY d.cent_id ORDER BY
      |    CAST(d.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
      |    d.co_id) AS r
      |  FROM f2cd d JOIN cfn n ON n.cent_id = d.cent_id
      |              JOIN con cn ON cn.co_id = d.co_id) WHERE r = 1),
      |coreg AS (SELECT co_id, qv FROM co
      |          WHERE co_id IN (SELECT co_id FROM f2c)),
      |v2cd AS (SELECT f.vec_id, co.co_id, list_dot_product(f.qv, co.qv) AS dot
      |         FROM qv f CROSS JOIN coreg co),
      |v2c AS (SELECT vec_id, co_id FROM (
      |  SELECT d.vec_id, d.co_id, row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |    CAST(d.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
      |    d.co_id) AS r
      |  FROM v2cd d JOIN norms n ON n.vec_id = d.vec_id
      |              JOIN con cn ON cn.co_id = d.co_id) WHERE r <= 2),
      |cand AS (SELECT v.vec_id, f.cent_id FROM v2c v JOIN f2c f USING (co_id)),
      |cd AS (SELECT c.vec_id, c.cent_id, list_dot_product(fv.qv, fc.qv) AS dot
      |       FROM cand c JOIN qv fv ON fv.vec_id = c.vec_id
      |       JOIN cf fc ON fc.cent_id = c.cent_id),
      |assigned AS (
      |  SELECT vec_id, bucket FROM (
      |    SELECT d.vec_id, d.cent_id AS bucket,
      |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |        CAST(d.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) / sqrt(CAST(cn.nrm AS DOUBLE)) DESC,
      |        d.cent_id) AS r
      |    FROM cd d JOIN norms n ON n.vec_id = d.vec_id
      |              JOIN cfn cn ON cn.cent_id = d.cent_id)
      |  WHERE r = 1)""".stripMargin

  /** Shared SemDeDup oracle tail over an `assigned(vec_id, bucket)` CTE:
    * within-cluster pairwise cosine, dup = has a lower-id neighbor ≥ 0.9.
    */
  private def semDupTailSql: String =
    """cpairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM assigned a JOIN assigned b
      |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |pdots AS (
      |  SELECT p.vec_a, p.vec_b, list_dot_product(fa.qv, fb.qv) AS dot
      |  FROM cpairs p
      |  JOIN qv fa ON fa.vec_id = p.vec_a
      |  JOIN qv fb ON fb.vec_id = p.vec_b),
      |dups AS (
      |  SELECT DISTINCT d.vec_b AS vec_id
      |  FROM pdots d JOIN norms na ON na.vec_id = d.vec_a
      |               JOIN norms nb ON nb.vec_id = d.vec_b
      |  WHERE CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE))
      |        / sqrt(CAST(nb.nrm AS DOUBLE)) >= 0.9)
      |SELECT a.vec_id, a.bucket AS cluster_id, (d.vec_id IS NOT NULL) AS is_dup
      |FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin

  /** Shared hyperplane-LSH oracle tail: deterministic integer hyperplanes
    * (same Knuth-hash arithmetic as Similarity.hcomp), sign-bit bands of
    * 8 bits × 4, candidates = pairs sharing a band, exact quantized
    * cosine on candidates only.
    */
  private def lshBandsSql: String =
    """hp AS (SELECT unnest(generate_series(0, 31)) AS j),
      |pdot AS (
      |  SELECT f.vec_id, h.j,
      |    sum(f.q * ((2654435761 * (h.j * 1024 + (f.i - 1))) % 4294967296 % 65537 - 32768)) AS d
      |  FROM flat f CROSS JOIN hp h
      |  GROUP BY 1, 2),
      |bands AS (
      |  SELECT vec_id, j // 8 AS band_id,
      |    sum(CASE WHEN d >= 0 THEN 1 << (j % 8) ELSE 0 END) AS band_val
      |  FROM pdot GROUP BY 1, 2)""".stripMargin

  /** The 16-plane MULTI-PROBE candidate oracle chain (per-plane dots →
    * margin rank → primary bands → +1 lowest-margin flip probe →
    * probe-hits-primary either direction → distinct-band counted
    * `cand(vec_a, vec_b, bands_hit)`), over whatever `flat` provides —
    * shared by the dedup_embed_lsh_mp gate and the dedup_embed_eval
    * recall gate so the candidate definitions cannot drift.
    */
  private def mpCandSql: String =
    """hp AS (SELECT unnest(generate_series(0, 15)) AS j),
      |pdot AS (
      |  SELECT f.vec_id, h.j,
      |    sum(f.q * ((2654435761 * (h.j * 1024 + (f.i - 1))) % 4294967296 % 65537 - 32768)) AS d
      |  FROM flat f CROSS JOIN hp h
      |  GROUP BY 1, 2),
      |pb AS (
      |  SELECT vec_id, j // 8 AS band_id, j % 8 AS k, d,
      |    row_number() OVER (PARTITION BY vec_id, j // 8 ORDER BY abs(d), j) AS mr
      |  FROM pdot),
      |bands AS (
      |  SELECT vec_id, band_id,
      |    CAST(sum(CASE WHEN d >= 0 THEN 1 << k ELSE 0 END) AS BIGINT) AS band_val
      |  FROM pb GROUP BY 1, 2),
      |probes AS (
      |  SELECT vec_id, band_id, band_val FROM bands
      |  UNION ALL
      |  SELECT b.vec_id, b.band_id, xor(b.band_val, CAST(1 << p.k AS BIGINT))
      |  FROM bands b JOIN pb p
      |    ON p.vec_id = b.vec_id AND p.band_id = b.band_id AND p.mr = 1),
      |hits AS (
      |  SELECT least(p.vec_id, q.vec_id) AS vec_a,
      |    greatest(p.vec_id, q.vec_id) AS vec_b, p.band_id
      |  FROM probes p JOIN bands q
      |    ON p.band_id = q.band_id AND p.band_val = q.band_val
      |   AND p.vec_id <> q.vec_id),
      |cand AS (
      |  SELECT vec_a, vec_b, count(DISTINCT band_id) AS bands_hit
      |  FROM hits GROUP BY 1, 2)""".stripMargin

  private def lshSql: String =
    s"""$lshBandsSql,
      |cand AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, count(*) AS bands_shared
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |cdot AS (
      |  SELECT c.vec_a, c.vec_b, c.bands_shared,
      |    list_dot_product(fa.qv, fb.qv) AS dot
      |  FROM cand c
      |  JOIN qv fa ON fa.vec_id = c.vec_a
      |  JOIN qv fb ON fb.vec_id = c.vec_b),
      |scored AS (
      |  SELECT d.vec_a, d.vec_b, d.bands_shared,
      |    CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE)) / sqrt(CAST(nb.nrm AS DOUBLE)) AS cosine
      |  FROM cdot d JOIN norms na ON na.vec_id = d.vec_a
      |              JOIN norms nb ON nb.vec_id = d.vec_b)""".stripMargin
}
