package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.metrics.Ledger

/** One-off empirical scale-curve measurement (SCALE.md): time the heavy
  * shuffle-bound queries at sf0.01, sf0.1, and a REPLICATED 10× of sf0.1,
  * and report the observed scaling exponents (slope of log t vs log n).
  *
  * The 10× corpus is sf0.1 replicated `Reps` times at the RAW-file level:
  *   - `documents`: doc_id offset per replica; a replica token appended to
  *     `text` so content hashes/sketch contents are DISTINCT per replica —
  *     key cardinality grows 10×, group sizes stay (what organic growth
  *     does to q19/q57/q60);
  *   - `events`: event_id offset; `ts` shifted ~400 days per replica so
  *     incident windows NEVER span replicas — q51's per-bin fan-out stays
  *     (organic growth adds hours, not bin density).
  *
  * The near-dup PAIR queries (q20–q23, q26, and their dependants q65/q72)
  * are deliberately NOT measured this way: replication distorts exactly
  * what drives their cost — an appended token leaves >95% of
  * shingles/bands shared, so every document becomes a 10-deep near-dup
  * cluster and candidate fan-out grows ~100×, which organic 10× growth
  * does not do. Their scale story remains the plan-shape argument
  * (df-capped index, banded LSH) pinned by PlanAuditSpec. q69/q71 ARE
  * included: their duplicated-window / top-bigram aggregations have no
  * pair fan-out (group DEPTH grows under replication, group count does
  * not), so the replica is an honest upper-bound stress for them.
  */
object Scale {
  private val Reps = 10
  private val Queries = Seq(
    "q19_dedup_exact", "q51_range_join", "q57_kmv_distinct", "q60_decontaminate",
    "q66_bm25_search", "q69_substring_dedup", "q71_bigram_coverage",
    // round-7 additions: vocab/LM/funnel/TF-IDF are aggregation-shaped
    // (no pair fan-out) so the replica is an honest stress; q76 stays
    // excluded with the other pair queries (see scaladoc above)
    "q73_vocab_coverage", "q74_bigram_lm", "q75_event_funnel",
    "q78_tfidf_keywords",
    // round-7 late additions, all aggregation-shaped: q95's shuffle is
    // bounded by the sketch grid; q97's time-shifted replicas ARE organic
    // growth for retention (longer history, same users); q98 is q19's
    // digest agg + a co-partitioned join-back. q96/q99 are excluded with
    // the pair queries (replicated vectors would fake 10-deep near-dup
    // clusters).
    "q95_heavy_hitters", "q97_cohort_retention", "q98_split_leakage",
    // late round-7: q100 is a digest-keyed full outer (documents); q109's
    // quartile table and q111's staged funnel windows ride events — all
    // aggregation-shaped, honest under replication. q113 reads staged
    // archives.
    "q100_snapshot_diff", "q109_outlier_bands", "q111_funnel_latency",
    // round-9: the graph family, now that the replica builds orders/
    // lineitem/customer/supplier with per-replica key offsets. Each
    // replica is a DISCONNECTED copy of the trade graph — nodes, edges,
    // wedges, and triangles all grow 10× with group sizes unchanged,
    // which is what organic entity growth does (new customers trade with
    // new suppliers; they don't densify the existing clique). q93 expects
    // ~linear in edges per round; q108's wedge join is bounded by
    // cap²·customers; q110's anti-join probes are linear per relation.
    "q93_pagerank", "q108_triangles", "q110_integrity_audit",
    // round-9 cards, all aggregation-shaped and replica-honest: q117's
    // (type, hour) grid grows with the time-shifted replicas (organic =
    // longer history); q118 propagates over the disconnected trade-graph
    // copies like q93; q119's ranked heads are constant-bounded per lang;
    // q120's delta and base both grow 10× with group sizes unchanged
    "q117_burst_zscore", "q118_label_propagation", "q119_zipf_fit",
    "q120_ivm_maintenance",
    // late round-9: q121 rides the one user-keyed events shuffle
    // (time-shifted replicas = organic history); q122's PSI is
    // decile-bucketed aggregation over documents; q123's BFS frontier
    // expands over the disconnected trade-graph copies; q124 is a
    // single conditional-aggregation lineitem scan
    "q121_markov_transitions", "q122_psi_drift", "q123_khop_reach",
    "q124_aqp_sample",
    // round-9 batch 2: q126's baskets ride the replicated orders/lineitem
    // against the UNREPLICATED part dim (baskets grow 10×, the item
    // domain doesn't — organic basket growth); q127 is one orders scan
    // whose Expand distincts grow with the replicated keys; q130 runs
    // the q93 schedule over the disconnected trade-graph copies.
    // q129 (containment) is EXCLUDED with the pair queries — its scale
    // story is q20's df-capped index, pinned by PlanAuditSpec; q128 is
    // dim-table-constant (64 distinct names at every SF), nothing to
    // measure.
    "q126_basket_rules", "q127_data_profile", "q130_hits",
    // q133/q135 ride events (time-shifted replicas = organic history,
    // the q121 rule); q134's grid/margins are value-cardinality-fixed
    // while its fact join scales; q136 is honest because replication
    // deepens QI classes without inventing new value domains — exactly
    // what organic customer growth does against fixed nations/segments
    "q133_seq_patterns", "q134_chi_square", "q135_cep_patterns",
    "q136_k_anonymity",
    // q137: scan+aggregate-shaped and value-blind (no pair terms) —
    // identical-vector replication is an honest cost proxy
    "q137_pca_power",
    // q141: q19's digest agg + a digest-co-partitioned join-back (the
    // q98 shape) — replica docs carry distinct content, keys grow 10×
    "q141_dup_weights",
    // q142: q121's corpus pass + type²-bounded induction frames
    "q142_markov_absorption",
    // round-9 late batch: q154 is q147's scan schedule twice + a
    // domain-bounded score collapse (value-blind like q137 — identical-
    // vector replicas are an honest COST proxy; the sweep frame is
    // capped by the 6-dp score domain either way); q156 runs the q118
    // schedule ×3 rounds over the disconnected trade-graph copies;
    // q157's cost is the corpus word explode (grows 10×) — merge rounds
    // ride the barely-growing vocab frame, which organic growth also
    // keeps Zipf-sublinear; q158 rides events (time-shifted replicas =
    // organic longer history: the spine, join, and stats all grow with
    // hours); q161's per-user totals deepen under the same organic-
    // history rule (a long-running experiment); q162's posting lists
    // DEEPEN ×10 with the term domain fixed (q69/q71's group-depth
    // argument — an honest upper-bound stress for the lag window);
    // q163's customer frame grows 10× via the replica key offsets;
    // q155's baskets multiply against the UNREPLICATED part dim —
    // exactly q126's organic-basket-growth argument.
    // EXCLUDED: q159 (identical-vector replicas keep the distinct-value
    // collapse constant — organic growth widens a continuous feature's
    // value domain ~linearly, so the replica would flatter the
    // threshold window; the q139 rule); q160 (25-row dim card, nothing
    // to measure — the q128 rule); q164 (276-pair sample-bounded audit,
    // same rule).
    "q154_model_eval", "q155_item_cf", "q156_modularity", "q157_bpe_merges",
    "q158_acf", "q161_ab_test", "q162_inverted_index", "q163_rfm_segments",
    // q165: conditional-aggregation passes over the replicated FK tables
    // + the organic-history events gate; q166 is scan-bound (the replica
    // does not shift o_orderdate, so the cell frame stays fixed while
    // the corpus-sized half scales — the q134 margin rule); q167 is
    // q17's narrow scan + a lang²-bounded collapse (labels unchanged
    // under replication, like q134's value-cardinality grid)
    "q165_erase_impact", "q166_seasonal_index", "q167_langid_eval",
    // q168 is a narrow per-doc regex pass (scan-bound; replica docs are
    // real new documents); q169 is q121's one user-keyed shuffle +
    // type²-bounded inductions (time-shifted replicas = organic history,
    // the q121/q142 rule)
    "q168_readability", "q169_removal_attribution",
    // q170 rides q157's trainer verbatim (same word-collapse honesty)
    // and adds only 1-row stage folds
    "q170_bpe_compression",
    // q171: q169's corpus shuffle + a 16-way tagged induction — the
    // analysis layer is corpus-independent like q169's
    "q171_shapley_attribution",
    // q172: two passes over the one user-keyed session shuffle
    // (time-shifted replicas = organic history, the q121 rule); the
    // model broadcast and TakeOrdered cut are bounded
    "q172_session_surprise",
    // round-10 cards: q143's two arms are corpus scans + TakeOrdered
    // (fusion is constant-bounded); q144 is a (lang, bucket)-bounded
    // aggregate over distinct-content replicas; q145/q151 run over the
    // disconnected trade-graph copies (the q93/q123 rule); q146/q149
    // ride events (time-shifted replicas = organic history; q149's ×32
    // fan-out collapses map-side); q147 is q137's value-blind
    // scan+fold (identical replicated vectors walk the identical
    // trajectory); q148 windows the 10×-file listing. q150 is EXCLUDED
    // with q24's shape (its cost story is the broadcast-query scan,
    // pinned by PlanAuditSpec, and the replicated corpus would add
    // fake identical-vector neighbors to every top-k set)
    "q143_rrf_fusion", "q144_hll_distinct", "q145_sssp", "q146_ewma_spikes",
    "q147_logistic_gd", "q148_compaction_plan", "q149_bootstrap_ci",
    "q151_kcore",
    // q152 rides the one user-keyed events pass (time-shifted replicas =
    // organic history; the KM frame is duration-bounded); q153 is q146's
    // frame + a type-cardinality fold
    "q152_km_survival", "q153_forecast_eval",
    // round-11: q174 is the WINDOWED q117 — the time-shifted replicas
    // put its last-14-days window entirely inside the newest replica, so
    // its cost should stay ~FLAT across decades (exponent ≈ 0 up to the
    // max-day probe scan): the measured proof that day-bounding turns
    // O(history) into O(window)
    "q174_burst_window",
    // round-11 cards. q175: positional explode + broadcast semi-join +
    // per-doc windows — aggregation-shaped, no pair fan-out (flags are
    // linear in positions); q176's folds collapse onto the FIXED 64-
    // bucket dimension; q177 rides q74's kernel + a doc-cardinality
    // ntile; q178/q179 are value-blind narrow decode kernels (replica
    // docs are real new payloads); q180 is q74's schedule + one more
    // vocab-keyed join, folded to the fixed source dimension; q181 is
    // one (source, token) fold + a candidate frame that never grows.
    // EXCLUDED: q173 (its exact arm is the uncapped pair generator —
    // the q20 rule: replication fakes 10-deep near-dup clusters).
    "q175_contamination_spans", "q176_dsir_weights", "q177_ppl_prune_curve",
    "q178_audio_features", "q179_video_features", "q180_doremi_weights",
    "q181_epoch_allocation",
    // q182: one tagged gram explode + map-side-combinable (n, gram) fold —
    // aggregation-shaped. q184: q74's schedule (pair folds on the Zipf-
    // bounded distinct-bigram frame). EXCLUDED: q183 (its exact arm is the
    // uncapped pair generator — same rule as q173).
    "q182_ngram_novelty", "q184_kneser_ney",
    // q187: q69's digest-keyed schedule (in-row chunking, 16-char-digest
    // shuffles only) — group-depth deepens like q69. EXCLUDED: q185 (its
    // exact arm is the brute-force query scan — audit-scale by contract),
    // q186 (near-dup pair card — the q20 replication rule).
    "q187_cdc_dedup",
    // q188: the pair frame map-side combines onto d(d+1)/2 keys — linear
    // scan, dimension-bounded shuffle. q189: narrow per-doc pass. q190:
    // q74's schedule + doc-cardinality rank windows (q177's rule).
    "q188_effective_rank", "q189_mixed_lang", "q190_source_quantile_gate",
    // q191: q162's explode + (term, doc) fold with in-row blob packing —
    // same group-depth shape as the ledger card
    "q191_index_retrieval",
    // q192: q19's digest fold + source-bounded pair fan-out per digest.
    // q193: q59's lang-partitioned cumsum × a 4-row broadcast.
    "q192_source_dup_flow", "q193_packing_curve",
    // q194: the three aggregation passes it reuses (scalar scan, digest
    // fold, q60's shingle semi-join) are each in-list already
    "q194_source_datasheet",
    // q195/q196: one corpus pass + label-dimension arithmetic off the
    // broadcast centroid frame (q68/q70's shape)
    "q195_centroid_distances", "q196_silhouette",
    // q197: the scalar scan + q19 digest fold + q60 semi-join the funnel
    // composes, collapsed to a 7-row drop-stage frame before expansion
    "q197_filter_funnel",
    // q198: two ≤1024-key codebook folds + broadcast-codebook scans; the
    // per-query ADC/exact passes ride the 20-query broadcast (q24's shape)
    "q198_pq_adc",
    // q199: q198's folds on residuals + the coarse broadcast-centroid
    // scan; the ADC pass reads only the probed lists' codes
    "q199_ivfpq_adc")

  /** Per-replica key offset — far above any organic key range at sf0.1. */
  private val KeyOff = 1000000000L

  private def buildReplica(spark: SparkSession, src: String, out: String): Unit = {
    // v2: also builds the trade-graph tables (orders/lineitem/customer/
    // supplier + the unreplicated nation parent) for q93/q108/q110
    // v3: + the unreplicated part dim for q126 (brands are a fixed
    // domain under organic growth, like nation)
    // v4: + embeddings (vec_id offset, vectors as-is) for q137 — the
    // power-iteration cost is scan+aggregate-shaped and value-blind
    // (no pair interactions), so replication is an honest cost proxy
    val done = new java.io.File(s"$out/_BUILT_v4")
    if (done.exists()) return
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val k = explode(sequence(lit(0), lit(Reps - 1))).as("k")
    replicateTradeGraph(spark, src, out, Reps)
    spark.read.parquet(s"$src/embeddings.parquet").select(col("*"), k)
      .withColumn("vec_id", col("vec_id") + col("k") * lit(KeyOff))
      .drop("k")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    docs.select(col("*"), k)
      .withColumn("doc_id", col("doc_id") + col("k") * lit(1000000000L))
      .withColumn("text",
        when(col("k") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replica"), col("k"))))
      .drop("k")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    // ~400 days per replica, branched on the dtype the drop actually carries
    // (the generator has shipped both TIMESTAMP(NANOS)-as-long and naive
    // timestamp[us] — see Tables.events); the replica writes the SAME dtype
    // back so the normal Tables.events scan path handles the 10× dir too
    val shiftedTs = ev.schema("ts").dataType match {
      case LongType => col("ts") + col("k") * lit(400L * 24 * 3600) * lit(1000000000L)
      case TimestampType | TimestampNTZType =>
        col("ts") + make_dt_interval(col("k") * lit(400L))
      case other => throw new IllegalArgumentException(
        s"events.parquet ts: cannot build a time-shifted replica for dtype $other")
    }
    ev.select(col("*"), k)
      .withColumn("event_id", col("event_id") + col("k") * lit(1000000000000L))
      .withColumn("ts", shiftedTs)
      .drop("k")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    done.createNewFile()
  }

  /** Key-offset replication of the trade graph, `reps` copies: each
    * replica is a disconnected copy of the FK graph (every key column that
    * participates in a timed query's join is offset by the same k·KeyOff,
    * so joins never cross replicas). nation and part stay fixed under
    * organic growth (customers multiply, the country list and the brand
    * domain don't) — copied as-is. */
  private def replicateTradeGraph(spark: SparkSession, src: String, out: String,
      reps: Int): Unit = {
    val k = explode(sequence(lit(0), lit(reps - 1))).as("k")
    def repKeys(table: String, keys: Seq[String]): Unit =
      keys.foldLeft(spark.read.parquet(s"$src/$table.parquet").select(col("*"), k)) {
        (d, c) => d.withColumn(c, col(c) + col("k") * lit(KeyOff))
      }.drop("k").write.mode(SaveMode.Overwrite).parquet(s"$out/$table.parquet")
    repKeys("orders", Seq("o_orderkey", "o_custkey"))
    repKeys("lineitem", Seq("l_orderkey", "l_suppkey"))
    repKeys("customer", Seq("c_custkey"))
    repKeys("supplier", Seq("s_suppkey"))
    for (t <- Seq("nation", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
  }

  // ------------------------------------------------------------ graph 100×
  /** 100× EDGE-COUNT decade for the iterative graph family (SCALE.md's
    * round-11 extension): replicate ONLY the trade-graph tables of sf0.1
    * a further 100× (orders/lineitem/customer/supplier with per-replica
    * key offsets — 100 disconnected copies, the organic-growth shape the
    * 10× replica argues), leaving nation/part fixed. Purpose-built for
    * q93/q118/q130/q156: (a) confirm per-round join cost stays
    * edge-linear across 10×→100× (exponent ≈ 1), and (b) OBSERVE the
    * rank-frame broadcast→shuffle fallback fire — node count crosses
    * `GraphQueries.BroadcastNodes` (1M) between the decades, so the
    * per-round rank join switches from hinted broadcast to the
    * partitioned equi-join, visible in the initial plan. */
  private val GraphReps = 100
  private val GraphQueriesTimed =
    Seq("q93_pagerank", "q118_label_propagation", "q130_hits", "q156_modularity")

  private def buildGraphReplica(spark: SparkSession, src: String, out: String): Unit = {
    val done = new java.io.File(s"$out/_BUILT_g100_v1")
    if (done.exists()) return
    replicateTradeGraph(spark, src, out, GraphReps)
    done.createNewFile()
  }

  // ------------------------------------------------------------ dedup 100×
  /** 10×/100× DOCUMENT decades for the pair-generating dedup family — the
    * family the 10× replica deliberately EXCLUDES (see the class scaladoc:
    * an appended replica token leaves >95% of shingles shared across
    * replicas, faking 10-deep near-dup clusters and ~100× candidate
    * fan-out that organic growth does not produce). This build makes
    * replicas SHINGLE-DISJOINT instead: every token is prefixed with a
    * replica tag (`r<k>x`), so within-replica text statistics — exact-dup
    * structure, per-shingle df distribution, shingles per doc — are
    * exactly the base corpus's, and cross-replica shingles never collide.
    * 100 disconnected copies: the same organic-growth shape graph100
    * argues for the trade graph, now for text. Purpose: measure that the
    * banded/bucketed pair queries scale LINEARLY in corpus size
    * (exponent ≈ 1 per decade) where all-pairs candidate generation
    * would be quadratic (10 000× work at the 100× decade). */
  private val DedupQueriesTimed = Seq("q19_dedup_exact",
    "q20_dedup_ngram_jaccard", "q21_dedup_minhash_lsh", "q65_dedup_clusters",
    "q129_containment", "q76_incremental_dedup",
    // round 12: the substring-span family — dirty-gram mass is
    // within-replica only (disjoint shingles), so the honest decade is the
    // full 10×: pair fan-out grows with the replica count, never across it
    "q200_substring_spans", "q204_excise_audit",
    // round 13: the sketch-overlap card — the decade SHOULD be ~flat past
    // the scan (per-source state is k longs at every corpus size); a
    // super-linear exponent here means the buffered aggregator regressed
    "q213_kmv_overlap")

  private def buildDedupReplica(spark: SparkSession, src: String, out: String,
      reps: Int): Unit = {
    val done = new java.io.File(s"$out/_BUILT_d${reps}_v1")
    if (done.exists()) return
    val k = explode(sequence(lit(0), lit(reps - 1))).as("k")
    spark.read.parquet(s"$src/documents.parquet").select(col("*"), k)
      .withColumn("doc_id", col("doc_id") + col("k") * lit(KeyOff))
      // "$0" = the matched token; replacement is per-row (k varies)
      .withColumn("text", regexp_replace(col("text"), lit("[^ ]+"),
        concat(lit("r"), col("k").cast("string"), lit("x$0"))))
      .drop("k")
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    done.createNewFile()
  }

  private def dedup100(spark: SparkSession, tenDir: String, hundredDir: String): Unit = {
    // the 1× base gets the SAME construction (every token carries an
    // "r0x" prefix) so per-token cost is identical across the decades
    // and the exponents measure corpus growth alone
    val oneDir = tenDir + "_base1"
    buildDedupReplica(spark, "/root/testdata/sf0.1", oneDir, 1)
    buildDedupReplica(spark, "/root/testdata/sf0.1", tenDir, 10)
    buildDedupReplica(spark, "/root/testdata/sf0.1", hundredDir, 100)
    val dirs = Seq("sf0.1" -> oneDir,
      "10x" -> tenDir, "100x" -> hundredDir)
    decades(DedupQueriesTimed, dirs, Seq("0.1->10x", "10x->100x"))(timeLong(spark, _, _))
    // linear-fan-out observation: verified near-dup pairs per decade
    // (disjoint replicas ⇒ rows grow ~reps×, never quadratically)
    for ((label, d) <- dirs) {
      val n = SparkEntry.queries("q20_dedup_ngram_jaccard")(spark, d).count()
      println(s"q20 verified pairs at $label: $n")
    }
  }

  /** One materialized run of query `name` over `dir`, in seconds. */
  private def once(spark: SparkSession, name: String, dir: String): Double =
    Ledger.materialize(SparkEntry.queries(name)(spark, dir))

  /** Runs-are-minutes tier: cold + 2 warm, MIN of the warm pair (noise
    * only inflates; the full-suite tiers keep their median-of-3). */
  private def timeLong(spark: SparkSession, name: String, dir: String): Double = {
    once(spark, name, dir)
    math.min(once(spark, name, dir), once(spark, name, dir))
  }

  private def graph100(spark: SparkSession, tenXDir: String, out: String): Unit = {
    buildReplica(spark, "/root/testdata/sf0.1", tenXDir)
    buildGraphReplica(spark, "/root/testdata/sf0.1", out)
    val dirs = Seq("sf0.1" -> "/root/testdata/sf0.1",
      "10x" -> tenXDir, "100x" -> out)
    decades(GraphQueriesTimed, dirs, Seq("0.1->10x", "10x->100x"))(timeLong(spark, _, _))
    // the broadcast→shuffle switch, observed: hinted BroadcastHashJoin
    // count in the initial plan drops when nodes cross the 1M threshold
    for ((label, d) <- Seq("10x" -> tenXDir, "100x" -> out)) {
      val plan = SparkEntry.queries("q93_pagerank")(spark, d)
        .queryExecution.executedPlan.toString
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      println(s"q93 plan at $label: BroadcastHashJoin=$bhj SortMergeJoin=$smj")
    }
  }

  /** Times each query at each (label, dir) decade and prints one line:
    * the times, then the scaling exponent between consecutive decades
    * (slope of log t vs log n, one decade apart), named by `expLabels`. */
  private def decades(queries: Seq[String], dirs: Seq[(String, String)],
      expLabels: Seq[String])(timer: (String, String) => Double): Unit =
    for (q <- queries) {
      val ts = dirs.map { case (label, d) => label -> timer(q, d) }
      val exps = ts.map(_._2).sliding(2).map(p => math.log10(p(1) / p(0)))
      println(f"$q%-24s " + ts.map { case (l, t) => f"$l=$t%.3fs" }.mkString(" ") + "  " +
        expLabels.zip(exps.toSeq).map { case (l, e) => f"exp($l)=$e%.2f" }.mkString(" "))
    }

  private def time(spark: SparkSession, name: String, dir: String): Double = {
    once(spark, name, dir) // cold: codegen + plan cache
    Seq.fill(3)(once(spark, name, dir)).sorted.apply(1) // median of 3 warm
  }

  // ------------------------------------------------------------ compaction
  /** Execute q148's OPTIMIZE manifest against a real small-file layout at
    * sf0.1 and measure the read-amplification delta (file count, bytes,
    * listing+scan seconds before/after) — the round-12 conversion of the
    * plan card into a measured rewrite. */
  private def compaction(spark: SparkSession, sfDir: String): Unit = {
    import graft.store.Compaction
    val small = "/tmp/graft_compact_small"
    val big = "/tmp/graft_compact_out"
    Compaction.stageSmallFiles(spark, sfDir, small)
    val (n0, b0, t0) = Compaction.listingStats(spark, small)
    val nBins = Compaction.execute(spark, small, big)
    val (n1, b1, t1) = Compaction.listingStats(spark, big)
    println(f"compaction: before files=$n0 bytes=$b0 scan=$t0%.2fs")
    println(f"compaction: bins=$nBins after files=$n1 bytes=$b1 scan=$t1%.2fs")
    println(f"compaction: file-count x${n0.toDouble / n1}%.1f scan x${t0 / t1}%.1f")
    val before = Compaction.contents(spark, small).collect()(0)
    val after = Compaction.contents(spark, big).collect()(0)
    println(s"conservation: before=$before after=$after " +
      s"match=${before.toString == after.toString}")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.harness()
    try args.headOption match {
      case Some("compaction") =>
        compaction(spark, args.drop(1).headOption.getOrElse("/root/testdata/sf0.1"))
      case Some("dedup100") =>
        dedup100(spark,
          args.drop(1).headOption.getOrElse("/tmp/graft_dedup10"),
          args.drop(2).headOption.getOrElse("/tmp/graft_dedup100"))
      case Some("graph100build") =>
        // replica build only (no timed sweep): the oracle-gate recipe needs
        // just the directory (verify skill: Verify + check_oracle --subset)
        buildGraphReplica(spark, "/root/testdata/sf0.1",
          args.drop(1).headOption.getOrElse("/tmp/graft_graph100"))
      case Some("graph100") =>
        graph100(spark,
          args.drop(1).headOption.getOrElse("/tmp/graft_sf10x"),
          args.drop(2).headOption.getOrElse("/tmp/graft_graph100"))
      case _ =>
        val out = args.headOption.getOrElse("/tmp/graft_sf10x")
        // optional 2nd arg (builder-side iteration): comma-separated subset
        // of Queries to time instead of the full measured set
        val only = args.drop(1).headOption.map(_.split(",").toSet)
        buildReplica(spark, "/root/testdata/sf0.1", out)
        val dirs = Seq("sf0.01" -> "/root/testdata/sf0.01",
          "sf0.1" -> "/root/testdata/sf0.1", "sf1x(10x0.1)" -> out)
        decades(Queries.filter(q => only.forall(_.contains(q))), dirs,
          Seq("0.01->0.1", "0.1->10x"))(time(spark, _, _))
    } finally spark.stop()
  }
}
