package graft.sql

import graft.SparkSpec

/** Plan-shape audits for the round-4 queries — the properties that matter
  * at 100 TB, asserted on the optimized/physical plan rather than eyeballed
  * once: truth-table projections must stay single-pass narrow (no shuffle
  * except the presentation sort), and scans must prune to the columns the
  * query reads. */
class PlanAuditSpec extends SparkSpec {

  private def physical(name: String): String =
    graft.SparkEntry.queries(name)(spark, Sf0001)
      .queryExecution.executedPlan.toString

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("q47/q49/q58 truth-table and scrub queries plan as one narrow pass + sort (no hash shuffle)") {
    for (q <- Seq("q47_publish_poststate", "q49_email_bodies", "q58_pii_scrub")) {
      val plan = physical(q)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q: unexpected hash shuffle\n$plan")
      // exactly the sort's range exchange
      assert(countOccurrences(plan, "Exchange ") == 1, s"$q: expected only the sort exchange\n$plan")
    }
  }

  test("q47 scan prunes to doc_id only") {
    val plan = physical("q47_publish_poststate")
    // documents has (doc_id, url, title, text, lang, published_at, ...);
    // the truth table derives everything from doc_id — reading more is a
    // pruning regression
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
  }

  test("q51 range join plans as a BROADCAST hash equi-join on the time bin — never a nested-loop") {
    val plan = physical("q51_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop\n$plan")
    // the small incident-window side broadcasts, so the full event set
    // never shuffles on the bin key — losing this hint re-shuffles the
    // probe side (the round-6 bench's 2nd most expensive query)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the binned windows side to broadcast\n$plan")
  }

  test("q51 dispatch: windows above the measured bound take the shuffle-hash path, row-identical") {
    // Force the fallback (bound 0 makes every corpus "too big to
    // broadcast"): the plan must become a partitioned equi-join on bin —
    // no broadcast of the windows side, and still no nested loop.
    val forced = RelationalQueries.q51RangeJoinImpl(spark, Sf0001, 0L)
    val plan = forced.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"forced shuffle path fell back to a nested loop\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the shuffle-hash equi-join on bin when the broadcast bound is exceeded\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"windows side must not broadcast above the bound\n$plan")
    // Both paths are the same logical query: row-identical output.
    val viaBroadcast = graft.SparkEntry.queries("q51_range_join")(spark, Sf0001)
      .collect().map(_.toString).sorted.toSeq
    val viaShuffle = forced.collect().map(_.toString).sorted.toSeq
    assert(viaBroadcast == viaShuffle, "broadcast and shuffle paths disagree")
    assert(viaBroadcast.nonEmpty)
  }

  test("q51 dispatch runs zero extra Spark jobs once the window count is memoized") {
    def buildJobs(): Int = jobsDuring(graft.SparkEntry.queries("q51_range_join")(spark, Sf0001))
    buildJobs() // warm-up: schema inference / memoization both settle
    // steady state: two warm builds launch the same (baseline) jobs —
    // the r12 verdict's per-invocation extra count pass is gone
    val warm1 = buildJobs()
    val warm2 = buildJobs()
    assert(warm1 == warm2, s"warm builds not steady: $warm1 vs $warm2")
    // forgetting the memo brings back the count action (AQE runs a
    // count as ≥2 jobs — one per query stage — so assert presence,
    // not an exact job count)
    RelationalQueries.q51InvalidateWindowCounts()
    val cold = buildJobs()
    assert(cold > warm1,
      s"cold dispatch should add the count job(s): warm=$warm1 cold=$cold")
  }

  test("q48 identifier fold plans broadcast for the warn dimension (no extra shuffle on the probe side)") {
    val plan = physical("q48_identifier_assignment")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected the warn-dimension broadcast\n$plan")
  }

  test("q59 sequence packing plans as one lang-partitioned window (+ the sorts), no extra shuffle") {
    val plan = physical("q59_sequence_pack")
    assert(countOccurrences(plan, "Window") >= 1, plan)
    // one hash exchange (the lang partition) + the presentation sort — a
    // second hash exchange would mean the cumulative sum re-shuffled
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"expected exactly the lang-partition exchange\n$plan")
  }

  test("dedup pair pipelines (q20/q21/q23) and decontamination (q60) never fall back to a nested loop or cartesian") {
    for (q <- Seq("q20_dedup_ngram_jaccard", "q21_dedup_minhash_lsh",
        "q23_dedup_simhash_pairs", "q60_decontaminate")) {
      val plan = physical(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q: candidate generation degenerated to an all-pairs plan\n$plan")
    }
  }

  test("q42 keeps its decode barrier: the failure filter reads the checkpointed decode, not the JSON chain") {
    // Messages.q42FailureReport materializes the decode behind an eager
    // localCheckpoint (measured ~9x: pushdown would substitute the whole
    // double-from_json chain into the filter condition and re-evaluate it
    // per row on top of the projection's copy). The checkpoint makes that
    // rewrite impossible by construction — the optimized plan must show
    // the filter over a lineage-cut scan with NO from_json anywhere above
    // or inside it.
    val opt = graft.SparkEntry.queries("q42_failure_report")(spark, Sf0001)
      .queryExecution.optimizedPlan
    val filters = opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(filters.nonEmpty, s"expected a Filter in q42's optimized plan\n$opt")
    filters.foreach { f =>
      assert(!f.condition.toString.contains("from_json"),
        s"q42's filter regrew the decode chain — the barrier stopped working:\n${f.condition}")
    }
    // the whole post-barrier plan is decode-free: the from_json work ran
    // exactly once, inside the checkpoint
    assert(!opt.toString.contains("from_json"),
      s"q42's optimized plan still contains the decode chain above the checkpoint\n$opt")
  }

  test("q94 bloom decontamination: 1-row bitmap broadcast, all data joins broadcast-hash, no cartesian") {
    val plan = physical("q94_bloom_decontaminate")
    // exactly ONE nested-loop join — the single-row bitmap broadcast; a
    // second one would mean a data-to-data cartesian crept in
    assert(countOccurrences(plan, "BroadcastNestedLoopJoin") == 1,
      s"q94: expected exactly the 1-row bitmap broadcast\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q94: cartesian\n$plan")
    // the exact-verify and report joins ride broadcasts; the corpus side's
    // only hash exchanges are the tiny bench/bitmap aggregations + the
    // per-doc count — never a corpus-shingle shuffle into a join
    assert(plan.contains("BroadcastHashJoin"),
      s"q94: exact verify should broadcast the bench set\n$plan")
  }

  test("q66 BM25 plans as two narrow scans + a 1-row broadcast + top-k (no global sort, no corpus shuffle)") {
    val plan = physical("q66_bm25_search")
    // global top-k via TakeOrderedAndProject — a full Sort+Exchange of the
    // scored corpus would be the 100 TB regression
    assert(plan.contains("TakeOrderedAndProject"), s"q66 lost its top-k plan\n$plan")
    // the only join is the 1-row stats broadcast; the corpus side must
    // never hash-shuffle
    assert(plan.contains("BroadcastNestedLoopJoin"), s"q66 stats row should broadcast\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q66: the scored corpus should not shuffle\n$plan")
  }

  test("q68 fixed-point centroid aggregates map-side before the (label, dim) shuffle") {
    val plan = physical("q68_embedding_centroids")
    // the decimal sum must combine per-partition first — the shuffle then
    // carries one partial row per (label, dim, partition), not one row per
    // vector element
    assert(plan.contains("partial_sum"), s"q68 lost its map-side combine\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q69 substring dedup joins on the chunk digest / doc id — never a nested loop, kernel scans once") {
    val plan = physical("q69_substring_dedup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q69 fell back to a nested loop\n$plan")
    // chunk digests come from the ONE checkpointed kernel (ExistingRDD),
    // not re-tokenized document scans
    assert(!plan.toLowerCase.contains("parquet"),
      s"q69: expected zero parquet scans (chunk kernel materialized once)\n$plan")
  }

  test("q70 centroid assignment broadcasts the centroid row — the corpus scan never shuffles into a join") {
    val plan = physical("q70_centroid_assign")
    // the (labels × dims) centroid table folds to ONE array row and
    // broadcasts; a SortMergeJoin/shuffled join here would shuffle the
    // whole corpus at 100 TB
    assert(plan.contains("BroadcastNestedLoopJoin"), s"q70 lost its centroid broadcast\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), s"q70: corpus should never shuffle-join\n$plan")
  }

  test("q71 bigram coverage: the top-K set broadcasts into the semi-join") {
    val plan = physical("q71_bigram_coverage")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"q71: top-K membership should be a broadcast semi-join\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q72 winnow pairs: equi-joins only, fingerprint kernel scans once") {
    val plan = physical("q72_winnow_pairs")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q72 fell back to a nested loop\n$plan")
    assert(!plan.toLowerCase.contains("parquet"),
      s"q72: expected zero parquet scans (winnow kernel materialized once)\n$plan")
  }

  test("q73 vocab coverage: corpus explode shuffles once, windows stay lang-partitioned") {
    val plan = physical("q73_vocab_coverage")
    // (lang, word) count exchange + the lang window exchange; the final
    // per-lang collapse reuses the window's partitioning — a third hash
    // exchange would mean the vocabulary re-shuffled
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 2,
      s"q73: expected exactly the count and window exchanges\n$plan")
    // both windows are partitioned — a global (single-partition) window
    // here would serialize the whole vocabulary through one task
    assert(!plan.contains("Window [") || !plan.contains("windowspecdefinition()"),
      s"q73: unpartitioned window\n$plan")
  }

  test("q74 bigram LM: V broadcasts as one row; the model joins are equi-joins, not nested loops") {
    val plan = physical("q74_bigram_lm")
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly the 1-row V broadcast — a second nested loop would mean a
    // model join degenerated
    assert(countOccurrences(plan, "BroadcastNestedLoopJoin") <= 1,
      s"q74: a model join degenerated to a nested loop\n$plan")
    // gram kernel is checkpointed once: scoring + V + the doc spine all
    // read it, never the parquet scan
    assert(!plan.toLowerCase.contains("parquet"),
      s"q74: expected zero parquet scans (gram kernel materialized once)\n$plan")
  }

  test("q75 funnel: one user_id exchange feeds windows, collapse, and the global agg") {
    val plan = physical("q75_event_funnel")
    // the three stage windows + per-user collapse all share the single
    // user_id hash exchange; the only other exchange is the global agg's
    // SinglePartition gather
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"q75: expected exactly one user_id exchange\n$plan")
    assert(countOccurrences(plan, "Window") >= 3, s"q75: stage windows missing\n$plan")
  }

  test("q76 incremental dedup: bucket join is an equi-join and reads the materialized kernel") {
    val plan = physical("q76_incremental_dedup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q76: candidate generation degenerated to an all-pairs plan\n$plan")
    assert(!plan.toLowerCase.contains("parquet"),
      s"q76: expected zero parquet scans (signature kernel materialized once)\n$plan")
  }

  test("q78 TF-IDF: only the 1-row N broadcast is non-equi; df join never nests") {
    val plan = physical("q78_tfidf_keywords")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(countOccurrences(plan, "BroadcastNestedLoopJoin") <= 1,
      s"q78: the tf-df join degenerated\n$plan")
  }

  test("q80/q82 export and histogram stay single-narrow-pass (no hash shuffle beyond the agg)") {
    // q80 is a pure projection: the only exchange is the presentation sort
    val p80 = physical("q80_jsonl_export")
    assert(!p80.contains("Exchange hashpartitioning"), s"q80: unexpected shuffle\n$p80")
    // q82 aggregates into (lang × bucket) cardinality: exactly one hash
    // exchange (the agg), plus the sort
    val p82 = physical("q82_length_histogram")
    assert(countOccurrences(p82, "Exchange hashpartitioning") == 1,
      s"q82: expected only the aggregation exchange\n$p82")
  }

  test("q82 scan prunes to (lang, n_chars) — never reads text") {
    val plan = physical("q82_length_histogram")
    assert(plan.contains("ReadSchema: struct<lang:string,n_chars:bigint>"),
      s"q82: column pruning regressed\n$plan")
  }

  test("q85 attribution: the union window shuffles on user_id once; no nested loop") {
    val plan = physical("q85_attribution")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // one user_id exchange for the window + one for the attributed_to
    // collapse — a third would mean the union re-shuffled
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 2,
      s"q85: expected the window and collapse exchanges only\n$plan")
  }

  test("q88 rolling actives: one event-cardinality exchange; the trailing merge runs over day rows") {
    val plan = physical("q88_rolling_actives")
    // the daily agg is the only hash exchange over event-scale data; the
    // trailing-window merge input is one row per day (its global window
    // single-partition gather is deliberate and tiny)
    assert(countOccurrences(plan, "Exchange hashpartitioning") <= 2,
      s"q88: the sketch window must not re-shuffle events\n$plan")
  }

  test("q89 join-cardinality: the estimate side joins key histograms, never raw rows") {
    val plan = physical("q89_join_cardinality")
    assert(!plan.contains("CartesianProduct"), plan)
    // the est⋈act combine is a 1-row cross — exactly one BNLJ
    assert(countOccurrences(plan, "BroadcastNestedLoopJoin") <= 1, plan)
  }

  test("dedup pair pipelines read the materialized shingle/simhash kernel, not repeated document scans") {
    // candidate generation + both verify sides reference the ONE
    // localCheckpoint'd kernel — if the checkpoint is dropped, the kernel
    // subtree (a parquet scan of `documents`) re-executes per reference
    // (measured ~40% of q20) and these plans regrow parquet scans
    for (q <- Seq("q20_dedup_ngram_jaccard", "q21_dedup_minhash_lsh", "q23_dedup_simhash_pairs")) {
      val plan = physical(q)
      assert(!plan.toLowerCase.contains("parquet"),
        s"$q: expected zero parquet scans (kernel materialized once)\n$plan")
    }
  }

  test("q92 source overlap: one materialized kernel pass, count joins broadcast, no nested loop") {
    val plan = physical("q92_source_overlap")
    // the (source, shingle) frame is checkpointed — pair expansion and both
    // per-source count joins must read it, not re-scan documents
    assert(!plan.toLowerCase.contains("parquet"),
      s"q92: expected zero parquet scans (kernel materialized once)\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q92: pair expansion degenerated to an all-pairs join\n$plan")
    // the tiny per-source count frames broadcast onto the pair matrix
    assert(plan.contains("BroadcastHashJoin"), s"q92: count joins did not broadcast\n$plan")
  }

  test("q93 pagerank: rounds read the materialized edge frame (zero file re-scans), equi-joins only") {
    val plan = physical("q93_pagerank")
    // the symmetrized edge list and the degree-annotated edge frame are
    // checkpointed once — if either checkpoint is dropped, every round
    // regrows the orders⨝lineitem scan and this plan sprouts parquet
    assert(!plan.toLowerCase.contains("parquet"),
      s"q93: expected zero parquet scans across rounds\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q93: rank propagation degenerated to a nested loop\n$plan")
  }

  test("round-7 cards (q97/q98/q104/q109-q112) never degenerate to cartesian/nested-loop plans") {
    for (q <- Seq("q97_cohort_retention", "q98_split_leakage", "q104_gap_fill",
        "q109_outlier_bands", "q110_integrity_audit", "q111_funnel_latency",
        "q112_weekly_growth")) {
      val plan = physical(q)
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian\n$plan")
      // broadcast NLJ is legitimate ONLY against literal 1-row frames —
      // q104's bounds spine and q110's 1-row census crossJoins; a
      // data-sized NLJ is a bug
      if (plan.contains("BroadcastNestedLoopJoin"))
        assert(Set("q104_gap_fill", "q110_integrity_audit").contains(q),
          s"$q: unexpected nested loop\n$plan")
    }
  }

  test("q98 leakage join stays digest-co-partitioned: one wide exchange on ch, none after") {
    val plan = physical("q98_split_leakage")
    // the digest agg and the join-back share the ch key; the only other
    // exchanges are the (source×split)-cardinality report agg and sort
    assert(countOccurrences(plan, "Exchange hashpartitioning(ch") <= 2,
      s"q98: the digest join-back re-shuffled beyond the ch key\n$plan")
  }

  test("q107 five-way join: dimensions broadcast, no nested loop, date filter pushed to the orders scan") {
    val plan = physical("q107_regional_revenue")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q107: a join degenerated\n$plan")
    // region/nation/customer/supplier always broadcast (at gate SF the
    // filtered orders side does too — ≥4 is the scale-stable floor)
    assert(countOccurrences(plan, "BroadcastHashJoin") >= 4,
      s"q107: expected the dimension broadcast cascade\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"q107: the date filter did not reach the orders scan\n$plan")
  }

  test("q100 snapshot diff: full outer stays a hash/merge equi-join on the id, digests computed in-scan") {
    val plan = physical("q100_snapshot_diff")
    assert(plan.contains("FullOuter"), s"q100: expected a full outer join\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q100: the diff join degenerated\n$plan")
    // the text column must die at the scan: only (id, source, digest)
    // reach the join (and therefore the shuffle)
    val opt = graft.SparkEntry.queries("q100_snapshot_diff")(spark, Sf0001)
      .queryExecution.optimizedPlan
    opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      .foreach { j =>
        val joinInputs = j.children.flatMap(_.output).map(_.name)
        assert(!joinInputs.contains("text"),
          s"q100: raw text crossed into the diff join\n$opt")
      }
  }

  test("q95 heavy hitters: exactly two corpus scans (sketch + exact gate), grid broadcasts") {
    val plan = physical("q95_heavy_hitters")
    // the exact top-k subtree feeds all three probe rows via ONE explode —
    // a per-row union would re-run the token aggregation (and re-scan
    // documents) once per sketch row, which is how this plan regresses
    assert(countOccurrences(plan, "FileScan parquet") == 2,
      s"q95: expected exactly 2 scans (sketch pass + exact pass)\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q95: the ≤rows×width counter grid should broadcast onto the probes\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q95: cartesian\n$plan")
  }

  test("q117 burst z-score: type-partitioned windows only (no global window), one corpus scan") {
    val plan = physical("q117_burst_zscore")
    // the RANGE frame must ride the (event_type) hash partition — a
    // missing partition key collapses 100 TB of hourly stats onto one task
    assert(plan.contains("Exchange hashpartitioning(event_type"),
      s"expected the type-partitioned window exchange\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"q117 must never plan a global single-partition window\n$plan")
    // "FileScan parquet" contains "Scan parquet", so count the substring once
    assert(countOccurrences(plan, "Scan parquet") == 1,
      s"expected exactly one events scan\n$plan")
  }

  test("q118 label propagation: rounds broadcast the label frame, never nested-loop") {
    val plan = physical("q118_label_propagation")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"label join degenerated\n$plan")
    // below BroadcastNodes the per-round label join broadcasts — the
    // symmetrized edge frame (the big side at scale) never shuffles
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the label frame to broadcast into the round join\n$plan")
    // rounds read the checkpointed edge frame, not the parquet tables
    assert(!plan.toLowerCase.contains("parquet"),
      s"expected zero file re-scans across rounds\n$plan")
  }

  test("q119 zipf fit: lang-partitioned rank window, fit over the ranked head only") {
    val plan = physical("q119_zipf_fit")
    assert(plan.contains("Exchange hashpartitioning(lang"),
      s"expected the lang-partitioned rank window\n$plan")
    assert(!plan.contains("Exchange SinglePartition") || plan.contains("rangepartitioning"),
      s"no global single-partition stage expected\n$plan")
    assert(countOccurrences(plan, "Scan parquet") == 1,
      s"expected exactly one documents scan\n$plan")
  }

  test("q120 IVM: stored view read from the checkpoint, delta-key joins broadcast, no base re-aggregation") {
    val plan = physical("q120_ivm_maintenance")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q120: maintenance join degenerated\n$plan")
    // the semi-prune and the outer join both ride broadcasts of the
    // delta-sized side — the stored view must never shuffle whole
    assert(plan.contains("BroadcastHashJoin"),
      s"q120: expected delta-key broadcast joins\n$plan")
    // both the stored view and the delta aggregate are materialized once
    // (base: the store; delta: feeds the semi-probe AND the join) — the
    // maintenance plan itself re-scans NOTHING (a parquet scan here would
    // mean the view or the delta was recomputed, the thing IVM avoids)
    assert(countOccurrences(plan, "Scan parquet") == 0,
      s"q120: maintenance plan must read only the materialized frames\n$plan")
  }

  test("q121 markov transitions: session + transition windows share ONE user exchange") {
    val plan = physical("q121_markov_transitions")
    // the (user_id, sid) transition window is satisfied by the user_id
    // hash partition (subset semantics) — only a sort is added, never a
    // second corpus shuffle: exactly ONE exchange keys on user_id. The
    // other two exchanges are type²-sized (the map-side-combined count
    // and the row-normalizing window).
    assert(countOccurrences(plan, "Exchange hashpartitioning(user_id") == 1,
      s"q121: the corpus must shuffle on user_id exactly once\n$plan")
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 3,
      s"q121: expected user + count + from_type exchanges only\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"q121: no global window allowed\n$plan")
  }

  test("q122 PSI: the drift math reads only the materialized (source, bucket) counts") {
    val plan = physical("q122_psi_drift")
    // the corpus-sized work (pruned scans, threshold build, bucket
    // assignment) ran once inside the bySrc checkpoint — the returned
    // plan must read that source×decile-sized frame and nothing else
    // (its FIVE consumers would otherwise each re-scan documents)
    assert(countOccurrences(plan, "Scan parquet") == 0,
      s"q122: a consumer re-scanned the corpus\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"q122: expected the checkpointed count frame\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q122: expected broadcasts, not cartesian\n$plan")
  }

  test("q123 BFS: the returned plan reads only the per-hop checkpoints") {
    val plan = physical("q123_khop_reach")
    // every hop's reach set is checkpointed (it feeds the next expansion
    // AND its own count) — a parquet scan here would mean a frontier was
    // recomputed from the tables
    assert(countOccurrences(plan, "Scan parquet") == 0,
      s"q123: expected zero parquet scans in the hop-count plan\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q124 AQP: one scan, one aggregation exchange — the sample predicate adds no stage") {
    val plan = physical("q124_aqp_sample")
    assert(countOccurrences(plan, "Scan parquet") == 1,
      s"q124: expected exactly one lineitem scan\n$plan")
    // exact + sampled aggregates fuse into ONE conditional aggregation:
    // the only hash exchange is the returnflag group
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"q124: expected only the group-by exchange\n$plan")
  }

  test("q96/q99: pair stage reads the one materialized assignment, cluster equi-join only") {
    for (q <- Seq("q96_semdedup", "q99_neighbor_purity")) {
      val plan = physical(q)
      // clusterAssigned (assignment + unit vectors) is localCheckpoint'd —
      // the self-join, the aggregations, and the report all read it; a
      // dropped checkpoint regrows the centroid probe (a parquet scan of
      // embeddings) once per reference
      assert(!plan.toLowerCase.contains("parquet"),
        s"$q: expected zero parquet scans (assignment materialized once)\n$plan")
      // the within-cluster pair join must stay an equi-join on the cluster
      // key — a nested loop here is the N² all-pairs plan the cluster
      // bucketing exists to avoid
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q: pair stage degenerated to an all-pairs join\n$plan")
    }
  }

  test("q133 seq patterns: both aggregates read the checkpointed trigram frame") {
    val plan = physical("q133_seq_patterns")
    // the one user-keyed shuffle (sessionization + both lags, subset-
    // satisfied) runs inside the eager checkpoint build; the published
    // plan reads the materialized narrow frame twice — no user exchange,
    // no second corpus pass, no global window
    assert(countOccurrences(plan, "Exchange hashpartitioning(user_id") == 0,
      s"q133: the user shuffle must live in the checkpoint build only\n$plan")
    assert(countOccurrences(plan, "Scan ExistingRDD") == 2,
      s"q133: counts AND the eligible-session total must read the materialization\n$plan")
    // every Window in the plan must be user-keyed — a SinglePartition
    // exchange IS expected (the 1-row eligible-session total, fed by
    // per-partition distinct partials), but never a global sort window
    assert(!plan.contains("windowspecdefinition()"),
      s"q133: no global window allowed\n$plan")
    // session support is an exact distinct — the two-level distinct agg
    // is trigram-bounded after the map-side partial
    assert(plan.contains("count(distinct sk"),
      s"q133: expected the exact session-support distinct\n$plan")
  }

  test("q143 RRF: both arms end in TakeOrdered (no full sort), 1-row frames broadcast, no cartesian") {
    val plan = physical("q143_rrf_fusion")
    // the two top-N cuts and the final fused top-k are all bounded heaps
    assert(countOccurrences(plan, "TakeOrderedAndProject") >= 3,
      s"q143: expected TakeOrdered at every top-N boundary\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q143: the stats/query-vector 1-row frames must broadcast\n$plan")
  }

  test("q144 HLL: the documents scan prunes to (text, lang); register agg never nested-loops") {
    val plan = physical("q144_hll_distinct")
    assert(plan.contains("ReadSchema: struct<text:string,lang:string>"),
      s"q144: scan must prune to the hash kernel's columns\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q144: register/exact join degenerated\n$plan")
  }

  test("q145 SSSP: the published plan reads the checkpointed distance frame (zero parquet re-scans)") {
    val plan = physical("q145_sssp")
    // every relaxation round checkpoints; the final plan must be the
    // materialized frame + presentation formatting only (q93's rule)
    assert(!plan.toLowerCase.contains("parquet"),
      s"q145: expected zero parquet scans after the per-round checkpoints\n$plan")
    assert(plan.contains("Scan ExistingRDD"), s"q145: missing the checkpoint scan\n$plan")
  }

  test("q146 EWMA: events scan prunes to (event_type, ts); the offset fan-out broadcasts") {
    val plan = physical("q146_ewma_spikes")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(s =>
        !s.contains("value") && !s.contains("user_id") && !s.contains("properties")),
      s"q146: events scan reads more than the hourly-count kernel needs\n$plan")
    // the 25-row offsets dimension joins broadcast (condition-free → BNLJ)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"q146: the offsets dimension must broadcast\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q146: unbroadcast cartesian\n$plan")
  }

  test("q147 logistic GD: per-step folds are global aggregates — no wide shuffle, no window") {
    val plan = physical("q147_logistic_gd")
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 0,
      s"q147: the gradient fold must be partial-agg + single merge, never a keyed shuffle\n$plan")
    assert(!plan.contains("Window"), s"q147: no window belongs in a gradient fold\n$plan")
    assert(plan.contains("ReadSchema: struct<embedding:array<float>,label:int>"),
      s"q147: embeddings scan must prune to (embedding, label)\n$plan")
  }

  test("q148 compaction plan: exactly the source-partition exchange (+ sort), nothing corpus-wide") {
    val plan = physical("q148_compaction_plan")
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"q148: expected only the per-source window exchange\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>") ||
      plan.contains("ReadSchema: struct<doc_id:bigint,text"),
      s"q148: documents scan must prune to the listing columns\n$plan")
  }

  test("q149 bootstrap: the replicate fold map-side combines — one (type,b) exchange, no replicate-row shuffle") {
    val plan = physical("q149_bootstrap_ci")
    // the ×32 fan-out must be collapsed by a partial aggregate before the
    // exchange; event-cardinality rows crossing the wire would show as a
    // second wide exchange keyed on something other than event_type
    assert(countOccurrences(plan, "Exchange hashpartitioning") <= 3,
      s"q149: expected only the (type,b) agg, percentile window, and full-mean exchanges\n$plan")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(s =>
        !s.contains("user_id") && !s.contains("props") && !s.contains("ts")),
      s"q149: events scan reads more than (event_id, event_type, value)\n$plan")
  }

  test("q150 truncation recall: both arms broadcast the query set — the corpus never shuffles") {
    val plan = physical("q150_truncation_recall")
    assert(countOccurrences(plan, "BroadcastHashJoin") + countOccurrences(plan, "BroadcastNestedLoopJoin") >= 2,
      s"q150: each arm must broadcast its 20-query side\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q150: unbroadcast cartesian\n$plan")
  }

  test("q151 k-core: published plan reads checkpointed frames (zero parquet re-scans)") {
    val plan = physical("q151_kcore")
    // the survivor semi-joins run inside the per-round checkpoint builds;
    // the published plan is counts over the materialized frames only
    assert(!plan.toLowerCase.contains("parquet"),
      s"q151: expected zero parquet scans after the per-round checkpoints\n$plan")
    assert(plan.contains("Scan ExistingRDD"), s"q151: missing the checkpoint scans\n$plan")
  }

  test("q152 KM survival: events scan prunes to (user_id, event_type, ts); 1-row frames broadcast") {
    val plan = physical("q152_km_survival")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(s =>
        !s.contains("value") && !s.contains("props") && !s.contains("event_id")),
      s"q152: events scan reads more than the per-user extrema need\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q152: the user-total 1-row frame must broadcast\n$plan")
  }

  test("q153 forecast eval: same pruned scan as q146, folds to type-cardinality metrics") {
    val plan = physical("q153_forecast_eval")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(s =>
        !s.contains("value") && !s.contains("user_id") && !s.contains("props")),
      s"q153: events scan reads more than the hourly-count kernel needs\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q153: unbroadcast cartesian\n$plan")
  }

  test("q134 chi-square: dims broadcast into the one fact shuffle; no cartesian anywhere") {
    // the cell build (pre-checkpoint, where the fact join lives)
    val cellPlan = MiningQueries.q134Cells(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(countOccurrences(cellPlan, "BroadcastHashJoin") >= 3,
      s"q134: customer/nation/part must broadcast\n$cellPlan")
    assert(countOccurrences(cellPlan, "Exchange hashpartitioning(l_orderkey") <= 1 &&
      countOccurrences(cellPlan, "Exchange hashpartitioning(o_orderkey") <= 1,
      s"q134: the fact join must shuffle each side at most once\n$cellPlan")
    // the published query: everything after the checkpointed cell frame is
    // cells-sized; the 1-row total and margin grid are broadcast
    // nested-loop crosses — never an unbroadcast cartesian
    val plan = physical("q134_chi_square")
    assert(!plan.contains("CartesianProduct") && !cellPlan.contains("CartesianProduct"),
      s"q134: the 1-row total must broadcast, not cartesian\n$plan")
  }

  test("q154 model eval: embeddings scan prunes to (embedding, label); sweep runs after the collapse") {
    val plan = physical("q154_model_eval")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("vec_id")),
      s"q154: embeddings scan reads vec_id\n$plan")
    // the single-partition rank sweep is allowed ONLY because it follows
    // the distinct-score collapse (domain-bounded); the collapse itself
    // must hash-exchange on the score
    assert(plan.contains("Exchange hashpartitioning(s#") ||
      countOccurrences(plan, "Exchange hashpartitioning") >= 1,
      s"q154: missing the distinct-score collapse exchange\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q154: cartesian\n$plan")
  }

  test("q155 item CF: item-count joins broadcast; no cartesian; the cut is the heap operator") {
    val plan = physical("q155_item_cf")
    assert(countOccurrences(plan, "BroadcastHashJoin") >= 2,
      s"q155: the two item-count joins must broadcast\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q155: cartesian\n$plan")
    assert(plan.contains("TopKPerKey ["), s"q155: cut did not plan as TopKPerKey\n$plan")
  }

  test("q157 BPE: merge rounds never re-read parquet — the published plan reads materialized frames") {
    val plan = physical("q157_bpe_merges")
    assert(!plan.contains("Scan parquet"),
      s"q157: a merge round re-scanned the corpus instead of the checkpointed vocab\n$plan")
  }

  test("q158 ACF: corpus work sits inside the spine checkpoint; lag pairs equi-join") {
    val plan = physical("q158_acf")
    // the events scan + zero-fill ran once inside the localCheckpoint —
    // the published plan must read the materialized spine, never parquet
    assert(!plan.contains("Scan parquet"),
      s"q158: a consumer re-scanned events instead of the spine checkpoint\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q158: cartesian\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"q158: the lag self-join must be an equi-join\n$plan")
  }

  test("q161 A/B: the test arithmetic reads only the materialized 2-row arm stats") {
    val plan = physical("q161_ab_test")
    // the per-user fold (the one user-keyed shuffle) ran inside the arm
    // checkpoint; the published plan must be checkpoint-fed
    assert(!plan.contains("Scan parquet"),
      s"q161: the t-statistic path re-scanned events\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(user_id"),
      s"q161: a second user-keyed shuffle leaked into the published plan\n$plan")
  }

  test("q162 inverted index: exactly the collapse + window term exchanges, no global sort") {
    val plan = physical("q162_inverted_index")
    // two term-keyed exchanges by design: the (term, doc) collapse ships
    // MAP-SIDE-COMBINED partials (shuffling raw token occurrences on
    // term alone would forfeit the combine), then the term-only exchange
    // feeds BOTH the lag window and the final fold (subset satisfaction
    // — a third would mean the fold re-shuffled)
    assert(countOccurrences(plan, "Exchange hashpartitioning(term") == 2,
      s"q162: expected the collapse + window exchanges only\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"q162: no global window allowed\n$plan")
  }

  test("q163 RFM: scoring + segment fold read the materialized customer frame") {
    val plan = physical("q163_rfm_segments")
    // the orders scan + per-customer fold ran inside the checkpoint; the
    // published plan reads it (scoring, segment fold, share denominator)
    assert(!plan.contains("Scan parquet"),
      s"q163: a consumer re-scanned orders instead of the customer checkpoint\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
      s"q163: the customer fold leaked a second shuffle\n$plan")
  }

  test("q164 JL: the published plan runs on the 24-row sample — no corpus scan, no corpus shuffle") {
    val plan = physical("q164_jl_projection")
    // the hash-order TakeOrdered sample materialized at checkpoint time;
    // everything visible must be sample-sized
    assert(!plan.contains("Scan parquet"),
      s"q164: the pair join re-scanned the corpus\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(vec_id"),
      s"q164: the corpus must not shuffle\n$plan")
  }

  test("q165 erase plan: lineitem probe is the only fact-keyed exchange; lineitem reads one column") {
    val plan = physical("q165_erase_impact")
    assert(!plan.contains("CartesianProduct"), s"q165: cartesian\n$plan")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.exists(_ == "ReadSchema: struct<l_orderkey:bigint>"),
      s"q165: lineitem must prune to l_orderkey only\n$plan")
  }

  test("q166 seasonal index: both folds read the materialized cell frame; grand broadcasts") {
    val plan = physical("q166_seasonal_index")
    // the orders scan ran once inside the cell checkpoint; per-month and
    // grand folds read cells
    assert(!plan.contains("Scan parquet"),
      s"q166: a fold re-scanned orders instead of the cell checkpoint\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q166: the 1-row grand must broadcast\n$plan")
  }

  test("q175 contamination spans: bench dim broadcasts into the flagging semi-join, no cartesian") {
    val plan = physical("q175_contamination_spans")
    // the eval-suite-small benchmark trigram set must flag positions via
    // a broadcast LeftSemi — the corpus-sized positional explode never
    // shuffles its shingle strings
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"q175: expected the bench set to broadcast into a semi-join\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q175: pair-blowup join shape\n$plan")
  }

  test("q176 DSIR: the 64-bucket ratio dim broadcasts back; docs scan prunes to (doc_id, text)") {
    val plan = physical("q176_dsir_weights")
    assert(plan.contains("BroadcastHashJoin"),
      s"q176: expected the fixed bucket-ratio dimension to broadcast\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q176: cartesian\n$plan")
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.forall(rs => rs.contains("doc_id") || rs.contains("text")),
      s"q176: docs scan must prune to the token kernel's columns\n$plan")
  }

  test("q179 video kernel: doc_id-only scan, id-spread BELOW the codec map, no payload shuffle") {
    val plan = physical("q179_video_features")
    // payload synthesis + demux + codec all live in the map stage — a
    // hash exchange here would mean the binary column started shuffling
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"q179: docs scan must prune to doc_id\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q179: media payloads must not shuffle\n$plan")
    // spreadIds is conditional BY DESIGN (only when the scan's splits are
    // below the machine's parallelism) — re-derive its condition here so
    // the assertion is a plan PROPERTY, not an environment assumption: on
    // a single-core host, or with a many-split fixture, the correct plan
    // has no round-robin and one exchange (the presentation sort)
    val docIds = graft.sql.Tables(spark, Sf0001).documents
      .select(org.apache.spark.sql.functions.col("doc_id"))
    val spreadApplies =
      docIds.rdd.getNumPartitions < spark.sparkContext.defaultParallelism
    if (spreadApplies) {
      // two exchanges, both cheap by construction: the spreadIds
      // round-robin of the 8-byte id frame (BELOW the map stage, so the
      // codec section runs on every core even when the source is one
      // gate-scale split) and the presentation-sort range exchange
      assert(plan.contains("RoundRobinPartitioning"),
        s"q179: the id frame must spread before the codec map\n$plan")
      assert(plan.indexOf("RoundRobinPartitioning") > plan.indexOf("MapPartitions"),
        s"q179: the spread must sit below (upstream of) the codec map, not above it\n$plan")
      assert(countOccurrences(plan, "Exchange ") == 2,
        s"q179: expected exactly the id-spread + the presentation-sort exchanges\n$plan")
    } else {
      assert(!plan.contains("RoundRobinPartitioning"),
        s"q179: a well-partitioned source must not pay a spread shuffle\n$plan")
      assert(countOccurrences(plan, "Exchange ") == 1,
        s"q179: expected only the presentation-sort exchange\n$plan")
    }
  }

  test("q180 DoReMi: the published weight arithmetic reads the materialized 20-row domain frame") {
    val plan = physical("q180_doremi_weights")
    // the corpus-sized model subtree is truncated behind the domain-frame
    // localCheckpoint — the published plan must not rescan parquet or
    // re-run the model joins for the normalization constant
    assert(!plan.contains("Scan parquet"),
      s"q180: published plan recomputes the corpus subtree\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q180: domain-cardinality arithmetic should not hash-shuffle\n$plan")
  }

  test("q182 novelty spectrum: ONE docs scan feeds all four gram orders") {
    val plan = physical("q182_ngram_novelty")
    assert(countOccurrences(plan, "Scan parquet") == 1,
      s"q182: the four orders must share one corpus scan\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"q182: no pair plan expected\n$plan")
  }

  test("q184 Kneser-Ney: model joins are equi-joins off the checkpointed bigram frame") {
    val plan = physical("q184_kneser_ney")
    // corpus subtree runs from the token-kernel checkpoint; the
    // distinct-bigram frame is checkpointed, so no parquet rescans
    assert(!plan.contains("Scan parquet"),
      s"q184: model frames must read the checkpointed kernel\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly the 1-row B-total broadcast (q74's rule) — a second nested
    // loop would mean a model join degenerated
    assert(countOccurrences(plan, "BroadcastNestedLoopJoin") <= 1,
      s"q184: a model join degenerated to a nested loop\n$plan")
  }

  test("q185 IVF curve: corpus scans never shuffle into the candidate join (broadcast only)") {
    val plan = physical("q185_ivf_recall_curve")
    // every join against the corpus side must be a broadcast of the
    // bounded query/probe/np frames; a hashpartitioning on cid/list_id
    // would mean the corpus started shuffling
    assert(!plan.contains("Exchange hashpartitioning(list_id"),
      s"q185: the corpus must not shuffle on list_id\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q185: nothing here should nest beyond the hinted broadcasts\n$plan")
  }

  test("q187 CDC dedup: chunking stays in-row — only digests shuffle") {
    val plan = physical("q187_cdc_dedup")
    // chunk construction is HOFs in the scan stage; the exchanges are the
    // digest-keyed folds + join + presentation sort, never raw text
    assert(!plan.contains("Scan parquet"),
      s"q187: folds must read the checkpointed chunk frame\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"q187: digest joins must stay equi\n$plan")
  }

  test("q188 effective rank: the pair fold map-side combines before the (i, j) exchange") {
    val plan = physical("q188_effective_rank")
    // the (dim, dim) exchange with a partial pair-product aggregate below
    // it = the d²-bounded map-side combine the scale contract promises
    // (the i/j aliases bind at the agg OUTPUT, so keys print as dim)
    assert(plan.contains("Exchange hashpartitioning(dim"),
      s"q188: expected the (dim, dim) exchange\n$plan")
    assert(plan.contains("partial_sum((q"),
      s"q188: expected the map-side pair-product combine\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q188: the self-join must stay an equi-join on vec_id\n$plan")
  }

  test("q189 mixed-lang: one narrow pass, the sort is the only exchange") {
    val plan = physical("q189_mixed_lang")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q189: half-voting is in-row arithmetic, nothing should hash-shuffle\n$plan")
    assert(countOccurrences(plan, "Exchange ") == 1,
      s"q189: expected only the presentation-sort exchange\n$plan")
  }

  test("q197 funnel: corpus joins stay equi; only the two bounded stage/total expansions nest") {
    val plan = physical("q197_filter_funnel")
    assert(!plan.contains("CartesianProduct"),
      s"q197: no unbounded cartesian anywhere\n$plan")
    // byDrop(≤7 rows)×stages(6) and ×tot(1 row) are the only crossJoins
    assert(countOccurrences(plan, "BroadcastNestedLoopJoin") <= 2,
      s"q197: a corpus-side join degenerated to a nested loop\n$plan")
  }

  test("q198 PQ: every corpus join is an equi-join and the codebook broadcasts") {
    val plan = physical("q198_pq_adc")
    assert(!plan.contains("CartesianProduct"),
      s"q198: no unbounded cartesian anywhere\n$plan")
    // the only nested loop is the 1-row recall-total summary ferry; the
    // broadcast codebook joins sit behind the localCheckpoint barriers
    // (materialized before this plan), so they can't appear here — their
    // equi-key shape is pinned by the no-cartesian assert surviving the
    // checkpoint boundary in the assembly joins
    assert(countOccurrences(plan, "BroadcastNestedLoopJoin") <= 1,
      s"q198: a recall-assembly join degenerated to a nested loop\n$plan")
  }
}
