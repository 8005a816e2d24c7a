package graft

/** Per-operator smoke over the full declared inventory at sf0.001.
  * Row counts were cross-checked against the DuckDB oracle (t2 gate runs
  * the full hash compare at sf0.01; this keeps `sbt test` self-contained
  * and fast). */
class QueriesSpec extends SparkSpec {

  // name -> expected row count at sf0.001 (oracle-verified this round)
  val expectedRows: Map[String, Long] = Map(
    "q01_count" -> 1, "q02_project_filter" -> 590, "q03_in_list" -> 54,
    "q04_regex_grep" -> 394, "q05_histogram" -> 5, "q06_hourly_series" -> 531,
    "q07_daily_matrix" -> 150, "q08_distinct_users" -> 5, "q09_multi_agg" -> 5,
    "q10_topk_users" -> 10, "q11_rollup" -> 19, "q12_having_subquery" -> 8,
    "q13_wordcount" -> 20, "q14_conditional_agg" -> 15, "q15_inner_join" -> 5,
    "q16_multiway_join" -> 25, "q17_left_join" -> 150, "q18_semi_join" -> 145,
    "q19_anti_join" -> 7, "q20_full_outer" -> 25, "q21_cross_join" -> 25,
    "q22_range_join" -> 1, "q23_asof_join" -> 202, "q24_broadcast_join" -> 25,
    "q25_ranking" -> 449, "q26_lag_gap" -> 15, "q27_moving_avg" -> 30,
    "q28_running_total" -> 1000, "q29_ntile" -> 150, "q30_first_last" -> 15,
    "q31_sessionization" -> 15, "q32_sort_limit_offset" -> 20,
    "q33_union" -> 2, "q34_intersect" -> 0, "q35_except" -> 5,
    "q36_string_funcs" -> 150, "q37_date_funcs" -> 100,
    "q38_math_funcs" -> 500, "q39_json_extract" -> 1000,
    "q40_array_access" -> 100, "q41_collect_agg" -> 15,
    "q42_dedup_census" -> 1, "q43_cosine_topk" -> 10, "q44_text_stats" -> 5,
    "q45_tumbling_window" -> 120, "q46_correlated_scalar" -> 150)

  test("every declared query has an oracle twin with matching name") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet ||
      // rows-only entries may omit the oracle, but never the reverse
      SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("SPARK_GRAFT_CPUS hint width: 32 when unset, a bad value fails loudly") {
    assert(Queries.hintWidth(None) == 32)
    assert(Queries.hintWidth(Some("8")) == 8)
    Seq("", "eight", "4.0", " 4", "0", "-2").foreach { bad =>
      val e = intercept[IllegalArgumentException](Queries.hintWidth(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  expectedRows.foreach { case (name, n) =>
    test(s"$name returns $n rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, sf0001).count() == n)
    }
  }

  // round-4 training-data ops (counts oracle-verified vs DuckDB at
  // sf0.001 when the queries were authored)
  val expectedRowsR4: Map[String, Long] = Map(
    "x115_gopher_rules" -> 20, "x116_dup_window_scan" -> 20,
    "x117_anchor_clusters" -> 8, "x118_incremental_neardup" -> 9,
    "x119_semdedup" -> 67, "x120_knn_vote" -> 50,
    "x121_prefix_census" -> 21, "x122_token_budget" -> 20)

  expectedRowsR4.foreach { case (name, n) =>
    test(s"$name returns $n rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, sf0001).count() == n)
    }
  }

  // round-7 additions (counts oracle-verified vs DuckDB at sf0.001 when
  // the queries were authored — full hash checks at all three SFs)
  val expectedRowsR7: Map[String, Long] = Map(
    "x181_benford_audit" -> 9, "x182_time_weighted_avg" -> 15,
    "x183_sequence_gaps" -> 325, "x184_apportionment" -> 25,
    "x185_pit_join" -> 6000, "x186_k_anonymity" -> 93,
    "x187_markov_transitions" -> 25, "x188_mad_outliers" -> 5,
    "x189_concentration" -> 10, "x190_dist_drift" -> 3,
    "x191_join_cardinality" -> 6, "x192_rrf_fusion" -> 20,
    "x193_minmax_norm" -> 1000, "x194_funnel_latency" -> 1,
    "x195_share_of_parent" -> 25, "x196_bounce_rate" -> 30,
    "x197_reconciliation" -> 3, "x198_peak_concurrency" -> 1,
    "x199_rapid_repeat" -> 22, "x200_fuzzy_join_dl" -> 267,
    "x201_linear_interp" -> 720, "x202_auc" -> 1,
    "x203_calibration" -> 10, "x204_confusion" -> 1)

  expectedRowsR7.foreach { case (name, n) =>
    test(s"$name returns $n rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, sf0001).count() == n)
    }
  }

  test("x184 apportionment: slots sum exactly to the 10000 budget") {
    val total = SparkEntry.queries("x184_apportionment")(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum("slots")).head().getLong(0)
    assert(total == 10000L, s"largest-remainder allocation must be exact (got $total)")
  }

  test("x117 anchor clusters: every non-anchor vector is assigned exactly once") {
    val total = SparkEntry.queries("x117_anchor_clusters")(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum("n_assigned")).collect().head.getLong(0)
    assert(total == 492L) // 500 vectors - 8 anchors
  }

  test("q01 full-scan count value") {
    assert(SparkEntry.queries("q01_count")(spark, sf0001)
      .collect().head.getLong(0) == 6000L)
  }

  test("q05 histogram exact values (the log-analysis identity query)") {
    val rows = SparkEntry.queries("q05_histogram")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.take(3) == Seq(("click", 210L), ("purchase", 202L), ("error", 201L)))
  }

  test("q42 dedup census: corpus has no duplicate texts at sf0.001") {
    val r = SparkEntry.queries("q42_dedup_census")(spark, sf0001).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((500L, 500L, 500L)))
  }

  test("q43 cosine top-k exact head (vec 17 at sim 0.3345)") {
    val r = SparkEntry.queries("q43_cosine_topk")(spark, sf0001).collect().head
    assert(r.getLong(0) == 17L && math.abs(r.getDouble(1) - 0.3345) < 1e-9)
  }

  // round-14 additions (counts oracle-verified vs DuckDB at all three
  // SFs when the queries were authored)
  val expectedRowsR14: Map[String, Long] = Map(
    "x332_substring_dedup_apply" -> 15, "x333_kmeans_step" -> 8,
    "x334_registrable_domain" -> 20, "x335_markup_strip" -> 20,
    "x336_ngram_novelty" -> 20, "x337_incremental_exact_dedup" -> 2,
    "x338_zipf_slope" -> 20, "x339_substring_dedup_native" -> 15,
    "x340_kmeans_train3" -> 24, "x341_kmeans_native" -> 24,
    "x342_pq_codebook_train" -> 32, "x343_paragraph_dedup" -> 20,
    "x344_domain_split_leakage" -> 12, "x345_matryoshka_fidelity" -> 4,
    "x346_paragraph_dedup_apply" -> 15, "x347_paragraph_dedup_native" -> 15,
    "x348_dedup_savings" -> 20, "x349_quality_dup_deciles" -> 10,
    "x350_budgeted_mixture" -> 20, "x351_hard_negatives" -> 24)

  expectedRowsR14.foreach { case (name, n) =>
    test(s"$name returns $n rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, sf0001).count() == n)
    }
  }

  // round-16 additions (counts oracle-verified vs DuckDB at all three
  // SFs when the queries were authored)
  val expectedRowsR16: Map[String, Long] = Map(
    "x352_holt_native" -> 5, "x353_mmr_rerank" -> 3,
    "x354_embedding_anisotropy" -> 11, "x355_dedup_occurrence_sweep" -> 4,
    "x356_span_corruption_plan" -> 20, "x357_cross_source_dup_matrix" -> 124,
    "x358_temperature_weights" -> 20, "x359_vocab_coverage" -> 4,
    "x360_int8_quant_error" -> 10, "x361_dup_cluster_profile" -> 4,
    "x362_split_ngram_leakage" -> 1)

  expectedRowsR16.foreach { case (name, n) =>
    test(s"$name returns $n rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, sf0001).count() == n)
    }
  }

  test("x353 MMR: picks are distinct pool members, pick 1 is the relevance argmax") {
    val rows = SparkEntry.queries("x353_mmr_rerank")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_._2).distinct.length == 3, "picks must be distinct")
    assert(rows(0)._4 == 7 * rows(0)._3,
      "the first pick's score is pure relevance (nothing picked yet)")
    // diversity can only LOWER a later pick's score below 7×its rel
    rows.drop(1).foreach { r =>
      assert(r._4 <= 7 * r._3, s"pick ${r._1}: mmr must subtract a penalty")
    }
  }

  test("x355 sweep: monotone in the threshold and consistent with the x47 drop list") {
    val rows = SparkEntry.queries("x355_dedup_occurrence_sweep")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // a stricter threshold can never cut more
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-(_: Long)).toSeq,
      s"docs_cut must be non-increasing in min_occ: ${rows.toSeq}")
    // min_occ = 2 IS x47's policy: its docs_cut equals x47's drop count
    val x47 = SparkEntry.queries("x47_dedup_keep_first")(spark, sf0001).count()
    assert(rows.head._2 == x47, s"sweep@2 ${rows.head._2} vs x47 $x47")
  }

  test("x358 temperature weights: flatter than proportional, bp shares sum to ~10000") {
    val rows = SparkEntry.queries("x358_temperature_weights")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val wSum = rows.map(_._3).sum
    assert(wSum >= 10000L - rows.length && wSum <= 10000L,
      s"integer-division shares under-shoot by < 1 unit each: $wSum")
    // temperature flattening: the largest source's share shrinks, the
    // smallest source's grows, relative to proportional
    val big = rows.maxBy(_._2); val small = rows.minBy(_._2)
    assert(big._3 <= big._4, s"biggest source must not gain share: $big")
    assert(small._3 >= small._4, s"smallest source must not lose share: $small")
  }

  test("x332 substring-dedup apply: spans are >= one 8-token window and counts balance") {
    val rows = SparkEntry.queries("x332_substring_dedup_apply")(spark, sf0001)
      .collect()
    rows.foreach { r =>
      val (nTok, nKept, nRemoved) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nKept + nRemoved == nTok, s"doc ${r.getLong(0)}: token counts must balance")
      assert(nRemoved >= 8, s"doc ${r.getLong(0)}: a removed span is at least one window")
      // cleaned text is a subsequence of the original: token multiset bounded
      val cleaned = r.getString(4)
      val kept = if (cleaned.isEmpty) 0 else cleaned.split(" ").length
      assert(kept == nKept, s"doc ${r.getLong(0)}: cleaned text must carry exactly n_kept tokens")
    }
  }

  test("x333 kmeans step: both assignment passes conserve the 492 points") {
    import org.apache.spark.sql.functions.sum
    val r = SparkEntry.queries("x333_kmeans_step")(spark, sf0001)
      .agg(sum("n0"), sum("n1"), sum("moved_out")).collect().head
    assert(r.getLong(0) == 492L && r.getLong(1) == 492L)
    assert(r.getLong(2) > 0L, "a first Lloyd step from raw-point centroids must move someone")
  }

  test("x334 registrable domains: longest suffix wins and urls conserve") {
    import org.apache.spark.sql.functions.sum
    val rows = SparkEntry.queries("x334_registrable_domain")(spark, sf0001).collect()
    val doms = rows.map(_.getString(0))
    // every registrable domain = one label + a known suffix; the
    // multi-label suffixes must appear (i.e. 'co.uk' beat 'uk')
    assert(doms.forall(d => d.matches("[a-z0-9]+\\.(co\\.uk|org\\.au|com|io)")))
    assert(doms.exists(_.endsWith(".co.uk")) && doms.exists(_.endsWith(".org.au")))
    assert(rows.map(_.getLong(1)).sum == 150L, "every customer URL lands in exactly one domain")
  }

  test("x335 markup strip: every rendered doc round-trips exactly") {
    val rows = SparkEntry.queries("x335_markup_strip")(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"source ${r.getString(0)}: strip chain must recover the original text")
    }
    assert(rows.map(_.getLong(1)).sum == 500L)
  }

  test("x336 ngram novelty: basis points bounded and novel never exceeds total") {
    val rows = SparkEntry.queries("x336_ngram_novelty")(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "n_novel <= n_grams")
      val bp = r.getLong(4)
      assert(bp >= 0L && bp <= 10000L)
      assert(!r.getString(1).equals("src0"), "reference source must be excluded")
    }
  }

  test("x337 incremental exact dedup: classes partition the batch") {
    val rows = SparkEntry.queries("x337_incremental_exact_dedup")(spark, sf0001)
      .collect()
    val classes = rows.map(_.getString(0)).toSet
    assert(classes.subsetOf(Set("dup_of_corpus", "dup_within_batch", "unique")))
    assert(rows.map(_.getLong(1)).sum == 25L, "every src19 doc lands in exactly one class")
  }

  test("x338 zipf slope: every source's rank-frequency slope is negative") {
    val rows = SparkEntry.queries("x338_zipf_slope")(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0,
        s"source ${r.getString(0)}: frequency must fall with rank")
      assert(r.getLong(1) <= 31L, "vocab bounded by the corpus vocabulary")
    }
  }

  test("x339 native substring-dedup apply equals the declared x332 form row-for-row") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSeq
    assert(rows("x339_substring_dedup_native") == rows("x332_substring_dedup_apply"))
  }

  test("x342 PQ codebooks: every sub-space conserves its point set across the round") {
    val rows = SparkEntry.queries("x342_pq_codebook_train")(spark, sf0001).collect()
    assert(rows.length == 32, "8 sub-spaces × 4 codes")
    val nPts = Catalog.load(spark, sf0001, "embeddings")
      .where(org.apache.spark.sql.functions.col("vec_id") >= 4).count()
    rows.groupBy(_.getLong(0)).foreach { case (sub, rs) =>
      assert(rs.map(_.getLong(2)).sum == nPts, s"sub-space $sub loses points in a0")
      assert(rs.map(_.getLong(3)).sum == nPts, s"sub-space $sub loses points in a1")
    }
  }

  test("x343 paragraph dedup: removal rates are well-formed per source") {
    val rows = SparkEntry.queries("x343_paragraph_dedup")(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"${r.getString(0)}: removed > total")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000)
    }
  }

  test("x344 domain split leakage: every reported domain really straddles the split") {
    val rows = SparkEntry.queries("x344_domain_split_leakage")(spark, sf0001).collect()
    assert(rows.nonEmpty, "a row-level hash split must leak at domain level")
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      assert(r.getLong(3) > 0 && r.getLong(3) < 10000)
    }
  }

  test("x345 matryoshka fidelity: monotone in prefix length, exact at 64 dims") {
    val rows = SparkEntry.queries("x345_matryoshka_fidelity")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(8L, 16L, 32L, 64L))
    val means = rows.map(_.getLong(1)).toSeq
    assert(means == means.sorted, s"fidelity must grow with prefix dims: $means")
    assert(rows.last.getLong(1) == 10000L && rows.last.getLong(2) == 10000L,
      "the full prefix is the whole vector")
  }

  test("x347 native paragraph-dedup apply equals the declared x346 form row-for-row") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSeq
    assert(rows("x347_paragraph_dedup_native") == rows("x346_paragraph_dedup_apply"))
  }

  test("x346/x347 rebuild is the canonical rejoin round-trip on untouched docs") {
    import org.apache.spark.sql.functions._
    // at sf0.001 no paragraph repeats, so every emitted doc is untouched
    // and its cleaned text must equal the trim-split-rejoin of the source
    val docs = Catalog.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = SparkEntry.queries("x347_paragraph_dedup_native")(spark, sf0001).collect()
    out.foreach { r =>
      assert(r.getLong(3) == 0L, "sf0.001 has no repeated paragraphs")
      val expected = docs(r.getLong(0)).split("\\. ").map(_.trim)
        .filter(_.nonEmpty).mkString(". ")
      assert(r.getString(4) == expected, s"doc ${r.getLong(0)} round-trip broke")
    }
  }

  test("x348 dedup savings reconcile with the x47 drop list") {
    val rows = SparkEntry.queries("x348_dedup_savings")(spark, sf0001).collect()
    val dropped = SparkEntry.queries("x47_dedup_keep_first")(spark, sf0001).count()
    assert(rows.map(r => r.getLong(1) - r.getLong(2)).sum == dropped,
      "per-source (docs - keepers) must sum to exactly x47's dropped docs")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "kept tokens cannot exceed total")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 10000)
    }
  }

  test("x349 quality deciles: partition the corpus, well-formed dup shares") {
    val rows = SparkEntry.queries("x349_quality_dup_deciles")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val nDocs = Catalog.load(spark, sf0001, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "deciles must partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= 10000)
      assert(r.getLong(4) <= r.getLong(5), "decile min quality <= max")
    }
  }

  test("x350 budgeted mixture: allocations respected, fill never overshoots") {
    val rows = SparkEntry.queries("x350_budgeted_mixture")(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2),
        s"${r.getString(0)}: tokens taken exceed the source allocation")
      assert(r.getLong(5) <= 10000L, "fill rate cannot overshoot the budget")
    }
    // weights follow the parity rule and allocations follow the weights
    val hi = rows.filter(_.getLong(1) == 750L).map(_.getLong(2)).min
    val lo = rows.filter(_.getLong(1) == 250L).map(_.getLong(2)).max
    assert(hi > lo, "a 750bp source must out-allocate every 250bp source")
  }

  test("x351 hard negatives: in-band, hardest-first, band counts cover the picks") {
    val rows = SparkEntry.queries("x351_hard_negatives")(spark, sf0001).collect()
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L))
      val cs = rs.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq
      assert(cs == cs.sorted.reverse, s"query $qid: picks must be hardest-first")
      cs.foreach(c => assert(c >= 1500L && c < 9500L, s"query $qid: out of band"))
      assert(rs.head.getLong(4) >= 3L, s"query $qid: band smaller than the picks")
    }
  }

  test("x341 native k-means training loop equals the unrolled x340 form row-for-row") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val declared = rows("x340_kmeans_train3")
    assert(declared.size == 24, "3 rounds × 8 clusters")
    assert(rows("x341_kmeans_native") == declared)
  }

  test("x341 k-means: convergence stop halts on a zero-mover round and is a true fixpoint") {
    val emb = Catalog.load(spark, sf0001, "embeddings")
    val t = llm.KMeans.train(emb, k = 8, dims = 64, maxIters = 50,
      stopWhenStable = true)
    assert(t.converged, "sf0.001 must reach the Lloyd fixpoint within 50 rounds")
    assert(t.rounds.last.moved == 0L)
    assert(t.rounds.dropRight(1).forall(_.moved > 0L),
      "the stop fires on the FIRST stable round, not later")
    // every round conserves the point set
    val nPts = emb.where(org.apache.spark.sql.functions.col("vec_id") >= 8).count()
    t.summary.collect().groupBy(_.getLong(0)).foreach { case (rk, rows) =>
      assert(rows.map(_.getLong(2)).sum == nPts, s"round $rk loses points")
    }
  }

  // The empty-cluster regime EXECUTED, not just documented (VERDICT r15
  // #3): the contract corpus never empties a cluster, so this plants a
  // 1-D fixture that does — and on which drop-out (KMeans.scala:104
  // contract) and the streaming twin's retain-at-last-position produce
  // DIFFERENT answers, so a regression to either semantic fails here.
  //   seeds:  c0=0, c1=1, c2=40, c3=60 (vec_id 0..3)
  //   points: 35 ×9, one at 50, one at 0.4, one at 1.2 (vec_id 4..15)
  // Round 0 assignment: the 50-point ties c2/c3 exactly ((50−40)² =
  // (50−60)²) and the tie breaks to the LOWER cid → c2; nothing reaches
  // c3 → round 1's update emits no c3 rows → c3 drops out. Round 1
  // reassignment: c2 moved to mean(35×9, 50) = 36.5, and the 50-point
  // would now PREFER a retained c3 at 60 ((50−60)² = 100 < (50−36.5)² =
  // 182.25) — under drop-out it cannot, nothing moves, and the loop
  // converges in one round. Retention semantics would instead move the
  // point to c3 in round 1 (moved = 1) and run a round 2: every
  // assertion below distinguishes the two.
  test("x341 k-means: an emptied cluster DROPS OUT and cannot recapture (planted fixture)") {
    import spark.implicits._
    val rows: Seq[(Long, Array[Float])] =
      Seq(0L -> Array(0f), 1L -> Array(1f), 2L -> Array(40f), 3L -> Array(60f)) ++
        (4L to 12L).map(i => i -> Array(35f)) ++
        Seq(13L -> Array(50f), 14L -> Array(0.4f), 15L -> Array(1.2f))
    val emb = rows.toDF("vec_id", "embedding")
    val t = llm.KMeans.train(emb, k = 4, dims = 1, maxIters = 3)
    assert(t.converged && t.rounds.map(r => (r.round, r.moved)) == Seq((1, 0L)),
      s"drop-out converges in one zero-mover round; retention would move the " +
        s"tied point to c3 and keep going — got ${t.rounds}")
    val census = t.summary.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the census keeps REPORTING the dropped cluster, with n = 0
    assert(census.contains((1L, 3L, 0L, 0L)),
      s"round-1 census must carry (c3, n=0, inertia=0): ${census.toSeq}")
    assert(census.filter(_._2 == 2L).map(_._3).toSeq == Seq(10L),
      "c2 keeps all nine 35-points AND the tied 50-point")
    // the tied point stays in c2: a retained c3 at 60 would be closer
    val cid13 = t.assignments.where(org.apache.spark.sql.functions.col("vec_id") === 13L)
      .select("cid").collect().map(_.getLong(0)).toSeq
    assert(cid13 == Seq(2L),
      s"vec 13 must stay in the surviving c2 under drop-out, got $cid13")
    assert(t.assignments.where(org.apache.spark.sql.functions.col("cid") === 3L).count() == 0L)
  }

  test("x339 persistWindows release hook drops the window cache (ADVICE r14 #2)") {
    import org.apache.spark.sql.functions._
    val docs = Catalog.load(spark, sf0001, "documents")
    val base = spark.sparkContext.getPersistentRDDs.size
    val (df, release) =
      llm.SubstringDedup.cleanedDocsWithRelease(docs, 8, persistWindows = true)
    val out = df.orderBy(desc("n_removed"), col("doc_id")).limit(15).collect()
    assert(out.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size > base,
      "window frame must be cached while the result is being consumed")
    release()
    assert(spark.sparkContext.getPersistentRDDs.size == base,
      "release() must drop the window cache entry")
    // the no-persist path's hook is a no-op, never an error
    llm.SubstringDedup.cleanedDocsWithRelease(docs, 8)._2.apply()
  }

  // round-17 additions (counts oracle-verified vs DuckDB at all three
  // SFs when the queries were authored; x363–x371 are the early-r17
  // batch, x372–x379 the late one)
  val expectedRowsR17: Map[String, Long] = Map(
    "x363_kmv_source_jaccard" -> 190, "x364_lsh_band_sensitivity" -> 9,
    "x365_minhash_jaccard_err" -> 28, "x366_embedding_centroid_shift" -> 10,
    "x367_neardup_transitivity" -> 3, "x368_boilerplate_edges" -> 21,
    "x369_int8_rank_stability" -> 8, "x370_dedup_keep_bias" -> 20,
    "x371_lang_source_mix" -> 99,
    "x372_lsh_bucket_skew" -> 4, "x373_dup_group_purity" -> 3,
    "x374_padding_waste" -> 20, "x375_bigram_entropy_rate" -> 20,
    "x376_quality_keeper_uplift" -> 20, "x377_chunk_boundary_loss" -> 20,
    "x378_embedding_norm_outliers" -> 10, "x379_shingle_size_sensitivity" -> 28,
    "x380_dedup_idempotence" -> 2, "x381_novelty_decay" -> 10,
    "x382_pq_code_balance" -> 8, "x383_epoch_plan" -> 20,
    "x384_key_partition_balance" -> 32, "x385_doc_freq_spectrum" -> 2,
    "x386_lsh_recall_audit" -> 3, "x387_top_pc_power" -> 64,
    "x388_template_strip_savings" -> 20, "x389_langid_confusion" -> 25,
    "x390_dup_position_profile" -> 10, "x391_dim_variance_profile" -> 64,
    "x392_ivf_recall_curve" -> 4, "x393_context_ladder" -> 4,
    "x394_ivf_list_balance" -> 8, "x395_code_switch_screen" -> 20)

  expectedRowsR17.foreach { case (name, n) =>
    test(s"$name returns $n rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, sf0001).count() == n)
    }
  }

  test("x372 bucket skew: 4 bands, pair load consistent with collisions") {
    val rows = SparkEntry.queries("x372_lsh_bucket_skew")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L), "the (4,4) banding has bands 0..3")
    rows.foreach { case (band, buckets, colliding, mx, pairs) =>
      assert(colliding <= buckets && mx >= 2 == (colliding > 0),
        s"band $band: colliding buckets need a >=2 max bucket")
      // every colliding bucket contributes >= 1 pair; a size-m bucket m(m-1)/2
      assert(pairs >= colliding && pairs <= mx * (mx - 1) / 2 * colliding,
        s"band $band: pair load $pairs out of range for ($colliding, $mx)")
    }
  }

  test("x373 purity: docs >= 2x groups, cross-source counts bounded") {
    SparkEntry.queries("x373_dup_group_purity")(spark, sf0001).collect().foreach { r =>
      val (groups, cs, cl, docs, dcs) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(docs >= 2 * groups, s"bucket ${r.getString(0)}: dup groups have >= 2 docs")
      assert(cs <= groups && cl <= groups && dcs <= docs)
    }
  }

  test("x374 padding waste: token balances are exact") {
    SparkEntry.queries("x374_padding_waste")(spark, sf0001).collect().foreach { r =>
      val (docs, toks, kept, pad, trunc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(kept + trunc == toks, s"${r.getString(0)}: kept+truncated must equal toks")
      assert(pad == docs * 512 - kept, s"${r.getString(0)}: pad balance")
      assert(r.getLong(6) <= 10000L && r.getLong(8) <= 10000L)
    }
  }

  test("x375 entropy rate: conditional entropy positive, bigram above unigram") {
    SparkEntry.queries("x375_bigram_entropy_rate")(spark, sf0001).collect().foreach { r =>
      assert(r.getDouble(3) > 0 && r.getDouble(4) > r.getDouble(3),
        s"${r.getString(0)}: H(bigram) must exceed H(unigram) on prose")
      assert(r.getDouble(5) > 0, s"${r.getString(0)}: conditional entropy positive")
    }
  }

  test("x376 keeper uplift: one keeper per group under BOTH policies, best >= first globally") {
    val rows = SparkEntry.queries("x376_quality_keeper_uplift")(spark, sf0001).collect()
    val (keptFirst, keptBest) = (rows.map(_.getLong(3)).sum, rows.map(_.getLong(4)).sum)
    assert(keptFirst == keptBest, "both policies keep exactly one doc per group")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"${r.getString(0)}: changed <= groups")
    }
    // per-group max quality >= first quality, so the global mean must not drop
    val qFirst = rows.map(r => r.getLong(5) * r.getLong(3)).sum
    val qBest = rows.map(r => r.getLong(6) * r.getLong(4)).sum
    assert(qBest >= qFirst - rows.length, // integer-division slack, < 1 unit per source
      s"keep-best cannot lower total kept quality: $qBest vs $qFirst")
  }

  test("x377 boundary loss: each boundary destroys 1..7 within-doc 8-grams") {
    SparkEntry.queries("x377_chunk_boundary_loss")(spark, sf0001).collect().foreach { r =>
      val (grams, bounds, destroyed, bp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(destroyed >= bounds && destroyed <= 7 * bounds,
        s"${r.getString(0)}: $destroyed outside [$bounds, ${7 * bounds}]")
      assert(bp == destroyed * 10000 / grams)
    }
  }

  test("x378 norm outliers: unit-ish norms on the 1e4 grid, outliers bounded") {
    SparkEntry.queries("x378_embedding_norm_outliers")(spark, sf0001).collect().foreach { r =>
      val (n, med, mad, out) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(med > 90000000L && med < 110000000L,
        s"label ${r.getLong(0)}: normalized embeddings have norm2 near 1e8 on the grid")
      assert(mad >= 0 && out <= n)
    }
  }

  test("x379 shingle sensitivity: wider shingles never raise MEAN similarity") {
    val rows = SparkEntry.queries("x379_shingle_size_sensitivity")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq(2, 3, 4).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) <= 10000))
    }
    val (m3, m5, m8) = (rows.map(_.getLong(2)).sum / rows.length,
      rows.map(_.getLong(3)).sum / rows.length, rows.map(_.getLong(4)).sum / rows.length)
    // row-wise monotonicity can flip on individual pairs (1 of 256 at
    // sf0.1); the MEAN over banded candidates is the stable claim
    assert(m3 >= m5 && m5 >= m8, s"mean jac must fall with width: $m3, $m5, $m8")
  }

  test("x380 idempotence: the second dedup pass is a fixpoint") {
    val rows = SparkEntry.queries("x380_dedup_idempotence")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(2L)._3 == 0L, s"pass 2 must find zero dups: ${rows(2L)}")
    assert(rows(1L)._2 == rows(2L)._1, "pass 2 operates on exactly pass 1's keepers")
  }

  test("x381 novelty decay: conservation and a sane cumulative tail") {
    val rows = SparkEntry.queries("x381_novelty_decay")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._2).sum == 500L, "deciles partition the corpus")
    rows.foreach(r => assert(r._3 <= r._2, s"novel <= docs in decile ${r._1}"))
    // the cumulative tail equals the corpus-level novelty share
    val keys = SparkEntry.queries("x380_dedup_idempotence")(spark, sf0001)
      .collect().find(_.getLong(0) == 1L).get.getLong(2)
    assert(rows.last._5 == keys * 10000 / 500,
      s"cum share tail must equal distinct-keys share: ${rows.last}")
  }

  test("x382 PQ balance: subspaces conserve points, codes partition into used+dead") {
    val rows = SparkEntry.queries("x382_pq_code_balance")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 7L).toSeq)
    rows.foreach { r =>
      assert(r.getLong(1) == 496L, "every subspace assigns all corpus points")
      assert(r.getLong(2) + r.getLong(3) == 4L, "used + dead = 4 codes")
      assert(r.getLong(5) >= 2500L, "the hottest code is at least the mean share")
    }
  }

  test("x383 epoch plan: cap semantics and effective <= served") {
    SparkEntry.queries("x383_epoch_plan")(spark, sf0001).collect().foreach { r =>
      val (toks, share, epochs, served, unmet, eff) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(epochs >= 1 && epochs <= 4)
      assert(served == math.min(share, toks * epochs))
      assert(unmet == 0 || epochs == 4, s"${r.getString(0)}: unmet budget only at the cap")
      assert(eff <= served && (served == 0 || eff > 0))
    }
  }

  test("x384 partition balance: buckets conserve docs") {
    val rows = SparkEntry.queries("x384_key_partition_balance")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sum == 500L)
    assert(rows.forall(r => r._1 >= 0 && r._1 < 32 && r._2 <= r._3))
  }

  test("x385 df spectrum: postings reconcile with the per-doc distinct explode") {
    val rows = SparkEntry.queries("x385_doc_freq_spectrum")(spark, sf0001).collect()
    val postings = rows.map(_.getLong(2)).sum
    import org.apache.spark.sql.functions._
    val want = Catalog.load(spark, sf0001, "documents")
      .select(explode(array_distinct(split(col("text"), " "))).as("t"))
      .count()
    assert(postings == want, s"bucket postings must sum to $want")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(4)))
  }

  test("x386 recall audit: near-identical pairs are all caught, bounds hold") {
    val rows = SparkEntry.queries("x386_lsh_recall_audit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.foreach { r =>
      assert(r._3 <= r._2 && r._4 <= 10000 && r._5 >= 0 && r._5 <= 10000)
    }
    val top = rows.find(_._1 == 9L).get
    assert(top._4 == 10000L, s"decile 9 must be fully caught: $top")
    // low-similarity mass must NOT be caught (that is the banding's point)
    val low = rows.find(_._1 == 0L).get
    assert(low._4 == 0L, s"decile 0 must be rejected: $low")
  }

  test("x387 power iteration: normalized direction, spectrum above the isotropic mean") {
    val rows = SparkEntry.queries("x387_top_pc_power")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (1L to 64L).toSeq)
    val mw = rows.map(r => math.abs(r._2)).max
    assert(mw >= 900L && mw <= 1100L,
      s"the division-only renormalization lands max-component near 1000: $mw")
    val (lambda, share) = (rows.head._3, rows.head._4)
    assert(rows.forall(r => r._3 == lambda && r._4 == share), "group columns repeat")
    // the top eigenvalue always sits above the isotropic mean trace/64
    assert(share > 10000L / 64, s"explained share $share must beat the isotropic mean")
  }

  test("x388 template strip: per-doc removal is at most both 8-token edges") {
    SparkEntry.queries("x388_template_strip_savings")(spark, sf0001).collect().foreach { r =>
      val (docs, stripped, removed) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(stripped <= docs && removed <= 16 * stripped,
        s"${r.getString(0)}: removal bounded by 16 tokens per stripped doc")
    }
  }

  test("x389 confusion matrix: conserves docs, diagonal equals x51's accuracy") {
    val m = SparkEntry.queries("x389_langid_confusion")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.values.sum == 500L)
    val x51 = SparkEntry.queries("x51_langid")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    x51.foreach { case (lang, correct) =>
      assert(m.getOrElse((lang, lang), 0L) == correct,
        s"$lang: diagonal must equal x51's correct count $correct")
    }
  }

  test("x390 position profile: all deciles present, duplication bounded") {
    val rows = SparkEntry.queries("x390_dup_position_profile")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0L to 9L).toSeq)
    rows.foreach(r => assert(r._3 <= r._2 && r._4 <= 10000))
  }

  test("x391 variance spectrum: shares sum to ~10000, ranks are a permutation") {
    val rows = SparkEntry.queries("x391_dim_variance_profile")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (1L to 64L).toSeq)
    val shareSum = rows.map(_._3).sum
    assert(shareSum > 10000L - 64 && shareSum <= 10000L,
      s"integer shares undershoot < 1 unit each: $shareSum")
    assert(rows.map(_._4).sorted.toSeq == (1L to 64L).toSeq, "ranks are a permutation")
  }

  test("x392 IVF recall curve: monotone in nProbe, full probe is exact by construction") {
    val rows = SparkEntry.queries("x392_ivf_recall_curve")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    assert(rows.forall(_._2 == 8L), "every nProbe row covers all 8 queries")
    // probing more lists can only add candidates — recall is monotone
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq,
      s"mean recall must be non-decreasing in nProbe: ${rows.toSeq}")
    assert(rows.last._3 == 10000L && rows.last._4 == 10L,
      "nProbe = nLists probes everything: recall 10000 bp by construction")
  }

  test("x393 context ladder: strictly tradeoff-shaped (monotone in the limit)") {
    val rows = SparkEntry.queries("x393_context_ladder")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(32L, 48L, 64L, 128L))
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-(_: Long)).toSeq,
      "docs_over must fall as the limit grows")
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-(_: Long)).toSeq,
      "trunc_toks must fall as the limit grows")
    // the corpus-fit ladder must carry signal, not all-zero rows
    assert(rows.head._2 > 0, "the smallest limit must actually bite")
  }

  test("x394 IVF balance: lists conserve the corpus, shares sum to ~10000") {
    val rows = SparkEntry.queries("x394_ivf_list_balance")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (8L to 15L).toSeq)
    assert(rows.map(_._2).sum == 484L, "500 vecs minus 8 queries minus 8 centers")
    val shares = rows.map(_._3).sum
    assert(shares > 10000L - 8 && shares <= 10000L)
  }

  test("x395 code-switch screen: conserves docs, rates in range") {
    val rows = SparkEntry.queries("x395_code_switch_screen")(spark, sf0001).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).sum == 500L)
    rows.foreach(r => assert(r._2 <= r._1 && r._3 <= 10000L))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
