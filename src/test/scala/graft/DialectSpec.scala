package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The DuckDB → Spark dialect translator and the single-source inventory
  * it feeds: each Spark text is derived from its oracle text unless the
  * entry keeps a hand-written override. */
class DialectSpec extends SparkSpec {
  import Dialect.toSpark
  import DialectSpec.Plan

  test("every function row renames a call, never a bare word of the same name") {
    Dialect.functions.foreach { case (duck, sparkName) =>
      assert(toSpark(s"SELECT $duck(x) AS $duck FROM t") == s"SELECT $sparkName(x) AS $duck FROM t")
      assert(toSpark(s"SELECT ${duck.toUpperCase}(x)") == s"SELECT $sparkName(x)") // any case
    }
  }

  test("VARCHAR is STRING in any case") {
    assert(toSpark("SELECT CAST(x AS VARCHAR), cast(y AS varchar)") ==
      "SELECT CAST(x AS STRING), cast(y AS STRING)")
  }

  test("// is div, spaced off its operands only where the text had no space") {
    assert(toSpark("a // b") == "a div b")
    assert(toSpark("(n-1)//4") == "(n-1) div 4")
  }

  test("postfix x[i] is element_at over the whole operand, a list literal is array(...)") {
    assert(toSpark("SELECT w[1], t.w[i+1], f(x)[2], m[1][2] FROM t") ==
      "SELECT element_at(w, 1), element_at(t.w, i+1), element_at(f(x), 2), " +
        "element_at(element_at(m, 1), 2) FROM t")
    assert(toSpark("string_split(s, ' ')[1]") == "element_at(split(s, ' '), 1)")
    assert(toSpark("SELECT [1, 2] AS l, f([a, b]), x IN [3]") ==
      "SELECT array(1, 2) AS l, f(array(a, b)), x IN array(3)")
    assert(toSpark("w[[1, 2][1]]") == "element_at(w, element_at(array(1, 2), 1))")
  }

  test("string literals, comments, slices and array types pass through") {
    val untouched = Seq(
      "SELECT 'w[1] // len(x) VARCHAR ''[2]''' AS s",
      "SELECT x -- len(x) [1]\nFROM t",
      "SELECT w[1:3], w[i:i+2]",
      "CAST(e AS DOUBLE[])")
    untouched.foreach(s => assert(toSpark(s) == s))
  }

  test("the texts both dialects shared before the translator come out unchanged") {
    // a table row that rewrote any of them would move a plan that needed
    // no translation
    val shared = """
      q01_count q02_project_filter q03_in_list q05_histogram q06_hourly_series q07_daily_matrix
      q08_distinct_users q09_multi_agg q10_topk_users q11_rollup q12_having_subquery
      q14_conditional_agg q15_inner_join q16_multiway_join q17_left_join q18_semi_join
      q19_anti_join q20_full_outer q21_cross_join q22_range_join q24_broadcast_join q25_ranking
      q27_moving_avg q28_running_total q29_ntile q30_first_last q32_sort_limit_offset q33_union
      q34_intersect q35_except q37_date_funcs q38_math_funcs q42_dedup_census q44_text_stats
      q46_correlated_scalar x60_cube x64_stats x65_editdist x68_grouping_sets x70_conditional
      x83_bool_agg x84_regression x87_window_lead x88_date_parts x90_lateral_topk
      x91_recursive_cte x92_unpivot x93_set_ops_all x98_trig_math x125_regression_agg
      x126_levenshtein x130_bit_aggs x138_funnel x139_event_runs x158_group_by_all x169_upsert
      x175_weighted_median x178_snapshot_diff x180_scd2_history x183_sequence_gaps
      x185_pit_join x186_k_anonymity x187_markov_transitions x188_mad_outliers
      x189_concentration x191_join_cardinality x195_share_of_parent x197_reconciliation
      x205_spearman x206_chi_square x207_ks_test x209_gini x210_welch_t x211_cramers_v
      x213_autocorr x214_cusum x215_bollinger x216_zscore_anomaly x219_rolling_median
      x220_trimmed_mean x221_haversine x228_growth_curve x229_bfs_hops x235_event_trigrams
      x237_entropy_diversity x238_lorenz x239_survivorship x240_label_prop3 x246_theil_decomp
      x247_changepoint x254_fifo_allocation x256_cuped x257_skyline x260_abc_xyz
      x264_fk_orphans x279_rank_movers x280_simpsons_check x286_sprt x290_theil_sen
      x291_mann_kendall x292_page_hinkley x294_error_budget_burn x295_zonemap_prune
      x298_split_leakage x300_drawdown x302_compaction_plan x306_power_analysis x308_bh_fdr
      x310_capture_recapture x311_churn_matrix x313_temporal_psi x314_cohort_ltv x317_runs_test
      x318_ljung_box x320_binary_segmentation x321_price_elasticity x322_active_days_dist
      x323_kendall_tau
      """.trim.split("\\s+").toSeq
    assert(shared.size == 118)
    val byName = Queries.all.map(q => q.name -> q).toMap
    shared.foreach { n =>
      val q = byName(n)
      assert(q.hand.isEmpty && q.spark == q.oracle, s"$n: derived text differs from its oracle text")
    }
  }

  test("generated Spark texts are pinned: a translator edit that moves one fails here") {
    // re-pin on purpose after checking the moved plans against the oracle
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val gen = Queries.all.filter(_.hand.isEmpty)
    gen.foreach { q =>
      md.update(q.name.getBytes("UTF-8")); md.update(0.toByte)
      md.update(q.spark.getBytes("UTF-8")); md.update(0.toByte)
    }
    val hex = md.digest().map("%02x".format(_)).mkString
    assert(gen.size == 249, s"${gen.size} derived entries")
    assert(hex == "f1c13943c88a250ef211e79e155b3a78990fbe43261b1dfa4eab226551cbfc57",
      s"generated Spark texts moved: $hex")
  }

  private def plan(sql: String): Plan = {
    val qe = spark.sql(sql).queryExecution
    val ids = scala.collection.mutable.Map.empty[String, Int]
    val analyzed = "#[0-9]+|CTERelation(?:Def|Ref) [0-9]+".r.replaceAllIn(
      qe.analyzed.canonicalized.treeString, m => "#" + ids.getOrElseUpdate(m.matched, ids.size))
    Plan(analyzed, qe.optimizedPlan.canonicalized, qe.analyzed.schema)
  }

  test("no dead override: every hand-kept Spark text has a reason and plans unlike its derived twin") {
    Catalog.ensure(spark, sf0001)
    val key = "spark.sql.debug.maxToStringFields"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "100000") // plan strings must not elide wide projections
    try {
      val overrides = Queries.all.filter(_.hand.nonEmpty)
      assert(overrides.size == 105)
      assert(overrides.forall(_.hand.get.why.matches("[^\n]+")), "every override says why in one line")
      val dead = overrides.filter { q =>
        scala.util.Try(plan(toSpark(q.oracle))).toOption.exists { twin =>
          val hand = plan(q.spark)
          twin.schema == hand.schema &&
            (twin.analyzed == hand.analyzed || twin.optimized == hand.optimized)
        }
      }
      assert(dead.isEmpty, s"overrides whose derived twin plans the same: ${dead.map(_.name)}")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object DialectSpec {
  /** Analyzed plan (expression and CTE ids renumbered), optimized plan and
    * output schema of one text. */
  final case class Plan(analyzed: String, optimized: LogicalPlan, schema: StructType)
}
